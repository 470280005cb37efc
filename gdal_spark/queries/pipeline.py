"""Training-data pipeline battery: dedup (exact / MinHash+LSH /
SimHash / n-gram Jaccard), similarity search (brute + LSH-bucketed),
text analysis, multimodal plumbing — each with a bit-exact DuckDB
oracle.

Hashing is md5-based in both engines; numeric folds use bounded
modular or scaled-integer arithmetic so results are order-independent
and engine-identical (see operators/similarity.py rationale).

The near-dup corpora plant deterministic duplicates (doc_id%10 text
copies; vec_id%25 precision-truncated vectors) since the synthetic
testdata has none.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import register, t
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import sketch as sk
from ..operators import text as tx

DIM = 64
DUP_OFFSET = 1_000_000

_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
"""

_SHINGLES_SQL = """
    docs3 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM docs3
    )
"""

_SIG_SQL = (
    "sig AS (SELECT doc_id, "
    + ", ".join(f"min(md5(shingle || '#{i}')) AS m{i}" for i in range(dd.N_MINHASH))
    + " FROM sh GROUP BY doc_id), "
    + "sigb AS (SELECT doc_id, "
    + ", ".join(f"md5(m{2*b} || m{2*b+1}) AS band{b}" for b in range(dd.N_BANDS))
    + " FROM sig)"
)

_BANDS_SQL = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id AS id, {b} AS bi, band{b} AS bv FROM sigb"
        for b in range(dd.N_BANDS)
    )
    + ")"
)


def _dup_corpus(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text")
    return docs.unionByName(dups)


# ------------------------------------------------------------ text analysis
@register(
    "text_metrics",
    sql="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           ROUND(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_tok_len,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                     tok -> tok IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio
    FROM documents
    ORDER BY doc_id
    """,
    desc="token/quality metrics — pure Column ops, zero Python in the scan path",
)
def text_metrics(spark, sf_dir):
    df = tx.quality_metrics(t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_uniq_tokens").cast("long").alias("n_uniq_tokens"),
        F.round("avg_tok_len", 6).alias("avg_tok_len"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
    ).orderBy("doc_id")


@register(
    "bpe_token_count",
    sql=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{tx.BPE_RE}', 1)) AS INT)
             AS n_bpe,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws
    FROM documents ORDER BY doc_id
    """,
    desc="BPE-ish token counting: GPT-2-style pretokenizer regex "
         "(letters/digits/punct runs) vs whitespace count — JVM "
         "regexp_extract_all, no Python",
)
def bpe_token_count(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.bpe_token_count_col(F.col("text")).alias("n_bpe"),
        F.size(F.split("text", " ")).alias("n_ws"),
    ).orderBy("doc_id")


_LANG_SCORES = ", ".join(
    f"""ROUND(CAST(len(list_filter(string_split(text, ' '),
        tok -> tok IN ({", ".join("'" + w + "'" for w in ws)}))) AS DOUBLE)
        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS score_{lang}"""
    for lang, ws in tx.LEXICONS.items()
)

@register(
    "lang_id",
    sql=f"""
    WITH s AS (SELECT doc_id, {_LANG_SCORES} FROM documents)
    SELECT doc_id, score_en, score_de, score_fr, score_es,
           CASE WHEN score_es > GREATEST(score_en, score_de, score_fr) THEN 'es'
                WHEN score_fr > GREATEST(score_en, score_de) THEN 'fr'
                WHEN score_de > score_en THEN 'de'
                ELSE 'en' END AS lang_pred
    FROM s ORDER BY doc_id
    """,
    desc="lexicon-hit language ID with deterministic argmax",
)
def lang_id(spark, sf_dir):
    df = tx.lang_scores(t(spark, sf_dir, "documents"))
    cols = ["doc_id"] + [
        F.round(f"score_{lang}", 6).alias(f"score_{lang}") for lang in tx.LEXICONS
    ] + ["lang_pred"]
    return df.select(*cols).orderBy("doc_id")


@register(
    "fingerprint",
    sql=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * {tx.FP_MUL} + b) % {tx.FP_MOD}) AS fp
    FROM documents
    ORDER BY doc_id
    """,
    desc="rolling polynomial document fingerprint — JVM aggregate() fold vs "
         "DuckDB list_reduce, identical modular arithmetic",
)
def fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.fingerprint_col(F.col("text")).alias("fp")
    ).orderBy("doc_id")


# ------------------------------------------------------------------- dedup
@register(
    "dedup_exact",
    sql=f"""
    WITH {_CORPUS_SQL}
    SELECT md5(text) AS text_md5, COUNT(*) AS n_copies, MIN(doc_id) AS min_id
    FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
    ORDER BY text_md5
    """,
    desc="exact dedup: hash-groupBy duplicate groups (map-side partials)",
)
def dedup_exact(spark, sf_dir):
    return dd.exact_dup_groups(_dup_corpus(spark, sf_dir)).orderBy("text_md5")


@register(
    "minhash_signature",
    sql=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    {_SHINGLES_SQL},
    {_SIG_SQL}
    SELECT doc_id, band0, band1, band2, band3 FROM sigb ORDER BY doc_id
    """,
    desc="MinHash signatures + LSH bands (string-min md5 = engine-identical)",
)
def minhash_signature(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3)
    sig = dd.minhash_signature(docs)
    return sig.select("doc_id", "band0", "band1", "band2", "band3").orderBy("doc_id")


@register(
    "minhash_pairs",
    sql=f"""
    WITH {_CORPUS_SQL},
    {_SHINGLES_SQL},
    {_SIG_SQL},
    {_BANDS_SQL}
    SELECT l.id AS id_a, r.id AS id_b, COUNT(DISTINCT l.bi) AS shared_bands
    FROM bands l JOIN bands r ON l.bi = r.bi AND l.bv = r.bv AND l.id < r.id
    GROUP BY l.id, r.id
    ORDER BY id_a, id_b
    """,
    desc="LSH band-bucket candidate pairs: equi-join on (band, value), "
         "never all-pairs — the 10^12-doc near-dup path",
)
def minhash_pairs(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir).filter(
        F.size(F.split("text", " ")) >= 3)
    return dd.minhash_band_pairs(corpus).orderBy("id_a", "id_b")


_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(dd.SIMHASH_BITS)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(dd.SIMHASH_BITS)
)

@register(
    "simhash",
    sql=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
    s AS (SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM s ORDER BY doc_id
    """,
    desc="60-bit SimHash fingerprint: explode + conditional sums, "
         "map-side combined",
)
def simhash(spark, sf_dir):
    return dd.simhash(t(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "ngram_jaccard",
    sql=f"""
    WITH {_CORPUS_SQL},
    {_SHINGLES_SQL},
    {_SIG_SQL},
    {_BANDS_SQL},
    cand AS (
      SELECT l.id AS id_a, r.id AS id_b
      FROM bands l JOIN bands r ON l.bi = r.bi AND l.bv = r.bv AND l.id < r.id
      GROUP BY l.id, r.id
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shd a ON a.doc_id = c.id_a
      JOIN shd b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    ORDER BY id_a, id_b
    """,
    desc="exact n-gram Jaccard on MinHash-band candidates only",
)
def ngram_jaccard(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir).filter(
        F.size(F.split("text", " ")) >= 3)
    return dd.jaccard_pairs(corpus).orderBy("id_a", "id_b")


# -------------------------------------------------------------- similarity
_SCALED_SQL = """
    sv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS v
      FROM embeddings
    )
"""

@register(
    "ann_topk",
    sql=f"""
    WITH {_SCALED_SQL},
    q AS (SELECT vec_id AS qid, v AS qv FROM sv WHERE vec_id % 100 = 0),
    d AS (
      SELECT q.qid, s.vec_id, CAST(SUM(q.qv[t.i] * s.v[t.i]) AS BIGINT) AS dot
      FROM q, sv s, generate_series(1, {DIM}) t(i)
      GROUP BY q.qid, s.vec_id
    ),
    r AS (
      SELECT qid, vec_id, dot,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rnk
      FROM d
    )
    SELECT qid, rnk, vec_id, dot FROM r WHERE rnk <= 10 ORDER BY qid, rnk
    """,
    desc="brute-force ANN baseline: scaled-integer dot products "
         "(exact, order-independent), broadcast query side",
)
def ann_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = sim.brute_topk(emb, qs, k=10)
    return out.select("qid", F.col("rnk").cast("long").alias("rnk"),
                      "vec_id", "dot").orderBy("qid", "rnk")


_PLANE_DOT = (
    "SUM(((xor((t.i - 1) * 73856093, u.j * 19349663) % 1000003)"
    " * 2654435761 % 1000 - 500) * s.v[t.i]) AS d"
)

# banded OR-of-ANDs bucket table: plane j -> band j//ppb, bit j%ppb
def _buck_sql(ppb: int, src: str = "sv") -> str:
    return f"""
    dots AS (
      SELECT s.vec_id, u.j, {_PLANE_DOT}
      FROM {src} s, generate_series(1, {DIM}) t(i),
           generate_series(0, {sim.N_PLANES - 1}) u(j)
      GROUP BY s.vec_id, u.j
    ),
    buck AS (
      SELECT vec_id, CAST(j // {ppb} AS INT) AS bk,
             CAST(SUM(CASE WHEN d > 0
                           THEN (1 << (j % {ppb}))
                           ELSE 0 END) AS INT) AS bv
      FROM dots GROUP BY vec_id, j // {ppb}
    )
"""

@register(
    "lsh_ann",
    sql=f"""
    WITH {_SCALED_SQL},
    {_buck_sql(sim.TOPK_PLANES_PER_BAND)},
    qb AS (SELECT vec_id AS qid, bk, bv FROM buck WHERE vec_id % 100 = 0),
    cand AS (
      SELECT DISTINCT q.qid, b.vec_id
      FROM qb q JOIN buck b ON b.bk = q.bk AND b.bv = q.bv
    ),
    d AS (
      SELECT c.qid, c.vec_id, CAST(SUM(q.v[t.i] * s.v[t.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN sv q ON q.vec_id = c.qid
      JOIN sv s ON s.vec_id = c.vec_id,
      generate_series(1, {DIM}) t(i)
      GROUP BY c.qid, c.vec_id
    ),
    r AS (
      SELECT qid, vec_id, dot,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rnk
      FROM d
    )
    SELECT qid, rnk, vec_id, dot FROM r WHERE rnk <= 3 ORDER BY qid, rnk
    """,
    desc="banded sign-LSH ANN: candidates share >=1 of 8 8-bit band "
         "buckets (OR-of-ANDs tuned for moderate-cosine recall), "
         "deterministic integer hyperplanes — the scale path next to "
         "brute force",
)
def lsh_ann(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = sim.lsh_topk(emb, qs, dim=DIM, k=3)
    return out.select("qid", F.col("rnk").cast("long").alias("rnk"), "vec_id",
                      "dot").orderBy("qid", "rnk")


IVF_STRIDE = 50
IVF_NPROBE = 2

@register(
    "ivf_ann",
    sql=f"""
    WITH {_SCALED_SQL},
    cent AS (SELECT vec_id AS cid, v AS cv FROM sv WHERE vec_id % {IVF_STRIDE} = 0),
    cd AS (
      SELECT s.vec_id, c.cid,
             CAST(SUM((s.v[t.i] - c.cv[t.i]) * (s.v[t.i] - c.cv[t.i])) AS BIGINT) AS d2
      FROM sv s, cent c, generate_series(1, {DIM}) t(i)
      GROUP BY s.vec_id, c.cid
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM cd) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS qid, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM cd WHERE vec_id % 100 = 0) WHERE rn <= {IVF_NPROBE}
    ),
    d AS (
      SELECT p.qid, s.vec_id, a.cid,
             CAST(SUM(q.v[t.i] * s.v[t.i]) AS BIGINT) AS dot
      FROM probes p
      JOIN asg a ON a.cid = p.cid
      JOIN sv s ON s.vec_id = a.vec_id
      JOIN sv q ON q.vec_id = p.qid,
      generate_series(1, {DIM}) t(i)
      GROUP BY p.qid, s.vec_id, a.cid
    ),
    r AS (
      SELECT qid, vec_id, cid, dot,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rnk
      FROM d
    )
    SELECT qid, rnk, vec_id, cid, dot FROM r WHERE rnk <= 3 ORDER BY qid, rnk
    """,
    desc="inverted-file ANN: deterministic coarse centroids, corpus "
         "sharded by nearest centroid, queries probe nprobe=2 lists — "
         "the IVF scale path next to the LSH sign-bucket one",
)
def ivf_ann(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = sim.ivf_topk(emb, qs, dim=DIM, k=3, nprobe=IVF_NPROBE,
                       centroid_stride=IVF_STRIDE)
    return out.select("qid", F.col("rnk").cast("long").alias("rnk"),
                      "vec_id", "cid", "dot").orderBy("qid", "rnk")


@register(
    "cosine_neardup",
    sql=f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100 + 0.5) AS DOUBLE) / 100.0)
             AS embedding
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    sv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS v
      FROM base
    ),
    {_buck_sql(sim.PLANES_PER_BAND)},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buck a JOIN buck b ON a.bk = b.bk AND a.bv = b.bv
                              AND a.vec_id < b.vec_id
    ),
    n AS (
      SELECT s.vec_id, SUM(s.v[t.i] * s.v[t.i]) AS norm2
      FROM sv s, generate_series(1, {DIM}) t(i)
      GROUP BY s.vec_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b, SUM(a.v[t.i] * b.v[t.i]) AS dot,
             na.norm2 AS na, nb.norm2 AS nb
      FROM cand c
      JOIN sv a ON a.vec_id = c.id_a
      JOIN sv b ON b.vec_id = c.id_b
      JOIN n na ON na.vec_id = c.id_a
      JOIN n nb ON nb.vec_id = c.id_b,
      generate_series(1, {DIM}) t(i)
      GROUP BY c.id_a, c.id_b, na.norm2, nb.norm2
    )
    SELECT id_a, id_b,
           ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na * nb AS DOUBLE)), 6) AS cos
    FROM pairs
    WHERE CAST(dot AS DOUBLE) / SQRT(CAST(na * nb AS DOUBLE)) > 0.999
    ORDER BY id_a, id_b
    """,
    desc="embedding-cosine near-dup pairs with planted truncated copies: "
         "banded 4x16-bit sign-LSH prefilter (65536 buckets/band, salted "
         "hot buckets, never all-pairs), then exact scaled-int cosine — "
         "single sqrt/divide keeps engines identical",
)
def cosine_neardup(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 100 + 0.5).cast("double") / 100.0,
        ).alias("embedding"),
    )
    base = emb.select("vec_id", "embedding").unionByName(planted)
    return sim.cosine_neardup_pairs(base, dim=DIM, threshold=0.999).orderBy(
        "id_a", "id_b")


# -------------------------------------------------------------- multimodal
# Per-kind oracle CTEs, each restating from its fixture builder's
# generating formula the decode_media_real row (doc_id, kind, rate,
# n_samples, duration_ms, rms, peak, width, height, mean_r/g/b) of
# every document matching {where}: wavf, bmpf, pngf, jpegf.
_WAV_SQL = """
    wav AS (
      SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE {where}
    ),
    wavs AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM wav
    ),
    wavf AS (
      SELECT doc_id, 'wav' AS kind,
             CAST(8000 AS INT) AS rate,
             CAST(MAX(n) AS INT) AS n_samples,
             CAST(MAX(n) * 1000 // 8000 AS INT) AS duration_ms,
             SQRT(SUM(CAST(s * s AS DOUBLE)) / MAX(n)) AS rms,
             CAST(MAX(ABS(s)) AS INT) AS peak,
             CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
             0.0 AS mean_r, 0.0 AS mean_g, 0.0 AS mean_b
      FROM (SELECT doc_id, n, (doc_id * 31 + i * 17) % 2048 - 1024 AS s
            FROM wavs)
      GROUP BY doc_id
    )"""

_NO_AUDIO = """CAST(0 AS INT) AS rate, CAST(0 AS INT) AS n_samples,
             CAST(0 AS INT) AS duration_ms, 0.0 AS rms, CAST(0 AS INT) AS peak"""

_BMP_SQL = """
    bmp AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
      FROM documents WHERE {where}
    ),
    brow AS (
      SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS r FROM bmp
    ),
    bcells AS (
      SELECT doc_id, w, h, r, unnest(generate_series(0, w - 1)) AS c FROM brow
    ),
    bmpf AS (
      SELECT doc_id, 'bmp' AS kind, """ + _NO_AUDIO + """,
             CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
             SUM(CAST((doc_id * 7 + r * 13 + c * 3) % 256 AS DOUBLE))
               / (MAX(w) * MAX(h)) AS mean_r,
             SUM(CAST((doc_id * 7 + r * 13 + c * 3 + 11) % 256 AS DOUBLE))
               / (MAX(w) * MAX(h)) AS mean_g,
             SUM(CAST((doc_id * 7 + r * 13 + c * 3 + 22) % 256 AS DOUBLE))
               / (MAX(w) * MAX(h)) AS mean_b
      FROM bcells GROUP BY doc_id
    )"""

_PNG_SQL = """
    png AS (
      SELECT doc_id, 5 + doc_id % 8 AS w, 5 + doc_id % 6 AS h,
             doc_id % 3 AS k
      FROM documents WHERE {where}
    ),
    prow AS (
      SELECT doc_id, w, h, k, unnest(generate_series(0, h - 1)) AS r FROM png
    ),
    pcells AS (
      SELECT doc_id, w, h, k, r, unnest(generate_series(0, w - 1)) AS c
      FROM prow
    ),
    pngf AS (
      SELECT doc_id, 'png' AS kind, """ + _NO_AUDIO + """,
             CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
             SUM(CAST((doc_id * 7 + r * 13 + c * 3) % 256 AS DOUBLE))
               / (MAX(w) * MAX(h)) AS mean_r,
             SUM(CAST((doc_id * 7 + r * 13 + c * 3
                       + CASE WHEN k = 0 THEN 0 ELSE 11 END) % 256
                      AS DOUBLE)) / (MAX(w) * MAX(h)) AS mean_g,
             SUM(CAST((doc_id * 7 + r * 13 + c * 3
                       + CASE WHEN k = 0 THEN 0 ELSE 22 END) % 256
                      AS DOUBLE)) / (MAX(w) * MAX(h)) AS mean_b
      FROM pcells GROUP BY doc_id, k
    )"""

_JPEG_SQL = """
    jpg AS (
      SELECT doc_id, 9 + doc_id % 16 AS w, 9 + doc_id % 12 AS h
      FROM documents WHERE {where}
    ),
    jrow AS (
      SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS r FROM jpg
    ),
    jcells AS (
      SELECT doc_id, w, h, r, unnest(generate_series(0, w - 1)) AS c
      FROM jrow
    ),
    jpx AS (
      SELECT doc_id, w, h,
             CAST((doc_id * 7 + (r // 8) * 13 + (c // 8) * 3) % 256
                  AS DOUBLE) AS v
      FROM jcells
    ),
    jpegf AS (
      SELECT doc_id, 'jpeg' AS kind, """ + _NO_AUDIO + """,
             CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
             SUM(v) / (MAX(w) * MAX(h)) AS mean_r,
             SUM(v) / (MAX(w) * MAX(h)) AS mean_g,
             SUM(v) / (MAX(w) * MAX(h)) AS mean_b
      FROM jpx GROUP BY doc_id
    )"""

_IMAGE_COLS = "doc_id, kind, width, height, mean_r, mean_g, mean_b"


@register(
    "media_features",
    sql=f"""
    WITH {_WAV_SQL.format(where="doc_id % 4 = 0")},
    {_BMP_SQL.format(where="doc_id % 4 = 1")},
    {_PNG_SQL.format(where="doc_id % 4 = 2")},
    {_JPEG_SQL.format(where="doc_id % 4 = 3")}
    SELECT * FROM wavf UNION ALL SELECT * FROM bmpf
    UNION ALL SELECT * FROM pngf UNION ALL SELECT * FROM jpegf
    ORDER BY doc_id
    """,
    desc="mixed-media decode: WAV / BMP / PNG / JPEG payloads chosen by "
         "doc_id % 4 go through one decode_media_real pass, each kind to "
         "its batch kernel; the oracle restates every feature from the "
         "four generating formulas",
)
def media_features(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    kind = F.col("doc_id") % 4
    media = (mm.synth_media_col_rows(docs.filter(kind < 2))
             .unionByName(mm.synth_png_col_rows(docs.filter(kind == 2)))
             .unionByName(mm.synth_jpeg_col_rows(docs.filter(kind == 3))))
    return mm.decode_media_real(media).orderBy("doc_id")


@register(
    "media_decode",
    sql=f"""
    WITH {_WAV_SQL.format(where="doc_id % 2 = 0")},
    {_BMP_SQL.format(where="doc_id % 2 = 1")}
    SELECT * FROM wavf UNION ALL SELECT * FROM bmpf ORDER BY doc_id
    """,
    desc="REAL media decode (no stub): deterministic canonical-PCM WAV / "
         "24-bit BMP blobs are encoded from doc_id formulas, decoded by the "
         "stdlib struct+numpy codecs (kernels/media.py), features extracted "
         "in one Arrow pass; the oracle re-derives every feature from the "
         "generating formula — any mangled byte in encode or decode breaks "
         "the hash",
)
def media_decode(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_media_col_rows(docs)
    return mm.decode_media_real(media).orderBy("doc_id")


@register(
    "media_decode_png",
    sql=f"""
    WITH {_PNG_SQL.format(where="TRUE")}
    SELECT {_IMAGE_COLS} FROM pngf ORDER BY doc_id
    """,
    desc="REAL PNG decode, codec written from the public PNG 1.2 spec "
         "(kernels/media.py: stdlib zlib inflate + all 5 scanline filters, "
         "gray/RGB/RGBA cycled by doc_id, filter type cycled per row) — "
         "the oracle re-derives every feature from the generating pixel "
         "formula, so one wrong unfiltered byte anywhere breaks the hash",
)
def media_decode_png(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_png_col_rows(docs)
    return (mm.decode_media_real(media)
            .select("doc_id", "kind", "width", "height",
                    "mean_r", "mean_g", "mean_b")
            .orderBy("doc_id"))


@register(
    "media_decode_jpeg",
    sql=f"""
    WITH {_JPEG_SQL.format(where="TRUE")}
    SELECT {_IMAGE_COLS} FROM jpegf ORDER BY doc_id
    """,
    desc="REAL baseline JPEG decode, codec written from ITU-T T.81 "
         "(kernels/media.py: markers, canonical Huffman, zigzag+quant, "
         "8x8 DCT, RSTn restarts cycled by doc_id).  Fixtures are "
         "aligned-block-constant with unit quantization tables, so the "
         "lossy pipeline is numerically EXACT and the oracle re-derives "
         "every pixel from the generating block formula — one wrong bit "
         "anywhere in the entropy stream breaks the hash",
)
def media_decode_jpeg(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_jpeg_col_rows(docs)
    return (mm.decode_media_real(media)
            .select("doc_id", "kind", "width", "height",
                    "mean_r", "mean_g", "mean_b")
            .orderBy("doc_id"))


# AVI frame sampling oracle: every {stride}-th frame of each document's
# synth_avi_col_rows video, restated from its generating pixel formula
_AVI_SQL = """
    WITH d AS (
      SELECT doc_id, 6 + doc_id % 8 AS w, 5 + doc_id % 6 AS h,
             4 + doc_id % 9 AS nf, 10 + doc_id % 10 AS rate
      FROM documents
    ),
    fr AS (
      SELECT doc_id, w, h, rate,
             unnest(generate_series(0, nf - 1, {stride})) AS f
      FROM d
    ),
    rws AS (
      SELECT doc_id, w, h, rate, f,
             unnest(generate_series(0, h - 1)) AS r
      FROM fr
    ),
    cells AS (
      SELECT doc_id, w, h, rate, f, r,
             unnest(generate_series(0, w - 1)) AS c
      FROM rws
    ),
    px AS (
      SELECT doc_id, w, h, rate, f,
             CAST((doc_id*7 + f*19 + r*13 + c*3) % 256 AS DOUBLE) AS v0,
             CAST((doc_id*7 + f*19 + r*13 + c*3 + 11) % 256 AS DOUBLE) AS v1,
             CAST((doc_id*7 + f*19 + r*13 + c*3 + 22) % 256 AS DOUBLE) AS v2
      FROM cells
    )
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(f * 1000 // MAX(rate) AS BIGINT) AS ts_ms,
           CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           SUM(v0) / (MAX(w) * MAX(h)) AS mean_r,
           SUM(v1) / (MAX(w) * MAX(h)) AS mean_g,
           SUM(v2) / (MAX(w) * MAX(h)) AS mean_b
    FROM px GROUP BY doc_id, f ORDER BY doc_id, f
    """


@register(
    "media_decode_avi",
    sql=_AVI_SQL.format(stride=2),
    desc="REAL video decode + frame sampling: deterministic uncompressed "
         "DIB AVIs (RIFF container written from the public AVI layout, "
         "kernels/media.py) with per-doc frame counts/dims/rates are "
         "decoded by the stdlib RIFF walk, every 2nd frame sampled with "
         "its rate-derived timestamp and per-frame channel means; the "
         "oracle re-derives every sampled frame's features from the "
         "generating pixel formula — a wrong byte in any frame chunk, "
         "header field, or row padding breaks the hash",
)
def media_decode_avi(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_avi_col_rows(docs)
    return mm.frame_sample_real(media, stride=2).orderBy(
        "doc_id", "frame_idx")


@register(
    "media_meta_mp4",
    sql="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'mp42' ELSE 'isom' END AS brand,
           CAST(157 * (1 + doc_id % 40) * 1000 // 600 AS BIGINT)
             AS duration_ms,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END AS INT)
             AS n_tracks,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 0
                     ELSE 320 + (doc_id % 64) * 2 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 0
                     ELSE 180 + (doc_id % 36) * 2 END AS INT) AS height,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 0
                     ELSE 24 * (1 + doc_id % 5) END AS INT) AS n_samples_v,
           CAST(100 + doc_id % 50 AS INT) AS n_samples_a
    FROM documents ORDER BY doc_id
    """,
    desc="REAL ISO BMFF (MP4) metadata: minimal valid containers (ftyp/"
         "moov/mvhd/trak/tkhd/hdlr/stbl/stsz boxes, public ISO 14496-12 "
         "layout) are synthesized from doc_id formulas — every 4th doc "
         "audio-only — and parsed back by the stdlib box walk "
         "(kernels/media.py::decode_mp4_meta); the oracle re-derives "
         "brand, floor-divided duration, track count, fixed-point video "
         "dims, and per-track sample counts from the same formulas; "
         "codec sample decode stays honestly stubbed",
)
def media_meta_mp4(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_mp4_col_rows(docs)
    return mm.mp4_meta(media).orderBy("doc_id")


@register(
    "frame_sample",
    sql=_AVI_SQL.format(stride=3),
    desc="video frame sampling: every 3rd frame of the synthesized "
         "uncompressed-DIB AVIs through frame_sample_real (one RIFF walk "
         "per payload), with its rate-derived timestamp and channel means",
)
def frame_sample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return mm.frame_sample_real(mm.synth_avi_col_rows(docs), stride=3).orderBy(
        "doc_id", "frame_idx")


_KM_ITER = """
    d{n} AS (
      SELECT p.vec_id, c.cid, SUM((p.val - c.val) * (p.val - c.val)) AS d2
      FROM pos p JOIN cent{m} c ON p.pos = c.pos
      GROUP BY p.vec_id, c.cid
    ),
    a{n} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM d{n}) WHERE rn = 1
    ),
    u{n} AS (
      SELECT a.cid, p.pos,
             CAST(FLOOR(CAST(SUM(p.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS val
      FROM a{n} a JOIN pos p USING (vec_id)
      GROUP BY a.cid, p.pos
    ),
    cent{n} AS (
      SELECT * FROM u{n}
      UNION ALL
      SELECT c.* FROM cent{m} c
      WHERE c.cid NOT IN (SELECT DISTINCT cid FROM u{n})
    )"""


@register(
    "kmeans_centroids",
    sql=f"""
    WITH {_SCALED_SQL},
    pos AS (
      SELECT vec_id, t.i - 1 AS pos, v[t.i] AS val
      FROM sv, generate_series(1, {DIM}) t(i)
    ),
    seed AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id
      FROM (SELECT vec_id FROM sv ORDER BY vec_id LIMIT 4)
    ),
    cent0 AS (
      SELECT s.cid, p.pos, p.val FROM seed s JOIN pos p USING (vec_id)
    ),{_KM_ITER.format(n=1, m=0)},{_KM_ITER.format(n=2, m=1)}
    SELECT cid, pos, val FROM cent2 ORDER BY cid, pos
    """,
    desc="distributed Lloyd's k-means (IVF centroid source): broadcast-"
         "literal centroids, zero-shuffle Column argmin (least over "
         "(d2,cid) structs), posexplode partial-agg update, floor(sum/n) "
         "integer coordinates; oracle = the same two iterations unrolled "
         "in relational SQL (k=4, seeds = 4 lowest vec_ids)",
)
def kmeans_centroids_q(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    out = sim.kmeans_centroids(emb, DIM, k=4, iters=2)
    return (out.select(F.col("cid").cast("long").alias("cid"),
                       F.col("pos").cast("long").alias("pos"), "val")
            .orderBy("cid", "pos"))


@register(
    "dedup_clusters",
    sql=f"""
    WITH RECURSIVE {_CORPUS_SQL},
    {_SHINGLES_SQL},
    {_SIG_SQL},
    {_BANDS_SQL},
    cand AS (
      SELECT l.id AS id_a, r.id AS id_b
      FROM bands l JOIN bands r ON l.bi = r.bi AND l.bv = r.bv AND l.id < r.id
      GROUP BY l.id, r.id
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shd a ON a.doc_id = c.id_a
      JOIN shd b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    ),
    jac AS (
      SELECT i.id_a, i.id_b,
             ROUND(CAST(n_inter AS DOUBLE)
                   / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS j
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
    ),
    e AS (
      SELECT id_a AS a, id_b AS b FROM jac WHERE j >= 0.5
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM jac WHERE j >= 0.5
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM docs3
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN e ON e.a = r.dst
    )
    SELECT src AS doc_id, MIN(dst) AS cluster, MIN(dst) = src AS keep
    FROM reach GROUP BY src ORDER BY doc_id
    """,
    desc="near-dup clustering + canonical selection: Jaccard-verified "
         "LSH candidate pairs as edges, connected components (driver "
         "union-find / distributed min-propagation w/ pointer jumping), "
         "keep = lowest doc_id per cluster; oracle = recursive-CTE "
         "transitive closure over the identical edge set",
)
def dedup_clusters(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir).filter(
        F.size(F.split("text", " ")) >= 3)
    return dd.neardup_clusters(corpus, threshold=0.5).orderBy("doc_id")


# ------------------------------------------------------- sampling / scoring
@register(
    "stratified_sample",
    sql="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents) WHERE rn <= 5 ORDER BY doc_id
    """,
    desc="deterministic stratified sampling: exactly min(k,|stratum|) "
         "rows per (lang, source) by md5(id) rank — reproducible across "
         "partitionings/engines, one shuffle on the stratum key",
)
def stratified_sample_q(spark, sf_dir):
    from ..operators.sampling import stratified_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return (stratified_sample(docs, ["lang", "source"], 5)
            .orderBy("doc_id"))


@register(
    "simhash_pairs",
    sql=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
          FROM tok),
    s AS (SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM s),
    bands AS (
      SELECT doc_id, b.i AS bi,
             (simhash >> (b.i * {dd.SIMHASH_BAND_BITS})) & {dd.SIMHASH_BAND_MASK} AS bv
      FROM fp, generate_series(0, 3) b(i)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r ON l.bi = r.bi AND l.bv = r.bv
                               AND l.doc_id < r.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN fp a ON a.doc_id = c.id_a
    JOIN fp b ON b.doc_id = c.id_b
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """,
    desc="SimHash near-dup pairs: 4x15-bit banded hamming join (exact "
         "recall at distance <= 3 by pigeonhole), salted buckets, "
         "bit_count(xor) verify — never all-pairs",
)
def simhash_pairs_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return dd.simhash_pairs(docs, max_hamming=3).orderBy("id_a", "id_b")


@register(
    "bm25_topk",
    sql="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    dft AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_tokens FROM dl),
    sc AS (
      SELECT t.doc_id, t.term,
             ROUND(ln(1.0 + (CAST(n_docs AS DOUBLE) - dft + 0.5)
                            / (dft + 0.5))
                   * (t.tf * (1.2 + 1.0))
                   / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl
                      / (CAST(tot_tokens AS DOUBLE)
                         / CAST(n_docs AS DOUBLE)))), 6) AS score
      FROM tf t JOIN dl d USING (doc_id) JOIN dft USING (term)
      CROSS JOIN tot
    ),
    r AS (SELECT doc_id, term, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rnk
          FROM sc)
    SELECT doc_id, rnk, term, score FROM r WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    desc="per-doc top-3 BM25 terms (Okapi +1-idf): tf/df/avgdl from two "
         "map-side-partial aggregations, tiny global agg broadcast back; "
         "integer inputs make the float score engine-reproducible",
)
def bm25_topk_q(spark, sf_dir):
    from ..operators.text import bm25_topk

    docs = t(spark, sf_dir, "documents")
    return bm25_topk(docs, k=3).orderBy("doc_id", "rnk")


@register(
    "repetition_metrics",
    sql="""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks
               FROM documents),
    base AS (
      SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_dis,
             length(text) AS n_chars, toks
      FROM d
    ),
    bg AS (
      SELECT doc_id, n_tok, n_dis, n_chars,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM base
    ),
    bgc AS (
      SELECT doc_id, n_tok, n_dis, n_chars, bigram, COUNT(*) AS bcnt
      FROM bg GROUP BY ALL
    ),
    top AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY bcnt DESC, bigram ASC) AS rn
      FROM bgc
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(n_dis AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)
             AS dup_tok_frac,
           bigram AS top_bigram,
           ROUND(CAST(bcnt AS DOUBLE) * CAST(length(bigram) AS DOUBLE)
                 / CAST(n_chars AS DOUBLE), 6) AS top_bigram_frac
    FROM top WHERE rn = 1 ORDER BY doc_id
    """,
    desc="Gopher-style repetition signals: duplicate-token fraction + "
         "top word-2gram character mass; one exploded groupBy with "
         "map-side partials",
)
def repetition_metrics_q(spark, sf_dir):
    from ..operators.text import repetition_metrics

    docs = t(spark, sf_dir, "documents")
    return repetition_metrics(docs).orderBy("doc_id")


# ------------------------------------------------ paragraph-level dedup
_PARAS_SQL = """
    tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
    paras AS (
      SELECT doc_id, i.i AS pidx,
             array_to_string(list_slice(toks, i.i * 8 + 1, i.i * 8 + 8),
                             ' ') AS para
      FROM tk, LATERAL (SELECT unnest(generate_series(0,
             CAST(CEIL(len(toks) / 8.0) AS INT) - 1)) AS i) i
    )
"""


@register(
    "paragraph_dedup",
    sql=f"""
    WITH {_CORPUS_SQL}, {_PARAS_SQL},
    own AS (
      SELECT md5(para) AS dig, MIN(doc_id * 100000 + pidx) AS own
      FROM paras GROUP BY 1
    ),
    flagged AS (
      SELECT p.doc_id, p.pidx, p.para,
             (p.doc_id * 100000 + p.pidx = o.own) AS keep
      FROM paras p JOIN own o ON md5(p.para) = o.dig
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN keep THEN para END, ' | '
                               ORDER BY pidx), '') AS clean_text,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    desc="C4/CCNet corpus-wide paragraph dedup: md5 digest -> groupBy "
         "MIN((doc,pidx)) canonical owner (map-side partials, no hot-key "
         "window sort), digest equi-join back, order-preserving "
         "reassembly — boilerplate paragraphs collapse before the "
         "shuffle at 10^12 docs",
)
def paragraph_dedup_q(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    paras = corpus.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " ")))
        .alias("pidx", "para"))
    kept = dd.paragraph_dedup(paras)
    out = dd.reassemble_paragraphs(kept, sep=" | ")
    return out.select("doc_id", "clean_text", "n_paras",
                      "n_kept").orderBy("doc_id")


# ------------------------------------------------ benchmark decontamination
@register(
    "contamination",
    sql=f"""
    WITH {_CORPUS_SQL},
    tkc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
            WHERE len(string_split(text, ' ')) >= 5),
    gc AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, i.i, i.i + 4), ' '))
               AS dig
      FROM tkc, LATERAL (SELECT unnest(generate_series(1, len(toks) - 4))
                         AS i) i
    ),
    tkb AS (SELECT string_split(text, ' ') AS toks FROM documents
            WHERE doc_id % 101 = 0
              AND len(string_split(text, ' ')) >= 5),
    gb AS (
      SELECT DISTINCT
             md5(array_to_string(list_slice(toks, i.i, i.i + 4), ' '))
               AS dig
      FROM tkb, LATERAL (SELECT unnest(generate_series(1, len(toks) - 4))
                         AS i) i
    )
    SELECT doc_id, COUNT(*) AS n_hits,
           COUNT(DISTINCT dig) AS n_distinct_grams
    FROM gc JOIN gb USING (dig)
    GROUP BY doc_id ORDER BY doc_id
    """,
    desc="GPT-3/Llama eval-set decontamination: benchmark 5-gram "
         "digests (small by definition) BROADCAST; the corpus explodes "
         "n-grams JVM-side and probes the broadcast table — zero "
         "corpus shuffle before the per-doc count",
)
def contamination_q(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir)
    bench = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 101 == 0).select("doc_id", "text")
    return dd.contamination(corpus, bench, n=5).orderBy("doc_id")


# ------------------------------------------------ charlm perplexity scoring
@register(
    "charlm_perplexity",
    sql=f"""
    WITH {_CORPUS_SQL},
    tg AS (
      SELECT substr(text, i.i, 2) AS gram
      FROM documents, LATERAL (SELECT unnest(generate_series(1,
             len(text) - 1)) AS i) i
      WHERE len(text) >= 2
    ),
    c2 AS (SELECT gram, COUNT(*) AS n2 FROM tg GROUP BY 1),
    c1 AS (SELECT substr(gram, 1, 1) AS ctx, COUNT(*) AS n1
           FROM tg GROUP BY 1),
    vv AS (SELECT COUNT(*) AS v FROM c1),
    sg AS (
      SELECT doc_id, substr(text, i.i, 2) AS gram
      FROM corpus, LATERAL (SELECT unnest(generate_series(1,
             len(text) - 1)) AS i) i
      WHERE len(text) >= 2
    ),
    scored AS (
      SELECT sg.doc_id,
             CAST(FLOOR(ln((COALESCE(c2.n2, 0) + 1.0)
                           / (COALESCE(c1.n1, 0) + vv.v)) * 1e6 + 0.5)
                  AS BIGINT) AS s
      FROM sg
      LEFT JOIN c2 USING (gram)
      LEFT JOIN c1 ON substr(sg.gram, 1, 1) = c1.ctx
      CROSS JOIN vv
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(-CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1e6, 6) AS avg_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    desc="CCNet-style LM quality scoring with a char-bigram stand-in "
         "for KenLM: model tables bounded by charset^2 so they "
         "BROADCAST; per-gram log terms integer-scaled before the sum "
         "(order-independent float discipline); avg NLL per doc",
)
def charlm_perplexity_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    model = tx.charlm_train(docs)
    return tx.charlm_score(_dup_corpus(spark, sf_dir), model) \
        .orderBy("doc_id")


# ------------------------------------------------------------ PII scrub
_EM = tx.PII_PATTERNS["email"]
_PH = tx.PII_PATTERNS["phone"]
_IP = tx.PII_PATTERNS["ip"]


@register(
    "pii_scrub",
    sql=f"""
    WITH pii AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                THEN ' u' || CAST(doc_id AS VARCHAR) || '@ex.org'
                ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                THEN ' 321-654-0987' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                THEN ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EM}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(text, '{_PH}')) AS BIGINT)
             AS n_phone,
           CAST(len(regexp_extract_all(text, '{_IP}')) AS BIGINT)
             AS n_ip,
           regexp_replace(regexp_replace(regexp_replace(
             text, '{_EM}', '<EMAIL>', 'g'),
             '{_PH}', '<PHONE>', 'g'),
             '{_IP}', '<IP>', 'g') AS redacted
    FROM pii ORDER BY doc_id
    """,
    desc="PII tagging + redaction (anonymization stage, CCNet/Dolma "
         "tagger role): RE2/Java-compatible patterns, map-only "
         "codegen stage, zero shuffle; counts + <CLASS> redaction "
         "over deterministically planted emails/phones/IPs",
)
def pii_scrub_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" u"),
                            F.col("doc_id").cast("string"),
                            F.lit("@ex.org"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" 321-654-0987")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.concat(F.lit(" 10.0."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit(".7"))).otherwise(F.lit("")),
        ).alias("text"))
    return tx.pii_scrub(planted).orderBy("doc_id")


# ------------------------------------------------------------ DSIR
_DSIR_K = tx.DSIR_BUCKETS
_DSIR_A = tx.DSIR_ALPHA
_DSIR_KEEP = 100

_DSIR_GRAMS = """
    toks AS (SELECT doc_id, lang, string_split(text, ' ') AS a
             FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(a) AS g FROM toks
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(
               generate_series(1, len(a) - 1),
               i -> a[i] || ' ' || a[i + 1])) AS g
      FROM toks WHERE len(a) >= 2
    ),
    bg AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % {K} AS bucket
      FROM grams
    )
""".format(K=_DSIR_K)


@register(
    "dsir_select",
    sql=f"""
    WITH {_DSIR_GRAMS},
    tc AS (SELECT bucket, COUNT(*) AS ct FROM bg WHERE lang = 'en'
           GROUP BY bucket),
    rc AS (SELECT bucket, COUNT(*) AS cr FROM bg GROUP BY bucket),
    tot AS (
      SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc)
               + {_DSIR_A!r}::DOUBLE * {_DSIR_K} AS nt,
             (SELECT COALESCE(SUM(cr), 0) FROM rc)
               + {_DSIR_A!r}::DOUBLE * {_DSIR_K} AS nr
    ),
    ratio AS (
      SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
             (COALESCE(ln(CAST(ct AS DOUBLE) + {_DSIR_A!r}::DOUBLE)
                       - ln(nt), ln({_DSIR_A!r}::DOUBLE) - ln(nt)))
             - (COALESCE(ln(CAST(cr AS DOUBLE) + {_DSIR_A!r}::DOUBLE)
                         - ln(nr), ln({_DSIR_A!r}::DOUBLE) - ln(nr)))
               AS lw
      FROM tc FULL JOIN rc ON tc.bucket = rc.bucket, tot
    ),
    w AS (
      SELECT bg.doc_id, ROUND(SUM(lw), 6) AS dsir_w
      FROM bg JOIN ratio ON bg.bucket = ratio.bucket
      GROUP BY bg.doc_id
    )
    SELECT doc_id, dsir_w, rank FROM (
      SELECT doc_id, dsir_w,
             ROW_NUMBER() OVER (ORDER BY dsir_w DESC, doc_id) AS rank
      FROM w)
    WHERE rank <= {_DSIR_KEEP} ORDER BY rank
    """,
    desc="DSIR importance resampling (Xie et al. 2023): hashed "
         "unigram+bigram bucket models target(lang=en) vs raw, "
         "log-likelihood-ratio weights, deterministic top-k "
         "selection on the rounded weight",
)
def dsir_select_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.filter(F.col("lang") == "en")
    return tx.dsir_select(docs, target, keep=_DSIR_KEEP).orderBy("rank")


# ------------------------------------------------------------ URL filter
_URL_SQL = """
      SELECT doc_id,
             'https://' ||
             CASE WHEN doc_id % 13 = 0 THEN 'www.bigcasino.com'
                  WHEN doc_id % 17 = 0 THEN 'bit.ly'
                  WHEN doc_id % 11 = 0 THEN 'evil.example.org'
                  ELSE source || '.example.org' END
             || '/p/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
"""


@register(
    "url_filter",
    sql=f"""
    WITH u AS ({_URL_SQL}),
    h AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)) AS host
      FROM u
    ),
    bl(bhost) AS (VALUES ('evil.example.org'), ('blocked.test')),
    j AS (
      SELECT h.doc_id, h.host,
             CASE WHEN bl.bhost IS NOT NULL THEN 'blocklist'
                  WHEN regexp_matches(host, '(porn|xxx|adult)')
                    THEN 'adult'
                  WHEN regexp_matches(host, '(casino|bet|poker)')
                    THEN 'gambling'
                  WHEN regexp_matches(host, '^(bit\\.ly|t\\.co|goo\\.gl)$')
                    THEN 'shortener'
             END AS block_reason
      FROM h LEFT JOIN bl ON h.host = bl.bhost
    )
    SELECT doc_id, host, block_reason FROM j ORDER BY doc_id
    """,
    desc="URL/domain filtering (CCNet/Dolma URL-tagger role): host "
         "extraction, broadcast blocklist join, category regexes in "
         "fixed precedence — map-only corpus pass",
)
def url_filter_q(spark, sf_dir):
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 13 == 0, F.lit("www.bigcasino.com"))
        .when(d % 17 == 0, F.lit("bit.ly"))
        .when(d % 11 == 0, F.lit("evil.example.org"))
        .otherwise(F.concat(F.col("source"), F.lit(".example.org"))),
        F.lit("/p/"), d.cast("string"))
    docs = t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    bl = spark.createDataFrame(
        [("evil.example.org",), ("blocked.test",)], "host string")
    return tx.url_filter(docs, bl).orderBy("doc_id")


# ------------------------------------------ exact substring dedup
_SSD_WIN = tx.SUBSTR_WIN
_SSD_STEP = tx.SUBSTR_STEP
_SSD_SLOGAN = ("this exact sentence is shared across many documents "
               "of the corpus verbatim")

_SSD_CORPUS = f"""
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
                  THEN text || ' ' || '{_SSD_SLOGAN}'
                  ELSE text END AS text
      FROM documents
"""


@register(
    "substring_dedup",
    sql=f"""
    WITH c AS ({_SSD_CORPUS}),
    w AS (
      SELECT doc_id, unnest(generate_series(0, len(text) - {_SSD_WIN},
                                            {_SSD_STEP})) AS off, text
      FROM c WHERE len(text) >= {_SSD_WIN}
    ),
    d AS (
      SELECT doc_id, off,
             md5(substr(text, off + 1, {_SSD_WIN})) AS dig
      FROM w
    ),
    fr AS (
      SELECT dig, COUNT(*) AS n_docs FROM (
        SELECT DISTINCT doc_id, dig FROM d) GROUP BY dig
      HAVING COUNT(*) >= 2
    ),
    dup AS (
      SELECT d.doc_id, COUNT(*) AS n_dup_windows
      FROM d JOIN fr ON d.dig = fr.dig GROUP BY d.doc_id
    ),
    base AS (
      SELECT doc_id,
             CASE WHEN len(text) >= {_SSD_WIN}
                  THEN CAST(FLOOR((len(text) - {_SSD_WIN})
                                  / {_SSD_STEP}) AS BIGINT) + 1
                  ELSE 0 END AS n_windows,
             len(text) AS l FROM c
    )
    SELECT base.doc_id, n_windows,
           COALESCE(n_dup_windows, 0) AS n_dup_windows,
           ROUND(CASE WHEN l > 0 THEN
             LEAST(1.0, CAST(COALESCE(n_dup_windows, 0) AS DOUBLE)
                        * {_SSD_STEP} / CAST(l AS DOUBLE))
             ELSE 0.0 END, 6) AS dup_frac
    FROM base LEFT JOIN dup ON base.doc_id = dup.doc_id
    ORDER BY base.doc_id
    """,
    desc="exact-substring window dedup (Lee et al. 2022 suffix-array "
         "role at fixed granularity): 40-char windows at stride 20, "
         "md5 digests, cross-document frequency, per-doc dup stats",
)
def substring_dedup_q(spark, sf_dir):
    d = F.col("doc_id")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 9 == 0,
               F.concat(F.col("text"), F.lit(" " + _SSD_SLOGAN)))
        .otherwise(F.col("text")).alias("text"))
    return tx.substring_dup_stats(docs).orderBy("doc_id")


# ------------------------------------------------- Gopher rule battery
# The corpus is single-line word soup, so bullet / ellipsis / symbol
# structure is PLANTED deterministically (the pii_scrub idiom) to
# exercise every rule in both engines.
_GOPHER_AUG_SQL = """
    aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 4 = 0
                THEN '. - alpha beta. * gamma delta' ELSE '' END
             || CASE WHEN doc_id % 6 = 0
                THEN '. trailing thought...' ELSE '' END
             || CASE WHEN doc_id % 9 = 0 THEN ' ###' ELSE '' END AS text
      FROM documents
    )"""

_GOPHER_STOP = "('the','a','of','and','to','in','is','it')"


def _gopher_aug(docs):
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(". - alpha beta. * gamma delta")).otherwise(""),
            F.when(F.col("doc_id") % 6 == 0,
                   F.lit(". trailing thought...")).otherwise(""),
            F.when(F.col("doc_id") % 9 == 0,
                   F.lit(" ###")).otherwise(""),
        ).alias("text"))


@register(
    "gopher_rules",
    sql=f"""
    WITH {_GOPHER_AUG_SQL},
    sig AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             ROUND(CAST(length(text) - len(string_split(text, ' ')) + 1
                        AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS avg_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', ''))
                         AS DOUBLE)
                    + (length(text)
                       - length(replace(text, '...', ''))) / 3)
                   / len(string_split(text, ' ')), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(string_split_regex(text, '\\. '),
                       ln -> substr(ln, 1, 2) IN ('- ', '* '))) AS DOUBLE)
                   / len(string_split_regex(text, '\\. ')), 6)
               AS bullet_frac,
             ROUND(CAST(len(list_filter(string_split_regex(text, '\\. '),
                       ln -> ends_with(ln, '...'))) AS DOUBLE)
                   / len(string_split_regex(text, '\\. ')), 6)
               AS ellipsis_frac,
             ROUND(CAST(len(list_filter(string_split(text, ' '),
                       w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS alpha_word_frac,
             len(list_filter(string_split(text, ' '),
                 w -> w IN {_GOPHER_STOP})) AS stop_hits
      FROM aug
    )
    SELECT *,
           n_words BETWEEN 5 AND 1000
           AND avg_word_len BETWEEN 3.0 AND 10.0
           AND symbol_ratio <= 0.1
           AND bullet_frac <= 0.9
           AND ellipsis_frac <= 0.3
           AND alpha_word_frac >= 0.8
           AND stop_hits >= 2 AS keep
    FROM sig ORDER BY doc_id
    """,
    desc="Gopher quality-rule battery (Rae et al. 2021 Table A1): "
         "word-count / mean-word-length bounds, symbol ratio, bullet "
         "and ellipsis line fractions, alpha-word fraction, stop-word "
         "hits — all pure Column (map-only, zero shuffle); structure "
         "planted deterministically in both engines",
)
def gopher_rules_q(spark, sf_dir):
    docs = _gopher_aug(t(spark, sf_dir, "documents"))
    out = tx.gopher_rules(docs)
    return out.select(
        "doc_id", "n_words", "avg_word_len", "symbol_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_word_frac",
        "stop_hits", "keep").orderBy("doc_id")


# --------------------------------- hashing-trick linear quality model
@register(
    "quality_classifier",
    sql=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           list_sum(list_transform(string_split(text, ' '), tok ->
             ('0x' || substr(md5('qw:' || CAST(
                ('0x' || substr(md5('qc:' || tok), 1, 15))::BIGINT
                % {tx.QC_BUCKETS} AS VARCHAR)), 1, 15))::BIGINT
             % {2 * tx.QC_WEIGHT_SPAN + 1} - {tx.QC_WEIGHT_SPAN}))::BIGINT
           + {tx.QC_BIAS} * len(string_split(text, ' ')) AS logit_num,
           CAST(FLOOR(CAST(list_sum(list_transform(string_split(text, ' '),
             tok ->
             ('0x' || substr(md5('qw:' || CAST(
                ('0x' || substr(md5('qc:' || tok), 1, 15))::BIGINT
                % {tx.QC_BUCKETS} AS VARCHAR)), 1, 15))::BIGINT
             % {2 * tx.QC_WEIGHT_SPAN + 1} - {tx.QC_WEIGHT_SPAN}))
             + {tx.QC_BIAS} * len(string_split(text, ' ')) AS DOUBLE)
             * 1000000.0
             / (CAST(len(string_split(text, ' ')) AS DOUBLE)
                * {float(tx.QC_WEIGHT_SPAN)}) + 0.5) AS BIGINT)
             AS score_u,
           list_sum(list_transform(string_split(text, ' '), tok ->
             ('0x' || substr(md5('qw:' || CAST(
                ('0x' || substr(md5('qc:' || tok), 1, 15))::BIGINT
                % {tx.QC_BUCKETS} AS VARCHAR)), 1, 15))::BIGINT
             % {2 * tx.QC_WEIGHT_SPAN + 1} - {tx.QC_WEIGHT_SPAN}))
           + {tx.QC_BIAS} * len(string_split(text, ' ')) > 0 AS keep
    FROM documents ORDER BY doc_id
    """,
    desc="fastText-style hashing-trick linear quality scorer (CCNet/"
         "RedPajama model-filter role): md5 bucket -> md5 integer "
         "weight, logit = one aggregate() fold over the token array — "
         "zero shuffle, exact int64 into a scaled-integer micro-score "
         "(floor(x*1e6+0.5): round(x,6) ties at exact decimal halves "
         "split Spark HALF_UP vs DuckDB binary rounding — sf0.1 find)",
)
def quality_classifier_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return tx.quality_classifier(docs).orderBy("doc_id")


# --------------------------------------------- vocabulary + OOV rate
_VOCAB_SIZE = 40


@register(
    "vocab_oov",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    vocab AS (SELECT term FROM counts
              ORDER BY n DESC, term ASC LIMIT {_VOCAB_SIZE})
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
    desc="vocabulary induction + per-doc OOV rate: word count with "
         "map-side partials, distributed TakeOrdered top-k vocab "
         "(count desc, term asc), broadcast left join back — the "
         "tokenizer-training / coverage-audit step",
)
def vocab_oov_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    vocab = tx.build_vocab(docs, _VOCAB_SIZE)
    return tx.oov_stats(docs, vocab).orderBy("doc_id")


# ------------------------------------------------------------ sketches
@register(
    "hll_distinct",
    sql=f"""
    WITH h AS (
      SELECT source,
             ('0x' || substr(md5('hll:' || text), 1, 15))::BIGINT AS hv,
             text
      FROM documents
    ),
    regs AS (
      SELECT source, hv % {1 << sk.HLL_P} AS bucket,
             MAX(CASE WHEN (hv >> {sk.HLL_P}) = 0
                 THEN {sk.HLL_REG_BITS + 1}
                 ELSE instr(lpad(bin(hv >> {sk.HLL_P}),
                                 {sk.HLL_REG_BITS}, '0'), '1') END)
               AS max_rho
      FROM h GROUP BY source, bucket
    ),
    agg AS (
      SELECT source,
             SUM(1::BIGINT << ({sk.HLL_REG_BITS + 1} - max_rho))
               AS denom_scaled,
             COUNT(*) AS n_present
      FROM regs GROUP BY source
    ),
    est AS (
      SELECT source,
             {1 << sk.HLL_P} - n_present AS zeros,
             CAST({sk.HLL_ALPHA_64 * (1 << sk.HLL_P) ** 2} AS DOUBLE)
             / (CAST(denom_scaled AS DOUBLE)
                / {float(1 << (sk.HLL_REG_BITS + 1))}
                + CAST({1 << sk.HLL_P} - n_present AS DOUBLE)) AS raw
      FROM agg
    ),
    ex AS (SELECT source, COUNT(DISTINCT text) AS exact_distinct
           FROM documents GROUP BY source)
    SELECT e.source,
           ROUND(CASE WHEN raw <= {2.5 * (1 << sk.HLL_P)} AND zeros > 0
                 THEN {1 << sk.HLL_P}
                      * ln({float(1 << sk.HLL_P)} / zeros)
                 ELSE raw END, 2) AS hll_estimate,
           zeros AS empty_buckets,
           ex.exact_distinct
    FROM est e JOIN ex ON ex.source = e.source
    ORDER BY e.source
    """,
    desc="HyperLogLog distinct-count per source (Flajolet et al. "
         "2007): md5-derived engine-reproducible hash (unlike the "
         "JVM-private builtin HLL++), fixed 2^P register table via "
         "one map-side-MAX groupBy, linear-counting small-range "
         "branch; exact distinct joined alongside for audit",
)
def hll_distinct_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    est = sk.hll_estimate(docs, "text", ["source"])
    exact = docs.groupBy("source").agg(
        F.count_distinct("text").alias("exact_distinct"))
    return est.join(exact, "source").orderBy("source")


@register(
    "cm_topk",
    sql=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS v FROM documents
    ),
    pr AS (
      SELECT v, r.r AS row,
             (('0x' || substr(md5('cm:' || v), 1, 15))::BIGINT
              + r.r * ('0x' || substr(md5('cm2:' || v), 1, 15))::BIGINT)
             % {sk.CM_WIDTH} AS bucket
      FROM toks, (SELECT unnest(generate_series(0,
                  {sk.CM_DEPTH - 1})) AS r) r
    ),
    sketch AS (
      SELECT row, bucket, COUNT(*) AS cnt
      FROM pr GROUP BY row, bucket
    ),
    terms AS (SELECT DISTINCT v AS term FROM toks),
    probes AS (
      SELECT term, r.r AS row,
             (('0x' || substr(md5('cm:' || term), 1, 15))::BIGINT
              + r.r * ('0x' || substr(md5('cm2:' || term), 1, 15))::BIGINT)
             % {sk.CM_WIDTH} AS bucket
      FROM terms, (SELECT unnest(generate_series(0,
                   {sk.CM_DEPTH - 1})) AS r) r
    ),
    est AS (
      SELECT term, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
      FROM probes p LEFT JOIN sketch s USING (row, bucket)
      GROUP BY term
    )
    SELECT term, est FROM est ORDER BY est DESC, term ASC LIMIT 20
    """,
    desc="Count-Min heavy hitters (Cormode & Muthukrishnan 2005): "
         "D*W-counter sketch built in one map-side-combined groupBy, "
         "point queries via broadcast join + row-wise MIN; top-20 "
         "terms by estimated frequency",
)
def cm_topk_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    stream = docs.select(F.explode(tx.tokens_col(F.col("text"))).alias("v"))
    sketch = sk.cm_sketch(stream, "v")
    terms = stream.distinct().select(F.col("v").alias("term"))
    est = sk.cm_estimate(terms, sketch)
    return est.orderBy(F.col("est").desc(), F.col("term").asc()).limit(20)


# ------------------------------------------------- sequence packing
_SEQ_LEN = 128
_PACK_BUCKET = 64


@register(
    "pack_sequences",
    sql=f"""
    WITH nt AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    off AS (
      SELECT doc_id, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS o
      FROM nt
    ),
    ex AS (
      SELECT doc_id, n, o,
             unnest(generate_series(o // {_SEQ_LEN},
                                    (o + n - 1) // {_SEQ_LEN})) AS seq_id
      FROM off WHERE n > 0
    )
    SELECT doc_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(GREATEST(seq_id * {_SEQ_LEN} - o, 0) AS BIGINT)
             AS doc_tok_start,
           CAST(LEAST((seq_id + 1) * {_SEQ_LEN}, o + n) - o AS BIGINT)
             AS doc_tok_end,
           CAST(GREATEST(o, seq_id * {_SEQ_LEN}) - seq_id * {_SEQ_LEN}
                AS BIGINT) AS seq_tok_start,
           CAST(LEAST((seq_id + 1) * {_SEQ_LEN}, o + n)
                - GREATEST(o, seq_id * {_SEQ_LEN}) AS BIGINT) AS n_toks
    FROM ex ORDER BY doc_id, seq_id
    """,
    desc="concat-then-chunk sequence packing (GPT pre-training shard "
         "layout): global token offsets via a TWO-LEVEL parallel "
         "prefix sum (per-bucket partials + bounded within-bucket "
         "windows — no global sort at 10^12 docs), boundary-"
         "straddling docs split across sequences; all-int64 DIV math",
)
def pack_sequences_q(spark, sf_dir):
    from ..operators import packing as pk
    docs = t(spark, sf_dir, "documents")
    out = pk.pack_sequences(docs, _SEQ_LEN, bucket_size=_PACK_BUCKET)
    return out.orderBy("doc_id", "seq_id")


# ------------------------------------------------------------ SemDeDup
_SD_TAU_N = 921600           # (1000 * 0.96)^2
_SD_TAU_D = 1000000

_KM_ASSIGN_FINAL = """
    d3 AS (
      SELECT p.vec_id, c.cid, SUM((p.val - c.val) * (p.val - c.val)) AS d2
      FROM pos p JOIN cent2 c ON p.pos = c.pos
      GROUP BY p.vec_id, c.cid
    ),
    a3 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM d3) WHERE rn = 1
    )"""


# exact-duplicate rows are PLANTED (vec_id + 100000 copies of every
# 20th vector) in both engines so the drop path is exercised, not
# just the all-kept case.
@register(
    "semdedup",
    sql=lambda: f"""
    WITH {_SCALED_SQL},
    svp AS (
      SELECT vec_id, v FROM sv
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, v FROM sv WHERE vec_id % 20 = 0
    ),
    pos AS (
      SELECT vec_id, t.i - 1 AS pos, v[t.i] AS val
      FROM svp, generate_series(1, {DIM}) t(i)
    ),
    seed AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id
      FROM (SELECT vec_id FROM svp ORDER BY vec_id LIMIT 4)
    ),
    cent0 AS (
      SELECT s.cid, p.pos, p.val FROM seed s JOIN pos p USING (vec_id)
    ),{_KM_ITER.format(n=1, m=0)},{_KM_ITER.format(n=2, m=1)},
    {_KM_ASSIGN_FINAL},
    n2 AS (
      SELECT vec_id, CAST(SUM(val * val) AS BIGINT) AS n2
      FROM pos GROUP BY vec_id
    ),
    {_buck_sql(sim.SEMDEDUP_PLANES_PER_BAND, src="svp")},
    bc AS (
      SELECT b.vec_id, a.cid, b.bk, b.bv
      FROM buck b JOIN a3 a USING (vec_id)
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
      FROM bc x JOIN bc y ON x.cid = y.cid AND x.bk = y.bk
                          AND x.bv = y.bv AND x.vec_id < y.vec_id
    ),
    pdots AS (
      SELECT c.ia, c.ib, CAST(SUM(pa.val * pb.val) AS BIGINT) AS dot
      FROM cand c
      JOIN pos pa ON pa.vec_id = c.ia
      JOIN pos pb ON pb.vec_id = c.ib AND pb.pos = pa.pos
      GROUP BY c.ia, c.ib
    ),
    dup AS (
      SELECT DISTINCT d.ib AS vec_id
      FROM pdots d
      JOIN n2 na ON na.vec_id = d.ia
      JOIN n2 nb ON nb.vec_id = d.ib
      WHERE d.dot > 0
        AND CAST(d.dot AS DOUBLE) * d.dot * {_SD_TAU_D}
            >= {float(_SD_TAU_N)} * na.n2 * nb.n2
    )
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
           dup.vec_id IS NULL AS keep
    FROM a3 a LEFT JOIN dup ON dup.vec_id = a.vec_id
    ORDER BY a.vec_id
    """,
    desc="SemDeDup (Abbas et al. 2023): k-means clusters + banded "
         "sign-LSH WITHIN cluster bound the pair space — candidates "
         "share (cid, band, bucket), salted, never sum(cluster^2); "
         "exact integer Lloyd's centroids, zero-shuffle argmin "
         "assignment, "
         "drop iff a lower-id band-colliding cluster-mate has "
         "cos >= 0.96 via the "
         "sqrt-free dot^2*TD >= TN*na*nb integer-derived comparison",
)
def semdedup_q(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    return sim.semdedup(emb.unionByName(planted), DIM, k=4, iters=2,
                        tau=0.96).orderBy("vec_id")


# ---------------------------------------------------------------- BPE train
_BPE_K = 12


def _bpe_oracle(k: int = _BPE_K) -> str:
    """Unrolled K-round SQL re-derivation of BPE training: pair
    extraction by list indexing, count DESC / pair ASC tie-break,
    boundary-anchored greedy list_reduce fold — independent of
    operators/bpe.py."""
    ctes = ["""w0 AS MATERIALIZED (
      SELECT word, array_to_string(string_split(word, ''), chr(31)) AS s,
             freq
      FROM (
        SELECT word, COUNT(*) AS freq FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          FROM documents
        ) GROUP BY word
      )
    )"""]
    for r in range(k):
        ctes.append(f"""p{r} AS MATERIALIZED (
          SELECT l[i] || chr(31) || l[i+1] AS pair, freq
          FROM (
            SELECT string_split(s, chr(31)) AS l, freq,
                   unnest(generate_series(1,
                       len(string_split(s, chr(31))) - 1)) AS i
            FROM w{r}
          )
        )""")
        ctes.append(f"""b{r} AS MATERIALIZED (
          SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM p{r} GROUP BY pair
          ORDER BY cnt DESC, pair ASC LIMIT 1
        )""")
        # Boundary-anchored greedy merge (Sennrich BPE): fuse only
        # where the accumulator's LAST TOKEN equals lhs — a substring
        # replace would also match lhs as a token suffix (th|e -> the).
        # DuckDB lambdas cannot contain subqueries; cross-join the
        # single-row b{r} so lhs/rhs are captured as plain columns.
        ctes.append(f"""w{r + 1} AS MATERIALIZED (
          SELECT word,
                 list_reduce(string_split(s, chr(31)), (acc, x) -> CASE
                   WHEN (acc = m.lhs
                         OR ends_with(acc, chr(31) || m.lhs))
                        AND x = m.rhs
                   THEN acc || x
                   ELSE acc || chr(31) || x END) AS s,
                 freq
          FROM w{r}, (SELECT string_split(pair, chr(31))[1] AS lhs,
                             string_split(pair, chr(31))[2] AS rhs
                      FROM b{r}) m
        )""")
    rounds = " UNION ALL ".join(
        f"SELECT {r} AS rank, string_split(pair, chr(31))[1] AS lhs,"
        f" string_split(pair, chr(31))[2] AS rhs, cnt FROM b{r}"
        for r in range(k))
    return (f"WITH {', '.join(ctes)}"
            f" SELECT * FROM ({rounds}) ORDER BY rank")


@register(
    "bpe_train",
    sql=_bpe_oracle,
    desc="distributed BPE tokenizer training (Sennrich 2016): corpus "
         "collapsed once to a distinct-word freq table, each merge round "
         "= one map-side-combinable pair aggregation + top-1 collect "
         "(bounded driver, kmeans pattern); merges applied as JVM "
         "boundary-anchored greedy fold (Sennrich BPE). Oracle re-derives "
         "all 12 "
         "rounds as unrolled SQL",
)
def bpe_train_q(spark, sf_dir):
    from ..operators import bpe

    docs = t(spark, sf_dir, "documents").select("text")
    merges = bpe.bpe_train(docs, num_merges=_BPE_K)
    rows = [(r, lf, rt, cnt) for r, (lf, rt, cnt) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, lhs string, rhs string, cnt bigint")


# -------------------------------------------------------------- Bloom filter
def _bf_pos_sql(expr: str) -> list[str]:
    return [f"(('0x' || substr(md5('bf{i}:' || {expr}), 1, 15))::BIGINT)"
            f" % 4096" for i in range(4)]


@register(
    "bloom_filter",
    sql=f"""
    WITH vals AS (
      SELECT CAST(doc_id AS VARCHAR) AS v FROM documents WHERE doc_id % 7 = 0
    ),
    bits AS (
      SELECT DISTINCT bit FROM (
        SELECT unnest([{', '.join(_bf_pos_sql('v'))}]) AS bit FROM vals)
    ),
    probes AS (
      SELECT CAST(doc_id AS VARCHAR) AS v,
             unnest([{', '.join(_bf_pos_sql('CAST(doc_id AS VARCHAR)'))}])
               AS bit
      FROM documents
    )
    SELECT p.v AS value,
           bool_and(b.bit IS NOT NULL) AS maybe_present
    FROM probes p LEFT JOIN bits b USING (bit)
    GROUP BY p.v ORDER BY p.v
    """,
    desc="Bloom filter (Bloom 1970) alongside HLL/Count-Min: build = "
         "map-only k-hash explode + O(m)-bounded distinct (set union = "
         "Bloom OR, mergeable across any partitioning); probe = "
         "broadcast join, all-k-bits rule; same md5 hash family "
         "re-derived in the SQL oracle",
)
def bloom_filter_q(spark, sf_dir):
    members = (t(spark, sf_dir, "documents")
               .filter(F.col("doc_id") % 7 == 0)
               .select(F.col("doc_id").cast("string").alias("v")))
    probes = (t(spark, sf_dir, "documents")
              .select(F.col("doc_id").cast("string").alias("v")))
    bits = sk.bloom_bits(members, "v")
    out = sk.bloom_contains(probes, bits, "v")
    return (out.select(F.col("v").alias("value"), "maybe_present")
            .orderBy("value"))


# --------------------------------------------------------------- winnowing
@register(
    "winnow_fingerprints",
    sql=f"""
    WITH grams AS (
      SELECT doc_id, i.pos AS pos,
             ('0x' || substr(md5(substr(text, i.pos, {tx.WINNOW_K})),
                             1, 10))::BIGINT AS h
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1,
                GREATEST(length(text) - {tx.WINNOW_K - 1}, 0))) AS pos) i
    ),
    keyed AS (
      SELECT doc_id, pos,
             h * {tx._WN_POSB} + ({tx._WN_POSB - 1} - pos) AS key
      FROM grams
    ),
    winmin AS (
      SELECT doc_id,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND
                            {tx.WINNOW_W - 1} FOLLOWING) AS mk,
             COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND
                            {tx.WINNOW_W - 1} FOLLOWING) AS cnt
      FROM keyed
    )
    SELECT DISTINCT doc_id,
           {tx._WN_POSB - 1} - (mk % {tx._WN_POSB}) AS pos,
           mk // {tx._WN_POSB} AS h
    FROM winmin WHERE cnt = {tx.WINNOW_W}
    ORDER BY doc_id, pos, h
    """,
    desc="winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 MOSS): "
         "k-gram md5 hashes, windowed min with rightmost-tie rule folded "
         "into one integer key, distinct — one window function per doc "
         "partition; oracle restates the whole selection in SQL windows",
)
def winnow_fingerprints_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    out = tx.winnow_fingerprints(docs)
    return out.orderBy("doc_id", "pos", "h")


def _bpe_encode_oracle(k: int = _BPE_K) -> str:
    """The SAME unrolled rounds as _bpe_oracle, but the result is the
    final tokenization of every distinct word (the ENCODE path):
    w_k's sep-joined strings ARE the greedy BPE tokenizations."""
    base = _bpe_oracle(k)
    head = base[:base.rindex(" SELECT * FROM (")]
    return (head
            + f" SELECT word, replace(s, chr(31), '|') AS toks,"
              f" len(string_split(s, chr(31))) AS n_tokens, freq"
              f" FROM w{k} ORDER BY word")


@register(
    "bpe_encode",
    sql=_bpe_encode_oracle,
    desc="BPE encode path: trained merges applied to every distinct "
         "word as a pure-Column boundary-anchored greedy fold chain; "
         "oracle = the unrolled training SQL's "
         "final word states, so train AND apply are verified end-to-end",
)
def bpe_encode_q(spark, sf_dir):
    from ..operators import bpe

    docs = t(spark, sf_dir, "documents").select("text")
    merges = bpe.bpe_train(docs, num_merges=_BPE_K)
    wf = bpe.word_freqs(docs)
    toks = bpe.bpe_tokens_col("word", merges)
    return wf.select(
        "word",
        F.array_join(toks, "|").alias("toks"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.col("freq"),
    ).orderBy("word")


# ------------------------------------------ Cavnar-Trenkle language ID
@register(
    "ngram_lang_id",
    sql=f"""
    WITH grams AS (
      SELECT doc_id, lang, substr(lower(text), i.p, {tx.CT_N}) AS g
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1,
               GREATEST(length(text) - {tx.CT_N - 1}, 0))) AS p) i
    ),
    pcnt AS (
      SELECT lang, g, COUNT(*) AS c FROM grams GROUP BY lang, g
    ),
    prof AS (
      SELECT lang, g, pr FROM (
        SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY c DESC, g ASC) AS pr
        FROM pcnt) WHERE pr <= {tx.CT_K}
    ),
    dcnt AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    ),
    dr AS (
      SELECT doc_id, g, dr FROM (
        SELECT doc_id, g, ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY c DESC, g ASC) AS dr
        FROM dcnt) WHERE dr <= {tx.CT_K}
    ),
    dist AS (
      SELECT d.doc_id, l.lang,
             CAST(SUM(COALESCE(ABS(d.dr - p.pr), {tx.CT_K})) AS BIGINT)
               AS dist
      FROM dr d
      CROSS JOIN (SELECT DISTINCT lang FROM documents) l
      LEFT JOIN prof p ON p.lang = l.lang AND p.g = d.g
      GROUP BY d.doc_id, l.lang
    )
    SELECT doc_id, lang AS lang_pred, dist FROM (
      SELECT doc_id, lang, dist,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY dist ASC, lang ASC) AS rn
      FROM dist) WHERE rn = 1
    ORDER BY doc_id
    """,
    desc="Cavnar-Trenkle 1994 n-gram language ID: per-lang top-40 "
         "char-3gram rank profiles (broadcastable), rank-order distance "
         "with out-of-profile penalty, argmin language; oracle restates "
         "training AND classification in SQL windows",
)
def ngram_lang_id_q(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    prof = tx.ngram_lang_profiles(docs)
    out = tx.ngram_lang_id(docs, prof)
    return out.orderBy("doc_id")
