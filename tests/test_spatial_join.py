"""Spatial join vs brute-force oracle + span-sequence invariant."""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.kernels import pip as kpip
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.operators.spatial_join import (extract_geo_points, spatial_join,
                                               spatial_join_s2)
from gdal_spark.sources import fixtures as fx

N_DOCS = 2000


@pytest.fixture(scope="module")
def data(spark):
    docs_pdf = fx.docs_pandas(N_DOCS)
    polys_pdf = fx.polygons_pandas()
    docs = spark.createDataFrame(docs_pdf).cache()
    polys = spark.createDataFrame(polys_pdf).cache()
    grid = TileGrid.local(*fx.POLY_BBOX)
    # brute-force oracle: every (doc, polygon) PIP pair
    pts = extract_geo_points(docs).select("doc_id", "x", "y").toPandas()
    want = set()
    for _, prow in polys_pdf.iterrows():
        rings = kwkb.polygon_rings(prow["wkb"])
        inside = kpip.points_in_polygon(
            pts["x"].to_numpy(), pts["y"].to_numpy(), rings)
        for did in pts["doc_id"].to_numpy()[inside]:
            want.add((did, int(prow["fid"])))
    yield docs, polys, grid, pts, want
    # a cached layer left behind would answer later tests' plans
    docs.unpersist()
    polys.unpersist()


def _got_pairs(joined):
    return {(r["doc_id"], r["fid"]) for r in joined.select("doc_id", "fid").collect()}


def test_join_matches_bruteforce_oracle(data):
    docs, polys, grid, pts, want = data
    joined = spatial_join(extract_geo_points(docs), polys, grid, zoom=6)
    assert _got_pairs(joined) == want
    assert len(want) > 100  # fixture sanity: plenty of positives


def test_salted_shuffle_join_equals_broadcast(data):
    docs, polys, grid, pts, want = data
    joined = spatial_join(extract_geo_points(docs), polys, grid, zoom=6,
                          broadcast=False, salt=4)
    assert _got_pairs(joined) == want


def test_first_match_cardinality(data):
    docs, polys, grid, pts, want = data
    joined = spatial_join(extract_geo_points(docs), polys, grid, zoom=6,
                          first_match=True)
    got = joined.select("doc_id", "fid").collect()
    by_doc = {}
    for r in got:
        assert r["doc_id"] not in by_doc, "first_match must emit one row per point"
        by_doc[r["doc_id"]] = r["fid"]
    # each emitted fid is the minimum matching fid (OGR first-match order)
    min_fid = {}
    for did, fid in want:
        min_fid[did] = min(min_fid.get(did, fid), fid)
    assert by_doc == min_fid


def test_left_join_keeps_unmatched(data):
    docs, polys, grid, pts, want = data
    joined = spatial_join(extract_geo_points(docs), polys, grid, zoom=6, how="left")
    matched_docs = {d for d, _ in want}
    rows = joined.select("doc_id", "fid").collect()
    unmatched = {r["doc_id"] for r in rows if r["fid"] is None}
    assert unmatched == {f"doc-{i:09d}" for i in range(N_DOCS)} - matched_docs


def test_span_sequence_invariant(data):
    """Per-doc (kind, text, media_ref, order) must survive the join
    byte-for-byte (BASELINE.json input_hint invariant)."""
    docs, polys, grid, pts, want = data
    joined = spatial_join(extract_geo_points(docs), polys, grid, zoom=6,
                          first_match=True)
    inp = {r["doc_id"]: r["spans"] for r in docs.collect()}
    out = {r["doc_id"]: r["spans"] for r in joined.select("doc_id", "spans").collect()}
    assert out, "join produced no rows"
    for did, spans in out.items():
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
        ] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in inp[did]
        ]


def test_zoom_invariance(data):
    """The coarse-phase zoom must not change the result (only the plan)."""
    docs, polys, grid, pts, want = data
    for z in (4, 8):
        joined = spatial_join(extract_geo_points(docs), polys, grid, zoom=z)
        assert _got_pairs(joined) == want


def test_negatives_outside_bbox_never_match(data):
    docs, polys, grid, pts, want = data
    minx, miny, maxx, maxy = fx.POLY_BBOX
    outside = pts[(pts["x"] > maxx) | (pts["y"] > maxy)]
    assert len(outside) > 0
    matched_docs = {d for d, _ in want}
    assert not (set(outside["doc_id"]) & matched_docs)


def test_auto_salt_and_broadcast_agree(spark):
    """salt='auto' on the hot-cell fixture (20% of docs in 3 hot
    squares) must return exactly the unsalted result."""
    from pyspark.sql import functions as F

    from gdal_spark.kernels.cells import TileGrid
    from gdal_spark.operators.spatial_join import extract_geo_points, spatial_join
    from gdal_spark.sources import fixtures as fx

    docs = spark.createDataFrame(fx.docs_pandas(3000))
    polys = spark.createDataFrame(fx.polygons_pandas())
    grid = TileGrid.local(*fx.POLY_BBOX)
    pts = extract_geo_points(docs).select("doc_id", "x", "y")

    plain = spatial_join(pts, polys, grid, zoom=6)
    auto = spatial_join(pts, polys, grid, zoom=6, salt="auto",
                        broadcast=False)
    a = {(r["doc_id"], r["fid"]) for r in plain.select("doc_id", "fid").collect()}
    b = {(r["doc_id"], r["fid"]) for r in auto.select("doc_id", "fid").collect()}
    assert a == b and len(a) > 0


def test_prepare_edges_reused_across_calls(data):
    """A prepared (persisted) edge table must serve repeated joins on
    the same polygon layer from cache: the second call's plan reads
    InMemoryTableScan instead of launching a second Python edge stage,
    and results stay identical to the per-call build."""
    from gdal_spark.operators.spatial_join import prepare_edges

    docs, polys, grid, pts, want = data
    edges = prepare_edges(polys)
    try:
        j1 = spatial_join(extract_geo_points(docs), polys, grid, zoom=6,
                          edges=edges)
        assert _got_pairs(j1) == want  # materializes the cache
        j2 = spatial_join(extract_geo_points(docs), polys, grid, zoom=6,
                          edges=edges)
        plan = j2._jdf.queryExecution().toString()
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
        assert _got_pairs(j2) == want
    finally:
        edges.unpersist()


def _generators(data, scaled):
    """(points, polygon layer, join, brute-force (doc_id, fid) pairs)
    for the quadtree join on the planar fixture and the S2 join on its
    lon/lat image."""
    docs, polys, grid, _, want = data
    pts, s2_polys, ppdf, fids = scaled
    return [(extract_geo_points(docs), polys,
             partial(spatial_join, grid=grid, zoom=6), want),
            (pts, s2_polys, spatial_join_s2,
             {(d, f) for d, fs in zip(ppdf["doc_id"], fids) for f in fs})]


def test_output_keeps_polygon_attributes_in_layer_order(data, scaled):
    for points, polys, join, _ in _generators(data, scaled):
        joined = join(points, polys)
        attrs = [f for f in polys.schema.fields
                 if f.name not in ("fid", "wkb", "xmin", "ymin", "xmax", "ymax")]
        assert joined.columns == ["fid", *points.columns, *[f.name for f in attrs]]
        assert [joined.schema[f.name].dataType for f in attrs] == [
            f.dataType for f in attrs]
        eas = {r["fid"]: r["eas_id"] for r in polys.collect()}
        assert all(r["eas_id"] == eas[r["fid"]]
                   for r in joined.select("fid", "eas_id").collect())


def test_duplicate_fid_rows_keep_their_own_attributes(data, scaled):
    """Each polygon row's match carries that row's attributes only."""
    for points, polys, join, want in _generators(data, scaled):
        twin = polys.filter(F.col("fid") == 3).withColumn(
            "eas_id", F.lit(-1).cast(polys.schema["eas_id"].dataType))
        got = sorted(tuple(r) for r in join(points, polys.unionByName(twin))
                     .select("doc_id", "fid", "eas_id").collect())
        eas = {r["fid"]: r["eas_id"] for r in polys.collect()}
        assert any(f == 3 for _, f in want)
        assert got == sorted([(d, f, eas[f]) for d, f in want]
                             + [(d, f, -1) for d, f in want if f == 3])


def test_prepared_edges_must_match_the_layer_attributes(data):
    from gdal_spark.operators.spatial_join import edges_table

    docs, polys, grid, pts, want = data
    edges = edges_table(polys.drop("area"))
    with pytest.raises(ValueError, match="prepare_edges"):
        spatial_join(extract_geo_points(docs), polys, grid, zoom=6, edges=edges)
    with pytest.raises(ValueError, match="prepare_edges"):
        spatial_join_s2(extract_geo_points(docs), polys, edges=edges)


def test_edges_table_distributed_100k(spark):
    """Edge-table construction is a distributed mapInPandas, never a
    driver collect: a 100k-polygon layer must decode on executors.
    (Round-1 wrong #3: polys.collect() per call.)"""
    import pandas as pd

    from gdal_spark.operators.spatial_join import edges_table

    n = 100_000
    wkbs = []
    for i in range(n):
        x0, y0 = float(i % 1000), float(i // 1000)
        ring = [(x0, y0), (x0 + 1, y0), (x0 + 1, y0 + 1), (x0, y0 + 1),
                (x0, y0)]
        wkbs.append(kwkb.wkb_polygon([ring]))
    polys = spark.createDataFrame(
        pd.DataFrame({"fid": np.arange(n, dtype=np.int64), "wkb": wkbs})
    ).repartition(8)
    et = edges_table(polys)
    agg = et.select(
        F.count("*").alias("n"), F.sum(F.size("edges")).alias("ne")).collect()[0]
    assert agg["n"] == n
    assert agg["ne"] == 4 * n  # one closed square ring -> 4 edges


@pytest.fixture(scope="module")
def scaled(spark):
    """The pip_join fixture in lon/lat degrees (both generators'
    common CRS) plus the brute-force oracle: for every point row, the
    sorted fids of the polygons containing it."""
    from gdal_spark.queries.spatial import _scaled_fixture

    pts, polys = _scaled_fixture(spark, "/root/testdata/sf0.001")
    pts, polys = pts.cache(), polys.cache()
    ppdf = pts.toPandas()
    xs, ys = ppdf["x"].to_numpy(), ppdf["y"].to_numpy()
    fids = [[] for _ in range(len(ppdf))]
    for _, prow in polys.toPandas().sort_values("fid").iterrows():
        inside = kpip.points_in_polygon(
            xs, ys, kwkb.polygon_rings(bytes(prow["wkb"])))
        for i in np.flatnonzero(inside):
            fids[i].append(int(prow["fid"]))
    yield pts, polys, ppdf, fids
    pts.unpersist()
    polys.unpersist()


_DEG_GRID = TileGrid.local(-1.2, -1.0, 1.2, 1.0, tile_size=256)
_JOINS = {
    "quadtree": lambda p, q, **kw: spatial_join(
        p, q, _DEG_GRID, zoom=5, broadcast=True, **kw),
    "quadtree_salted": lambda p, q, **kw: spatial_join(
        p, q, _DEG_GRID, zoom=5, broadcast=False, salt=4, **kw),
    "s2": lambda p, q, **kw: spatial_join_s2(p, q, level=8, **kw),
}


def _rows(df, cols):
    """Output multiset as a sorted list; a null fid sorts as -1."""
    return sorted(tuple(-1 if (c == "fid" and r[c] is None) else r[c]
                        for c in cols)
                  for r in df.select(*cols).collect())


def test_s2_join_parity_with_quadtree(scaled):
    """The S2-keyed and quadtree-keyed joins are two candidate
    generators over the SAME exact phase — outputs must be row-equal."""
    pts, polys = scaled[:2]
    s2_rows = sorted((r["doc_id"], r["fid"]) for r in
                     spatial_join_s2(pts, polys, level=8).collect())
    qt_rows = sorted((r["doc_id"], r["fid"]) for r in
                     spatial_join(pts, polys, _DEG_GRID, zoom=5).collect())
    assert s2_rows == qt_rows and len(s2_rows) > 0

    # first_match parity too (lowest fid per point)
    s2_fm = sorted((r["doc_id"], r["fid"]) for r in
                   spatial_join_s2(pts, polys, level=8,
                                   first_match=True).collect())
    qt_fm = sorted((r["doc_id"], r["fid"]) for r in
                   spatial_join(pts, polys, _DEG_GRID, zoom=5,
                                first_match=True).collect())
    assert s2_fm == qt_fm


@pytest.mark.parametrize("gen", sorted(_JOINS))
def test_join_shape_matches_bruteforce(scaled, gen):
    """how='left' and first_match key on the WHOLE point row: every
    input row comes back (left) or comes back once at its lowest fid
    (first_match), whatever the point columns look like."""
    pts, polys, ppdf, fids = scaled
    join = _JOINS[gen]
    ids = ppdf["doc_id"].tolist()
    assert sum(map(bool, fids)) > 0

    # how='left', first column constant (not a point key)
    left = pts.select(F.lit(1).alias("k"), "doc_id", "x", "y")
    want = sorted((1, d, f) for d, fs in zip(ids, fids) for f in fs or [-1])
    assert _rows(join(left, polys, how="left"), ["k", "doc_id", "fid"]) == want

    # how='left', one all-null point column
    nulls = pts.withColumn("tag", F.lit(None).cast("string"))
    want = sorted((d, None, f) for d, fs in zip(ids, fids) for f in fs or [-1])
    assert _rows(join(nulls, polys, how="left"),
                 ["doc_id", "tag", "fid"]) == want

    # first_match on a table of only (x, y)
    xy = pts.select("x", "y")
    want = sorted((x, y, fs[0]) for x, y, fs
                  in zip(ppdf["x"], ppdf["y"], fids) if fs)
    assert _rows(join(xy, polys, first_match=True), ["x", "y", "fid"]) == want

    # first_match with one matched input row duplicated
    dup = ids[next(i for i, fs in enumerate(fids) if fs)]
    twice = pts.unionByName(pts.filter(F.col("doc_id") == dup))
    want = sorted([(d, fs[0]) for d, fs in zip(ids, fids) if fs]
                  + [(dup, fids[ids.index(dup)][0])])
    assert _rows(join(twice, polys, first_match=True),
                 ["doc_id", "fid"]) == want


@pytest.mark.parametrize("gen", sorted(_JOINS))
def test_polygons_without_a_usable_ring_match_nothing(spark, scaled, gen):
    """A polygon with a NULL fid or a non-finite vertex gets no cover
    rows, whatever its stored bbox says; a finite twin matches."""
    pts = scaled[0]
    ring = np.array([(-0.5, -0.5), (0.5, -0.5), (0.5, 0.5), (-0.5, 0.5),
                     (-0.5, -0.5)])
    bad = ring.copy()
    bad[2] = (np.nan, 0.5)
    polys = spark.createDataFrame(
        [(fid, kwkb.wkb_polygon([r]), -0.5, -0.5, 0.5, 0.5)
         for fid, r in ((None, ring), (8, bad), (9, ring))],
        "fid bigint, wkb binary, xmin double, ymin double, xmax double, "
        "ymax double")
    got = {r["fid"] for r in _JOINS[gen](pts, polys).select("fid").collect()}
    assert got == {9}


def _border_polygons(grid):
    """Non-convex polygons whose vertices sit on zoom-6 cell borders
    ``top_left +/- k*ts`` — about half of which ``tile_xy`` puts in the
    cell before the one ``tile_bounds`` starts at — one with a hole."""
    ts = grid.tile_span(6)
    bx = grid.top_left_x + np.arange(65) * ts
    by = grid.top_left_y - np.arange(65) * ts
    # comb with slanted teeth
    comb = [(bx[6], by[50]), (bx[26], by[50])]
    for i in range(26, 6, -2):
        comb += [(bx[i], by[30 + i % 5]), (bx[i - 1], by[44])]
    comb += [(bx[6], by[31]), (bx[6], by[50])]
    # star: vertices on x borders, on y borders, or on both
    rng = np.random.RandomState(6)
    star = []
    for i in range(36):
        ang = 2 * np.pi * i / 36
        rad = (6 if i % 2 else 11) + rng.uniform(-1.5, 1.5)
        x, y = 45 + rad * np.cos(ang), 20 + rad * np.sin(ang)
        vx = bx[int(round(x))] if i % 3 != 2 else bx[0] + x * ts
        vy = by[int(round(y))] if i % 3 != 1 else by[0] - y * ts
        star.append((vx, vy))
    star.append(star[0])
    # square with a non-convex hole (diamond with a notch)
    outer = [(bx[34], by[60]), (bx[60], by[60]), (bx[60], by[34]),
             (bx[34], by[34]), (bx[34], by[60])]
    hole = [(bx[47], by[38]), (bx[56], by[47]), (bx[47], by[56]),
            (bx[38], by[47]), (bx[44], by[44]), (bx[47], by[38])]
    return [[np.array(comb)], [np.array(star)],
            [np.array(outer), np.array(hole)]]


def _border_points(grid, polygons):
    """Points on every ring vertex, on the edges, on every zoom-8
    border line, and their nextafter neighbours."""
    rng = np.random.RandomState(8)
    up, down = np.inf, -np.inf
    rings = [r for p in polygons for r in p]
    allv = np.vstack(rings)
    ts8, ts6 = grid.tile_span(8), grid.tile_span(6)
    k8 = np.arange(-1, 258)
    k6 = np.arange(-1, 66)

    def near(v):
        v = np.asarray(v, np.float64)
        return np.concatenate([v, np.nextafter(v, down), np.nextafter(v, up)])

    def within(v, lo, hi):
        return v[(v >= lo - ts6) & (v <= hi + ts6)]

    (x0, y0), (x1, y1) = allv.min(axis=0), allv.max(axis=0)
    lines_x = near(within(grid.top_left_x + k8 * ts8, x0, x1))
    lines_y = near(within(grid.top_left_y - k8 * ts8, y0, y1))
    cross_x = np.concatenate([near(within(grid.top_left_x + k6 * ts6, x0, x1)),
                              rng.uniform(x0, x1, 24)])
    cross_y = np.concatenate([near(within(grid.top_left_y - k6 * ts6, y0, y1)),
                              rng.uniform(y0, y1, 24)])
    xs = [np.repeat(lines_x, cross_y.size), np.tile(cross_x, lines_y.size)]
    ys = [np.tile(cross_y, lines_x.size), np.repeat(lines_y, cross_x.size)]
    # vertices and their 8 nextafter neighbours
    for vx in (allv[:, 0], np.nextafter(allv[:, 0], down), np.nextafter(allv[:, 0], up)):
        for vy in (allv[:, 1], np.nextafter(allv[:, 1], down), np.nextafter(allv[:, 1], up)):
            xs.append(vx)
            ys.append(vy)
    # on the edges: where they cross border lines, and at fractions
    for ring in rings:
        for (ax, ay), (bx_, by_) in zip(ring[:-1], ring[1:]):
            if ay != by_:
                ly = lines_y[(lines_y >= min(ay, by_)) & (lines_y <= max(ay, by_))]
                ex = ax + (ly - ay) * (bx_ - ax) / (by_ - ay)
                xs.append(near(ex))
                ys.append(np.tile(ly, 3))
            if ax != bx_:
                lx = lines_x[(lines_x >= min(ax, bx_)) & (lines_x <= max(ax, bx_))]
                ey = ay + (lx - ax) * (by_ - ay) / (bx_ - ax)
                xs.append(np.tile(lx, 3))
                ys.append(near(ey))
            t = np.array([0.25, 0.5, 0.75])
            xs.append(near(ax + t * (bx_ - ax)))
            ys.append(np.tile(ay + t * (by_ - ay), 3))
    return np.concatenate(xs), np.concatenate(ys)


@pytest.fixture(scope="module")
def border_case(spark):
    import pandas as pd

    grid = TileGrid.local(*fx.POLY_BBOX)
    polygons = _border_polygons(grid)
    rows = []
    for fid, rings in enumerate(polygons):
        wkb = kwkb.wkb_polygon(rings)
        b = kwkb.wkb_bbox(wkb)
        rows.append({"fid": fid, "name": f"p{fid}", "wkb": wkb,
                     "xmin": b[0], "ymin": b[1], "xmax": b[2], "ymax": b[3]})
    polys = spark.createDataFrame(pd.DataFrame(rows)).cache()
    px, py = _border_points(grid, polygons)
    pdf = pd.DataFrame({"id": np.arange(px.size), "x": px, "y": py})
    pts = spark.createDataFrame(pdf).cache()
    want = {(int(i), fid) for fid, rings in enumerate(polygons)
            for i in np.flatnonzero(kpip.points_in_polygon(px, py, rings))}
    yield grid, pts, polys, want, px.size
    pts.unpersist()
    polys.unpersist()


@pytest.mark.parametrize("salted", [False, True], ids=["quadtree", "quadtree_salted"])
@pytest.mark.parametrize("zoom", [4, 6, 8])
def test_cell_cover_exact_on_cell_borders(border_case, zoom, salted):
    """Every (point, polygon) decision of the classified-cover join
    equals the numpy ray-cast kernel, for points on vertices, on edges,
    on every cell border line and one ulp to either side of each."""
    grid, pts, polys, want, n = border_case
    kw = dict(broadcast=False, salt=4) if salted else {}
    got = spatial_join(pts, polys, grid, zoom=zoom, **kw).select("id", "fid").toPandas()
    got = set(zip(got["id"].tolist(), got["fid"].tolist()))
    assert len(want) > 10_000 and n > 200_000
    wrong = got ^ want
    assert not wrong, f"{len(wrong)} wrong decisions of {n} points, e.g. {sorted(wrong)[:5]}"


@pytest.mark.parametrize("salted", [False, True], ids=["quadtree", "quadtree_salted"])
def test_non_finite_points_stay_unmatched(spark, salted):
    """NaN points get no cell; +/-inf points clamp into a border cell
    of a grid smaller than the polygon, where only the envelope
    pretest drops them: the ray cast alone accepts (-inf, 5) in numpy
    and (inf, 5) in the JVM, through 0 * inf = NaN at the vertex
    (0, 5) (Spark orders NaN above 0)."""
    import pandas as pd

    from gdal_spark import functions as gf
    from gdal_spark.operators.spatial_join import edges_table

    ring = np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
                     (0.0, 5.0), (0.0, 0.0)])
    assert kpip.points_in_ring([-np.inf], [5.0], ring, test_envelope=False)[0]
    wkb = kwkb.wkb_polygon([ring])
    polys = spark.createDataFrame(pd.DataFrame(
        {"fid": [7], "wkb": [wkb], "xmin": [0.0], "ymin": [0.0],
         "xmax": [10.0], "ymax": [10.0]}))
    inf, nan = np.inf, np.nan
    xy = [(5.0, 5.0), (inf, 5.0), (-inf, 5.0), (5.0, inf), (5.0, -inf),
          (nan, 5.0), (5.0, nan), (-inf, 0.0), (inf, inf), (nan, nan)]
    pts = spark.createDataFrame(pd.DataFrame(
        {"id": np.arange(len(xy)), "x": [p[0] for p in xy],
         "y": [p[1] for p in xy]}))
    jvm = pts.crossJoin(edges_table(polys)).filter(
        gf.pip_inside_col(F.col("edges"), F.col("x"), F.col("y")))
    assert 1 in {r["id"] for r in jvm.select("id").collect()}
    grid = TileGrid.local(3.0, 3.0, 7.0, 7.0)
    kw = dict(broadcast=False, salt=4) if salted else {}
    for z in (0, 2):
        inner = spatial_join(pts, polys, grid, zoom=z, **kw)
        assert _rows(inner, ["id", "fid"]) == [(0, 7)]
        left = spatial_join(pts, polys, grid, zoom=z, how="left", **kw)
        assert _rows(left, ["id", "fid"]) == [(0, 7)] + [(i, -1) for i in range(1, len(xy))]
