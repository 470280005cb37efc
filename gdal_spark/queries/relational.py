"""The OGR SQL dialect surface, re-expressed as Catalyst plans.

Every query here mirrors a documented behavior of the reference's
embedded SQL engine (swq / GenSQL):

* projection/alias/expressions   ogr/swq_select.cpp, ogr_gensql.cpp:1479
* WHERE trees                    ogr/swq_expr_node.cpp, swq_op_general.cpp:347
* LIKE/ILIKE                     ogr/swq_op_general.cpp:41
* CAST                           ogr/ogr_swq.h:309-313
* summary aggregates (one row)   ogr_gensql.cpp:849 (PrepareSummary)
* COUNT(*) fast path             ogr_gensql.cpp:938-947
* SELECT DISTINCT                ogr/ogr_swq.h:322 (SWQM_DISTINCT_LIST)
* ORDER BY + LIMIT/OFFSET        ogr_gensql.cpp:2201, ogr/ogr_swq.h:479-483
* LEFT JOIN one-to-first-match   ogr_gensql.cpp:1497-1527
* UNION ALL                      gcore/gdaldataset.cpp:7136-7176
* BETWEEN/IN rewrites            ogr/swq_expr_node.cpp:916,949
* string ops CONCAT/SUBSTR       ogr/swq_op_registrar.cpp:28-61

GROUP BY / HAVING / window functions are absent from OGR SQL (only
via the SQLite passthrough dialect, gcore/gdaldataset.cpp:6993); we
expose them because Spark provides them natively — they're the
engine's superset surface, exercised by the events queries.

All plans are pure Catalyst (no Python UDFs): filters and projections
push down to the parquet scan, aggregates use partial+final map-side
combine, and the one small-dim join broadcasts.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import register, t


# ---------------------------------------------------------------- filters
@register(
    "select_where_order",
    sql="""
    SELECT doc_id, n_chars, lang
    FROM documents
    WHERE n_chars < 250 AND lang = 'en'
    ORDER BY doc_id
    """,
    desc="SELECT + WHERE + ORDER (ogr_sql_test.py:171-189 'eas_id < x' shape)",
)
def select_where_order(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .filter((F.col("n_chars") < 250) & (F.col("lang") == "en"))
        .select("doc_id", "n_chars", "lang")
        .orderBy("doc_id")
    )


@register(
    "between_in_not",
    sql="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND NOT (l_discount > 0.09)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    desc="BETWEEN -> >=/<= and IN -> OR-chain rewrites (swq_expr_node.cpp:916,949)",
)
def between_in_not(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").between(10, 20)
            & F.col("l_returnflag").isin("A", "R")
            & ~(F.col("l_discount") > 0.09)
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


@register(
    "like_ilike",
    sql="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE '%red%' AND p_brand ILIKE 'brand#1%'
    ORDER BY p_partkey
    """,
    desc="LIKE/ILIKE wildcards (swq_op_general.cpp:41 swq_test_like)",
)
def like_ilike(spark, sf_dir):
    return (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%") & F.col("p_brand").ilike("brand#1%"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


@register(
    "cast_types",
    sql="""
    SELECT l_orderkey,
           CAST(l_quantity AS INTEGER) AS qty_int,
           CAST(l_orderkey AS VARCHAR) AS key_str,
           CAST(l_shipdate AS DATE)    AS ship_day
    FROM lineitem
    WHERE l_linenumber = 1
    ORDER BY l_orderkey, qty_int, ship_day
    LIMIT 50
    """,
    desc="CAST to INTEGER/CHARACTER/DATE (SWQCastEvaluator, "
         "ogr_swq.h:309-313); the sort is TOTAL (key, qty, date) so "
         "the LIMIT cut stays deterministic when keys repeat — the "
         "sf1 rehearsal's key-shifted replication surfaced an "
         "ambiguous top-50 under ORDER BY l_orderkey alone",
)
def cast_types(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select(
            "l_orderkey",
            F.col("l_quantity").cast("int").alias("qty_int"),
            F.col("l_orderkey").cast("string").alias("key_str"),
            F.col("l_shipdate").cast("date").alias("ship_day"),
        )
        .orderBy("l_orderkey", "qty_int", "ship_day")
        .limit(50)
    )


@register(
    "substr_concat_arith",
    sql="""
    SELECT p_partkey,
           SUBSTR(p_name, 1, 5)                 AS head,
           CONCAT(p_brand, ':', p_type)         AS tag,
           (p_size * 2 + 1) % 7                 AS szmod
    FROM part
    ORDER BY p_partkey
    LIMIT 100
    """,
    desc="CONCAT/SUBSTR(1-based)/arithmetic ops (swq_op_registrar.cpp:28-61)",
)
def substr_concat_arith(spark, sf_dir):
    return (
        t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.substring("p_name", 1, 5).alias("head"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("tag"),
            ((F.col("p_size") * 2 + 1) % 7).alias("szmod"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


# ------------------------------------------------------------- aggregates
@register(
    "summary_aggregates",
    sql="""
    SELECT COUNT(*)                                   AS n,
           COUNT(DISTINCT l_returnflag)               AS n_flags,
           MIN(l_quantity)                            AS min_qty,
           MAX(l_quantity)                            AS max_qty,
           ROUND(SUM(l_quantity), 2)                  AS sum_qty,
           ROUND(AVG(l_quantity), 6)                  AS avg_qty,
           ROUND(STDDEV_POP(l_quantity), 6)           AS sd_pop_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6)          AS sd_samp_qty
    FROM lineitem
    """,
    desc="one-row summary mode: MIN/MAX/AVG/SUM/COUNT/STDDEV + COUNT DISTINCT "
         "(ogr_gensql.cpp:849 PrepareSummary; Welford ogr_swq.h:391-394)",
)
def summary_aggregates(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("sd_pop_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_samp_qty"),
    )


@register(
    "count_star",
    sql="SELECT COUNT(*) AS n FROM orders",
    desc="COUNT(*) fast path (ogr_gensql.cpp:938-947; Spark: scan-stats answer)",
)
def count_star(spark, sf_dir):
    return t(spark, sf_dir, "orders").agg(F.count("*").alias("n"))


@register(
    "distinct_order",
    sql="""
    SELECT DISTINCT source FROM documents ORDER BY source
    """,
    desc="SELECT DISTINCT list mode (SWQM_DISTINCT_LIST, ogr_swq.h:322)",
)
def distinct_order(spark, sf_dir):
    return t(spark, sf_dir, "documents").select("source").distinct().orderBy("source")


@register(
    "groupby_having",
    sql="""
    SELECT event_type,
           COUNT(*)               AS n,
           ROUND(AVG(value), 6)   AS avg_value,
           ROUND(SUM(value), 4)   AS sum_value
    FROM events
    GROUP BY event_type
    HAVING COUNT(*) > 100
    ORDER BY event_type
    """,
    desc="GROUP BY + HAVING (Spark superset; OGR only via SQLite dialect "
         "gcore/gdaldataset.cpp:6993)",
)
def groupby_having(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .filter(F.col("n") > 100)
        .orderBy("event_type")
    )


# ------------------------------------------------------------ sort / limit
@register(
    "order_limit_offset",
    sql="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 20 OFFSET 5
    """,
    desc="multi-key ORDER BY + LIMIT/OFFSET (ogr_gensql.cpp:2201; ogr_swq.h:479-483); "
         "unique tie-break keys make the cut deterministic",
)
def order_limit_offset(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .offset(5)
        .limit(20)
    )


@register(
    "topk_per_group",
    sql="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
    """,
    desc="top-k per group via row_number (the engine's top-1-nearest pattern, "
         "alg/gdalgrid.cpp:879 analogue)",
)
def topk_per_group(spark, sf_dir):
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", F.col("o_totalprice").desc(), "o_orderkey")
    )


# ----------------------------------------------------------------- joins
@register(
    "left_join_first_match",
    sql="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey AS first_orderkey
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders
    ) o ON o.o_custkey = c.c_custkey AND o.rn = 1
    ORDER BY c.c_custkey
    """,
    desc="OGR SQL LEFT JOIN is one-to-FIRST-match (ogr_gensql.cpp:1497-1527): "
         "row_number()=1 preserves that cardinality on a hash join",
)
def left_join_first_match(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    first = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))
    )
    return (
        cust.join(first, cust.c_custkey == first.o_custkey, "left")
        .select("c_custkey", "c_name", "first_orderkey")
        .orderBy("c_custkey")
    )


@register(
    "join_broadcast_dim",
    sql="""
    SELECT n.n_name, COUNT(*) AS n_cust, ROUND(SUM(c.c_acctbal), 2) AS bal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    desc="star join: small dims broadcast (no shuffle of the fact side)",
)
def join_broadcast_dim(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    region = F.broadcast(t(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("bal"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------- set ops
@register(
    "union_all",
    sql="""
    SELECT c_custkey AS key, c_name AS name FROM customer WHERE c_custkey < 50
    UNION ALL
    SELECT s_suppkey AS key, s_name AS name FROM supplier WHERE s_suppkey < 50
    ORDER BY key, name
    """,
    desc="UNION ALL of two SELECTs (OGRUnionLayer, gcore/gdaldataset.cpp:7136-7176)",
)
def union_all(spark, sf_dir):
    a = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 50)
        .select(F.col("c_custkey").alias("key"), F.col("c_name").alias("name"))
    )
    b = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 50)
        .select(F.col("s_suppkey").alias("key"), F.col("s_name").alias("name"))
    )
    return a.unionByName(b).orderBy("key", "name")


# ------------------------------------------------------------- benchmarks
@register(
    "tpch_q1",
    sql="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 8)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2025-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    desc="TPC-H Q1 pricing summary: the map-side partial-agg stress query",
)
def tpch_q1(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2025-09-01 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc), 2).alias("sum_disc"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 8).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3ish",
    sql="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15, 2))
                          * (1 - CAST(l.l_discount AS DECIMAL(15, 2)))), 2)
                AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    desc="TPC-H Q3 shape: fact-fact shuffle join + broadcast dim + top-k",
)
def tpch_q3ish(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # revenue sums in exact DECIMAL in both engines: a rounded DOUBLE
    # sum depends on the summation order and can differ in the last cent
    price = F.col("l_extendedprice").cast("decimal(15,2)")
    disc = F.col("l_discount").cast("decimal(15,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(F.round(F.sum(price * (1 - disc)), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------- event windows
@register(
    "events_tumbling_window",
    sql="""
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY wstart, event_type
    """,
    desc="tumbling event-time window agg (batch twin of the Structured "
         "Streaming path in gdal_spark.streaming)",
)
def events_tumbling_window(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("wstart"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("wstart", "event_type")
    )


@register(
    "events_sessionize",
    sql="""
    SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    GROUP BY user_id
    ORDER BY user_id
    """,
    desc="sessionization (30-min gap) via lag window — the stateful-stream "
         "shape, computed in batch",
)
def events_sessionize(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events").withColumn(
        "is_new",
        F.when(
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.sum("is_new").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "style_params",
    sql="""
    SELECT doc_id,
      CASE WHEN doc_id % 5 = 0 THEN NULL
           ELSE '#' || lpad(CAST((doc_id * 2654435761) % 1000000
                                 AS VARCHAR), 6, '0') END AS pen_c,
      CASE WHEN doc_id % 5 = 0 THEN NULL
           ELSE CAST(doc_id % 9 + 1 AS VARCHAR) || 'px' END AS pen_w,
      CASE WHEN doc_id % 5 = 0 OR doc_id % 3 <> 0 THEN NULL
           ELSE '#' || lpad(CAST((doc_id * 97) % 1000000 AS VARCHAR),
                            6, '0') END AS brush_fc,
      CASE WHEN doc_id % 5 = 0 THEN NULL
           ELSE CAST(doc_id % 24 + 6 AS VARCHAR) || 'pt' END AS label_s,
      CASE WHEN doc_id % 5 = 0 THEN NULL
           ELSE 'doc-' || CAST(doc_id AS VARCHAR) END AS label_t
    FROM documents ORDER BY doc_id
    """,
    desc="OGR feature-style surface (OGRStyleTool::GetParamStr role, "
         "ogr/ogrfeaturestyle.cpp): deterministic PEN/BRUSH/LABEL style "
         "strings are built per doc (every 5th feature unstyled -> NULL, "
         "matching OGRFeature::GetStyleString for style-less features; "
         "BRUSH present only on every 3rd), then each tool parameter is "
         "read back via style_tool_param_col's pure-Column regexps; the "
         "oracle re-derives every parameter from the generating formula "
         "— a wrong split or capture anywhere breaks the hash",
)
def style_params(spark, sf_dir):
    from ..sql.ogr_dialect import style_tool_param_col

    d = F.col("doc_id")
    style = F.when(d % 5 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.format_string("PEN(c:#%06d,w:%dpx)",
                            (d * 2654435761) % 1000000, d % 9 + 1),
            F.when(d % 3 == 0,
                   F.format_string(";BRUSH(fc:#%06d)", (d * 97) % 1000000)
                   ).otherwise(F.lit("")),
            F.format_string(";LABEL(f:Arial,s:%dpt,t:doc-%d)",
                            d % 24 + 6, d),
        ))
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", style.alias("OGR_STYLE"))
    return docs.select(
        "doc_id",
        style_tool_param_col("OGR_STYLE", "PEN", "c").alias("pen_c"),
        style_tool_param_col("OGR_STYLE", "PEN", "w").alias("pen_w"),
        style_tool_param_col("OGR_STYLE", "BRUSH", "fc").alias("brush_fc"),
        style_tool_param_col("OGR_STYLE", "LABEL", "s").alias("label_s"),
        style_tool_param_col("OGR_STYLE", "LABEL", "t").alias("label_t"),
    ).orderBy("doc_id")
