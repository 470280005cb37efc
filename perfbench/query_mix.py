"""query_mix: a closed loop with one client over catalog queries.

Each query is built (driver planning, dialect rewrite, per-call
Python stages) and then written to the noop sink; the seed sets the
order of every pass.  Driver planning and per-call Python stages
dominate here, so this is where ``sql``, ``queries`` and the driver
are measured.  The first (cold) pass collects every query and checks
it against its DuckDB oracle, untimed; it counts into set-up.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np

import gdal_spark.sql as gsql
from gdal_spark.oracle import compare
from gdal_spark.queries import QUERIES

from . import inputs
from .metrics import MIX


def _oracle(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')")
    return con


@contextlib.contextmanager
def _traced_ogr_sql(tr):
    """Time ``gdal_spark.sql.ogr_sql`` (statement -> DataFrame) by
    wrapping the package attribute the catalog resolves at call time."""
    orig = gsql.ogr_sql

    def wrapped(*args, **kwargs):
        with tr.span("sql.ogr_sql"):
            return orig(*args, **kwargs)

    gsql.ogr_sql = wrapped
    try:
        yield
    finally:
        gsql.ogr_sql = orig


def rate(queries_per_pass: int, op_seconds: list[float]) -> float:
    """Completed queries / loop time (every op is one whole pass)."""
    return queries_per_pass * len(op_seconds) / sum(op_seconds)


def run(b) -> int:
    """Returns the number of queries in one pass."""
    spark, tr = b.spark, b.tracer
    sf_dir = b.path("sf")
    with tr.span("sources.input_gen"), b.setup_step("input_gen_s"):
        os.makedirs(sf_dir)
        tables = inputs.catalog_tables(b.seed)
        b.layer["sources.input_bytes"] = sum(
            inputs.write_parquet(df, f"{sf_dir}/{name}.parquet")
            for name, df in tables.items())
    b.layer["sources.input_gen_s"] = b.setup_wall["input_gen_s"]

    def scan():
        with tr.span("sources.scan"):
            return sum(spark.read.parquet(f"{sf_dir}/{name}.parquet").count()
                       for name in tables)

    b.repeated_setup("scan_s", scan)
    b.layer["sources.scan_s"] = b.setup_wall["scan_s"]

    trace_sql = _traced_ogr_sql(tr) if b.trace else contextlib.nullcontext()
    with trace_sql:
        con = _oracle(sf_dir, tables)
        with tr.span("queries.cold_pass"), b.setup_step("cold_pass_s"):
            for name in MIX:
                q = QUERIES[name]
                try:
                    df = q.fn(spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    res = con.sql(q.resolve_sql())
                    problems = compare(rows, df.columns, res.fetchall(), res.columns)
                except Exception as exc:  # a failing query is counted
                    problems = [f"{type(exc).__name__}: {exc}"]
                b.checks.record(f"oracle:{name}", not problems, "; ".join(problems[:3]))
        con.close()
        b.layer["queries.cold_pass_s"] = b.setup_wall["cold_pass_s"]
        b.sample_rss()

        per_query = b.detail.setdefault("query_s", {name: [] for name in MIX})

        def op(i):
            order = np.random.RandomState([b.seed, i]).permutation(len(MIX))
            for k in order:
                name = MIX[k]
                t0 = time.perf_counter()
                with tr.span(f"queries.{name}.plan"):
                    df = QUERIES[name].fn(spark, sf_dir)
                with tr.span(f"queries.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                per_query[name].append(time.perf_counter() - t0)
            return None

        t0 = time.perf_counter()
        b.timed_loop("query_mix", op)
        b.detail["loop_wall_s"] = time.perf_counter() - t0

    for name in MIX:
        for part in ("plan", "exec"):
            b.layer[f"queries.{name}.{part}_s"] = tr.median(f"queries.{name}.{part}")
    b.layer["sql.ogr_sql_s"] = tr.median("sql.ogr_sql")
    return len(MIX)
