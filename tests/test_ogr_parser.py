"""Grammar-based OGR SQL parser (sql/parser.py): swq_parser.y
select_statement + sub-SELECT-in-FROM extension, one tree walk for
every dialect rewrite."""

from __future__ import annotations

import pandas as pd
import pytest

from gdal_spark.sql import ogr_sql, register_layer
from gdal_spark.sql.parser import ParseError, parse


@pytest.fixture()
def layers(spark):
    base = spark.createDataFrame(
        [(1, 10, "x", 1.5), (2, 20, "y", 2.5), (3, 10, "z", 3.5)],
        "fid long, k long, name string, val double")
    sec = spark.createDataFrame(
        [(7, 10, "first"), (8, 10, "second"), (9, 20, "only")],
        "fid long, k long, tag string")
    register_layer(spark, "pbase", base, wkb_col=None)
    register_layer(spark, "psec", sec, wkb_col=None)
    return spark


def test_parse_shapes():
    s = parse("SELECT a, b FROM t LEFT JOIN u ON t.k = u.k "
              "WHERE a > 1 ORDER BY b LIMIT 5 OFFSET 2")
    assert [k for k, _ in s.fields] == ["raw", "raw"]
    assert s.from_item.table == "t"
    assert s.joins[0].left and s.joins[0].eq == ("t", "k", "u", "k")
    assert s.where == "a > 1" and s.limit == "5" and s.offset == "2"

    s = parse("SELECT * FROM (SELECT 1 AS n) q")
    assert s.from_item.sub is not None and s.from_item.alias == "q"

    with pytest.raises(ParseError):
        parse("DELETE FROM t")
    with pytest.raises(ParseError):
        parse("SELECT FROM t")


def test_exclude_scoped_to_subquery_output(layers):
    """* EXCLUDE expands against a sub-SELECT's output schema."""
    rows = ogr_sql(
        layers,
        "SELECT * EXCLUDE (val, OGR_STYLE) FROM "
        "(SELECT name, val, OGR_STYLE FROM pbase WHERE k = 10) "
        "ORDER BY name").collect()
    assert [r.asDict() for r in rows] == [{"name": "x"}, {"name": "z"}]


def test_exclude_inside_subquery(layers):
    """EXCLUDE nested INSIDE the sub-SELECT expands against the inner
    table's schema."""
    rows = ogr_sql(
        layers,
        "SELECT name FROM "
        "(SELECT * EXCLUDE (fid, FID, OGR_STYLE) FROM pbase) "
        "WHERE k = 20").collect()
    assert [r["name"] for r in rows] == ["y"]


def test_first_match_join_against_subquery(layers):
    """Top-level LEFT JOIN against a parenthesized sub-SELECT, or
    against a layer under an alias, still gets one-to-first-match
    semantics (lowest FID wins)."""
    for secondary in ("(SELECT fid AS FID, k, tag FROM psec) s", "psec s"):
        rows = ogr_sql(
            layers,
            f"SELECT pbase.fid, s.tag FROM pbase LEFT JOIN {secondary} "
            "ON pbase.k = s.k ORDER BY pbase.fid").collect()
        assert [(r["fid"], r["tag"]) for r in rows] == [
            (1, "first"), (2, "only"), (3, "first")], secondary


def test_union_all_chain(layers):
    rows = ogr_sql(
        layers,
        "SELECT name FROM pbase WHERE k = 20 UNION ALL "
        "SELECT tag AS name FROM psec WHERE k = 20").collect()
    assert sorted(r["name"] for r in rows) == ["only", "y"]


def test_quoted_ident_and_hstore_in_subquery(layers):
    df = layers.createDataFrame(
        pd.DataFrame({"fid": [1], "props": ["a=>1,b=>2"]}))
    register_layer(layers, "ph", df, wkb_col=None)
    rows = ogr_sql(
        layers,
        'SELECT v FROM (SELECT HSTORE_GET_VALUE(props, \'b\') AS "v" '
        "FROM ph)").collect()
    assert rows[0]["v"] == "2"


def test_inner_join_passes_through(layers):
    """An inner join, and a LEFT JOIN whose ON clause is more than one
    key equality, keep standard all-matches semantics."""
    for join in ("JOIN psec ON pbase.k = psec.k",
                 "LEFT JOIN psec ON pbase.k = psec.k AND psec.tag <> 'x'"):
        rows = ogr_sql(
            layers, f"SELECT COUNT(*) AS n FROM pbase {join}").collect()
        # ALL matches: k=10 (2 base x 2 sec) + k=20 (1 x 1)
        assert rows[0]["n"] == 5, join


def test_group_having(layers):
    rows = ogr_sql(
        layers,
        "SELECT k, COUNT(*) AS n FROM pbase GROUP BY k "
        "HAVING COUNT(*) > 1 ORDER BY k").collect()
    assert [(r["k"], r["n"]) for r in rows] == [(10, 2)]


def test_fallback_on_unparsed(layers):
    """Statements outside the grammar run as Spark SQL with only the
    expression re-spellings: double-quoted identifiers and
    HSTORE_GET_VALUE."""
    rows = ogr_sql(layers, "WITH c AS (SELECT 4 AS n) "
                           "SELECT n FROM c").collect()
    assert rows[0]["n"] == 4
    df = layers.createDataFrame(
        pd.DataFrame({"fid": [1], "props": ["a=>1,b=>2"]}))
    register_layer(layers, "ph", df, wkb_col=None)
    rows = ogr_sql(
        layers,
        'WITH c AS (SELECT HSTORE_GET_VALUE(props, \'b\') AS "v" '
        'FROM ph) SELECT "v" FROM c').collect()
    assert rows[0]["v"] == "2"


def test_schema_qualified_first_match_secondary_spelled_like_from():
    """A schema-qualified secondary is spelled part by part in the
    first-match subquery, as in FROM; without a session the subquery
    orders by the join key."""
    from gdal_spark.sql.parser import emit

    sql = emit(parse("SELECT * FROM db.base b LEFT JOIN db.sec s ON b.k = s.k"), None)
    assert sql.startswith("SELECT * FROM db.base b LEFT JOIN ")
    assert "FROM db.sec)" in sql and "`db.sec`" not in sql
    assert "PARTITION BY k ORDER BY k" in sql
