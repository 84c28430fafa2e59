"""Verbatim reference-SQL corpus parity.

The reference's own test strategy is parse/plan-level (SURVEY.md §5:
doradb-tpch-tests/tests/{parse,build_lgc,rule_optimize}.rs — nothing
executes). This is its executable twin: every file in
/root/reference/sql must analyze, optimize AND run under our engine —
over the full 8-table reference schema (incl. partsupp), registered
empty. Results on empty tables also pin scalar semantics: an aggregate
query with no GROUP BY returns exactly one row of NULL/0 aggregates.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from xngin_spark.dialect import rewrite_sql
from xngin_spark.sources.ddl import parse_ddl, register_empty
from xngin_spark.sources.schemas import REFERENCE_SCHEMAS

SQL_DIR = "/root/reference/sql"
TPCH = [f"tpch{i}" for i in range(1, 23)]
PRETTY = [f"pretty{i}" for i in range(1, 12)]

#: the corpus is a snapshot of the reference repository's SQL files;
#: tests that read it skip where the snapshot is not checked out
needs_reference = pytest.mark.skipif(
    not os.path.isdir(SQL_DIR),
    reason="reference SQL snapshot absent on this host",
)


def _read(name: str) -> str:
    with open(os.path.join(SQL_DIR, f"{name}.sql")) as f:
        return f.read()


@pytest.fixture(scope="module")
def reference_views(spark):
    """All 8 reference tables as EMPTY views with exact catalog-fixture
    schemas, plus generic t0..t5(c0,c1,c2) for the pretty corpus."""
    for name, schema in REFERENCE_SCHEMAS.items():
        spark.createDataFrame([], schema).createOrReplaceTempView(name)
    generic = T.StructType(
        [T.StructField(f"c{i}", T.IntegerType()) for i in range(6)]
    )
    for i in range(6):
        spark.createDataFrame([], generic).createOrReplaceTempView(f"t{i}")
    yield
    for name in list(REFERENCE_SCHEMAS) + [f"t{i}" for i in range(6)]:
        spark.catalog.dropTempView(name)


@needs_reference
@pytest.mark.parametrize("name", TPCH)
def test_tpch_corpus_runs_verbatim(name, spark, reference_views):
    df = spark.sql(rewrite_sql(_read(name)))
    df.collect()  # full analyze + optimize + execute on empty tables
    assert len(df.columns) > 0


@needs_reference
@pytest.mark.parametrize("name", PRETTY)
def test_pretty_corpus_runs_verbatim(name, spark, reference_views):
    spark.sql(rewrite_sql(_read(name))).collect()


@needs_reference
def test_scalar_agg_on_empty_returns_one_row(spark, reference_views):
    # TPC-H Q6 shape: ungrouped aggregate over empty input = 1 row, NULL sum
    row = spark.sql(rewrite_sql(_read("tpch6"))).collect()
    assert len(row) == 1 and row[0][0] is None


@needs_reference
def test_ddl_corpus_parses_to_reference_schemas(spark):
    tables = parse_ddl(_read("tpch_ddl"))
    assert set(tables) == set(REFERENCE_SCHEMAS)
    for name, parsed in tables.items():
        want = REFERENCE_SCHEMAS[name]
        assert [f.name for f in parsed.schema.fields] == [f.name for f in want.fields]
        for got_f, want_f in zip(parsed.schema.fields, want.fields):
            got_t, want_t = got_f.dataType, want_f.dataType
            # DDL says DECIMAL(15,2); the catalog fixture (authoritative,
            # FIXTURES.md) widens to (18,2) — accept the declared precision
            if isinstance(want_t, T.DecimalType):
                assert isinstance(got_t, T.DecimalType) and got_t.scale == want_t.scale
            elif isinstance(want_t, T.IntegerType):
                # the DDL corpus declares o_orderkey/l_orderkey BIGINT
                # (tpch_ddl.sql:52,63) where the catalog fixture uses i32
                # — both are faithful; accept any integral width
                assert got_t in (T.IntegerType(), T.LongType()), f"{name}.{got_f.name}"
            else:
                assert got_t == want_t, f"{name}.{got_f.name}"
    # keys
    assert tables["lineitem"].primary_key == ("l_orderkey", "l_linenumber")
    assert tables["partsupp"].primary_key == ("ps_partkey", "ps_suppkey")


@needs_reference
def test_ddl_register_empty_runs_query(spark):
    tables = parse_ddl(_read("tpch_ddl"))
    register_empty(spark, tables)
    try:
        assert spark.sql("select count(*) as n from partsupp").collect()[0].n == 0
    finally:
        for name in tables:
            spark.catalog.dropTempView(name)


def test_unsigned_widening():
    from xngin_spark.sources.ddl import parse_type

    assert parse_type("int unsigned") == T.LongType()
    assert parse_type("bigint unsigned") == T.DecimalType(20, 0)
    assert parse_type("tinyint unsigned") == T.ShortType()
    assert parse_type("decimal(15,2)") == T.DecimalType(15, 2)
