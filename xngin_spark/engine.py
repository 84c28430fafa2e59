"""Engine facade — the Spark analog of the reference's query lifecycle.

Reference entry points (SURVEY.md §3): MySQL wire session
(doradb-server/src/mysql/session.rs:79-93, dies at `todo!()`) and the
programmatic parse → LgcPlan → rule_optimize → join_reorder pipeline
(doradb-plan/src/lgc/builder.rs:20-59, rule/mod.rs:55-85). Here the whole
pipeline collapses to: dialect-shimmed SQL (or DataFrame combinators) →
Catalyst analyze/optimize/plan → Tungsten execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xngin_spark.catalog import Catalog
from xngin_spark.dialect import rewrite_sql
from xngin_spark.session import get_spark


class Engine:
    """Thin session+catalog facade: ``Engine(sf_dir).sql("select ...")``."""

    def __init__(
        self,
        data_dir: str | None = None,
        spark: SparkSession | None = None,
        app_name: str = "xngin_spark",
    ) -> None:
        self.spark = spark or get_spark(app_name)
        self.catalog = Catalog(self.spark)
        if data_dir:
            self.catalog.register_dir(data_dir)

    def sql(
        self,
        query: str,
        dialect: str = "ansi",
        reorder: bool | str = "auto",
    ) -> DataFrame:
        """Run SQL in the reference's dialect surface (MySQL-isms shimmed).

        ``dialect`` selects the input dialect like the reference's
        parser flag (doradb-sql/src/parser/dialect.rs:14-20):
        ``ansi`` (default, "ident" quoting), ``mysql`` ("string"
        literals), or ``spark`` for untouched Spark SQL.

        ``reorder`` routes the text through the DPhyp join reorderer
        (plans/sqlreorder.dphyp_sql — the reference runs its reorder
        inside every plan pipeline, join/reorder/mod.rs:24-33):

        - ``"auto"`` (DEFAULT — the reference's posture): rewrite only
          when the cost gate finds the text's own order ≥10× the DPhyp
          optimum under measured join-key NDVs. Well-written texts keep
          their plans bit-for-bit (every stock TPC-H text gates ≤4.5×,
          the adversarial fact-first q5 gates at 1100×+), so default-on
          costs plan stability nothing while rescuing genuinely
          mis-ordered texts (18×+ measured, DPHYP_WIN.json).
        - ``True``: rewrite every reorderable region unconditionally.
        - ``False``: plain ``spark.sql`` after dialect shimming.

        Result-identical by construction in every mode; falls back to
        the plain text on any unsupported shape, and non-query
        statements (INSERT/DDL/...) bypass the rewriter entirely — they
        execute eagerly at analysis, so the bypass is what guarantees
        single execution."""
        text = rewrite_sql(query, dialect)
        if reorder:
            from xngin_spark.plans.sqlreorder import dphyp_sql

            mode = "auto" if reorder == "auto" else "always"
            return dphyp_sql(self.spark, text, mode=mode)
        return self.spark.sql(text)

    def table(self, name: str) -> DataFrame:
        try:
            return self.catalog.table(name)
        except KeyError:
            # session-registered views (e.g. ddl()-created typed tables)
            return self.spark.table(name)

    def ddl(self, script: str) -> list[str]:
        """Execute a reference-dialect DDL script (CREATE TABLE with the
        reference's column types, PK/UK clauses, unsigned ints, TIME;
        CREATE DATABASE/USE/DROP recognized and skipped — flat catalog).
        Each table registers as an empty typed view ready for
        ``insert_into``/``register_dir`` loads; returns the table names.
        The reference parses this surface (doradb-sql/src/parser/ddl.rs)
        against its own page store; here the translator targets Spark
        StructTypes (sources/ddl.py, verified against tpch_ddl.sql)."""
        from xngin_spark.sources.ddl import parse_ddl, register_empty

        tables = parse_ddl(script)
        register_empty(self.spark, tables)
        return sorted(tables)

    def ctas(
        self,
        name: str,
        query: str,
        path: str,
        dialect: str = "ansi",
        partition_by: list[str] | None = None,
        mode: str = "error",
    ) -> DataFrame:
        """CREATE TABLE AS SELECT: materialize ``query`` as a parquet
        table at ``path`` and register it in the catalog. The reference
        parses CREATE TABLE but never executes it (no physical layer);
        here the loop closes — the result is written once and every
        later read is a pushdown-capable parquet scan. ``partition_by``
        lays the table out for partition pruning; ``mode='overwrite'``
        replaces an existing table."""
        from xngin_spark.sources.writers import write_parquet

        df = self.sql(query, dialect)
        write_parquet(df, path, partition_by=partition_by, mode=mode)
        self.catalog.register(name, path)
        return self.table(name)

    def register_udf(self, name: str, fn, return_type) -> None:
        """Scalar UDF registration — executes the hook the reference only
        parses (``FuncExpr.fname``, doradb-sql/src/ast.rs:976-983: any
        unknown function name parses into a UDF call that nothing ever
        resolves). Registered UDFs are callable from ``sql()``.

        Policy: UDFs are the slow path (per-row Python, breaks
        whole-stage codegen — SCALE.md Python-boundary policy). Every
        built-in operator in this engine avoids them; this hook exists
        for user extensions, and heavy numeric UDFs should be
        ``pandas_udf`` (Arrow-batched) instead.
        """
        self.spark.udf.register(name, fn, return_type)

    def register_pandas_udf(self, name: str, fn) -> None:
        """Register an Arrow-batched ``pandas_udf`` (built with
        ``pyspark.sql.functions.pandas_udf``) under ``name`` for use in
        ``sql()`` — the vectorized UDF path (10-100x the row-at-a-time
        form)."""
        self.spark.udf.register(name, fn)

    def explain(self, query: str) -> str:
        """Formatted physical plan — the analog of the reference's EXPLAIN
        renderer (doradb-plan/src/explain.rs:38-41)."""
        df = self.sql(query)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )

    def explain_analyze(self, query: str) -> str:
        """EXPLAIN ANALYZE: run the query and render the plan annotated
        with actual per-node metrics (rows, shuffle bytes) — beyond the
        reference, which renders plans without executing."""
        from xngin_spark.plans.explain import explain_analyze

        return explain_analyze(self.sql(query))

    def stop(self) -> None:
        self.spark.stop()
