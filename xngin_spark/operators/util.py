"""Shared operator utilities."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def values_df(spark: SparkSession, schema: str, rows: list[tuple]) -> DataFrame:
    """Small literal DataFrame built JVM-side via a SQL VALUES clause.

    ``spark.createDataFrame(local_rows)`` routes every job over the
    result through the python->JVM local-relation conversion, which
    costs ~3-5s of py4j/Arrow machinery PER ACTION even for one row
    (measured; see queries/micro.py try_cast matrix note). A VALUES
    literal is a Catalyst LocalRelation — sub-ms to build, free to
    re-evaluate — so metadata writes (index _meta / _txn intent) and
    literal query tables stop paying a Python-worker stage each.

    ``schema`` is a DDL string (``"a long, b string"``); values may be
    int/float/str/bool/None and are rendered as SQL literals (strings
    escaped), then cast column-wise to the declared types so the result
    schema is exact regardless of literal inference.

    ``rows == []`` falls back to ``createDataFrame([], schema)``:
    ``VALUES`` with zero tuples is a ParseException, and the empty case
    is a one-time degenerate path (e.g. BPE on a corpus with no pairs)
    where the py4j conversion cost is irrelevant. The DDL is parsed via
    ``StructType.fromDDL`` so parameterized types (``decimal(10,2)``,
    ``array<int>``) survive — a naive ``split(',')`` would shear them."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], struct)
    names = [f.name for f in struct.fields]
    types = [f.dataType.simpleString() for f in struct.fields]
    raw_backslashes = (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        == "true"
    )

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            # doubled-quote escaping parses identically whether or not
            # spark.sql.parser.escapedStringLiterals is set; backslashes
            # have no mode-independent rendering, so escape them only
            # when the parser treats them as escapes
            s = v if raw_backslashes else v.replace("\\", "\\\\")
            return "'" + s.replace("'", "''") + "'"
        if isinstance(v, float) and not math.isfinite(v):
            # repr(inf/nan) is not a SQL literal; Spark accepts the
            # typed literal form for non-finite doubles
            return f"CAST('{v}' AS DOUBLE)"
        return repr(v)

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
    )
    raw = spark.sql(
        f"SELECT * FROM VALUES {values} AS t({', '.join(names)})"
    )
    return raw.select(
        *[F.col(n).cast(t).alias(n) for n, t in zip(names, types)]
    )


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Ensure at least cluster-parallelism partitions before an
    expression-heavy map stage.

    Parquet can't split below one row group, so a small file (or a
    coalesced upstream stage) serializes everything after it onto one
    core. When the input already has enough partitions — the normal case
    on a real cluster reading many files — this is a no-op costing one
    ``getNumPartitions`` call, so the full-data shuffle only ever happens
    on inputs small enough for it to be cheap.
    """
    if df.isStreaming:
        # micro-batch parallelism is governed by the source (file
        # splits / Kafka partitions) and shuffle conf; .rdd is illegal
        # on a streaming frame, so the guard no-ops — letting the
        # map-side operators (signatures, features) run unchanged in
        # streaming twins
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def release_checkpoint(df: DataFrame) -> None:
    """Release the storage held by a ``localCheckpoint(eager=True)``
    DataFrame once it is no longer needed.

    ``df.rdd.unpersist()`` is a no-op here: ``.rdd`` deserializes a NEW
    RDD over the checkpointed plan, and unpersisting that fresh wrapper
    leaves the actually-persisted internal RDD in the block manager
    (verified via ``sc.getPersistentRDDs``). The persisted RDD is the
    one the checkpointed Dataset's ``LogicalRDD`` leaf carries — grab
    that handle and unpersist it. Iterative operators (connected
    components, k-means) call this per superseded iteration so storage
    stays O(1) in iteration count instead of accumulating one
    checkpoint per round.

    Only call on a DataFrame whose data is truly dead: a locally
    checkpointed RDD has no lineage and cannot be recomputed after
    unpersisting.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # release is best-effort; never fail the query over cleanup


def release_all(spark: SparkSession) -> int:
    """Free every persisted and checkpointed RDD in the session and the
    cache manager's cached plans; return how many RDDs were held.

    Spark's block manager is the one record of what operators stored:
    ``persist`` caches (minhash signatures, winnow fingerprints) and
    ``localCheckpoint`` barriers alike. Query runners (the bench, the
    test fixture, the probe tools) call this once per query, after its
    result is fully materialized or has failed. Library code never
    calls it: a checkpoint has no lineage, so draining one that a live
    plan still reads kills that plan. Per-iteration release inside an
    operator is :func:`release_checkpoint`.
    """
    held = spark.sparkContext._jsc.getPersistentRDDs()
    n = held.size()
    for rdd in list(held.values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return n
