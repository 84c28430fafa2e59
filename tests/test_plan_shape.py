"""Plan-shape assertions — the executable twin of the reference's
plan-level test corpus (build_lgc.rs / rule_optimize.rs, SURVEY.md §5).

Each test pins a scale-critical physical property:
- predicate pushdown reaches the parquet scan (TableScan.filt analog)
- column pruning reaches ReadSchema (col_prune analog)
- dimension joins broadcast (no shuffle of the fact table)
- fused top-k plans TakeOrderedAndProject (Sort{limit} analog)
- the whole TPC-H path stays JVM-side (no Python UDF = no
  BatchEvalPython/ArrowEvalPython node)
- aggregates split partial/final (map-side combine)
- IN/EXISTS subqueries unnest to semi/anti/existence joins (the
  mark-join rewrite the reference only planned, join/mod.rs:22-23)
"""

from __future__ import annotations

import pytest

from xngin_spark import queries as Q
from xngin_spark.plans.explain import formatted_plan, pushed_filters, read_schemas

Q.load_all()
TPCH = [f"q{i}" for i in range(1, 23)]


def q(name, spark, sf_dir):
    return Q.QUERIES[name](spark, sf_dir)


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    pf = " ".join(pushed_filters(q("q6", spark, sf_dir)))
    # date range + discount between + quantity < : all at the scan
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf


def test_q6_column_pruning(spark, sf_dir):
    schemas = read_schemas(q("q6", spark, sf_dir))
    assert schemas, "no scan found"
    s = " ".join(schemas)
    # only the 4 referenced lineitem columns are read (16 in the table)
    assert "l_comment" not in s and "l_orderkey" not in s and "l_tax" not in s


def test_q1_partial_final_aggregate_and_codegen(spark, sf_dir):
    df = q("q1", spark, sf_dir)
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert simple.count("HashAggregate") >= 2, "no partial/final agg split"
    assert "partial_sum" in simple, "no map-side combine"
    # codegen ids only materialize in the AQE final plan — run THIS
    # dataframe's plan (count() would execute a different one), then read
    df.collect()
    assert "codegen id" in formatted_plan(df), "whole-stage codegen not engaged"


def test_q3_dimension_join_broadcasts(spark, sf_dir):
    p = formatted_plan(q("q3", spark, sf_dir))
    assert "BroadcastHashJoin" in p, "customer side should broadcast"


def test_q5_no_cartesian_and_broadcasts(spark, sf_dir):
    p = formatted_plan(q("q5", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_topk_plans_take_ordered(spark, sf_dir):
    p = formatted_plan(q("topk_fused", spark, sf_dir))
    assert "TakeOrderedAndProject" in p, "Sort+Limit should fuse to top-k"


def test_q4_exists_plans_semi_join(spark, sf_dir):
    p = formatted_plan(q("q4", spark, sf_dir))
    assert "LeftSemi" in p or "left_semi" in p.lower()


def test_q22_not_exists_plans_anti_join(spark, sf_dir):
    p = formatted_plan(q("q22", spark, sf_dir))
    assert "LeftAnti" in p or "left_anti" in p.lower()


@pytest.mark.parametrize("name", TPCH)
def test_tpch_path_is_jvm_only(name, spark, sf_dir):
    # UDFs are the slow path; the TPC-H surface must compile entirely to
    # JVM operators (BatchEvalPython/ArrowEvalPython = row/batch Python)
    p = formatted_plan(q(name, spark, sf_dir))
    assert "EvalPython" not in p, f"{name} fell back to Python execution"


@pytest.mark.parametrize("name", TPCH)
def test_tpch_every_scan_prunes_columns(name, spark, sf_dir):
    # no scan may read all 16 lineitem columns — col_prune always fires
    for s in read_schemas(q(name, spark, sf_dir)):
        assert s.count(",") < 15, f"{name} reads every lineitem column: {s}"


def test_bucketed_tpch_drops_fact_shuffles(spark, sf_dir):
    # The bucketed variants must eliminate the orderkey Exchange on BOTH
    # fact sides (orders, lineitem). Broadcast off + AQE off so the
    # static plan shows the real shuffle structure at scale.
    from xngin_spark.plans.explain import plan_signature

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        for name in ("q3", "q18"):
            plain = plan_signature(Q.QUERIES[name](spark, sf_dir))
            bkt = plan_signature(Q.QUERIES[f"{name}_bucketed"](spark, sf_dir))
            assert bkt.get("Exchange", 0) <= plain.get("Exchange", 0) - 2, (
                f"{name}: bucketed layout did not drop both fact-side "
                f"shuffles (plain={plain}, bucketed={bkt})"
            )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    # The skew answer must actually FIRE, not just be configured: build
    # a join where one key owns ~half the fact rows, force sort-merge
    # (broadcast off), lower the skew thresholds to local scale, and
    # assert the final adaptive plan marks the join skew-handled.
    from pyspark.sql import functions as F2

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200_000).select(
            F2.when(F2.col("id") % 2 == 0, F2.lit(7))
            .otherwise(F2.col("id") % 1000)
            .alias("k"),
            F2.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(
            F2.col("id").alias("k"), (F2.col("id") * 2).alias("dval")
        )
        # downstream must not REQUIRE the join's hash distribution (a
        # groupBy on the key would: splitting the skewed partition then
        # needs a re-shuffle, and AQE declines unless forced) — a global
        # aggregate is distribution-free, the common fact-join → metric
        # shape
        joined = fact.join(dim, "k").agg(F2.sum("payload").alias("s"))
        joined.collect()  # AQE re-plans at runtime — inspect AFTER execution
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, f"AQE skew-join did not fire:\n{final[:2000]}"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_bucketed_layout_moves_fewer_shuffle_bytes(spark, sf_dir):
    # runtime twin of test_bucketed_tpch_drops_fact_shuffles: the
    # bucketed variant must MOVE materially fewer bytes through the
    # shuffle, not merely plan fewer Exchange nodes. Broadcast off so
    # the fact joins actually shuffle in the plain variant.
    from xngin_spark.plans.metrics import executed_shuffle_bytes

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        plain = Q.QUERIES["q3"](spark, sf_dir)
        plain.collect()
        plain_bytes = executed_shuffle_bytes(plain)
        bkt = Q.QUERIES["q3_bucketed"](spark, sf_dir)
        bkt.collect()
        bkt_bytes = executed_shuffle_bytes(bkt)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert plain_bytes > 0
    # the customer join (customer isn't bucketed) and the final agg/sort
    # shuffle in BOTH variants; only the orderkey fact exchanges vanish —
    # measured ~49% of q3's shuffle bytes at sf0.001, growing with the
    # fact-to-dimension ratio at scale
    assert bkt_bytes < plain_bytes * 0.65, (
        f"bucketed layout still shuffles {bkt_bytes}B vs plain {plain_bytes}B"
    )


def test_runtime_bloom_filter_injection_fires(spark, sf_dir):
    """The 100 TB semi-join-reduction lever: with a selective dimension
    filter, Catalyst injects a bloom_filter_agg on the dimension side
    and a might_contain probe into the fact scan (InjectRuntimeFilter),
    cutting shuffle input before the join. Size thresholds keep it off
    at test scale (applicationSideScanSizeThreshold defaults to 10GB),
    so the test lowers them to prove the path is live in this session's
    conf — on a real cluster the defaults arm it automatically."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # broadcast joins use their own dynamic pruning; force the
        # shuffle-join path the bloom filter exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, "no bloom filter built on the dim side"
    assert "might_contain" in plan.lower() or "BloomFilter" in plan, plan[:500]


def test_codegen_cache_holds_a_repeated_working_set(spark):
    """The session's compiled-class cache outgrows Spark's default of
    100 classes: a second round of the same 150 distinct statements
    compiles no new class."""
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_round() -> int:
        before = compiled.getCount()
        for i in range(150):
            spark.range(8, numPartitions=1).selectExpr(
                f"id * {i + 2} + {i} AS c{i}"
            ).filter(f"c{i} % 3 <> {i % 3}").collect()
        return compiled.getCount() - before

    first = one_round()
    assert first > 100, first
    assert one_round() == 0
