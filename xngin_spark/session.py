"""SparkSession factory.

The reference runs a fixed worker-thread pool per server
(doradb-server/src/mysql/mod.rs:48-71); our unit of parallelism is the
Spark task. Conf here is chosen for the analytics path:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
  This stands in for the reference's (unfinished) physical planner.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number, so the setting scales.
- parquet filter pushdown + vectorized reader: the Spark analog of the
  reference's SMA zone maps (doradb-storage/src/col/sma.rs:10-15) and
  Data-Blocks codecs (doradb-storage/src/col/codec/mod.rs:9-33).
- Arrow enabled: pandas-UDF fast path for the operators/ package.
- UTC + session timezone pinned so timestamp semantics are stable and
  match the reference's zoneless Datetime (doradb-datatype/src/lib.rs:49).
- One driver JIT policy: C2 (tier-4) thresholds at 10x the JDK 17
  defaults. A statement here is mostly planning (dialect rewrite, the
  DPhyp gate, Catalyst analysis and optimization, Janino compiling the
  generated classes), and HotSpot spent more CPU optimizing that
  lukewarm per-plan code than Spark spent running it: over a warm
  sf0.01 tpch_wire pass the JIT compiled for 1.25 s per statement,
  mostly in its C2 threads. With the thresholds raised, per-plan code
  stays at C1 and C2 compiles only what is hot in proportion to the
  data: 0.49 s per statement, and CPU per statement fell 40%
  (tpch_wire) and 31% (cdc_stream). The trade-off is a heavy query's
  first execution, whose scan loops reach C2 later: on six sf1 TPC-H
  queries, first executions moved -14% to +8% per query (+0.5% in
  total) and warm runs -4% (SCALE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "xngin_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    In tests and the bench we run ``local[N]``; the same conf is valid on a
    cluster master — nothing here assumes single-node.

    ``profile`` (or env ``XNGIN_SPARK_PROFILE``) picks the shuffle
    posture:

    - ``"throughput"`` (default): AQE initialPartitionNum=256 — every
      shuffle starts wide and coalesces down, which is what keeps a
      600M-row sf100 join out of spill (the q5 cliff fix) and is the
      right default for the 100 TB target.
    - ``"latency"``: initialPartitionNum = 4x cores — sub-second micro
      queries stop paying the 0.1-0.3s tax of planning/coalescing 256
      partitions per shuffle (the r9 verdict's "small-row cost"); heavy
      joins still get AQE skew-splitting, just from a narrower start.
      Pick this for interactive/serving sessions at modest SF where
      sf100-class headroom is not wanted.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    profile = profile or os.environ.get("XNGIN_SPARK_PROFILE", "throughput")
    if profile not in ("throughput", "latency"):
        raise ValueError(
            f"unknown profile {profile!r}: expected 'throughput' or 'latency'"
        )
    initial_parts = "256" if profile == "throughput" else str(4 * int(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- parallelism / shuffle ---
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        # --- adaptive execution: runtime re-plan, skew handling ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (coalesce/skew-split) the shuffles FEEDING a
        # persisted subtree: the default (false) pins every cached
        # plan's exchanges at initialPartitionNum — the operator-internal
        # persists (minhash signatures, winnow fingerprints, band
        # buckets) were executing tiny shuffles as 256 scheduled tasks
        # with no runtime coalescing, and every cache READER inherited
        # the 256-partition layout. Output-partitioning stability of a
        # cache is not load-bearing anywhere in this engine (caches feed
        # differently-keyed joins/aggs), so the re-plan is pure win at
        # every scale.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # AQE starts every shuffle at 256 partitions and coalesces the
        # small ones away, so tiny queries stay cheap while a 600M-row
        # shuffle gets sort/hash buffers that fit memory. Measured at
        # the synthesized sf100: q5's lineitem shuffle spilled and ran
        # 169s at 32 fixed partitions, 57s with headroom + hash join
        # (SCALE.md round-9 session-2).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            initial_parts,
        )
        # Hash-first joins: when one side is provably the smaller, build
        # a hash table per partition instead of sorting BOTH sides —
        # sorting 600M rows was the whole q5 sf100 cliff. Spark's SHJ
        # spills since 3.2, so the sort fallback's only remaining edge
        # (graceful degradation) no longer requires paying the sort on
        # every large join.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # --- scan-side pruning (zone-map / codec analog) ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast: dimension tables (region/nation/supplier) are tiny ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- python <-> jvm fast path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic timestamp semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # The streaming twins' oracle-compare harness runs availableNow
        # into a MEMORY sink (results live on the driver by design —
        # that's what makes them comparable to the batch oracle in one
        # process). At sf100 an append-mode sink carries ~25M rows and
        # trips the 1g default ceiling; local[N] drivers here hold the
        # whole engine anyway (see driver.memory below), so give result
        # collection headroom. On a real cluster the streaming twins
        # write parquet/Kafka sinks and this limit never carries data.
        .config("spark.driver.maxResultSize", "8g")
        # Compiled-class cache: Spark keeps 100 generated classes by
        # default, fewer than one pass of the benchmark's statements
        # compiles, so every warm pass recompiled (and re-JITted) most
        # of them. Measured at sf0.01: a first pass compiles 159
        # (cdc_stream), 175 (tpch_wire) and 422 (pipeline_ops) distinct
        # classes, and tpch_wire's fresh constants add about 15 per
        # pass; 4000 holds all three with room for a long-lived server.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # --- quieter driver ---
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "false")
    )
    if os.path.isdir("/root/repo") and os.access("/tmp", os.W_OK):
        builder = builder.config("spark.local.dir", "/tmp/spark-local")
    # local[N] runs executors inside the driver JVM, so the 1g Spark
    # default is the binding memory limit for the whole engine — far
    # too small beyond sf0.1 (the sf1 scaling probe OOM'd the JVM mid
    # warmup). 8g is a local-mode default; on a real cluster driver
    # memory only holds plans + collected scalars and can stay modest.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = builder.config("spark.driver.memory", mem)
    # C2 only for code that is hot in proportion to the data: the four
    # tier-4 thresholds at 10x their JDK 17 defaults (5000/600/15000/
    # 40000), so per-plan code stays at C1 (module docstring). Set as
    # the driver's default Java options, not its extra ones: callers
    # pass their own extraJavaOptions (perfbench: heap and tmpdir),
    # which would replace the policy, while Spark prepends the default
    # options to them. Driver only: on a cluster the executors' scan
    # loops keep the JDK defaults; in local[N] they share this JVM,
    # which is why SCALE.md records the sf1 first executions.
    builder = builder.config(
        "spark.driver.defaultJavaOptions",
        "-XX:Tier4InvocationThreshold=50000"
        " -XX:Tier4MinInvocationThreshold=6000"
        " -XX:Tier4CompileThreshold=150000"
        " -XX:Tier4BackEdgeThreshold=400000",
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # initialPartitionNum is a runtime SQL conf: re-apply after
    # getOrCreate so the profile takes effect even when an existing
    # session is reused (builder confs are ignored on reuse)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initial_parts,
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
