"""Structured Streaming: batch results are the oracle.

The events table is re-written into multiple time-ordered files; the
stream is paced one file per micro-batch so watermark advancement and
cross-batch state actually happen (a single batch would hide both).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xngin_spark.streaming import (
    events_stream,
    run_available_now,
    running_totals,
    stream_session,
    stream_sliding,
    stream_tumbling,
)

N_FILES = 4


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events split into N_FILES time-ordered parquet files (arrival
    order ≈ event order, so watermarks advance monotonically)."""
    out = tmp_path_factory.mktemp("events_stream_src")
    # session-read ts is TIMESTAMP_NTZ (micros), so the rewrite keeps
    # the same physical type as the driver parquet
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.repartitionByRange(N_FILES, "ts").write.mode("overwrite").parquet(str(out))
    # FileStreamSource processes files in (mtime, path) order; parallel
    # writes leave mtimes arbitrary, so a later time-range could be
    # listed first and advance the watermark over earlier files (their
    # rows then drop as late). Stamp increasing mtimes in range order —
    # part-0000i is range i under repartitionByRange — so arrival order
    # matches event order deterministically.
    import os
    import time

    base = time.time() - 3600
    parts = sorted(
        f for f in os.listdir(out) if f.endswith(".parquet") and f.startswith("part-")
    )
    for i, f in enumerate(parts):
        os.utime(os.path.join(out, f), (base + i * 10, base + i * 10))
    return str(out)


def batch_events(spark, events_dir):
    df = spark.read.parquet(events_dir)
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_tumbling_stream_matches_batch(spark, events_dir):
    sdf = stream_tumbling(events_stream(spark, events_dir, max_files_per_trigger=1))
    got = run_available_now(sdf, "t_tumbling", output_mode="append")
    cols = ["window_start", "event_type", "n_events", "total_value"]

    e = batch_events(spark, events_dir)
    want = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    got_set = rows_set(got, ["window_start", "event_type", "n_events"])
    want_set = rows_set(want, ["window_start", "event_type", "n_events"])
    # append mode: every emitted window is final and must match batch
    # exactly; windows still above the final watermark never emit.
    assert got_set <= want_set
    assert len(got_set) > 0.5 * len(want_set), (
        f"only {len(got_set)}/{len(want_set)} windows emitted"
    )
    assert got.count() == len(got_set)  # exactly-once per window


def test_sliding_stream_matches_batch(spark, events_dir):
    sdf = stream_sliding(events_stream(spark, events_dir, max_files_per_trigger=1))
    got = run_available_now(sdf, "t_sliding", output_mode="append")
    e = batch_events(spark, events_dir)
    want = (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    got_set = rows_set(got, ["window_start", "event_type", "n_events"])
    want_set = rows_set(want, ["window_start", "event_type", "n_events"])
    assert got_set <= want_set and len(got_set) > 0.5 * len(want_set)


def test_session_stream_matches_batch(spark, events_dir):
    sdf = stream_session(events_stream(spark, events_dir, max_files_per_trigger=1))
    got = run_available_now(sdf, "t_session", output_mode="append")
    e = batch_events(spark, events_dir)
    want = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "n_events")
    )
    cols = ["user_id", "session_start", "n_events"]
    got_set = rows_set(got.select(*cols), cols)
    want_set = rows_set(want, cols)
    assert got_set <= want_set and len(got_set) > 0.3 * len(want_set)


def test_running_totals_stateful(spark, events_dir):
    sdf = running_totals(events_stream(spark, events_dir, max_files_per_trigger=1))
    got = run_available_now(sdf, "t_totals", output_mode="update")
    # update mode emits one row per user per batch they appear in; the
    # LAST emission per user carries state accumulated across ALL
    # batches — compare against the batch groupBy.
    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    e = batch_events(spark, events_dir)
    want = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    got_rows = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in final.collect()}
    want_rows = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in want.collect()}
    assert got_rows == want_rows
    # cross-batch statefulness: with N_FILES batches, users seen in >1
    # batch must have emitted >1 progressively-growing row
    multi = got.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert multi > 0, "no user updated across batches — state not exercised"


def test_stream_transitions_bridge_batches(spark, events_dir):
    # paced one file per micro-batch: a user's last event in batch N
    # must pair with their first event in batch N+1 via value state —
    # the exact pairs the batch lead() window produces over all files
    from xngin_spark.streaming import stream_transitions

    sdf = stream_transitions(events_stream(spark, events_dir, max_files_per_trigger=1))
    got = run_available_now(sdf, "t_transitions", output_mode="append")
    got_counts = {
        (r.event_type, r.next_type): r.n
        for r in got.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from pyspark.sql import Window as W

    e = batch_events(spark, events_dir)
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        e.select("event_type", F.lead("event_type").over(seq).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want_counts = {(r.event_type, r.next_type): r.n for r in want.collect()}
    assert got_counts == want_counts
    # the equality above only proves bridging if cross-file pairs exist:
    # confirm some user actually spans multiple range files
    import os

    files = sorted(
        f for f in os.listdir(events_dir) if f.startswith("part-")
    )
    first_file_users = {
        r.user_id
        for r in spark.read.parquet(os.path.join(events_dir, files[0]))
        .select("user_id").distinct().collect()
    }
    later_users = {
        r.user_id
        for r in spark.read.parquet(os.path.join(events_dir, files[-1]))
        .select("user_id").distinct().collect()
    }
    assert first_file_users & later_users, "no user spans batches — bridge untested"


def test_stream_dedup_across_batches(spark, events_dir):
    from xngin_spark.streaming import stream_dedup

    # every event delivered twice, paced one file per micro-batch so
    # the duplicate of an early event can arrive in a later batch.
    # delay must cover the full dataset span: the two file sources may
    # list files in different orders, and a row arriving below the
    # advanced watermark is (correctly) dropped as late — with a 2h
    # delay that made this test emit half the events on some listings.
    src = events_stream(spark, events_dir, max_files_per_trigger=1)
    doubled = src.unionAll(events_stream(spark, events_dir, max_files_per_trigger=1))
    got = run_available_now(
        stream_dedup(doubled, keys=("event_id",), delay="45 days"),
        "t_dedup",
        output_mode="append",
    )
    e = batch_events(spark, events_dir)
    assert got.count() == e.count()
    assert got.select("event_id").distinct().count() == e.count()


def test_stream_stream_join_matches_batch(spark, events_dir):
    from xngin_spark.streaming import stream_stream_join

    clicks = events_stream(spark, events_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "click"
    )
    purchases = events_stream(spark, events_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    # full-span delay for the same reason as the dedup test: unordered
    # file listing + a short watermark horizon can evict a buffered row
    # before its partner batch arrives
    got = run_available_now(
        stream_stream_join(clicks, purchases, delay="45 days"),
        "t_ssjoin",
        output_mode="append",
    )
    e = batch_events(spark, events_dir)
    c = e.filter(F.col("event_type") == "click").alias("l")
    p = e.filter(F.col("event_type") == "purchase").alias("r")
    want = c.join(
        p,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 300 SECOND")),
    ).select(F.col("l.event_id").alias("event_id"), F.col("r.event_id").alias("event_id_r"))
    got_set = rows_set(got, ["event_id", "event_id_r"])
    want_set = rows_set(want, ["event_id", "event_id_r"])
    assert got_set == want_set and len(want_set) > 0


def _run_tumbling(src, tmp_path):
    run_available_now(stream_tumbling(src), "t_timeout", timeout_s=0.5)


def _run_window_counts(src, tmp_path):
    from xngin_spark.streaming.sinks import incremental_window_counts

    incremental_window_counts(
        src, str(tmp_path / "mv"), str(tmp_path / "ckpt"), timeout_s=0.5
    )


@pytest.mark.parametrize(
    "run",
    [_run_tumbling, _run_window_counts],
    ids=["run_available_now", "incremental_window_counts"],
)
def test_run_available_now_timeout_stops_query(spark, events_dir, tmp_path, run):
    # a timeout must RAISE and stop the query — returning the partially
    # populated sink would silently truncate results into a hash
    # mismatch with no diagnosable error (r2 advice item)
    before = {q.id for q in spark.streams.active}
    src = events_stream(spark, events_dir, max_files_per_trigger=1)
    with pytest.raises(TimeoutError, match="did not finish"):
        # 0.5s: four micro-batches cannot finish that fast, but
        # awaitTermination requires a strictly positive timeout
        run(src, tmp_path)
    # the overrunning query was stopped, not left running in the background
    deadline = __import__("time").time() + 30
    while {q.id for q in spark.streams.active} - before:
        assert __import__("time").time() < deadline, "query still active after timeout"
        __import__("time").sleep(0.5)


def test_stream_timeout_env_reaches_foreach_batch_sinks(
    spark, events_dir, tmp_path, monkeypatch
):
    """XNGIN_STREAM_TIMEOUT_S bounds every sink, not only
    ``run_available_now``: a foreachBatch sink called without
    ``timeout_s`` waits with the env value."""
    from pyspark.sql.streaming import StreamingQuery

    from xngin_spark.streaming.sinks import incremental_window_counts

    waited, wait = [], StreamingQuery.awaitTermination

    def record_wait(self, timeout=None):
        waited.append(timeout)
        return wait(self, timeout)

    monkeypatch.setenv("XNGIN_STREAM_TIMEOUT_S", "97")
    monkeypatch.setattr(StreamingQuery, "awaitTermination", record_wait)
    incremental_window_counts(
        events_stream(spark, events_dir), str(tmp_path / "mv"),
        str(tmp_path / "ckpt"),
    )
    assert waited == [97]


def test_stateful_run_uses_session_partitions(spark, sf_dir, monkeypatch):
    """A registered stateful stream writes no session conf, and its state
    operator runs with the session's ``spark.sql.shuffle.partitions`` —
    another statement planning on the same session meanwhile sees the
    session's value."""
    from pyspark.sql.conf import RuntimeConfig
    from pyspark.sql.streaming import DataStreamWriter

    from xngin_spark.queries.windows import events_stream_session

    started, conf_writes = [], []
    start, conf_set = DataStreamWriter.start, RuntimeConfig.set

    def record_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    def record_set(self, key, value):
        conf_writes.append((key, value))
        conf_set(self, key, value)

    monkeypatch.setattr(DataStreamWriter, "start", record_start)
    monkeypatch.setattr(RuntimeConfig, "set", record_set)
    assert events_stream_session(spark, sf_dir).count() > 0
    assert conf_writes == []
    (q,) = started
    # the stream thread records each batch's progress before the query
    # terminates, so the finished query's history is complete
    parts = {
        op.numShufflePartitions
        for p in q.recentProgress
        for op in p.stateOperators
    }
    assert parts == {int(spark.conf.get("spark.sql.shuffle.partitions"))}


@pytest.fixture
def parquet_sink(monkeypatch, tmp_path):
    monkeypatch.setenv("XNGIN_STREAM_SINK", "parquet")
    monkeypatch.setenv("XNGIN_STREAM_SINK_DIR", str(tmp_path / "sink"))
    return tmp_path / "sink"


def test_parquet_sink_empty_stream_is_empty(spark, parquet_sink, tmp_path):
    src = tmp_path / "empty_src"
    src.mkdir()
    sdf = events_stream(spark, str(src))
    counts = sdf.groupBy("event_type").count()
    for mode, stream in (("append", sdf), ("complete", counts)):
        got = run_available_now(stream, f"t_empty_{mode}", output_mode=mode)
        assert got.dtypes == stream.dtypes
        assert got.count() == 0


def test_parquet_sink_unreadable_log_raises(spark, events_dir, parquet_sink):
    """A sink dir whose file-sink log cannot be read must raise, not read
    back as an empty result. The filter garbles the log of batch 0 while
    batch 1 runs (one file per batch), as a foreign writer might."""
    import os

    log0 = str(parquet_sink / "t_bad_log" / "_spark_metadata" / "0")

    @F.udf("boolean")
    def garble_log(_):
        if os.path.exists(log0):
            with open(log0, "w") as f:
                f.write("garbage\n")
        return True

    sdf = events_stream(spark, events_dir, max_files_per_trigger=1).filter(
        garble_log("event_id")
    )
    with pytest.raises(Exception, match="(?i)malformed"):
        run_available_now(sdf, "t_bad_log").collect()


@pytest.mark.slow
def test_incremental_window_counts_sink(spark, events_dir, tmp_path):
    from xngin_spark.streaming.sinks import incremental_window_counts

    out = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    src = events_stream(spark, events_dir, max_files_per_trigger=1)
    incremental_window_counts(src, out, ckpt, delay="45 days")

    got = spark.read.parquet(out).select("window_start", "event_type", "n_events")
    e = batch_events(spark, events_dir)
    want = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    cols = ["window_start", "event_type", "n_events"]
    assert rows_set(got, cols) == rows_set(want, cols)

    # replay idempotency: a fresh run over the same source into the
    # same table must converge to the identical state
    incremental_window_counts(src, out, str(tmp_path / "ckpt2"), delay="45 days")
    again = spark.read.parquet(out).select(*cols)
    assert rows_set(again, cols) == rows_set(want, cols)


def test_incremental_ivf_index_stream(spark, sf_dir, tmp_path):
    # stream embeddings in 2 paced files into a partitioned IVF index;
    # the streamed index must equal the batch assignment, a probe must
    # prune to the probed lists, and a replay must not duplicate rows
    import pyspark.sql.types as T

    from xngin_spark.operators import clustering as C
    from xngin_spark.streaming.sinks import incremental_ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = C.kmeans_fit(emb, 4, max_iter=3)

    src = str(tmp_path / "emb_src")
    emb.repartitionByRange(2, "vec_id").write.mode("overwrite").parquet(src)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)

    idx = str(tmp_path / "ivf_idx")
    incremental_ivf_index(sdf, cents, idx, str(tmp_path / "ckpt"))

    got = spark.read.parquet(idx)
    want = C.ivf_index(emb, cents)
    got_assign = {(r.vec_id, r.ivf_list) for r in got.select("vec_id", "ivf_list").collect()}
    want_assign = {(r.vec_id, r.ivf_list) for r in want.select("vec_id", "ivf_list").collect()}
    assert got_assign == want_assign

    # probe prunes on ivf_list across batch dirs
    from xngin_spark.plans.explain import partition_filters

    probe = got.filter(F.col("ivf_list").isin([0, 1]))
    assert any("ivf_list" in f for f in partition_filters(probe))

    # replay with a FRESH checkpoint rewrites the same batch dirs —
    # exactly-once by construction, no duplicate rows
    incremental_ivf_index(sdf, cents, idx, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(idx).count() == len(want_assign)


def test_stateful_boundary_prunes_columns(spark, events_dir):
    """The pandas state functions receive ONLY the columns they read:
    the wide ``props`` JSON string (and, for transitions, ``value``)
    must never cross the Arrow JVM→Python boundary (r12 §4.1
    projection). Asserted on the analyzed plan's state-operator child
    output, which is what gets shipped per batch."""
    from xngin_spark.streaming.stateful import (
        stream_attribution,
        stream_transitions,
    )

    def boundary_cols(df):
        child = df._jdf.queryExecution().analyzed().children().head()
        out = child.output()
        return {out.apply(i).name() for i in range(out.size())}

    sdf = events_stream(spark, events_dir)
    assert boundary_cols(stream_transitions(sdf)) == {
        "user_id", "ts", "event_id", "event_type"
    }
    assert boundary_cols(stream_attribution(sdf)) == {
        "user_id", "ts", "event_id", "event_type", "value"
    }
    assert boundary_cols(running_totals(sdf)) == {"user_id", "value"}
