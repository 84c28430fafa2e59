"""Round-10 additions: the BM25 streaming transaction floor cut
(one-job staging + fused scrub/append swaps + JVM-local metadata
writes), kcore loud non-convergence, and the r9 ADVICE fixes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# --- values_df: literal frames without the python->JVM stage ---------------


def test_values_df_schema_and_values(spark):
    from xngin_spark.operators.util import values_df

    df = values_df(
        spark,
        "a long, b string, c double, d boolean",
        [(1, "x'y\\z", 1.5, True), (None, None, None, None)],
    )
    assert [f.simpleString() for f in df.schema.fields] == [
        "a:bigint", "b:string", "c:double", "d:boolean",
    ]
    got = _rows(df)
    assert got == [(1, "x'y\\z", 1.5, True), (None, None, None, None)]


def test_values_df_is_local_relation(spark):
    """The whole point: the plan must be a Catalyst LocalRelation (or
    its one-row project over it), never a python RDD scan."""
    from xngin_spark.operators.util import values_df

    df = values_df(spark, "a long", [(1,), (2,)])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan


# --- scrub_append_rows: the fused swap primitive ----------------------------


def test_scrub_append_rows_fused_swap(spark, tmp_path):
    from xngin_spark.operators.util import values_df
    from xngin_spark.sources.dml import scrub_append_rows

    p = str(tmp_path / "t")
    values_df(
        spark, "id long, v string", [(1, "a"), (2, "b"), (3, "c")]
    ).coalesce(1).write.parquet(p)
    gone = values_df(spark, "id long", [(2,), (3,)])
    add = values_df(spark, "id long, v string", [(2, "B"), (4, "d")])
    scrub_append_rows(spark, p, gone, "id", add)
    assert _rows(spark.read.parquet(p)) == [
        (1, "a"), (2, "B"), (4, "d"),
    ]
    # idempotent replay of the same absolutes converges
    scrub_append_rows(spark, p, gone, "id", add)
    assert _rows(spark.read.parquet(p)) == [
        (1, "a"), (2, "B"), (4, "d"),
    ]


def test_scrub_append_rows_seeds_missing_dataset(spark, tmp_path):
    from xngin_spark.operators.util import values_df
    from xngin_spark.sources.dml import scrub_append_rows

    p = str(tmp_path / "fresh")
    gone = values_df(spark, "id long", [(9,)])
    add = values_df(spark, "id long, v string", [(1, "a")])
    scrub_append_rows(spark, p, gone, "id", add)
    assert _rows(spark.read.parquet(p)) == [(1, "a")]


def test_scrub_append_rows_pure_append_when_untouched(spark, tmp_path):
    """A delta touching no stored file must not rewrite anything —
    just append (the pure-insert fast path)."""
    from xngin_spark.operators.util import values_df
    from xngin_spark.sources.dml import scrub_append_rows

    p = str(tmp_path / "t")
    values_df(spark, "id long, v string", [(1, "a")]).coalesce(1).write.parquet(p)
    before = {
        f for f in os.listdir(p) if f.endswith(".parquet")
    }
    gone = values_df(spark, "id long", [(99,)])
    add = values_df(spark, "id long, v string", [(2, "b")])
    scrub_append_rows(spark, p, gone, "id", add)
    after = {f for f in os.listdir(p) if f.endswith(".parquet")}
    assert before < after, "original file should survive untouched"
    assert _rows(spark.read.parquet(p)) == [(1, "a"), (2, "b")]


# --- BM25 txn: old five-directory staged layout still rolls forward --------


@pytest.mark.slow
def test_bm25_apply_txn_reads_pre_round10_staged_layout(
    spark, sf_dir, tmp_path
):
    """An index that crashed mid-apply under the old code (five staged
    directories) must roll forward after the upgrade to the single
    partitioned ``_txn/staged`` dataset."""
    from xngin_spark.operators import corpus
    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_update,
    )
    from xngin_spark.sources.dml import table_diff

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 200)
    v2 = v1.filter(F.col("doc_id") % 11 != 0).unionByName(
        d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 220))
    )
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    diff = table_diff(v1, v2, keys=["doc_id"]).localCheckpoint(eager=True)

    # stage under the NEW layout, then rewrite it into the OLD layout
    # and crash before any apply — simulating a pre-upgrade crash
    real_apply = corpus._bm25_apply_txn

    class _Boom(RuntimeError):
        pass

    def crash_apply(*a, **k):
        raise _Boom("crash before apply")

    corpus._bm25_apply_txn = crash_apply
    try:
        with pytest.raises(_Boom):
            bm25_index_update(v2, diff, idx, batch_token="up:1")
    finally:
        corpus._bm25_apply_txn = real_apply

    txn = f"{idx}/_txn"
    staged = spark.read.parquet(f"{txn}/staged")
    legacy = {
        "keys": staged.filter(F.col("tbl") == "keys").select("doc_id"),
        "tokens": staged.filter(F.col("tbl") == "tokens").select("tok"),
        "postings": staged.filter(F.col("tbl") == "postings").select(
            "doc_id", "tok", F.col("n").alias("tf")
        ),
        "doclen": staged.filter(F.col("tbl") == "doclen").select(
            "doc_id", F.col("n").alias("dl")
        ),
        "termstats": staged.filter(F.col("tbl") == "termstats").select(
            "tok", F.col("n").alias("df")
        ),
    }
    for name, df in legacy.items():
        df.write.mode("overwrite").parquet(f"{txn}/{name}")
    import shutil

    shutil.rmtree(f"{txn}/staged")
    spark.catalog.refreshByPath(txn)

    # replay: the intent matches the token, so the update must roll
    # forward from the OLD-layout staged absolutes
    bm25_index_update(v2, diff, idx, batch_token="up:1")
    full = str(tmp_path / "full")
    bm25_index_persist(v2, full)

    def index_rows(path):
        return {
            sub: _rows(spark.read.parquet(f"{path}/{sub}"))
            for sub in ("postings", "doclen", "termstats")
        }

    assert index_rows(idx) == index_rows(full)


# --- kcore: non-convergence is loud, fixpoint is silent ---------------------


def test_kcore_budget_exhaustion_warns_superset(spark):
    """A cascading chain peels one node per round; a 2-round budget on
    a long chain cannot reach the fixpoint and must warn naming the
    rounds knob (the winnow-cap discipline)."""
    import warnings

    from xngin_spark.operators.corpus import kcore_peel
    from xngin_spark.operators.util import values_df

    chain = values_df(
        spark, "lo long, hi long", [(i, i + 1) for i in range(12)]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = kcore_peel(chain, k=2, rounds=2)
        n = out.count()
    assert n > 0, "truncated peel returns a superset, not empty"
    assert any("rounds" in str(w.message) and "fixpoint" in str(w.message)
               for w in caught), "budget exhaustion did not warn"


def test_kcore_fixpoint_is_silent_and_early_exit_matches_budget(spark):
    import warnings

    from xngin_spark.operators.corpus import kcore_peel
    from xngin_spark.operators.util import values_df

    k4_plus_tail = values_df(
        spark, "lo long, hi long",
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        a = _rows(kcore_peel(k4_plus_tail, k=3, rounds=4))
        b = _rows(kcore_peel(k4_plus_tail, k=3, rounds=64))
    assert a == b
    assert not any("fixpoint" in str(w.message) for w in caught), (
        "converged peel must not warn"
    )


# --- NDV cache freshness: in-place data growth re-measures -------------------


def test_ndv_cache_refreshes_after_in_place_append(spark, tmp_path):
    """The auto-reorder gate caches per-vertex NDVs keyed by plan
    fingerprint. A CDC/maintenance append to the SAME path inside a
    long-lived session must move the fingerprint (the canonicalized
    plan text alone does not change) so the gate re-measures instead
    of costing joins with stale cardinalities (r9 verdict #4)."""
    from xngin_spark.operators.util import values_df
    from xngin_spark.plans.reorder import (
        Edge,
        measure_edge_ndv,
        plan_fingerprint,
    )

    p = str(tmp_path / "grows")
    values_df(
        spark, "k long, v long", [(i % 3, i) for i in range(30)]
    ).coalesce(1).write.parquet(p)
    other = values_df(spark, "k long, w long", [(i, i) for i in range(3)])

    cache: dict = {}
    df1 = spark.read.parquet(p)
    fp1 = plan_fingerprint(df1)
    ndv1 = measure_edge_ndv(
        {"g": df1, "o": other}, [Edge("g", "o", [("k", "k")])], cache
    )
    assert ndv1[("g", "__rows__")] == 30.0

    # in-place growth: 300 fresh rows with 97 new distinct keys
    values_df(
        spark, "k long, v long", [(100 + i % 97, i) for i in range(300)]
    ).coalesce(1).write.mode("append").parquet(p)
    spark.catalog.refreshByPath(p)
    df2 = spark.read.parquet(p)
    fp2 = plan_fingerprint(df2)
    assert fp1 != fp2, "append to the same path must move the fingerprint"
    ndv2 = measure_edge_ndv(
        {"g": df2, "o": other}, [Edge("g", "o", [("k", "k")])], cache
    )
    assert ndv2[("g", "__rows__")] == 330.0
    assert ndv2[("g", "k")] > ndv1[("g", "k")] * 5

    # and the ORIGINAL fingerprint's entries are untouched (cache is
    # versioned, not invalidated wholesale)
    assert cache[(fp1, "__rows__")] == 30.0


# --- hash-first default: two-large-sides join degrades gracefully -----------


def test_shj_default_survives_large_build_side(spark):
    """session.py defaults preferSortMergeJoin=false justified by
    provably-small build sides in the bench plans; this pins the
    UNGUARDED case — both sides large and comparably sized, broadcast
    disabled — completing with the exact result (SHJ spills since
    Spark 3.2; AQE's dynamic strategy may also flip the join back).
    The plan must still be a real shuffle join, not a cartesian."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from pyspark.sql import functions as F

        n = 2_000_000
        left = spark.range(n).select(
            (F.col("id") % 500_000).alias("k"),
            F.concat(F.lit("L" * 60), F.col("id").cast("string")).alias("lp"),
        )
        right = spark.range(n).select(
            (F.col("id") % 500_000).alias("k"),
            F.concat(F.lit("R" * 60), F.col("id").cast("string")).alias("rp"),
        )
        j = left.join(right, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        # each key appears 4x on each side -> 16 output rows per key
        assert j.count() == 500_000 * 16
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_latency_profile_narrows_initial_partitions(spark):
    from xngin_spark.session import get_spark

    s = get_spark("profile_probe", cpus=8, profile="latency")
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert s.conf.get(key) == "32"
    s2 = get_spark("profile_probe", cpus=8, profile="throughput")
    assert s2.conf.get(key) == "256"
    with pytest.raises(ValueError, match="profile"):
        get_spark("profile_probe", cpus=8, profile="warp")


# --- stream_attribution: out-of-order arrival raises, never mis-credits -----


def test_stream_attribution_out_of_order_batches_raise(spark, tmp_path):
    """A source whose files arrive against event-time order (e.g. a
    late backfill) must fail LOUDLY — the per-user high-watermark in
    state detects it (r9 ADVICE: previously silent mis-attribution)."""
    from pyspark.sql import types as T

    from xngin_spark.streaming.stateful import stream_attribution

    schema = (
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double"
    )
    from datetime import datetime

    late = [(1, 1, datetime(2024, 1, 1, 10, 0), "click", 0.0),
            (1, 2, datetime(2024, 1, 1, 10, 5), "purchase", 5.0)]
    early = [(1, 3, datetime(2024, 1, 1, 9, 0), "view", 0.0)]
    feed = str(tmp_path / "feed")
    for i, rows in enumerate([late, early]):  # arrival order != ts order
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        # ensure distinct mtimes so maxFilesPerTrigger order is stable
        import time as _t

        _t.sleep(1.1)
    sdf = (
        spark.readStream.schema(
            T.StructType.fromDDL(schema)
        ).option("maxFilesPerTrigger", "1").parquet(feed)
    )
    out = stream_attribution(sdf)
    q = (
        out.writeStream.format("memory").queryName("attr_ooo")
        .outputMode("append").trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="ordering precondition"):
        try:
            q.awaitTermination(120)
        except Exception as e:
            raise RuntimeError(str(e)) from e
        finally:
            if q.isActive:
                q.stop()


# --- streaming io: malformed timeout env is a warning, not a crash ----------


def test_stream_timeout_env_typo_warns_and_falls_back(
    spark, monkeypatch
):
    import warnings

    from xngin_spark.streaming.io import documents_stream, run_available_now

    monkeypatch.setenv("XNGIN_STREAM_TIMEOUT_S", "12O")  # typo'd O
    sf = os.environ.get("XNGIN_TEST_SF_DIR", "/root/testdata/sf0.001")
    sdf = documents_stream(
        spark, os.path.join(sf, "documents.parquet")
    ).groupBy().count()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run_available_now(sdf, "t_env_typo", output_mode="complete")
    assert any("XNGIN_STREAM_TIMEOUT_S" in str(w.message) for w in caught)


# --- generalized streaming CEP: regex -> DFA, earliest-end semantics --------


def _earliest_end_count(pattern: str, s: str) -> int:
    """Executable specification: count non-overlapping matches taking,
    at each step, the match with the EARLIEST possible end position
    (ties collapsed), then skipping past it. re.fullmatch is used only
    as a membership oracle."""
    import re

    n, i = 0, 0
    while i < len(s):
        found = None
        for end in range(i + 1, len(s) + 1):
            if any(
                re.fullmatch(pattern, s[start:end])
                for start in range(i, end)
            ):
                found = end
                break
        if found is None:
            break
        n += 1
        i = found
    return n


def test_cep_compile_matches_spec_on_random_patterns():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from xngin_spark.streaming.cep import CompiledPattern

    chars = st.sampled_from("abc")
    atoms = st.one_of(chars, chars.map(lambda c: f"({c})"))
    repeated = st.one_of(
        atoms,
        atoms.map(lambda a: a + "*"),
        atoms.map(lambda a: a + "+"),
        atoms.map(lambda a: a + "?"),
    )
    concat = st.lists(repeated, min_size=1, max_size=4).map("".join)
    pattern = st.lists(concat, min_size=1, max_size=3).map("|".join)

    @settings(max_examples=120, deadline=None)
    @given(pattern, st.text(alphabet="abc", max_size=24))
    def check(pat, s):
        try:
            compiled = CompiledPattern(pat)
        except ValueError:
            return  # empty-matching pattern, rejected by contract
        assert compiled.count(s) == _earliest_end_count(pat, s), (
            pat, s,
        )

    check()


def test_cep_terminal_anchored_equals_re_findall():
    """For patterns whose every match ends on a code that cannot extend
    the match (the registered vc*p family), earliest-end ==
    re.findall counting — the bridge to the batch regexp_count
    oracle."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from xngin_spark.streaming.cep import CompiledPattern

    @settings(max_examples=150, deadline=None)
    @given(
        st.sampled_from(
            ["vc*p", "vp", "vc+p", "v(c|v)p|vp", "vcp|vp", "cv*p", "cv+p"]
        ),
        st.text(alphabet="vcp", max_size=30),
    )
    def check(pat, s):
        assert CompiledPattern(pat).count(s) == len(re.findall(pat, s))

    check()


def test_cep_compiled_vcp_agrees_with_handbuilt_dfa():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from xngin_spark.streaming.cep import CompiledPattern
    from xngin_spark.streaming.stateful import dfa_step

    compiled = CompiledPattern("vc*p")

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="vcp", max_size=40))
    def check(s):
        cs, hs = compiled.START, 0
        cn = hn = 0
        for c in s:
            cs, hit = compiled.step(cs, c)
            cn += hit
            hs, hhit = dfa_step(hs, c)
            hn += hhit
        assert cn == hn, s

    check()


def test_cep_rejects_empty_matching_patterns():
    from xngin_spark.streaming.cep import CompiledPattern

    for pat in ("a*", "a?", "a*b*", "(a|b)?", ""):
        with pytest.raises(ValueError):
            CompiledPattern(pat)


def test_cep_stream_custom_pattern_spans_batches(spark, tmp_path):
    """A compiled custom pattern ('cv+p') must count across micro-batch
    boundaries with the same 3-int state contract — the match here
    STARTS in batch 1 and completes in batch 2."""
    from datetime import datetime

    from pyspark.sql import types as T

    from xngin_spark.streaming.cep import CompiledPattern
    from xngin_spark.streaming.stateful import stream_pattern_match

    schema = (
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double"
    )
    b1 = [(1, 1, datetime(2024, 1, 1, 9, 0), "click", 0.0),
          (1, 2, datetime(2024, 1, 1, 9, 1), "view", 0.0)]
    b2 = [(1, 3, datetime(2024, 1, 1, 9, 2), "view", 0.0),
          (1, 4, datetime(2024, 1, 1, 9, 3), "purchase", 1.0),
          (2, 5, datetime(2024, 1, 1, 9, 4), "purchase", 1.0)]
    feed = str(tmp_path / "feed")
    import time as _t

    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        _t.sleep(1.1)
    sdf = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    out = stream_pattern_match(sdf, pattern="cv+p")
    q = (
        out.writeStream.format("memory").queryName("cep_custom")
        .outputMode("update").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        # a timed-out run must not keep streaming into later tests
        q.stop()
        spark.streams.resetTerminated()
    got = {
        r["user_id"]: r["n_matches"]
        for r in spark.sql(
            "SELECT user_id, max(n_matches) AS n_matches FROM cep_custom"
            " GROUP BY user_id"
        ).collect()
    }
    assert got == {1: 1, 2: 0}
    assert CompiledPattern("cv+p").count("cvvp") == 1


def test_stream_attribution_linear_bridges_batches(spark, tmp_path):
    """A purchase in batch 2 must split across touches carried from
    batch 1 — the 3-int state (nc, nv, hw) is the cross-batch bridge.
    User 1: click+view in batch 1, purchase(9.0) in batch 2 → 4.5 to
    each channel. User 2: untouched purchase → organic whole."""
    from datetime import datetime

    from pyspark.sql import types as T

    from xngin_spark.streaming.stateful import stream_attribution_linear

    schema = (
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double"
    )
    b1 = [(1, 1, datetime(2024, 1, 1, 9, 0), "click", 0.0),
          (1, 2, datetime(2024, 1, 1, 9, 1), "view", 0.0),
          (2, 3, datetime(2024, 1, 1, 9, 2), "purchase", 3.25)]
    b2 = [(1, 4, datetime(2024, 1, 1, 9, 5), "purchase", 9.0),
          (1, 5, datetime(2024, 1, 1, 9, 6), "click", 0.0),
          (1, 6, datetime(2024, 1, 1, 9, 7), "purchase", 3.0)]
    feed = str(tmp_path / "feed")
    import time as _t

    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        _t.sleep(1.1)
    sdf = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    out = stream_attribution_linear(sdf)
    q = (
        out.writeStream.format("memory").queryName("attr_linear_bridge")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        # a timed-out run must not keep streaming into later tests
        q.stop()
        spark.streams.resetTerminated()
    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, touch_type, credit FROM attr_linear_bridge"
        ).collect()
    )
    # second purchase of user 1 splits 2 clicks / 1 view
    assert got == sorted([
        (1, "click", 4.5), (1, "click", 3.0 * (2 / 3)),
        (1, "view", 4.5), (1, "view", 3.0 * (1 / 3)),
        (2, "organic", 3.25),
    ])


def _run_attr_stream(spark, tmp_path, op, batches, query_name):
    from pyspark.sql import types as T

    schema = (
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double"
    )
    feed = str(tmp_path / "feed")
    import time as _t

    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        _t.sleep(1.1)
    sdf = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    q = (
        op(sdf).writeStream.format("memory").queryName(query_name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        # a timed-out run must not keep streaming into later tests
        q.stop()
        spark.streams.resetTerminated()
    return sorted(
        tuple(r)
        for r in spark.sql(
            f"SELECT user_id, touch_type, credit FROM {query_name}"
        ).collect()
    )


def test_stream_attribution_ushaped_bridges_batches(spark, tmp_path):
    """First touch in batch 1, last touch + purchase in batch 2: the
    two-string state must credit 50/50 across the boundary; a single
    carried touch earns both halves."""
    from datetime import datetime

    from xngin_spark.streaming.stateful import stream_attribution_ushaped

    b1 = [(1, 1, datetime(2024, 1, 1, 9, 0), "view", 0.0),
          (2, 2, datetime(2024, 1, 1, 9, 1), "click", 0.0)]
    b2 = [(1, 3, datetime(2024, 1, 1, 9, 5), "click", 0.0),
          (1, 4, datetime(2024, 1, 1, 9, 6), "purchase", 8.0),
          (2, 5, datetime(2024, 1, 1, 9, 7), "purchase", 6.0),
          (3, 6, datetime(2024, 1, 1, 9, 8), "purchase", 2.5)]
    got = _run_attr_stream(
        spark, tmp_path, stream_attribution_ushaped, (b1, b2),
        "attr_ushaped_bridge",
    )
    assert got == sorted([
        (1, "view", 4.0), (1, "click", 4.0),      # first=batch-1 view
        (2, "click", 3.0), (2, "click", 3.0),     # single touch, both halves
        (3, "organic", 2.5),
    ])


def test_stream_attribution_timedecay_bridges_and_prunes(spark, tmp_path):
    """A touch 10 days old (bucket 1 -> weight 4) and one 2 days old
    (bucket 0 -> weight 8) split a purchase 4:8 across the batch
    boundary; a touch 40 days old is PRUNED and the purchase with no
    in-lookback touch lands organic."""
    from datetime import datetime

    from xngin_spark.streaming.stateful import stream_attribution_timedecay

    b1 = [
        # user 1: click 10 days before the purchase, view 2 days before
        (1, 1, datetime(2024, 1, 5, 12, 0), "click", 0.0),
        (1, 2, datetime(2024, 1, 13, 12, 0), "view", 0.0),
        # user 2: a touch 40 days before its purchase — outside lookback
        (2, 3, datetime(2024, 1, 1, 0, 0), "click", 0.0),
    ]
    b2 = [
        (1, 4, datetime(2024, 1, 15, 12, 0), "purchase", 12.0),
        (2, 5, datetime(2024, 2, 10, 0, 0), "purchase", 5.0),
    ]
    got = _run_attr_stream(
        spark, tmp_path, stream_attribution_timedecay, (b1, b2),
        "attr_td_bridge",
    )
    # weights: click Δ=10d -> bucket [7d,14d) -> 4; view Δ=2d -> 8
    assert got == sorted([
        (1, "click", 12.0 * (4 / 12)),
        (1, "view", 12.0 * (8 / 12)),
        (2, "organic", 5.0),
    ])
