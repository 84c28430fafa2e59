"""Round-8 fixes and additions, pinned on planted inputs.

Covers the round-7 ADVICE items: backslash-safe SQL literal binding on
the prepared-statement path, comment-aware placeholder scanning,
explicit affected-group marking in rollup maintenance (an all-NULL
surviving measure must overwrite stale extrema with NULL, not keep
them), the missing-index seed contract of the vector ingest-admit
sink, and Unreflectable (not Py4J) error shape for odd Expand tails.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xngin_spark.server import protocol as P


# --- prepared-statement literal binding (server.py / compat.py) ----------


def test_sql_literal_escapes_backslashes(spark):
    """A bound string parameter containing backslashes / a trailing
    backslash must round-trip exactly through Spark's parser — the
    backslash is an escape character in Spark string literals, so
    quote-doubling alone would let a trailing '\\' swallow the closing
    quote (parameter content escaping into the statement)."""
    from xngin_spark.server.server import MySQLServer as Server

    for v in ["a\\", "\\", "it's a \\'test\\'", "c:\\tmp\\x", "plain"]:
        lit = Server._sql_literal(v)
        [(got,)] = spark.sql(f"SELECT {lit} AS s").collect()
        assert got == v, (v, lit, got)


def test_compat_lit_escapes_backslashes(spark):
    from xngin_spark.server.compat import _lit

    for v in ["x\\", "a\\'b"]:
        [(got,)] = spark.sql(f"SELECT {_lit(v)} AS s").collect()
        assert got == v


def test_sql_literal_injection_cannot_escape(spark):
    """The classic smuggle: value ends in a backslash so the next
    quote is escaped and attacker text runs. With correct escaping the
    whole value stays inside ONE literal."""
    from xngin_spark.server.server import MySQLServer as Server

    v = "x\\' OR 1=1 --"
    lit = Server._sql_literal(v)
    [(got, n)] = spark.sql(f"SELECT {lit} AS s, 1 AS n").collect()
    assert got == v and n == 1


# --- placeholder scanning skips comments (protocol.py) -------------------


def test_placeholders_skip_line_comments():
    sql = "SELECT ? -- is this a param? no\n , ?"
    assert P.count_placeholders(sql) == 2
    assert (
        P.substitute_params(sql, ["1", "2"])
        == "SELECT 1 -- is this a param? no\n , 2"
    )


def test_placeholders_skip_block_comments():
    sql = "SELECT /* what? really? */ ? + ? /* tail? */"
    assert P.count_placeholders(sql) == 2
    assert (
        P.substitute_params(sql, ["1", "2"])
        == "SELECT /* what? really? */ 1 + 2 /* tail? */"
    )


def test_placeholders_comment_inside_string_is_text():
    # '--' inside a quoted literal is NOT a comment opener; the ?
    # after it is still a marker
    sql = "SELECT '--?' , ?"
    assert P.count_placeholders(sql) == 1
    assert P.substitute_params(sql, ["9"]) == "SELECT '--?' , 9"


def test_placeholders_unterminated_block_comment():
    assert P.count_placeholders("SELECT ? /* open ?") == 1


# --- maintenance overwrites extrema for all-NULL survivors ---------------


def test_maintain_agg_all_null_survivors_null_extrema(spark):
    """Delete the only non-NULL measure row of a group: the surviving
    rows are all NULL in val_col, so the recomputed min/max are NULL —
    the maintained rollup must OVERWRITE the stale extrema with NULL
    (membership must not be inferred from a non-null recomputed
    value), matching the direct GROUP BY."""
    from xngin_spark.sources.dml import agg_snapshot, cdc_changes, maintain_agg

    schema = "k bigint, g string, v double"
    v1 = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", None), (3, "a", None), (4, "b", 1.0)],
        schema,
    )
    v2 = spark.createDataFrame(
        [(2, "a", None), (3, "a", None), (4, "b", 1.0)], schema
    )
    out = maintain_agg(
        agg_snapshot(v1, "g", "v"),
        cdc_changes(v1, v2, ["k"], cols=["g", "v"]),
        v2,
        "g",
        "v",
    )
    expect = agg_snapshot(v2, "g", "v")
    cols = ["g", "cnt", "total_dec", "min_val", "max_val"]
    got = sorted(map(tuple, out.select(*cols).collect()))
    want = sorted(map(tuple, expect.select(*cols).collect()))
    assert got == want
    a = dict(zip(cols, next(t for t in got if t[0] == "a")))
    assert a["min_val"] is None and a["max_val"] is None


def test_maintain_agg_update_to_null_nulls_extrema(spark):
    """UPDATE (not delete) that nulls the last non-NULL value — same
    overwrite contract through the update path."""
    from xngin_spark.sources.dml import agg_snapshot, cdc_changes, maintain_agg

    schema = "k bigint, g string, v double"
    v1 = spark.createDataFrame([(1, "a", 5.0), (2, "a", None)], schema)
    v2 = spark.createDataFrame([(1, "a", None), (2, "a", None)], schema)
    out = maintain_agg(
        agg_snapshot(v1, "g", "v"),
        cdc_changes(v1, v2, ["k"], cols=["g", "v"]),
        v2,
        "g",
        "v",
    )
    [r] = out.collect()
    assert r["cnt"] == 2 and r["min_val"] is None and r["max_val"] is None


def test_maintain_agg_multi_all_null_survivors(spark):
    """Multi-measure twin: measure `a` goes all-NULL in one group
    while `b` keeps values — min_a/max_a must become NULL, min_b/max_b
    must recompute normally, in the same maintenance round."""
    from xngin_spark.sources.dml import (
        agg_snapshot_multi,
        cdc_changes,
        maintain_agg_multi,
    )

    schema = "k bigint, g string, a double, b double"
    v1 = spark.createDataFrame(
        [(1, "x", 9.0, 2.0), (2, "x", None, 7.0), (3, "y", 1.0, 1.0)],
        schema,
    )
    v2 = spark.createDataFrame(
        [(2, "x", None, 7.0), (3, "y", 1.0, 1.0)], schema
    )
    out = maintain_agg_multi(
        agg_snapshot_multi(v1, "g", ["a", "b"]),
        cdc_changes(v1, v2, ["k"], cols=["g", "a", "b"]),
        v2,
        "g",
        ["a", "b"],
    )
    x = next(r for r in out.collect() if r["g"] == "x")
    assert x["min_a"] is None and x["max_a"] is None
    assert x["min_b"] == 7.0 and x["max_b"] == 7.0


# --- vector ingest-admit seeds a missing index ---------------------------


def test_vector_ingest_admit_seeds_missing_index(spark, sf_dir, tmp_path):
    """First batch against a not-yet-created index path: the stored
    side is treated as empty (everything admits) and the index is
    seeded by the batch itself — no separate seed step, mirroring the
    'missing index == empty index' contract."""
    import os

    from xngin_spark.operators.clustering import ivf_persist
    from xngin_spark.queries.pipeline import _SEM_CODEBOOK
    from xngin_spark.streaming import embeddings_stream
    from xngin_spark.streaming.sinks import streaming_vector_ingest_admit

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .filter(F.col("vec_id") < 40)
        .localCheckpoint(eager=True)
    )
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    emb.coalesce(1).write.parquet(f"{feed}/staging")
    part = [
        f for f in os.listdir(f"{feed}/staging") if f.endswith(".parquet")
    ][0]
    os.rename(f"{feed}/staging/{part}", f"{feed}/v0.parquet")

    idx = str(tmp_path / "ivf")  # does NOT exist
    corpus_out = str(tmp_path / "admitted")
    streaming_vector_ingest_admit(
        embeddings_stream(spark, feed),
        idx,
        _SEM_CODEBOOK,
        corpus_out,
        str(tmp_path / "ckpt"),
    )
    admitted = spark.read.parquet(corpus_out).drop("batch")
    got = {r["vec_id"] for r in admitted.select("vec_id").collect()}
    assert got == set(range(40))
    # the seeded index equals a from-scratch build over the admissions
    rebuilt = str(tmp_path / "rebuilt")
    ivf_persist(emb, _SEM_CODEBOOK, rebuilt)

    def rows(path):
        return {
            (r["vec_id"], r["ivf_list"])
            for r in spark.read.parquet(path)
            .select("vec_id", "ivf_list")
            .collect()
        }

    assert rows(idx) == rows(rebuilt)


# --- scrub_rows on a missing dataset is a no-op --------------------------


def test_scrub_rows_missing_path_noop(spark, tmp_path):
    from xngin_spark.sources.dml import scrub_rows

    gone = spark.createDataFrame([(1,)], "vec_id bigint")
    scrub_rows(spark, str(tmp_path / "nope"), gone, "vec_id")  # no raise


# --- column_profile production default is approximate --------------------


def test_column_profile_default_is_approximate(spark):
    """The default plan must NOT contain the Expand COUNT(DISTINCT)
    rewrite — one narrow HLL pass is the 100 TB production shape."""
    from xngin_spark.operators.profile import column_profile

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("m")
    )
    plan = (
        column_profile(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    exact_plan = (
        column_profile(df, approximate=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in exact_plan


# --- reflection through the localCheckpoint barrier ----------------------


def test_reflect_checkpoint_renders_through_barrier(spark, sf_dir):
    from xngin_spark.plans.reflect import (
        Unreflectable,
        reflect_checkpoint,
        roundtrip_equivalent,
    )

    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    agg = base.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))
    pinned = reflect_checkpoint(agg)
    out = pinned.filter(F.col("n") > 0).orderBy("n_regionkey")
    assert roundtrip_equivalent(out)
    # a BARE localCheckpoint (no registration) is still data-not-plan.
    # NB: built from a FRESH plan — re-checkpointing the registered
    # `agg` would reuse its output exprIds and legitimately resolve
    # through the registered barrier.
    agg2 = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bare = agg2.localCheckpoint(eager=True).filter(F.col("n") > 0)
    with pytest.raises(Unreflectable):
        roundtrip_equivalent(bare)


def test_q11_reflects_roundtrip(spark, sf_dir):
    """The last literal reflect.rs parity gap: q11's checkpoint pin
    must not cost it its SQL surface."""
    from xngin_spark.plans.reflect import roundtrip_equivalent
    from xngin_spark.queries import tpch

    assert roundtrip_equivalent(tpch.q11(spark, sf_dir))


# --- DPhyp: reference's 31-vertex cap + density budget -------------------


def test_dphyp_chain_at_31_vertices_fast():
    """The reference's graph cap (join/graph.rs:15 MAX=31): a 31-chain
    is ~5k csg-cmp pairs and must enumerate exactly, quickly."""
    import time

    from xngin_spark.plans.reorder import dphyp_order, tree_cost

    n = 31
    rows = {f"t{i:02d}": float(100 + 7 * i) for i in range(n)}
    chain = [
        (f"t{i:02d}", f"t{i + 1:02d}", [(f"c{i}", f"c{i}")])
        for i in range(n - 1)
    ]
    from xngin_spark.plans.reorder import _as_edge

    edges = [_as_edge(e) for e in chain]
    t0 = time.monotonic()
    trace = dphyp_order(rows, edges)
    dt = time.monotonic() - t0
    assert len(trace) == n - 1
    assert dt < 5.0, f"31-chain took {dt:.2f}s"
    # the exact plan can't cost more than greedy's
    from xngin_spark.plans.reorder import goo_order

    goo = goo_order(rows, edges)
    seq = [(a, b) for a, b, _ in trace]
    gseq = [(a, b) for a, b, _ in goo]
    assert tree_cost(rows, edges, seq) <= tree_cost(rows, edges, gseq) + 1e-6


def test_dphyp_star_at_17_vertices_exact_and_24_falls_back():
    """Star pair counts are exponential ((n-1)·2^(n-2)) — vertex count
    alone can't gate DP affordability. A 17-star (~0.6M units) must
    enumerate exactly within the default budget; a 24-star (~96M
    pairs) must hit the budget promptly instead of hanging."""
    import time

    from xngin_spark.plans.reorder import (
        DPhypBudgetExceeded,
        _as_edge,
        dphyp_order,
    )

    def star(n):
        rows = {
            "hub": 1e6,
            **{f"l{i:02d}": float(10 + i) for i in range(n - 1)},
        }
        edges = [
            _as_edge(("hub", f"l{i:02d}", [(f"k{i}", f"k{i}")]))
            for i in range(n - 1)
        ]
        return rows, edges

    rows, edges = star(17)
    t0 = time.monotonic()
    trace = dphyp_order(rows, edges)
    assert len(trace) == 16
    assert time.monotonic() - t0 < 10.0
    rows, edges = star(24)
    t0 = time.monotonic()
    with pytest.raises(DPhypBudgetExceeded):
        dphyp_order(rows, edges)
    assert time.monotonic() - t0 < 15.0  # aborts, never hangs


def test_dphyp_dense_graph_exceeds_budget_and_reorder_falls_back():
    """A 28-clique's pair count is astronomically past any budget: the
    enumerator must raise (not hang), and reorder_join must degrade to
    GOO for all-inner graphs."""
    from xngin_spark.plans.reorder import (
        DPhypBudgetExceeded,
        _as_edge,
        dphyp_order,
    )

    n = 28
    rows = {f"t{i:02d}": float(50 + i) for i in range(n)}
    edges = [
        _as_edge((f"t{i:02d}", f"t{j:02d}", [(f"a{i}_{j}", f"a{i}_{j}")]))
        for i in range(n)
        for j in range(i + 1, n)
    ]
    with pytest.raises(DPhypBudgetExceeded):
        dphyp_order(rows, edges, pair_budget=200_000)


def test_reorder_join_budget_fallback_to_goo(spark):
    """Force a tiny budget through reorder_join: the all-inner graph
    must still produce a correct join via GOO fallback."""
    from xngin_spark.plans.reorder import reorder_join

    dfs = {}
    edges = []
    for i in range(5):
        dfs[f"v{i}"] = spark.createDataFrame(
            [(j, j * 10 + i) for j in range(4)], f"k{i} long, p{i} long"
        ).withColumnRenamed(f"k{i}", "kk" if False else f"k{i}")
    # chain on shared key values: v_i.k_i == v_{i+1}.k_{i+1}
    for i in range(4):
        edges.append((f"v{i}", f"v{i + 1}", [(f"k{i}", f"k{i + 1}")]))
    out = reorder_join(
        dfs, edges, measure_ndv=False, pair_budget=1
    )
    assert out.count() == 4  # keys 0..3 align across the chain


def test_dphyp_star_exact_matches_dp_small():
    """Density budget must not change results where both DPs run: a
    9-star's dphyp optimum equals dpsize's."""
    from xngin_spark.plans.reorder import (
        _as_edge,
        dp_order,
        dphyp_order,
        tree_cost,
    )

    n = 9
    rows = {"hub": 5e4, **{f"l{i}": float(3 + i) for i in range(n - 1)}}
    edges = [
        _as_edge(("hub", f"l{i}", [(f"k{i}", f"k{i}")]))
        for i in range(n - 1)
    ]
    d = dp_order(rows, edges)
    h = dphyp_order(rows, edges)
    dseq = [(a, b) for a, b, _ in d]
    hseq = [(a, b) for a, b, _ in h]
    assert abs(
        tree_cost(rows, edges, dseq) - tree_cost(rows, edges, hseq)
    ) < 1e-6


# --- SQL-entry DPhyp route (plans/sqlreorder.py) -------------------------


def _leafset(n):
    """Leaf alias sets of a join side in an analyzed plan."""
    from xngin_spark.plans.reflect import _name

    if _name(n) == "Join":
        ch = n.children()
        return _leafset(ch.apply(0)) | _leafset(ch.apply(1))
    if _name(n) == "SubqueryAlias":
        return {n.alias()}
    ch = n.children()
    out = set()
    for i in range(ch.size()):
        out |= _leafset(ch.apply(i))
    return out


def _join_merges(n):
    """All (left-leafset, right-leafset) merges in plan order."""
    from xngin_spark.plans.reflect import _name

    out = []

    def rec(m):
        if _name(m) == "Join":
            ch = m.children()
            out.append((_leafset(ch.apply(0)), _leafset(ch.apply(1))))
            rec(ch.apply(0))
            rec(ch.apply(1))
            return
        ch = m.children()
        for i in range(ch.size()):
            rec(ch.apply(i))

    rec(n)
    return out


def _register_tpch_views(spark, sf_dir):
    from xngin_spark.queries.tpch import T

    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ):
        T(spark, sf_dir, t).createOrReplaceTempView(t)


def test_dphyp_sql_q5_rewrites_and_matches(spark, sf_dir):
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries import ORACLE

    _register_tpch_views(spark, sf_dir)
    sql = ORACLE["q5"]
    text, traces = dphyp_rewrite(spark, sql)
    assert len(traces) == 1 and len(traces[0]) == 5  # 6 leaves, 5 merges
    a = sorted(map(tuple, spark.sql(text).collect()))
    b = sorted(map(tuple, spark.sql(sql).collect()))
    assert a == b


def test_dphyp_sql_emitted_nesting_matches_trace(spark, sf_dir):
    """The re-emitted FROM nesting must BE the DPhyp merge tree — the
    plan-snapshot claim, checked structurally on the analyzed plan."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries import ORACLE

    _register_tpch_views(spark, sf_dir)
    text, [trace] = dphyp_rewrite(spark, ORACLE["q5"])
    plan = spark.sql(text)._jdf.queryExecution().analyzed()
    merges = {
        (frozenset(l), frozenset(r)) for l, r in _join_merges(plan)
    }
    for L, R in trace:
        assert (frozenset(L), frozenset(R)) in merges or (
            frozenset(R),
            frozenset(L),
        ) in merges, (sorted(L), sorted(R))


def test_dphyp_sql_no_cartesian_in_plan(spark, sf_dir):
    from xngin_spark.plans.sqlreorder import dphyp_sql
    from xngin_spark.queries import ORACLE

    _register_tpch_views(spark, sf_dir)
    df = dphyp_sql(spark, ORACLE["q5"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_dphyp_rewrite_falls_back_cleanly(spark, sf_dir):
    """Unsupported / too-small shapes return the ORIGINAL text with no
    traces — never a partial rewrite."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite

    _register_tpch_views(spark, sf_dir)
    for sql in (
        "SELECT n_name FROM nation ORDER BY n_name",  # no join
        # two-leaf join: below the 3-leaf region threshold
        "SELECT n_name, r_name FROM nation JOIN region "
        "ON n_regionkey = r_regionkey",
        # window over a single table
        "SELECT n_name, row_number() OVER (ORDER BY n_name) AS rn "
        "FROM nation",
    ):
        text, traces = dphyp_rewrite(spark, sql)
        assert text == sql and traces == []


@pytest.mark.slow
def test_dphyp_rewrite_result_equal_across_tpch_texts(spark, sf_dir):
    """Every TPC-H oracle text that rewrites must stay result-equal to
    the original — the product-path blanket guarantee."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries import ORACLE, load_all

    load_all()
    _register_tpch_views(spark, sf_dir)
    rewritten = 0
    for qn in [f"q{i}" for i in range(1, 23)]:
        sql = ORACLE[qn]
        try:
            base = spark.sql(sql)
            base.schema
        except Exception:
            continue  # oracle text is DuckDB-only for this query
        text, traces = dphyp_rewrite(spark, sql)
        if not traces:
            assert text == sql
            continue
        rewritten += 1
        a = sorted(map(tuple, spark.sql(text).collect()))
        b = sorted(map(tuple, base.collect()))
        assert a == b, f"{qn} rewrite changed results"
    assert rewritten >= 3, f"only {rewritten} TPC-H texts rewrote"


# --- maintenance merge under planted skew ---------------------------------


def test_maintain_agg_planted_hot_group_stays_balanced(spark):
    """Skew-hardening evidence for the maintenance path: plant a hot
    group owning half the snapshot AND half the delta, then assert the
    three structural properties that make the merge skew-immune at
    100 TB, plus exact equivalence with recompute:

    1. the destructive-recompute semi-join BROADCASTS the affected-key
       side (delta-group-sized), so the hot group's fact rows never
       shuffle for the join at all;
    2. the recompute aggregation is a two-phase HashAggregate
       (map-side partial merge), so the shuffle after it carries one
       row per group per task — group-sized, never fact-sized;
    3. the full-outer rollup merge itself joins two GROUP-cardinality
       inputs (one row per group each side), where a hot group is one
       row — skew cannot exist there by construction.
    """
    from xngin_spark.sources.dml import agg_snapshot, cdc_changes, maintain_agg

    n = 60_000
    hot = spark.range(n // 2).select(
        F.col("id").alias("k"),
        F.lit("hot").alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    cold = spark.range(n // 2, n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 200).cast("string")).alias("g"),
        (F.col("id") % 89).cast("double").alias("v"),
    )
    v1 = hot.unionByName(cold).localCheckpoint(eager=True)
    # delta: delete half the hot group (forces recompute OF the hot
    # group — the worst case: the affected set's biggest group), plus
    # scattered cold updates
    v2 = (
        v1.filter(~((F.col("g") == "hot") & (F.col("k") % 2 == 0)))
        .withColumn(
            "v",
            F.when(F.col("k") % 1003 == 0, F.col("v") + 1.0).otherwise(
                F.col("v")
            ),
        )
        .localCheckpoint(eager=True)
    )
    out = maintain_agg(
        agg_snapshot(v1, "g", "v"),
        cdc_changes(v1, v2, ["k"], cols=["g", "v"]).localCheckpoint(
            eager=True
        ),
        v2,
        "g",
        "v",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (1) affected-group semi-join is broadcast — no fact-side shuffle
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:1500]
    # (2) recompute agg has a partial phase before its shuffle
    assert "partial_min" in plan or "partial" in plan.lower(), plan[:1500]
    # correctness under the planted skew: identical to full recompute
    expect = agg_snapshot(v2, "g", "v")
    cols = ["g", "cnt", "total_dec", "min_val", "max_val"]
    got = sorted(map(tuple, out.select(*cols).collect()))
    want = sorted(map(tuple, expect.select(*cols).collect()))
    assert got == want


# --- epoch-versioned streaming MV: cold restart across a process ---------


@pytest.mark.slow
def test_streaming_rollup_cold_restart_converges(spark, tmp_path):
    """The exactly-once claim a production deployment leans on, proven
    across a PROCESS boundary: a separate JVM runs the maintenance
    stream and is killed mid-batch — AFTER ``epoch=1`` lands on disk
    but BEFORE the checkpoint commits batch 1 (a crash in the window
    the write-ahead epoch protocol exists for). A fresh session
    restarting from the same checkpoint replays batch 1 (re-reading
    epoch=0, overwriting epoch=1 — convergent) and finishes batch 2;
    the final epoch must equal the full recompute."""
    import os
    import subprocess
    import sys

    from xngin_spark.sources.dml import (
        agg_snapshot,
        agg_state_additive,
        cdc_changes,
    )
    from xngin_spark.streaming.sinks import (
        _latest_rollup_epoch,
        streaming_agg_maintain,
    )

    schema = "k bigint, g string, v double"
    v1 = spark.createDataFrame(
        [(i, f"g{i % 4}", float(i % 11)) for i in range(120)], schema
    )
    v2 = spark.createDataFrame(
        [
            (i, f"g{i % 4}", float(i % 11) + (3.0 if i % 13 == 0 else 0.0))
            for i in range(120)
            if i % 7 != 0
        ]
        + [(500 + j, "g9", 2.5) for j in range(5)],
        schema,
    )
    root = str(tmp_path)
    delta = os.path.join(root, "delta")
    rollup = os.path.join(root, "rollup")
    ckpt = os.path.join(root, "ckpt")
    changes = cdc_changes(v1, v2, ["k"], cols=["g", "v"]).localCheckpoint()
    for i in range(3):
        changes.filter(F.col("k") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(delta)
    agg_state_additive(v1, "g", "v").write.parquet(os.path.join(rollup, "epoch=-1"))

    crash_script = f"""
import sys
from pyspark.sql import SparkSession
from xngin_spark.streaming.sinks import apply_cdc_rollup_batch

spark = (SparkSession.builder.master("local[4]")
         .appName("crash-mid-batch")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
schema = spark.read.parquet({delta!r}).schema

def apply(df, bid):
    apply_cdc_rollup_batch(df, bid, {rollup!r}, "g", "v", ["k"])
    if bid >= 1:
        # epoch dir for this batch is on disk; die before Spark
        # commits the batch to the checkpoint
        print("CRASHING after epoch write of batch", bid, flush=True)
        raise RuntimeError("injected crash after epoch write")

q = (spark.readStream.schema(schema)
     .option("maxFilesPerTrigger", "1").parquet({delta!r})
     .writeStream.foreachBatch(apply)
     .option("checkpointLocation", {ckpt!r})
     .trigger(availableNow=True).start())
q.awaitTermination(120)
"""
    env = dict(os.environ, PYTHONPATH=os.getcwd())
    proc = subprocess.run(
        [sys.executable, "-c", crash_script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode != 0, "injected crash did not kill the stream"
    assert "CRASHING after epoch write of batch 1" in proc.stdout
    # the crash window is real: epoch=1 landed, checkpoint did not
    # commit batch 1 (its commit marker is absent)
    assert os.path.isdir(os.path.join(rollup, "epoch=1"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "1"))

    # cold restart in THIS session from the same checkpoint: batch 1
    # replays (overwriting epoch=1 — convergent), batch 2 completes
    schema_df = spark.read.parquet(delta).schema
    stream = (
        spark.readStream.schema(schema_df)
        .option("maxFilesPerTrigger", "1")
        .parquet(delta)
    )
    streaming_agg_maintain(stream, rollup, ckpt, "g", "v", ["k"])
    last = _latest_rollup_epoch(rollup)
    assert last == 2
    final = spark.read.parquet(f"{rollup}/epoch={last}").select(
        "g", "cnt", F.col("total_dec").cast("double").alias("t")
    )
    expect = agg_snapshot(v2, "g", "v").select(
        "g", "cnt", F.col("total_dec").cast("double").alias("t")
    )
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, expect.collect())
    )


# --- COUNT(DISTINCT) maintenance (sources/dml.distinct_state) ------------


def _distinct_vs_recompute(spark, v1_rows, v2_rows):
    from xngin_spark.sources.dml import (
        cdc_changes,
        count_distinct_from_state,
        distinct_state,
        maintain_distinct_state,
    )

    schema = "k bigint, g string, v string"
    v1 = spark.createDataFrame(v1_rows, schema)
    v2 = spark.createDataFrame(v2_rows, schema)
    state = maintain_distinct_state(
        distinct_state(v1, "g", "v"),
        cdc_changes(v1, v2, ["k"], cols=["g", "v"]),
        "g",
        "v",
    )
    got = sorted(
        map(tuple, count_distinct_from_state(state, "g").collect()),
        key=lambda t: (t[0] is None, t),
    )
    want = sorted(
        map(
            tuple,
            v2.filter(F.col("v").isNotNull())
            .groupBy("g")
            .agg(F.count_distinct("v").alias("n_distinct"))
            .collect(),
        ),
        key=lambda t: (t[0] is None, t),
    )
    assert got == want
    # and the state itself equals a from-scratch state build
    nkey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    rebuilt = distinct_state(v2, "g", "v")
    assert sorted(map(tuple, state.collect()), key=nkey) == sorted(
        map(tuple, rebuilt.collect()), key=nkey
    )


def test_distinct_maintain_delete_last_copy_and_survivor(spark):
    v1 = [
        (1, "a", "x"),
        (2, "a", "x"),
        (3, "a", "y"),
        (4, "b", "z"),
    ]
    # delete ONE copy of x (still distinct) and the ONLY y (drops)
    v2 = [(1, "a", "x"), (4, "b", "z")]
    _distinct_vs_recompute(spark, v1, v2)


def test_distinct_maintain_update_moves_value_and_group(spark):
    v1 = [(1, "a", "x"), (2, "a", "y"), (3, "b", "x")]
    # row 1 changes value x->y (x still in b); row 3 moves group b->a
    v2 = [(1, "a", "y"), (2, "a", "y"), (3, "a", "x")]
    _distinct_vs_recompute(spark, v1, v2)


def test_distinct_maintain_null_group_and_null_values(spark):
    v1 = [(1, None, "x"), (2, None, None), (3, "a", None)]
    # NULL group is a group; NULL values never count
    v2 = [(1, None, "x"), (2, None, "x"), (3, "a", "q"), (9, None, "y")]
    _distinct_vs_recompute(spark, v1, v2)


def test_distinct_maintain_random_mutations_equal_recompute(spark):
    import random

    rng = random.Random(77)

    def mkrow(k):
        return (
            k,
            None if rng.random() < 0.1 else f"g{rng.randrange(4)}",
            None if rng.random() < 0.15 else f"v{rng.randrange(12)}",
        )

    v1 = [mkrow(k) for k in range(300)]
    v2 = []
    for r in v1:
        x = rng.random()
        if x < 0.2:
            continue
        v2.append(mkrow(r[0]) if x < 0.45 else r)
    v2 += [mkrow(1000 + j) for j in range(40)]
    _distinct_vs_recompute(spark, v1, v2)


# --- multi-measure streaming rollup maintenance --------------------------


def test_streaming_rollup_multi_replay_and_recompute(spark, tmp_path):
    """Multi-measure epoch maintenance: replays converge and the final
    epoch equals the multi-measure recompute — k measures, one merge
    per batch."""
    from xngin_spark.sources.dml import (
        agg_snapshot_multi,
        agg_state_additive_multi,
        cdc_changes,
    )
    from xngin_spark.streaming.sinks import (
        _latest_rollup_epoch,
        apply_cdc_rollup_batch_multi,
    )

    rollup = str(tmp_path / "rollup")
    schema = "k bigint, g string, a double, b double"
    v1 = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i % 9), float(i % 5)) for i in range(40)],
        schema,
    )
    v2 = spark.createDataFrame(
        [
            (i, f"g{i % 3}", float(i % 9) + (2.0 if i % 6 == 0 else 0.0),
             float(i % 5))
            for i in range(40)
            if i % 8 != 0
        ]
        + [(200, "g7", 1.0, 9.5)],
        schema,
    )
    agg_state_additive_multi(v1, "g", ["a", "b"]).write.parquet(
        f"{rollup}/epoch=-1"
    )
    changes = cdc_changes(v1, v2, ["k"], cols=["g", "a", "b"]).localCheckpoint()
    b0 = changes.filter(F.col("k") % 2 == 0)
    b1 = changes.filter(F.col("k") % 2 == 1)
    apply_cdc_rollup_batch_multi(b0, 0, rollup, "g", ["a", "b"], ["k"])
    s0 = sorted(map(tuple, spark.read.parquet(f"{rollup}/epoch=0").collect()))
    apply_cdc_rollup_batch_multi(b0, 0, rollup, "g", ["a", "b"], ["k"])
    assert sorted(
        map(tuple, spark.read.parquet(f"{rollup}/epoch=0").collect())
    ) == s0
    apply_cdc_rollup_batch_multi(b1, 1, rollup, "g", ["a", "b"], ["k"])
    assert _latest_rollup_epoch(rollup) == 1
    final = spark.read.parquet(f"{rollup}/epoch=1").select(
        "g",
        "cnt",
        F.col("total_dec_a").cast("double").alias("ta"),
        F.col("total_dec_b").cast("double").alias("tb"),
    )
    expect = agg_snapshot_multi(v2, "g", ["a", "b"]).select(
        "g",
        "cnt",
        F.col("total_dec_a").cast("double").alias("ta"),
        F.col("total_dec_b").cast("double").alias("tb"),
    )
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, expect.collect())
    )


# --- UNPIVOT NULL semantics (sqlsurface.unpivot_long's oracle claim) ------


def test_unpivot_drops_null_measures_like_filtered_union(spark):
    df = spark.createDataFrame(
        [(1, 2.0, None), (2, None, 5.0), (3, 1.0, 1.5)],
        "k bigint, a double, b double",
    )
    df.createOrReplaceTempView("unpiv_src")
    up = spark.sql(
        "SELECT k, metric, val FROM unpiv_src "
        "UNPIVOT (val FOR metric IN (a, b)) ORDER BY k, metric"
    )
    un = spark.sql(
        "SELECT k, metric, val FROM ("
        " SELECT k, 'a' AS metric, a AS val FROM unpiv_src"
        " UNION ALL SELECT k, 'b', b FROM unpiv_src) u "
        "WHERE val IS NOT NULL ORDER BY k, metric"
    )
    assert [tuple(r) for r in up.collect()] == [tuple(r) for r in un.collect()]
    assert up.count() == 4  # two NULL measures dropped


def test_engine_sql_reorder_flag(spark, sf_dir):
    """Engine.sql(..., reorder=True) is the product-path switch onto
    the DPhyp route — results identical to the plain path."""
    from xngin_spark.engine import Engine
    from xngin_spark.queries import ORACLE, load_all

    load_all()
    e = Engine(sf_dir, spark=spark)
    sql = ORACLE["q5"]
    a = sorted(map(tuple, e.sql(sql, reorder=True).collect()))
    b = sorted(map(tuple, e.sql(sql).collect()))
    assert a == b


# --- BLAS fast paths (assignment / pairwise / winnow hash) ---------------


def test_assign_clusters_matches_nearest(spark):
    """The Arrow-batched BLAS assignment must reproduce the expression
    argmin exactly: same nearest centroid, lowest-index tie-break
    (duplicate centroids force the tie)."""
    from xngin_spark.operators.clustering import _nearest, assign_clusters

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.7, 0.7, 0.0]),
        (4, [-1.0, -1.0, 0.5]),
        (5, [0.0, 0.0, 0.0]),  # equidistant from duplicate centroids
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 1.0, 0.0], [-1.0, -1.0, 0.0]]
    want = {
        r.vec_id: r.c
        for r in df.withColumn("c", _nearest(F.col("embedding"), cents)["c"]).collect()
    }
    # min_blas_k=1 forces the BLAS/Arrow path (4 centroids would
    # otherwise dispatch to the expression path — also asserted below)
    got = {
        r.vec_id: r.cluster
        for r in assign_clusters(df, cents, min_blas_k=1).collect()
    }
    assert got == want
    # the tie row must land on the FIRST of the duplicate centroids
    assert got[5] == min(
        i for i, c in enumerate(cents) if c == cents[got[5]]
    )
    # small-k dispatch: same assignments through the expression arm,
    # and no Python boundary in its plan
    small = assign_clusters(df, cents)
    assert {r.vec_id: r.cluster for r in small.collect()} == want
    assert "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()


def test_cosine_dup_pairs_blas_matches_decimal(spark):
    """BLAS Gram-matrix pair scoring ≡ the decimal-deterministic join
    on vectors whose cosines sit far from the threshold (the contract:
    same pair SET; scores agree to float tolerance)."""
    import random

    from xngin_spark.operators import similarity as S

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, 1 if i % 2 else 0, base))
        if i % 5 == 0:  # planted near-dup in the same block
            rows.append(
                (1000 + i, 1 if i % 2 else 0, [x + rng.gauss(0, 0.01) for x in base])
            )
    df = spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")
    dec = {
        (r.id_a, r.id_b): r.cosine
        for r in S.cosine_dup_pairs(df, threshold=0.8, block_col="cluster").collect()
    }
    for chunk in (2048, 3):  # default slab and a forced multi-slab pass
        blas = {
            (r.id_a, r.id_b): r.cosine
            for r in S.cosine_dup_pairs_blas(
                df, threshold=0.8, block_col="cluster", row_chunk=chunk
            ).collect()
        }
        assert set(blas) == set(dec)
        assert all(abs(blas[k] - dec[k]) < 1e-9 for k in blas)


def test_winnow_numpy_equals_expression(spark, sf_dir):
    """The vectorized numpy rolling hash must emit the IDENTICAL
    (id, fp) set as the all-JVM expression twin — on real documents and
    on non-ASCII text (code-point vs byte handling)."""
    from xngin_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = {(r.id, r.fp) for r in D.winnow_fingerprints(docs).collect()}
    b = {(r.id, r.fp) for r in D._winnow_fingerprints_expr(docs).collect()}
    assert a == b and len(a) > 0

    uni = spark.createDataFrame(
        [
            (1, "žluťoučký kůň úpěl ďábelské ódy — příliš žluťoučký"),
            (2, "数据去重指纹测试：滚动哈希在多字节字符上的一致性验证"),
            (3, "short"),  # below k+w-1 → dropped by both
            (4, None),
        ],
        "doc_id long, text string",
    )
    ua = {(r.id, r.fp) for r in D.winnow_fingerprints(uni).collect()}
    ub = {(r.id, r.fp) for r in D._winnow_fingerprints_expr(uni).collect()}
    assert ua == ub and {i for i, _ in ua} == {1, 2}


# --- BM25 persisted index: probe identity + CDC maintenance --------------


def _bm25_index_rows(spark, path):
    out = {}
    for sub in ("postings", "doclen", "termstats"):
        out[sub] = sorted(
            map(tuple, spark.read.parquet(f"{path}/{sub}").collect())
        )
    m = spark.read.json(f"{path}/_meta").head()
    out["stats"] = (int(m["n_docs"]), int(m["sum_dl"]))
    return out


def test_bm25_index_update_equals_rebuild(spark, sf_dir, tmp_path):
    """update(index(v1), diff(v1, v2)) ≡ rebuild(index(v2)) row-for-row
    on ALL FOUR index tables — postings, doclen, the signed-delta
    maintained termstats, and the additively maintained exact corpus
    stats — with inserts, updates, and deletes in one batch."""
    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_update,
    )
    from xngin_spark.sources.dml import table_diff

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 400)
    v2 = (
        d.filter(F.col("doc_id") < 400)
        .filter(F.col("doc_id") % 50 != 0)  # deletes
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" upd"))
            ).otherwise(F.col("text")),  # updates
        )
        .unionByName(d.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 450)))
    )  # inserts

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    bm25_index_persist(v1, inc)
    bm25_index_persist(v2, full)

    diff = table_diff(v1, v2, keys=["doc_id"])
    ops = {r["op"] for r in diff.collect()}
    assert ops == {"insert", "update", "delete"}, f"test setup weak: {ops}"

    bm25_index_update(v2, diff, inc)
    assert _bm25_index_rows(spark, inc) == _bm25_index_rows(spark, full)


def test_bm25_probe_after_update_matches_inmemory(spark, sf_dir, tmp_path):
    """After a CDC update, probing the maintained index must reproduce
    the in-memory bm25_topk ranking over the new snapshot bit-for-bit
    (shared scoring tail + maintained stats inside the 8-digit
    rounding tolerance)."""
    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_probe,
        bm25_index_update,
        bm25_topk,
    )
    from xngin_spark.sources.dml import table_diff

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 300)
    v2 = d.filter((F.col("doc_id") < 250) | (F.col("doc_id") >= 280)).filter(
        F.col("doc_id") < 350
    )
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    bm25_index_update(v2, table_diff(v1, v2, keys=["doc_id"]), idx)

    qt = spark.createDataFrame(
        [(0, "spark"), (0, "query"), (1, "customer"), (1, "order")],
        "qid long, term string",
    )
    got = sorted(map(tuple, bm25_index_probe(spark, idx, qt, k=5).collect()))
    want = sorted(map(tuple, bm25_topk(v2, qt, k=5).collect()))
    assert got == want and len(got) > 0


def test_bm25_index_update_pure_insert_appends_postings(spark, sf_dir, tmp_path):
    """A pure-insert delta must not rewrite existing postings/doclen
    files (termstats legitimately rewrites rows for touched tokens)."""
    import os

    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_update,
    )
    from xngin_spark.sources.dml import table_diff

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 300)
    v2 = d.filter(F.col("doc_id") < 350)
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    before = {
        sub: set(os.listdir(f"{idx}/{sub}")) for sub in ("postings", "doclen")
    }
    bm25_index_update(v2, table_diff(v1, v2, keys=["doc_id"]), idx)
    for sub in ("postings", "doclen"):
        after = set(os.listdir(f"{idx}/{sub}"))
        assert before[sub] - after == set(), f"{sub} files rewritten on pure insert"
        assert len(after) > len(before[sub])


def test_bm25_index_update_requires_meta(spark, sf_dir, tmp_path):
    from xngin_spark.operators.corpus import bm25_index_update

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    empty_diff = d.limit(0).select("doc_id", F.lit("insert").alias("op"))
    with pytest.raises(ValueError, match="_meta"):
        bm25_index_update(d, empty_diff, str(tmp_path / "nothere"))


@pytest.mark.slow
def test_bm25_batch_replay_idempotent(spark, sf_dir, tmp_path):
    """bm25_index_update's exactly-once claim, tested directly:
    re-applying a CDC micro-batch (foreachBatch replay) must leave
    every index table AND the maintained stats identical."""
    from xngin_spark.operators.corpus import bm25_index_persist
    from xngin_spark.sources.dml import cdc_changes
    from xngin_spark.streaming.sinks import apply_cdc_bm25_batch

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 300)
    v2 = (
        v1.filter(F.col("doc_id") % 40 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" upd"))
            ).otherwise(F.col("text")),
        )
        .unionByName(d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 330)))
    )
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    changes = cdc_changes(v1, v2, ["doc_id"], cols=["text"]).localCheckpoint()
    b0 = changes.filter(F.col("doc_id") % 2 == 0)
    b1 = changes.filter(F.col("doc_id") % 2 == 1)

    apply_cdc_bm25_batch(b0, 0, idx)
    state0 = _bm25_index_rows(spark, idx)
    apply_cdc_bm25_batch(b0, 0, idx)  # replay
    assert _bm25_index_rows(spark, idx) == state0

    apply_cdc_bm25_batch(b1, 1, idx)
    state1 = _bm25_index_rows(spark, idx)
    apply_cdc_bm25_batch(b1, 1, idx)  # replay
    assert _bm25_index_rows(spark, idx) == state1

    from xngin_spark.operators.corpus import bm25_index_persist as rebuild

    full = str(tmp_path / "full")
    rebuild(v2, full)
    assert state1 == _bm25_index_rows(spark, full)


@pytest.mark.slow
def test_streaming_bm25_maintain_e2e(spark, sf_dir, tmp_path):
    """The lexical index follows a CDC change STREAM end-to-end: three
    micro-batches of image-carrying rows drive the maintained index to
    the rebuild state, and a probe of the maintained index reproduces
    the in-memory ranking over the new snapshot bit-for-bit."""
    import os

    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_probe,
        bm25_topk,
    )
    from xngin_spark.sources.dml import cdc_changes
    from xngin_spark.streaming.sinks import streaming_bm25_maintain

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 300)
    v2 = d.filter((F.col("doc_id") % 30 != 0) & (F.col("doc_id") < 360))
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)

    changes = cdc_changes(v1, v2, ["doc_id"], cols=["text"])
    delta_dir = str(tmp_path / "delta")
    for i in range(3):  # three delivery chunks -> three micro-batches
        changes.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(delta_dir)
    schema = spark.read.parquet(delta_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(delta_dir)
    )
    streaming_bm25_maintain(stream, idx, str(tmp_path / "ckpt"), timeout_s=120)

    full = str(tmp_path / "full")
    bm25_index_persist(v2, full)
    assert _bm25_index_rows(spark, idx) == _bm25_index_rows(spark, full)

    qt = spark.createDataFrame(
        [(0, "spark"), (0, "query"), (1, "customer")], "qid long, term string"
    )
    got = sorted(map(tuple, bm25_index_probe(spark, idx, qt, k=5).collect()))
    want = sorted(map(tuple, bm25_topk(v2, qt, k=5).collect()))
    assert got == want and len(got) > 0
