"""GOO join reordering (plans/reorder.py) — the JoinGraph/Goo analog
(doradb-plan/src/join/reorder/greedy.rs). Pure-number order tests plus
executable graph-join equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xngin_spark.plans.reorder import (
    CrossJoinNotSupported,
    Edge,
    goo_join,
    goo_order,
    tree_cost,
)


def E(a, b, *on):
    return Edge(a, b, tuple(on))


def test_goo_star_joins_smallest_dim_first():
    rows = {"fact": 1e6, "d_small": 10, "d_mid": 1000, "d_big": 100000}
    edges = [
        E("fact", "d_small", ("fk1", "k1")),
        E("fact", "d_mid", ("fk2", "k2")),
        E("fact", "d_big", ("fk3", "k3")),
    ]
    trace = goo_order(rows, edges)
    merged_dims = [sorted(ca | cb) for ca, cb, _ in trace]
    # greedy merges the most selective (smallest) dimension first
    assert "d_small" in merged_dims[0]
    assert "d_mid" in merged_dims[1]
    assert "d_big" in merged_dims[2]


def test_goo_chain_is_connected_and_deterministic():
    rows = {"a": 1000, "b": 10, "c": 1000}
    edges = [E("a", "b", ("ak", "bk")), E("b", "c", ("bk2", "ck"))]
    t1 = goo_order(rows, edges)
    t2 = goo_order(rows, edges)
    assert t1 == t2  # deterministic tie-break
    assert len(t1) == 2
    # both merges go along edges: estimates stay ~10, never 1000*1000
    assert all(est <= 1000 for _, _, est in t1)


def test_goo_disconnected_raises_then_allows_cross():
    rows = {"a": 10, "b": 20, "c": 30}
    edges = [E("a", "b", ("x", "y"))]
    with pytest.raises(CrossJoinNotSupported):
        goo_order(rows, edges)
    trace = goo_order(rows, edges, allow_cross=True)
    assert len(trace) == 2
    # the cross merge happens only after the connected pair
    assert trace[-1][2] == pytest.approx(10 * 30)


def test_goo_beats_declaration_order_on_cost():
    # fact-first left-deep order forces a huge early intermediate;
    # GOO must be strictly cheaper under the SAME estimator
    rows = {"l": 600_000, "o": 150_000, "c": 15_000, "n": 25}
    edges = [
        E("l", "o", ("lo", "oo")),
        E("o", "c", ("oc", "cc")),
        E("c", "n", ("cn", "nn")),
    ]
    goo = goo_order(rows, edges)
    goo_cost = tree_cost(rows, edges, [(ca, cb) for ca, cb, _ in goo])
    # naive: merge in declaration order l+o, (lo)+c, (loc)+n
    naive_seq = []
    acc = frozenset(["l"])
    for nxt in ["o", "c", "n"]:
        naive_seq.append((acc, frozenset([nxt])))
        acc = acc | {nxt}
    naive_cost = tree_cost(rows, edges, naive_seq)
    assert goo_cost <= naive_cost


def test_goo_join_matches_ordered_join(spark):
    left = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "lk long, lgrp long"
    )
    mid = spark.createDataFrame([(i,) for i in range(3)], "mk long")
    right = spark.createDataFrame(
        [(i, f"v{i}") for i in range(3)], "rk long, rv string"
    )
    out = goo_join(
        {"left": left, "mid": mid, "right": right},
        [
            ("left", "mid", [("lgrp", "mk")]),
            ("mid", "right", [("mk", "rk")]),
        ],
    )
    expected = (
        left.join(mid, F.col("lgrp") == F.col("mk"))
        .join(right, F.col("mk") == F.col("rk"))
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_goo_join_rejects_ambiguous_columns(spark):
    a = spark.createDataFrame([(1,)], "k long")
    b = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="ambiguous column"):
        goo_join({"a": a, "b": b}, [("a", "b", [("k", "k")])])


def test_goo_join_no_cartesian_in_plan(spark, sf_dir):
    from xngin_spark import queries as Q

    Q.load_all()
    df = Q.QUERIES["join_reorder_goo"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# --- exact DP (dpsize/dphyp analog) ---------------------------------------


def test_dp_chain_matches_goo_on_easy_graph():
    from xngin_spark.plans.reorder import dp_order

    rows = {"a": 1000, "b": 10, "c": 1000}
    edges = [E("a", "b", ("ak", "bk")), E("b", "c", ("bk2", "ck"))]
    d = dp_order(rows, edges)
    assert len(d) == 2
    assert all(est <= 1000 for _, _, est in d)


def test_dp_never_costs_more_than_goo_random_graphs():
    import random

    from xngin_spark.plans.reorder import dp_order

    rng = random.Random(9)
    strictly_better = 0
    for _ in range(100):
        n = rng.randrange(3, 8)
        names = [f"v{i}" for i in range(n)]
        rows = {
            v: float(rng.choice([10, 100, 1000, 10000, 100000]))
            for v in names
        }
        edges = []
        for i in range(1, n):  # random spanning tree
            j = rng.randrange(i)
            edges.append(E(names[j], names[i], (f"c{j}_{i}a", f"c{j}_{i}b")))
        for _ in range(rng.randrange(0, 3)):  # plus a few cycle edges
            i, j = rng.sample(range(n), 2)
            edges.append(
                E(names[min(i, j)], names[max(i, j)], (f"x{i}a", f"x{j}b"))
            )
        g = goo_order(rows, edges)
        d = dp_order(rows, edges)
        cg = tree_cost(rows, edges, [(a, b) for a, b, _ in g])
        cd = tree_cost(rows, edges, [(a, b) for a, b, _ in d])
        assert cd <= cg + 1e-9  # DP is optimal under the shared estimator
        if cd < cg - 1e-9:
            strictly_better += 1
    # greedy must actually be fallible on this distribution, or the
    # dominance assertion proves nothing
    assert strictly_better > 0


def test_dp_rejects_disconnected_and_oversized():
    from xngin_spark.plans.reorder import dp_order

    with pytest.raises(CrossJoinNotSupported):
        dp_order({"a": 10, "b": 20}, [])
    big = {f"v{i}": 10.0 for i in range(13)}
    chain = [E(f"v{i-1}", f"v{i}", (f"a{i}", f"b{i}")) for i in range(1, 13)]
    with pytest.raises(ValueError, match="max_vertices"):
        dp_order(big, chain)


def test_dp_join_matches_goo_join_results(spark, sf_dir):
    from xngin_spark import queries as Q

    Q.load_all()
    goo = Q.QUERIES["join_reorder_goo"](spark, sf_dir)
    dp = Q.QUERIES["join_reorder_dp"](spark, sf_dir)
    assert sorted(map(tuple, goo.collect())) == sorted(
        map(tuple, dp.collect())
    )
    plan = dp._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_tree_cost_shares_ndv_estimator_with_order():
    """tree_cost(ndv=...) must evaluate a trace under the SAME
    estimator that produced it: the per-merge estimates goo_order
    emits must sum exactly to tree_cost of the same trace."""
    from xngin_spark.plans.reorder import dp_order

    rows = {"l": 600_000, "o": 150_000, "c": 15_000, "n": 25}
    edges = [
        E("l", "o", ("lo", "oo")),
        E("o", "c", ("oc", "cc")),
        E("c", "n", ("cn", "nn")),
    ]
    # NDV far below base rows — the case the fallback estimator gets wrong
    ndv = {
        ("l", "lo"): 150_000.0, ("o", "oo"): 150_000.0,
        ("o", "oc"): 15_000.0, ("c", "cc"): 15_000.0,
        ("c", "cn"): 25.0, ("n", "nn"): 25.0,
    }
    g = goo_order(rows, edges, ndv=ndv)
    cost_ndv = tree_cost(rows, edges, [(a, b) for a, b, _ in g], ndv=ndv)
    assert cost_ndv == pytest.approx(sum(est for _, _, est in g))
    # under the naive estimator the same trace costs differently
    assert cost_ndv != pytest.approx(
        tree_cost(rows, edges, [(a, b) for a, b, _ in g])
    )
    # DP remains dominant under the ndv estimator too
    d = dp_order(rows, edges, ndv=ndv)
    cd = tree_cost(rows, edges, [(a, b) for a, b, _ in d], ndv=ndv)
    assert cd <= cost_ndv + 1e-9


def test_ndv_cache_keys_by_plan_fingerprint(spark, sf_dir):
    """The shared NDV cache must NOT serve stats measured under one
    query's predicates to a vertex with different predicates on the
    same table — entries key on the canonicalized-plan fingerprint,
    and an identical rebuilt plan still hits the cache."""
    from xngin_spark.plans.reorder import measure_edge_ndv, plan_fingerprint

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    filt = orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
    assert plan_fingerprint(orders) != plan_fingerprint(filt)
    rebuilt = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01")
    )
    assert plan_fingerprint(filt) == plan_fingerprint(rebuilt)

    edges = [E("orders", "customer", ("o_custkey", "c_custkey"))]
    cache: dict = {}
    full = measure_edge_ndv({"orders": orders, "customer": customer}, edges, cache)
    n_full = len(cache)
    part = measure_edge_ndv({"orders": filt, "customer": customer}, edges, cache)
    # different predicate → re-measured, not served stale
    assert len(cache) > n_full
    assert part[("orders", "__rows__")] < full[("orders", "__rows__")]
    # identical rebuilt plan → pure cache hit
    n_now = len(cache)
    again = measure_edge_ndv(
        {"orders": rebuilt, "customer": customer}, edges, cache
    )
    assert len(cache) == n_now
    assert again[("orders", "__rows__")] == part[("orders", "__rows__")]


# --- non-inner hyperedges (dphyp.rs:12-17 TES treatment) ------------------


def EK(a, b, kind, *on):
    return Edge(a, b, tuple(on), kind)


def test_hyper_tes_regions_and_list_order_nesting():
    from xngin_spark.plans.reorder import hyper_tes

    # (A ⋈ B) LEFT (C ⋈ D) LEFT E — inner regions {A,B} {C,D} {E};
    # the second left edge's preserved side is everything built so far
    edges = [
        E("a", "b", ("ak", "bk")),
        E("c", "d", ("ck", "dk")),
        EK("a", "c", "left", ("ak2", "ck2")),
        EK("b", "e", "left", ("bk2", "ek")),
    ]
    tes = hyper_tes(["a", "b", "c", "d", "e"], edges)
    assert tes[edges[2]] == (frozenset("ab"), frozenset("cd"))
    assert tes[edges[3]] == (frozenset("abcd"), frozenset("e"))


def test_hyper_tes_rejects_inner_connected_endpoints():
    from xngin_spark.plans.reorder import hyper_tes

    with pytest.raises(ValueError, match="inner-connected"):
        hyper_tes(
            ["a", "b"],
            [E("a", "b", ("ak", "bk")), EK("a", "b", "left", ("x", "y"))],
        )


def test_goo_order_rejects_non_inner_edges():
    with pytest.raises(ValueError, match="dp_order"):
        goo_order(
            {"a": 10, "b": 10},
            [EK("a", "b", "left", ("ak", "bk"))],
        )


def test_dp_outer_boundary_never_commutes():
    from xngin_spark.plans.reorder import dp_order

    # A LEFT (B ⋈ C): C is tiny and would be the tempting first join
    # for A if the boundary were ignored; the hyperedge forces B⋈C to
    # assemble first and keeps A on the preserved side.
    rows = {"a": 1e6, "b": 1000.0, "c": 5.0}
    edges = [
        EK("a", "b", "left", ("ak", "bk")),
        E("b", "c", ("bk2", "ck")),
    ]
    trace = dp_order(rows, edges)
    assert trace[0] == (frozenset("b"), frozenset("c"), trace[0][2]) or (
        trace[0][0] | trace[0][1] == frozenset("bc")
    )
    left, right, _ = trace[-1]
    assert left == frozenset("a") and right == frozenset("bc")


def test_dp_outer_orientation_survives_cardinality_pressure():
    from xngin_spark.plans.reorder import dp_order

    # even when the preserved side is tiny and the null-supplying side
    # huge (flipping would look cheaper), orientation is pinned
    rows = {"a": 5.0, "b": 1e6, "c": 1e6}
    edges = [
        EK("a", "b", "left", ("ak", "bk")),
        E("b", "c", ("bk2", "ck")),
    ]
    left, right, _ = dp_order(rows, edges)[-1]
    assert left == frozenset("a") and right == frozenset("bc")


def test_dp_inner_region_reorders_under_outer_barrier():
    from xngin_spark.plans.reorder import dp_order

    # (A ⋈ B ⋈ C) LEFT D regardless of where the left edge sits in the
    # declaration list; the inner region still gets DP treatment
    rows = {"a": 1e6, "b": 10.0, "c": 1e5, "d": 100.0}
    edges = [
        EK("c", "d", "left", ("ck2", "dk")),
        E("a", "b", ("ak", "bk")),
        E("b", "c", ("bk2", "ck")),
    ]
    trace = dp_order(rows, edges)
    left, right, _ = trace[-1]
    assert left == frozenset("abc") and right == frozenset("d")
    # inner merges happened strictly inside the region
    for ca, cb, _ in trace[:-1]:
        assert "d" not in ca | cb


def test_dp_semi_anti_estimates_bounded_by_left():
    from xngin_spark.plans.reorder import dp_order

    rows = {"a": 100.0, "b": 1e6}
    semi = dp_order(rows, [EK("a", "b", "semi", ("ak", "bk"))])
    anti = dp_order(rows, [EK("a", "b", "anti", ("ak", "bk"))])
    assert semi[-1][2] <= 100.0
    assert anti[-1][2] <= 100.0


def test_tree_cost_kind_aware_left_preserves_rows():
    rows = {"a": 1000.0, "b": 10.0}
    e_inner = [E("a", "b", ("ak", "bk"))]
    e_left = [EK("a", "b", "left", ("ak", "bk"))]
    seq = [(frozenset("a"), frozenset("b"))]
    # left join never estimates below the preserved side's rows
    assert tree_cost(rows, e_left, seq) >= 1000.0
    assert tree_cost(rows, e_inner, seq) <= tree_cost(rows, e_left, seq)


def test_dp_join_left_semi_anti_end_to_end(spark):
    from xngin_spark.plans.reorder import dp_join

    a = spark.createDataFrame(
        [(i, i % 4) for i in range(12)], "ak long, agrp long"
    )
    b = spark.createDataFrame([(0,), (1,)], "bk long")
    c = spark.createDataFrame(
        [(0, "x"), (1, "y"), (9, "z")], "ck long, cv string"
    )

    def graph(kind):
        return (
            {"a": a, "b": b, "c": c},
            [
                ("a", "b", [("agrp", "bk")], kind),
                ("b", "c", [("bk", "ck")]),
            ],
        )

    for kind, how in (("left", "left_outer"), ("semi", "left_semi"),
                      ("anti", "left_anti")):
        v, e = graph(kind)
        out = dp_join(v, e, measure_ndv=False)
        expected = a.join(
            b.join(c, F.col("bk") == F.col("ck")),
            F.col("agrp") == F.col("bk"),
            how,
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, expected.collect())
        ), kind
        if kind in ("semi", "anti"):
            assert out.columns == a.columns


# --- DPhyp (csg-cmp-pair enumeration, dphyp.rs analog) --------------------


def test_dphyp_matches_dp_optimum_on_random_graphs():
    """DPhyp and dpsize are both exact under the shared estimator —
    on every graph both can solve, their optimal C_out must be equal
    (the plans may differ only among equal-cost ties)."""
    import math
    import random

    from xngin_spark.plans.reorder import dp_order, dphyp_order

    rng = random.Random(41)
    for _ in range(120):
        n = rng.randrange(3, 9)
        names = [f"v{i}" for i in range(n)]
        rows = {
            v: float(rng.choice([10, 100, 1000, 10000, 100000]))
            for v in names
        }
        edges = []
        for i in range(1, n):
            j = rng.randrange(i)
            edges.append(E(names[j], names[i], (f"c{j}_{i}a", f"c{j}_{i}b")))
        for _ in range(rng.randrange(0, 3)):
            i, j = rng.sample(range(n), 2)
            edges.append(
                E(names[min(i, j)], names[max(i, j)], (f"x{i}a", f"x{j}b"))
            )
        d = dp_order(rows, edges)
        h = dphyp_order(rows, edges)
        cd = tree_cost(rows, edges, [(a, b) for a, b, _ in d])
        ch = tree_cost(rows, edges, [(a, b) for a, b, _ in h])
        assert math.isclose(cd, ch, rel_tol=1e-9), (cd, ch)


def test_dphyp_scales_past_the_dpsize_cap():
    """An 18-vertex chain is ~3^18 ≈ 387M splits for dpsize (rejected
    by its cap) but only a few thousand csg-cmp pairs for DPhyp —
    the exact reason the reference ships dphyp.rs."""
    from xngin_spark.plans.reorder import dphyp_order

    n = 18
    rows = {f"v{i:02d}": float(10 ** (1 + i % 4)) for i in range(n)}
    chain = [
        E(f"v{i-1:02d}", f"v{i:02d}", (f"a{i}", f"b{i}"))
        for i in range(1, n)
    ]
    trace = dphyp_order(rows, chain)
    assert len(trace) == n - 1
    # every merge joins along an edge (chain ⇒ contiguous ranges)
    for left, right, _ in trace:
        ids = sorted(int(v[1:]) for v in left | right)
        assert ids == list(range(ids[0], ids[-1] + 1))


def test_dphyp_outer_boundary_never_commutes():
    from xngin_spark.plans.reorder import dphyp_order

    rows = {"a": 1e6, "b": 1000.0, "c": 5.0}
    edges = [
        EK("a", "b", "left", ("ak", "bk")),
        E("b", "c", ("bk2", "ck")),
    ]
    trace = dphyp_order(rows, edges)
    assert trace[0][0] | trace[0][1] == frozenset("bc")
    left, right, _ = trace[-1]
    assert left == frozenset("a") and right == frozenset("bc")


def test_dphyp_hyperedge_waits_for_full_far_side():
    """A LEFT (B ⋈ C): the hyperedge's far side is the whole {B, C}
    inner region, reachable in the neighborhood only through its
    min-index representative — DPhyp must assemble B⋈C first and may
    never cost a partial {A, B} pair."""
    from xngin_spark.plans.reorder import dphyp_order

    rows = {"a": 100.0, "b": 1e6, "c": 3.0}
    edges = [
        EK("a", "b", "left", ("ak", "bk")),
        E("b", "c", ("bk2", "ck")),
    ]
    trace = dphyp_order(rows, edges)
    assert trace[0][0] | trace[0][1] == frozenset("bc")
    left, right, _ = trace[-1]
    assert left == frozenset("a")


def test_dphyp_semi_anti_and_full_match_dp():
    import math

    from xngin_spark.plans.reorder import dp_order, dphyp_order

    for kind in ("semi", "anti", "full", "left"):
        rows = {"a": 5000.0, "b": 800.0, "c": 40.0, "d": 7.0}
        edges = [
            E("a", "b", ("ak", "bk")),
            EK("b", "c", kind, ("bg", "cg")),
            E("c", "d", ("ck", "dk")),
        ]
        d = dp_order(rows, edges)
        h = dphyp_order(rows, edges)
        cd = tree_cost(rows, edges, [(x, y) for x, y, _ in d])
        ch = tree_cost(rows, edges, [(x, y) for x, y, _ in h])
        assert math.isclose(cd, ch, rel_tol=1e-9), (kind, cd, ch)


def test_dphyp_rejects_disconnected():
    from xngin_spark.plans.reorder import dphyp_order

    with pytest.raises(CrossJoinNotSupported):
        dphyp_order({"a": 10, "b": 20}, [])


def test_dphyp_join_matches_dp_join_results(spark, sf_dir):
    from xngin_spark import queries as Q

    Q.load_all()
    dp = Q.QUERIES["join_reorder_dp"](spark, sf_dir)
    hy = Q.QUERIES["join_reorder_dphyp"](spark, sf_dir)
    assert sorted(map(tuple, dp.collect())) == sorted(
        map(tuple, hy.collect())
    )
    plan = hy._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_reorder_join_facade_dispatches(spark):
    from xngin_spark.plans.reorder import reorder_join

    a = spark.range(40).select(
        F.col("id").alias("ak"), (F.col("id") % 5).alias("ag")
    )
    b = spark.range(40).select(
        F.col("id").alias("bk"), (F.col("id") % 5).alias("bg")
    )
    c = spark.range(5).select(F.col("id").alias("ck"))
    out = reorder_join(
        {"a": a, "b": b, "c": c},
        [
            ("a", "b", [("ak", "bk")]),
            ("b", "c", [("bg", "ck")]),
        ],
        measure_ndv=False,
    )
    expected = a.join(b, F.col("ak") == F.col("bk")).join(
        c, F.col("bg") == F.col("ck")
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # a 21-vertex chain with a hyperedge is now INSIDE the 31-vertex
    # cap (chains are ~n^3 pairs — cheap): DPhyp plans it exactly,
    # TES machinery and all, instead of the old 20-vertex refusal
    from xngin_spark.plans.reorder import Edge

    many = {f"v{i:02d}": a.selectExpr(f"ak as k{i:02d}") for i in range(21)}
    chain = [
        Edge(f"v{i-1:02d}", f"v{i:02d}", ((f"k{i-1:02d}", f"k{i:02d}"),))
        for i in range(1, 21)
    ]
    chain[5] = Edge("v05", "v06", (("k05", "k06"),), "left")
    planned = reorder_join(many, chain, measure_ndv=False)
    assert len(planned.columns) == 21
    # beyond the reference's 31-relation graph cap with a hyperedge:
    # explicit refusal, not a bad plan (GOO has no eligibility sets)
    many33 = {f"v{i:02d}": a.selectExpr(f"ak as k{i:02d}") for i in range(33)}
    chain33 = [
        Edge(f"v{i-1:02d}", f"v{i:02d}", ((f"k{i-1:02d}", f"k{i:02d}"),))
        for i in range(1, 33)
    ]
    chain33[5] = Edge("v05", "v06", (("k05", "k06"),), "left")
    with pytest.raises(ValueError, match="exact-DP budget"):
        reorder_join(many33, chain33, measure_ndv=False)


# --- the SQL-entry gate's measurement cost (plans/sqlreorder.py) ----------


def _jobs_in_group(spark, fn):
    """``(fn(), number of Spark jobs fn submitted)``, counted by job
    group through the status tracker."""
    import uuid

    sc = spark.sparkContext
    gid = f"reorder-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_engine_sql_gate_measures_in_one_job(spark, sf_dir):
    """A stock q8 through Engine.sql (the default auto gate) measures
    its eight vertices in at most one job when its constants are new
    to the session, and in none when the same text repeats."""
    import random

    from xngin_spark.engine import Engine
    from xngin_spark.queries import ORACLE, load_all

    load_all()
    eng = Engine(sf_dir, spark=spark)
    day = random.Random().randint(2, 28)  # day 1 is the stock text
    text = ORACLE["q8"].replace(
        "1996-01-01 00:00:00", f"1996-01-{day:02d} 00:00:00"
    )
    assert text != ORACLE["q8"]
    _, first = _jobs_in_group(spark, lambda: eng.sql(text))
    _, again = _jobs_in_group(spark, lambda: eng.sql(text))
    assert first <= 1 and again == 0, (first, again)


def test_measure_edge_ndv_one_job_matches_per_vertex_aggregates(spark, sf_dir):
    """The single observed job returns exactly what one
    ``agg(count, approx_count_distinct...)`` per vertex returns."""
    from xngin_spark.plans.reorder import measure_edge_ndv
    from xngin_spark.queries.micro import _q5_join_graph

    vertices, raw = _q5_join_graph(spark, sf_dir)
    edges = [E(a, b, *on) for a, b, on in raw]
    got, jobs = _jobs_in_group(
        spark, lambda: measure_edge_ndv(vertices, edges, cache={})
    )
    assert jobs == 1
    want = {}
    for v, df in vertices.items():
        cols = sorted(
            {l for e in edges if e.a == v for l, _ in e.on}
            | {r for e in edges if e.b == v for _, r in e.on}
        )
        row = df.agg(
            F.count(F.lit(1)).alias("__rows__"),
            *[F.approx_count_distinct(c).alias(c) for c in cols],
        ).first()
        for c in cols + ["__rows__"]:
            want[(v, c)] = float(row[c]) or 1.0
    assert got == want


@pytest.mark.parametrize(
    "empty", ["n_nationkey < 0", "false"], ids=["scan", "pruned"]
)
def test_measure_edge_ndv_empty_vertex_counts_one_row(spark, sf_dir, empty):
    """A vertex whose filter matches nothing (read and found empty, or
    optimized away) reports one row and one distinct key instead of
    blocking on its observation."""
    import threading

    from xngin_spark.plans.reorder import measure_edge_ndv

    vertices = {
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet").filter(empty),
        "region": spark.read.parquet(f"{sf_dir}/region.parquet"),
    }
    edges = [E("nation", "region", ("n_regionkey", "r_regionkey"))]
    out: dict = {}
    t = threading.Thread(
        target=lambda: out.update(measure_edge_ndv(vertices, edges, cache={})),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "measure_edge_ndv blocked on an empty vertex"
    assert out[("nation", "__rows__")] == 1.0
    assert out[("nation", "n_regionkey")] == 1.0
    assert out[("region", "__rows__")] == 5.0


def test_auto_gate_measures_q21_without_its_subquery_conjuncts(
    spark, sf_dir, monkeypatch
):
    """q21's EXISTS / NOT EXISTS conjuncts list only l1's attributes
    as children. The gate leaves subquery conjuncts out of the leaf
    filters, so the l1 vertex analyzes, the region's NDVs are
    measured, and the region still declines."""
    import xngin_spark.plans.sqlreorder as sq
    from xngin_spark.engine import Engine
    from xngin_spark.queries import ORACLE, load_all

    load_all()
    Engine(sf_dir, spark=spark)  # registers the TPC-H views
    measured = []
    real = sq.measure_edge_ndv

    def spy(vertices, edges, cache=None):
        out = real(vertices, edges, cache)
        measured.append(out)
        return out

    monkeypatch.setattr(sq, "measure_edge_ndv", spy)
    text, traces = sq.dphyp_rewrite(spark, ORACLE["q21"], mode="auto")
    assert text == ORACLE["q21"] and traces == []
    assert any(("l1", "l_orderkey") in ndv for ndv in measured)
