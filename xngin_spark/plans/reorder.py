"""Greedy Operator Ordering (GOO) join reordering — the JoinGraph analog.

Reference: the one reference subsystem previously delegated wholesale to
Catalyst — ``doradb-plan/src/join/graph.rs`` (hypergraph of ≤31
relations), ``join/reorder/greedy.rs:16`` (``Goo`` — "greedily combine
join trees such that intermediate result is minimal", building a BUSHY
tree), ``join/reorder/dphyp.rs`` (exact DP over the hypergraph) and
``join/estimate.rs`` (the ``Estimate`` trait the reorderers consult).

Division of labor with Catalyst, stated precisely:

- For SQL-entry queries (``Engine.sql`` / ``spark.sql``) Catalyst's
  CBO + AQE already reorder inner-join trees; we deliberately do NOT
  second-guess it there (SURVEY §4.2 decision, plan-asserted by
  tests/test_plan_shape.py: no CartesianProduct on q5/q21).
- For PLAN-BUILDER entry (the ``plans.*`` programmatic API, the analog
  of the reference's lgc builder), the caller supplies a join ORDER
  today. This module supplies the missing piece: give it the JOIN GRAPH
  (vertices + equi-edges, exactly what ``Join::Cross`` +
  ``JoinGraph`` carry in the reference) and it picks the order, so a
  caller can hand over an arbitrarily-ordered graph without writing a
  cartesian product by accident.

Estimation: base-table cardinalities come from Catalyst's own
optimized-plan statistics (``sizeInBytes`` — filter selectivity and
column pruning already applied, no extra jobs), and join growth uses
the System-R PK-FK independence assumption
``|X ⋈ Y| = |X|·|Y| / max(base(a), base(b))`` for an edge between base
relations a ∈ X, b ∈ Y (the key domain is the larger side). That is the
same order of sophistication as the reference's row-count ``Estimate``
(join/estimate.rs keeps per-vertex-set row estimates, no histograms).

Scale note: GOO is O(V·E) driver-side arithmetic over a dict of
numbers — nothing here touches data. The output plan still goes through
Catalyst/AQE, so runtime re-planning (broadcast demotion, skew splits)
applies on top; GOO only guarantees the DECLARED tree joins along
edges (never a cartesian) with greedily-minimal intermediate sizes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CrossJoinNotSupported(ValueError):
    """Join graph is disconnected — reorder would need a cartesian
    product (parity with doradb-plan Error::CrossJoinNotSupport,
    raised by greedy.rs:42 when edges run out before components
    merge). Pass ``allow_cross=True`` to merge leftovers smallest-first
    instead."""


#: edge kinds and their Spark join strings. Non-inner kinds are
#: ORDER-CONSTRAINING (dphyp.rs:12-17 — the hypergraph exists exactly
#: so outer/semi joins constrain reorder): ``a``'s side is the
#: preserved/probe side, ``b``'s side the null-supplying/build side.
_JOIN_HOW = {
    "inner": "inner",
    "left": "left_outer",
    "full": "full_outer",
    "semi": "left_semi",
    "anti": "left_anti",
}


@dataclass(frozen=True)
class Edge:
    """Equi-join edge between two named vertices: ``on`` is a list of
    (left_col, right_col) name pairs (all ANDed). ``kind`` defaults to
    ``inner`` (freely reorderable); ``left``/``full``/``semi``/``anti``
    edges are hyperedges — their two sides' inner regions must each be
    fully assembled before the join applies, and the orientation
    (``a`` = preserved side) never commutes."""

    a: str
    b: str
    on: tuple[tuple[str, str], ...]
    kind: str = "inner"

    def __post_init__(self):
        if self.kind not in _JOIN_HOW:
            raise ValueError(
                f"unknown edge kind {self.kind!r}; one of {sorted(_JOIN_HOW)}"
            )

    def cond(self):
        return [F.col(l) == F.col(r) for l, r in self.on]


def _as_edge(e) -> Edge:
    if isinstance(e, Edge):
        return e
    a, b, on, *rest = e
    return Edge(a, b, tuple(map(tuple, on)), *(rest or ()))


def hyper_tes(
    names, edges: list[Edge]
) -> dict[Edge, tuple[frozenset, frozenset]]:
    """Total eligibility sets (TES) for every non-inner edge — the
    dphyp.rs:12-17 hyperedge treatment: a non-inner join may only fire
    once its ENTIRE left operand region sits on the preserved side and
    its entire right operand region on the other, so reorder can move
    freely WITHIN each region but never commute across the boundary.

    Regions are the connected components of the inner-edge subgraph.
    Non-inner edges then nest in LIST ORDER (each merges the two
    super-regions its endpoints currently belong to — the same
    convention as writing the joins left-to-right in SQL), so a chain
    ``A LEFT B LEFT C`` gives the second edge TES_left = {A, B}.
    Raises when a non-inner edge's endpoints share an inner-connected
    region (the inner predicate would contradict the outer join)."""
    parent = {n: n for n in names}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for e in edges:
        if e.kind == "inner":
            parent[find(e.a)] = find(e.b)
    members: dict[str, set[str]] = {}
    for n in names:
        members.setdefault(find(n), set()).add(n)
    # super-regions start as inner regions and merge per non-inner edge
    super_of = {r: r for r in members}

    def sfind(r: str) -> str:
        while super_of[r] != r:
            super_of[r] = super_of[super_of[r]]
            r = super_of[r]
        return r

    super_members = {r: frozenset(m) for r, m in members.items()}
    tes: dict[Edge, tuple[frozenset, frozenset]] = {}
    for e in edges:
        if e.kind == "inner":
            continue
        sa, sb = sfind(find(e.a)), sfind(find(e.b))
        if sa == sb:
            raise ValueError(
                f"non-inner edge {e.a}-{e.b} ({e.kind}) endpoints are "
                "already inner-connected — the inner predicate would "
                "contradict the outer/semi join"
            )
        tes[e] = (super_members[sa], super_members[sb])
        super_of[sb] = sa
        super_members[sa] = super_members[sa] | super_members[sb]
    return tes


def _combine_rows(kind: str, rl: float, rr: float, sel: float) -> float:
    """Row estimate of ``left KIND-join right`` under edge selectivity
    ``sel`` — the reference keeps the same order of sophistication
    (per-vertex-set row estimates, join/estimate.rs): left preserves
    at least its left side, semi is capped by it, anti is its
    complement, full preserves both."""
    m = rl * rr * sel  # matching pairs (the inner estimate)
    if kind == "inner":
        return m
    if kind == "left":
        return max(rl, m)
    if kind == "full":
        return max(rl, rr, m)
    if kind == "semi":
        return min(rl, m)
    if kind == "anti":
        return max(1.0, rl - min(rl, m))
    raise ValueError(kind)


@dataclass
class _Comp:
    names: frozenset[str]
    rows: float
    df: DataFrame | None = None
    order: list = field(default_factory=list)  # merge trace (for tests)


def _edge_selectivity(
    e: Edge,
    base: dict[str, float],
    ndv: dict[tuple[str, str], float] | None,
) -> float:
    """Selectivity of one equi-edge under the SHARED estimator all
    reorderers (and tree_cost) must agree on. With measured NDV
    (System-R): 1/max(ndv(a.col), ndv(b.col)) per column pair;
    fallback: 1/max(base rows) — the PK-FK guess, wrong exactly when
    the key's domain is much smaller than either table."""
    if ndv is None:
        return 1.0 / max(base[e.a], base[e.b], 1.0)
    s = 1.0
    for lcol, rcol in e.on:
        s /= max(
            ndv.get((e.a, lcol), base[e.a]),
            ndv.get((e.b, rcol), base[e.b]),
            1.0,
        )
    return s


def plan_fingerprint(df: DataFrame) -> str:
    """Stable driver-side fingerprint of a DataFrame's OPTIMIZED plan
    (canonicalized, so expression IDs — which differ every time the
    same query is re-built — don't perturb it). Used to key cached
    per-vertex statistics: two vertices over the same table but with
    DIFFERENT predicates must not share NDV/rowcount entries.

    The DATA VERSION is part of the key, not just the plan text: a
    canonicalized file-scan prints the location, not the file set, so
    CDC/maintenance appending to the same path in a long-lived session
    would otherwise gate on stale cardinalities (r9 verdict #4). The
    scan's input-file list (driver-side, already listed at DataFrame
    build) is hashed in — Spark part-file names are unique per write,
    so appends, compactions and overwrites all move the fingerprint."""
    import hashlib

    s = df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    s += "\x00".join(sorted(df.inputFiles()))
    return hashlib.md5(s.encode()).hexdigest()[:16]


def catalyst_rows(df: DataFrame) -> float:
    """Cardinality proxy from Catalyst's optimized-plan statistics:
    ``sizeInBytes`` after filter/prune pushdown, normalized by an
    estimated row width so magnitudes compare across tables. Costs no
    Spark jobs (pure driver-side plan analysis)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    stats = plan.stats()
    row_count = stats.rowCount()
    if row_count.isDefined():
        return float(str(row_count.get()))
    width = max(
        8 * len(df.columns), 1
    )  # bytes/row guess: Catalyst's own default per-col estimate scale
    return max(float(str(stats.sizeInBytes())) / width, 1.0)


def measure_edge_ndv(
    vertices: dict[str, DataFrame],
    edges: list[Edge],
    cache: dict[tuple[str, str], float] | None = None,
) -> dict[tuple[str, str], float]:
    """Approximate NDV for every join-key column an edge touches, plus
    each vertex's exact row count. Every vertex that misses ``cache`` is
    measured in ONE single-stage job: each carries ``count(1)`` and an
    ``approx_count_distinct`` (HLL) per key column as an
    :class:`~pyspark.sql.Observation`, and their union is written to
    the ``noop`` sink, so no vertex pays a shuffle aggregate or a job
    of its own. This is the measured analog of the stats an ANALYZE
    pass would persist; pass ``cache`` (caller-owned, e.g. keyed per
    dataset) to pay each vertex once per session instead of once per
    query. Without it the naive max-base-rows key-domain guess
    mis-ranks low-cardinality equi-edges (e.g. a 25-value nationkey
    joining two 10^4-row tables looks selective but multiplies) —
    measured 9x slower plans on the q5 graph.

    ``cache`` entries are keyed by ``(plan_fingerprint, col)`` — NOT by
    vertex name: a vertex carries its query's predicates (q5 filters
    orders to one year), and a different query reusing the cache with a
    different filter on the same table name must re-measure, not reuse
    stale cardinalities. The RETURNED dict is name-keyed for the
    current graph (what goo_order/dp_order consume). An empty vertex
    counts as one row and one distinct value."""
    from functools import reduce

    from pyspark.sql import Observation

    cache = cache if cache is not None else {}
    want: dict[str, set[str]] = {}
    for e in edges:
        for v, c in ((e.a, [l for l, _ in e.on]), (e.b, [r for _, r in e.on])):
            want.setdefault(v, set()).update(c)
    fp = {v: plan_fingerprint(vertices[v]) for v in want}
    need: dict[str, set[str]] = {}
    for v, cols in want.items():
        missing = {c for c in cols if (fp[v], c) not in cache}
        if missing or (fp[v], "__rows__") not in cache:
            need[v] = missing
    if need:
        legs, seen = [], []
        for v, cols in need.items():
            obs, cols = Observation(), sorted(cols)
            legs.append(
                vertices[v]
                .observe(obs, F.count(F.lit(1)), *map(F.approx_count_distinct, cols))
                .select()
            )
            # the exact row count rides along for free in the same job
            # — goo_join prefers it over the sizeInBytes/width guess
            seen.append((v, ["__rows__", *cols], obs))
        reduce(DataFrame.unionAll, legs).write.format("noop").mode(
            "overwrite"
        ).save()
        for v, names, obs in seen:
            # metrics come back in the order they were observed
            for c, x in zip(names, obs.get.values()):
                cache[(fp[v], c)] = float(x) or 1.0
    return {
        (v, c): cache[(fp[v], c)]
        for v, cols in want.items()
        for c in cols | {"__rows__"}
    }


def goo_order(
    rows: dict[str, float],
    edges: list[Edge],
    allow_cross: bool = False,
    ndv: dict[tuple[str, str], float] | None = None,
) -> list[tuple[frozenset, frozenset, float]]:
    """Pure GOO on numbers (no Spark): repeatedly merge the component
    pair, connected by at least one edge, whose merged estimate is
    minimal. Returns the merge sequence
    ``[(left_names, right_names, est_rows), ...]`` — deterministic via
    a (est, sorted-names) tie-break so tests can pin the trace.

    Mirrors greedy.rs:27-66: initialize singleton components, loop
    ``min_res`` edge selection, purge edges that became internal.
    """
    if any(e.kind != "inner" for e in edges):
        raise ValueError(
            "goo_order handles inner equi-edges only; graphs with "
            "outer/semi/anti hyperedges go through dp_order (the "
            "greedy reorderer has no eligibility-set machinery)"
        )
    comps: dict[frozenset, float] = {
        frozenset([n]): float(r) for n, r in rows.items()
    }
    base = dict(rows)
    for e in edges:
        if e.a not in base or e.b not in base:
            raise KeyError(f"edge {e.a}-{e.b} references unknown vertex")
    live = list(edges)
    trace: list[tuple[frozenset, frozenset, float]] = []

    def edge_sel(e: Edge) -> float:
        return _edge_selectivity(e, base, ndv)

    def find(name: str) -> frozenset:
        for c in comps:
            if name in c:
                return c
        raise KeyError(name)

    while len(comps) > 1:
        # candidate pairs = component pairs connected by >=1 live edge;
        # ALL connecting edges contribute selectivity (the reference's
        # min_res applies every edge whose vertex sets are covered and
        # purges them together, greedy.rs:44-50)
        pair_sel: dict[tuple[frozenset, frozenset], float] = {}
        for e in live:
            ca, cb = find(e.a), find(e.b)
            if ca == cb:
                continue
            pair = (ca, cb) if tuple(sorted(ca)) < tuple(sorted(cb)) else (cb, ca)
            pair_sel[pair] = pair_sel.get(pair, 1.0) * edge_sel(e)
        best = None
        for (ca, cb), sel in pair_sel.items():
            est = comps[ca] * comps[cb] * sel
            key = (est, tuple(sorted(ca | cb)))
            if best is None or key < best[0]:
                best = (key, ca, cb, est)
        if best is None:
            if not allow_cross:
                raise CrossJoinNotSupported(
                    f"{len(comps)} disconnected components remain: "
                    f"{sorted(sorted(c) for c in comps)}"
                )
            ordered = sorted(comps.items(), key=lambda kv: (kv[1], tuple(sorted(kv[0]))))
            (ca, ra), (cb, rb) = ordered[0], ordered[1]
            best = (None, ca, cb, ra * rb)
        _, ca, cb, est = best
        trace.append((ca, cb, est))
        comps[ca | cb] = est
        del comps[ca], comps[cb]
        live = [e for e in live if find(e.a) != find(e.b)]
    return trace


def dp_order(
    rows: dict[str, float],
    edges: list[Edge],
    ndv: dict[tuple[str, str], float] | None = None,
    max_vertices: int = 12,
) -> list[tuple[frozenset, frozenset, float]]:
    """EXACT join-order DP (DPsize over connected subgraphs, Moerkotte
    & Neumann's DPccp family — the reference's dphyp.rs is the
    hypergraph member of the same family; its dpsize.rs is literally
    this) minimizing C_out (sum of intermediate result sizes) under
    the same estimator as GOO. Bitmask DP over connected vertex
    subsets: O(3^V · E) driver arithmetic, so it's capped at
    ``max_vertices`` (12 ≈ 7M steps in pure Python); larger graphs should fall back
    to :func:`goo_order` (greedy, linear), the same greedy-vs-DP split
    the reference ships. Returns the same merge-trace format as
    goo_order, with each step ORIENTED (left names = preserved side).
    Trees are BUSHY: any connected/connected split is considered, not
    just left-deep.

    Non-inner edges (``kind`` left/full/semi/anti) are handled as
    HYPEREDGES per dphyp.rs:12-17: :func:`hyper_tes` computes each
    edge's total eligibility sets, and a split may apply the edge only
    when the full preserved-side region ⊆ L and the full other region
    ⊆ R — so DP reorders freely WITHIN each inner region but never
    commutes a relation across an outer/semi boundary, and never flips
    the non-commutative join's sides."""
    names = sorted(rows)
    if len(names) > max_vertices:
        raise ValueError(
            f"{len(names)} vertices > max_vertices={max_vertices}; "
            "use goo_order for large graphs"
        )
    idx = {n: i for i, n in enumerate(names)}
    base = {n: float(r) for n, r in rows.items()}
    tes = hyper_tes(names, edges)

    def vmask(vs) -> int:
        m = 0
        for v in vs:
            m |= 1 << idx[v]
        return m

    def esel(e: Edge) -> float:
        return _edge_selectivity(e, base, ndv)

    emasks = [
        (1 << idx[e.a], 1 << idx[e.b], esel(e))
        for e in edges
        if e.kind == "inner"
    ]
    hypers = [
        (vmask(tl), vmask(tr), esel(e), e.kind) for e, (tl, tr) in tes.items()
    ]
    # best[mask] = (cost, est_rows, oriented (lmask, rmask) | None)
    best: dict[int, tuple[float, float, tuple | None]] = {
        1 << i: (0.0, base[n], None) for n, i in idx.items()
    }
    full = (1 << len(names)) - 1
    for mask in range(3, full + 1):
        if mask in best or (mask & (mask - 1)) == 0:
            continue
        # enumerate submask splits L | R = mask, L < R canonical, then
        # consider BOTH orientations (hyperedges fix which side is
        # preserved; inner edges are orientation-free)
        sub = (mask - 1) & mask
        cand = None
        while sub:
            L, R = sub, mask ^ sub
            if L < R and L in best and R in best:
                isel, crosses = 1.0, False
                for am, bm, s in emasks:
                    if (am & L and bm & R) or (am & R and bm & L):
                        isel *= s
                        crosses = True
                # at most one hyperedge can span a split (regions nest)
                hyper = None
                for tl, tr, s, kind in hypers:
                    if tl & mask == tl and tr & mask == tr and (
                        (tl & R == 0 and tr & L == 0)
                        or (tl & L == 0 and tr & R == 0)
                    ):
                        hyper = (tl, tr, s, kind)
                        break
                for X, Y in ((L, R), (R, L)):
                    if hyper is not None:
                        tl, tr, hsel, kind = hyper
                        # preserved side must fully sit in X, other in Y
                        if not (tl & X == tl and tr & Y == tr):
                            continue
                        cx, rx, _ = best[X]
                        cy, ry, _ = best[Y]
                        est = _combine_rows(kind, rx, ry, hsel * isel)
                    elif crosses:
                        if X > Y:
                            continue  # inner joins commute; dedup
                        cx, rx, _ = best[X]
                        cy, ry, _ = best[Y]
                        est = rx * ry * isel
                    else:
                        continue
                    cost = cx + cy + est
                    key = (cost, est, X)
                    if cand is None or key < cand[0]:
                        cand = (key, est, (X, Y))
            sub = (sub - 1) & mask
        if cand is not None:
            best[mask] = (cand[0][0], cand[1], cand[2])
    if full not in best:
        raise CrossJoinNotSupported(
            "join graph is disconnected (no edge-covered DP plan)"
        )

    def to_names(mask: int) -> frozenset:
        return frozenset(n for n, i in idx.items() if mask & (1 << i))

    trace: list[tuple[frozenset, frozenset, float]] = []

    def walk(mask: int) -> None:
        cost, est, split = best[mask]
        if split is None:
            return
        L, R = split
        walk(L)
        walk(R)
        trace.append((to_names(L), to_names(R), est))

    walk(full)
    return trace


class DPhypBudgetExceeded(Exception):
    """The csg-cmp enumeration outgrew ``pair_budget`` — the graph is
    too DENSE for exact DP at this size (a star/clique's pair count is
    exponential in n even though a chain's is cubic). Callers fall
    back to GOO; :func:`reorder_join` does so automatically."""


def dphyp_order(
    rows: dict[str, float],
    edges: list[Edge],
    ndv: dict[tuple[str, str], float] | None = None,
    max_vertices: int = 31,
    pair_budget: int = 1_000_000,
) -> list[tuple[frozenset, frozenset, float]]:
    """DPhyp — the csg-cmp-pair DP enumerator (Moerkotte & Neumann,
    "Dynamic Programming Strikes Back", SIGMOD 2008) the reference's
    ``join/reorder/dphyp.rs`` implements. Same C_out objective, same
    shared estimator and :func:`hyper_tes` hyperedge treatment as
    :func:`dp_order`; the difference is ENUMERATION: instead of
    visiting every L|R submask split of every vertex set (O(3^V)
    regardless of graph shape), DPhyp walks only connected-subgraph /
    connected-complement pairs reachable through the edge structure —
    #csg-cmp-pairs, the provable lower bound for join-order DP. On a
    20-vertex chain that is ~3.4k pairs where dpsize would enumerate
    ~3.5G splits, which is exactly why the reference ships dphyp.rs
    next to dpsize.rs (greedy / dpsize ≤ small graphs / dphyp beyond).

    Non-inner edges are hyperedges: a hyperedge contributes to the
    NEIGHBORHOOD only through the minimum-index vertex of its far side
    (the paper's representative trick) and only once its near side is
    fully contained in the growing subgraph, so enumeration itself
    respects the eligibility sets and no invalid pair is ever costed.

    ``max_vertices`` matches the reference's 31-relation graph cap
    (join/graph.rs:15 ``MAX=31``, its u32 vertex-mask width). The real
    affordability constraint is not vertex count but ENUMERATION SIZE:
    a 31-chain is ~5k csg-cmp pairs, a 20-star already ~5M — so the
    enumeration carries an explicit work budget (``pair_budget``
    counted in visited subset steps + emitted pairs) and raises
    :class:`DPhypBudgetExceeded` when a dense graph outgrows it,
    instead of a shape-blind vertex cutoff rejecting cheap sparse
    graphs the reference would enumerate exactly.

    Returns the same oriented merge-trace format as :func:`dp_order`;
    on any graph both enumerators agree on optimal C_out (property-
    tested in tests/test_reorder.py)."""
    names = sorted(rows)
    n = len(names)
    if n > max_vertices:
        raise ValueError(
            f"{n} vertices > max_vertices={max_vertices}; "
            "use goo_order for very large graphs"
        )
    budget = [int(pair_budget)]
    idx = {name: i for i, name in enumerate(names)}
    base = {name: float(r) for name, r in rows.items()}
    tes = hyper_tes(names, edges)

    def vmask(vs) -> int:
        m = 0
        for v in vs:
            m |= 1 << idx[v]
        return m

    simple = [
        (1 << idx[e.a], 1 << idx[e.b], _edge_selectivity(e, base, ndv))
        for e in edges
        if e.kind == "inner"
    ]
    hypers = [
        (vmask(tl), vmask(tr), _edge_selectivity(e, base, ndv), e.kind)
        for e, (tl, tr) in tes.items()
    ]

    # dp[mask] = (cost, est_rows, oriented (lmask, rmask) | None)
    dp: dict[int, tuple[float, float, tuple | None]] = {
        1 << i: (0.0, base[name], None) for name, i in idx.items()
    }

    def neighbors(S: int, X: int) -> int:
        """Vertices adjacent to S, excluding X — hyperedges contribute
        their far side's min-index vertex as representative, and only
        when their near side is fully assembled inside S."""
        forbidden = S | X
        N = 0
        for am, bm, _ in simple:
            if am & S and not bm & forbidden:
                N |= bm
            if bm & S and not am & forbidden:
                N |= am
        for tl, tr, _, _ in hypers:
            if tl & S == tl and not tr & forbidden:
                N |= tr & -tr  # lowest set bit of the far side
            if tr & S == tr and not tl & forbidden:
                N |= tl & -tl
        return N

    def connection(S1: int, S2: int):
        """(inner_sel, crossed, hyperedge|None) across the S1/S2 cut —
        the same edge-application rule as dp_order's split scan."""
        isel, crossed = 1.0, False
        for am, bm, s in simple:
            if (am & S1 and bm & S2) or (am & S2 and bm & S1):
                isel *= s
                crossed = True
        hyper = None
        for tl, tr, s, kind in hypers:
            if (tl & S1 == tl and tr & S2 == tr) or (
                tl & S2 == tl and tr & S1 == tr
            ):
                hyper = (tl, tr, s, kind)
                break
        return isel, crossed, hyper

    def emit_csg_cmp(S1: int, S2: int) -> None:
        budget[0] -= 1
        if budget[0] < 0:
            raise DPhypBudgetExceeded(
                f"{n}-vertex graph exceeded pair_budget={pair_budget}"
            )
        isel, crossed, hyper = connection(S1, S2)
        mask = S1 | S2
        cur = dp.get(mask)
        cand = None
        for X, Y in ((S1, S2), (S2, S1)):
            cx, rx, _ = dp[X]
            cy, ry, _ = dp[Y]
            if hyper is not None:
                tl, tr, hsel, kind = hyper
                if not (tl & X == tl and tr & Y == tr):
                    continue  # non-commutative: preserved side is tl's
                est = _combine_rows(kind, rx, ry, hsel * isel)
            elif crossed:
                if X > Y:
                    continue  # inner joins commute; canonical orientation
                est = rx * ry * isel
            else:
                return  # not connected — nothing to emit
            cost = cx + cy + est
            key = (cost, est, X)
            if cand is None or key < cand[0]:
                cand = (key, est, (X, Y))
        if cand is None:
            return
        if cur is None or (cand[0][0], cand[1], cand[2][0]) < (
            cur[0],
            cur[1],
            cur[2][0] if cur[2] else -1,
        ):
            dp[mask] = (cand[0][0], cand[1], cand[2])

    def subsets(mask: int) -> list[int]:
        """All non-empty submasks, ascending (the paper's N' order)."""
        subs = []
        s = mask
        while s:
            subs.append(s)
            s = (s - 1) & mask
        return sorted(subs)

    def enumerate_cmp_rec(S1: int, S2: int, X: int) -> None:
        N = neighbors(S2, X)
        if not N:
            return
        subs = subsets(N)
        budget[0] -= len(subs)  # visited-step work, even when no emit
        if budget[0] < 0:
            raise DPhypBudgetExceeded(
                f"{n}-vertex graph exceeded pair_budget={pair_budget}"
            )
        for Np in subs:
            S2n = S2 | Np
            if S2n in dp:
                emit_csg_cmp(S1, S2n)
        for Np in subs:
            enumerate_cmp_rec(S1, S2 | Np, X | N)

    def bmask(i: int) -> int:
        return (1 << (i + 1)) - 1

    def emit_csg(S1: int) -> None:
        minv = (S1 & -S1).bit_length() - 1
        X = S1 | bmask(minv)
        N = neighbors(S1, X)
        for i in range(n - 1, -1, -1):
            if not N & (1 << i):
                continue
            S2 = 1 << i
            _, crossed, hyper = connection(S1, S2)
            if crossed or hyper is not None:
                emit_csg_cmp(S1, S2)
            enumerate_cmp_rec(S1, S2, X | (N & bmask(i)))

    def enumerate_csg_rec(S: int, X: int) -> None:
        N = neighbors(S, X)
        if not N:
            return
        subs = subsets(N)
        budget[0] -= len(subs)
        if budget[0] < 0:
            raise DPhypBudgetExceeded(
                f"{n}-vertex graph exceeded pair_budget={pair_budget}"
            )
        for Np in subs:
            Sn = S | Np
            if Sn in dp:
                emit_csg(Sn)
        for Np in subs:
            enumerate_csg_rec(S | Np, X | N)

    for i in range(n - 1, -1, -1):
        emit_csg(1 << i)
        enumerate_csg_rec(1 << i, bmask(i))

    full = (1 << n) - 1
    if full not in dp:
        raise CrossJoinNotSupported(
            "join graph is disconnected (no edge-covered DPhyp plan)"
        )

    def to_names(mask: int) -> frozenset:
        return frozenset(name for name, i in idx.items() if mask & (1 << i))

    trace: list[tuple[frozenset, frozenset, float]] = []

    def walk(mask: int) -> None:
        _, est, split = dp[mask]
        if split is None:
            return
        L, R = split
        walk(L)
        walk(R)
        trace.append((to_names(L), to_names(R), est))

    walk(full)
    return trace


def goo_join(
    vertices: dict[str, DataFrame],
    edges: list[Edge | tuple],
    allow_cross: bool = False,
    rows: dict[str, float] | None = None,
    ndv: dict[tuple[str, str], float] | None = None,
    measure_ndv: bool = True,
    ndv_cache: dict[tuple[str, str], float] | None = None,
) -> DataFrame:
    """Join an arbitrarily-ordered graph of DataFrames along its
    equi-edges in GOO order (bushy tree, greedily-minimal intermediate
    results). ``edges`` accepts ``Edge`` or ``(a, b, [(lcol, rcol),…])``
    tuples; ``rows`` overrides the Catalyst-stats cardinalities (for
    tests / external ANALYZE sources).

    Column names must be globally unique across vertices (the TPC-H
    prefix convention) — enforced here because join conditions are
    expressed by name after the merge.
    """
    edges = [_as_edge(e) for e in edges]
    seen: dict[str, str] = {}
    for vname, df in vertices.items():
        for c in df.columns:
            if c in seen:
                raise ValueError(
                    f"ambiguous column '{c}' in both {seen[c]} and {vname}; "
                    "goo_join requires globally unique column names"
                )
            seen[c] = vname
    if ndv is None and measure_ndv:
        ndv = measure_edge_ndv(vertices, edges, ndv_cache)
    est = rows or {
        n: (
            ndv[(n, "__rows__")]
            if ndv is not None and (n, "__rows__") in ndv
            else catalyst_rows(df)
        )
        for n, df in vertices.items()
    }
    trace = goo_order(est, edges, allow_cross=allow_cross, ndv=ndv)
    return _build_join(vertices, edges, trace)


def _build_join(vertices, edges, trace) -> DataFrame:
    """Materialize a merge trace as a join tree (every edge connecting
    the two merged components goes into that join's ON). A non-inner
    edge dictates the join type and orientation — the trace's left
    component must hold its preserved side (dp_order emits oriented
    splits; goo_order never produces non-inner merges)."""
    comp_df: dict[frozenset, DataFrame] = {
        frozenset([n]): df for n, df in vertices.items()
    }
    for ca, cb, _ in trace:
        conds, how = [], "inner"
        for e in edges:
            if (e.a in ca and e.b in cb) or (e.a in cb and e.b in ca):
                conds.extend(e.cond())
                if e.kind != "inner":
                    if e.a not in ca and e.kind != "full":
                        raise AssertionError(
                            f"trace step {sorted(ca)}|{sorted(cb)} flips "
                            f"non-commutative {e.kind} edge {e.a}-{e.b}"
                        )
                    how = _JOIN_HOW[e.kind]
        left, right = comp_df.pop(ca), comp_df.pop(cb)
        if conds:
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            comp_df[ca | cb] = left.join(right, on=cond, how=how)
        else:
            comp_df[ca | cb] = left.crossJoin(right)
    (result,) = comp_df.values()
    return result


def dp_join(
    vertices: dict[str, DataFrame],
    edges: list[Edge | tuple],
    rows: dict[str, float] | None = None,
    ndv: dict[tuple[str, str], float] | None = None,
    measure_ndv: bool = True,
    ndv_cache: dict[tuple[str, str], float] | None = None,
    max_vertices: int = 12,
) -> DataFrame:
    """Exact-DP twin of :func:`goo_join` — same graph input, same
    stats source, C_out-OPTIMAL bushy order via :func:`dp_order`
    (dpsize.rs/dphyp.rs analog). Use for graphs up to ``max_vertices``
    relations; beyond that, GOO."""
    edges = [_as_edge(e) for e in edges]
    seen: dict[str, str] = {}
    for vname, df in vertices.items():
        for c in df.columns:
            if c in seen:
                raise ValueError(
                    f"ambiguous column '{c}' in both {seen[c]} and {vname}; "
                    "dp_join requires globally unique column names"
                )
            seen[c] = vname
    if ndv is None and measure_ndv:
        ndv = measure_edge_ndv(vertices, edges, ndv_cache)
    est = rows or {
        n: (
            ndv[(n, "__rows__")]
            if ndv is not None and (n, "__rows__") in ndv
            else catalyst_rows(df)
        )
        for n, df in vertices.items()
    }
    trace = dp_order(est, edges, ndv=ndv, max_vertices=max_vertices)
    return _build_join(vertices, edges, trace)


def dphyp_join(
    vertices: dict[str, DataFrame],
    edges: list[Edge | tuple],
    rows: dict[str, float] | None = None,
    ndv: dict[tuple[str, str], float] | None = None,
    measure_ndv: bool = True,
    ndv_cache: dict[tuple[str, str], float] | None = None,
    max_vertices: int = 31,
    pair_budget: int = 1_000_000,
) -> DataFrame:
    """csg-cmp-pair twin of :func:`dp_join` — same graph input, same
    stats source, same C_out optimum, via :func:`dphyp_order`
    (dphyp.rs analog). Use for graphs past dp_join's 12-relation
    dpsize cap; the two produce equal-cost plans wherever both run.
    Raises :class:`DPhypBudgetExceeded` when the graph is too dense to
    enumerate within ``pair_budget`` (see dphyp_order)."""
    edges = [_as_edge(e) for e in edges]
    seen: dict[str, str] = {}
    for vname, df in vertices.items():
        for c in df.columns:
            if c in seen:
                raise ValueError(
                    f"ambiguous column '{c}' in both {seen[c]} and {vname}; "
                    "dphyp_join requires globally unique column names"
                )
            seen[c] = vname
    if ndv is None and measure_ndv:
        ndv = measure_edge_ndv(vertices, edges, ndv_cache)
    est = rows or {
        n: (
            ndv[(n, "__rows__")]
            if ndv is not None and (n, "__rows__") in ndv
            else catalyst_rows(df)
        )
        for n, df in vertices.items()
    }
    trace = dphyp_order(
        est,
        edges,
        ndv=ndv,
        max_vertices=max_vertices,
        pair_budget=pair_budget,
    )
    return _build_join(vertices, edges, trace)


def reorder_join(
    vertices: dict[str, DataFrame],
    edges: list[Edge | tuple],
    **kw,
) -> DataFrame:
    """Dispatching facade — the reference's enumerator split
    (join/reorder: dphyp for graphs DP can afford, greedy beyond):
    exact DPhyp up to the reference's 31-relation graph cap
    (join/graph.rs:15), GOO above — and GOO fallback when a DENSE
    graph inside the cap outgrows the enumeration budget (a 31-chain
    is ~5k csg-cmp pairs; a 20-star is already millions — shape, not
    vertex count, is what DP affordability depends on). Graphs with
    non-inner hyperedges always take the DP path (GOO has no
    eligibility-set machinery), so a too-dense mixed-kind graph is the
    caller's cue to pre-partition the problem."""
    es = [_as_edge(e) for e in edges]
    if len(vertices) <= 31:
        try:
            return dphyp_join(vertices, es, **kw)
        except DPhypBudgetExceeded:
            if any(e.kind != "inner" for e in es):
                raise ValueError(
                    f"{len(vertices)}-vertex graph with non-inner "
                    "hyperedges exceeds the exact-DP budget; split the "
                    "graph at its outer/semi boundaries and reorder "
                    "each inner region"
                ) from None
            kw.pop("pair_budget", None)
            kw.pop("max_vertices", None)
            return goo_join(vertices, es, **kw)
    if any(e.kind != "inner" for e in es):
        raise ValueError(
            f"{len(vertices)} vertices with non-inner hyperedges exceed "
            "the exact-DP budget; split the graph at its outer/semi "
            "boundaries and reorder each inner region"
        )
    kw.pop("pair_budget", None)
    kw.pop("max_vertices", None)
    return goo_join(vertices, es, **kw)


def tree_cost(
    rows: dict[str, float],
    edges: list[Edge],
    merge_seq: list[tuple[frozenset, frozenset]],
    ndv: dict[tuple[str, str], float] | None = None,
) -> float:
    """Sum of estimated intermediate-result sizes for a given merge
    sequence (C_out cost, the standard join-order objective). Pass the
    SAME ``ndv`` dict that produced the trace (goo_order/dp_order):
    costing a trace under a different estimator than the one that
    generated it mis-ranks orders, so the estimator is shared
    (:func:`_edge_selectivity`), not duplicated."""
    base = dict(rows)
    est: dict[frozenset, float] = {frozenset([n]): float(r) for n, r in rows.items()}
    total = 0.0
    for ca, cb in merge_seq:
        sel = 1.0
        joined = False
        kind = "inner"
        for e in edges:
            if (e.a in ca and e.b in cb) or (e.a in cb and e.b in ca):
                sel *= _edge_selectivity(e, base, ndv)
                joined = True
                if e.kind != "inner":
                    kind = e.kind
        if not joined:
            sel = 1.0  # cartesian
        r = _combine_rows(kind, est[ca], est[cb], sel)
        total += r
        est[ca | cb] = r
        del est[ca], est[cb]
    return total
