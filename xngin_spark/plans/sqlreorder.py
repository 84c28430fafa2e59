"""Opt-in DPhyp join reordering for the SQL entry — the product-path
route to :mod:`xngin_spark.plans.reorder`.

Reference parity: the reference runs its join reorder inside EVERY
plan pipeline (doradb-plan/src/join/reorder/mod.rs:24-33 — reorder is
a standard rule between unnesting and scan building), while this
repo's DPhyp was previously reachable only through the plan-builder
API (``reorder_join``). This module closes that gap for ``spark.sql``
text: parse → find the inner-join region(s) in the ANALYZED plan →
run :func:`~xngin_spark.plans.reorder.dphyp_order` over the extracted
join graph → re-emit the SQL with the chosen order pinned in the FROM
clause (SQL's syntactic join order IS the executed order when CBO
join reorder is off — Spark's default — so the emitted nesting is the
plan's join tree, modulo AQE's build-side/broadcast choices, which
are orthogonal to ORDER).

Why text re-emission rather than plan surgery: the reflection
renderer (:mod:`xngin_spark.plans.reflect`) already proves every
corpus shape renders to result-equivalent SQL; reordering only the
join fragments of that same rendering inherits the whole proof
surface. The rewriter is a _Renderer subclass overriding exactly one
arm (``_join_fragment``), so windows, grouping sets, setops, derived
tables and subqueries all render through the battle-tested base arms.

Edges come from two places, matching how people actually write SQL:
ON conditions inside the join tree (ANSI syntax), and equi-conjuncts
of the ENCLOSING WHERE (TPC-H comma syntax — the reference's own
.sql files). The enclosing WHERE is the renderer's own scope, so an
outer WHERE equality is never an edge of a region below a Window,
LIMIT or derived-table boundary. WHERE conjuncts used as edges are NOT
removed from the WHERE: for inner joins the duplicate predicate is a
no-op semantically and Catalyst collapses it, which keeps the rewrite
purely additive — the fallback path (any unsupported shape) is the
ORIGINAL text, always.

One snapshot, one walk, two passes. :meth:`_DPhypRenderer.select`
reads the analyzed plan once as a ``toJSON()`` snapshot and runs the
renderer over it in decide-only mode: no text, no JVM call except to
build vertices. Each region's vertices are its analyzed leaf subtrees
under their single-leaf WHERE conjuncts, built as plans on the JVM (no
SQL text is re-parsed). Leaf cardinalities and join-key NDVs are
MEASURED: :func:`~xngin_spark.plans.reorder.measure_edge_ndv` runs one
single-stage job for the vertices of a region that its session cache
misses (sub-regions reuse their region's vertices), and none for a
repeated statement. The baseline is read from the optimized plan's
snapshot, at the first gated region. The same walk then renders the
text only when some region fired — in ``"always"`` mode every region
does — so a declined statement never pays for a render.

Scale note: at 100 TB the win is the ORDER itself: a mis-ordered
6-table join materializes intermediate results orders of magnitude
larger than the optimum; DPhyp's C_out optimum bounds the shuffle
volume Catalyst's syntactic order would otherwise commit to. The
measurement is one scan of each filtered leaf, paid once per session
per leaf plan — the lazy analog of an ANALYZE pass.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from py4j.java_gateway import JavaClass
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from xngin_spark.plans.reflect import (
    Unreflectable,
    _attr,
    _join_type,
    _live,
    _Node,
    _output,
    _Renderer,
    _snapshot,
)
from xngin_spark.plans.reorder import (
    CrossJoinNotSupported,
    DPhypBudgetExceeded,
    Edge,
    catalyst_rows,
    dphyp_order,
    measure_edge_ndv,
    tree_cost,
)


#: join-key NDV cache per session — measure_edge_ndv keys entries by
#: (leaf plan fingerprint, column), so each (filtered leaf, key) pair
#: pays its HLL aggregate once per session. This is the ANALYZE
#: discipline executed lazily: at 100 TB you'd persist these stats;
#: here they amortize over every later query touching the same leaf
_NDV_CACHE: dict[int, dict[tuple[str, str], float]] = {}

#: The auto gate rewrites a region only when the baseline order's
#: estimated C_out exceeds ``MARGIN`` × the DPhyp optimum AND the
#: absolute saving exceeds ``MIN_BENEFIT`` intermediate rows. The ratio
#: finds genuinely mis-ordered texts (stock TPC-H gates ≤4.5× at
#: sf0.01+, the adversarial q5 at 200-1100×); the absolute floor keeps
#: tiny-input queries (where estimate ratios are noisy and the saving
#: is thousands of rows, not billions) on their original plans — plan
#: churn has a fixed cost, the benefit scales with rows saved, and at
#: 100 TB any real mis-order clears 20k rows by six orders of magnitude
MARGIN = 10.0
MIN_BENEFIT = 20_000.0


def _is_region_join(n: _Node) -> bool:
    return n.kind == "Join" and _join_type(n) in ("INNER", "CROSS")


_AND = "org.apache.spark.sql.catalyst.expressions.And"
_FILTER = "org.apache.spark.sql.catalyst.plans.logical.Filter"
_DATASET = "org.apache.spark.sql.classic.Dataset"


def _vertex_key(lf: _Node, locs: list) -> tuple:
    return id(lf), tuple((id(owner), path) for owner, path in locs)


def _conjuncts(owner: _Node) -> list[tuple[_Node, tuple]]:
    """``(conjunct, (owner, and_path))`` for ``owner``'s condition."""
    out: list = []

    def rec(e: _Node, path: tuple) -> None:
        if e.kind == "And":
            rec(e.ch[0], path + (0,))
            rec(e.ch[1], path + (1,))
        else:
            out.append((e, (owner, path)))

    cond = owner.f.get("condition")
    if cond is not None:
        rec(cond, ())
    return out


def _has_subquery(e: _Node) -> bool:
    """True when ``e`` contains a subquery expression (EXISTS, IN,
    scalar): every SubqueryExpression carries its ``plan``."""
    return "plan" in e.f or any(_has_subquery(c) for c in e.ch)


def _flatten_region(join: _Node) -> tuple[list, list]:
    """Flatten a tree of condition-carrying INNER/CROSS joins into
    (leaves, ON-conjuncts). Any non-inner join ends the region and
    becomes a leaf (it is order-constraining; the base renderer and
    a nested region of ITS sides handle it)."""
    leaves, conds = [], []

    def rec(n: _Node) -> None:
        if _is_region_join(n):
            conds.extend(_conjuncts(n))
            rec(n.ch[0])
            rec(n.ch[1])
        else:
            leaves.append(n)

    rec(join)
    return leaves, conds


@dataclass
class _Region:
    """A fired region, as the render needs it: its leaves, their
    vertex names, the edges with the conjunct each came from, the ON
    residue, and the DPhyp merge trace."""

    leaves: list
    vname: list
    edges: list
    edge_locs: list
    residual_locs: list
    trace: list


class _DPhypRenderer(_Renderer):
    """Reflection renderer whose inner-join regions (≥3 leaves) come
    out in DPhyp order. Everything else is the base renderer; the one
    override is the join fragment, which gates regions in decide mode
    and emits fired ones in render mode."""

    def __init__(
        self, spark: SparkSession, mode: str = "always", optimized=None
    ) -> None:
        super().__init__(spark._jvm)
        self._spark = spark
        #: "always" rewrites every reorderable region; "auto" only the
        #: ones the cost gate passes (see MARGIN / MIN_BENEFIT)
        self._mode = mode
        #: the ORIGINAL query's optimized logical plan — the baseline
        #: the gate costs, because it is what Spark actually executes
        #: (ReorderJoin already repairs condition-less comma-join
        #: nestings; costing the raw syntactic tree would overstate the
        #: baseline and over-trigger rewrites)
        self._optimized = optimized
        self._opt: _Node | None = None  # its snapshot, read when first needed
        #: one entry per rewritten region: the leaf-name merge order
        #: [(left_names, right_names), ...] — tests assert the emitted
        #: SQL (and therefore the executed plan) follows it
        self.traces: list[list[tuple[frozenset, frozenset]]] = []
        #: one (baseline_cost, dphyp_cost, fired) per gate decision in
        #: auto mode — telemetry for tests and calibration
        self.gate_log: list[tuple[float, float, bool]] = []
        #: top join (snapshot node) of each fired region
        self.regions: dict[_Node, _Region] = {}
        # per-statement memos: a declined region's sub-regions revisit
        # the same leaves, filters and key columns
        self._jexprs: dict = {}
        self._vertices: dict = {}
        self._stats: dict = {}

    def select(self, plan) -> str | None:
        """Gate every region of ``plan`` in decide mode, then render the
        text only if some region fired; None when none did."""
        root = _snapshot(plan)
        self.render(root, decide=True)
        return self.render(root) if self.regions else None

    def _join_fragment(self, node, may_hoist=True, extra_on=None):
        try:
            if self._decide and self._gate_region(node):
                return "?", False
            if not self._decide and node in self.regions:
                return self._region_fragment(self.regions[node], extra_on), False
        except (Unreflectable, CrossJoinNotSupported, DPhypBudgetExceeded, ValueError):
            pass
        return super()._join_fragment(node, may_hoist, extra_on)

    # ---- decide mode: classify, measure and gate one region ---------

    def _gate_region(self, n: _Node) -> bool:
        """True when the region topped by ``n`` fires (is rewritten)."""
        leaves, jconds = _flatten_region(n)
        if len(leaves) < 3:
            return False  # nothing to reorder
        # attribute → leaf index by exprId (bare-name collisions across
        # leaves are fine: ON conditions re-render via Expression.sql()
        # which qualifies by the preserved leaf aliases — the q8
        # self-joined-nation shape)
        amap: dict[int, int] = {}
        for i, lf in enumerate(leaves):
            for eid, _, _ in _output(lf):
                amap[eid] = i
        vname = [
            lf.f["identifier"]["name"] if lf.kind == "SubqueryAlias" else f"__dp{i}"
            for i, lf in enumerate(leaves)
        ]
        if len(set(vname)) != len(vname):
            return False

        def attr_leaves(e: _Node) -> set[int] | None:
            """Leaf set referenced by expression e, None when any
            attribute is foreign (e.g. a correlated outer ref)."""
            if e.kind == "AttributeReference":
                i = amap.get(_attr(e)[0])
                return None if i is None else {i}
            out: set[int] = set()
            for c in e.ch:
                s = attr_leaves(c)
                if s is None:
                    return None
                out |= s
            return out

        # classify conjuncts: equi attr=attr across two leaves → edge;
        # join-tree residue must be preserved on the final ON; WHERE
        # residue stays in the WHERE the enclosing arm renders anyway
        edges: list[Edge] = []
        edge_locs: list = []  # parallel to `edges`
        residual_locs: list = []
        leaf_filters: dict[int, list] = {}

        def classify(c: _Node, loc, from_where: bool) -> None:
            if c.kind == "EqualTo" and all(
                x.kind == "AttributeReference" for x in c.ch
            ):
                (lid, lname, _), (rid, rname, _) = _attr(c.ch[0]), _attr(c.ch[1])
                li, ri = amap.get(lid), amap.get(rid)
                if li is not None and ri is not None and li != ri:
                    edges.append(Edge(vname[li], vname[ri], ((lname, rname),)))
                    edge_locs.append(loc)
                    return
            if not from_where:
                residual_locs.append(loc)
                return
            # a single-leaf WHERE conjunct is not an edge, but sharpens
            # that leaf's cardinality — unless it holds a subquery: the
            # attribute walk sees only the subquery's outer references,
            # and measuring it would run the subquery. Either way it
            # stays in the enclosing WHERE.
            refs = attr_leaves(c)
            if refs is not None and len(refs) == 1 and not _has_subquery(c):
                leaf_filters.setdefault(next(iter(refs)), []).append(loc)

        for c, loc in jconds:
            classify(c, loc, from_where=False)
        where = self._wheres[-1] if self._wheres else None
        for c, loc in _conjuncts(where) if where is not None else []:
            classify(c, loc, from_where=True)
        if not edges:
            return False
        for lf in leaves:  # the render emits every leaf first
            if self._from_item(lf, may_hoist=False)[1]:
                return False  # a pruned leaf has no faithful `*`

        fired, log, trace = self._decide_region(
            n, leaves, vname, edges, leaf_filters, amap
        )
        if log is not None:
            self.gate_log.append(log)
        if fired:
            self.regions[n] = _Region(
                leaves, vname, edges, edge_locs, residual_locs, trace
            )
        return fired

    def _cls(self, name: str) -> JavaClass:
        """The JVM class ``name``, by its full name (no package walk)."""
        return JavaClass(name, self._spark._jvm._gateway_client)

    def _jexpr(self, loc):
        """The live conjunct at ``loc = (owner, and_path)``."""
        owner, path = loc
        key = (id(owner), path)
        e = self._jexprs.get(key)
        if e is None:
            if path:
                e = self._jexpr((owner, path[:-1]))
                e = e.right() if path[-1] else e.left()
            else:
                e = _live(owner).condition()
                if owner.kind == "Join":
                    e = e.get()
            self._jexprs[key] = e
        return e

    def _vertex(self, lf: _Node, locs: list) -> DataFrame:
        """The analyzed leaf under its single-leaf WHERE conjuncts, as
        a DataFrame over ``Filter(And(...), leaf)``."""
        key = _vertex_key(lf, locs)
        df = self._vertices.get(key)
        if df is None:
            plan = _live(lf)
            if locs:
                cond = self._jexpr(locs[0])
                for loc in locs[1:]:
                    cond = self._cls(_AND)(cond, self._jexpr(loc))
                plan = self._cls(_FILTER)(cond, plan)
            spark = self._spark
            df = DataFrame(
                self._cls(_DATASET).ofRows(spark._jsparkSession, plan), spark
            )
            self._vertices[key] = df
        return df

    def _measure(self, vertices: dict, keys: dict, edges: list) -> dict:
        """:func:`measure_edge_ndv` over the session cache, called only
        when this statement has not measured every (vertex, column)
        pair yet; returns the same name-keyed dict."""
        want = {(e.a, l) for e in edges for l, _ in e.on}
        want |= {(e.b, r) for e in edges for _, r in e.on}
        want |= {(v, "__rows__") for v, _ in want}
        if any((keys[v], c) not in self._stats for v, c in want):
            got = measure_edge_ndv(
                vertices, edges, cache=_NDV_CACHE.setdefault(id(self._spark), {})
            )
            self._stats.update({(keys[v], c): x for (v, c), x in got.items()})
        return {(v, c): self._stats[(keys[v], c)] for v, c in want}

    def _decide_region(self, n, leaves, vname, edges, leaf_filters, amap):
        """``(fired, gate_log entry | None, dphyp trace)``."""
        vertices: dict[str, DataFrame] = {}
        keys: dict[str, tuple] = {}
        filtered = True
        for i, lf in enumerate(leaves):
            locs = leaf_filters.get(i, [])
            try:
                vertices[vname[i]] = self._vertex(lf, locs)
            except AnalysisException:
                # a filter that does not analyze over the leaf alone:
                # cost the bare leaf, without measured NDVs
                locs, filtered = [], False
                vertices[vname[i]] = self._vertex(lf, locs)
            keys[vname[i]] = _vertex_key(lf, locs)

        # measured join-key NDVs, one job for every vertex the session
        # cache misses (the lazy-ANALYZE discipline). Without them the
        # System-R fallback treats a fact table's FK domain as its row
        # count, which both mis-ranks orders (the q5 graph plans 9×
        # slower, reorder.measure_edge_ndv docstring) and collapses the
        # auto gate's discrimination: the adversarial fact-first q5
        # estimates only 1.3× worse than optimal under the fallback,
        # but 50×+ under measured NDVs — the signal the gate needs.
        ndv = None
        if filtered:
            try:
                ndv = self._measure(vertices, keys, edges)
            except Exception:
                ndv = None  # estimator degrades to the base-rows guess
        rows = {
            v: (ndv or {}).get((v, "__rows__")) or catalyst_rows(df)
            for v, df in vertices.items()
        }
        trace = dphyp_order(rows, edges, ndv)
        if self._mode != "auto":
            return True, None, trace
        base_seq = self._baseline_merge_seq(n, amap, vname)
        syn_cost = tree_cost(rows, edges, base_seq, ndv)
        dp_cost = tree_cost(rows, edges, [(L, R) for L, R, _ in trace], ndv)
        fired = syn_cost > MARGIN * dp_cost and syn_cost - dp_cost > MIN_BENEFIT
        return fired, (syn_cost, dp_cost, fired), trace

    def _baseline_merge_seq(self, n, amap, vname):
        """Merge sequence of the order Spark would otherwise execute
        for this region, in vname terms. Preferred source is the
        ORIGINAL query's optimized plan (post-ReorderJoin — what plain
        ``spark.sql`` actually runs); when the optimized plan has no
        join region over exactly these leaves (boundary collapsed or
        rewritten away), fall back to the analyzed region's own
        syntactic nesting, which can only overstate the baseline cost
        (the gate then errs toward rewriting — still result-identical,
        only plan churn)."""
        if self._opt is None and self._optimized is not None:
            self._opt = _snapshot(self._optimized)
        for root in (self._opt, n):
            if root is not None:
                seq = _region_merge_seq(root, amap, vname)
                if seq is not None:
                    return seq
        return []

    # ---- render mode: emit a fired region -----------------------------

    def _region_fragment(self, region: _Region, extra_on) -> str:
        frag: dict[frozenset, str] = {}
        for v, lf in zip(region.vname, region.leaves):
            # never pruned: the gate declines a region with a pruned leaf
            frag[frozenset([v])] = self._from_item(lf, may_hoist=False)[0]
        edges = region.edges
        remaining = set(range(len(edges)))
        parts: list = []
        comp_sql = dict(frag)
        for L, R, _est in region.trace:
            crossing = [
                k
                for k in remaining
                if (edges[k].a in L and edges[k].b in R)
                or (edges[k].a in R and edges[k].b in L)
            ]
            remaining -= set(crossing)
            on = [
                f"({self._jexpr(region.edge_locs[k]).sql()})"
                for k in sorted(crossing)
            ]
            merged = (
                f"{comp_sql.pop(L)} INNER JOIN {comp_sql.pop(R)}"
                f" ON {' AND '.join(on)}"
            )
            comp_sql[L | R] = f"({merged})"
            parts.append((L, R))
        [top] = comp_sql.values()
        # intermediate merges are parenthesized; strip the outer pair
        # (callers wrap the fragment themselves, matching the base)
        top = top[1:-1]
        tail = [f"({self._jexpr(loc).sql()})" for loc in region.residual_locs] + [
            f"({c})" for c in (extra_on or [])
        ]
        if tail:
            top = f"{top} AND {' AND '.join(tail)}"
        self.traces.append(parts)
        return top


def _region_merge_seq(root: _Node, amap, vname):
    """Search ``root`` for an inner/cross-join region covering exactly
    the leaf set named by ``vname`` (leaves matched by any surviving
    output exprId — stable analyzed→optimized) and return its merge
    pairs; None when no such region exists."""
    target = frozenset(vname)

    def leaf_names(m) -> frozenset | None:
        ids = {amap[i] for i, _, _ in _output(m) if i in amap}
        if len(ids) != 1:
            return None  # spans several region leaves or none
        return frozenset([vname[next(iter(ids))]])

    def flatten(m, pairs) -> frozenset | None:
        if _is_region_join(m):
            left = flatten(m.ch[0], pairs)
            right = flatten(m.ch[1], pairs)
            if left is None or right is None or left & right:
                return None
            pairs.append((left, right))
            return left | right
        return leaf_names(m)

    # walk top-down; the first join whose flattened leaf set is
    # exactly the target is the region
    stack = [root]
    while stack:
        m = stack.pop()
        if _is_region_join(m):
            pairs: list = []
            if flatten(m, pairs) == target:
                return pairs
        stack.extend(m.ch)
    return None


#: leading comments/whitespace, then the first keyword — only genuine
#: queries enter the rewriter. Commands (INSERT/CREATE/SET/...) execute
#: EAGERLY at ``spark.sql`` creation, so routing one through the
#: rewriter's analysis pass and then re-running the returned text would
#: double-execute it. The guard is a short-circuit, not a fallback.
_QUERY_HEAD = re.compile(
    r"^(?:\s|--[^\n]*\n|/\*.*?\*/)*(SELECT|WITH|VALUES|TABLE|\()",
    re.IGNORECASE | re.DOTALL,
)


def is_query_text(sql: str) -> bool:
    """True when ``sql`` is a read-only query (SELECT/WITH/VALUES/
    TABLE/parenthesized), i.e. safe to analyze-then-re-run."""
    return _QUERY_HEAD.match(sql) is not None


def _gate(
    spark: SparkSession, sql: str, mode: str
) -> tuple[DataFrame | None, str, list]:
    """``(df, text, traces)``: ``df`` is the analyzed DataFrame of the
    returned ``text`` (None for a non-query statement, which must not
    be analyzed here — it would execute)."""
    if not is_query_text(sql):
        return None, sql, []
    df = spark.sql(sql)
    qe = df._jdf.queryExecution()
    optimized = None
    if mode == "auto":
        try:
            optimized = qe.optimizedPlan()
        except Exception:
            optimized = None
    r = _DPhypRenderer(spark, mode, optimized)
    try:
        text = r.select(qe.analyzed())
    except Exception:  # Unreflectable or any renderer gap → fall back
        return df, sql, []
    if text is None or not r.traces:
        return df, sql, []
    try:
        twin = spark.sql(text)
        twin.schema  # force analysis of the rewrite
    except AnalysisException:
        return df, sql, []
    return twin, text, r.traces


def dphyp_rewrite(
    spark: SparkSession, sql: str, mode: str = "always"
) -> tuple[str, list]:
    """Rewrite ``sql`` with DPhyp-ordered join regions. Returns
    ``(text, traces)`` — ``traces`` is one merge-order list per
    rewritten region, empty when the query had no reorderable region
    or any shape fell outside the renderer's surface (the returned
    text is then the ORIGINAL, verbatim: the fallback is always the
    untouched query, never a partial rewrite).

    ``mode="auto"`` adds the cost gate: a region is rewritten only
    when the baseline order (the ORIGINAL text's optimized plan —
    what plain ``spark.sql`` executes) costs more than ``MARGIN`` ×
    the DPhyp optimum under the shared C_out estimator AND the saving
    exceeds ``MIN_BENEFIT`` intermediate rows. Well-written texts keep
    their plans; only genuinely mis-ordered ones change — the property
    that makes this safe as the default."""
    _, text, traces = _gate(spark, sql, mode)
    return text, traces


def dphyp_sql(
    spark: SparkSession, sql: str, mode: str = "always"
) -> DataFrame:
    """``spark.sql`` with the DPhyp join order pinned — the product
    entry (reorder/mod.rs:24-33 analog). Result-identical to
    ``spark.sql(sql)`` by construction (inner joins commute; only the
    FROM nesting changes); falls back to the original text whenever
    the shape is unsupported. ``mode="auto"`` applies the cost gate
    (see :func:`dphyp_rewrite`) — the default-on posture. The text is
    analyzed once: a declined statement returns the gate's own
    DataFrame, whose optimized plan the gate already built."""
    df, text, _ = _gate(spark, sql, mode)
    return df if df is not None else spark.sql(text)
