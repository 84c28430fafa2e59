"""Optimized-plan → SQL reflection: render an analyzed DataFrame plan
back to runnable Spark SQL and assert result-equivalence.

Reference parity: doradb-plan/src/lgc/reflect.rs:16 renders the
reference's optimized logical plan back to SQL text as its
plan-equivalence oracle (build plan → reflect → re-parse → same plan).
The Spark analog renders the ANALYZED logical plan (the stable,
pre-optimization shape — Catalyst's optimized plans contain nodes with
no SQL surface) to SQL, re-runs it through ``spark.sql``, and checks
the results match. That closes the same consistency loop: the
DataFrame-built plan and its SQL reflection must agree, so a
plan-construction bug that silently changes semantics is caught by its
own round trip.

One walk over one snapshot. The renderer reads plan STRUCTURE — node
kinds, children, output names/exprIds/qualifiers, join types — from a
single ``toJSON()`` snapshot (:func:`_snapshot`). It calls the JVM only
for text it emits: ``Expression.sql()`` of each expression it writes,
a relation's parquet path, ``LocalRelation`` values and an explicit
output select list, each reached through :func:`_live`, which resolves
a snapshot node to its live JVM node through its parent. In
decide-only mode those emit accessors return placeholders and make no
JVM call; the DPhyp cost gate (:mod:`xngin_spark.plans.sqlreorder`) is
this renderer run in that mode.

Coverage is the relational core (scan/filter/project/aggregate/join/
sort/limit/offset/distinct/setops/window); nodes with no faithful SQL
rendering (Generate/Expand, streaming sources, recursive CTEs) raise
``Unreflectable`` and are reported as such by the round-trip test
rather than silently skipped. Ambiguous plans (a join whose sides share
output names, which bare-attribute SQL can't disambiguate) also raise.
"""

from __future__ import annotations

import json
import re
from collections import OrderedDict

from pyspark.sql import DataFrame


class Unreflectable(Exception):
    """This plan contains a node or shape with no faithful SQL render."""


#: localCheckpoint barriers the renderer can see through: the
#: checkpointed DataFrame's LogicalRDD reuses the ORIGINAL plan's
#: output attributes (same exprIds), so the pre-checkpoint analyzed
#: plan keyed by those ids can be substituted at render time — the
#: reflection then reads as if the barrier never existed. Registered
#: by :func:`reflect_checkpoint`; an unregistered LogicalRDD stays
#: Unreflectable (it really is data, not a plan). Closes the q11 gap
#: vs the reference's 22/22 reflect.rs round-trip: the checkpoint is
#: an EXECUTION choice (pin the shared per-part aggregate), and must
#: not cost the plan its SQL surface.
_BARRIERS: "OrderedDict[tuple[int, ...], object]" = OrderedDict()

#: Each registry entry pins a py4j reference to a JVM logical plan (and
#: transitively its relation metadata) for as long as it lives, so the
#: registry is LRU-bounded: a long-lived server session re-checkpointing
#: per query (one per q11 execution) cycles through the cap instead of
#: leaking plans for the process lifetime. Evicting a still-referenced
#: barrier only costs reflectability (Unreflectable on the next render
#: attempt — an explicit error, never a wrong answer), and only under
#: >cap simultaneously-live checkpoints.
_BARRIERS_CAP = 256


def _output_key(jnode_or_plan) -> tuple[int, ...]:
    out = jnode_or_plan.output()
    return tuple(out.apply(i).exprId().id() for i in range(out.size()))


def reflect_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` that stays reflectable: records
    the pre-checkpoint analyzed plan so reflect_sql renders through
    the barrier instead of raising on the LogicalRDD."""
    original = df._jdf.queryExecution().analyzed()
    out = df.localCheckpoint(eager=eager)
    key = _output_key(out._jdf.queryExecution().analyzed())
    _BARRIERS[key] = original
    _BARRIERS.move_to_end(key)
    while len(_BARRIERS) > _BARRIERS_CAP:
        _BARRIERS.popitem(last=False)
    return out


def _barrier_origin(key: tuple[int, ...]):
    """Registered pre-checkpoint plan for ``key``, refreshing its LRU
    position, or None."""
    got = _BARRIERS.get(key)
    if got is not None:
        _BARRIERS.move_to_end(key)
    return got


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _name(node) -> str:
    return node.getClass().getSimpleName()


# ---- plan snapshots -------------------------------------------------------


class _Node:
    """One node of a ``toJSON()`` plan snapshot: a plan operator or an
    expression. ``kind`` is the simple class name, ``f`` the node's own
    fields (expression-valued ones parsed into nodes), ``ch`` its
    children. ``up``/``idx`` locate a plan node under its parent, so
    :func:`_live` can fetch the live JVM node (cached in ``j``);
    ``out`` caches :func:`_output`."""

    __slots__ = ("kind", "f", "ch", "up", "idx", "j", "out")

    def __init__(self, kind: str, f: dict, up, idx: int) -> None:
        self.kind, self.f, self.ch = kind, f, []
        self.up, self.idx, self.j, self.out = up, idx, None, None


def _is_tree(v) -> bool:
    return isinstance(v, list) and bool(v) and isinstance(v[0], dict) and "class" in v[0]


def _parse(items: list, pos: int = 0, up=None, idx: int = 0):
    """Rebuild the node at ``items[pos]`` of a pre-order flattened
    tree; returns ``(node, next_pos)``."""
    d = items[pos]
    f = {}
    for k, v in d.items():
        if k in ("class", "num-children"):
            continue
        if _is_tree(v):
            v = _parse(v)[0]
        elif isinstance(v, list) and v and all(_is_tree(x) for x in v):
            v = [_parse(x)[0] for x in v]
        f[k] = v
    n = _Node(d["class"].rsplit(".", 1)[-1], f, up, idx)
    pos += 1
    for i in range(d["num-children"]):
        c, pos = _parse(items, pos, n, i)
        n.ch.append(c)
    return n, pos


def _snapshot(jplan) -> _Node:
    """The whole plan, read in one JVM call."""
    root = _parse(json.loads(jplan.toJSON()))[0]
    root.j = jplan
    return root


#: plan nodes whose children are not reached as ``child``/``left``/``right``
_NARY = frozenset(("Union", "WithCTE"))


def _live(n: _Node):
    """The live JVM node of snapshot node ``n``, resolved once through
    its parent (``UnaryNode.child``, ``BinaryNode.left``/``right``)."""
    if n.j is None:
        up, k = _live(n.up), len(n.up.ch)
        if n.up.kind in _NARY or k > 2:
            n.j = up.children().apply(n.idx)
        elif k == 1:
            n.j = up.child()
        else:
            n.j = up.right() if n.idx else up.left()
    return n.j


_JOIN_SQL = {
    "Inner": "INNER",
    "Cross": "CROSS",
    "LeftOuter": "LEFT OUTER",
    "RightOuter": "RIGHT OUTER",
    "FullOuter": "FULL OUTER",
    "LeftSemi": "LEFT SEMI",
    "LeftAnti": "LEFT ANTI",
    "LeftSingle": "LEFT SINGLE",
    "ExistenceJoin": "EXISTENCE",
}


def _join_type(n: _Node) -> str:
    """``joinType().sql()`` of a Join snapshot."""
    jt = n.f["joinType"]
    cls = (jt.get("object") or jt.get("product-class")).rsplit(".", 1)[-1]
    return _JOIN_SQL.get(cls.rstrip("$"), cls)


def _attr(e: _Node) -> tuple[int, str, str | None]:
    """``(exprId, name, last qualifier part)`` of a named expression."""
    q = e.f.get("qualifier") or []
    if isinstance(q, str):  # a non-empty qualifier is written "[a, b]"
        q = q[1:-1].split(", ")
    return e.f["exprId"]["id"], e.f["name"], q[-1] if q else None


#: operators whose output is their first child's output
_FIRST_CHILD_OUTPUT = frozenset(
    "Filter Sort GlobalLimit LocalLimit Offset Distinct Deduplicate"
    " View ResolvedHint Repartition RepartitionByExpression"
    " Sample Union Except Intersect".split()
)


def _output(n: _Node) -> list[tuple[int, str, str | None]]:
    """:func:`_attr` of each attribute of ``n.output()``."""
    if n.out is None:
        n.out = _read_output(n)
    return n.out


def _read_output(n: _Node) -> list[tuple[int, str, str | None]]:
    k = n.kind
    if k == "Project":
        return [_attr(e) for e in n.f["projectList"]]
    if k == "Aggregate":
        return [_attr(e) for e in n.f["aggregateExpressions"]]
    if k == "Window":
        return _output(n.ch[0]) + [_attr(e) for e in n.f["windowExpressions"]]
    if k == "Join" and _join_type(n) != "EXISTENCE":
        if _join_type(n) in ("LEFT SEMI", "LEFT ANTI"):
            return _output(n.ch[0])
        return _output(n.ch[0]) + _output(n.ch[1])
    if k == "SubqueryAlias":
        alias = n.f["identifier"]["name"]
        return [(i, name, alias) for i, name, _ in _output(n.ch[0])]
    if k in _FIRST_CHILD_OUTPUT:
        return _output(n.ch[0])
    if k == "OneRowRelation":
        return []
    if "output" in n.f:
        return [_attr(e) for e in n.f["output"]]
    out = []
    for a in _seq(_live(n).output()):
        q = _seq(a.qualifier())
        out.append((a.exprId().id(), a.name(), q[-1] if q else None))
    return out


def _names(n: _Node) -> list[str]:
    return [name for _, name, _ in _output(n)]


def _passthrough(n: _Node) -> bool:
    """True if every projected expression is a bare attribute —
    reordering/pruning only, safe to flatten a WHERE over."""
    return all(e.kind == "AttributeReference" for e in n.f["projectList"])


def _limit_value(e: _Node) -> int:
    if e.kind != "Literal":
        raise Unreflectable("non-literal LIMIT/OFFSET")
    return int(e.f["value"])


class _Renderer:
    """Renders a plan snapshot as SQL."""

    def __init__(self, jvm) -> None:
        self._jvm = jvm  # for Literal rendering of LocalRelation data
        self._decide = False
        #: registered barrier origins by output key, snapshotted once
        #: so every pass over one statement sees the same nodes
        self._barrier_roots: dict[tuple[int, ...], _Node] = {}
        self.n = 0
        # per-SELECT stacks of filter conditions hoisted out of
        # flattened join sides (see _side); the arm that owns the
        # enclosing SELECT pops its frame and merges into its WHERE
        self._frames: list[list[str]] = []
        #: per-SELECT stack of the Filter whose condition becomes that
        #: SELECT's WHERE (None when it has none): the scope of the
        #: WHERE conjuncts a join region below may use as edges
        self._wheres: list[_Node | None] = []

    def select(self, plan) -> str:
        """Render the JVM logical plan ``plan`` as SQL."""
        return self.render(_snapshot(plan))

    def render(self, root: _Node, decide: bool = False) -> str:
        """SQL of snapshot ``root``. ``decide=True`` walks the same arms
        without emitting: every emit accessor returns ``?`` and nothing
        calls the JVM (a subclass decides things on the way)."""
        self._decide, self.n, self._frames, self._wheres = decide, 0, [], []
        sql = self._select(root)
        # Expression.sql() spells the extract field as a quoted literal
        # ("extract('YEAR' FROM x)") which Spark's own parser rejects —
        # re-spell to the keyword form the grammar accepts.
        return re.sub(r"extract\('(\w+)' FROM ", r"extract(\1 FROM ", sql)

    def _alias(self) -> str:
        self.n += 1
        return f"__r{self.n}"

    # ---- emitted text: the only JVM calls ------------------------------

    def _sql(self, node: _Node, field: str) -> str:
        """``Expression.sql()`` of ``node``'s expression ``field`` (a
        Join's condition unwrapped from its Option)."""
        if self._decide:
            return "?"
        e = getattr(_live(node), field)()
        return (e.get() if node.kind == "Join" else e).sql()

    def _sqls(self, node: _Node, field: str) -> list[str]:
        """``Expression.sql()`` of each expression in ``node``'s list
        ``field``."""
        n = len(node.f[field])
        if self._decide or not n:
            return ["?"] * n
        seq = getattr(_live(node), field)()
        return [seq.apply(i).sql() for i in range(n)]

    def _relation(self, node: _Node) -> str:
        if self._decide:
            return "?"
        rel = _live(node).relation()
        fmt = rel.fileFormat().toString().lower()
        if fmt != "parquet":
            raise Unreflectable(f"non-parquet relation: {fmt}")
        paths = _seq(rel.location().rootPaths())
        if len(paths) != 1:
            raise Unreflectable(f"multi-path relation ({len(paths)} roots)")
        return f"parquet.`{paths[0]}`"

    def _output_select_list(self, node: _Node) -> str:
        """Explicit SELECT list reproducing ``node``'s plan output —
        the faithful replacement for ``*`` over a scope that exposes
        more columns than the plan (a peeled pruning Project).
        QUALIFIED references (``y2.yk AS yk``): a pruned-away column
        may share its bare name with a surviving one from the other
        join side, so bare names would be ambiguous in SQL even though
        the plan output is unambiguous."""
        if self._decide:
            return "?"
        out = _live(node).output()
        return ", ".join(
            f"{out.apply(i).sql()} AS `{name}`"
            for i, name in enumerate(_names(node))
        )

    def _values_item(self, node: _Node, alias: str) -> str:
        """Inline literal data (createDataFrame / VALUES) as an inline
        VALUES table usable directly as a FROM item."""
        if self._decide:
            return "?"
        j = _live(node)
        rows = _seq(j.data())
        out = _seq(j.output())
        if not rows:
            raise Unreflectable("empty LocalRelation (no VALUES rendering)")
        if len(rows) > 1000:
            raise Unreflectable(f"LocalRelation too large ({len(rows)} rows)")
        Lit = self._jvm.org.apache.spark.sql.catalyst.expressions.Literal
        vals = []
        for r in rows:
            cells = []
            for i, a in enumerate(out):
                dt = a.dataType()
                v = None if r.isNullAt(i) else r.get(i, dt)
                cells.append(Lit(v, dt).sql())
            vals.append("(" + ", ".join(cells) + ")")
        cols = ", ".join(f"`{name}`" for name in _names(node))
        return f"VALUES {', '.join(vals)} AS {alias}({cols})"

    # ---- helpers ---------------------------------------------------------

    def _from_item(self, node: _Node, may_hoist: bool = True) -> tuple[str, bool]:
        """Render a node as something legal after FROM → ``(sql,
        pruned)``. ``pruned`` is True when the rendered scope exposes
        MORE columns than the plan node outputs (an inline join whose
        side dropped columns via a peeled pruning Project), so a ``*``
        over it would be unfaithful. A user-supplied DataFrame alias
        (SubqueryAlias) is PRESERVED: Catalyst renders qualified
        attribute references (``l1.l_orderkey``) against it, so
        replacing it with a generated alias would unresolve them."""
        # peel pass-through Projects when a user alias (SubqueryAlias)
        # or literal table sits underneath, so IT stays the FROM item's
        # name — qualified references above (``t.s``) would otherwise
        # dangle against a generated derived-table alias. Guarded: the
        # peel must not re-expose duplicate column names the project
        # was disambiguating, and anything not ending at an
        # alias-preserving node renders unpeeled as before. A narrowing
        # peel marks ``pruned`` so the owning arm emits an explicit
        # select list instead of ``*``.
        peeled_prune = False
        probe, narrow = node, False
        while probe.kind == "Project" and _passthrough(probe):
            child = probe.ch[0]
            if set(_names(probe)) != set(_names(child)):
                narrow = True
            probe = child
        if probe is not node and probe.kind in ("SubqueryAlias", "LocalRelation"):
            exposed = _names(probe)
            if len(set(exposed)) == len(exposed):
                node, peeled_prune = probe, narrow
        if node.kind == "SubqueryAlias":
            alias = node.f["identifier"]["name"]
            child = node.ch[0]
            if child.kind == "LogicalRelation":
                return f"{self._relation(child)} AS {alias}", peeled_prune
            if child.kind == "LocalRelation":
                return self._values_item(child, alias), peeled_prune
            return f"({self._select(child)}) AS {alias}", peeled_prune
        if node.kind == "LogicalRelation":
            return self._relation(node), peeled_prune
        if node.kind == "LocalRelation":
            return self._values_item(node, self._alias()), peeled_prune
        if node.kind == "Join":
            # joined-table fragment, parenthesized so it nests as one
            # FROM item while its side aliases stay visible to outer
            # ON/WHERE clauses (SQL scope, unlike a derived table)
            frag, pruned = self._join_fragment(node, may_hoist)
            return f"({frag})", pruned or peeled_prune
        # name the derived table after the single user qualifier its
        # output carries (if any): expressions ABOVE this node qualify
        # their references by that name (``customer.c_custkey``), and a
        # generated alias would strand them. Nested reuse of the same
        # alias is legal SQL shadowing; a same-scope collision fails
        # analysis -> Unreflectable, never silently-different.
        alias = self._common_qualifier(node) or self._alias()
        return f"({self._select(node)}) AS {alias}", peeled_prune

    def _flatten_side(self, node: _Node, may_hoist: bool):
        """If ``node`` is a chain of pass-through Projects / Filters
        ending at a Join, flatten it: return ``(fragment_sql,
        hoisted_conds, exposed_names, pruned)`` with the inner join
        rendered inline (its side aliases stay visible to the OUTER
        join's ON — the q21 shape: a semi-join condition referencing an
        alias buried inside the filtered left side) and the chain's
        filter conditions lifted out for the enclosing SELECT's WHERE.

        ``exposed_names`` is the PLAN output of the chain top (so a
        peeled pruning Project narrows it); ``pruned`` marks that the
        SQL scope still exposes the unpruned columns.

        When ``may_hoist`` is False (this side sits under the
        null-supplying / semi side of an outer join somewhere above —
        lifting its filters into the enclosing WHERE would change
        semantics), filter conditions are merged into the ending
        INNER/CROSS join's ON instead, which is exactly equivalent
        (``Filter(c, InnerJoin(a,b,on)) ≡ InnerJoin(a,b,on AND c)``).
        A filtered chain ending at a NON-inner join has no inline
        rendering that keeps both semantics and alias scope; it falls
        back to a derived table with a local WHERE (qualified outer
        references into it then fail analysis → Unreflectable, never a
        silently-different query).

        Returns None when the chain doesn't end at a Join."""
        filters: list[_Node] = []
        pruned = False
        cur = node
        while True:
            if cur.kind == "Project" and _passthrough(cur):
                if set(_names(cur)) != set(_names(cur.ch[0])):
                    pruned = True
                cur = cur.ch[0]
            elif cur.kind == "Filter":
                filters.append(cur)
                cur = cur.ch[0]
            else:
                break
        if cur.kind != "Join":
            return None
        conds = [self._sql(f, "condition") for f in filters]
        exposed = _names(node)
        if may_hoist or not conds:
            frag, fp = self._join_fragment(cur, may_hoist)
            return f"({frag})", conds, exposed, pruned or fp
        if _join_type(cur) in ("INNER", "CROSS"):
            frag, fp = self._join_fragment(cur, False, extra_on=conds)
            return f"({frag})", [], exposed, pruned or fp
        frag, _ = self._join_fragment(cur, False)
        where = " AND ".join(f"({c})" for c in conds)
        cols = self._output_select_list(node)
        return (
            f"(SELECT {cols} FROM ({frag}) WHERE {where}) AS {self._alias()}",
            [],
            exposed,
            False,
        )

    def _side(self, node: _Node, jt: str, is_left: bool, may_hoist: bool):
        """Render one join side → ``(sql, exposed_names, pruned)``.
        Flattening WITH filter hoisting into the enclosing WHERE is
        only legal where the filter commutes with every join between
        here and the owning SELECT: a LEFT-side filter commutes with
        INNER/CROSS/LEFT SEMI/LEFT ANTI/LEFT OUTER (it only ever
        removes whole left rows); a RIGHT-side filter only with
        INNER/CROSS (for outer/semi kinds it changes match semantics,
        and its columns aren't even visible above a semi join).
        ``may_hoist`` carries the verdict from ABOVE this join — once
        any ancestor side was non-hoistable, everything beneath it is
        barred from the enclosing WHERE and must bind filters locally
        (ON-merge or derived table, see _flatten_side)."""
        hoist_ok = may_hoist and (
            jt in ("INNER", "CROSS")
            or (is_left and jt in ("LEFT SEMI", "LEFT ANTI", "LEFT OUTER"))
        )
        flat = self._flatten_side(node, hoist_ok and bool(self._frames))
        if flat is not None:
            sql, conds, exposed, pruned = flat
            if conds:
                self._frames[-1].extend(conds)
            return sql, exposed, pruned
        sql, pruned = self._from_item(node, hoist_ok)
        return sql, _names(node), pruned

    def _join_fragment(
        self, node: _Node, may_hoist: bool = True, extra_on: list[str] | None = None
    ) -> tuple[str, bool]:
        """Render a Join as a FROM-clause fragment (no SELECT wrapper)
        → ``(sql, pruned)``: qualified references from ABOVE the join
        (filters/projections over pass-through columns) resolve only if
        the join's side aliases stay in the same query scope — wrapping
        every join in a derived table would hide them (the q21 shape).
        ``extra_on`` ANDs extra conditions into this join's ON (the
        no-hoist filter sink for INNER/CROSS, see _flatten_side)."""
        jt = _join_type(node)
        if jt == "EXISTENCE":
            raise Unreflectable("ExistenceJoin has no SQL surface")
        left, lexp, lpr = self._side(node.ch[0], jt, True, may_hoist)
        right, rexp, rpr = self._side(node.ch[1], jt, False, may_hoist)
        pruned = lpr or rpr
        dup = set(lexp) & set(rexp)
        if dup:
            raise Unreflectable(f"join sides share output names: {sorted(dup)}")
        on = [f"({self._sql(node, 'condition')})"] if "condition" in node.f else []
        on += [f"({c})" for c in (extra_on or [])]
        if on:
            u = "INNER" if jt == "CROSS" else jt
            return f"{left} {u} JOIN {right} ON {' AND '.join(on)}", pruned
        if jt in ("INNER", "CROSS"):
            return f"{left} CROSS JOIN {right}", pruned
        raise Unreflectable(f"condition-less {jt} join")

    def _from(self, node: _Node, conds: list[str] = ()) -> tuple[str, str]:
        """Render ``node`` as this SELECT's source inside a fresh hoist
        frame → ``(" FROM src[ WHERE ...]", cols)``. The WHERE ANDs
        ``conds`` (the arm's own conditions) with the filter conditions
        lifted out of flattened join sides. ``cols`` is what a faithful
        ``SELECT *`` over this source must say: literally ``*``
        normally, or an explicit column list when an inline join side
        peeled a pruning Project (the SQL scope then exposes columns
        the plan had projected away)."""
        self._frames.append([])
        try:
            if node.kind == "Join":
                src, pruned = self._join_fragment(node)
            else:
                src, pruned = self._from_item(node)
        finally:
            hoisted = self._frames.pop()
        conds = list(conds)
        if hoisted:
            conds.append(" AND ".join(f"({c})" for c in hoisted))
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        cols = self._output_select_list(node) if pruned else "*"
        return f" FROM {src}{where}", cols

    @staticmethod
    def _common_qualifier(node: _Node) -> str | None:
        """The single user alias qualifying ``node``'s qualified output
        attributes, or None when outputs carry two different qualifiers
        (a join — no one name can stand for both sides). Unqualified
        outputs (window/computed columns like ``_we0``) don't vote:
        they are referenced bare above and resolve under any alias."""
        quals = {q for _, _, q in _output(node) if q is not None}
        return quals.pop() if len(quals) == 1 else None

    def _grouping_sets(self, agg: _Node, expand: _Node) -> str:
        """Render Aggregate-over-Expand (the analyzed form of
        rollup/cube/groupingSets) back to ``GROUP BY GROUPING SETS``.
        Each Expand projection carries the group columns either as the
        source attribute or a typed NULL literal plus the grouping-id
        literal — the non-null positions ARE that projection's grouping
        set. ``grouping(col)`` / ``grouping_id()`` markers in the
        aggregate list analyze to bit-extractions over
        ``spark_grouping_id``; those are re-spelled back to the marker
        functions so the reflected text parses standalone."""
        groupings = agg.f["groupingExpressions"]
        if not groupings or groupings[-1].f.get("name") != "spark_grouping_id":
            raise Unreflectable("Expand without spark_grouping_id grouping")
        k = len(groupings) - 1
        # base group expressions live in the Expand child's Project as
        # trailing aliases; only bare-attribute groups reflect (an
        # expression group would need alias-aware re-spelling)
        proj = expand.ch[0]
        if proj.kind != "Project":
            raise Unreflectable("Expand child is not the dup-alias Project")
        plist = proj.f["projectList"]
        for e in plist:
            if e.kind == "AttributeReference":
                continue
            if e.kind == "Alias" and e.ch[0].kind == "AttributeReference":
                continue
            raise Unreflectable(f"non-attribute grouping expression: {e.kind}")
        # the trailing k entries must specifically be the dup Aliases
        if any(e.kind != "Alias" for e in plist[len(plist) - k :]):
            raise Unreflectable("Expand Project tail is not dup aliases")
        if self._decide:
            gnames = ["?"] * k
        else:
            jlist = _live(proj).projectList()
            gnames = [
                jlist.apply(len(plist) - k + i).child().sql() for i in range(k)
            ]
        out_n = len(expand.f["output"])
        sets = []
        for p in expand.f["projections"]:
            elems = [_parse(t)[0] for t in p[out_n - (k + 1) : out_n - 1]]
            cols = [
                gnames[i]
                for i, e in enumerate(elems)
                if e.kind == "AttributeReference"
            ]
            sets.append("(" + ", ".join(cols) + ")")

        def respell(sql: str) -> str:
            sql = re.sub(
                r"CAST\(\(shiftright\(spark_grouping_id, (\d+)\) & 1L?\)"
                r" AS TINYINT\)",
                lambda m: f"grouping({gnames[k - 1 - int(m.group(1))]})",
                sql,
            )
            if "spark_grouping_id" in sql:
                sql = sql.replace("spark_grouping_id", "grouping_id()")
            return sql

        aggs = ", ".join(respell(s) for s in self._sqls(agg, "aggregateExpressions"))
        body, _ = self._from(proj.ch[0])
        return f"SELECT {aggs}{body} GROUP BY GROUPING SETS ({', '.join(sets)})"

    def _ordered(self, sort: _Node, tail: str) -> str:
        """``SELECT * FROM <sort's child> ORDER BY ...`` + ``tail``."""
        order = ", ".join(self._sqls(sort, "order"))
        body, cols = self._from(sort.ch[0])
        return f"SELECT {cols}{body} ORDER BY {order}{tail}"

    def _limited(self, child: _Node, clause: str) -> str:
        """``child`` under a LIMIT/OFFSET ``clause``. The clause stays
        attached to an inner ORDER BY to preserve top-k semantics (a
        sorted subquery's order is not guaranteed to survive into the
        outer query)."""
        if child.kind == "Sort":
            return self._ordered(child, clause)
        body, cols = self._from(child)
        return f"SELECT {cols}{body}{clause}"

    # ---- node renderers --------------------------------------------------

    def _select(self, node: _Node) -> str:
        """Render ``node`` as one query: a SELECT, or a set operation of
        SELECTs. Opens the WHERE scope of that SELECT."""
        where = None
        if len(node.ch) == 1 and node.kind in ("Project", "Aggregate", "Filter", "Sort"):
            where = node if node.kind == "Filter" else None
            if where is None and node.ch[0].kind == "Filter":
                where = node.ch[0]
        self._wheres.append(where)
        try:
            return self._select_arm(node)
        finally:
            self._wheres.pop()

    def _select_arm(self, node: _Node) -> str:  # noqa: C901 - one arm per plan node
        kind = node.kind
        ch = node.ch

        if kind == "LogicalRelation":
            return f"SELECT * FROM {self._relation(node)}"

        if kind == "LogicalRDD":
            # a registered localCheckpoint barrier renders as its
            # pre-checkpoint plan (same output attributes by
            # construction); any other materialized RDD is data with
            # no SQL surface
            key = tuple(i for i, _, _ in _output(node))
            if key not in self._barrier_roots:
                orig = _barrier_origin(key)
                if orig is None:
                    raise Unreflectable("LogicalRDD with no registered origin")
                self._barrier_roots[key] = _snapshot(orig)
            return self._select(self._barrier_roots[key])

        if kind in ("SubqueryAlias", "View", "ResolvedHint"):
            # a View inlines its definition — faithful because a (temp)
            # view IS its plan; the reflected text then stands alone
            # without requiring the view to be registered. Join-strategy
            # hints (broadcast(dim)) shape the physical plan, not the
            # result; the reflection drops them and lets CBO/AQE
            # re-derive the strategy — result-equivalence is what the
            # round trip asserts
            return self._select(ch[0])

        if kind == "Project":
            exprs = ", ".join(self._sqls(node, "projectList"))
            child = ch[0]
            if child.kind == "OneRowRelation":
                return f"SELECT {exprs}"
            conds = []
            if child.kind == "Filter":
                # Project(Filter(x)): same level — SELECT list and WHERE
                # share x's scope, keeping join aliases visible
                conds.append(f"({self._sql(child, 'condition')})")
                child = child.ch[0]
            return f"SELECT {exprs}{self._from(child, conds)[0]}"

        if kind == "Filter":
            conds = [f"({self._sql(node, 'condition')})"]
            child = ch[0]
            exprs = None
            if child.kind == "Project" and _passthrough(child):
                # Filter(passthrough-Project(x)): flatten so qualified
                # refs in the condition still see x's join aliases; a
                # computed projection can NOT flatten (SQL WHERE cannot
                # reference SELECT-list aliases) and wraps instead
                exprs = ", ".join(self._sqls(child, "projectList"))
                child = child.ch[0]
            body, cols = self._from(child, conds)
            return f"SELECT {exprs or cols}{body}"

        if kind == "Aggregate":
            child = ch[0]
            if child.kind == "Expand":
                return self._grouping_sets(node, child)
            groups = self._sqls(node, "groupingExpressions")
            aggs = ", ".join(self._sqls(node, "aggregateExpressions"))
            conds = []
            if child.kind == "Filter":
                conds.append(f"({self._sql(child, 'condition')})")
                child = child.ch[0]
            sql = f"SELECT {aggs}{self._from(child, conds)[0]}"
            if groups:
                sql += " GROUP BY " + ", ".join(groups)
            return sql

        if kind == "Join":
            body, cols = self._from(node)
            return f"SELECT {cols}{body}"

        if kind == "Sort":
            return self._ordered(node, "")

        if kind in ("GlobalLimit", "LocalLimit"):
            n = self._sql(node, "limitExpr")
            child = ch[0]
            if kind == "GlobalLimit" and child.kind == "LocalLimit":
                child = child.ch[0]
            return self._limited(child, f" LIMIT {n}")

        if kind == "Offset":
            # Plan Offset(m, Limit(n, c)) means "rows m..n of c" (limit
            # applied FIRST); SQL `LIMIT k OFFSET m` applies the offset
            # first — so the rendered limit must shrink to n-m.
            off_sql = self._sql(node, "offsetExpr")
            child = ch[0]
            if child.kind != "GlobalLimit":
                body, cols = self._from(child)
                return f"SELECT {cols}{body} OFFSET {off_sql}"
            k = _limit_value(child.f["limitExpr"]) - _limit_value(node.f["offsetExpr"])
            inner = child.ch[0]
            if inner.kind == "LocalLimit":
                inner = inner.ch[0]
            return self._limited(inner, f" LIMIT {max(k, 0)} OFFSET {off_sql}")

        if kind == "Deduplicate":
            keys = {_attr(e)[1] for e in node.f["keys"]}
            if keys != set(_names(ch[0])):
                raise Unreflectable("dropDuplicates on a key subset")
            kind = "Distinct"  # on every column it is a DISTINCT

        if kind == "Distinct":
            body, cols = self._from(ch[0])
            return f"SELECT DISTINCT {cols}{body}"

        if kind == "Union":
            parts = [f"({self._select(c)})" for c in ch]
            return " UNION ALL ".join(parts)

        if kind in ("Except", "Intersect"):
            op = "EXCEPT" if kind == "Except" else "INTERSECT"
            if node.f["isAll"]:
                op += " ALL"
            left, right = self._select(ch[0]), self._select(ch[1])
            return f"({left}) {op} ({right})"

        if kind == "Window":
            wexprs = ", ".join(self._sqls(node, "windowExpressions"))
            body, cols = self._from(ch[0])
            return f"SELECT {cols}, {wexprs}{body}"

        if kind == "OneRowRelation":
            return "SELECT 1"

        if kind == "Range":
            f = node.f
            return f"SELECT * FROM range({f['start']}, {f['end']}, {f['step']})"

        if kind == "LocalRelation":
            return f"SELECT * FROM {self._values_item(node, self._alias())}"

        raise Unreflectable(f"no SQL renderer for plan node {kind}")


def reflect_sql(df: DataFrame) -> str:
    """Render ``df``'s analyzed logical plan as runnable Spark SQL."""
    plan = df._jdf.queryExecution().analyzed()
    return _Renderer(df.sparkSession._jvm).select(plan)


def roundtrip_equivalent(df: DataFrame, check_rows: int = 100_000) -> bool:
    """reflect → spark.sql → order-insensitive result comparison.

    The reference asserts reflected SQL re-plans to the same plan; Spark
    SQL round-trips through the parser to a *different but equivalent*
    plan (aliasing subqueries changes the tree), so equivalence is
    checked on RESULTS: same columns, same multiset of rows.
    """
    from pyspark.errors import AnalysisException

    sql = reflect_sql(df)
    try:
        twin = df.sparkSession.sql(sql)
        twin.schema  # force analysis
    except AnalysisException as e:
        # A plan whose qualified references cross a derived-table
        # boundary the renderer could not flatten (the side-flattening
        # in _side covers the known shapes; anything left is an
        # unhandled scoping) surfaces as Unreflectable, never as a
        # silently-different query.
        raise Unreflectable(
            f"generated SQL failed analysis: {str(e).splitlines()[0][:200]}"
        ) from e
    if [f.name for f in df.schema.fields] != [f.name for f in twin.schema.fields]:
        return False
    a = df.limit(check_rows).collect()
    b = twin.limit(check_rows).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    return sorted(map(key, a)) == sorted(map(key, b))
