"""Randomized predicate fuzzing: the same WHERE clause must select the
same rows in Spark and DuckDB. Complements the fixed oracle corpus by
sweeping the comparison/boolean expression space (PredFuncKind surface,
doradb-expr/src/pred.rs:31-58) with generated predicates — the class of
divergence a fixed query set can miss (operator precedence, float
comparison, BETWEEN/IN edge semantics, three-valued NOT).

Counts (not hashes) are compared: the predicate is the variable under
test, the projection is constant.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMALL

pytestmark = pytest.mark.slow

PATH = f"{SF_SMALL}/lineitem.parquet"

_num_atom = st.one_of(
    st.tuples(
        st.sampled_from(["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]),
        st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]),
        st.integers(min_value=0, max_value=60000),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.tuples(
        st.sampled_from(["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
        st.sampled_from(["<", "<=", ">", ">="]),
        st.floats(min_value=0, max_value=100, allow_nan=False).map(
            lambda v: round(v, 2)
        ),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.tuples(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=0, max_value=20),
    ).map(lambda t: f"l_quantity BETWEEN {t[1]} AND {t[1] + t[0]}"),
    st.lists(
        st.integers(min_value=0, max_value=7), min_size=1, max_size=4
    ).map(lambda vs: f"l_linenumber IN ({', '.join(map(str, vs))})"),
    st.sampled_from(
        [
            "l_returnflag = 'R'",
            "l_returnflag <> 'A'",
            "l_linestatus IN ('O', 'F')",
            "l_returnflag IN ('A', 'N')",
        ]
    ),
    st.tuples(
        st.sampled_from(["<", ">="]),
        st.integers(min_value=1995, max_value=2000),
        st.integers(min_value=1, max_value=12),
    ).map(
        lambda t: f"l_shipdate {t[0]} TIMESTAMP '{t[1]}-{t[2]:02d}-01 00:00:00'"
    ),
    st.floats(min_value=0, max_value=60000, allow_nan=False).map(
        lambda v: f"l_extendedprice * (1 - l_discount) > {round(v, 2)}"
    ),
)

_pred = st.recursive(
    _num_atom,
    lambda kids: st.one_of(
        st.tuples(kids, st.sampled_from(["AND", "OR"]), kids).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        kids.map(lambda p: f"(NOT {p})"),
    ),
    max_leaves=5,
)


class _Oracle:
    """DuckDB oracle connection that survives DuckDB-INTERNAL crashes.

    DuckDB 1.0.0's optimizer can abort on legal-but-contradictory
    predicates (e.g. ``(NOT x BETWEEN 0 AND 1) AND x BETWEEN 0 AND 1``
    dies with "Attempted to dereference unique_ptr that is NULL"), and a
    fatal internal error invalidates the whole connection so every later
    example cascade-fails. That is an oracle-HARNESS fault, not an
    engine divergence: reconnect and reject the example (hypothesis
    ``assume``) instead of failing the sweep.
    """

    def __init__(self, views: dict[str, str]):
        self._views = views
        self._connect()

    def _connect(self) -> None:
        self.con = duckdb.connect()
        for name, path in self._views.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    @staticmethod
    def _reject() -> None:
        from hypothesis import assume
        from hypothesis.errors import InvalidArgument

        try:
            assume(False)
        except InvalidArgument:  # outside a @given context (deep sweep)
            pytest.skip("DuckDB-internal crash on this generated query")

    def execute(self, sql: str):
        try:
            return self.con.execute(sql)
        except (duckdb.InternalException, duckdb.FatalException):
            self._connect()
            self._reject()
        except duckdb.InvalidInputException as e:
            if "database has been invalidated" not in str(e):
                raise
            self._connect()
            self._reject()

    def close(self) -> None:
        self.con.close()


@pytest.fixture(scope="module")
def duck():
    con = _Oracle({"li": PATH})
    yield con
    con.close()


@given(_pred)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_predicate_selects_identical_rows(spark, duck, pred):
    spark_n = spark.sql(
        f"SELECT count(*) AS n FROM parquet.`{PATH}` WHERE {pred}"
    ).collect()[0].n
    duck_n = duck.execute(f"SELECT count(*) FROM li WHERE {pred}").fetchone()[0]
    assert spark_n == duck_n, pred


@given(
    st.sampled_from(["l_returnflag", "l_linestatus", "l_linenumber"]),
    st.sampled_from(["l_orderkey", "l_partkey", "l_suppkey"]),
    _pred,
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_grouped_aggregates_match(spark, duck, grp, val, pred):
    q = (
        f"SELECT {grp} AS g, count(*) AS n, min({val}) AS lo, max({val}) AS hi "
        f"FROM {{src}} WHERE {pred} GROUP BY {grp}"
    )
    s = {
        tuple(r)
        for r in spark.sql(q.format(src=f"parquet.`{PATH}`")).collect()
    }
    d = set(map(tuple, duck.execute(q.format(src="li")).fetchall()))
    assert s == d, pred


# --- join & window sweeps -------------------------------------------------
# Same generated-SQL-on-both-engines discipline, widened to the join
# shapes (inner/left/EXISTS/NOT EXISTS — the Join semi/antisemi surface,
# doradb-plan/src/lgc/op.rs) and to window functions over the default
# RANGE frame. Window sweeps avoid row_number (nondeterministic under
# order ties) and float accumulation (order-dependent rounding): the
# ranked/summed expressions are integers, so every compared value is
# exactly determined by the (partition, order-value) multiset.

ORD_PATH = f"{SF_SMALL}/orders.parquet"

_ord_pred = st.one_of(
    st.tuples(
        st.sampled_from(["o_orderkey", "o_custkey"]),
        st.sampled_from(["<", "<=", ">", ">="]),
        st.integers(min_value=0, max_value=60000),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.sampled_from(
        ["o_orderstatus = 'O'", "o_orderstatus <> 'F'", "o_orderpriority LIKE '1%'"]
    ),
)


@pytest.fixture(scope="module")
def duck2():
    con = _Oracle({"li": PATH, "ord": ORD_PATH})
    yield con
    con.close()


@given(
    st.sampled_from(["JOIN", "LEFT JOIN"]),
    _pred,
    _ord_pred,
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_join_counts_match(spark, duck2, jt, lp, op):
    q = (
        "SELECT count(*) FROM (SELECT * FROM {li} WHERE " + lp + ") a "
        + jt
        + " (SELECT * FROM {o} WHERE " + op + ") b "
        "ON a.l_orderkey = b.o_orderkey"
    )
    s = spark.sql(
        q.format(li=f"parquet.`{PATH}`", o=f"parquet.`{ORD_PATH}`")
    ).collect()[0][0]
    d = duck2.execute(q.format(li="li", o="ord")).fetchone()[0]
    assert s == d, (jt, lp, op)


@given(st.booleans(), _pred, _ord_pred)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_semi_anti_counts_match(spark, duck2, anti, lp, op):
    ex = "NOT EXISTS" if anti else "EXISTS"
    q = (
        "SELECT count(*) FROM {li} a WHERE " + lp + f" AND {ex} "
        "(SELECT 1 FROM {o} b WHERE b.o_orderkey = a.l_orderkey AND " + op + ")"
    )
    s = spark.sql(
        q.format(li=f"parquet.`{PATH}`", o=f"parquet.`{ORD_PATH}`")
    ).collect()[0][0]
    d = duck2.execute(q.format(li="li", o="ord")).fetchone()[0]
    assert s == d, (ex, lp, op)


@given(
    st.sampled_from(["l_returnflag", "l_linestatus", "l_linenumber"]),
    st.sampled_from(["l_orderkey", "l_partkey", "l_suppkey"]),
    st.sampled_from(
        ["rank()", "dense_rank()", "count(*)", "sum({k})", "min({k})", "max({k})"]
    ),
    _pred,
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_window_functions_match(spark, duck2, g, k, fn, pred):
    from collections import Counter

    expr = fn.format(k=k)
    q = (
        f"SELECT {g} AS g, {k} AS k, "
        f"{expr} OVER (PARTITION BY {g} ORDER BY {k}) AS w "
        "FROM {src} WHERE " + pred
    )
    s = Counter(
        tuple(r) for r in spark.sql(q.format(src=f"parquet.`{PATH}`")).collect()
    )
    d = Counter(map(tuple, duck2.execute(q.format(src="li")).fetchall()))
    assert s == d, (g, k, expr, pred)


@given(
    st.sampled_from(
        ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL", "EXCEPT", "EXCEPT ALL"]
    ),
    _pred,
    _pred,
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_setop_counts_match(spark, duck2, op, p1, p2):
    # all six Setop variants (SetopKind x Setq, lgc/op.rs) over generated
    # branch predicates; compare full row multisets via count + distinct
    q = (
        "SELECT count(*) FROM ("
        "SELECT l_orderkey, l_linenumber, l_returnflag FROM {src} WHERE " + p1
        + f" {op} "
        "SELECT l_orderkey, l_linenumber, l_returnflag FROM {src} WHERE " + p2
        + ")"
    )
    s = spark.sql(q.format(src=f"parquet.`{PATH}`")).collect()[0][0]
    d = duck2.execute(q.format(src="li")).fetchone()[0]
    assert s == d, (op, p1, p2)


@given(
    st.sampled_from(
        [
            "substring(l_returnflag || l_linestatus, 2, 1)",
            "upper(l_returnflag) || lower(l_linestatus)",
            "length(l_returnflag || l_linestatus)",
            "l_orderkey % 97",
            # NOT CAST(double AS BIGINT): Spark truncates toward zero,
            # DuckDB rounds half-to-even — a real dialect divergence
            # (documented in cast_matrix); pin the rounding explicitly
            "CAST(floor(l_extendedprice) AS BIGINT)",
            "coalesce(nullif(l_returnflag, 'N'), 'x')",
            "greatest(l_suppkey, l_partkey)",
            "least(l_linenumber, 3)",
            "year(l_shipdate)",
            "month(l_shipdate)",
            "day(l_shipdate)",
            "l_orderkey & 255",
            "l_orderkey | 16",
        ]
    ),
    _pred,
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scalar_expressions_match(spark, duck2, expr, pred):
    # FuncKind surface sweep: the same scalar expression grouped and
    # min/max'd must agree exactly (strings, ints, dates — no float
    # accumulation)
    q = (
        f"SELECT min({expr}) AS lo, max({expr}) AS hi, count({expr}) AS n "
        "FROM {src} WHERE " + pred
    )
    s = tuple(spark.sql(q.format(src=f"parquet.`{PATH}`")).collect()[0])
    d = tuple(duck2.execute(q.format(src="li")).fetchone())
    assert s == d, (expr, pred)


@pytest.mark.skipif(
    not __import__("os").environ.get("XNGIN_DEEP_SWEEP"),
    reason="opt-in: XNGIN_DEEP_SWEEP=1 runs the 300-case random sweep",
)
def test_deep_random_sweep(spark, duck2):
    """Reproducible form of the pre-handoff divergence sweep: 300
    seeded random queries (180 predicates, 60 joins, 60 windows) from
    the same grammar as the hypothesis strategies, asserted identical
    on both engines. Opt-in because it costs ~90s — run it before a
    hand-off, not per CI cycle."""
    import random
    from collections import Counter

    rng = random.Random(99)

    def atom():
        c = rng.randrange(6)
        if c == 0:
            return (
                f"{rng.choice(['l_orderkey','l_partkey','l_suppkey','l_linenumber'])} "
                f"{rng.choice(['<','<=','>','>=','=','<>'])} {rng.randrange(0, 60000)}"
            )
        if c == 1:
            return (
                f"{rng.choice(['l_quantity','l_extendedprice','l_discount','l_tax'])} "
                f"{rng.choice(['<','<=','>','>='])} {round(rng.uniform(0, 100), 2)}"
            )
        if c == 2:
            lo = rng.randrange(0, 20)
            return f"l_quantity BETWEEN {lo} AND {lo + rng.randrange(1, 40)}"
        if c == 3:
            vs = ", ".join(str(rng.randrange(0, 8)) for _ in range(rng.randrange(1, 4)))
            return f"l_linenumber IN ({vs})"
        if c == 4:
            return rng.choice(
                ["l_returnflag = 'R'", "l_returnflag <> 'A'",
                 "l_linestatus IN ('O','F')", "l_returnflag IS NOT NULL"]
            )
        return (
            f"l_extendedprice * (1 - l_discount) {rng.choice(['>','<='])} "
            f"{round(rng.uniform(0, 60000), 2)}"
        )

    def pred(depth=0):
        if depth > 2 or rng.random() < 0.4:
            return atom()
        if rng.random() < 0.2:
            return f"(NOT {pred(depth + 1)})"
        return f"({pred(depth + 1)} {rng.choice(['AND', 'OR'])} {pred(depth + 1)})"

    for _ in range(180):
        p = pred()
        q = "SELECT count(*) FROM {s} WHERE " + p
        s = spark.sql(q.format(s=f"parquet.`{PATH}`")).collect()[0][0]
        d = duck2.execute(q.format(s="li")).fetchone()[0]
        assert s == d, p
    for _ in range(60):
        p, jt = pred(), rng.choice(["JOIN", "LEFT JOIN"])
        q = (
            "SELECT count(*) FROM (SELECT * FROM {li} WHERE " + p + f") a {jt} "
            "{o} b ON a.l_orderkey = b.o_orderkey"
        )
        s = spark.sql(q.format(li=f"parquet.`{PATH}`", o=f"parquet.`{ORD_PATH}`")).collect()[0][0]
        d = duck2.execute(q.format(li="li", o="ord")).fetchone()[0]
        assert s == d, (jt, p)
    for _ in range(60):
        p = pred()
        g = rng.choice(["l_returnflag", "l_linestatus", "l_linenumber"])
        k2 = rng.choice(["l_orderkey", "l_partkey", "l_suppkey"])
        fn = rng.choice(
            ["rank()", "dense_rank()", "count(*)", f"sum({k2})", f"min({k2})", f"max({k2})"]
        )
        q = (
            f"SELECT {g} g, {k2} k, {fn} OVER (PARTITION BY {g} ORDER BY {k2}) w "
            "FROM {s} WHERE " + p
        )
        s = Counter(tuple(r) for r in spark.sql(q.format(s=f"parquet.`{PATH}`")).collect())
        d = Counter(map(tuple, duck2.execute(q.format(s="li")).fetchall()))
        assert s == d, (g, k2, fn, p)
