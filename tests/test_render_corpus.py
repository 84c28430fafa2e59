"""Golden render corpus: the SQL text the plan renderer emits, pinned
byte for byte.

Two renderers share one traversal (``plans/reflect._Renderer``):
``reflect_sql`` and the DPhyp rewriter (``plans/sqlreorder``), which
also runs it in decide-only mode as the cost gate. This test pins what
that traversal produces over a fixed corpus at sf0.001:

- ``reflect``: ``reflect_sql`` of the 22 TPC-H DataFrame queries and
  of every family in ``test_reflect.MUST_REFLECT``;
- ``rewrite``: ``dphyp_rewrite``'s ``(text, traces)`` in ``"always"``
  and ``"auto"`` mode, plus the auto gate log, for every ``ORACLE``
  text that analyzes in Spark and for nine scope/shape texts (window
  scope, limit scope, derived table, left join, union, offset, rollup,
  distinct, CTE).

Texts are compared exactly; gate-log decisions exactly and costs to a
1e-9 relative tolerance. The data directory is stored as ``<SF>``.

Regenerate only when a render change is intended:
``XNGIN_TEST_SF_DIR=<sf0.001 dir> python -m tests.test_render_corpus``.
"""

from __future__ import annotations

import json
import math
import os
from contextlib import contextmanager
from pathlib import Path

import pytest

GOLDEN = Path(__file__).with_name("render_corpus.json")
SF = "<SF>"
TPCH = [f"q{i}" for i in range(1, 23)]

_CUST_ORDERS_NATION = "c_custkey = o_custkey AND c_nationkey = n_nationkey"

#: scope/shape texts: each holds a ≥3-leaf inner-join region under the
#: boundary it is named after, so both modes exercise the renderer's
#: WHERE-conjunct scoping and the region hook
SHAPES = {
    "shape_window_scope": """
SELECT * FROM (
  SELECT c_custkey, c_nationkey, l_suppkey, count(*) OVER () AS total_rows
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
) t
WHERE c_nationkey = l_suppkey
""",
    "shape_limit_scope": """
SELECT * FROM (
  SELECT c_custkey, c_nationkey, l_suppkey, l_orderkey, l_linenumber
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  ORDER BY l_orderkey, l_linenumber
  LIMIT 50
) t
WHERE c_nationkey = l_suppkey
""",
    "shape_derived_table": f"""
SELECT t.c_name, t.o_orderdate FROM (
  SELECT c_name, o_orderdate, n_name FROM customer, orders, nation
  WHERE {_CUST_ORDERS_NATION} AND o_totalprice > 1000
) t
WHERE t.n_name <> 'X'
""",
    "shape_left_join": """
SELECT c_name, n_name, r_name, o_orderkey
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 100000
""",
    "shape_union": f"""
SELECT c_name, n_name FROM customer, orders, nation
WHERE {_CUST_ORDERS_NATION} AND o_totalprice > 200000
UNION ALL
SELECT s_name, n_name FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
""",
    "shape_offset": """
SELECT c_name, o_orderkey, l_linenumber FROM customer, orders, lineitem
WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
ORDER BY o_orderkey, l_linenumber
LIMIT 20 OFFSET 5
""",
    "shape_rollup": f"""
SELECT n_name, r_name, sum(o_totalprice) AS total
FROM orders, customer, nation, region
WHERE {_CUST_ORDERS_NATION} AND n_regionkey = r_regionkey
GROUP BY ROLLUP(n_name, r_name)
""",
    "shape_distinct": """
SELECT DISTINCT n_name, r_name FROM customer, nation, region
WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
""",
    "shape_cte": """
WITH big AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 1000)
SELECT c_name, count(*) AS n
FROM big, customer, nation
WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
GROUP BY c_name
""",
}


@contextmanager
def _recording_renderers():
    """Yield a list that collects every ``_DPhypRenderer`` the rewriter
    constructs while the context is open."""
    import xngin_spark.plans.sqlreorder as sq

    made: list = []
    real = sq._DPhypRenderer

    class Recording(real):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            made.append(self)

    sq._DPhypRenderer = Recording
    try:
        yield made
    finally:
        sq._DPhypRenderer = real


def _traces(traces) -> list:
    return [[[sorted(left), sorted(right)] for left, right in t] for t in traces]


def _rewrite(spark, sql: str, mode: str, sf_dir: str) -> dict:
    from xngin_spark.plans.sqlreorder import dphyp_rewrite

    with _recording_renderers() as made:
        text, traces = dphyp_rewrite(spark, sql, mode)
    out = {"text": text.replace(sf_dir, SF), "traces": _traces(traces)}
    if mode == "auto":
        out["gate_log"] = [
            [base, dp, fired] for r in made for base, dp, fired in r.gate_log
        ]
    return out


def _analyzes(spark, sql: str) -> bool:
    try:
        spark.sql(sql).schema
    except Exception:
        return False
    return True


def build_corpus(spark, sf_dir: str) -> dict:
    """The corpus as recorded in the golden file."""
    from tests.test_reflect import MUST_REFLECT
    from xngin_spark import queries as Q
    from xngin_spark.catalog import Catalog
    from xngin_spark.plans.reflect import reflect_sql

    Q.load_all()
    reflect = {
        name: reflect_sql(Q.QUERIES[name](spark, sf_dir)).replace(sf_dir, SF)
        for name in TPCH + MUST_REFLECT
        if name in Q.QUERIES
    }
    Catalog(spark).register_dir(sf_dir)
    texts = {n: s for n, s in Q.ORACLE.items() if _analyzes(spark, s)}
    texts.update(SHAPES)
    rewrite = {
        name: {mode: _rewrite(spark, sql, mode, sf_dir) for mode in ("always", "auto")}
        for name, sql in texts.items()
    }
    return {"reflect": reflect, "rewrite": rewrite}


def _same_log(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        g[2] == w[2]
        and math.isclose(g[0], w[0], rel_tol=1e-9)
        and math.isclose(g[1], w[1], rel_tol=1e-9)
        for g, w in zip(got, want)
    )


def test_render_corpus_matches_golden(spark, sf_dir):
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("the golden corpus is recorded at sf0.001")
    want = json.loads(GOLDEN.read_text())
    got = build_corpus(spark, sf_dir)

    assert sorted(got["reflect"]) == sorted(want["reflect"])
    diff = [n for n in want["reflect"] if got["reflect"][n] != want["reflect"][n]]
    assert not diff, f"reflect_sql text changed: {diff}"

    assert sorted(got["rewrite"]) == sorted(want["rewrite"]), "analyzable set changed"
    bad = []
    for name, modes in want["rewrite"].items():
        for mode, rec in modes.items():
            g = got["rewrite"][name][mode]
            if g["text"] != rec["text"] or g["traces"] != rec["traces"]:
                bad.append(f"{name}/{mode}: text or traces")
            elif mode == "auto" and not _same_log(g["gate_log"], rec["gate_log"]):
                bad.append(f"{name}/{mode}: gate_log {g['gate_log']} != {rec['gate_log']}")
    assert not bad, bad


if __name__ == "__main__":
    from xngin_spark.session import get_spark

    sf = os.environ.get("XNGIN_TEST_SF_DIR", "")
    if os.path.basename(sf.rstrip("/")) != "sf0.001":
        raise SystemExit("set XNGIN_TEST_SF_DIR to the sf0.001 data directory")
    session = get_spark("render_corpus", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    corpus = build_corpus(session, sf)
    GOLDEN.write_text(json.dumps(corpus, indent=1, sort_keys=True) + "\n")
    n = len(corpus["rewrite"])
    print(f"wrote {GOLDEN.name}: {len(corpus['reflect'])} reflect, {n} rewrite texts")
