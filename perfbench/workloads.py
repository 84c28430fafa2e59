"""Workload inputs and output checks for the benchmark.

Three workloads, all closed loop with one client:

- ``tpch_wire``: TPC-H texts of ``queries.ORACLE`` (``TPCH_WIRE``, 8 of
  the 22) as COM_QUERY over one MySQL-wire connection. Each pass draws
  a fresh statement order and fresh predicate constants from the seeded
  generator, taken from the value domains the adapted texts document in
  ``queries/tpch.py`` (dates 1995-2001, NATION_0..24, single-word
  p_type, Brand#1..25).
- ``pipeline_ops`` and ``cdc_stream``: registered query callables whose
  results are collected; the seed shuffles the order within each pass.

Checks: every wire result is compared with DuckDB running the same
generated text (row count plus an order-insensitive hash of the
normalized text cells). Registered query results are checked against
``golden.json``: the DuckDB oracle digest for queries that have one
(``oracle.compare`` recorded it), and a recorded Spark digest for
``dedup_pipeline``, which has no oracle.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import random
from pathlib import Path

HERE = Path(__file__).resolve().parent
GOLDEN = HERE / "golden.json"

PIPELINE_OPS = [
    "dedup_pipeline",
    "setsim_join_exact",
    "dedup_winnow",
    "dedup_minhash_checked",
    "dedup_semantic_checked",
    "knn_cosine",
    "knn_cosine_ivf_checked",
    "ann_recall_eval",
    "bm25_index_probe",
    "hybrid_rrf",
    "tfidf_topk",
    "pagerank_dedup_graph",
]
# Every statement shape a run sends costs one to two seconds of cold JIT
# and codegen on 4 cores before it runs warm, and the benchmark's 48 runs
# must fit in under an hour on a loaded host, so the two declared workloads
# keep a subset of their candidate statements that still covers each kind
# of work. Left out of cdc_stream: incremental_agg_multi and
# incremental_distinct_maintain (incremental_agg_maintain's twins),
# events_stream_join (a 4 s stream-stream join; events_stream_session keeps
# a stateful stream) and emb_stream_screen (docs_stream_screen's twin).
CDC_STREAM = [
    "incremental_agg_maintain",
    "orders_stream_agg_maintain",
    "snapshot_diff",
    "events_stream_session",
    "docs_stream_screen",
]
# The multiway joins whose DPhyp cost gate submits the most NDV jobs (q8,
# q5, q9, q3), the exists/not-exists join (q21), the single-table
# aggregates (q1, q6) and the outer join (q13). Left out: q2, q4, q7,
# q10-q12, q14-q20, q22.
TPCH_WIRE = ["q1", "q3", "q5", "q6", "q8", "q9", "q13", "q21"]
QUERY_WORKLOADS = {"pipeline_ops": PIPELINE_OPS, "cdc_stream": CDC_STREAM}
WORKLOADS = ("tpch_wire", "pipeline_ops", "cdc_stream")

# ---------------------------------------------------------------------------
# tpch_wire: seeded statement texts

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
NAME_WORDS = ["blue", "bolt", "gear", "gizmo", "hot", "old", "red", "ring",
              "small", "widget"]
NAME_PREFIXES = ["blue", "hot", "old", "red", "small"]


def _ts(d: dt.date) -> str:
    return f"{d.isoformat()} 00:00:00"


def _months_later(d: dt.date, months: int) -> dt.date:
    m = d.month - 1 + months
    return dt.date(d.year + m // 12, m % 12 + 1, 1)


def _month(rng: random.Random, first: dt.date, last: dt.date) -> dt.date:
    n = (last.year - first.year) * 12 + last.month - first.month
    return _months_later(first, rng.randint(0, n))


def _day(rng: random.Random, first: dt.date, last: dt.date) -> dt.date:
    return first + dt.timedelta(days=rng.randint(0, (last - first).days))


def _year(rng: random.Random) -> tuple[str, str]:
    y = rng.randint(1995, 2000)
    return _ts(dt.date(y, 1, 1)), _ts(dt.date(y + 1, 1, 1))


def _brand(rng: random.Random) -> str:
    return f"Brand#{rng.randint(1, 25)}"


def _nation(rng: random.Random) -> str:
    return f"NATION_{rng.randint(0, 24)}"


def _window(rng, first, last, months, lo_text, hi_text) -> dict[str, str]:
    start = _month(rng, first, last)
    return {lo_text: _ts(start), hi_text: _ts(_months_later(start, months))}


def _params(q: int, rng: random.Random) -> dict[str, str]:
    """Old literal -> new literal for query ``q``. Every old literal must
    occur in the registered text; a text edit that drops one fails the
    generator loudly instead of silently freezing that constant."""
    y96, y97 = "1996-01-01 00:00:00", "1997-01-01 00:00:00"
    if q == 1:
        cutoff = dt.date(1998, 12, 1) - dt.timedelta(days=rng.randint(60, 120))
        return {"1998-09-02 00:00:00": _ts(cutoff)}
    if q == 2:
        return {"'EUROPE'": f"'{rng.choice(REGIONS)}'"}
    if q == 3:
        pivot = _day(rng, dt.date(1998, 6, 1), dt.date(1998, 7, 31))
        return {"'BUILDING'": f"'{rng.choice(SEGMENTS)}'",
                "1998-07-01 00:00:00": _ts(pivot)}
    if q == 4:
        return _window(rng, dt.date(1995, 1, 1), dt.date(2001, 5, 1), 3,
                       y96, "1996-04-01 00:00:00")
    if q == 5:
        lo, hi = _year(rng)
        return {"'ASIA'": f"'{rng.choice(REGIONS)}'", y96: lo, y97: hi}
    if q == 6:
        lo, hi = _year(rng)
        d = rng.randint(2, 9)
        return {y96: lo, y97: hi,
                "0.05 AND 0.07": f"0.0{d - 1} AND 0.{d + 1:02d}",
                "l_quantity < 24": f"l_quantity < {rng.choice((24, 25))}"}
    if q == 7:
        a, b = rng.sample(range(25), 2)
        return {"'NATION_3'": f"'NATION_{a}'", "'NATION_8'": f"'NATION_{b}'"}
    if q == 8:
        return {"'NATION_3'": f"'{_nation(rng)}'",
                "'AMERICA'": f"'{rng.choice(REGIONS)}'",
                "'PROMO'": f"'{rng.choice(TYPES)}'"}
    if q == 9:
        return {"'%ring%'": f"'%{rng.choice(NAME_WORDS)}%'"}
    if q == 10:
        return _window(rng, dt.date(1995, 2, 1), dt.date(2001, 5, 1), 3,
                       "1997-10-01 00:00:00", "1998-01-01 00:00:00")
    if q == 11:
        return {"(1.3 /": f"({rng.choice(('1.1', '1.2', '1.3', '1.4', '1.5'))} /"}
    if q == 12:
        lo, hi = _year(rng)
        return {y96: lo, y97: hi}
    if q == 13:
        return {"'1-URGENT'": f"'{rng.choice(PRIORITIES)}'"}
    if q == 14:
        return _window(rng, dt.date(1995, 1, 1), dt.date(2001, 9, 1), 1,
                       "1996-09-01 00:00:00", "1996-10-01 00:00:00")
    if q == 15:
        return _window(rng, dt.date(1995, 1, 1), dt.date(2001, 7, 1), 3,
                       y96, "1996-04-01 00:00:00")
    if q == 16:
        sizes = ", ".join(str(s) for s in rng.sample(range(1, 51), 8))
        return {"'Brand#5'": f"'{_brand(rng)}'",
                "'STANDARD%'": f"'{rng.choice(TYPES)}%'",
                "(49, 14, 23, 45, 19, 3, 36, 9)": f"({sizes})",
                "< 500.0": f"< {rng.choice((0, 250, 500, 750, 1000))}.0"}
    if q == 17:
        return {"'Brand#3'": f"'{_brand(rng)}'"}
    if q == 18:
        return {"> 150": f"> {rng.randint(140, 160)}"}
    if q == 19:
        a, b, c = rng.sample(range(1, 26), 3)
        return {"'Brand#12'": f"'Brand#{a}'", "'Brand#23'": f"'Brand#{b}'",
                "'Brand#24'": f"'Brand#{c}'"}
    if q == 20:
        lo, hi = _year(rng)
        return {"'small%'": f"'{rng.choice(NAME_PREFIXES)}%'", y96: lo, y97: hi}
    if q == 21:
        return {}  # the adapted text has no free constant
    if q == 22:
        codes = sorted(rng.sample(range(40), rng.randint(7, 20)))
        old = ("('05','07','10','11','13','17','18','21','23','26','29','30',"
               "'31','33','35','38','40','42','44','47')")
        return {old: "(" + ",".join(f"'{c:02d}'" for c in codes) + ")",
                "2000-06-01 00:00:00": _ts(
                    _month(rng, dt.date(1999, 1, 1), dt.date(2001, 6, 1)))}
    raise ValueError(f"no TPC-H query q{q}")


def _substitute(text: str, mapping: dict[str, str], name: str) -> str:
    # two phases, so a new value equal to another old literal is not
    # substituted twice
    for i, old in enumerate(mapping):
        if old not in text:
            raise ValueError(f"{name}: literal {old!r} not found in its text")
        text = text.replace(old, f"\x00{i}\x00")
    for i, new in enumerate(mapping.values()):
        text = text.replace(f"\x00{i}\x00", new)
    return text


def tpch_pass(rng: random.Random, oracle: dict[str, str],
              names: list[str] = TPCH_WIRE) -> list[tuple[str, str]]:
    """One pass: the texts of ``names`` with fresh constants, in a fresh order."""
    order = list(names)
    rng.shuffle(order)
    return [
        (n, _substitute(oracle[n], _params(int(n[1:]), rng), n).strip())
        for n in order
    ]


def query_pass(rng: random.Random, names: list[str]) -> list[str]:
    order = list(names)
    rng.shuffle(order)
    return order


# ---------------------------------------------------------------------------
# checks


def canonical_cell(v: object) -> str | None:
    """The wire's text rendering of a value, with numbers reduced to a
    canonical decimal so '1.50' (DECIMAL) and '1.5' (DOUBLE) agree."""
    if v is None:
        return None
    if isinstance(v, bool):
        v = "1" if v else "0"
    elif isinstance(v, dt.datetime):
        v = v.strftime("%Y-%m-%d %H:%M:%S.%f")
    elif isinstance(v, dt.date):
        v = v.isoformat()
    elif isinstance(v, float):
        v = repr(v)
    else:
        v = str(v)
    try:
        d = decimal.Decimal(v)
    except decimal.InvalidOperation:
        return v
    if not d.is_finite():
        return v
    return format(d.normalize(), "f") if d != 0 else "0"


def rows_digest(cols: list[str], rows) -> tuple[int, str]:
    """Order-insensitive digest: row count plus a hash of the sorted,
    canonicalized rows, with columns ordered by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(str(canonical_cell(r[i])) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1e".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()[:16]


def oracle_sha(text: str | None) -> str | None:
    return hashlib.sha256(text.encode()).hexdigest()[:16] if text else None


def load_golden() -> dict:
    try:
        return json.loads(GOLDEN.read_text())
    except FileNotFoundError:
        return {}
