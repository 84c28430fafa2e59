"""Round-11 additions: RocksDB state-store round-trip, values_df
hardening, journaled copy-on-write swap recovery, key-shift caching,
and scalar-vs-vectorized equivalence for the stateful streaming twins.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


# --- RocksDB state store: the documented-but-never-run scale path -----------


@pytest.mark.parametrize(
    "name", ["events_stream_transitions", "events_stream_dedup"]
)
def test_rocksdb_state_store_round_trips_twin_state(spark, oracle_con, name):
    """SCALE.md names RocksDBStateStoreProvider as the fix for the
    single-JVM heap-state ceiling (100M-key streams OOM a 28g JVM) but
    round 10 never ran it. This pins the claim's local half: the
    provider must round-trip BOTH state shapes the excluded queries
    use — the applyInPandasWithState struct state (stream_transitions'
    last-event-type value state) and dropDuplicatesWithinWatermark's
    key-tracking state — producing the exact oracle answer it produces
    on the default heap provider. Conf is a runtime SQL conf, applied
    per started stream, reset after."""
    from xngin_spark import queries as Q
    from xngin_spark.oracle import compare

    Q.load_all()
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB)
    try:
        res = compare(
            name, Q.QUERIES[name](spark, SF_SMALL), oracle_con, Q.ORACLE[name]
        )
        assert res.ok, (
            f"{name} under RocksDB: spark {res.spark_rows}/{res.spark_hash} "
            f"vs oracle {res.oracle_rows}/{res.oracle_hash}"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- values_df hardening (round-10 advice) -----------------------------------


def test_values_df_empty_rows(spark):
    from xngin_spark.operators.util import values_df

    df = values_df(spark, "a bigint, b string", [])
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_values_df_parameterized_types(spark):
    from xngin_spark.operators.util import values_df

    df = values_df(
        spark,
        "a decimal(10,2), b string, c double",
        [(1.5, "x", 2.0)],
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "decimal(10,2)", "string", "double",
    ]
    r = df.first()
    assert str(r.a) == "1.50" and r.b == "x" and r.c == 2.0


def test_values_df_quote_and_backslash_strings(spark):
    from xngin_spark.operators.util import values_df

    tricky = ["it's", "a\\b", "x''y", "new\nline", ""]
    df = values_df(
        spark, "i bigint, s string", list(enumerate(tricky))
    )
    got = {r.i: r.s for r in df.collect()}
    assert got == dict(enumerate(tricky))


def test_values_df_nonfinite_floats(spark):
    import math

    from xngin_spark.operators.util import values_df

    df = values_df(
        spark,
        "i bigint, v double",
        [(0, float("inf")), (1, float("-inf")), (2, float("nan")), (3, 1.5)],
    )
    got = {r.i: r.v for r in df.collect()}
    assert got[0] == float("inf") and got[1] == float("-inf")
    assert math.isnan(got[2]) and got[3] == 1.5


# --- journaled copy-on-write swap: crash-window roll-forward ----------------


def test_swap_journal_rolls_forward_after_crash(spark, tmp_path):
    """Simulate the exact crash the round-10 advice flagged: the swap
    died after writing its journal but BEFORE moving new files in /
    deleting old ones, leaving the table readable with stale rows.
    The next entry through any DML path must complete the swap — the
    rewritten rows appear exactly once, old files are gone."""
    import glob
    import json
    import shutil
    import uuid

    from xngin_spark.sources import dml

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, "old") for i in range(10)], "id bigint, v string"
    ).coalesce(1).write.parquet(path)
    [old_file] = glob.glob(f"{path}/part-*.parquet")

    # stage the rewrite (ids 0-9 with v='new') in a dot-tmp dir, write
    # the journal, then "crash" before moving anything
    tmp = os.path.join(path, f".cow-{uuid.uuid4().hex}")
    spark.createDataFrame(
        [(i, "new") for i in range(10)], "id bigint, v string"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    moves = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    jpath = os.path.join(path, f".swap-{uuid.uuid4().hex}.json")
    with open(jpath, "w") as fh:
        json.dump({"tmp": tmp, "moves": moves, "old_files": [old_file]}, fh)

    # pre-recovery read sees the stale rows (the crash window)
    assert spark.read.parquet(path).filter("v = 'old'").count() == 10

    # any DML entry point must roll the swap forward before reading
    dml.update_table(spark, path, {"v": "touched"}, "id = -1")  # no-op match
    spark.catalog.refreshByPath(path)
    got = spark.read.parquet(path).groupBy("v").count().collect()
    assert {(r.v, r["count"]) for r in got} == {("new", 10)}
    assert not os.path.exists(old_file)
    assert not glob.glob(f"{path}/.swap-*.json")
    shutil.rmtree(tmp, ignore_errors=True)


def test_swap_journal_partial_move_completes(spark, tmp_path):
    """Crash mid-move (some new files live, some still in tmp, old
    files still present): recovery must finish the remaining moves and
    deletions without duplicating the files it already moved."""
    import glob
    import json
    import shutil
    import uuid

    from xngin_spark.sources.dml import _recover_swaps

    path = str(tmp_path / "t2")
    spark.createDataFrame(
        [(i, "old") for i in range(4)], "id bigint, v string"
    ).coalesce(2).write.parquet(path)
    old_files = sorted(glob.glob(f"{path}/part-*.parquet"))

    tmp = os.path.join(path, f".cow-{uuid.uuid4().hex}")
    spark.createDataFrame(
        [(i, "new") for i in range(4)], "id bigint, v string"
    ).repartition(2).write.mode("overwrite").parquet(tmp)
    moves = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    # move ONE file live already (the partial crash)
    shutil.move(os.path.join(tmp, moves[0]), os.path.join(path, moves[0]))
    jpath = os.path.join(path, f".swap-{uuid.uuid4().hex}.json")
    with open(jpath, "w") as fh:
        json.dump({"tmp": tmp, "moves": moves, "old_files": old_files}, fh)

    _recover_swaps(path)
    spark.catalog.refreshByPath(path)
    got = spark.read.parquet(path).groupBy("v").count().collect()
    assert {(r.v, r["count"]) for r in got} == {("new", 4)}
    for f in old_files:
        assert not os.path.exists(f)
    assert not os.path.exists(tmp) and not os.path.exists(jpath)


# --- key-shift caching (bench flag: incremental_agg_multi) -------------------


def test_key_shift_cached_per_dataset(spark):
    from xngin_spark.queries import micro

    micro._KEY_SHIFT_CACHE.clear()
    orders = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    s1 = micro._key_shift(orders, "o_orderkey")
    assert len(micro._KEY_SHIFT_CACHE) == 1
    # same dataset+key: served from cache (no new entry, same value)
    s2 = micro._key_shift(orders, "o_orderkey")
    assert s1 == s2 and len(micro._KEY_SHIFT_CACHE) == 1
    # the derived shift is the smallest power of 10 above the domain
    mx = orders.agg({"o_orderkey": "max"}).first()[0]
    assert s1 == 10 ** len(str(int(mx))) and s1 > mx


# --- SQL-side oracle digest == Python digest, whole corpus -------------------


@pytest.mark.slow
def test_sql_digest_matches_python_digest_corpus_wide(oracle_con):
    """The round-11 oracle digest runs INSIDE DuckDB (per-row sha256 +
    limb sums) so sf100 oracles never materialize results. Its verdicts
    must be indistinguishable from the Python digest: every registered
    oracle at sf0.001 must produce the identical (row count, hash)
    under both paths — covering every output type the corpus uses
    (doubles incl. inf/NaN-free aggregates, decimals, timestamps,
    dates, booleans, strings, ints). Oracles whose types have no SQL
    normalization must cleanly return None (Python fallback), never a
    wrong hash."""
    from xngin_spark import queries as Q
    from xngin_spark.oracle import _digest_rows, _digest_sql

    Q.load_all()
    sql_path = 0
    fallback = []
    for name, sql in sorted(Q.ORACLE.items()):
        r = _digest_sql(oracle_con, sql)
        if r is None:
            fallback.append(name)
            continue
        sql_path += 1
        n_sql, h_sql, cols = r
        cur = oracle_con.execute(sql)
        ocols = [d[0] for d in cur.description]
        n_py, h_py = _digest_rows(ocols, iter(cur.fetchall()))
        assert (n_sql, h_sql) == (n_py, h_py), (
            f"{name}: sql digest {n_sql}/{h_sql} != python {n_py}/{h_py}"
        )
        assert cols == ocols
    # the digest must actually carry the corpus, not silently fall back
    assert sql_path >= 150, (
        f"only {sql_path} oracles took the SQL digest; fallbacks: {fallback}"
    )


def test_sql_digest_type_edges(oracle_con):
    """Planted edge battery for the SQL normalization: trailing-zero
    micros, micros-free timestamps, NaN/inf doubles, -0.0, negative
    decimals, NULLs of every type, empty strings, chr(31) in data,
    float32 widening, empty result sets."""
    from xngin_spark.oracle import _digest_rows, _digest_sql

    probes = [
        """SELECT * FROM (VALUES
             (TIMESTAMP '2024-01-02 03:04:05.120000', 1.5, 'a'),
             (TIMESTAMP '2024-01-02 03:04:05', CAST('nan' AS DOUBLE), ''),
             (TIMESTAMP '2024-01-02 03:04:05.000001', CAST('-inf' AS DOUBLE), chr(31)),
             (NULL, -0.0, NULL)) t(ts, d, s)""",
        """SELECT CAST(-1.50 AS DECIMAL(25,6)) AS dec, TRUE AS b, DATE '1999-12-31' AS dt
           UNION ALL SELECT NULL, FALSE, NULL
           UNION ALL SELECT NULL, NULL, NULL""",
        "SELECT CAST(0.1 AS FLOAT) AS f, CAST(5 AS HUGEINT) AS h",
        "SELECT 1 AS x WHERE 1 = 0",
    ]
    for sql in probes:
        r = _digest_sql(oracle_con, sql)
        assert r is not None, sql
        n_sql, h_sql, _ = r
        cur = oracle_con.execute(sql)
        ocols = [d[0] for d in cur.description]
        n_py, h_py = _digest_rows(ocols, iter(cur.fetchall()))
        assert (n_sql, h_sql) == (n_py, h_py), sql


# --- relational 'vc*p' oracle == regex scan, exhaustively --------------------


def test_pattern_oracle_relational_form_equals_regex():
    """Round 11 replaced events_pattern_match's string_agg+regexp
    oracle (unspillable in DuckDB, OOM'd the sf100 sweep at 55 GB)
    with a window+aggregate form. The rewrite's claim: a left-to-right
    non-overlapping scan for 'vc*p' matches exactly the 'p' positions
    whose last non-'c' predecessor is 'v'. Exhaustive over every
    {c,v,p} string to length 10 (~88k cases) — any counterexample
    would mean the sf100 row verifies the wrong answer."""
    import itertools
    import re

    def relational(s: str) -> int:
        n, prev_nonc = 0, None
        for ch in s:
            if ch == "p" and prev_nonc == "v":
                n += 1
            if ch != "c":
                prev_nonc = ch
        return n

    for length in range(0, 11):
        for s in map("".join, itertools.product("cvp", repeat=length)):
            assert len(re.findall("vc*p", s)) == relational(s), s


def test_pattern_oracle_matches_spark_leg(spark, oracle_con):
    """The rewritten oracle must still hash-match the UNCHANGED Spark
    leg on real data (the gate's exact compare)."""
    from xngin_spark import queries as Q
    from xngin_spark.oracle import compare

    Q.load_all()
    res = compare(
        "events_pattern_match",
        Q.QUERIES["events_pattern_match"](spark, SF_SMALL),
        oracle_con,
        Q.ORACLE["events_pattern_match"],
    )
    assert res.ok, (
        f"spark {res.spark_rows}/{res.spark_hash} vs "
        f"oracle {res.oracle_rows}/{res.oracle_hash}"
    )


# --- vectorized stateful twins == scalar reference ---------------------------


class _FakeState:
    """Duck-typed GroupState for driving the update functions without
    a streaming query: exists/get/update/hasTimedOut, nothing more."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists = True
        self._v = tuple(v)

    def remove(self):
        self.exists = False
        self._v = None


def _run_twin(fn, batches):
    import pandas as pd

    state = _FakeState()
    out = []
    for rows in batches:
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
        out.extend(
            tuple(r)
            for chunk in fn((7,), iter([pdf]), state)
            for r in chunk.itertuples(index=False)
        )
    return sorted((str(a), str(b), c) for a, b, c in out), state._v


def _scalar_linear(batches):
    """The pre-round-11 per-event loop, kept as the executable spec."""
    nc = nv = 0
    out = []
    for rows in batches:
        for _eid, _ts, _uid, et, val in sorted(rows, key=lambda r: (r[1], r[0])):
            if et == "purchase":
                tot = nc + nv
                if tot == 0:
                    out.append(("7", "organic", val))
                else:
                    if nc > 0:
                        out.append(("7", "click", val * (nc / tot)))
                    if nv > 0:
                        out.append(("7", "view", val * (nv / tot)))
            elif et == "click":
                nc += 1
            elif et == "view":
                nv += 1
    return sorted(out)


def _scalar_ushaped(batches):
    ft = lt = ""
    out = []
    for rows in batches:
        for _eid, _ts, _uid, et, val in sorted(rows, key=lambda r: (r[1], r[0])):
            if et == "purchase":
                if not ft:
                    out.append(("7", "organic", val))
                else:
                    out.append(("7", ft, val * 0.5))
                    out.append(("7", lt, val * 0.5))
            elif et in ("click", "view"):
                if not ft:
                    ft = et
                lt = et
    return sorted(out)


def _scalar_lasttouch(batches):
    touch = ""
    out = []
    for rows in batches:
        for _eid, _ts, _uid, et, val in sorted(rows, key=lambda r: (r[1], r[0])):
            if et == "purchase":
                out.append(("7", touch if touch else "organic", val))
            elif et in ("click", "view"):
                touch = et
    return sorted(out)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_vectorized_twins_match_scalar_spec(seed):
    """Property test for the round-11 vectorization: random event
    sequences split into random micro-batches must produce bit-exact
    (same floats, not approx) output multisets AND final state equal to
    the retired per-event loop, for all three counting models."""
    import random

    from xngin_spark.streaming.stateful import (
        _update_attribution,
        _update_attribution_linear,
        _update_attribution_ushaped,
    )

    rng = random.Random(seed)
    n = rng.randint(1, 60)
    events = [
        (
            i,
            1_700_000_000 + i * 10,
            7,
            rng.choice(["click", "view", "purchase", "pageview"]),
            round(rng.uniform(0, 100), 3),
        )
        for i in range(n)
    ]
    cuts = sorted(rng.sample(range(1, n), min(rng.randint(0, 4), n - 1)))
    batches = [
        events[a:b] for a, b in zip([0] + cuts, cuts + [n]) if events[a:b]
    ]

    got_lin, st_lin = _run_twin(_update_attribution_linear, batches)
    want_lin = [(a, b, c) for a, b, c in _scalar_linear(batches)]
    assert got_lin == sorted(want_lin)
    nc = sum(1 for e in events if e[3] == "click")
    nv = sum(1 for e in events if e[3] == "view")
    assert st_lin[:2] == (nc, nv)

    got_u, _ = _run_twin(_update_attribution_ushaped, batches)
    assert got_u == sorted(_scalar_ushaped(batches))

    got_last, _ = _run_twin(_update_attribution, batches)
    assert got_last == sorted(_scalar_lasttouch(batches))


# ---------------------------------------------------------------------------
# dedup-bounded synthesis invariants (tools/make_sf.py --dedup-docs)
# ---------------------------------------------------------------------------


def test_dedup_synthesis_bounded_pair_growth(tmp_path):
    """The --dedup-docs cipher must isolate copy groups: group-0/copy-0
    is the verbatim source doc, all per-group ciphers are distinct, and
    copies of one source doc in DIFFERENT groups share (almost) no
    3-token shingles — the invariant that keeps near-dup pair growth
    linear in K. Round 11 shipped two broken ciphers before this test:
    rot(g*7) repeated every 130 groups, and mixed-radix rotations
    collapsed to 26 distinct ciphers on the lowercase-only corpus
    (measured 123x pair growth per 10x data; SCALE.md, LSH phase split).
    A permutation cipher with asserted uniqueness is structural, but
    only a shingle-level check catches an alphabet/corpus mismatch —
    so check shingles, not cipher strings."""
    import duckdb

    import tools.make_sf as ms

    src = tmp_path / "src"
    src.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT CAST(i AS BIGINT) AS doc_id,
                 'alpha beta gamma delta epsilon zeta eta theta iota '
                 || 'kappa lam mu nu xi omicron pi rho sigma tau ups'
                 || CAST(i AS VARCHAR) AS text,
                 'en' AS lang, 'synth' AS source, CAST(60 AS BIGINT) AS n_chars
          FROM range(3) t(i)
        ) TO '{src}/documents.parquet' (FORMAT PARQUET)
        """
    )
    dst = tmp_path / "dst"
    # k=536 -> 134 groups: crosses the 130-group period of the FIRST
    # broken cipher and the 26-rotation space of the second
    ms.make_dedup_docs(str(src), str(dst), 536)

    out = f"{dst}/documents.parquet"
    n, = con.sql(f"SELECT COUNT(*) FROM read_parquet('{out}')").fetchone()
    assert n == 3 * 536

    # verbatim copy: i=0 keeps the source text byte-for-byte
    verbatim = con.sql(
        f"""
        SELECT COUNT(*) FROM read_parquet('{out}') d
        JOIN read_parquet('{src}/documents.parquet') s
          ON d.doc_id = s.doc_id AND d.text = s.text
        """
    ).fetchone()[0]
    assert verbatim == 3

    # cross-group 3-shingle overlap for source doc 0: tokens are pure
    # lowercase words, so distinct group permutations must give
    # near-disjoint shingle sets (jaccard ~ 0), while within-group
    # rotations stay near-dups (jaccard >= 0.5)
    rows = con.sql(
        f"""
        WITH d AS (
          SELECT doc_id // 10 AS i, text FROM read_parquet('{out}')
          WHERE doc_id % 10 = 0
        ),
        sh AS (
          SELECT i, i // {ms.DEDUP_GROUP} AS g, j,
                 toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2] AS shingle
          FROM (SELECT i, string_split(text, ' ') AS toks FROM d),
               LATERAL unnest(range(1, len(toks) - 1)) t(j)
        ),
        pairs AS (
          SELECT a.g AS ga, b.g AS gb,
                 COUNT(DISTINCT CASE WHEN a.shingle = b.shingle
                                     THEN a.shingle END) AS inter
          FROM (SELECT DISTINCT g, shingle, i FROM sh) a
          JOIN (SELECT DISTINCT g, shingle, i FROM sh) b
            ON a.i < b.i
          GROUP BY 1, 2
        )
        SELECT MAX(CASE WHEN ga <> gb THEN inter ELSE 0 END) AS cross_max,
               MIN(CASE WHEN ga = gb THEN inter END) AS within_min
        FROM pairs
        """
    ).fetchone()
    cross_max, within_min = rows
    # a 20-token doc has 18 shingles; allow <=2 accidental cross-group
    # matches (boundary effects), require >=9 shared within a group
    assert cross_max <= 2, f"cross-group shingle overlap {cross_max}"
    assert within_min >= 9, f"within-group shingle overlap {within_min}"


def test_parquet_stream_sink_matches_memory_sink(spark):
    """XNGIN_STREAM_SINK=parquet must reproduce the memory-sink result
    exactly for both output modes (append: native parquet sink;
    complete: foreachBatch overwrite). The file sink exists because the
    sf100 state twins OOM a 28g JVM on the memory sink's
    collect-on-heap shape, not on streaming state — it is the
    production sink shape, so parity with the oracle-checked memory
    path is the load-bearing claim."""
    import os

    from xngin_spark import queries as Q

    Q.load_all()
    sf = SF_SMALL
    for name in ("events_stream_dedup", "events_stream_session"):
        os.environ.pop("XNGIN_STREAM_SINK", None)
        mem = sorted(map(tuple, Q.QUERIES[name](spark, sf).collect()))
        os.environ["XNGIN_STREAM_SINK"] = "parquet"
        try:
            par = sorted(map(tuple, Q.QUERIES[name](spark, sf).collect()))
        finally:
            os.environ.pop("XNGIN_STREAM_SINK", None)
        assert mem == par, f"{name}: parquet sink diverged from memory sink"


# --- batched winnow kernel: boundary masking edges --------------------------


def test_winnow_batched_kernel_boundary_edges(spark):
    """The round-11 winnow kernel hashes ONE concatenation of all docs
    in an Arrow batch and masks away window positions whose k+w-1-char
    span crosses a doc boundary. Pin the edges the masking must get
    right — a doc of exactly k+w-1 chars (one window), adjacent docs
    whose concatenation seam would mint a fake shared fingerprint if
    unmasked, repeated-text docs (per-doc distinct), and exact-dup docs
    (identical fp sets under different ids) — against the all-JVM
    expression twin, forced through ONE partition so every doc lands in
    the same batch."""
    from xngin_spark.operators import dedup as D

    k, w = 12, 4
    rows = [
        (10, "a" * (k + w - 1)),  # exactly one window
        (11, "zzzzzzzzzzzzzzzzzzzz"),  # seam partner 1
        (12, "aaaaaaaaaaaaaaaaaaaa"),  # seam partner 2 (follows 11)
        (13, "abcabcabcabc" * 6),  # repeated shingles → distinct fps
        (14, "the quick brown fox jumps over the lazy dog again"),
        (15, "the quick brown fox jumps over the lazy dog again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    got = {(r.id, r.fp) for r in D.winnow_fingerprints(df, k=k, w=w).collect()}
    want = {
        (r.id, r.fp)
        for r in D._winnow_fingerprints_expr(df, k=k, w=w).collect()
    }
    assert got == want and len(got) > 0
    by_id = {}
    for i, fp in got:
        by_id.setdefault(i, set()).add(fp)
    assert by_id[14] == by_id[15]  # exact dups share the full fp set
    assert len(by_id[10]) == 1  # single-window doc → exactly one fp

    # chunk-cap path: a tiny _chunk_chars forces splits mid-batch (and
    # makes every doc longer than the cap its own oversized chunk) —
    # the chunked kernel must produce the identical fp sets
    chunked = {
        (r.id, r.fp)
        for r in D.winnow_fingerprints(
            df, k=k, w=w, _chunk_chars=25
        ).collect()
    }
    assert chunked == want
