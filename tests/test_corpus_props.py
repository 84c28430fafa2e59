"""Property tests for corpus operators — structural invariants that the
oracle-parity gate (which fixes one dataset) can't probe."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from xngin_spark.operators.corpus import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    chunk_documents,
    connected_components,
    token_ngrams,
)

pytestmark = pytest.mark.slow


def test_token_ngram_count_invariant(spark):
    # |ngrams(d, n)| == max(len(d) - n + 1, 0) pre-distinct, and every
    # gram has exactly n tokens — over docs shorter, equal and longer
    # than n, including the empty-ish single-token doc
    docs = ["a", "a b", "a b c", "a b c d e", "x " * 50 + "y"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "id long, text string")
    rows = df.select(
        "id",
        F.size(F.split("text", " ")).alias("n_tok"),
        token_ngrams(F.split("text", " ")).alias("grams"),
    ).collect()
    for r in rows:
        assert len(r.grams) == max(r.n_tok - 2, 0), r
        assert all(len(g.split(" ")) == 3 for g in r.grams), r


def test_chunking_covers_all_tokens(spark):
    # every token position is inside >=1 chunk; consecutive chunks
    # overlap by size-stride; chunk_id 0 starts at token 1
    texts = [" ".join(f"t{i}" for i in range(n)) for n in (1, 5, 32, 33, 100)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = chunk_documents(df).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        n = len(t.split(" "))
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        covered = 0
        for r in chunks:
            start = r.chunk_id * CHUNK_STRIDE
            assert r.n_chunk_tokens == min(CHUNK_SIZE, n - start), (i, r)
            covered = max(covered, start + r.n_chunk_tokens)
        assert covered == n, f"doc {i}: covered {covered} of {n}"


def _union_find_components(edges, nodes):
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label per component
    comp = {}
    for v in nodes:
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


@pytest.mark.parametrize("cap", [0, 1_000_000])  # distributed + driver paths
def test_connected_components_random_graphs(spark, cap):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        nodes = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(20, 70))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        want = _union_find_components(edges, nodes)
        e_df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
        n_df = spark.createDataFrame([(v,) for v in nodes], "id long")
        got = {
            r.id: r.component
            for r in connected_components(
                e_df, n_df, max_iter=20, driver_cap=cap
            ).collect()
        }
        assert got == want, f"trial {trial}"


def test_winnow_guarantee_shared_substring(spark):
    # the winnowing theorem (Schleimer et al. §2): any shared substring
    # of length >= k + w - 1 guarantees at least one shared fingerprint.
    # Plant a common 20-char block (k=12, w=4 → threshold 15) inside
    # otherwise-unrelated documents; every planted pair must share a fp.
    from xngin_spark.operators.dedup import winnow_fingerprints

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    block = "the quick brown fox!"  # 20 chars >= 12 + 4 - 1
    docs = []
    for i in range(6):
        pre = "".join(rng.choice(alpha) for _ in range(rng.randrange(10, 60)))
        post = "".join(rng.choice(alpha) for _ in range(rng.randrange(10, 60)))
        docs.append((i, pre + block + post))
    # two control docs with no planted block
    docs += [(100, "".join(rng.choice(alpha) for _ in range(80))),
             (101, "".join(rng.choice(alpha) for _ in range(80)))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=12, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.id, set()).add(r.fp)
    for a in range(6):
        for b in range(a + 1, 6):
            assert by_doc[a] & by_doc[b], f"planted pair ({a},{b}) shares no fingerprint"


def test_winnow_short_docs_drop_cleanly(spark):
    # below k+w-1 chars there is no full window: no rows, no error
    from xngin_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(0, ""), (1, "tiny"), (2, "x" * 14), (3, "y" * 15)],
        "doc_id long, text string",
    )
    got = {r.id for r in winnow_fingerprints(df, k=12, w=4).collect()}
    assert got == {3}


def test_range_join_equals_theta_join_random(spark):
    # the binned rewrite must equal the naive theta join on random
    # timestamps, including bin-boundary and negative-lower cases
    from xngin_spark.operators.temporal import range_join

    rng = random.Random(11)
    left = [(i, float(rng.randrange(0, 2000)), rng.randrange(3)) for i in range(120)]
    right = [(1000 + i, float(rng.randrange(0, 2000)), rng.randrange(3)) for i in range(120)]
    l = spark.createDataFrame(left, "lid long, ts double, k long")
    r = spark.createDataFrame(right, "rid long, ts double, k long")
    for lo, hi in ((0.0, 300.0), (-150.0, 150.0), (50.0, 60.0)):
        got = {
            (x.lid, x.rid_r)
            for x in range_join(l, r, on="ts", by="k", lower=lo, upper=hi).collect()
        }
        want = {
            (a, c)
            for (a, t1, k1) in left
            for (c, t2, k2) in right
            if k1 == k2 and t1 + lo <= t2 <= t1 + hi
        }
        assert got == want, f"bounds ({lo},{hi}): {len(got)} vs {len(want)}"


def test_asof_join_equals_bruteforce_random(spark):
    # union + window forward-fill must pick exactly the latest right row
    # with ts <= left.ts per key (ties: right value visible at equal ts)
    from xngin_spark.operators.temporal import asof_join

    rng = random.Random(13)
    left = [(i, float(rng.randrange(0, 500)), rng.randrange(4)) for i in range(100)]
    # distinct (k, ts) on the right so "the" latest row is well-defined
    seen = set()
    right = []
    for i in range(100):
        k, t = rng.randrange(4), float(rng.randrange(0, 500))
        if (k, t) not in seen:
            seen.add((k, t))
            right.append((t, k, float(i)))
    l = spark.createDataFrame(left, "lid long, ts double, k long")
    r = spark.createDataFrame(right, "ts double, k long, v double")
    got = {
        (x.lid, x.v_r)
        for x in asof_join(l, r, on="ts", by="k", value_cols=["v"]).collect()
    }
    want = set()
    for lid, lts, lk in left:
        cands = [(t, v) for (t, k, v) in right if k == lk and t <= lts]
        want.add((lid, max(cands)[1] if cands else None))
    assert got == want


def test_passage_dup_stats_equals_bruteforce_random(spark):
    # the join-free window shape must count exactly the sliding w-token
    # windows whose content recurs in ANOTHER doc (within-doc repeats
    # are not duplication)
    from xngin_spark.operators.dedup import passage_dup_stats

    rng = random.Random(29)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 14))))
        for i in range(40)
    ]
    w = 4
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in passage_dup_stats(
            spark.createDataFrame(docs, "doc_id long, text string"), w=w
        ).collect()
    }
    def windows(text):
        toks = text.split(" ")
        n = max(len(toks) - (w - 1), 1)
        return [" ".join(toks[i : i + w]) for i in range(n)]

    owners = {}
    for i, t in docs:
        for win in set(windows(t)):
            owners.setdefault(win, set()).add(i)
    want = {}
    for i, t in docs:
        ws = windows(t)
        want[i] = (len(ws), sum(1 for x in ws if len(owners[x]) >= 2))
    assert got == want
