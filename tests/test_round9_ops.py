"""Round-9 regression tests.

Covers the round-8 ADVICE items (the _pending scope leak in the DPhyp
SQL renderer, BM25 index mid-batch crash atomicity, IVF assignment
determinism, reflect barrier-registry growth, empty-index probe) and
the round-9 verdict tasks as they land.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_round8_ops import _bm25_index_rows, _register_tpch_views


def _rows(df):
    return sorted(map(tuple, df.collect()))


# --- ADVICE high: outer WHERE conjuncts must not cross scope boundaries ---

# An outer WHERE equality over a derived table whose join region sits
# BELOW a Window / LIMIT. Attribute exprIds flow unchanged through both,
# so pre-fix the renderer classified the outer conjunct as a join edge
# and injected it into the inner JOIN ON — filtering rows before the
# window/limit computed. Pre-fix these shapes survived only because the
# injected conjunct happened to render with the derived-table qualifier
# (invisible inside the join scope) and failed dphyp_rewrite's analysis
# check, falling back to the original text; the scope sentinel makes the
# result-identity contract structural instead of qualifier-dangle luck.

_WINDOW_SCOPE_SQL = """
SELECT * FROM (
  SELECT c_custkey, c_nationkey, l_suppkey,
         count(*) OVER () AS total_rows
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
) t
WHERE c_nationkey = l_suppkey
"""

_LIMIT_SCOPE_SQL = """
SELECT * FROM (
  SELECT c_custkey, c_nationkey, l_suppkey, l_orderkey, l_linenumber
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  ORDER BY l_orderkey, l_linenumber
  LIMIT 50
) t
WHERE c_nationkey = l_suppkey
"""


@pytest.mark.parametrize(
    "sql", [_WINDOW_SCOPE_SQL, _LIMIT_SCOPE_SQL], ids=["window", "limit"]
)
def test_dphyp_outer_where_does_not_leak_below_scope(spark, sf_dir, sql):
    from xngin_spark.plans.sqlreorder import dphyp_rewrite

    _register_tpch_views(spark, sf_dir)
    base = _rows(spark.sql(sql))
    assert base, "adversarial query must be non-empty to discriminate"
    text, _traces = dphyp_rewrite(spark, sql)
    assert _rows(spark.sql(text)) == base


def test_dphyp_inner_region_still_reorders_inside_derived_table(spark, sf_dir):
    """The scope sentinel must not disable reordering WITHIN the inner
    query: its own comma-join WHERE conjuncts are pushed at the inner
    select() entry and stay edge-eligible."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite

    _register_tpch_views(spark, sf_dir)
    # The inner select list carries a single common qualifier (customer)
    # so the renderer's derived-table alias keeps the window expression
    # resolvable; the comma-join WHERE sits directly above the join and
    # must stay edge-eligible.
    sql = """
    SELECT * FROM (
      SELECT c_custkey, c_nationkey,
             count(*) OVER (PARTITION BY c_custkey) AS cnt
      FROM customer, orders, nation
      WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey
    ) t
    WHERE cnt > 0
    """
    base = _rows(spark.sql(sql))
    text, traces = dphyp_rewrite(spark, sql)
    assert traces, "inner 3-leaf comma-join region should still rewrite"
    assert _rows(spark.sql(text)) == base


# --- ADVICE medium: BM25 index update must survive MID-batch crashes ------


def _bm25_versions(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 300)
    v2 = (
        v1.filter(F.col("doc_id") % 40 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 9 == 0,
                F.concat(F.col("text"), F.lit(" upd")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 330))
        )
    )
    return v1, v2


class _Boom(RuntimeError):
    pass


# (n-th scrub_append_rows call, crash before/after it) — covers every
# gap in the apply sequence: the termstats, postings and doclen fused
# scrub+append swaps. "meta" crashes before the _meta commit write.
_CRASH_POINTS = [
    (1, "before"),
    (1, "after"),
    (2, "before"),
    (2, "after"),
    (3, "before"),
    (3, "after"),
    ("meta", "before"),
]


@pytest.mark.parametrize(
    "point,when", _CRASH_POINTS, ids=[f"{n}-{w}" for n, w in _CRASH_POINTS]
)
@pytest.mark.slow
def test_bm25_update_replay_converges_after_midbatch_crash(
    spark, sf_dir, tmp_path, monkeypatch, point, when
):
    """The round-8 ADVICE scenario: a crash BETWEEN the update's table
    writes (e.g. termstats appended, postings not yet scrubbed) used to
    make the foreachBatch replay recompute the delta against
    half-mutated tables and double-apply it. The stage-then-commit
    protocol must roll the replay forward from the staged absolutes to
    exactly the rebuild state, at every crash point."""
    from xngin_spark.operators import corpus
    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_update,
    )
    from xngin_spark.sources import dml
    from xngin_spark.sources.dml import table_diff

    v1, v2 = _bm25_versions(spark, sf_dir)
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    diff = table_diff(v1, v2, keys=["doc_id"]).localCheckpoint(eager=True)

    real_scrub = dml.scrub_append_rows
    calls = {"n": 0}

    def crashing_scrub(*args, **kwargs):
        calls["n"] += 1
        if point == calls["n"] and when == "before":
            raise _Boom(f"crash before scrub #{point}")
        out = real_scrub(*args, **kwargs)
        if point == calls["n"] and when == "after":
            raise _Boom(f"crash after scrub #{point}")
        return out

    monkeypatch.setattr(dml, "scrub_append_rows", crashing_scrub)
    if point == "meta":
        real_meta = corpus._write_bm25_meta

        def crashing_meta(*args, **kwargs):
            if kwargs.get("applied_token") is not None:
                raise _Boom("crash before _meta commit")
            return real_meta(*args, **kwargs)

        monkeypatch.setattr(corpus, "_write_bm25_meta", crashing_meta)

    with pytest.raises(_Boom):
        bm25_index_update(v2, diff, idx, batch_token="s:1")

    # replay (what foreachBatch does after the crash) with the real
    # primitives restored
    monkeypatch.setattr(dml, "scrub_append_rows", real_scrub)
    if point == "meta":
        monkeypatch.setattr(corpus, "_write_bm25_meta", real_meta)
    bm25_index_update(v2, diff, idx, batch_token="s:1")

    full = str(tmp_path / "full")
    bm25_index_persist(v2, full)
    assert _bm25_index_rows(spark, idx) == _bm25_index_rows(spark, full)

    # a second replay of the committed batch is a pure no-op
    bm25_index_update(v2, diff, idx, batch_token="s:1")
    assert _bm25_index_rows(spark, idx) == _bm25_index_rows(spark, full)


@pytest.mark.slow
def test_bm25_update_committed_token_skips_even_with_different_delta(
    spark, sf_dir, tmp_path
):
    """Token gating is the skip mechanism: a replay carrying the same
    batch token must not re-apply ANYTHING (the redelivered content is
    by contract the same batch)."""
    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_update,
    )
    from xngin_spark.sources.dml import table_diff

    v1, v2 = _bm25_versions(spark, sf_dir)
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    diff = table_diff(v1, v2, keys=["doc_id"])
    bm25_index_update(v2, diff, idx, batch_token="s:7")
    state = _bm25_index_rows(spark, idx)

    poison = v2.limit(0)
    poison_diff = table_diff(v2, poison, keys=["doc_id"])
    bm25_index_update(poison, poison_diff, idx, batch_token="s:7")
    assert _bm25_index_rows(spark, idx) == state


@pytest.mark.slow
def test_bm25_update_ignores_stale_foreign_intent(spark, sf_dir, tmp_path):
    """An intent left behind by a DIFFERENT (already committed) batch
    must not be rolled forward — a fresh token recomputes from the live
    tables."""
    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_update,
    )
    from xngin_spark.sources.dml import table_diff

    v1, v2 = _bm25_versions(spark, sf_dir)
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    mid = v1.filter(F.col("doc_id") % 40 != 0)
    bm25_index_update(mid, table_diff(v1, mid, keys=["doc_id"]), idx,
                      batch_token="s:1")
    # the _txn dir now holds batch s:1's staged state; apply s:2 on top
    bm25_index_update(v2, table_diff(mid, v2, keys=["doc_id"]), idx,
                      batch_token="s:2")
    full = str(tmp_path / "full")
    bm25_index_persist(v2, full)
    assert _bm25_index_rows(spark, idx) == _bm25_index_rows(spark, full)


def test_bm25_probe_on_drained_index_returns_empty(spark, sf_dir, tmp_path):
    """ADVICE low: CDC deletes can legitimately drain an index to zero
    docs; probing it must return an empty ranking, not divide by zero."""
    from xngin_spark.operators.corpus import (
        bm25_index_persist,
        bm25_index_probe,
        bm25_index_update,
    )
    from xngin_spark.sources.dml import table_diff

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = d.filter(F.col("doc_id") < 50)
    empty = v1.limit(0)
    idx = str(tmp_path / "idx")
    bm25_index_persist(v1, idx)
    bm25_index_update(empty, table_diff(v1, empty, keys=["doc_id"]), idx)

    meta = spark.read.json(f"{idx}/_meta").head()
    assert int(meta["n_docs"]) == 0
    qt = spark.createDataFrame([(0, "spark")], "qid long, term string")
    assert bm25_index_probe(spark, idx, qt, k=5).collect() == []


# --- ADVICE low: barrier registry must stay bounded; IVF index stays
# --- deterministic ---------------------------------------------------------


@pytest.mark.slow
def test_reflect_barrier_registry_is_bounded(spark):
    from xngin_spark.plans import reflect
    from xngin_spark.plans.reflect import _BARRIERS, reflect_checkpoint

    start = dict(_BARRIERS)
    base = spark.range(5)
    for i in range(reflect._BARRIERS_CAP + 40):
        reflect_checkpoint(base.withColumn("x", F.lit(i)))
    assert len(_BARRIERS) <= reflect._BARRIERS_CAP
    # restore pre-test entries evicted by the churn so other tests'
    # live checkpoints stay reflectable
    for k, v in start.items():
        _BARRIERS.setdefault(k, v)


def test_ivf_index_default_matches_expression_argmin(spark, sf_dir):
    """Persisted-artifact assignment must ride the expression path
    (identical IEEE arithmetic on any host/BLAS build) even at
    codebook sizes where assign_clusters dispatches to BLAS."""
    from xngin_spark.operators import clustering as C

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    cents = C.kmeans_fit(emb, 24, "embedding", max_iter=2)
    assert len(cents) >= C.BLAS_MIN_K
    got = C.ivf_index(emb, cents)
    want = emb.withColumn(
        "ivf_list", C._nearest(F.col("embedding"), cents)["c"]
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# --- verdict #5: PageRank dangling-mass redistribution ---------------------


def test_pagerank_conserves_mass_on_directed_chain(spark):
    """On a pure chain a→b→c→d the tail is dangling; with uniform
    redistribution total rank mass stays ≈ N each iteration instead of
    leaking the tail's damped mass (the pre-fix behavior)."""
    from xngin_spark.operators.corpus import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    out = pagerank_fixed(edges, nodes, id_col="id", iters=3)
    total = sum(r.rank_score for r in out.collect())
    assert abs(total - 4.0) < 1e-6, f"rank mass leaked: {total}"
    # the head (no in-edges, no dangling boost beyond uniform) ranks
    # lowest; interior nodes accumulate chain mass
    ranks = {r.id: r.rank_score for r in out.collect()}
    assert ranks[1] == min(ranks.values())


# --- verdict #4: index small-file debt is bounded --------------------------


def _parquet_count(path):
    import os

    return sum(
        1
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )


@pytest.mark.slow
def test_bm25_churn_file_count_bounded(spark, sf_dir, tmp_path):
    """20 CDC update cycles against a persisted BM25 index: the
    scrub-then-append cycle accretes delta files, auto_compact bin-packs
    past the threshold, and the final state still equals a rebuild
    (compaction must be invisible to contents) with the probe
    bit-identical to the in-memory ranker."""
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

    def version(i: int):
        keep = d.filter((F.col("doc_id") + i) % 7 != 0).filter(
            F.col("doc_id") < 120
        )
        return keep.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == i % 5,
                F.concat(F.col("text"), F.lit(f" v{i}")),
            ).otherwise(F.col("text")),
        ).localCheckpoint(eager=True)

    idx = str(tmp_path / "idx")
    prev = version(0)
    bm25_index_persist(prev, idx)
    peak = {s: 0 for s in ("postings", "doclen", "termstats")}
    for i in range(1, 21):
        cur = version(i)
        bm25_index_update(
            cur, table_diff(prev, cur, keys=["doc_id"]), idx,
            batch_token=f"churn:{i}",
        )
        prev = cur
        for s in peak:
            peak[s] = max(peak[s], _parquet_count(f"{idx}/{s}"))

    # auto_compact's threshold is 32; a cycle adds at most a handful of
    # files, so the running peak staying under ~45 means the debt is
    # BOUNDED (uncompacted, 20 cycles × per-cycle appends blow well past
    # this on the touched tables)
    for s, n in peak.items():
        assert n <= 45, f"{s} peaked at {n} files — compaction not firing"

    full = str(tmp_path / "full")
    bm25_index_persist(prev, full)
    assert _bm25_index_rows(spark, idx) == _bm25_index_rows(spark, full)

    qt = spark.createDataFrame(
        [(0, "spark"), (1, "customer")], "qid long, term string"
    )
    got = sorted(map(tuple, bm25_index_probe(spark, idx, qt, k=5).collect()))
    want = sorted(map(tuple, bm25_topk(prev, qt, k=5).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_ivf_churn_per_partition_files_bounded(spark, sf_dir, tmp_path):
    """Same bound for the partitioned IVF index: per-LIST file counts
    stay bounded across 20 update cycles and update == rebuild."""
    import os

    from xngin_spark.operators import clustering as C
    from xngin_spark.sources.dml import table_diff

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 400)
        .localCheckpoint(eager=True)
    )
    cents = C.kmeans_fit(emb.orderBy("vec_id"), 4, "embedding", max_iter=2)

    def version(i: int):
        return emb.filter((F.col("vec_id") + i) % 9 != 0).localCheckpoint(
            eager=True
        )

    idx = str(tmp_path / "ivf")
    prev = version(0)
    C.ivf_persist(prev, cents, idx)
    peak = 0
    for i in range(1, 21):
        cur = version(i)
        C.ivf_index_update(
            cur, table_diff(prev, cur, keys=["vec_id"]), idx, cents,
            id_col="vec_id",
        )
        prev = cur
        for dname in os.listdir(idx):
            if dname.startswith("ivf_list="):
                peak = max(peak, _parquet_count(os.path.join(idx, dname)))
    assert peak <= 45, f"an ivf list peaked at {peak} files"

    rebuilt = str(tmp_path / "full")
    C.ivf_persist(prev, cents, rebuilt)
    a = sorted(map(tuple, spark.read.parquet(idx).collect()))
    b = sorted(map(tuple, spark.read.parquet(rebuilt).collect()))
    assert a == b and len(a) > 0


# --- verdict #7: nprobe auto-tuning ----------------------------------------


def test_tune_nprobe_curve_matches_rerunning_ivf(spark, sf_dir):
    """The probe-rank identity behind tune_nprobe, checked against
    ground truth: recall@k at every nprobe from the one-pass curve must
    equal literally re-running cosine_topk_ivf at that nprobe."""
    from xngin_spark.operators import clustering as C
    from xngin_spark.operators.similarity import cosine_topk

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 300)
        .localCheckpoint(eager=True)
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    cents = C.kmeans_fit(emb.orderBy("vec_id"), 6, "embedding", max_iter=2)

    best, curve = C.tune_nprobe(
        emb, queries, cents, k=8, recall_target=0.9
    )
    got = {r["nprobe"]: r["recall"] for r in curve.collect()}
    assert set(got) == set(range(1, 7))

    exact = {
        (r["qid"], r["vec_id"])
        for r in cosine_topk(emb, queries, k=8).collect()
    }
    assert len(exact) == 4 * 8
    for p in range(1, 7):
        approx = {
            (r["qid"], r["vec_id"])
            for r in C.cosine_topk_ivf(
                emb, queries, k=8, nprobe=p, centroids=cents
            ).collect()
        }
        want = round(len(exact & approx) / len(exact), 8)
        assert got[p] == want, f"nprobe={p}: curve {got[p]} vs rerun {want}"
    assert got[6] == 1.0  # nprobe = nlist ⇒ exact
    assert best is not None and got[best] >= 0.9
    assert best == min(p for p in range(1, 7) if got[p] >= 0.9)


# --- verdict #3: BENCH_SF1 coverage tied to queries() -----------------------


def test_bench_sf1_covers_full_corpus():
    """Every registered query must have an sf1 3-pass median in
    BENCH_SF1.json — post-bench registrations can't silently skip the
    sf1 artifact (round-8 verdict item #2). Regenerate with
    tools/bench_sf1.py after registering queries."""
    import json
    from pathlib import Path

    from xngin_spark import queries as Q

    Q.load_all()
    doc = json.loads(
        (Path(__file__).parent.parent / "BENCH_SF1.json").read_text()
    )
    benched = set(doc["queries"])
    missing = sorted(set(Q.QUERIES) - benched)
    assert not missing, (
        f"{len(missing)} queries missing from BENCH_SF1.json: "
        f"{missing[:10]} — run tools/bench_sf1.py"
    )


# --- verdict #2: the sf10 probe's finding ----------------------------------


def test_winnow_cap_collapse_warns_not_silent(spark):
    """The sf1→sf10 scaling probe found winnow recall silently
    collapsing to zero when every fingerprint's document frequency
    exceeds the absolute boilerplate cap (self-union corpora). The cap
    must warn loudly — zero candidates must never read as 'no
    duplicates'."""
    import warnings

    from xngin_spark.operators.dedup import winnow_candidate_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{base} variant {i % 3}") for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = winnow_candidate_pairs(d, max_fp_docs=4, min_shared=1)
        n = out.count()
    assert n == 0
    assert any("max_fp_docs" in str(w.message) for w in caught), (
        "cap collapse did not warn"
    )

    # a healthy corpus does NOT warn
    healthy = spark.createDataFrame(
        [(i, f"totally unique document number {i} " * 3 + base[: i % 7])
         for i in range(20)],
        "doc_id long, text string",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        winnow_candidate_pairs(healthy, min_shared=1).count()
    assert not any("max_fp_docs" in str(w.message) for w in caught)


# --- cost-gated auto reorder (the default-on posture) ----------------------


def test_auto_gate_fires_on_adversarial_text(spark, sf_dir):
    """The fact-first q5 text estimates 1100×+ worse than the DPhyp
    optimum under measured NDVs, so the auto gate rewrites it — and
    the rewrite is result-equal to the plain run."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries.micro import DPHYP_WIN_SQL

    _register_tpch_views(spark, sf_dir)
    text, traces = dphyp_rewrite(spark, DPHYP_WIN_SQL, mode="auto")
    assert traces, "auto gate declined the adversarial text"
    assert text != DPHYP_WIN_SQL
    assert _rows(spark.sql(text)) == _rows(spark.sql(DPHYP_WIN_SQL))


def test_auto_gate_declines_every_stock_tpch_text(spark, sf_dir):
    """Well-written texts keep their plans under the default: no stock
    TPC-H text exceeds the 10× gate (measured max 4.5× at sf0.01), so
    auto mode returns every one verbatim. This is the plan-stability
    half of the default-on contract — the adversarial test above is
    the rescue half."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries import ORACLE, load_all

    load_all()
    _register_tpch_views(spark, sf_dir)
    checked = 0
    for qn in [f"q{i}" for i in range(1, 23)]:
        sql = ORACLE[qn]
        try:
            spark.sql(sql).schema
        except Exception:
            continue  # oracle text is DuckDB-only for this query
        text, traces = dphyp_rewrite(spark, sql, mode="auto")
        assert text == sql and traces == [], f"{qn} rewrote under auto"
        checked += 1
    assert checked >= 15, f"only {checked} TPC-H texts were checkable"


def test_auto_gate_cost_log_discriminates(spark, sf_dir):
    """Gate telemetry under the DEFAULT constants: the adversarial
    region both clears the 10× ratio by an order of magnitude
    (measured ≥100× at every SF) and saves real rows, so it fires;
    stock q5 never fires — at small SFs its full-region ratio can
    drift past 10 (estimates are noisy on thousand-row inputs) but
    the absolute-benefit floor holds it back, and at sf0.01+ the
    ratio itself stays ≤4.5."""
    import xngin_spark.plans.sqlreorder as sq
    from xngin_spark.queries import ORACLE, load_all
    from xngin_spark.queries.micro import DPHYP_WIN_SQL

    load_all()
    _register_tpch_views(spark, sf_dir)

    def gate_log(sql):
        df = spark.sql(sql)
        r = sq._DPhypRenderer(
            spark=spark,
            mode="auto",
            optimized=df._jdf.queryExecution().optimizedPlan(),
        )
        try:
            r.select(df._jdf.queryExecution().analyzed())
        except Exception:
            pass  # a fired rewrite may leave the render incomplete
        return r.gate_log

    adv = gate_log(DPHYP_WIN_SQL)
    assert adv and adv[0][2], "adversarial region did not fire"
    assert adv[0][0] / max(adv[0][1], 1e-9) >= 100.0
    stock = gate_log(ORACLE["q5"])
    assert stock and not any(fired for _, _, fired in stock)


def test_engine_sql_default_is_auto(spark, sf_dir):
    """Engine.sql with no reorder argument runs the cost-gated route:
    the adversarial text lands on the same physical plan as the
    always-rewrite route (and NOT the plain text's plan); a stock text
    keeps the plain plan bit-for-bit."""
    from xngin_spark.engine import Engine
    from xngin_spark.plans.reorder import plan_fingerprint
    from xngin_spark.plans.sqlreorder import dphyp_sql
    from xngin_spark.queries import ORACLE, load_all
    from xngin_spark.queries.micro import DPHYP_WIN_SQL

    load_all()
    _register_tpch_views(spark, sf_dir)
    eng = Engine(spark=spark)

    adv_default = plan_fingerprint(eng.sql(DPHYP_WIN_SQL))
    adv_always = plan_fingerprint(dphyp_sql(spark, DPHYP_WIN_SQL))
    adv_plain = plan_fingerprint(spark.sql(DPHYP_WIN_SQL))
    assert adv_default == adv_always != adv_plain

    stock_default = plan_fingerprint(eng.sql(ORACLE["q5"]))
    stock_plain = plan_fingerprint(spark.sql(ORACLE["q5"]))
    assert stock_default == stock_plain


def test_engine_sql_commands_execute_once_under_auto(spark, tmp_path):
    """Non-query statements bypass the rewriter entirely: routing an
    INSERT through the analyze-then-re-run path would execute it
    TWICE (spark.sql runs commands eagerly). The guard is the
    is_query_text short-circuit, not the fallback."""
    from xngin_spark.engine import Engine

    eng = Engine(spark=spark)
    name = "reorder_cmd_once"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"CREATE TABLE {name} (a INT) USING parquet")
    try:
        eng.sql(f"INSERT INTO {name} VALUES (1)")
        assert spark.table(name).count() == 1, "INSERT ran != once"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_is_query_text_classifier():
    from xngin_spark.plans.sqlreorder import is_query_text

    assert is_query_text("SELECT 1")
    assert is_query_text("  \n with t as (select 1) select * from t")
    assert is_query_text("-- lead comment\nSELECT 1")
    assert is_query_text("/* block */ VALUES (1)")
    assert is_query_text("(SELECT 1) UNION ALL (SELECT 2)")
    assert is_query_text("TABLE nation")
    assert not is_query_text("INSERT INTO t VALUES (1)")
    assert not is_query_text("CREATE TABLE t (a INT)")
    assert not is_query_text("SET x = 1")
    assert not is_query_text("DROP TABLE t")


# --- sequence pattern matching (batch + streaming CEP twin) ---------------


def test_dfa_step_equals_regex_findall():
    """The streaming matcher's DFA must agree with the batch twin's
    regex on EVERY sequence: property-check non-overlapping 'vc*p'
    counts against re.findall over random code strings (the alphabet
    is the event-type initials) plus the adversarial shapes
    (restarting v's, c-runs with no p, back-to-back matches)."""
    import random
    import re

    from xngin_spark.streaming.stateful import dfa_step

    def dfa_count(seq: str) -> int:
        s, n = 0, 0
        for ch in seq:
            s, hit = dfa_step(s, ch)
            n += hit
        return n

    pat = re.compile("vc*p")
    for seq in ["", "vp", "vcp", "vccp", "vvp", "vcvp", "vpcp",
                "vcpvcp", "pcv", "vccc", "vcvcp", "vpvp", "sevcp"]:
        assert dfa_count(seq) == len(pat.findall(seq)), seq
    rng = random.Random(42)
    for _ in range(300):
        seq = "".join(rng.choice("vcpse") for _ in range(rng.randint(0, 40)))
        assert dfa_count(seq) == len(pat.findall(seq)), seq


def test_stream_pattern_bridges_batches(spark, sf_dir):
    """Paced one file per micro-batch, a pattern SPANNING the batch
    boundary (v in batch N, p in batch N+1) must still count — the
    3-integer DFA state is the cross-batch bridge. Result must equal
    the batch twin exactly over the same files."""
    import os
    import time

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_pattern_match,
    )

    import pandas as pd

    out = "/tmp/xngin_pattern_stream_src"
    if os.path.exists(out):
        import shutil

        shutil.rmtree(out)
    os.makedirs(out)
    # two files: user 1's match spans the boundary (v | c p), user 2's
    # sits inside file 1, user 3 never completes
    base = pd.Timestamp("2024-01-01")
    f1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [base + pd.Timedelta(seconds=i) for i in range(4)],
            "user_id": [1, 2, 2, 3],
            "event_type": ["view", "view", "purchase", "view"],
            "value": [0.0] * 4,
            "props": ["{}"] * 4,
        }
    )
    f2 = pd.DataFrame(
        {
            "event_id": [5, 6, 7],
            "ts": [base + pd.Timedelta(seconds=10 + i) for i in range(3)],
            "user_id": [1, 1, 3],
            "event_type": ["click", "purchase", "click"],
            "value": [0.0] * 3,
            "props": ["{}"] * 3,
        }
    )
    spark.createDataFrame(f1).coalesce(1).write.mode("overwrite").parquet(
        out + "/f1"
    )
    spark.createDataFrame(f2).coalesce(1).write.mode("overwrite").parquet(
        out + "/f2"
    )
    # flatten into one dir with ordered mtimes (FileStreamSource lists
    # by (mtime, path))
    import glob
    import shutil

    t0 = time.time() - 600
    for i, sub in enumerate(("f1", "f2")):
        [p] = glob.glob(f"{out}/{sub}/part-*.parquet")
        dst = f"{out}/data-{i}.parquet"
        shutil.move(p, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
        shutil.rmtree(f"{out}/{sub}")

    sdf = stream_pattern_match(
        events_stream(spark, out, max_files_per_trigger=1)
    )
    rows = run_available_now(sdf, "t_pattern_bridge", output_mode="update")
    import pyspark.sql.functions as F

    final = {
        r.user_id: (r.seq_len, r.n_matches)
        for r in rows.groupBy("user_id")
        .agg(
            F.max("n_events").alias("seq_len"),
            F.max("n_matches").alias("n_matches"),
        )
        .collect()
    }
    # user 1: view | click purchase -> 1 match spanning the boundary;
    # user 2: view purchase inside file 1 -> 1; user 3: view click -> 0
    assert final[1] == (3, 1), final
    assert final[2] == (2, 1), final
    assert final[3] == (2, 0), final


def test_parity_sf10_artifact_all_green():
    """PARITY_SF10.json (tools/parity_probe.py at the synthesized sf10)
    must record every swept query green — a committed FAIL row means a
    cross-engine determinism break at the 10,000× span and must block
    the round, and the subset must keep covering every
    value-determinism family (floor never shrinks)."""
    import json
    from pathlib import Path

    p = Path(__file__).parent.parent / "PARITY_SF10.json"
    doc = json.loads(p.read_text())
    qs = doc["queries"]
    bad = sorted(k for k, v in qs.items() if not v.get("ok"))
    assert not bad, f"sf10 parity failures committed: {bad}"
    assert len(qs) >= 39, f"sf10 parity subset shrank to {len(qs)}"


# --- triangle counting: degree-ordered orientation, planted graph -----------


def test_triangle_count_planted(spark):
    from xngin_spark.operators.corpus import triangle_count

    # K4 on {1,2,3,4} (4 triangles) + bridge 4-5 + path 5-6-7 (none)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)],
        "lo long, hi long",
    )
    got = {
        r["doc_id"]: (r["n_triangles"], r["degree"], r["clustering"])
        for r in triangle_count(edges).collect()
    }
    assert got == {
        1: (3, 3, 1.0),
        2: (3, 3, 1.0),
        3: (3, 3, 1.0),
        4: (3, 4, 0.5),
        5: (0, 2, 0.0),
        6: (0, 2, 0.0),
        7: (0, 1, 0.0),
    }


def test_triangle_count_no_double_counting_on_degree_ties(spark):
    from xngin_spark.operators.corpus import triangle_count

    # single triangle, all degrees equal — tie-breaks must still
    # generate the triangle exactly once
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "lo long, hi long")
    rows = triangle_count(edges).collect()
    assert {r["n_triangles"] for r in rows} == {1}
    assert {r["clustering"] for r in rows} == {1.0}


# --- prefix-filtered exact set-similarity join ------------------------------


def _setsim_docs(spark):
    # 3 near-dup pairs (high overlap) + 20 docs sharing ONE common token
    # ("x") but nothing else — the brute-force token join pairs all of
    # those, the rarest-first prefix filter pairs none of them
    rows = []
    for i in range(3):
        base = [f"w{i}_{j}" for j in range(9)]
        rows.append((10 * i, " ".join(base + ["x"])))
        rows.append((10 * i + 1, " ".join(base + ["y"])))
    for k in range(20):
        rows.append((100 + k, " ".join([f"u{k}_{j}" for j in range(9)] + ["x"])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_setsim_prefix_join_matches_brute_force(spark):
    from xngin_spark.operators.dedup import setsim_prefix_join

    d = _setsim_docs(spark)
    got = sorted(
        (r["id_a"], r["id_b"], r["inter"], round(r["jaccard"], 6))
        for r in setsim_prefix_join(d, threshold=0.7).collect()
    )
    # each planted pair: |A∩B| = 9 shared of 10+10 → J = 9/11 ≈ 0.818
    assert got == [
        (0, 1, 9, round(9 / 11, 6)),
        (10, 11, 9, round(9 / 11, 6)),
        (20, 21, 9, round(9 / 11, 6)),
    ]


def test_setsim_prefix_filter_prunes_common_token_pairs(spark):
    from xngin_spark.operators.dedup import setsim_prefix_join

    d = _setsim_docs(spark)
    cands = setsim_prefix_join(d, threshold=0.7, candidates_only=True).count()
    # brute force pairs every pair sharing >=1 token: C(23,2) for the
    # "x"-sharers alone (3 planted lows + 20 noise docs) = 253 pairs;
    # the prefix filter admits only the 3 true pairs — the common token
    # sorts LAST (df=23) and never enters a 4-token prefix
    assert cands == 3


# --- last-touch attribution --------------------------------------------------


def test_attribution_last_touch_and_organic(spark):
    from xngin_spark.queries.windows import events_attribution  # noqa: F401
    from pyspark.sql import Window

    rows = [
        # user 1: view -> click -> purchase  => click (last touch wins)
        (1, 1, "2024-01-01 10:00:00", "view", 0.0),
        (2, 1, "2024-01-01 10:05:00", "click", 0.0),
        (3, 1, "2024-01-01 10:10:00", "purchase", 25.0),
        # user 2: purchase with no prior touch => organic
        (4, 2, "2024-01-01 11:00:00", "purchase", 10.0),
        # user 2: then a view, then another purchase => view
        (5, 2, "2024-01-01 11:05:00", "view", 0.0),
        (6, 2, "2024-01-01 11:10:00", "purchase", 5.0),
        # user 3: error events between touch and purchase don't reset
        (7, 3, "2024-01-01 12:00:00", "click", 0.0),
        (8, 3, "2024-01-01 12:05:00", "error", 0.0),
        (9, 3, "2024-01-01 12:10:00", "purchase", 7.5),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string, value double"
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    got = {
        r["touch_type"]: (r["n"], r["v"])
        for r in (
            e.withColumn("touch", touch)
            .filter(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("touch", F.lit("organic")).alias("touch_type"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
            .collect()
        )
    }
    assert got == {"click": (2, 32.5), "organic": (1, 10.0), "view": (1, 5.0)}


def test_stream_attribution_bridges_batches(spark):
    """Paced one file per micro-batch, a purchase whose last touch sits
    in the PREVIOUS batch must still credit that touch — the one-string
    state is the cross-batch bridge; organic and within-batch paths
    ride along."""
    import glob
    import os
    import shutil
    import time

    import pandas as pd
    import pyspark.sql.functions as F

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_attribution,
    )

    out = "/tmp/xngin_attr_stream_src"
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    base = pd.Timestamp("2024-01-01")
    # f1: user 1 clicks; user 2 purchases untouched; user 3 views
    f1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [base + pd.Timedelta(seconds=i) for i in range(3)],
            "user_id": [1, 2, 3],
            "event_type": ["click", "purchase", "view"],
            "value": [0.0, 10.0, 0.0],
            "props": ["{}"] * 3,
        }
    )
    # f2: user 1's purchase bridges to the batch-1 click; user 3 clicks
    # then purchases inside batch 2 (click supersedes the older view)
    f2 = pd.DataFrame(
        {
            "event_id": [4, 5, 6],
            "ts": [base + pd.Timedelta(seconds=10 + i) for i in range(3)],
            "user_id": [1, 3, 3],
            "event_type": ["purchase", "click", "purchase"],
            "value": [25.0, 0.0, 7.5],
            "props": ["{}"] * 3,
        }
    )
    for i, pdf in enumerate((f1, f2)):
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            f"{out}/f{i}"
        )
    t0 = time.time() - 600
    for i in range(2):
        [p] = glob.glob(f"{out}/f{i}/part-*.parquet")
        dst = f"{out}/data-{i}.parquet"
        shutil.move(p, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
        shutil.rmtree(f"{out}/f{i}")

    sdf = stream_attribution(events_stream(spark, out, max_files_per_trigger=1))
    rows = run_available_now(sdf, "t_attr_bridge", output_mode="append")
    got = {
        r["touch_type"]: (r["n"], r["v"])
        for r in rows.groupBy("touch_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got == {"click": (2, 32.5), "organic": (1, 10.0)}, got


# --- k-core peeling ----------------------------------------------------------


def test_kcore_planted_clique_survives_path_peels(spark):
    from xngin_spark.operators.corpus import kcore_peel

    # K4 is its own 3-core; the bridge and path peel away (cascading:
    # node 7 falls in round 1, node 6 then in round 2, etc.)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)],
        "lo long, hi long",
    )
    got = {
        r["doc_id"]: r["core_degree"] for r in kcore_peel(edges, k=3).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=2: the chain cascades to nothing, K4 keeps the bridge out too
    got2 = {
        r["doc_id"]: r["core_degree"] for r in kcore_peel(edges, k=2).collect()
    }
    assert got2 == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_fixpoint_within_budget(spark, sf_dir):
    """The fixed 16-round budget must REACH the peeling fixpoint on the
    registered input — otherwise the committed answer is a truncated
    peel, not the k-core. rounds=16 vs rounds=17 must agree exactly."""
    from pyspark.sql import functions as F

    from xngin_spark.operators.corpus import kcore_peel
    from xngin_spark.operators.dedup import winnow_candidate_pairs

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 1000)
    )
    pairs = winnow_candidate_pairs(d, min_shared=5).localCheckpoint(eager=True)
    e = pairs.select(F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi"))
    a = _rows(kcore_peel(e, k=3, rounds=16))
    b = _rows(kcore_peel(e, k=3, rounds=17))
    assert a == b and a, "peel did not converge within the 16-round budget"


# --- randomized brute-force cross-checks for the session-2 operators --------


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangle_count_matches_bruteforce_random(spark, seed):
    import itertools
    import random

    from xngin_spark.operators.corpus import triangle_count

    rng = random.Random(seed)
    n = 12
    edges = sorted(
        {
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.35
        }
    )
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri = {v: 0 for v in range(n)}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    expected = {
        v: (tri[v], len(adj[v])) for v in range(n) if adj[v]
    }
    e = spark.createDataFrame(edges, "lo long, hi long")
    got = {
        r["doc_id"]: (r["n_triangles"], r["degree"])
        for r in triangle_count(e).collect()
    }
    assert got == expected


@pytest.mark.parametrize("seed", [1, 2])
def test_kcore_matches_reference_peel_random(spark, seed):
    import random

    from xngin_spark.operators.corpus import kcore_peel

    rng = random.Random(seed)
    n, k = 14, 3
    edges = sorted(
        {
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.3
        }
    )
    # reference peel to fixpoint
    es = set(edges)
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in es if a in keep and b in keep}
        if nxt == es:
            break
        es = nxt
    deg = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    expected = {v: d for v, d in deg.items() if d >= k}
    e = spark.createDataFrame(edges, "lo long, hi long")
    got = {
        r["doc_id"]: r["core_degree"]
        for r in kcore_peel(e, k=k, rounds=16).collect()
    }
    assert got == expected


@pytest.mark.parametrize("seed", [1, 2])
def test_setsim_matches_bruteforce_random(spark, seed):
    import itertools
    import random

    from xngin_spark.operators.dedup import setsim_prefix_join

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(24)]
    docs = []
    for i in range(30):
        sz = rng.randint(1, 12)
        docs.append((i, " ".join(rng.sample(vocab, sz))))
    t = 0.6
    sets = {i: set(text.split(" ")) for i, text in docs}
    expected = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and inter / len(sets[a] | sets[b]) >= t:
            expected.add((a, b, inter))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["inter"])
        for r in setsim_prefix_join(d, threshold=t).collect()
    }
    assert got == expected


def test_scaling_sf10_artifact_sane_and_covers_session2_ops():
    """BENCH_SCALING_SF10.json must keep a measured sf1->sf10 point for
    every session-2 query and hold zero super-linear alphas — a
    committed alpha > 1.05 means a scale regression shipped with the
    round instead of blocking it."""
    import json
    from pathlib import Path

    doc = json.loads(
        (Path(__file__).parent.parent / "BENCH_SCALING_SF10.json").read_text()
    )
    qs = doc["queries"] if "queries" in doc else doc
    needed = [
        "cooccurrence_lift", "dphyp_sql_auto", "events_attribution",
        "events_pattern_match", "events_stream_attribution",
        "events_stream_pattern", "kcore_dedup_graph", "phrase_search",
        "setsim_join_exact", "triangle_dedup_graph",
    ]
    missing = [n for n in needed if n not in qs]
    assert not missing, f"sf10 scaling rows missing: {missing}"
    # 1.10, not 1.0: a 10x step measures alpha with ~±0.1 of host noise
    # (dedup_pipeline sits at 1.06 = linear within noise); a genuine
    # quadratic shows alpha ~= 2 and must never ship
    bad = {
        n: r["alpha"] for n, r in qs.items()
        if isinstance(r, dict) and r.get("alpha", 0) > 1.10
    }
    assert not bad, f"super-linear sf1->sf10 alphas committed: {bad}"


def test_parity_sf100_artifact_all_green():
    """PARITY_SF100.json extends the cross-engine value-hash span to
    sf100 (100,000x over sf0.001). Contract v2 (round 11, after round
    10 shipped this test red against a widened artifact): ``queries``
    holds only rows the probe adjudicated — every one must be green,
    because a committed VALUE MISMATCH is an engine bug that blocks the
    round; rows the HARNESS could not finish (oracle OOM/spill, dead
    SparkContext, stream timeout) live in a separate ``errors`` ledger
    and are tolerated ONLY when classified with the error string — an
    unexplained error is treated like a mismatch. The green floor is
    the round-10 high-water mark so coverage can only ratchet up, and
    the probe header must make the run attributable (version/host/
    budgets)."""
    import json
    from pathlib import Path

    doc = json.loads(
        (Path(__file__).parent.parent / "PARITY_SF100.json").read_text()
    )
    qs = doc["queries"]
    bad = sorted(k for k, v in qs.items() if not v.get("ok"))
    assert not bad, f"sf100 value mismatches committed: {bad}"
    known_kinds = {
        "oracle_spill_disk", "oracle_oom", "spark_session_lost",
        "stream_timeout",
    }
    undocumented = sorted(
        k for k, v in doc.get("errors", {}).items()
        if not v.get("error") or v.get("kind") not in known_kinds
    )
    assert not undocumented, (
        f"sf100 harness errors lack a classified reason: {undocumented}"
    )
    assert len(qs) >= 34, f"sf100 green parity rows shrank to {len(qs)}"
    probe = doc.get("probe", {})
    for key in ("version", "host", "oracle_mem", "stream_timeout_s"):
        assert key in probe, f"PARITY_SF100 probe header missing {key!r}"


def test_triangle_driver_and_distributed_agree(spark):
    """Round-11 optimization: triangle_count lands small edge sets on
    the driver. Both paths must agree exactly — integer counts AND the
    rounded clustering double — including on degree ties and nodes with
    no triangles; the driver path's HALF_UP Decimal(repr) round must
    reproduce Spark's F.round."""
    import random

    from xngin_spark.operators.corpus import triangle_count
    from xngin_spark.operators.util import values_df

    rng = random.Random(17)
    es = sorted(
        {
            (a, b)
            for _ in range(160)
            for a, b in [sorted(rng.sample(range(28), 2))]
        }
    )
    edges = values_df(spark, "lo long, hi long", es)
    a = {
        tuple(r)
        for r in triangle_count(edges).collect()
    }
    b = {
        tuple(r)
        for r in triangle_count(edges, driver_cap=0).collect()
    }
    assert a == b


def test_pagerank_driver_and_distributed_agree(spark):
    """Round-11 optimization: pagerank_fixed lands small graphs on the
    driver with replicated decimal-exact arithmetic. Both paths must
    produce bit-identical rank_score doubles — including dangling nodes
    (no out-edges), isolated nodes, and multi-iteration compounding."""
    import random

    from xngin_spark.operators.corpus import pagerank_fixed
    from xngin_spark.operators.util import values_df

    rng = random.Random(23)
    es = [
        (a, b)
        for _ in range(120)
        for a, b in [rng.sample(range(40), 2)]
    ]
    edges = values_df(spark, "src long, dst long", es)
    nodes = values_df(spark, "doc_id long", [(i,) for i in range(45)])
    a = sorted(
        tuple(r) for r in pagerank_fixed(edges, nodes, iters=4).collect()
    )
    b = sorted(
        tuple(r)
        for r in pagerank_fixed(edges, nodes, iters=4, driver_cap=0).collect()
    )
    assert a == b
