#!/usr/bin/env python
"""Cross-engine value parity at an arbitrary scale — the sweep that
extends the bit-exact claim beyond the pytest scales (sf0.001-sf1 are
covered by tests/test_tpch_parity.py; this script exists to push the
span to sf10+, where DuckDB twins take minutes each and belong in a
background artifact, not the suite).

Every 10x step so far exposed a distinct latent determinism or scale
bug (decimal midpoint ties at sf1, the winnow cap collapse at sf10,
the CDC re-insert key collision at sf100 — SCALE.md), which is why the
span keeps getting pushed: parity at one scale does NOT imply parity
at the next.

Runs compare() (the driver gate's exact semantics: row count + columns
+ order-insensitive value hash) for a curated subset covering every
value-determinism family and merge-writes the artifact keyed by query.

Artifact contract (v2, round 11):
- ``queries`` holds only rows the probe could actually adjudicate —
  green rows and (should one ever occur) VALUE MISMATCHES, which the
  guard test must fail on. A mismatch is an engine bug; it belongs in
  the committed artifact only while it blocks the round.
- ``errors`` is a separate ledger of rows the HARNESS could not finish
  (oracle OOM/spill, dead SparkContext, stream sink timeout), each with
  the error string, a ``kind`` classification, and the retry count.
  These are environment limits, not parity failures; the guard test
  tolerates them but requires the classification.
- ``probe`` header records version/host/budgets so a failed row is
  attributable without digging through SCALE.md prose.

Resilience: a fatal DuckDB error invalidates the connection — reconnect
(round 10); a fatal Spark error (executor OOM killing the local JVM)
invalidates the ENTIRE py4j gateway — detect via a liveness ping and
rebuild the session, re-registering nothing (queries take (spark,
sf_dir) and read their own inputs). Each failed row is retried once on
a fresh pair of engines before being recorded.

Usage:
  python tools/parity_probe.py [sf_dir] [name ...]   # default sf10 subset
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.environ.get("XNGIN_PARITY_OUT", os.path.join(REPO, "PARITY_SF10.json"))

#: one row per value-determinism family; heavy tails deliberately in
#: (the point is the scales where they hurt)
DEFAULT_NAMES = [
    # decimal-sum TPC-H (big joins, revenue-scale sums), plus the
    # round-11 breadth rows: semi (q4), null-aware anti (q22),
    # top-k join (q3), multi-join date logic (q7), group-heavy (q10),
    # decimal ratio (q14)
    "q1", "q3", "q4", "q5", "q7", "q9", "q10", "q14", "q18", "q21",
    "q22",
    # dedup family: md5 minhash/simhash, span logic, window counting.
    # dedup_winnow is deliberately NOT here: at the self-union sf10 the
    # boilerplate cap drops every fingerprint (the round-9 warn guard),
    # so both engines produce the empty set — a ~30 min DuckDB grind to
    # compare empty with empty; the winnow grid's cross-engine
    # determinism is pinned at sf1 by the pytest sweep instead.
    "dedup_exact", "dedup_minhash_checked", "dedup_simhash_checked",
    "dedup_span_extract", "passage_dedup",
    # ANN / embedding: floor-grid int64 cosine + PQ, JL projection
    "knn_cosine", "knn_l2_pq_checked", "embedding_jl_project",
    "ann_recall_eval", "retrieval_ranking_eval",
    # retrieval: rounded-then-decimal scoring, positional postings
    "bm25_topk", "bm25_index_probe", "hybrid_rrf", "phrase_search",
    "tfidf_topk",
    # text quality: regex/stat scans
    "text_stats", "gopher_quality", "quality_classifier",
    "contamination_ngram", "lang_id",
    # CDC maintenance == recompute, decimal-exact
    "incremental_agg_maintain", "incremental_distinct_maintain",
    "incremental_agg_multi",
    # events: windows, temporal joins, sequence patterns, centrality
    "events_tumbling", "events_asof_join", "events_pattern_match",
    "pagerank_event_chain", "pagerank_dedup_graph",
    # attribution: the standard four-model set (last-touch is implied
    # by events_stream_attribution; micro-unit truncated ratio credits)
    "events_attribution_ushaped", "events_attribution_linear",
    "events_attribution_timedecay",
    # windows / grouping-sets / mark-join / streaming tumbling
    "window_frames", "cube_agg", "mark_join_q", "events_stream_tumbling",
]


def _classify(err: str) -> str:
    """Map a harness error string to its ledger kind."""
    e = err.lower()
    if "no space left" in e or "could not write file" in e:
        return "oracle_spill_disk"
    if "out of memory" in e and (
        "duckdb" in e or "allocate block" in e or "allocation" in e
    ):
        return "oracle_oom"
    if "stopped sparkcontext" in e or "py4j" in e or "java gateway" in e:
        return "spark_session_lost"
    if "did not finish in" in e or "timeouterror" in e:
        return "stream_timeout"
    return "other"


def _spark_alive(spark) -> bool:
    try:
        return spark.sql("SELECT 1").collect()[0][0] == 1
    except Exception:
        return False


def _respark(cpus: str):
    """Rebuild the SparkSession after a fatal failure — including the
    case where the local JVM itself died (executor OOM in local mode
    kills the whole gateway), which requires dropping py4j's module
    singletons so a NEW gateway process launches. Mirrors the DuckDB
    reconnect the probe gained in round 10: without this, every query
    after a Spark death cascade-fails in milliseconds (observed:
    contamination_ngram/dedup_span_extract/tfidf_topk at sf100)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    for getter in (SparkSession.getActiveSession,):
        try:
            s = getter()
            if s is not None:
                s.stop()
        except Exception:
            pass
    try:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
    except Exception:
        pass
    gw = getattr(SparkContext, "_gateway", None)
    if gw is not None:
        alive = True
        try:
            gw.jvm.java.lang.System.currentTimeMillis()
        except Exception:
            alive = False
        if not alive:
            try:
                gw.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
    # clear stale session singletons so getOrCreate builds fresh
    try:
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
    except Exception:
        pass
    from xngin_spark.session import get_spark

    try:
        return get_spark("parity_probe", cpus=cpus)
    except Exception:
        # a HALF-dead JVM (executor threads OOM'd, gateway still
        # answering) rejects a new context with "another context is
        # running" — force the gateway down and start a genuinely
        # fresh JVM (observed: bm25_topk sf100 heap death)
        gw = getattr(SparkContext, "_gateway", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkContext._active_spark_context = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        return get_spark("parity_probe", cpus=cpus)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/tmp/xngin_scale/sf10"
    names = args[1:] or DEFAULT_NAMES
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from xngin_spark import queries as Q
    from xngin_spark.oracle import compare, duckdb_connect
    from xngin_spark.session import get_spark

    Q.load_all()
    spark = get_spark("parity_probe", cpus=cpus)
    con = duckdb_connect(sf_dir)

    doc: dict = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            doc = json.load(f)
    doc.setdefault("sf_dir", sf_dir)
    doc["probe"] = {
        "version": 2,
        "host": platform.node(),
        "cpus": cpus,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "oracle_mem": os.environ.get("XNGIN_ORACLE_MEM", "24GB"),
        "stream_timeout_s": os.environ.get("XNGIN_STREAM_TIMEOUT_S", "120"),
        "oracle_digest": os.environ.get("XNGIN_ORACLE_DIGEST", "auto"),
    }
    results = doc.setdefault("queries", {})
    errors = doc.setdefault("errors", {})

    def _write():
        doc["n_ok"] = sum(1 for r in results.values() if r.get("ok"))
        doc["n_total"] = len(results) + len(errors)
        doc["n_err"] = len(errors)
        with open(OUT, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")

    failed = []
    for name in names:
        if name not in Q.ORACLE:
            print(f"# {name}: no oracle, skipped", file=sys.stderr)
            continue
        t0 = time.time()
        outcome = None
        for attempt in (0, 1):
            try:
                res = compare(
                    name, Q.QUERIES[name](spark, sf_dir), con, Q.ORACLE[name]
                )
                row = {
                    "ok": bool(res.ok),
                    "rows": res.spark_rows,
                    "sec": round(time.time() - t0, 2),
                    "retries": attempt,
                }
                if not res.ok:
                    row["detail"] = (
                        f"spark {res.spark_rows}/{res.spark_hash} vs "
                        f"oracle {res.oracle_rows}/{res.oracle_hash}"
                    )
                results[name] = row
                errors.pop(name, None)
                outcome = "OK" if res.ok else "VALUE-MISMATCH"
                break
            except Exception as e:
                err = f"{type(e).__name__}: {e}"[:300]
                # a fatal DuckDB error invalidates the connection; a
                # fatal Spark error may have killed the local JVM —
                # rebuild whichever side is dead before retrying. The
                # reconnect itself can OOM while the dying connection
                # still pins memory (observed: events_pattern_match at
                # sf100 crashed the WHOLE sweep this way) — release,
                # gc, and retry with backoff rather than die.
                try:
                    con.close()
                except Exception:
                    pass
                con = None
                import gc
                import time as _t

                for backoff in (0, 5, 30):
                    gc.collect()
                    _t.sleep(backoff)
                    try:
                        con = duckdb_connect(sf_dir)
                        break
                    except Exception:
                        continue
                if con is None:
                    errors[name] = {
                        "error": err + " (oracle reconnect failed)",
                        "kind": _classify(err),
                        "sec": round(time.time() - t0, 2),
                        "retries": attempt,
                    }
                    results.pop(name, None)
                    outcome = f"ERROR({_classify(err)})"
                    print(f"# {name}: oracle reconnect failed, skipping "
                          "remaining oracle work this row",
                          file=sys.stderr, flush=True)
                    _write()
                    raise SystemExit(
                        "oracle reconnect failed after backoff — host "
                        "memory exhausted; completed rows are saved"
                    )
                if not _spark_alive(spark):
                    print(f"# {name}: spark session dead, rebuilding",
                          file=sys.stderr, flush=True)
                    spark = _respark(cpus)
                if attempt == 1:
                    errors[name] = {
                        "error": err,
                        "kind": _classify(err),
                        "sec": round(time.time() - t0, 2),
                        "retries": attempt,
                    }
                    results.pop(name, None)
                    outcome = f"ERROR({_classify(err)})"
        if outcome != "OK":
            failed.append(name)
        # release per-row storage BEFORE the next row: operator persists
        # and checkpoints, including the localCheckpoints the CDC rows
        # hold — at sf100 the incremental_agg_multi checkpoint+shuffle
        # footprint is ~45 GB of spark-local that otherwise coexists with
        # the NEXT row's oracle spill (the disk death the round-10 sweep
        # hit twice); gc -> ContextCleaner then frees their shuffle files
        try:
            from xngin_spark.operators.util import release_all

            release_all(spark)
        except Exception:
            pass
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        print(f"{name}: {outcome} ({round(time.time() - t0, 2)}s)", flush=True)
        # merge-write per query: a killed multi-hour probe keeps its
        # completed rows (same discipline as scaling_probe)
        _write()

    _write()
    print(f"wrote {OUT}: {doc['n_ok']}/{doc['n_total']} ok, "
          f"{doc['n_err']} harness errors")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
