#!/usr/bin/env python
"""Benchmark runner — per-round feedback loop (BENCH_r{N}.json).

Runs every registered headline query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is timed end-to-end (plan + execute + collect-count via a
lightweight ``count()`` action so results stream but aren't shipped to
the driver in full). A warmup query first amortizes JVM/session startup
out of the per-query numbers; session startup is reported separately.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t0 = time.perf_counter()
    from xngin_spark.session import get_spark
    from xngin_spark import queries as Q

    Q.load_all()
    spark = get_spark("xngin_spark_bench")
    # Warm phases run CONCURRENTLY — each thread submits independent
    # Spark jobs and the scheduler interleaves their stages, so startup
    # costs max(phase) instead of sum(phase) (~22s → ~10s measured):
    #   - table warmup: touch every table so page-cache/footer reads
    #     don't land on the first measured query (counts fan out in
    #     threads too — they are footer-bound, not CPU-bound)
    #   - bucketed twins: one-time ingest cost (the reference pays it
    #     at shard-load time), charged to startup not the first
    #     bucketed query's timing
    #   - python worker pool: forked + pandas-imported lazily on first
    #     use; pre-fork so pandas-UDF queries aren't charged it
    from concurrent.futures import ThreadPoolExecutor

    from xngin_spark.catalog import ALL_TABLES
    from xngin_spark.queries.bucketed import ensure_bucketed

    def warm_tables():
        paths = [
            p
            for name in ALL_TABLES
            if os.path.exists(p := os.path.join(sf_dir, f"{name}.parquet"))
        ]
        with ThreadPoolExecutor(max_workers=4) as ex:
            list(ex.map(lambda p: spark.read.parquet(p).count(), paths))

    def warm_workers():
        spark.range(
            0, 1024, 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        ).mapInPandas(lambda it: it, "id long").count()

    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [
            ex.submit(warm_tables),
            ex.submit(ensure_bucketed, spark, sf_dir),
            ex.submit(warm_workers),
        ]
        for f in futs:
            f.result()
    startup = time.perf_counter() - t0

    # Fixed-size JVM canary: a pure codegen sum whose cost depends only
    # on the machine's effective CPU at run time (no data, no shuffle).
    # Round-over-round query deltas should be read relative to this —
    # the host VM's throughput was observed to swing ~5x between
    # windows (0.5s vs 2.5s canary), which would otherwise read as a
    # 5x engine regression.
    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, 32).selectExpr("sum(id * 2) AS s").collect()
    canary = round(time.perf_counter() - t0, 3)

    only = set(sys.argv[1:])
    # Multiple full passes (SPARK_GRAFT_REPEATS, default 3) give each
    # query a measured noise band: round-over-round moves inside the
    # band are run-to-run variance, not regressions (bench_compare.py
    # reads the spread). Queries < REPEAT_FLOOR on pass 1 are below the
    # compare tool's noise floor and are not re-run — their spread is
    # irrelevant — so the extra passes cost ~2x the expensive tail,
    # not 2x the suite.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    REPEAT_FLOOR = 0.2
    from xngin_spark.operators.util import release_all

    samples: dict[str, list[float]] = {}
    empty: list[str] = []
    pass_canaries: list[float] = [canary]

    def run_one(name: str, record_rows: bool) -> None:
        # Timing materializes through the noop sink, NOT .count():
        # count() lets Catalyst prune every column a map-only query
        # computes (text_stats at sf100 "ran" in 0.2s as a parquet
        # metadata read while the real scoring pass costs seconds —
        # found by the round-9 sf100 decade probe). The noop write
        # executes the full plan and discards rows, so map-only and
        # shuffle queries are measured on equal terms. The row-count
        # check rides the SAME measured run as an observed metric
        # (CollectMetrics on top of the plan) — a separate post-hoc
        # count() re-executed every pass-1 query with operator caches
        # already released (r9 ADVICE: ~2x pass-1 wall time).
        fn = Q.QUERIES[name]
        # free the previous query's operator caches (e.g. minhash
        # signatures) and returned-plan checkpoints (graph operators),
        # failed or not, so 200+ queries in one session don't
        # accumulate storage memory; that result is fully materialized
        # (noop sink + observed count) or abandoned, so this is safe
        release_all(spark)
        t = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            if record_rows:
                from pyspark.sql import Observation
                from pyspark.sql import functions as F

                obs = Observation(f"bench_rows_{name}")
                sink = df.observe(obs, F.count(F.lit(1)).alias("n"))
            else:
                sink = df
            sink.write.mode("overwrite").format("noop").save()
        except Exception as e:  # a failing query must not kill the bench
            print(f"# {name} FAILED: {e}", file=sys.stderr)
            samples.setdefault(name, []).append(-1.0)
            return
        dt = round(time.perf_counter() - t, 3)
        samples.setdefault(name, []).append(dt)
        if not record_rows:
            return
        n = obs.get["n"]
        if n == 0:
            # a 0-row result at bench scale makes the oracle comparison
            # vacuous — surface it loudly instead of reporting a green time
            empty.append(name)
            print(f"# {name}: EMPTY RESULT ({dt}s)", file=sys.stderr)
        else:
            print(f"# {name}: {dt}s rows={n}", file=sys.stderr)

    names = [n for n in sorted(Q.QUERIES) if not only or n in only]
    for name in names:
        run_one(name, record_rows=True)
    for p in range(1, repeats):
        t0 = time.perf_counter()
        spark.range(0, 100_000_000, 1, 32).selectExpr(
            "sum(id * 2) AS s"
        ).collect()
        pass_canaries.append(round(time.perf_counter() - t0, 3))
        for name in names:
            if samples[name] and 0 <= samples[name][0] < REPEAT_FLOOR:
                continue
            run_one(name, record_rows=False)

    def _median(xs: list[float]) -> float:
        xs = sorted(xs)
        m = len(xs) // 2
        return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2

    # headline per-query number = median over passes (robust to a GC
    # pause or host hiccup landing on one pass); spread = max/min is
    # the measured noise band bench_compare.py trusts
    timings = {
        k: (round(_median(good), 3) if (good := [v for v in v_all if v >= 0])
            else -1.0)
        for k, v_all in samples.items()
    }
    # the noise band uses WARM passes only: pass 1 pays whole-stage
    # codegen JIT for every stage shape the suite hasn't compiled yet
    # (measured up to ~6x on trivial queries — the round-7 agg_distinct
    # spread), which is position-dependent startup cost, not run-to-run
    # variance. Excluding it keeps bench_compare's jitter bands narrow
    # enough to still flag real regressions; medians are unchanged
    # (they were already warm-dominated with 3 passes).
    spread = {
        k: round(max(warm) / max(min(warm), 1e-3), 2)
        for k, v_all in samples.items()
        if len(
            warm := (
                [v for v in v_all[1:] if v >= 0]
                if len([v for v in v_all if v >= 0]) > 2
                else [v for v in v_all if v >= 0]
            )
        )
        > 1
    }

    # second canary: the host's effective speed can shift mid-run;
    # start/end pair bounds the window the query timings were taken in
    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, 32).selectExpr("sum(id * 2) AS s").collect()
    canary_end = round(time.perf_counter() - t0, 3)
    pass_canaries.append(canary_end)

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    # regression axis across rounds: subtotal over the previous round's
    # query set, so a growing corpus doesn't read as a slowdown
    prev_subtotal = None
    prev = next(
        (p for p in ("BENCH_r01.json",) if os.path.exists(p)),
        None,
    )
    if prev:
        try:
            with open(prev) as f:
                doc = json.load(f)
            # the driver wraps the bench line under "parsed"
            prev_queries = set(
                (doc.get("parsed") or doc).get("queries", {})
            )
            prev_subtotal = round(
                sum(v for k, v in timings.items() if k in prev_queries and v >= 0), 3
            )
        except (OSError, ValueError, AttributeError):
            pass
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Canary-normalized timings: query_sec ÷ mean(canary) is unit-free
    # "canaries of work" — host-VM throughput was observed to swing ~5x
    # between bench windows, so round-over-round regressions should be
    # judged on these, not raw seconds (see bench_compare.py).
    # canary protocol: mean of START + END only, matching the pre-r07
    # artifacts — mid-run canaries sample a progressively warmer JIT
    # and would skew cross-round normalized comparisons (measured: mean
    # over 4 canaries reads 1.2x faster than start/end over the same
    # run). pass_canaries stays in the payload for diagnostics.
    canary_mean = round((canary + canary_end) / 2, 3) or 1.0
    queries_norm = {
        k: round(v / canary_mean, 2) for k, v in timings.items() if v >= 0
    }
    payload = {
        "metric": "tpch_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "startup_sec": round(startup, 3),
        "canary_sec": canary,
        "canary_end_sec": canary_end,
        "canary_mean_sec": canary_mean,
        "total_norm_canaries": round(total / canary_mean, 2),
        "queries_norm": queries_norm,
        "empty_results": empty,
        "n_queries": len(timings),
        "repeats": repeats,
        # round 9: timing materializes via the noop sink instead of
        # count() (count() column-pruned map-only queries to a parquet
        # metadata read — see SCALE.md). Map-only rows read HIGHER than
        # every pre-round-9 artifact because they are measured for the
        # first time, not because they regressed.
        "measurement": "noop-materialization",
        "pass_canaries": pass_canaries,
        "queries_spread": spread,
        "r01_subset_total": prev_subtotal,
        "r01_subset_norm": (
            round(prev_subtotal / canary_mean, 2)
            if prev_subtotal is not None
            else None
        ),
    }
    # Full per-query payload: a file for the judge + stderr for humans.
    # stdout gets ONE compact line fitted to the driver's 2000-char
    # capture buffer (BENCH_r02-r04 recorded "parsed": null because the
    # full 121-query line outgrew it; the gate-priority subset keeps the
    # line parseable while BENCH_FULL.json preserves every timing).
    # A SUBSET run (query names on argv) must never clobber the
    # standing full-suite artifact — the same lesson as
    # scaling_probe.write_results (round 6 lost its 151-query scaling
    # doc to a one-query re-run). Subset payloads go to a sibling file
    # unless SPARK_GRAFT_OUT overrides explicitly.
    default_out = "BENCH_FULL.json" if not only else "BENCH_SUBSET.json"
    out_name = os.environ.get("SPARK_GRAFT_OUT", default_out)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               out_name), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"# {out_name} not written: {e}", file=sys.stderr)
    print("# full: " + json.dumps(payload), file=sys.stderr)
    print(json.dumps(_fit_line(payload), separators=(",", ":")))


def _fit_line(payload: dict, budget: int = 1900) -> dict:
    """Trim payload["queries"] so the compact JSON line fits `budget`.

    Keeps queries in gate-priority order (the 50 the driver's
    correctness gate snapshots come first), then the rest by
    descending cost so the expensive tail stays visible.
    """
    try:
        from __spark_entry__ import GATE_PRIORITY
    except ImportError:
        GATE_PRIORITY = []
    # the full per-query normalized map lives in BENCH_FULL.json; the
    # compact stdout line keeps only the scalar normalized fields
    payload = dict(payload)
    payload.pop("queries_norm", None)
    # per-query spread map lives in BENCH_FULL.json; the compact line
    # carries only the worst spread so the judge sees the noise scale
    spread = payload.pop("queries_spread", None) or {}
    payload.pop("pass_canaries", None)
    if spread:
        worst = max(spread, key=spread.get)
        payload["spread_max"] = {worst: spread[worst]}
    timings = payload["queries"]
    rest = sorted(
        (k for k in timings if k not in GATE_PRIORITY),
        key=lambda k: -timings[k],
    )
    order = [k for k in GATE_PRIORITY if k in timings] + rest
    base = dict(payload, queries={}, queries_elided=0,
                queries_full="BENCH_FULL.json")
    fixed = len(json.dumps(base, separators=(",", ":")))
    q: dict[str, float] = {}
    used = fixed
    for k in order:
        entry_len = len(json.dumps({k: timings[k]}, separators=(",", ":"))) - 1
        if used + entry_len > budget:
            break
        q[k] = timings[k]
        used += entry_len
    base["queries"] = q
    base["queries_elided"] = len(timings) - len(q)
    return base


if __name__ == "__main__":
    main()
