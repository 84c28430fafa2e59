#!/usr/bin/env python
"""Measured scaling probe: interleaved per-query A/B timing at two SFs.

alpha = log(t_big / t_small) / log(scale_ratio); ≈ 0 means
overhead-dominated, ≈ 1 linear, > 1 super-linear (flagged). Queries
that are input-bounded by design (doc_id < N predicates on the pairwise
verifiers) legitimately sit near 0 — their cost follows the candidate
set, not the corpus.

The first (two-full-bench) design was unusable on this host: its
effective CPU throughput swings up to ~10x between windows (measured by
the JVM canary), so an sf0.1 leg in a slow window vs an sf1 leg in a
fast one fabricates both regressions and speedups. This probe times
each query at BOTH SFs back-to-back inside one session — the pair
shares one host window, so host speed cancels out of the ratio — and
records a per-pair canary purely as context.

Usage:
  python tools/make_sf.py /root/testdata/sf0.1 /tmp/xngin_scale/sf1 10
  SPARK_GRAFT_DRIVER_MEM=24g python tools/scaling_probe.py \
      /root/testdata/sf0.1 /tmp/xngin_scale/sf1 10 [query ...]

Writes BENCH_SCALING.json and prints a table sorted by alpha.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def write_results(
    path: str,
    rows: dict[str, dict],
    ratio: float,
    small_dir: str,
    big_dir: str,
) -> dict:
    """MERGE-update ``path`` with this run's per-query entries. A
    subset probe (the common iterate-on-one-query flow) must extend
    the standing document, never clobber it: a full-corpus probe is a
    multi-hour artifact, and round 6 lost its 151-query results to a
    single-query re-run that opened the file with \"w\" and dumped only
    itself. Top-level metadata is refreshed only when compatible;
    mixing runs of DIFFERENT ratio/dirs raises rather than silently
    blending incomparable alphas."""
    import platform

    doc = {
        "ratio": ratio,
        "small_dir": small_dir,
        "big_dir": big_dir,
        "design": "interleaved per-query A/B, one session",
        # attributability header (round 11): a flagged row must carry
        # enough context to be judged without SCALE.md archaeology
        "probe": {
            "version": 2,
            "host": platform.node(),
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "state_store": os.environ.get("XNGIN_STATE_STORE", "default"),
        },
        "queries": {},
    }
    if os.path.exists(path):
        try:
            with open(path) as f:
                prev = json.load(f)
        except (OSError, json.JSONDecodeError):
            prev = {}
        if prev.get("queries"):
            if (
                prev.get("ratio") not in (None, ratio)
                or prev.get("big_dir") not in (None, big_dir)
            ):
                raise SystemExit(
                    f"{path} holds results for ratio={prev.get('ratio')} "
                    f"big_dir={prev.get('big_dir')}; refusing to blend with "
                    f"ratio={ratio} big_dir={big_dir} — move the old file "
                    "aside first"
                )
            doc["queries"] = dict(prev["queries"])
    doc["queries"].update(rows)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return doc


def main(small_dir: str, big_dir: str, ratio: float, only: set[str]) -> None:
    from xngin_spark import queries as Q
    from xngin_spark.operators.util import release_all
    from xngin_spark.session import get_spark

    Q.load_all()
    extra = {}
    if os.environ.get("XNGIN_STATE_STORE", "").lower() == "rocksdb":
        # the documented single-JVM heap-state ceiling fix (SCALE.md):
        # RocksDB keeps streaming state off-heap on disk, so the
        # 100M-key sf100 state queries fit a local JVM — on a cluster
        # the same provider is the standard large-state choice
        extra["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    spark = get_spark("scaling_probe", extra_conf=extra)
    for k, v in extra.items():
        spark.conf.set(k, v)  # runtime conf: survives session reuse too

    def canary() -> float:
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id * 2)").collect()
        return round(time.perf_counter() - t0, 3)

    def timed(name: str, sf_dir: str) -> float:
        # noop-sink materialization, not .count(): count() lets the
        # optimizer prune a map-only query's entire projection down to
        # a parquet metadata read (text_stats at sf100 "measured" 0.3s
        # while the real pass costs seconds), fabricating alpha ~ 0 for
        # every projection-shaped query. The noop write runs the full
        # plan and discards rows. Same fix as bench.py run_one.
        t0 = time.perf_counter()
        Q.QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        dt = time.perf_counter() - t0
        release_all(spark)
        return round(dt, 3)

    # warm both datasets' DATA PAGES so neither SF pays cold-read:
    # count() only touches footers (parquet aggregate pushdown), which
    # left the big leg reading tens of GB cold while the small leg sat
    # in page cache — q6 (a perfectly linear scan+agg) measured
    # alpha=1.54 from the asymmetry alone. A full-column noop read
    # pulls every page through the OS cache (the host holds both SFs
    # comfortably); at a true 100 TB neither side is cacheable and the
    # ratio is honest again by symmetry.
    for d in (small_dir, big_dir):
        for t in ("lineitem", "orders", "documents", "embeddings", "events"):
            try:
                spark.read.parquet(f"{d}/{t}.parquet").write.mode(
                    "overwrite"
                ).format("noop").save()
            except Exception:
                pass

    rows: dict[str, dict] = {}
    names = sorted(n for n in Q.QUERIES if not only or n in only)
    for i, name in enumerate(names):
        try:
            ts = timed(name, small_dir)
            tb = timed(name, big_dir)
        except Exception as e:
            print(f"# {name} FAILED: {str(e)[:120]}", file=sys.stderr)
            continue
        c = canary()
        alpha = math.log(tb / ts) / math.log(ratio)
        rows[name] = {
            "t_small": ts,
            "t_big": tb,
            "alpha": round(alpha, 2),
            "canary": c,
        }
        if extra:
            # per-row provenance: these rows ran under a non-default
            # state store (the header alone can't disambiguate a
            # merged artifact with rows from both providers)
            rows[name]["state_store"] = "rocksdb"
        print(
            f"# [{i + 1}/{len(names)}] {name}: {ts}s -> {tb}s "
            f"a={alpha:.2f} (canary {c}s)",
            file=sys.stderr,
            flush=True,
        )
        # merge-write after EVERY pair: a multi-hour probe killed at
        # row N-1 must keep rows 1..N-1 (write_results merges, so the
        # repeated write is idempotent and cheap)
        write_results(
            os.environ.get("XNGIN_SCALING_OUT", "BENCH_SCALING.json"),
            rows, ratio, small_dir, big_dir,
        )

    out = os.environ.get("XNGIN_SCALING_OUT", "BENCH_SCALING.json")
    write_results(out, rows, ratio, small_dir, big_dir)
    for q, r in sorted(rows.items(), key=lambda kv: -kv[1]["alpha"]):
        flag = "  <-- SUPER-LINEAR" if r["alpha"] > 1.05 and r["t_big"] > 1 else ""
        print(
            f"{q:36s} {r['t_small']:8.2f}s {r['t_big']:8.2f}s"
            f"  a={r['alpha']:5.2f}{flag}"
        )


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), set(sys.argv[4:]))
