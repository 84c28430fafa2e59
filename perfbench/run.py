#!/usr/bin/env python3
"""The repository benchmark: one workload per run, end-to-end metrics by
default, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload tpch_wire --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py`` and ``spec.json`` for why each exists):
``tpch_wire``, ``pipeline_ops`` and ``cdc_stream``. A run sets up one
Spark session at ``local[nproc]``, warms up with one untimed pass run
WARMUP_CLIENTS statements at a time, then times a fixed number of
whole passes: ``round(--seconds / SECONDS_PER_PASS[workload])``, at least
one, so every run of a workload yields the same number of samples. Every
timed result is checked after the timed passes: wire results against
DuckDB, registered queries against ``golden.json``. ``--trace 1`` times the
same statements with tracing on and reports the per-layer metrics; its
tracing overhead is its timed wall time minus that of the ``--trace 0``
run with the same seed, when that run's record is present.

Human-readable lines start with ``#``; the last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``. The
full record (host, seed, canaries, per-statement latencies and, when
tracing, spans and self times) goes to ``.perfbench_out/``. Exit code:
0 when every output checked out (and, traced, every statement
reconciled), 1 otherwise, 2 when the program or data is missing.

``--make-golden`` records the expected digests of the registered
queries for ``--data-dir`` into ``golden.json`` (slow: it runs the
DuckDB oracles, one of which takes minutes).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import layers as T  # noqa: E402
import workloads as W  # noqa: E402

SPEC = json.loads((HERE / "spec.json").read_text())
DEFAULT_DATA = "/root/testdata/sf0.01"
# timed seconds charged per pass; fixes each workload's pass count. A warm
# pass takes about 10 s (tpch_wire, cdc_stream) and 20 s (pipeline_ops) at
# sf0.01 on 4 cores.
SECONDS_PER_PASS = {"tpch_wire": 10.0, "pipeline_ops": 20.0, "cdc_stream": 10.0}
WARMUP_CLIENTS = 4
# driver heap, fixed (initial = max): a heap left to grow from the 8g
# default peaked anywhere from 2.2 to 3.0 GB across seeds with GC timing
DRIVER_HEAP = "2g"
END_TO_END_UNITS = {
    "setup_s": "s",
    "queries_per_min": "1/min",
    "latency_geomean_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_per_statement_s": "s",
    "failed_ratio": "ratio",
    "peak_rss_mb": "MB",
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


class Run:
    """State of one benchmark process: session, counters, samples."""

    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.data = str(Path(args.data_dir).resolve())
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.excluded_s = 0.0  # benchmark-side work inside the setup window
        self.errors: list[str] = []
        self.marks: dict[str, float] = {}  # phase -> seconds since start

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.perf_counter() - T_START

    # ---- setup -------------------------------------------------------------

    def start_session(self):
        from xngin_spark import queries as Q
        from xngin_spark.session import get_spark

        Q.load_all()
        self.Q = Q
        self.spark = get_spark(
            f"perfbench_{self.args.workload}",
            cpus=self.cpus,
            extra_conf={
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={self.work / 'tmp'}",
                "spark.ui.showConsoleProgress": "false",
                # keep every record of a run for the traced report
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        if self.args.workload == "pipeline_ops":  # the only one with Python UDFs
            # Python worker pool: forked and pandas-imported on first use
            self.spark.range(0, 1024, 1, self.cpus).mapInPandas(
                lambda it: it, "id long").count()
        self.mark("session")

    def release_storage(self) -> int:
        """Unpersist whatever a statement left persisted; return how many
        RDDs that was."""
        held = self.spark.sparkContext._jsc.getPersistentRDDs()
        n = held.size()
        for rdd in list(held.values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        return n

    def canary(self) -> float:
        """bench.py's fixed-size JVM canary: host-speed diagnostic only."""
        t = time.perf_counter()
        self.spark.range(0, 100_000_000, 1, 32).selectExpr("sum(id * 2) AS s").collect()
        dt = time.perf_counter() - t
        self.excluded_s += dt
        return dt

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        say(f"FAILED {what}")

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        try:
            with open(f"/proc/{self.jvm_proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return py + jvm

    def cpu_s(self) -> float:
        """CPU seconds (user + system, all threads) used so far by this
        process and the JVM."""
        t = os.times()
        with open(f"/proc/{self.jvm_proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        return t.user + t.system + jvm

    def stop(self) -> None:
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        if self.jvm_proc.stdin:
            self.jvm_proc.stdin.close()
        try:
            self.jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm_proc.kill()
            self.jvm_proc.wait()


# ---------------------------------------------------------------------------
# tpch_wire


class WireWorkload:
    root = "server.wire"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.results: list[tuple[str, str, list, list]] = []

    def setup(self) -> None:
        from xngin_spark.engine import Engine
        from xngin_spark.server import MySQLServer
        from xngin_spark.server.client import connect

        r = self.run
        self.engine = Engine(r.data, spark=r.spark)
        self.server = MySQLServer(self.engine).start()
        self.conn = connect(self.server.host, self.server.port, timeout=170)

    def warmup(self, rng: random.Random) -> None:
        """One pass of fresh texts over WARMUP_CLIENTS connections at
        once: the server serves each on its own thread, and the cold
        pass (codegen, JIT) is the largest part of set-up."""
        from concurrent.futures import ThreadPoolExecutor

        from xngin_spark.server.client import MySQLError, connect

        texts = W.tpch_pass(rng, self.run.Q.ORACLE)

        def client(share: list[tuple[str, str]]) -> None:
            with connect(self.server.host, self.server.port, timeout=170) as conn:
                for name, text in share:
                    try:
                        conn.query(text)
                    except MySQLError as e:
                        say(f"warm-up {name} raised {e}")

        n = WARMUP_CLIENTS
        with ThreadPoolExecutor(n) as ex:
            for f in [ex.submit(client, texts[i::n]) for i in range(n)]:
                f.result()
        self.run.release_storage()

    def one_pass(self, rng: random.Random) -> list[tuple[str, str]]:
        return W.tpch_pass(rng, self.run.Q.ORACLE)

    @staticmethod
    def label(item: tuple[str, str]) -> str:
        return item[0]

    def statement(self, item: tuple[str, str], span, counters: dict) -> float:
        """One COM_QUERY round trip; the result is checked in check()."""
        name, text = item
        t = time.perf_counter()
        cols, rows = self.conn.query(text)
        dt = time.perf_counter() - t
        counters["result_rows"] = len(rows)
        self.results.append((name, text, cols, rows))
        return dt

    def check(self) -> None:
        """Every wire result against DuckDB running the same text."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.run.work / 'duckdb'}'")
        for t in TABLES:
            p = Path(self.run.data) / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name, text, cols, rows in self.results:
            cur = con.execute(text)
            dcols = [d[0].lower() for d in cur.description]
            want = W.rows_digest(dcols, cur.fetchall())
            got = W.rows_digest([c.lower() for c in cols], rows)
            if got != want:
                self.run.fail(f"{name}: wire {got} != duckdb {want}")
        con.close()

    def close(self) -> None:
        self.conn.close()
        self.server.close()


# ---------------------------------------------------------------------------
# pipeline_ops and cdc_stream


class QueryWorkload:
    root = "statement"

    def __init__(self, run: Run, names: list[str]) -> None:
        self.run = run
        self.names = names
        self.results: list[tuple[str, list, list]] = []

    def setup(self) -> None:
        pass

    def warmup(self, rng: random.Random) -> None:
        """One untimed pass, WARMUP_CLIENTS queries at a time: the cold
        pass is the largest part of set-up. Session confs a query changes
        while others run are put back."""
        from concurrent.futures import ThreadPoolExecutor

        r = self.run
        confs = dict(r.spark.conf.getAll)

        def execute(name: str) -> None:
            try:
                r.Q.QUERIES[name](r.spark, r.data).collect()
            except Exception as e:  # the timed run of the query reports it
                say(f"warm-up {name} raised {type(e).__name__}: {str(e)[:300]}")

        with ThreadPoolExecutor(WARMUP_CLIENTS) as ex:
            list(ex.map(execute, W.query_pass(rng, self.names)))
        for k, v in r.spark.conf.getAll.items():
            if confs.get(k) != v:
                if k in confs:
                    r.spark.conf.set(k, confs[k])
                else:
                    r.spark.conf.unset(k)
        r.release_storage()

    def one_pass(self, rng: random.Random) -> list[str]:
        return W.query_pass(rng, self.names)

    @staticmethod
    def label(item: str) -> str:
        return item

    def statement(self, name: str, span, counters: dict) -> float:
        """Build the query and collect its result (the results are a few
        to ten thousand rows); the result is checked in check()."""
        r = self.run
        t = time.perf_counter()
        with span("operators.construct", "statement"):
            df = r.Q.QUERIES[name](r.spark, r.data)
        with span("operators.materialize", "statement"):
            rows = df.collect()
        dt = time.perf_counter() - t
        self.results.append((name, list(df.columns), rows))
        return dt

    def check(self) -> None:
        """Every timed result against its digest in ``golden.json``, or,
        when the entry is missing or was recorded for another oracle
        text, against ``oracle.compare`` on a fresh run of the query."""
        from xngin_spark import oracle

        r = self.run
        golden = W.load_golden().get(Path(r.data).name, {})
        con = None
        for name, cols, rows in self.results:
            text = r.Q.ORACLE.get(name)
            g = golden.get(name)
            if g and g["oracle_sha"] == W.oracle_sha(text):
                want = (g["rows"], g["hash"])
            elif text is None:
                r.fail(f"{name}: no golden digest for {Path(r.data).name}; "
                       "record one with --make-golden")
                continue
            else:
                if con is None:
                    con = oracle.duckdb_connect(r.data)
                    con.execute(f"SET temp_directory='{r.work / 'duckdb'}'")
                res = oracle.compare(name, r.Q.QUERIES[name](r.spark, r.data), con, text)
                r.release_storage()
                if not res.ok:
                    r.fail(f"{name}: {res}")
                want = (res.oracle_rows, res.oracle_hash)
            got = oracle.result_fingerprint(cols, rows)
            if got != want:
                r.fail(f"{name}: result {got} != expected {want}")
        if con is not None:
            con.close()

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------


def tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    with at least ten samples beyond it; the median when there are too
    few samples for such a percentile to lie above it."""
    xs = sorted(lat)
    n = len(xs)
    idx = n - 11
    if idx < (n - 1) // 2:
        return statistics.median(xs), 50.0, n // 2
    return xs[idx], 100.0 * (idx + 1) / n, n - idx - 1


def host_info(run: Run) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    return {
        "git_sha": sha,
        "nproc": run.cpus,
        "mem_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": run.spark._jvm.System.getProperty("java.version"),
        "data_dir": run.data,
        "seed": run.args.seed,
    }


def execute(run: Run, wl) -> dict:
    """Warm up, time the passes (and the traced passes), return the record."""
    args = run.args
    seed = args.seed
    wl.warmup(random.Random(f"{seed}-warmup"))
    run.mark("warmup")
    canary_before = run.canary()
    setup_s = time.perf_counter() - T_START - run.excluded_s

    n_passes = max(1, round(args.seconds / SECONDS_PER_PASS[args.workload]))
    rng = random.Random(f"{seed}-timed")

    # fresh texts for every pass, so no cache keyed on statement text
    # scores hits real traffic would not
    plan = [item for _ in range(n_passes) for item in wl.one_pass(rng)]
    tracer = None
    if args.trace:
        tracer = T.Tracer(run.spark)
        if isinstance(wl, WireWorkload):
            tracer.install_wire(wl.engine)
        else:
            tracer.install_barriers()
        tracer.install_listeners()
    span = tracer.span if tracer else (lambda *a: nullcontext())
    lat = []
    cpu0 = run.cpu_s()
    t0 = time.perf_counter()
    try:
        for i, item in enumerate(plan):
            name = wl.label(item)
            run.attempted += 1
            st = tracer.begin(i, name, wl.root) if tracer else None
            counters: dict = {}
            try:
                lat.append(wl.statement(item, span, counters))
            except Exception as e:  # a failing statement must not end the run
                run.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            finally:
                if tracer:
                    tracer.end(st, **counters)
            leaked = run.release_storage()
            if tracer:
                st.counters["leaked_rdds"] = leaked
    finally:
        if tracer:
            tracer.uninstall()
    wall = time.perf_counter() - t0
    cpu = run.cpu_s() - cpu0
    run.mark("timed")
    record: dict = {"n_passes": n_passes, "statements": len(plan)}
    if tracer:
        rep = tracer.report(n_passes)
        # overhead against the untraced run of the same workload and
        # seed, which timed the very same statements
        untraced = out_path(args.workload, seed, 0)
        if untraced.exists():
            base = json.loads(untraced.read_text())["timed_wall_s"]
            rep["overhead_s"], rep["overhead_ratio"] = wall - base, wall / base - 1.0
        record["trace"] = rep
        run.mark("traced")
    wl.check()
    canary_after = run.canary()
    run.mark("checked")

    value, pct, beyond = tail(lat) if lat else (0.0, 0.0, 0)
    e2e = {
        "setup_s": setup_s,
        "queries_per_min": 60.0 * len(lat) / wall,
        "latency_geomean_s": math.exp(statistics.fmean(math.log(x) for x in lat)) if lat else 0.0,
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "latency_tail_s": value,
        "cpu_per_statement_s": cpu / len(plan),
        "failed_ratio": run.failed / max(run.attempted, 1),
        "peak_rss_mb": run.peak_rss_mb(),
    }
    record.update({
        "workload": args.workload,
        "host": host_info(run),
        "canary_before_s": canary_before,
        "canary_after_s": canary_after,
        "end_to_end": e2e,
        "tail_percentile": pct,
        "tail_beyond": beyond,
        "latencies_s": lat,
        "timed_wall_s": wall,
        "errors": run.errors,
    })
    return record


def print_report(record: dict) -> None:
    h = record["host"]
    say(f"workload {record['workload']} seed {h['seed']} sha {h['git_sha'][:12]} "
        f"nproc {h['nproc']} mem {h['mem_mb']} MB python {h['python']} "
        f"pyspark {h['pyspark']} java {h['java']} data {h['data_dir']}")
    say(f"canary {record['canary_before_s']:.3f} s before, "
        f"{record['canary_after_s']:.3f} s after (host-speed diagnostic only)")
    say("phases end at (s since start): " + ", ".join(
        f"{k} {v:.1f}" for k, v in record["phase_end_s"].items()))
    say(f"{record['statements']} timed statements in {record['n_passes']} pass(es), "
        f"{record['timed_wall_s']:.2f} s")
    for k, v in record["end_to_end"].items():
        extra = ""
        if k == "latency_tail_s":
            extra = (f"  (p{record['tail_percentile']:.1f}, {record['tail_beyond']} "
                     f"samples beyond, n={len(record['latencies_s'])})")
        say(f"{k:<28} {v:>14.6g} {END_TO_END_UNITS[k]}{extra}")
    rep = record.get("trace")
    if not rep:
        return
    say("per-layer metrics (traced passes, summed per statement, per pass):")
    for k, v in rep["metrics"].items():
        say(f"  {k:<28} {v:>14.6g} {T.PER_LAYER_UNITS[k]}")
    say("self time per pass by layer:")
    for k, v in sorted(rep["self_s"].items(), key=lambda kv: -kv[1]):
        say(f"  {k:<28} {v:>10.4f} s")
    if "overhead_s" in rep:
        say(f"tracing overhead: {rep['overhead_s']:+.3f} s over the timed passes "
            f"({100 * rep['overhead_ratio']:+.1f}%) against the --trace 0 run of this seed")
    else:
        say("tracing overhead: unknown; run --trace 0 with the same seed first")
    worst = sorted(rep["statements"], key=lambda s: -(s["unattributed_s"] + s["escaped_s"]))[:5]
    say("largest unattributed remainders:")
    for s in worst:
        say(f"  #{s['sid']} {s['name']:<28} wall {s['wall_s']:.3f} s  "
            f"unattributed {s['unattributed_s']:.4f} s  escaped {s['escaped_s']:.4f} s")
    n_bad = len(rep["unreconciled"])
    say(f"reconciliation: {len(rep['statements']) - n_bad}/{len(rep['statements'])} "
        f"statements within {100 * T.RECONCILE_TOL:.0f}% of wall time")


def make_golden(run: Run) -> int:
    """Record expected digests for the registered-query workloads."""
    from xngin_spark import oracle

    r = run
    golden = W.load_golden()
    entry = golden.setdefault(Path(r.data).name, {})
    con = oracle.duckdb_connect(r.data)
    con.execute(f"SET temp_directory='{r.work / 'duckdb'}'")
    bad = 0
    for name in W.PIPELINE_OPS + W.CDC_STREAM:
        df = r.Q.QUERIES[name](r.spark, r.data)
        text = r.Q.ORACLE.get(name)
        if text is not None:
            res = oracle.compare(name, df, con, text)
            rows, digest, ok = res.oracle_rows, res.oracle_hash, res.ok
        else:
            first = oracle.result_fingerprint(list(df.columns), df.collect())
            r.release_storage()
            again = r.Q.QUERIES[name](r.spark, r.data)
            second = oracle.result_fingerprint(list(again.columns), again.collect())
            (rows, digest), ok = first, first == second
        r.release_storage()
        say(f"{name}: rows {rows} hash {digest} {'ok' if ok else 'MISMATCH'}")
        if not ok:
            bad += 1
            continue
        entry[name] = {"rows": rows, "hash": digest, "oracle_sha": W.oracle_sha(text)}
    con.close()
    W.GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    return 1 if bad else 0


def out_path(workload: str, seed: int, trace: int) -> Path:
    return ROOT / ".perfbench_out" / f"{workload}-seed{seed}-trace{trace}.json"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=W.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=SPEC["seeds"]["default"])
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", default=DEFAULT_DATA)
    ap.add_argument("--make-golden", action="store_true")
    args = ap.parse_args(argv)

    if not (ROOT / "xngin_spark" / "__init__.py").is_file():
        print(f"perfbench: no xngin_spark package under {ROOT}", file=sys.stderr)
        return 2
    missing = [t for t in TABLES if not (Path(args.data_dir) / f"{t}.parquet").exists()]
    if missing:
        print(f"perfbench: {args.data_dir} lacks {missing}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    for sub in ("spark-local", "tmp", "sink", "duckdb"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "XNGIN_STREAM_SINK_DIR": str(work / "sink"),
    })
    sys.path.insert(0, str(ROOT))
    run = Run(args, work)
    try:
        run.start_session()
        try:
            if args.make_golden:
                return make_golden(run)
            wl = (WireWorkload(run) if args.workload == "tpch_wire"
                  else QueryWorkload(run, W.QUERY_WORKLOADS[args.workload]))
            wl.setup()
            run.mark("server")
            try:
                record = execute(run, wl)
            finally:
                wl.close()
        finally:
            run.stop()
            run.mark("stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    record["attempted"] = run.attempted
    record["failed"] = run.failed
    record["phase_end_s"] = run.marks
    out = out_path(args.workload, args.seed, args.trace)
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(record, indent=1) + "\n")
    print_report(record)
    say(f"full record: {out.relative_to(ROOT)}")

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        values, units = record["trace"]["metrics"], T.PER_LAYER_UNITS
        names = [m["name"] for m in declared["per_layer"]]
    else:
        values, units = record["end_to_end"], END_TO_END_UNITS
        names = [m["name"] for m in declared["end_to_end"]]
    metrics = {k: {"value": values[k], "unit": units[k]} for k in names}
    correct = run.failed == 0
    reconciled = not (args.trace and record["trace"]["unreconciled"])
    if not reconciled:
        say(f"RECONCILIATION FAILED for statements {record['trace']['unreconciled']}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct and reconciled else 1


if __name__ == "__main__":
    sys.exit(main())
