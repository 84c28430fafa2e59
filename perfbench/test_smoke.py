"""Benchmark self-tests: helper unit tests plus one short run of each
workload on sf0.01 (a few minutes; Spark is started in a subprocess).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import run as bench  # noqa: E402
import workloads as W  # noqa: E402

DATA = Path("/root/testdata/sf0.01")
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_tail_needs_ten_samples_beyond():
    lat = [float(i) for i in range(1, 45)]
    value, pct, beyond = bench.tail(lat)
    assert beyond == 10 and value == 34.0 and pct == pytest.approx(100 * 34 / 44)
    # too few samples for a percentile above the median: report the median
    assert bench.tail([1.0, 2.0, 3.0])[:2] == (2.0, 50.0)


def test_tpch_pass_is_seeded_and_varies_constants():
    oracle = {f"q{i}": text for i, text in _oracle_texts().items()}
    a = W.tpch_pass(random.Random("s"), oracle)
    b = W.tpch_pass(random.Random("s"), oracle)
    c = W.tpch_pass(random.Random("t"), oracle)
    assert a == b and a != c
    assert sorted(n for n, _ in a) == sorted(W.TPCH_WIRE)
    # every text has a generator, though a run sends only TPCH_WIRE
    full = W.tpch_pass(random.Random("s"), oracle, sorted(oracle))
    changed = sum(t != oracle[n].strip() for n, t in full)
    assert len(full) == 22 and changed >= 20  # q21 has no free constant


def test_substitute_fails_loudly_on_a_missing_literal():
    with pytest.raises(ValueError):
        W._substitute("select 1", {"'EUROPE'": "'ASIA'"}, "q2")
    # a new value equal to another old literal is not replaced twice
    assert W._substitute("a b", {"a": "b", "b": "a"}, "x") == "b a"


def test_canonical_cell_matches_wire_and_duckdb_renderings():
    import datetime as dt
    import decimal

    assert W.canonical_cell("1.50") == W.canonical_cell(decimal.Decimal("1.5"))
    assert W.canonical_cell("3") == W.canonical_cell(3.0)
    assert W.canonical_cell("1996-01-01") == W.canonical_cell(dt.date(1996, 1, 1))
    assert W.canonical_cell("NATION_3") == "NATION_3"
    assert W.rows_digest(["b", "a"], [["1", "x"], ["2", "y"]]) == W.rows_digest(
        ["a", "b"], [("y", 2), ("x", 1)])


def test_self_times_partition_the_wall_time():
    st = layers.Statement(0, "q", 0.0, 10.0)
    spans = [
        layers.Span("operators.construct", 0.0, 6.0, 0),
        layers.Span("spark.jobs", 1.0, 3.0, 0),
        layers.Span("spark.jobs", 2.0, 4.0, 0),
        layers.Span("operators.materialize", 6.5, 10.0, 0),
    ]
    selfs, escaped = layers.self_times(st, spans)
    assert selfs == pytest.approx({
        "operators.construct": 3.0, "spark.jobs": 3.0,
        "operators.materialize": 3.5, "unattributed": 0.5})
    assert escaped == 0.0
    _, escaped = layers.self_times(st, [layers.Span("spark.jobs", 9.0, 12.0, 0)])
    assert escaped == pytest.approx(2.0 - layers.CLOCK_SLACK_S)


def test_parse_metric_reads_sum_and_size_renderings():
    assert layers.parse_metric("1,234") == 1234
    text = "total (min, med, max (stageId: taskId))\n1.5 KiB (0.5 KiB, 0.5 KiB, 0.5 KiB (stage 1.0: task 2))"
    assert layers.parse_metric(text) == 1536


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch_wire",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _oracle_texts() -> dict[int, str]:
    sys.path.insert(0, str(ROOT))
    from xngin_spark import queries as Q

    Q.load_all()
    return {i: Q.ORACLE[f"q{i}"] for i in range(1, 23)}


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--data-dir", str(DATA)],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


@pytest.mark.skipif(not DATA.is_dir(), reason="needs /root/testdata/sf0.01")
@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_short_traced_pass_prints_every_declared_metric(workload):
    result, text = _run(workload, trace=1)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    for m in DECLARED["per_layer"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
    for m in DECLARED["end_to_end"]:
        assert any(line.startswith(f"# {m['name']} ") and line.rstrip().split()[3] == m["unit"]
                   for line in text.splitlines()), m["name"]
    ratio = [line for line in text.splitlines() if line.startswith("# failed_ratio ")]
    assert ratio and float(ratio[0].split()[2]) == 0.0
    assert "reconciliation:" in text


@pytest.mark.skipif(not DATA.is_dir(), reason="needs /root/testdata/sf0.01")
def test_short_untraced_pass_reports_the_end_to_end_metrics():
    result, _ = _run("tpch_wire", trace=0)
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in DECLARED["end_to_end"]}
    for m in DECLARED["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
