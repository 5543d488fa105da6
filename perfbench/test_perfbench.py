"""Tests of the benchmark itself: statistics, spans, the generator, and
a tiny-scale run of each workload.

    python3 -m pytest perfbench/test_perfbench.py -q

The two smoke runs start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(xs, 50) == 3.0
    assert measure.percentile(xs, 0) == 1.0
    assert measure.percentile(xs, 100) == 5.0
    assert measure.percentile(xs, 90) == pytest.approx(4.6)
    assert measure.percentile([7.0], 99) == 7.0


@pytest.mark.parametrize(
    "n,expected",
    [(19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    t = measure.tail([float(i) for i in range(n)])
    assert (t[0] if t else None) == expected


def test_summary_reports_count_median_and_tail():
    s = measure.summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100
    assert s["median"] == pytest.approx(50.5)
    assert s["tail_p"] == 90.0
    assert s["tail"] == pytest.approx(90.1)
    assert measure.summary([1.0, 2.0])["tail"] is None


def test_geomean():
    assert measure.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert measure.geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        measure.geomean([1.0, 0.0])


def test_warm_figures_rest_on_per_entry_medians():
    def op(entry, wall, cpu):
        return {"entry": entry, "wall": wall, "latency": wall - 0.1, "cpu": cpu}

    ops = [op("a", 1.1, 2.0), op("a", 1.1, 2.0), op("b", 0.6, 1.0), op("b", 0.6, 1.0)]
    f = measure.warm_figures(ops)
    assert f["ops_per_s"] == pytest.approx(2 / 1.7)
    assert f["op_geomean_s"] == pytest.approx(measure.geomean([1.0, 0.5]))
    assert f["cpu_s_per_op"] == pytest.approx(1.5)
    # one sample per entry ten times slower moves none of them
    slow = ops + [op("a", 11.0, 20.0), op("b", 6.0, 10.0)]
    slow += [op("a", 1.1, 2.0), op("b", 0.6, 1.0)]
    assert measure.warm_figures(slow) == pytest.approx(f)


def test_union_length_merges_overlaps():
    assert measure.union_length([]) == 0.0
    assert measure.union_length([(0, 1), (2, 3)]) == 2.0
    assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert measure.union_length([(0, 10), (2, 3)]) == 10.0
    assert measure.clipped([(0, 4), (5, 6), (-2, -1)], 1, 5.5) == [(1, 4), (5, 5.5)]


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_tracer_records_parents_and_ops():
    tr = measure.Tracer(True)
    tr.op = "cold0:x"
    with tr.span("op"):
        with tr.span("run"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == [("op", None, "cold0:x"), ("run", 0, "cold0:x")]
    off = measure.Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def _digest(d):
    out = {}
    for base, _dirs, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = (fh.read(), os.stat(p).st_mtime)
    return out


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    sa = gen.generate(a, seed=5, scale=0.01)
    gen.generate(b, seed=5, scale=0.01)
    gen.generate(c, seed=6, scale=0.01)
    da, db, dc = _digest(a), _digest(b), _digest(c)

    def content(d):
        return {k: v[0] for k, v in d.items()}

    assert content(da) == content(db)
    assert content(da) != content(dc)
    # table mtimes are write times; only the ingest batches pin theirs
    assert all(da[k] == db[k] for k in da if k.startswith("ingest"))
    assert sa["lineitem"]["rows"] == 6000 and sa["nation"]["rows"] == 25
    batches = sorted(k for k in da if k.startswith("ingest"))
    assert len(batches) == gen.INGEST_BATCHES
    mtimes = [da[k][1] for k in batches]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload,trace", [("olap", 0), ("curation", 1)])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and result["failed"] == 0 and result["correct"] is True
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
