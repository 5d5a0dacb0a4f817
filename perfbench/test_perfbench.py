"""Self-tests of the benchmark at a tiny input size.

    python3 -m pytest perfbench -q

They check that every named metric is printed with its unit, that a
deliberately corrupted output is counted as failed, that the span tree of a
traced run is well formed, and that BENCHMARK.json matches the catalogue.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import metrics  # noqa: E402
import run  # noqa: E402
from spans import Tracer, check_tree, self_times  # noqa: E402

TINY = ["--seed", "5", "--seconds", "1", "--scale", "0.01"]


def _bench(*args: str) -> tuple[int, dict, dict]:
    p = subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert lines, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def _check_result(res: dict, catalogue) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m[0]: m[1] for m in catalogue}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], float)


def test_end_to_end_metrics_present_with_units():
    rc, _, res = _bench("--workload", "polygon_join", "--trace", "0", *TINY)
    assert rc == 0
    _check_result(res, metrics.END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_layer_metrics_and_span_tree():
    rc, _, res = _bench("--workload", "batch_flagship", "--trace", "1", *TINY)
    assert rc == 0
    _check_result(res, metrics.PER_LAYER)
    rec = json.loads((ROOT / ".perfbench" / "results"
                      / "batch_flagship-seed5-trace1.json").read_text())
    assert rec["spans"] and check_tree(rec["spans"]) == []
    names = {s["name"] for s in rec["spans"]}
    assert {"functions.extract", "operators.spatial_join", "operators.tile",
            "plans.flagship", "action.noop"} <= names
    layers = rec["layers"]
    assert layers["extract.rows_in"] > layers["extract.rows_out"] > 0
    assert layers["spatial_join.broadcast_bytes"] > 0
    assert layers["agg.shuffle_records"] > 0


def test_no_engine_means_no_result():
    bare = ROOT / ".perfbench" / f"bare-{os.getpid()}"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch_flagship",
                            *TINY], cwd=bare, capture_output=True, text=True, timeout=120)
    finally:
        shutil.rmtree(bare)
    assert p.returncode != 0 and p.stdout == ""


@pytest.fixture(scope="module")
def spark():
    import host
    work = ROOT / ".perfbench" / f"selftest-{os.getpid()}"
    settings = host.apply_settings(work)
    os.environ["PYTHONPATH"] = str(ROOT)
    from geoclimate_spark.session import get_spark
    s = get_spark(app="perfbench-selftest", cores=settings["nproc"])
    s.sparkContext.setLogLevel("ERROR")
    yield s, work
    run.stop_spark(s)
    shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("name", metrics.WORKLOADS)
def test_corrupted_output_counts_as_failed(spark, name):
    from workloads import WORKLOADS
    s, work = spark
    wl = WORKLOADS[name](s, work / name, 7, 0.01, Tracer(False), None)
    try:
        wl.prepare(0)
        assert wl.job(1).ok
        assert not wl.job(2, corrupt=True).ok
        jobs = run.run_jobs(wl, 0.0)
        assert jobs and all(j["ok"] for j in jobs)
    finally:
        wl.close()


def test_span_tree_checks():
    tr = Tracer(True)
    with tr.span("job", job=0):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("c"):
                pass
    assert check_tree(tr.spans) == []
    assert all(v >= 0 for v in self_times(tr.spans).values())
    assert {s["job"] for s in tr.spans} == {0}
    orphan = [dict(tr.spans[1], parent=99)]
    assert check_tree(tr.spans[:1] + orphan)
    inverted = [dict(tr.spans[0]), dict(tr.spans[1], start=tr.spans[0]["start"] - 1)]
    assert check_tree(inverted)
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tail_percentile():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    v, pct, beyond = run.tail([float(i) for i in range(40)])
    assert (v, pct, beyond) == (29.0, 75.0, 10)


def test_benchmark_json_matches_catalogue():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert bench["command"][:2] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in bench["workloads"]} <= set(metrics.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == \
        list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        [m[:3] for m in metrics.PER_LAYER]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
