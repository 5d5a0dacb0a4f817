#!/usr/bin/env python3
"""Benchmark of the geoclimate_spark engine: one workload per run.

    python3 perfbench/run.py --workload batch_flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts one Spark driver at
``local[nproc]``, prepares its inputs from ``--seed`` several times
(generate, materialize, compute the expected result) and runs one untimed
first job: ``setup_s`` is session start + the median preparation + that
first job. After two more untimed jobs it drives a closed loop with one
client for ``--seconds``: the next job starts when the previous one has
returned and passed its correctness check. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` alternates an untraced job with a traced
round (prefix cuts, spans, Spark status-store reads), at least three of
each, and prints the per-layer metrics. The last stdout line is the result
object; the full record, and the spans of a traced run, go to
``.perfbench/results/``. Exit status: 0 when every check passed, 1 when one
failed, 2 when the checkout holds no engine to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
WARMUP_JOBS = 4  # untimed jobs after set-up: the JIT is still warming
MIN_JOBS = 3
MIN_ROUNDS = 3
SPARK_CONF_KEYS = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                   "spark.local.dir", "spark.sql.adaptive.enabled",
                   "spark.sql.autoBroadcastJoinThreshold",
                   "spark.sql.execution.arrow.maxRecordsPerBatch", "spark.ui.enabled")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    with at least ten samples beyond it; the maximum when there are fewer
    than eleven samples."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, 0
    return v[n - 11], 100.0 * (n - 10) / n, 10


def run_jobs(wl, seconds: float) -> list[dict]:
    """Closed loop, one client: jobs back to back until ``seconds`` pass."""
    jobs: list[dict] = []
    t_end = time.perf_counter() + seconds
    while (time.perf_counter() < t_end or len(jobs) < MIN_JOBS) and not wl.exhausted():
        jobs.append(checked_job(wl, len(jobs)))
    return jobs


def checked_job(wl, jid: int) -> dict:
    t0 = time.perf_counter()
    try:
        j = wl.job(jid)
        return {"wall_s": j.wall_s, "rows": j.rows, "ok": j.ok}
    except Exception:  # a job that raises counts as failed; the loop goes on
        traceback.print_exc()
        return {"wall_s": time.perf_counter() - t0, "rows": 0, "ok": False}


def traced_rounds(wl, stores, tracer, seconds: float) -> tuple[list[dict], list[dict]]:
    """Alternate one untraced job and one traced round until ``seconds``
    pass (at least MIN_ROUNDS times), so both sides see the same host. A
    round runs every cut of the workload once and reads the stores after
    each; returns (untraced jobs, rounds)."""
    from stores import profile
    from workloads import COUNT, noop
    jobs: list[dict] = []
    rounds: list[dict] = []
    t_end = time.perf_counter() + seconds
    while (time.perf_counter() < t_end or len(rounds) < MIN_ROUNDS) and not wl.exhausted():
        tracer.enabled = False
        jobs.append(checked_job(wl, 2 * len(rounds)))
        tracer.enabled = True
        if wl.exhausted():
            break
        jid = 2 * len(rounds) + 1
        rec: dict[str, dict] = {}
        for cut in wl.cut_names:
            stores.mark()
            if cut == "job":
                wl.extras = {}
                r = checked_job(wl, jid)
                extras = wl.extras
            else:
                t0 = time.perf_counter()
                with tracer.span(f"cut.{cut}", job=jid):
                    df = wl.cut(cut)
                    with tracer.span("action.noop"):
                        n = noop(df, COUNT)["n"]
                r = {"wall_s": time.perf_counter() - t0, "rows": n}
                extras = {}
            execs = extras.pop("executions", []) + stores.take()
            rec[cut] = {**r, **profile(execs), **extras}
        rounds.append(rec)
    return jobs, rounds


def layer_metrics(wl, rounds: list[dict], untraced: list[dict], setup: dict,
                  cores: int) -> dict[str, float]:
    from workloads import AGG_COUNTERS, JOIN_COUNTERS, median_or_0 as med
    v: dict[str, float] = {"session.start_s": setup["start_s"],
                           "sources.materialize_s": med(r["materialize_s"]
                                                         for r in setup["reps"])}
    counters = {"spatial_join": JOIN_COUNTERS, "agg": AGG_COUNTERS}
    prev = None
    for cut, metric in wl.chain:
        v[metric] = med(r[cut]["wall_s"] - (r[prev]["wall_s"] if prev else 0.0)
                         for r in rounds)
        for name, key in counters.get(metric.split(".")[0], {}).items():
            v[name] = med(r[cut].get(key, 0.0) - (r[prev].get(key, 0.0) if prev else 0.0)
                           for r in rounds)
        prev = cut
    if "scan" in wl.cut_names:
        v["sources.scan_rows"] = med(r["scan"].get("scan_rows", 0.0) for r in rounds)
        v["sources.scan_bytes"] = med(r["scan"].get("scan_bytes", 0.0) for r in rounds)
    if "extract" in wl.cut_names:
        v["extract.rows_in"] = med(r["scan"]["rows"] for r in rounds)
        v["extract.rows_out"] = med(r["extract"]["rows"] for r in rounds)
        v["extract.geo_ratio"] = v["extract.rows_out"] / max(1.0, v["extract.rows_in"])
    if "spatial_join" in wl.cut_names:
        v["spatial_join.match_ratio"] = med(
            r["spatial_join"]["rows"] / max(1.0, r["spatial_join"].get("join_rows", 0.0))
            for r in rounds)
    if wl.join_call_s:
        v["spatial_join.covering_build_s"] = wl.join_call_s[0]
    jobs = [r["job"] for r in rounds]
    v["spark.task_s"] = med(j.get("task_s", 0.0) for j in jobs)
    v["spark.busy_share"] = med(j.get("task_s", 0.0) / (j["wall_s"] * cores) for j in jobs)
    v["spark.gc_s"] = med(j.get("gc_s", 0.0) for j in jobs)
    v["spark.fetch_wait_s"] = med(j.get("fetch_wait_s", 0.0) for j in jobs)
    v["spark.tasks_failed"] = float(sum(j.get("tasks_failed", 0.0) for j in jobs))
    v.update(wl.layer_values(rounds))
    p50 = med(j["wall_s"] for j in untraced)
    v["trace.overhead_s"] = med(j["wall_s"] for j in jobs) - p50
    v["trace.self_sum_ratio"] = wl.job_parts_s(v, rounds) / p50 if p50 else 0.0
    return v


def end_to_end(jobs: list[dict], setup: dict, peak_rss: int) -> tuple[dict, dict]:
    walls = [j["wall_s"] for j in jobs]
    t, pct, beyond = tail(walls)
    values = {
        "setup_s": (setup["start_s"] + statistics.median(r["wall_s"] for r in setup["reps"])
                    + setup["first_job"]["wall_s"]),
        "pages_per_s": sum(j["rows"] for j in jobs) / sum(walls),
        "job_s.p50": statistics.median(walls),
        "peak_rss_mb": peak_rss / (1 << 20),
    }
    # Recorded, not bounded: a run has fewer than 11 jobs, so no percentile
    # has ten samples beyond it and this is the maximum of a handful.
    return values, {"job_s.tail": t, "job_s.tail_percentile": pct,
                    "job_s.tail_beyond": beyond, "n_jobs": len(jobs)}


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(args, settings: dict, work: Path) -> dict:
    import host
    from geoclimate_spark.session import get_spark
    from stores import Stores
    from spans import Tracer
    from workloads import WORKLOADS

    traced = bool(args.trace)
    tracer = Tracer(traced)
    cpu0 = host.cpu_times()
    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app=f"perfbench-{args.workload}", cores=settings["nproc"])
        spark.sparkContext.setLogLevel("ERROR")
        setup: dict = {"start_s": time.perf_counter() - t0, "reps": []}
        wl = None
        try:
            stores = Stores(spark) if traced else None
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale, tracer, stores)
            for rep in range(SETUP_REPS):
                t1 = time.perf_counter()
                with tracer.span(f"prepare.{rep}", job=-1 - rep):
                    rec = wl.prepare(rep)
                setup["reps"].append({**rec, "wall_s": time.perf_counter() - t1})
            setup["first_job"] = checked_job(wl, -1 - SETUP_REPS)
            warmup = [checked_job(wl, -2 - SETUP_REPS - i) for i in range(WARMUP_JOBS)]
            tracer.enabled = False
            if traced:
                jobs, rounds = traced_rounds(wl, stores, tracer, args.seconds)
            else:
                jobs, rounds = run_jobs(wl, args.seconds), []
            conf = dict(spark.sparkContext.getConf().getAll())
        finally:
            if wl is not None:
                wl.close()
            stop_spark(spark)
    cpu1 = host.cpu_times()
    checked = [setup["first_job"], *warmup, *jobs, *(r["job"] for r in rounds)]
    failed = sum(not j["ok"] for j in checked)
    e2e, tail_info = end_to_end(jobs, setup, rss.peak)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "host": {**settings, "steal_share": host.steal_share(cpu0, cpu1)},
        "spark_conf": {k: conf.get(k) for k in SPARK_CONF_KEYS},
        "inputs": wl.shares, "setup": setup, "end_to_end": e2e, **tail_info,
        "jobs": jobs, "attempted": len(checked), "failed": failed,
    }
    if traced:
        record["layers"] = layer_metrics(wl, rounds, jobs, setup, settings["nproc"])
        record["rounds"] = rounds
        record["spans"] = tracer.spans
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (self-tests run at a tiny scale)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "geoclimate_spark" / "session.py").is_file():
        print(f"perfbench: no geoclimate_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path[:0] = [str(HERE), str(ROOT)]
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    import host
    from metrics import result_metrics
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    out = ROOT / ".perfbench"
    work = out / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        settings = host.apply_settings(work)
        record = measure(args, settings, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = out / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=float) + "\n")
    values = record["layers"] if args.trace else record["end_to_end"]
    print(json.dumps({k: record[k] for k in ("workload", "seed", "host", "inputs", "job_s.tail",
                                             "job_s.tail_percentile", "n_jobs")}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": result_metrics(values, bool(args.trace)),
    }))
    return 0 if record["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
