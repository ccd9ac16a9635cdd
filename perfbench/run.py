#!/usr/bin/env python3
"""Crawl benchmark: one command, every metric by name and unit, outputs checked.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics (a metric that does not apply to the
workload reads 0). perfbench/README.md records the workloads, the layer map
and the host sizing.

End-to-end times are CPU seconds of the process tree (driver, JVM, Python
workers): on a host whose CPUs are shared, wall time drifts with the load
of other tenants. Wall times are reported by the traced run.

An untraced run sets up three times (the first launches the JVM) and reports
the median set-up, then repeats the workload (at least once) while another
repetition still fits in ``--seconds`` and reports medians. A traced run
makes two traced repetitions in a session with the event log on, and one
untraced repetition in a plain session as the reference for the tracing
overhead; the count-type layer metrics of the two traced repetitions must
be identical, or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
TRACED_REPS = 2


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("crawl", "opsuite"))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def _result(spec_metrics, values: dict, attempted: int, failed: int) -> dict:
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec_metrics
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _report(problems: list[str]) -> None:
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)


def _note(what: str, seconds) -> None:
    print(f"perfbench: {what}: " + " ".join(f"{s:.2f}" for s in seconds), file=sys.stderr)


def _same_counts(runs: list[dict], keys) -> None:
    diff = [k for k in keys if len({r[k] for r in runs}) != 1]
    if diff:
        detail = ", ".join(f"{k}={[r[k] for r in runs]}" for k in diff)
        raise SystemExit(
            f"perfbench: count-type layer metrics differ between traced runs: {detail}"
        )


def _set_up(work: Path, tree, make_inputs, aqe: bool):
    """SETUPS set-ups (session start, worker warm-up, inputs); the session
    of the last one stays open. Returns it with each set-up's CPU seconds."""
    import harness as h

    spark, cpu = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        c0 = tree.cpu_seconds()
        spark = h.start_session(work, aqe=aqe)
        h.warm_python_workers(spark)
        make_inputs()
        cpu.append(tree.cpu_seconds() - c0)
    _note("set-up cpu s", cpu)
    return spark, cpu


def _repeat(seconds: int, once, wall) -> list:
    """Call ``once`` at least once, and again while another fits."""
    reps = []
    t0 = time.perf_counter()
    while True:
        reps.append(once())
        if time.perf_counter() - t0 + wall(reps[-1]) > seconds:
            return reps


# ------------------------------------------------------------------ crawl
def _check_crawl(r, want, tally: list[int]) -> None:
    import crawl

    a, f, problems = crawl.check(r, want)
    tally[0] += a
    tally[1] += f
    _report(problems)


def run_crawl(args, work: Path, cache: Path, tree) -> tuple[dict, int, int]:
    import crawl
    import harness as h

    cfg, seeds = crawl.inputs(args.seed)
    want = crawl.oracle(cfg, seeds, cache)
    if args.trace:
        return trace_crawl(work, cfg, seeds, want, tree)
    spark, setup_cpu = _set_up(work, tree, lambda: crawl.inputs(args.seed), aqe=False)
    tally = [0, 0]

    def once():
        h.collect_garbage(spark)
        r = crawl.run_once(spark, cfg, seeds, work / "crawl", tree.cpu_seconds)
        _check_crawl(r, want, tally)  # before the next repetition reuses the root
        return r

    reps = _repeat(args.seconds, once, lambda r: r["wall_s"])
    _note("crawl wall s", [r["wall_s"] for r in reps])
    _note("crawl cpu s", [r["cpu_s"] for r in reps])
    spark.stop()
    values = {
        "setup_s": h.median(setup_cpu),
        "cpu_s": h.median([r["cpu_s"] for r in reps]),
        "items_per_cpu_s": h.median([crawl.urls(r) / r["cpu_s"] for r in reps]),
        "op_cpu_s_p50": h.median([c for r in reps for c in r["round_cpu_s"]]),
    }
    return values, tally[0], tally[1]


def trace_crawl(work: Path, cfg, seeds, want, tree) -> tuple[dict, int, int]:
    """Two traced crawls in a session with the event log on (the first runs
    in a fresh JVM), then one untraced crawl in a plain session as the
    reference for the tracing overhead."""
    import crawl
    import harness as h
    import tracing

    log_dir = work / "eventlog"
    spark = h.start_session(work, event_log=log_dir)
    h.warm_python_workers(spark)
    tally = [0, 0]
    traced = []
    for i in range(TRACED_REPS):
        r = crawl.run_once(
            spark, cfg, seeds, work / f"traced-{i}", tree.cpu_seconds,
            tracer_factory=lambda i=i: tracing.Tracer(spark.sparkContext, f"t{i}"),
        )
        _check_crawl(r, want, tally)
        traced.append(r)
    spark.stop()
    spark = h.start_session(work)
    h.warm_python_workers(spark)
    tree.reset_peak()
    untraced = crawl.run_once(spark, cfg, seeds, work / "untraced", tree.cpu_seconds)
    peak = tree.peak_bytes
    _check_crawl(untraced, want, tally)
    spark.stop()
    _note("traced crawl wall s", [r["wall_s"] for r in traced])
    _note("untraced crawl wall s", [untraced["wall_s"]])

    log = tracing.EventLog(tracing.find_event_log(log_dir))
    layers = []
    for r in traced:
        ms = crawl.manifests(r["storage"], r["summary"]["rounds"])
        layer = tracing.crawl_layers(r["spans"], log, ms)
        for k in crawl.COUNTERS:
            layer[f"count.{k}"] = sum(m[k] for m in ms)
        layers.append(layer)
    _same_counts(layers, list(tracing.CRAWL_COUNTS) + [f"count.{k}" for k in crawl.COUNTERS])
    for layer in layers:
        if not 0.99 <= layer["engine.accounted_min"] <= layer["engine.accounted_max"] <= 1.01:
            raise SystemExit(
                "perfbench: storage spans plus engine.driver_s do not account for "
                f"the round wall time ({layer['engine.accounted_min']:.3f}.."
                f"{layer['engine.accounted_max']:.3f})"
            )
    values = dict(layers[-1])  # the second traced crawl: its JVM is warm
    # worker start-up is paid in set-up (the warm-up job), so count the
    # whole traced session
    values["spark.py_start_s"] = sum(
        d["start_s"] for d in log.python(list(log.stages)).values()
    )
    values["storage.bytes_per_url"] = crawl.store_bytes_per_url(traced[-1])
    values.update(_bench_walls(traced[0]["wall_s"], traced[-1]["wall_s"], untraced["wall_s"]))
    values["bench.urls_per_s"] = crawl.urls(untraced) / untraced["wall_s"]
    values["bench.op_s_p50"] = h.median(untraced["round_s"])
    values["bench.peak_rss_mb"] = peak / 2**20
    values["bench.oracle_s"] = want["wall_s"]
    values["bench.oracle_over_engine"] = want["wall_s"] / untraced["wall_s"]
    return values, tally[0], tally[1]


def _bench_walls(cold_traced: float, traced: float, untraced: float) -> dict:
    return {
        "bench.cold_traced_wall_s": cold_traced,
        "bench.traced_wall_s": traced,
        "bench.untraced_wall_s": untraced,
        "bench.tracing_overhead": traced / untraced - 1.0,
    }


# ---------------------------------------------------------------- opsuite
def run_opsuite(args, work: Path, cache: Path, tree) -> tuple[dict, int, int]:
    import harness as h
    import opsuite

    data = work / "data"
    if args.trace:
        return trace_opsuite(args, work, data, tree)
    spark, setup_cpu = _set_up(work, tree, lambda: opsuite.generate(args.seed, data), aqe=True)
    c0 = tree.cpu_seconds()
    results = opsuite.collect_pass(spark, data)  # the untimed warm pass
    warm_cpu = tree.cpu_seconds() - c0
    def once():
        h.collect_garbage(spark)
        return opsuite.run_pass(spark, data, tree.cpu_seconds)

    passes = _repeat(args.seconds, once, lambda p: sum(p["wall"].values()))
    _note("warm pass cpu s", [warm_cpu])
    _note("pass wall s", [sum(p["wall"].values()) for p in passes])
    _note("pass cpu s", [p["cpu_s"] for p in passes])
    spark.stop()
    attempted, failed, problems = opsuite.check(results, data)
    _report(problems)
    values = opsuite.end_to_end(passes)
    values["setup_s"] = h.median(setup_cpu) + warm_cpu
    return values, attempted, failed


def trace_opsuite(args, work: Path, data: Path, tree) -> tuple[dict, int, int]:
    """A traced session started without a worker warm-up, so its first pass
    is cold; two warm traced passes follow. Then a plain session gives the
    untraced reference pass and the outputs for the check."""
    import harness as h
    import opsuite
    import tracing

    opsuite.generate(args.seed, data)
    log_dir = work / "eventlog"
    spark = h.start_session(work, event_log=log_dir, aqe=True)
    cold = opsuite.run_pass(spark, data, tree.cpu_seconds, tag="cold")
    warm = [
        opsuite.run_pass(spark, data, tree.cpu_seconds, tag=f"t{i}")
        for i in range(TRACED_REPS)
    ]
    spark.stop()
    spark = h.start_session(work, aqe=True)
    h.warm_python_workers(spark)
    tree.reset_peak()
    untraced = opsuite.run_pass(spark, data, tree.cpu_seconds)
    peak = tree.peak_bytes
    results = opsuite.collect_pass(spark, data)
    spark.stop()
    attempted, failed, problems = opsuite.check(results, data)
    _report(problems)

    log = tracing.EventLog(tracing.find_event_log(log_dir))
    per_pass = [opsuite.pass_stats(log, f"t{i}") for i in range(TRACED_REPS)]
    _same_counts(per_pass, [k for k in per_pass[0] if not k.startswith("spark.")])
    values = {}
    for q in opsuite.QUERIES:
        values[f"ops.{q}_s"] = h.median([p["wall"][q] for p in warm])
        values[f"ops.{q}_cold_s"] = cold["wall"][q]
    for k in ("spark.shuffle_write_bytes", "spark.executor_cpu_s", "spark.jvm_gc_s"):
        values[k] = h.median([p[k] for p in per_pass])
    values["spark.py_start_s"] = opsuite.pass_stats(log, "cold")["spark.py_start_s"]
    walls = [sum(p["wall"].values()) for p in (cold, *warm, untraced)]
    values.update(_bench_walls(walls[0], h.median(walls[1:-1]), walls[-1]))
    values["bench.urls_per_s"] = opsuite.SIZES["documents"] / untraced["wall"]["url_canonicalize"]
    values["bench.op_s_p50"] = h.median(untraced["wall"].values())
    values["bench.peak_rss_mb"] = peak / 2**20
    return values, attempted, failed


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "crawlspark").is_dir():
        print(f"perfbench: no crawlspark/ package next to {HERE.name}/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cache = HERE / "_work" / "cache"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    import harness as h

    runner = run_crawl if args.workload == "crawl" else run_opsuite
    try:
        with h.ProcessTree(watch_peak=bool(args.trace)) as tree:
            values, attempted, failed = runner(args, work, cache, tree)
    finally:
        h.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps(_result(metrics, values, attempted, failed)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
