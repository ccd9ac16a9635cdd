"""Spans around the engine's public calls, and the Spark event log read back.

Spans are recorded from outside the program: ``Tracer.instrument`` replaces
the public ``CrawlEngine`` and ``CrawlStorage`` methods on one instance with
wrappers that record (name, start, end, parent, round) and set a Spark local
property naming the span, so every job the call starts carries the span in
the event log. The round number is the id all spans of a round share.

``EventLog`` reads the uncompressed event log of a finished session into
jobs, stages and tasks, and maps every SQL metric accumulator to the plan
node that owns it. Python operators are recognised by the function they run
(the name appears in the node's plan string), so their rows and seconds are
attributed to a layer without touching the program.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
from dataclasses import dataclass
from pathlib import Path

from harness import SPAN_PROPERTY

ENGINE_CALLS = ("bootstrap", "run_round")
STORAGE_CALLS = (
    "write_round",
    "write_bloom_round",
    "read_table",
    "commit_manifest",
    "save_filters",
    "compact_table",
    "expire_frontier_snapshots",
    "gc_bloom_rounds",
)

# Python function name inside the plan string -> layer
PY_LAYERS = {
    "_flags": "admission",
    "fetch_batches": "fetch",
    "probe": "seen",
    "build": "bloom_fold",
}
PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
_PY_FN = re.compile(r"\b(" + "|".join(PY_LAYERS) + r")\(")
_SEEN_SCAN = re.compile(r"/seen(/|\]|,)")


@dataclass
class Span:
    sid: str
    name: str
    start: float
    end: float
    parent: str | None
    round: int


class Tracer:
    """Records spans for one instrumented engine (one crawl)."""

    def __init__(self, sc, tag: str):
        self.sc = sc
        self.tag = tag
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._seq = 0
        self._engine: tuple[str, int] | None = None  # open engine span
        self._local = threading.local()

    def _next_id(self, name: str) -> str:
        with self._lock:
            self._seq += 1
            return f"{self.tag}:{self._seq}:{name}"

    def _record(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def _call(self, name: str, fn, parent: str | None, rnd: int, *a, **k):
        sid = self._next_id(name)
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, sid)
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(sid)
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, prev)
            self._record(Span(sid, name, t0, t1, parent, rnd))

    def instrument(self, engine, storage) -> None:
        def engine_wrapper(method):
            fn = getattr(engine, method)

            def wrapped(*a, **k):
                rnd = int(a[0]) if method == "run_round" else 0

                def body(*a2, **k2):
                    self._engine = (self._local.stack[-1], rnd)
                    try:
                        return fn(*a2, **k2)
                    finally:
                        self._engine = None

                return self._call(method, body, None, rnd, *a, **k)

            setattr(engine, method, wrapped)

        def storage_wrapper(method):
            fn = getattr(storage, method)

            def wrapped(*a, **k):
                name = method
                if a and isinstance(a[0], str):
                    name = f"{method}:{a[0]}"
                stack = self._local.__dict__.get("stack") or []
                eng = self._engine
                parent = stack[-1] if stack else (eng[0] if eng else None)
                rnd = eng[1] if eng else -1
                return self._call(name, fn, parent, rnd, *a, **k)

            setattr(storage, method, wrapped)

        for m in ENGINE_CALLS:
            engine_wrapper(m)
        for m in STORAGE_CALLS:
            storage_wrapper(m)


# --------------------------------------------------------------- event log
def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """The parts of one application's event log the layer metrics need."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.accums: dict[int, tuple[str, str, str]] = {}  # id -> (layer, metric, type)
        self.seen_scan_rows: set[int] = set()  # output rows of seen-table scans
        self.written_files_accums: set[int] = set()
        self.executions: dict[int, float] = {}  # SQL execution id -> start
        self.driver_accums: list[tuple[int, int, float]] = []  # (execution, id, value)
        for line in path.open():
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1e3,
                    "span": (ev.get("Properties") or {}).get(SPAN_PROPERTY),
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "tasks": 0,
                    "run_ms": [],
                    "cpu_ns": 0,
                    "gc_ms": 0,
                    "shuffle_write": 0,
                    "output_bytes": 0,
                    "accums": {},
                }
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if st is None or not tm:
                    continue
                st["tasks"] += 1
                st["run_ms"].append(tm["Executor Run Time"])
                st["cpu_ns"] += tm["Executor CPU Time"]
                st["gc_ms"] += tm["JVM GC Time"]
                st["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = self.stages.get(info["Stage ID"])
                if st is not None:
                    st["accums"] = {
                        a["ID"]: _num(a.get("Value")) for a in info.get("Accumulables", [])
                    }
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.executions[ev["executionId"]] = ev["time"] / 1e3
                self._map_plan(ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                self._map_plan(ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    self.driver_accums.append((ev["executionId"], acc_id, value))

    def _map_plan(self, node: dict) -> None:
        name = node["nodeName"]
        if name in PY_NODES:
            m = _PY_FN.search(node.get("simpleString", ""))
            layer = PY_LAYERS[m.group(1)] if m else "other"
            for met in node["metrics"]:
                self.accums[met["accumulatorId"]] = (layer, met["name"], met["metricType"])
            if name == "FlatMapGroupsInPandas":
                # rows INTO the grouped function: the shuffle feeding it
                acc = _first_metric(node["children"], "records read")
                if acc is not None:
                    self.accums[acc] = (layer, "rows in", "sum")
        elif name.startswith("Scan parquet") and _SEEN_SCAN.search(
            node.get("metadata", {}).get("Location", "")
        ):
            self.seen_scan_rows.update(
                m["accumulatorId"] for m in node["metrics"] if m["name"] == "number of output rows"
            )
        for met in node["metrics"]:
            if met["name"] == "number of written files":
                self.written_files_accums.add(met["accumulatorId"])
        for child in node["children"]:
            self._map_plan(child)

    # ----------------------------------------------------------- queries
    def jobs_between(self, t0: float, t1: float) -> list[int]:
        return [j for j, job in self.jobs.items() if t0 <= job["submit"] <= t1]

    def stages_of(self, job_ids) -> list[int]:
        out = []
        for j in job_ids:
            out.extend(s for s in self.jobs[j]["stages"] if s in self.stages)
        return sorted(set(out))

    def python(self, stage_ids) -> dict[str, dict[str, float]]:
        """Per layer: rows in, seconds run, seconds starting workers."""
        out: dict[str, dict[str, float]] = {}
        for s in stage_ids:
            for acc, value in self.stages[s]["accums"].items():
                hit = self.accums.get(acc)
                if hit is None:
                    continue
                layer, metric, mtype = hit
                d = out.setdefault(layer, {"rows": 0.0, "run_s": 0.0, "start_s": 0.0})
                scale = 1e-9 if mtype == "nsTiming" else 1e-3
                if metric == "time to run Python workers":
                    d["run_s"] += value * scale
                elif metric == "time to start Python workers":
                    d["start_s"] += value * scale
                elif metric == "rows in" or (
                    metric == "number of output rows" and layer != "bloom_fold"
                ):
                    d["rows"] += value
        return out

    def stage_layers(self, s: int) -> set[str]:
        return {
            self.accums[a][0] for a in self.stages[s]["accums"] if a in self.accums
        }

    def written_files(self, t0: float, t1: float) -> float:
        return sum(
            v
            for ex, acc, v in self.driver_accums
            if acc in self.written_files_accums and t0 <= self.executions.get(ex, 0) <= t1
        )


def _first_metric(nodes, metric: str) -> int | None:
    for n in nodes:
        if n["nodeName"] in PY_NODES:
            continue
        for m in n["metrics"]:
            if m["name"] == metric:
                return m["accumulatorId"]
        found = _first_metric(n["children"], metric)
        if found is not None:
            return found
    return None


def find_event_log(directory: Path) -> Path:
    logs = sorted(p for p in directory.rglob("events_*") if p.is_file())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log under {directory}, found {len(logs)}")
    return logs[0]


# ------------------------------------------------------------ crawl layers
def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


TAIL = ("write_round:documents", "write_round:frontier", "write_round:metrics",
        "write_bloom_round", "save_filters")
MAINTENANCE = ("compact_table", "expire_frontier_snapshots", "gc_bloom_rounds")


def crawl_layers(spans: list[Span], log: EventLog, manifests: list[dict]) -> dict:
    """Per-layer metrics of one traced crawl (see BENCHMARK.json layer map).
    ``spans`` are that crawl's spans only; ``manifests`` its round manifests."""
    t0 = min(s.start for s in spans)
    t1 = max(s.end for s in spans)
    crawl_stages = log.stages_of(log.jobs_between(t0, t1))
    rounds = sorted((s for s in spans if s.name == "run_round"), key=lambda s: s.round)
    boot = [s for s in spans if s.name == "bootstrap"]
    by_id = {s.sid: s for s in spans}
    top = [s for s in spans if s.parent in by_id and by_id[s.parent].name in ENGINE_CALLS]

    def total(pred) -> float:
        return sum(s.end - s.start for s in top if by_id[s.parent].name == "run_round" and pred(s.name))

    tail_s = driver_s = 0.0
    accounted = []
    round_jobs = []
    for r in rounds:
        kids = [s for s in top if s.parent == r.sid]
        tail = [s for s in kids if s.name in TAIL]
        # the concurrent tail counts as one interval, first start to last end
        parts = [(s.start, s.end) for s in kids if s.name not in TAIL]
        if tail:
            parts.append((min(s.start for s in tail), max(s.end for s in tail)))
            tail_s += parts[-1][1] - parts[-1][0]
        wall = r.end - r.start
        driver = wall - _union([(max(a, r.start), min(b, r.end)) for a, b in parts])
        driver_s += driver
        # driver is the remainder, so this ratio is 1 exactly when the parts
        # lie inside the round and do not overlap: it checks the span
        # structure, not how work is attributed to the parts
        accounted.append((sum(b - a for a, b in parts) + driver) / max(wall, 1e-9))
        round_jobs.append(log.jobs_between(r.start, r.end))

    all_jobs = [j for js in round_jobs for j in js]
    stages = log.stages_of(all_jobs)
    py = log.python(stages)
    n_rounds = max(len(rounds), 1)
    seen_sink_jobs = [j for j in all_jobs if (log.jobs[j]["span"] or "").endswith(":write_round:seen")]
    antijoin_rows = sum(
        v
        for s in log.stages_of(seen_sink_jobs)
        for a, v in log.stages[s]["accums"].items()
        if a in log.seen_scan_rows
    )
    fetch_stages = [s for s in stages if "fetch" in log.stage_layers(s)]
    skew = 0.0
    if fetch_stages:
        big = max(fetch_stages, key=lambda s: sum(log.stages[s]["run_ms"]))
        times = log.stages[big]["run_ms"]
        skew = max(times) / max(statistics.median(times), 1.0)

    fetched = sum(m["fetched"] for m in manifests)
    ranked = sum(m["frontier_size"] - m["skipped_banned"] - m["skipped_robots"] for m in manifests)
    cands = sum(m["candidates"] for m in manifests)
    deduped = sum(m["deduped"] for m in manifests)

    def pyv(layer, key):
        return py.get(layer, {}).get(key, 0.0)

    return {
        "engine.bootstrap_s": sum(s.end - s.start for s in boot),
        "engine.round_s": sum(r.end - r.start for r in rounds),
        "engine.rounds": len(rounds),
        "engine.driver_s": driver_s,
        "engine.accounted_min": min(accounted) if accounted else 0.0,
        "engine.accounted_max": max(accounted) if accounted else 0.0,
        "storage.edges_sink_s": total(lambda n: n == "write_round:edges"),
        "storage.seen_sink_s": total(lambda n: n == "write_round:seen"),
        "storage.tail_s": tail_s,
        "storage.read_table_s": sum(s.end - s.start for s in spans if s.name.startswith("read_table")),
        "storage.read_table_calls": sum(1 for s in spans if s.name.startswith("read_table")),
        "storage.commit_s": total(lambda n: n == "commit_manifest"),
        "storage.maintenance_s": total(lambda n: n.split(":")[0] in MAINTENANCE),
        "storage.bytes_written": sum(log.stages[s]["output_bytes"] for s in crawl_stages),
        "storage.files_written": log.written_files(t0, t1),
        "admission.py_rows": pyv("admission", "rows"),
        "admission.py_s": pyv("admission", "run_s"),
        "admission.admit_ratio": fetched / max(ranked, 1),
        "fetch.py_rows": pyv("fetch", "rows"),
        "fetch.py_s": pyv("fetch", "run_s"),
        "fetch.task_skew": skew,
        "seen.probe_py_rows": pyv("seen", "rows"),
        "seen.probe_py_s": pyv("seen", "run_s"),
        "seen.antijoin_scan_rows": antijoin_rows,
        "seen.dedup_ratio": deduped / max(cands, 1),
        "bloom_fold.py_rows": pyv("bloom_fold", "rows"),
        "bloom_fold.py_s": pyv("bloom_fold", "run_s"),
        "spark.jobs_per_round": len(all_jobs) / n_rounds,
        "spark.stages_per_round": len(stages) / n_rounds,
        "spark.tasks_per_round": sum(log.stages[s]["tasks"] for s in stages) / n_rounds,
        "spark.shuffle_write_bytes": sum(log.stages[s]["shuffle_write"] for s in stages),
        "spark.executor_cpu_s": sum(log.stages[s]["cpu_ns"] for s in stages) / 1e9,
        "spark.jvm_gc_s": sum(log.stages[s]["gc_ms"] for s in stages) / 1e3,
    }


# Layer metrics that count work rather than time it: two traced runs of one
# seed must report them identically.
CRAWL_COUNTS = (
    "engine.rounds",
    "storage.read_table_calls",
    "admission.py_rows",
    "fetch.py_rows",
    "seen.probe_py_rows",
    "seen.antijoin_scan_rows",
    "bloom_fold.py_rows",
    "spark.jobs_per_round",
    "spark.stages_per_round",
    "spark.tasks_per_round",
)
