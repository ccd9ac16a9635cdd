"""The crawl workload: ``CrawlEngine(spark, cfg, CrawlStorage(...)).run(seeds)``
to frontier exhaustion, checked against the sequential oracle crawler."""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from pathlib import Path

from harness import tree_size

# Sized so one crawl (bootstrap + 2 rounds) fits a run at local[4]; every
# crawl layer runs, maintenance included. Rounds this small are dominated by
# the engine's fixed per-round cost.
CONFIG = dict(
    web_hosts=300,
    max_depth=1,
    round_seconds=1e9,
    shuffle_partitions=8,
    compact_seen_every=2,
    expire_frontier=True,
)
SEEDS_PER_HOST = 2
COUNTERS = (
    "frontier_size fetched ok_200 skipped_robots skipped_politeness "
    "skipped_banned candidates deduped new_urls"
).split()


def inputs(seed: int):
    from crawlspark.config import CrawlConfig
    from crawlspark.sources import synthweb

    cfg = CrawlConfig(seed=seed, **CONFIG)
    return cfg, synthweb.seed_list(cfg, n=SEEDS_PER_HOST * cfg.web_hosts)


def oracle(cfg, seeds: list[str], cache_dir: Path) -> dict:
    """The sequential oracle's crawl of (cfg, seeds), computed once and
    cached as JSON; ``wall_s`` is the single-threaded baseline."""
    import oracle_crawler

    key = hashlib.sha256(json.dumps([repr(cfg), seeds]).encode()).hexdigest()[:16]
    path = cache_dir / f"crawl-oracle-{key}.json"
    if path.exists():
        return json.loads(path.read_text())
    t0 = time.perf_counter()
    res = oracle_crawler.crawl(cfg, seeds)
    wall = time.perf_counter() - t0
    out = {
        "wall_s": wall,
        "rounds": res.rounds,
        "seen": sorted(res.seen),
        "order": [[d.round, d.fetch_time, d.host, d.host_rank, d.url_canon] for d in res.docs],
        "per_round": [{k: m[k] for k in ["round", *COUNTERS]} for m in res.per_round],
    }
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(out))
    tmp.replace(path)
    return out


def run_once(spark, cfg, seeds, root: Path, cpu, tracer_factory=None) -> dict:
    """One crawl from an empty root. ``cpu()`` reads the process tree's CPU
    seconds; round times come from a plain timer around ``run_round``. With
    ``tracer_factory`` the engine and storage are instrumented, and
    ``spans`` holds the spans recorded up to the end of ``run()``."""
    from crawlspark.engine import CrawlEngine
    from crawlspark.storage import CrawlStorage

    shutil.rmtree(root, ignore_errors=True)
    storage = CrawlStorage(spark, root)
    engine = CrawlEngine(spark, cfg, storage)
    tracer = None
    if tracer_factory is not None:
        tracer = tracer_factory()
        tracer.instrument(engine, storage)
    round_s: list[float] = []
    round_cpu_s: list[float] = []
    inner = engine.run_round

    def timed_round(rnd):
        t0, c0 = time.perf_counter(), cpu()
        try:
            return inner(rnd)
        finally:
            round_s.append(time.perf_counter() - t0)
            round_cpu_s.append(cpu() - c0)

    engine.run_round = timed_round
    t0, c0 = time.perf_counter(), cpu()
    summary = engine.run(seeds)
    wall, cpu_s = time.perf_counter() - t0, cpu() - c0
    # the crawl's own spans: later reads through the storage (the check's)
    # are recorded too, but are not the program's
    spans = list(tracer.spans) if tracer is not None else []
    return {
        "wall_s": wall,
        "cpu_s": cpu_s,
        "round_s": round_s,
        "round_cpu_s": round_cpu_s,
        "summary": summary,
        "storage": storage,
        "root": root,
        "spans": spans,
    }


def manifests(storage, rounds: int) -> list[dict]:
    return [storage.manifest(r) for r in range(1, rounds + 1)]


def check(run: dict, want: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): one operation per crawl round; a round
    fails if its counters or its slice of the crawl order differ from the
    oracle. A seen-set difference fails the last round."""
    storage, summary = run["storage"], run["summary"]
    rounds = max(summary["rounds"], want["rounds"])
    problems: list[str] = []
    failed: set[int] = set()
    rows = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    got_order: dict[int, list] = {}
    for r in rows:
        got_order.setdefault(r["round"], []).append(
            [r["round"], r["fetch_time"], r["host"], r["host_rank"], r["doc_id"]]
        )
    want_order: dict[int, list] = {}
    for o in want["order"]:
        want_order.setdefault(o[0], []).append(o)
    want_counts = {m["round"]: m for m in want["per_round"]}
    for rnd in range(1, rounds + 1):
        got = storage.manifest(rnd)
        exp = want_counts.get(rnd)
        if got is None or exp is None or any(got.get(k) != exp[k] for k in COUNTERS):
            failed.add(rnd)
            problems.append(f"round {rnd}: counters differ")
        if got_order.get(rnd, []) != want_order.get(rnd, []):
            failed.add(rnd)
            problems.append(f"round {rnd}: crawl order differs")
    seen = {r["url_canon"] for r in storage.read_table("seen").select("url_canon").collect()}
    if seen != set(want["seen"]):
        failed.add(rounds)
        problems.append("seen set differs")
    if not summary["exhausted"]:
        failed.add(rounds)
        problems.append("frontier not exhausted")
    return rounds, len(failed), problems


def urls(run: dict) -> int:
    """URLs fetched plus URLs deduplicated: the contract's unit of work."""
    ms = manifests(run["storage"], run["summary"]["rounds"])
    return run["summary"]["totals"]["fetched"] + sum(m["deduped"] for m in ms)


def store_bytes_per_url(run: dict) -> float:
    return tree_size(run["root"]) / max(run["summary"]["totals"]["seen"], 1)
