"""Batch-iterative crawl engine (SURVEY.md §3 E1; BASELINE.json:6 north_star).

One driver loop iteration = one crawl round. ``run_round`` runs it as an
ordered list of phase methods; each bracketed stage is run by the method
named beside it:

  _admit       frontier snapshot → [broadcast robots join → ban flag from
               the driver's per-host cuckoo probe → JVM robots path match]
  _rank        [per-host priority ranking → crawl-delay budget admission]
  _fetch       [salted repartition → mapInPandas fetch/parse] → edges append
  _candidates  [canonicalized extracted links → priority policy →
               intra-round dedup]
  _seen        [Bloom prefilter → exact seen anti-join] → seen append
  _tail        [documents + next frontier snapshot + metrics appends ‖
               Bloom fold + filter checkpoint ‖ fused round counters]
  _commit      [atomic manifest commit]
  _maintain    [Bloom blob GC → seen/edges compaction → frontier expiry]

Crawl-ordering determinism (BASELINE.json:14 "matching the reference's crawl
ordering"): the reference is sequential, so a parallel engine reproduces its
order only if order is a **pure function of the data**. The total crawl order
here is the tuple

    (fetch_round, fetch_time, host, host_rank)

where ``fetch_time = host_rank * crawl_delay`` is the *virtual* politeness
clock (P4). Discovery order — the tie-breaker for priority and the
first-wins rule for dedup — is the tuple

    (priority=depth, discovered_round, d_time, d_host, d_rank, d_pos, url_hash)

with (d_time, d_host, d_rank) = the parent's fetch-order key and d_pos = the
link's position in the parent page. **No global row_number / dense sequence
is ever materialized**: a dense id would need a single-partition window (or a
driver-side zipWithIndex), which serializes at 10^10-frontier scale; a
multi-column sort key costs nothing and is exactly as deterministic.

Skew (G3): hot domains concentrate in one host partition. The *politeness*
path (per-host window P2) must stay whole-host, but its per-row work is a
comparison, so skew there is benign; the *fetch/parse* path is the expensive
one and is salted — ``repartition(host_hash, salt)`` with
``salt = pmod(xxhash64(url_canon), S)`` — safe because fetch is per-URL pure
and happens after admission.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.config import BLOOM_FP_RATE, CrawlConfig
from crawlspark.filters import CuckooFilter
from crawlspark.functions.canon import canonicalize_series, with_url_identity
from crawlspark.functions.robots import allowed_expr, compile_rules, path_expr
from crawlspark.sources import synthweb
from crawlspark.storage import CrawlStorage

# Discovery-order tuple: first-wins dedup and priority tie-breaking are both
# decided by lexicographic order on these columns (see module docstring).
DISCOVERY_ORDER = [
    "priority",
    "discovered_round",
    "d_time",
    "d_host",
    "d_rank",
    "d_pos",
    "url_hash",
]

FRONTIER_COLS = [
    "url",
    "url_canon",
    "url_hash",
    "host",
    "host_hash",
    "depth",
    "priority",
    "discovered_round",
    "d_time",
    "d_host",
    "d_rank",
    "d_pos",
    "parent_hash",
]

# mapInPandas fetch output: spans come back as parallel primitive arrays and
# are zipped into array<struct> JVM-side (arrays_zip stays in codegen and
# sidesteps pandas→Arrow nested-struct conversion cost).
FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("host_hash", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("fetch_time", T.DoubleType()),
        T.StructField("host_rank", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("kind", T.ArrayType(T.StringType())),
        T.StructField("text", T.ArrayType(T.StringType())),
        T.StructField("media_ref", T.ArrayType(T.StringType())),
        T.StructField("offset", T.ArrayType(T.IntegerType())),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("links_canon", T.ArrayType(T.StringType())),
    ]
)

def _parallel(*thunks) -> None:
    """Run independent Spark jobs concurrently from driver threads (shared
    SparkSession; standard Spark concurrent-job scheduling). Exceptions
    propagate after all threads join."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        for f in futures:
            f.result()


def _signed64(v: int) -> int:
    """Two's-complement view of an unsigned 64-bit hash (numpy int64-safe)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _next_frontier_size(manifest: dict, default: int = 0) -> int:
    """Size of the frontier snapshot a committed round leaves for the next
    round (bootstrap manifests record only ``frontier_size``)."""
    return manifest.get("next_frontier_size", manifest.get("frontier_size", default))


def _first_wins(df: DataFrame) -> DataFrame:
    """A1 first-wins dedup: keep each url_hash's earliest row in discovery
    order."""
    w = Window.partitionBy("url_hash").orderBy(*DISCOVERY_ORDER)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# Per-python-worker cache of deserialized filter structures. Bloom blobs are
# keyed by their immutable (sidecar-path, round, bucket) identity, so entries
# stay valid across rounds; Arrow batches after the first are pure probes.
_WORKER_CACHE: dict = {}


_SPANS_EXPR = (
    "transform(arrays_zip(kind, text, media_ref, offset), "
    "s -> struct(s.kind as kind, s.text as text, "
    "s.media_ref as media_ref, s.offset as offset))"
)


@dataclass
class RoundMetrics:
    round: int = 0
    frontier_size: int = 0
    fetched: int = 0
    ok_200: int = 0
    skipped_robots: int = 0
    skipped_politeness: int = 0
    skipped_banned: int = 0
    candidates: int = 0
    deduped: int = 0
    new_urls: int = 0
    extras: dict = field(default_factory=dict)


@dataclass
class _Round:
    """What one round's phases hand each other: the previous round's
    manifest, this round's metrics, and the frames a later phase reads.
    Frames cached through ``keep`` are released when the round ends."""

    rnd: int
    prev: dict
    m: RoundMetrics
    approx: int = 0  # frontier size, exact from the previous manifest
    py_parts: int = 4  # width of the round's bucket-keyed Python stages
    fr: DataFrame | None = None  # frontier with is_banned / is_allowed flags
    eligible: DataFrame | None = None
    disallowed: DataFrame | None = None
    banned_deferred: DataFrame | None = None
    admitted: DataFrame | None = None
    deferred: DataFrame | None = None
    fetched: DataFrame | None = None
    edges: DataFrame | None = None
    linked: DataFrame | None = None  # edges whose target is within max_depth
    cand: DataFrame | None = None
    new: DataFrame | None = None
    seen_add: DataFrame | None = None
    cached: list[DataFrame] = field(default_factory=list)

    def keep(self, df: DataFrame) -> DataFrame:
        self.cached.append(df)
        return df.persist()


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, storage: CrawlStorage):
        self.spark = spark
        self.cfg = cfg
        self.storage = storage
        # A3/A5 driver-side Bloom state is ONLY an int index
        # {bucket: round of its latest merged blob parquet}: the blobs
        # themselves live in the _filters/bloom sidecar and are read
        # bucket-addressed by the executors that own the bucket. At the
        # 10^10 design point the index is O(num_buckets) ints where the
        # blob bytes are ~12 GB (filters.py docstring math).
        self._bloom_index: dict[int, int] = {}
        self.cuckoo = CuckooFilter(capacity=max(64, cfg.web_hosts * 4))
        self.history: list[RoundMetrics] = []
        # pagerank-priority rank cache: (basis_round, ranks DataFrame). The
        # ranks are a pure function of the committed edges table at the
        # basis round, so the cache is a recompute-avoidance only — resume
        # or cache loss recomputes the identical frame.
        self._rank_cache: tuple[int, DataFrame] | None = None
        # A6 frontier cardinality estimate of the previous round (sizes new
        # Bloom buckets).
        self._last_distinct_est = 0
        # Built once from the robots table: the broadcast robots dimension
        # (rules compiled for the JVM matcher) and the cuckoo key of each
        # host whose exact ban flag is set (A4). Driver-local frames go
        # through Arrow, a LocalTableScan; a list of Rows would scan a
        # Python RDD, running Python tasks in every job that reads it.
        robots = synthweb.robots_table(cfg)
        self._robots = spark.createDataFrame(
            pa.Table.from_pylist(
                [{**r, "rules": compile_rules(r["rules"])} for r in robots]
            ),
            "host string, rules array<struct<allow:boolean,prefix:string,"
            "regex:string>>, crawl_delay double, banned boolean",
        )
        self._banned_hosts = {
            r["host"]: _signed64(synthweb.stable_hash("host:" + r["host"], cfg.seed))
            for r in robots
            if r["banned"]
        }

    def _bloom_capacity(self) -> int:
        """Per-bucket Bloom capacity, sized from the A6 cardinality estimate
        (approx_count_distinct over the frontier, committed in the round
        manifest): a NEW bucket's filter is provisioned for ~4 rounds of
        growth at the observed per-bucket rate, floored at 2^16. Existing
        buckets keep their shape (the fold ORs into the previous blob);
        undersizing only raises the FP rate, and the exact anti-join
        backstop keeps correctness independent of the estimate (SURVEY.md
        §2.3 exactness invariant)."""
        per_bucket = -(-self._last_distinct_est * 4 // max(1, self.cfg.num_host_buckets))
        return max(1 << 16, per_bucket)

    def _need(self, n_rows: int) -> int:
        """Partitions ``n_rows`` rows fill at a quarter of
        ``fetch_rows_per_partition`` each."""
        return -(-n_rows * 4 // self.cfg.fetch_rows_per_partition)

    def _py_parts(self, *caps: int) -> int:
        """Width of a Python stage keyed by host bucket: at least 4 tasks,
        at most one per bucket, per configured shuffle partition and per
        extra cap given."""
        return max(4, min(self.cfg.shuffle_partitions, self.cfg.num_host_buckets, *caps))

    def _load_filters(self, rnd: int) -> None:
        """Restore the Bloom index and cuckoo filter committed with round
        ``rnd`` (the latest committed pickle is authoritative on resume)."""
        state = self.storage.load_filters(rnd)
        self._bloom_index = {int(b): int(r) for b, r in state["bloom_index"].items()}
        self.cuckoo = CuckooFilter.from_bytes(state["cuckoo"])

    def _save_filters(self, rnd: int) -> None:
        self.storage.save_filters(rnd, dict(self._bloom_index), self.cuckoo.to_bytes())

    # -------------------------------------------------------------- bans
    def _refresh_cuckoo(self, rnd: int) -> None:
        """A4: deletable politeness bans. Hosts banned in the robots fixture
        are inserted at bootstrap; from ``cfg.unban_round`` on they are
        *deleted* (the operation a Bloom filter cannot do), after which their
        URLs become eligible again. The exact ban state is
        ``robots.banned AND rnd < unban_round``; the cuckoo filter mirrors it
        (``_banned_now`` probes it)."""
        if rnd == 0:
            for key in self._banned_hosts.values():
                self.cuckoo.insert(key)
        elif (
            self.cfg.unban_round is not None
            and rnd >= self.cfg.unban_round
            and self.cuckoo.n_items > 0
        ):
            for key in self._banned_hosts.values():
                self.cuckoo.delete(key)

    def _banned_now(self, rnd: int) -> list[str]:
        """Hosts banned in round ``rnd``: the cuckoo filter probed on the
        driver once per host whose exact ban flag is set, so the truth table
        is ``cuckoo ∧ banned ∧ bans_active`` and a false positive never
        bans."""
        if self.cfg.unban_round is not None and rnd >= self.cfg.unban_round:
            return []
        hits = self.cuckoo.contains_many(list(self._banned_hosts.values()))
        return [h for h, hit in zip(self._banned_hosts, hits) if hit]

    def _with_maybe_seen(self, cand: DataFrame, n_parts: int | None = None) -> DataFrame:
        """A3 Bloom prefilter, partition-addressable: candidates are
        co-partitioned with the filter by host-hash bucket, and each task
        loads only its buckets' merged blobs from the sidecar parquet
        (executor-cached under the immutable (round, bucket) key — a blob
        file is never rewritten, so cache entries never invalidate). The
        driver broadcasts ONLY the int index {bucket: latest_round}.

        The repartition by host_hash doubles as the co-location the exact
        anti-join (A2) wants on its probe side: HashPartitioning(host_hash)
        satisfies the join's ClusteredDistribution(host_hash, url_hash), and
        per-executor filter memory is the executor's bucket share, not the
        whole structure."""
        idx = {int(b): int(r) for b, r in self._bloom_index.items()}
        bc = self.spark.sparkContext.broadcast(idx)
        base = self.storage.bloom_base_path()
        out_schema = T.StructType(
            list(cand.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
        )

        def probe(batches):
            import numpy as np

            from crawlspark.filters import load_bucket_blob

            for pdf in batches:
                res = np.zeros(len(pdf), dtype=bool)
                if len(pdf):
                    hh = pdf["host_hash"].to_numpy()
                    uh = pdf["url_hash"].to_numpy()
                    for b in np.unique(hh):
                        r = bc.value.get(int(b))
                        if r is None:
                            continue  # bucket has no blob yet -> definitely new
                        key = ("bloomblob", base, r, int(b))
                        hit = _WORKER_CACHE.get(key)
                        if hit is None:
                            if len(_WORKER_CACHE) > 512:
                                _WORKER_CACHE.clear()
                            hit = _WORKER_CACHE[key] = (
                                load_bucket_blob(base, r, int(b)),
                            )
                        f = hit[0]
                        if f is not None:
                            m = hh == b
                            res[m] = f.contains_many(uh[m])
                out = pdf.copy()
                out["maybe_seen"] = res
                yield out

        parts = n_parts or self._py_parts()
        return cand.repartition(parts, "host_hash").mapInPandas(probe, out_schema)

    # --------------------------------------------------------- bootstrap
    def _seed_frontier(self, seeds: list[str], rnd: int) -> DataFrame:
        """Seed URLs → frontier rows discovered in round ``rnd``: canonical
        (on the driver), at depth 0 / priority 0.0, first-wins deduped by
        seed position."""
        urls = pd.Series(seeds, dtype="object")
        cols = {"url": urls, "seed_pos": range(len(seeds)),
                "url_canon": canonicalize_series(urls)}
        fr = self.spark.createDataFrame(
            pa.table(cols), "url string, seed_pos int, url_canon string"
        ).filter(F.col("url_canon").isNotNull())
        fr = with_url_identity(fr, num_buckets=self.cfg.num_host_buckets)
        fr = (
            fr.withColumn("depth", F.lit(0))
            .withColumn("priority", F.lit(0.0))
            .withColumn("discovered_round", F.lit(rnd))
            .withColumn("d_time", F.lit(0.0))
            .withColumn("d_host", F.lit(""))
            .withColumn("d_rank", F.col("seed_pos"))
            .withColumn("d_pos", F.lit(0))
            .withColumn("parent_hash", F.lit(None).cast("long"))
        )
        return _first_wins(fr).select(*FRONTIER_COLS)

    def bootstrap(self, seeds: list[str]) -> None:
        """Round 0: seed list → canonical dedup'd frontier + seen + filters."""
        self.storage.write_round("frontier", self._seed_frontier(seeds, 0), 0)
        seen0 = self.storage.read_round("frontier", 0).select(
            "url_hash", "url_canon", "host_hash", F.lit(0).alias("first_round")
        )
        self.storage.write_round("seen", seen0, 0)
        # A5: Bloom sidecar from round-0 seen, sized from the seed count
        self._fold_into_bloom(
            self.storage.read_round("seen", 0), 0,
            n_parts=self._py_parts(self._need(len(seeds))),
        )
        self._refresh_cuckoo(0)
        self._save_filters(0)
        n = self.storage.read_round("frontier", 0).count()
        self.storage.commit_manifest(
            0, {"phase": "bootstrap", "frontier_size": n, "totals": {"seen": n}}
        )

    def inject_seeds(self, seeds: list[str]) -> dict:
        """Mid-crawl seed injection: add new seed URLs to a live (or even
        exhausted) crawl as the crawl's next committed snapshot round.

        The injection is a full round in the manifest protocol — frontier
        snapshot, seen append, Bloom fold, filter pickle, then the atomic
        manifest commit LAST — so it inherits every resume guarantee the
        fetch rounds have: a crash mid-injection leaves orphan dirs that a
        re-run overwrites (write_round is overwrite-idempotent), and a crash
        after the commit resumes cleanly at the next round. Because the
        manifest's ``next_frontier_size`` becomes non-zero again, injecting
        into an exhausted crawl re-opens it — ``run()`` simply continues.

        Semantics match bootstrap: seeds canonicalize, first-wins dedup by
        seed position, and anti-join against the EXACT seen table
        (enqueue-time seen — a URL ever crawled or enqueued is never
        re-fetched, so injection is idempotent: re-injecting the same list
        is a no-op). New entries enter at depth 0 / priority 0.0 with
        ``discovered_round`` = the injection round. No fetching happens in
        the injection round; the sequential oracle models the same round
        (tests/oracle_crawler.crawl(injections=...)).
        """
        latest = self.storage.latest_manifest()
        if latest is None:
            self.bootstrap(seeds)
            n = self.storage.manifest(0)["frontier_size"]
            return {"round": 0, "injected": n, "phase": "bootstrap"}
        rnd = latest["round"] + 1
        self._load_filters(latest["round"])
        fr = self._seed_frontier(seeds, rnd)
        seen = self.storage.read_table("seen", upto_round=rnd - 1).select(
            "host_hash", "url_hash"
        )
        new = fr.join(seen, ["host_hash", "url_hash"], "left_anti").persist()
        next_frontier = (
            self.storage.read_round("frontier", rnd - 1)
            .select(*FRONTIER_COLS)
            .unionByName(new)
        )
        self.storage.write_round("frontier", next_frontier, rnd)
        seen_add = new.select(
            "url_hash", "url_canon", "host_hash", F.lit(rnd).alias("first_round")
        )
        self.storage.write_round("seen", seen_add, rnd)
        n_new = self.storage.read_round("seen", rnd).count()
        self._fold_into_bloom(
            self.storage.read_round("seen", rnd), rnd,
            n_parts=self._py_parts(self._need(len(seeds))),
        )
        self._save_filters(rnd)
        prev_size = _next_frontier_size(latest)
        totals = dict(latest.get("totals", {}))
        totals["seen"] = totals.get("seen", 0) + n_new
        self.storage.commit_manifest(
            rnd,
            {
                "phase": "inject",
                "injected": n_new,
                "frontier_size": prev_size,
                "next_frontier_size": prev_size + n_new,
                "totals": totals,
            },
        )
        self.storage.gc_bloom_rounds(self._bloom_index)
        new.unpersist()
        return {"round": rnd, "injected": n_new, "phase": "inject"}

    def _fold_into_bloom(
        self, seen_rows: DataFrame, rnd: int, n_parts: int | None = None
    ) -> None:
        """A5: fold the round's new (host_hash, url_hash) rows into the
        per-bucket Bloom sidecar, fully distributed: each applyInPandas task
        loads its OWN bucket's previous merged blob from the sidecar parquet
        (round pointed to by the broadcast int index), ORs in the new hashes,
        and emits the new merged blob; Spark executors write the result back
        as this round's blob parquet. Filter bytes never transit the driver —
        the only driver traffic is the list of touched bucket ids (ints, one
        tiny column-pruned read-back) used to advance the index."""
        cap, fp = self._bloom_capacity(), BLOOM_FP_RATE
        idx = {int(b): int(r) for b, r in self._bloom_index.items()}
        bc = self.spark.sparkContext.broadcast(idx)
        base = self.storage.bloom_base_path()

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            from crawlspark.filters import BloomFilter, load_bucket_blob

            b = int(pdf["host_hash"].iloc[0])
            prev = bc.value.get(b)
            f = load_bucket_blob(base, prev, b) if prev is not None else None
            if f is None:
                f = BloomFilter(cap, fp)
            f.add_many(pdf["url_hash"].to_numpy())
            return pd.DataFrame({"host_hash": [b], "blob": [f.to_bytes()]})

        # pre-cluster by bucket at an explicit width: HashPartitioning on the
        # group key satisfies the groupBy's clustering, so applyInPandas adds
        # no second shuffle and small rounds spin up few python workers
        # instead of spark.sql.shuffle.partitions of them (worker-attach is
        # real fixed cost — see _fetch's sizing).
        parts = n_parts or self._py_parts()
        blob_df = (
            seen_rows.select("host_hash", "url_hash")
            .repartition(parts, "host_hash")
            .groupBy("host_hash")
            .applyInPandas(build, "host_hash int, blob binary")
        )
        self.storage.write_bloom_round(blob_df, rnd)
        touched = (
            self.spark.read.parquet(self.storage.bloom_round_path(rnd))
            .select("host_hash")
            .collect()
        )
        for row in touched:
            self._bloom_index[int(row[0])] = rnd

    # ------------------------------------------------------------- round
    def run_round(self, rnd: int) -> RoundMetrics:
        """Consume frontier snapshot rnd-1, commit round rnd. The phases run
        in order, each timed into ``m.extras["timings"]`` under its name;
        the frames they cached are released when the round ends."""
        st = _Round(rnd, self.storage.manifest(rnd - 1) or {}, RoundMetrics(round=rnd))
        timings: dict[str, float] = {}
        for phase in (
            self._admit,
            self._rank,
            self._fetch,
            self._candidates,
            self._seen,
            self._tail,
            self._commit,
            self._maintain,
        ):
            t0 = time.perf_counter()
            phase(st)
            timings[phase.__name__.lstrip("_")] = time.perf_counter() - t0
        st.m.extras["timings"] = timings
        for df in st.cached:
            df.unpersist()
        self.history.append(st.m)
        return st.m

    def _admit(self, st: _Round) -> None:
        """Size the round, then flag each frontier row banned (A4) and
        robots-allowed (R2) and split the frontier by its flags."""
        cfg, rnd = self.cfg, st.rnd
        frontier = self.storage.read_round("frontier", rnd - 1).select(*FRONTIER_COLS)
        st.approx = _next_frontier_size(st.prev)
        # A6 feed-forward: the previous round's HLL estimate sizes any NEW
        # per-bucket Bloom filters this round's fold creates
        self._last_distinct_est = int(st.prev.get("frontier_distinct_est", 0) or 0)

        # Size this round's shuffle width from the (already known) frontier
        # size: every job barrier costs latency proportional to task count,
        # and small rounds at full configured width are pure scheduling
        # overhead (a 1.4k-URL round does not need 32-partition windows).
        # At cluster scale rounds are large and this clamps to the
        # configured width. Applies to window/join/groupBy stages planned
        # this round, and caps the bucket-keyed Python stages (Bloom probe
        # and fold) the same way; results are partition-count invariant
        # (pinned by the cross-parallelism determinism tests).
        need = self._need(st.approx)
        round_parts = max(8, min(cfg.shuffle_partitions, need))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(round_parts))
        st.py_parts = self._py_parts(need)

        self._refresh_cuckoo(rnd)  # unban (cuckoo delete) takes effect here
        fr = frontier.join(F.broadcast(self._robots), "host", "left")
        fr = fr.withColumn("crawl_delay", F.coalesce("crawl_delay", F.lit(1.0)))

        # A4 ban flag (a per-host fact, probed on the driver) and R2 robots
        # path match, both JVM expressions: admission crosses into no Python.
        is_banned = F.coalesce(F.col("host").isin(self._banned_now(rnd)), F.lit(False))
        fr = st.fr = st.keep(
            fr.withColumn("is_banned", is_banned)
            .withColumn("_path", path_expr(F.col("url_canon")))
            .withColumn("is_allowed", allowed_expr(F.col("_path"), F.col("rules")))
            .drop("_path")
        )
        # Stats over this frame are NOT computed here: all of the round's
        # counters fold into ONE tagged-union aggregation job (_round_stats)
        # in the round-tail parallel group — nothing on the fetch path
        # depends on them.
        st.m.frontier_size = st.approx  # exact: the previous manifest's arithmetic

        # Banned rows: deferred (stay in frontier) when an unban is coming,
        # dropped permanently when the ban is forever (else no exhaustion).
        banned_rows = fr.filter(F.col("is_banned"))
        st.banned_deferred = (
            banned_rows if cfg.unban_round is not None else banned_rows.limit(0)
        )
        st.disallowed = fr.filter(~F.col("is_banned") & ~F.col("is_allowed"))
        st.eligible = fr.filter(~F.col("is_banned") & F.col("is_allowed"))

    def _rank(self, st: _Round) -> None:
        """P2–P4: per-host ranking, budget admission, virtual fetch clock."""
        w = Window.partitionBy("host").orderBy(*DISCOVERY_ORDER)
        budget = F.greatest(
            F.lit(1), F.floor(F.lit(self.cfg.round_seconds) / F.col("crawl_delay"))
        )
        ranked = st.keep(
            st.eligible.withColumn("host_rank", F.row_number().over(w))
            .withColumn("host_budget", budget)
        )
        st.deferred = ranked.filter(F.col("host_rank") > F.col("host_budget"))
        st.admitted = ranked.filter(
            F.col("host_rank") <= F.col("host_budget")
        ).withColumn("fetch_time", F.col("host_rank") * F.col("crawl_delay"))

    def _fetch(self, st: _Round) -> None:
        """G3 salted repartition → F1/F2 fetch+parse → F3 links → S4 edges
        append."""
        cfg = self.cfg
        # Partition count adapts to the frontier size (known exactly from
        # the previous manifest — no counting job): python-stage tasks have
        # real fixed cost, so small rounds use few fat partitions, big
        # rounds the full configured width. The rows-per-partition target is
        # itself derived from the per-URL CPU cost (_fetch_rows_target), so
        # heavy-work rounds saturate the configured width instead of running
        # 16-wide on 32 cores (the round-4 probe's finding).
        fetch_parts = max(
            4,
            min(
                cfg.shuffle_partitions,
                -(-max(st.approx, 1) // _fetch_rows_target(cfg)),
            ),
        )
        # salt cardinality must be MUCH larger than the partition count:
        # with only ~fetch_parts salts a hot host maps to ~fetch_parts keys
        # and balls-in-bins collisions leave 2-3x stragglers (measured);
        # 64x oversalting gives each host ~64 keys per partition so the
        # per-partition key-count variance (std ~ sqrt(keys)) stays small
        salt_n = fetch_parts * 64
        admitted = st.admitted.withColumn(
            "salt", F.pmod(F.xxhash64("url_canon"), F.lit(salt_n))
        ).repartition(fetch_parts, "host_hash", "salt")
        fetched = st.fetched = st.keep(
            admitted.mapInPandas(_make_fetcher(cfg), FETCH_SCHEMA)
        )

        # F3 link extraction → S4 edges append. Links arrive from the fetch
        # pass already resolved+canonicalized (fused C8 — no second python
        # stage here); the explode and identity columns stay in codegen.
        edges = (
            fetched.filter(F.col("status") == 200)
            .select(
                F.col("url_canon").alias("src_canon"),
                F.col("url_hash").alias("src_hash"),
                F.col("host").alias("p_host"),
                F.col("fetch_time").alias("p_time"),
                F.col("host_rank").alias("p_rank"),
                F.col("depth").alias("p_depth"),
                F.posexplode(F.arrays_zip("links", "links_canon")).alias(
                    "pos", "_lnk"
                ),
            )
            .withColumn("href", F.col("_lnk.links"))
            .withColumn("dst_canon", F.col("_lnk.links_canon"))
            .drop("_lnk")
            .filter(F.col("dst_canon").isNotNull())
        )
        edges = st.edges = st.keep(
            with_url_identity(
                edges.withColumnRenamed("dst_canon", "url_canon"),
                num_buckets=cfg.num_host_buckets,
            )
        )
        edges_out = edges.select(
            "src_hash",
            F.col("href").alias("dst_url"),
            F.col("url_canon").alias("dst_canon"),
            F.col("url_hash").alias("dst_hash"),
            "pos",
        )
        # driver-side job pipelining: the edges sink materializes the edges
        # cache the candidate pipeline needs next, so it runs NOW; the
        # documents sink only reads the (already materialized) fetch cache
        # and is deferred into the round-tail parallel group — the round
        # pays one barrier here, not two.
        self.storage.write_round("edges", edges_out, st.rnd)

    def _candidates(self, st: _Round) -> None:
        """U1/U2 candidate frontier rows with lineage → P1 priority policy →
        A1 intra-round first-wins dedup."""
        cfg, rnd = self.cfg, st.rnd
        st.linked = st.edges.filter(F.col("p_depth") + 1 <= cfg.max_depth)
        cand = st.linked.select(
            F.col("href").alias("url"),
            "url_canon",
            "url_hash",
            "host",
            "host_hash",
            (F.col("p_depth") + 1).alias("depth"),
            (F.col("p_depth") + 1).cast("double").alias("priority"),
            F.lit(rnd).alias("discovered_round"),
            F.col("p_time").alias("d_time"),
            F.col("p_host").alias("d_host"),
            F.col("p_rank").alias("d_rank"),
            F.col("pos").alias("d_pos"),
            F.col("src_hash").alias("parent_hash"),
        )
        # P1 priority policy: "indegree" boosts URLs linked more often this
        # round — priority = depth - min(n_links, cap)/(cap+1). The count
        # window shares the dedup window's partitioning (url_hash), so
        # Catalyst plans BOTH over ONE exchange; the boost is identical for
        # every row of a url_hash partition, so first-wins tie-breaking
        # inside the partition is unchanged. Exact-double discipline: count
        # is a long, cast once, one division, one subtraction — the
        # sequential oracle replays the identical IEEE-754 ops.
        if cfg.priority_mode == "indegree":
            wcnt = Window.partitionBy("url_hash")
            boost = (
                F.least(
                    F.count(F.lit(1)).over(wcnt), F.lit(cfg.indegree_cap)
                ).cast("double")
                / F.lit(float(cfg.indegree_cap + 1))
            )
            cand = cand.withColumn("priority", F.col("priority") - boost)
        elif cfg.priority_mode == "pagerank":
            cand = self._with_pagerank_boost(cand, rnd)
        st.cand = _first_wins(cand)

    def _with_pagerank_boost(self, cand: DataFrame, rnd: int) -> DataFrame:
        """P1 "pagerank": rank this round's candidates by exact
        fixed-point-integer PageRank (ops/graph) over the edge graph
        accumulated so far — edges rounds <= rnd; this round's edges were
        just written by _fetch, so the ranking sees them. The ranks are
        bit-deterministic (integer sums are associative-exact), so the
        sequential oracle replays the identical boost; the float discipline
        matches "indegree": one long→double cast, one division by 10^12
        (exactly representable), one subtraction. boost < 1 by construction
        (a single node's scaled rank is < SCALE), so depth levels never
        interleave. Cost is fixed per round: one scan of the edges-so-far
        table + O(pagerank_iterations) jobs (test_pagerank_priority_jobs_
        are_flat) — the per-round rendering of authority-ordered crawling
        (Cho, Garcia-Molina & Page, WWW 1998 [pub])."""
        from crawlspark.ops.graph import SCALE, pagerank

        cfg = self.cfg
        # Staleness knob (cfg.pagerank_every = k): rank against edges
        # through basis = rnd - (rnd % k). basis == 0 → no boost yet
        # (pure bfs round). Ranks for a basis are computed once and
        # cached; pure-function-of-storage semantics keep resume exact
        # and let the oracle replay the identical staleness.
        k_every = max(1, cfg.pagerank_every)
        basis = rnd - (rnd % k_every)
        if basis == 0:
            return cand
        if self._rank_cache is not None and self._rank_cache[0] == basis:
            ranks = self._rank_cache[1]
        else:
            g = self.storage.read_table("edges", upto_round=basis).select(
                F.col("src_hash").alias("src"),
                F.col("dst_hash").alias("dst"),
            )
            nodes = (
                g.select(F.col("src").alias("node"))
                .unionByName(g.select(F.col("dst").alias("node")))
                .distinct()
            )
            ranks = pagerank(g, nodes, iterations=cfg.pagerank_iterations)
            self._rank_cache = (basis, ranks)
        boost = (
            F.least(
                F.coalesce(F.col("pagerank_scaled"), F.lit(0).cast("long")),
                F.lit(SCALE - 1).cast("long"),
            ).cast("double")
            / F.lit(float(SCALE))
        )
        return (
            cand.join(ranks.withColumnRenamed("node", "url_hash"), "url_hash", "left")
            .withColumn("priority", F.col("priority") - boost)
            .drop("pagerank_scaled")
        )

    def _seen(self, st: _Round) -> None:
        """A3 Bloom prefilter → A2 exact anti-join backstop → S5 seen
        append. The probe is co-partitioned with the sidecar blobs by
        host_hash and cached so both branches read one materialization."""
        rnd = st.rnd
        cand = st.keep(self._with_maybe_seen(st.cand, n_parts=st.py_parts))
        definitely_new = cand.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = cand.filter(F.col("maybe_seen")).drop("maybe_seen")
        seen = self.storage.read_table("seen", upto_round=rnd - 1).select(
            "host_hash", "url_hash"
        )
        confirmed_new = maybe.join(seen, ["host_hash", "url_hash"], "left_anti")
        st.new = st.keep(
            definitely_new.unionByName(confirmed_new).select(*FRONTIER_COLS)
        )
        st.seen_add = st.new.select(
            "url_hash", "url_canon", "host_hash",
            F.lit(rnd).alias("first_round"),
        )
        self.storage.write_round("seen", st.seen_add, rnd)

    def _tail(self, st: _Round) -> None:
        """G1 final sinks as concurrent jobs: everything here reads
        materialized caches, so the documents, next-frontier and metrics
        appends, the Bloom fold with its filter checkpoint, and the fused
        round-counter job run side by side (driver-side pipelining)."""
        rnd = st.rnd
        # S3 documents append (contract schema + bookkeeping)
        docs = (
            st.fetched.withColumn("spans", F.expr(_SPANS_EXPR))
            .withColumn("content_sha2", F.sha2(F.to_json(F.col("spans")), 256))
            .select(
                F.col("url_canon").alias("doc_id"),
                "spans",
                "url_hash",
                "host",
                "host_hash",
                "depth",
                "fetch_time",
                "host_rank",
                "status",
                "content_sha2",
            )
        )
        # U1: next frontier snapshot = deferred ∪ banned-deferred ∪ new
        next_frontier = (
            st.deferred.select(*FRONTIER_COLS)
            .unionByName(st.banned_deferred.select(*FRONTIER_COLS))
            .unionByName(st.new.select(*FRONTIER_COLS))
        )
        metrics_df = self._metrics_df(
            rnd, st.fetched, st.disallowed, st.deferred, st.new
        )

        def fold_and_save() -> None:
            # A5 sidecar fold + filter checkpoint. Folds straight from the
            # cached `new` frame (seen_add reads the cache the seen write
            # materialized) — re-reading the just-written seen parquet
            # would pay disk+decode for rows already in block storage; at
            # cluster scale that read-back is a full extra scan per round.
            self._fold_into_bloom(st.seen_add, rnd, n_parts=st.py_parts)
            self._save_filters(rnd)

        _parallel(
            lambda: self.storage.write_round("documents", docs, rnd),
            fold_and_save,
            lambda: self.storage.write_round("frontier", next_frontier, rnd),
            lambda: self.storage.write_round(
                "metrics", metrics_df, rnd, cluster_by=None, num_files=1
            ),
            lambda: self._round_stats(st),
        )
        st.m.deduped = st.m.candidates - st.m.new_urls

    def _round_stats(self, st: _Round) -> None:
        """ALL of the round's counters in ONE tagged-union aggregation job
        over five frames that read materialized caches (round-2 ran three
        separate jobs: admission stats, fetch stats, lagging counts).
        Per-round driver actions are real fixed cost in local mode and at
        small rounds; the union does partial (map-side) aggregation per
        branch, and the final agg is one row."""
        def tag(df, k, **cols):
            return df.select(
                F.lit(k).alias("k"),
                cols.get("u", F.lit(None).cast("long")).alias("u"),
                cols.get("h", F.lit(None).cast("string")).alias("h"),
                cols.get("b", F.lit(None).cast("boolean")).alias("b"),
                cols.get("a", F.lit(None).cast("boolean")).alias("a"),
                cols.get("s", F.lit(None).cast("int")).alias("s"),
            )

        u = (
            tag(st.fr, "fr", u=F.col("url_hash"), h=F.col("host"),
                b=F.col("is_banned"), a=F.col("is_allowed"))
            .unionByName(tag(st.fetched, "fet", s=F.col("status")))
            .unionByName(tag(st.linked, "cand"))
            .unionByName(tag(st.new, "new"))
            .unionByName(tag(st.deferred, "def"))
        )
        is_fr = F.col("k") == "fr"
        is_fet = F.col("k") == "fet"
        row = u.agg(
            F.sum(is_fr.cast("long")).alias("n_fr"),
            F.sum((is_fr & F.col("b")).cast("long")).alias("banned"),
            F.sum(
                (is_fr & ~F.col("b") & ~F.col("a")).cast("long")
            ).alias("disallowed"),
            # A6: frontier cardinality estimates (HLL) — sizes the Bloom
            # sidecars at scale; the sketch ignores the other branches'
            # NULLs, so values match a frontier-only aggregation exactly
            F.approx_count_distinct(
                F.when(is_fr, F.col("u"))
            ).alias("distinct_est"),
            F.approx_count_distinct(F.when(is_fr, F.col("h"))).alias(
                "hosts_est"
            ),
            F.sum(is_fet.cast("long")).alias("fetched"),
            F.sum((is_fet & (F.col("s") == 200)).cast("long")).alias("ok"),
            F.sum((F.col("k") == "cand").cast("long")).alias("cand"),
            F.sum((F.col("k") == "new").cast("long")).alias("new"),
            F.sum((F.col("k") == "def").cast("long")).alias("deferred"),
        ).first()
        m = st.m
        m.frontier_size = int(row["n_fr"])
        m.skipped_banned = int(row["banned"] or 0)
        m.skipped_robots = int(row["disallowed"] or 0)
        m.extras["frontier_distinct_est"] = int(row["distinct_est"])
        m.extras["frontier_hosts_est"] = int(row["hosts_est"])
        m.fetched = int(row["fetched"])
        m.ok_200 = int(row["ok"] or 0)
        m.candidates = int(row["cand"])
        m.new_urls = int(row["new"])
        m.skipped_politeness = int(row["deferred"])

    def _commit(self, st: _Round) -> None:
        """The atomic manifest commit, the round's only commit point."""
        m = st.m
        # next snapshot size is already known arithmetically — no read-back job
        next_size = m.skipped_politeness + m.new_urls + (
            m.skipped_banned if self.cfg.unban_round is not None else 0
        )
        totals = dict(st.prev.get("totals", {}))
        totals["seen"] = totals.get("seen", 0) + m.new_urls
        totals["fetched"] = totals.get("fetched", 0) + m.fetched
        self.storage.commit_manifest(
            st.rnd,
            {
                "frontier_size": m.frontier_size,
                "next_frontier_size": next_size,
                "fetched": m.fetched,
                "ok_200": m.ok_200,
                "skipped_robots": m.skipped_robots,
                "skipped_politeness": m.skipped_politeness,
                "skipped_banned": m.skipped_banned,
                "candidates": m.candidates,
                "deduped": m.deduped,
                "new_urls": m.new_urls,
                "frontier_distinct_est": m.extras.get("frontier_distinct_est", 0),
                "totals": totals,
            },
        )
        m.extras["next_frontier_size"] = next_size

    def _maintain(self, st: _Round) -> None:
        """Post-commit storage upkeep (compaction and expiry are no-ops
        unless configured): it only rewrites or reclaims storage layout —
        table contents, crawl state and resume points are unchanged, so a
        crash anywhere in here re-runs nothing and corrupts nothing."""
        cfg, rnd = self.cfg, st.rnd
        # GC superseded Bloom blob rounds now that the manifest (and the
        # filter pickle carrying this round's index) is committed.
        self.storage.gc_bloom_rounds(self._bloom_index)
        if cfg.compact_seen_every and rnd % cfg.compact_seen_every == 0:
            self.storage.compact_table("seen", upto_round=rnd)
            # pagerank priority re-reads the edges-so-far table each basis
            # round, so under that mode edges gets the same listing-bound
            # treatment as seen (read_table round<=basis cuts stay
            # row-identical below the pointer — test_read_table_equality_
            # across_compaction pins it)
            if cfg.priority_mode == "pagerank":
                self.storage.compact_table("edges", upto_round=rnd)
        if cfg.expire_frontier:
            self.storage.expire_frontier_snapshots(keep_upto=rnd)

    def _metrics_df(self, rnd, fetched, disallowed, deferred, new) -> DataFrame:
        """S7: per-partition (host-hash bucket) lineage counters. One union +
        one shuffle (grouped conditional sums), not N outer joins."""
        def tag(df, name):
            return df.select("host_hash", F.lit(name).alias("k"))

        u = (
            tag(fetched, "fetched")
            .unionByName(tag(disallowed, "skipped_robots"))
            .unionByName(tag(deferred, "skipped_politeness"))
            .unionByName(tag(new, "new_urls"))
        )
        return (
            u.groupBy("host_hash")
            .agg(
                *[
                    F.sum((F.col("k") == n).cast("long")).alias(n)
                    for n in ("fetched", "skipped_robots",
                              "skipped_politeness", "new_urls")
                ]
            )
            .withColumn("input_snapshot", F.lit(f"frontier/round={rnd-1:05d}"))
        )

    # --------------------------------------------------------------- run
    def run(self, seeds: list[str] | None = None) -> dict:
        """Full crawl to frontier exhaustion (or max_rounds), resumable: if a
        manifest exists, continue from the round after the latest commit."""
        latest = self.storage.latest_manifest()
        if latest is None:
            if seeds is None:
                seeds = synthweb.seed_list(self.cfg)
            self.bootstrap(seeds)
            start = 1
        else:
            start = latest["round"] + 1
            self._load_filters(latest["round"])

        rounds_run = 0
        last = start - 1
        for rnd in range(start, self.cfg.max_rounds + 1):
            if _next_frontier_size(self.storage.manifest(rnd - 1)) == 0:
                break
            m = self.run_round(rnd)
            rounds_run += 1
            last = rnd
            if m.extras["next_frontier_size"] == 0:
                break
        final = self.storage.manifest(last) or {}
        return {
            "rounds": last,
            "rounds_run_this_session": rounds_run,
            "totals": final.get("totals", {}),
            "exhausted": _next_frontier_size(final, default=1) == 0,
        }


def _fetch_rows_target(cfg: CrawlConfig) -> int:
    """Rows-per-partition target for the fetch stage, derived from per-URL
    CPU cost instead of a fixed row count.

    Light-work crawls (fetch_cpu_work=0) keep the measured-on-this-sandbox
    default (CrawlConfig.fetch_rows_per_partition): python tasks shorter
    than ~0.5 s lose to worker-attach overhead, so small rounds want few
    fat partitions. When per-URL work is heavy the same row count makes
    partitions far fatter than they need to be to amortize attach cost and
    mid-size rounds under-fill the configured width (the round-4 scaling
    probe measured round 3 running 16-wide on 32 cores at ~4 ms/URL). Here
    the target is sized so each partition carries >= TARGET_US of python
    work — comfortably above attach cost — using the fetch_cpu_work burn
    calibration (~2 us per unit per URL, jobs/compute_scaling.py), floored
    at 8 rows so pathological work levels never degenerate to 1-row tasks.
    Pure sizing: partition count never changes results (pinned by the
    cross-parallelism determinism tests and
    test_fetch_cpu_work_does_not_change_results)."""
    if cfg.fetch_cpu_work <= 0:
        return cfg.fetch_rows_per_partition
    target_us = 100_000.0  # >= 100 ms of work per partition
    per_url_us = 2.0 * cfg.fetch_cpu_work
    return max(8, min(cfg.fetch_rows_per_partition, int(target_us // per_url_us)))


def _make_fetcher(cfg: CrawlConfig):
    """F1/F2: iterator-of-batches fetch+parse. The synthetic web is the
    sandbox 'network' (no real HTTP here — SURVEY.md §0.3); on a real cluster
    this same shape holds one HTTP session per partition and the politeness
    spacing is already guaranteed by admission (P3/P4)."""

    def fetch_batches(batches):
        from crawlspark.functions.canon import resolve_series

        for pdf in batches:
            statuses, kinds, texts, refs, offs, links = [], [], [], [], [], []
            flat_bases, flat_hrefs, counts = [], [], []
            for u in pdf["url_canon"]:
                status, spans, lnks = synthweb.page(u, cfg)
                statuses.append(status)
                kinds.append([s["kind"] for s in spans])
                texts.append([s["text"] for s in spans])
                refs.append([s["media_ref"] for s in spans])
                offs.append([s["offset"] for s in spans])
                links.append(lnks)
                flat_bases.extend([u] * len(lnks))
                flat_hrefs.extend(lnks)
                counts.append(len(lnks))
            # C8 fused into the fetch pass: resolve+canonicalize every
            # extracted link in ONE vectorized call per Arrow batch, so the
            # edges path downstream needs no second python stage over the
            # exploded links (chained ArrowEval stages each cost a python
            # worker per task — measured as the dominant local-mode tax).
            resolved = resolve_series(
                pd.Series(flat_bases, dtype="object"),
                pd.Series(flat_hrefs, dtype="object"),
            ).tolist()
            links_canon, at = [], 0
            for n in counts:
                links_canon.append(resolved[at : at + n])
                at += n
            yield pd.DataFrame(
                {
                    "url_canon": pdf["url_canon"].values,
                    "url_hash": pdf["url_hash"].values,
                    "host": pdf["host"].values,
                    "host_hash": pdf["host_hash"].values,
                    "depth": pdf["depth"].values,
                    "fetch_time": pdf["fetch_time"].values,
                    "host_rank": pdf["host_rank"].values,
                    "status": statuses,
                    "kind": kinds,
                    "text": texts,
                    "media_ref": refs,
                    "offset": offs,
                    "links": links,
                    "links_canon": links_canon,
                }
            )

    return fetch_batches
