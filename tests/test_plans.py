"""Physical-plan assertions (SURVEY.md §4): the plans Catalyst produces must
be the plans we designed for — broadcast for the robots dim, partition
pruning on round-partitioned tables, column pruning into the parquet scan,
and JVM-only (whole-stage codegen) expression pipelines where no UDF is
declared."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_robots_join_is_broadcast(spark, tmp_path):
    """R1: the robots dimension must broadcast, never shuffle the frontier."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.storage import CrawlStorage
    from crawlspark.sources import synthweb

    cfg = CrawlConfig(web_hosts=6, shuffle_partitions=4)
    storage = CrawlStorage(spark, tmp_path)
    eng = CrawlEngine(spark, cfg, storage)
    eng.bootstrap(synthweb.seed_list(cfg, n=10))
    frontier = storage.read_round("frontier", 0)
    joined = frontier.join(F.broadcast(eng._robots_df()), "host", "left")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_round_partition_pruning(spark, tmp_path):
    """S2: a `round <= k` predicate must prune to the matching partition
    dirs (Iceberg-snapshot-style pruning via the parquet facade)."""
    from crawlspark.storage import CrawlStorage

    storage = CrawlStorage(spark, tmp_path)
    df = spark.range(10).withColumn("host_hash", (F.col("id") % 4).cast("int"))
    for rnd in range(3):
        storage.write_round("seen", df, rnd)
    pruned = storage.read_table("seen", upto_round=1)
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "round" in plan
    # only 2 of 3 round dirs survive pruning
    assert pruned.select("round").distinct().count() == 2


def test_compacted_read_keeps_pushdown_and_pruning(spark, tmp_path):
    """After compaction, a `round <= k` cut must still reach the scans: as a
    parquet-pushed data filter on the compacted set (where `round` became a
    data column) and as partition pruning on the still-live round dirs."""
    from crawlspark.storage import CrawlStorage

    storage = CrawlStorage(spark, tmp_path, num_buckets=4)
    df = spark.range(10).withColumn("host_hash", (F.col("id") % 4).cast("int"))
    for rnd in range(4):
        storage.write_round("seen", df, rnd)
    storage.compact_table("seen", upto_round=1)

    cut = storage.read_table("seen", upto_round=2)
    plan = _plan(cut)
    assert "LessThanOrEqual(round,2)" in plan  # pushed into the compacted scan
    assert "PartitionFilters" in plan  # live dirs (rounds 2,3) still prune
    assert cut.count() == 30  # rounds 0,1 (compacted) + round 2 (live)


def test_scan_prunes_columns_and_pushes_filters(spark):
    """A 2-column projection must not read all 7 lineitem columns."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan


def test_quality_score_is_pure_codegen(spark):
    """F-series text ops declare no Python UDF — the whole expression
    pipeline must stay in WholeStageCodegen (no ArrowEvalPython node)."""
    from crawlspark.ops.text import quality_features

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(quality_features(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted explain marks whole-stage-codegen nodes with '*'; the
    # higher-order-function Projects are JVM-interpreted but never Python
    assert "* ColumnarToRow" in plan or "* Project" in plan


def test_ann_brute_force_broadcasts_queries(spark):
    from crawlspark.ops.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(brute_force_topk(emb, queries, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lsh_band_join_is_key_only(spark):
    """The LSH banding join must shuffle only (sig_key, band, band_hash) —
    never the 64-slot minhash array (ops/dedup.py docstring claim). Every
    exchange that feeds the band-bucket join must not carry a minhash
    column; signatures re-attach once per DISTINCT signature pair and doc
    ids once per sig_key, in later joins."""
    from crawlspark.ops.dedup import lsh_candidate_pairs, with_minhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    out = lsh_candidate_pairs(with_minhash(docs))
    plan = _plan(out)
    # formatted explain: each Exchange node section lists Arguments with its
    # partitioning expressions. Find exchanges partitioned on band_hash.
    sections = plan.split("\n\n")
    band_exchanges = [
        s for s in sections
        if s.lstrip().startswith("(")
        and "Exchange" in s.splitlines()[0]
        and "band_hash" in s
    ]
    assert band_exchanges, "expected hash exchanges on band_hash:\n" + plan
    for s in band_exchanges:
        assert "minhash" not in s, (
            "band-bucket shuffle carries the full signature:\n" + s
        )


def test_quota_sample_is_window_group_limit(spark):
    """quota_sample's row_number()<=k filter must collapse to a
    WindowGroupLimit (map-side partial top-k BEFORE the group exchange) so a
    10^10-row corpus ships at most quota rows per group per input partition,
    and the rank expression must stay JVM-side (no Python node)."""
    from crawlspark.ops.pipeline import quota_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(quota_sample(docs, group_col="lang", quota=40))
    assert "WindowGroupLimit" in plan, plan
    # partial limit runs on BOTH sides of the exchange: Partial then Final
    assert "Partial" in plan.split("Exchange")[-1] or plan.count("WindowGroupLimit") >= 2, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_temperature_mix_is_window_group_limit(spark):
    """temperature_mix's varying per-group target cannot itself be a
    WindowGroupLimit, so the op must rank through quota_sample's STATIC
    quota=total bound: the plan's one ranking window collapses to a
    WindowGroupLimit (map-side partial top-total before the exchange) and
    the varying target cut is a plain Filter on the bounded stream — a
    dominant group (60% of a 10^10-row corpus) costs its mappers, never
    one reducer sorting its full mass."""
    from crawlspark.ops.pipeline import temperature_mix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(temperature_mix(docs, group_col="lang", total=200))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("Exchange")[-1] or plan.count("WindowGroupLimit") >= 2, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_iceberg_dispatch_seam(spark, tmp_path):
    """catalog=None keeps the parquet facade (bit-for-bit existing
    behavior); catalog="..." routes every table write/read through the
    DataSourceV2 path. The real Iceberg runtime is absent in this sandbox,
    so the routed write must fail with a catalog-resolution error — proving
    the branch is taken — and must NOT fall back to writing parquet."""
    import pytest

    from crawlspark.storage import CrawlStorage

    df = spark.range(4).select(
        F.col("id").alias("url_hash"), (F.col("id") % 2).cast("int").alias("host_hash")
    )

    plain = CrawlStorage(spark, tmp_path / "plain")
    plain.write_round("seen", df, 0)
    assert (tmp_path / "plain" / "seen" / "round=00000").exists()

    iceberg = CrawlStorage(spark, tmp_path / "ice", catalog="no_such_cat.db")
    with pytest.raises(Exception) as ei:
        iceberg.write_round("seen", df, 0)
    assert "no_such_cat" in str(ei.value)
    assert not (tmp_path / "ice" / "seen" / "round=00000").exists()

    routed = []
    iceberg._write_round_iceberg = lambda t, d, r: routed.append((t, r))
    iceberg.write_round("seen", df, 1)
    assert routed == [("seen", 1)]
    assert not (tmp_path / "ice" / "seen" / "round=00001").exists()


def test_range_join_is_equi_join(spark):
    """The binned range join must plan as a hash/sort-merge EQUI join on the
    bin — never BroadcastNestedLoopJoin/CartesianProduct — and must produce
    exactly the theta join's result."""
    from crawlspark.ops.temporal import interval_point_join

    pts = spark.range(0, 500).select((F.col("id") * 7.3).alias("p"))
    iv = spark.range(0, 60).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 55.0).alias("lo"),
        (F.col("id") * 55.0 + 120.0).alias("hi"),
    )
    out = interval_point_join(pts, iv, "p", "lo", "hi", bin_width=120.0)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan

    got = {(r["iv_id"], r["p"]) for r in out.collect()}
    want = {
        (r["iv_id"], r["p"])
        for r in iv.crossJoin(pts)
        .filter((F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi")))
        .collect()
    }
    assert got == want and len(got) > 0


def test_round_driver_job_count_is_flat_and_bounded(spark, tmp_path):
    """Per-round driver-job budget: every Spark job carries ~0.5-1 s of fixed
    scheduling latency in local mode, and at 10^10 scale each extra action is
    an extra cluster-wide barrier. The round loop runs ONE fused tagged-union
    stats job (admission + fetch + candidate/new/deferred counters), folds
    the Bloom sidecar from the cached new-URLs frame (no seen read-back), and
    overlaps the tail sinks — 13 jobs/round measured. This pins the budget
    (<=14) and flatness (round k and k+1 identical), so an accidental extra
    .count()/.collect() in the hot loop fails loudly. Bootstrap (9 jobs)
    and an 8-URL seed injection (11 jobs) are pinned the same way: both
    build their frontier through one seed-frontier path."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=2, max_rounds=3, web_hosts=6,
                      shuffle_partitions=4)
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path))

    # The DAGScheduler's job-id counter sees jobs from ALL threads (the
    # tail sinks run in a thread pool, so thread-local job groups would
    # undercount) and, unlike statusStore.jobsList (bounded by
    # spark.ui.retainedJobs — EVICTS old jobs late in a long shared-session
    # suite, silently shrinking deltas), it is monotone forever.
    def n_jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    nb = n_jobs()
    eng.bootstrap(synthweb.seed_list(cfg, n=20))
    n0 = n_jobs()
    assert n0 - nb <= 9, f"bootstrap launched {n0-nb} driver jobs (budget 9)"
    t0 = time.perf_counter()
    m1 = eng.run_round(1)
    wall = time.perf_counter() - t0
    n1 = n_jobs()
    eng.run_round(2)
    n2 = n_jobs()
    assert n1 - n0 == n2 - n1, f"per-round job count not flat: {n1-n0} vs {n2-n1}"
    assert n1 - n0 <= 14, f"round launched {n1-n0} driver jobs (budget 14)"

    # the round is its named phases, in pipeline order, each timed once
    timings = m1.extras["timings"]
    assert list(timings) == ["admit", "rank", "fetch", "candidates", "seen",
                             "tail", "commit", "maintain"]
    assert all(t >= 0 for t in timings.values())
    assert sum(timings.values()) <= wall

    # seed injection shares bootstrap's seed-frontier path: no extra jobs
    inj = eng.inject_seeds(
        [f"http://host{i % 6:02d}.example/injected/p{i}" for i in range(8)]
    )
    n3 = n_jobs()
    assert inj["injected"] == 8
    assert n3 - n2 <= 11, f"inject_seeds launched {n3-n2} driver jobs (budget 11)"


def test_pagerank_priority_jobs_are_flat(spark, tmp_path):
    """priority_mode="pagerank" re-ranks the frontier each round from the
    accumulated edge graph — that must cost a FIXED number of extra jobs
    per round, never a count that grows with the round number or the graph
    so far. Measured: 25/round steady state = bfs's 13 + 12 for the ranking
    (nodes count, eager localCheckpoints for the node base and each of the
    default 4 power iterations, and their materialization jobs); round 1
    pays a one-time +1 (first edges-table listing + ed-persist
    materialization), so flatness is asserted from round 2."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=3, max_rounds=4, web_hosts=6,
                      shuffle_partitions=4, priority_mode="pagerank")
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path))
    eng.bootstrap(synthweb.seed_list(cfg, n=20))

    # monotone DAGScheduler counter, not statusStore.jobsList — the latter
    # is capped by spark.ui.retainedJobs and evicts old jobs late in a long
    # shared-session suite, which distorts the deltas this test compares
    def n_jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    eng.run_round(1)  # one-time costs (first listing, persist materialize)
    n1 = n_jobs()
    eng.run_round(2)
    n2 = n_jobs()
    eng.run_round(3)
    n3 = n_jobs()
    assert n2 - n1 == n3 - n2, f"per-round job count not flat: {n2-n1} vs {n3-n2}"
    assert n2 - n1 <= 26, f"round launched {n2-n1} driver jobs (budget 26)"


def test_decontaminate_broadcasts_bench_grams(spark):
    """ops/pipeline.decontaminate's contamination join must be a BROADCAST
    left-semi on gram_hash (the benchmark side is tiny next to a crawl) and
    no exchange feeding it may carry the text column — the join ships 16
    bytes per gram, never documents."""
    from crawlspark.ops.pipeline import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(decontaminate(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    sections = plan.split("\n\n")
    gram_exchanges = [
        s for s in sections
        if s.lstrip().startswith("(")
        and "Exchange" in s.splitlines()[0]
        and "gram_hash" in s
    ]
    for s in gram_exchanges:
        assert "text" not in s, "gram shuffle carries document text:\n" + s


def test_indegree_count_window_shares_dedup_exchange(spark):
    """engine.run_round's "indegree" boost claims the count-over-url_hash
    window rides the dedup window's exchange (same partitioning -> Catalyst
    plans BOTH Window nodes over ONE hash exchange). Pin that shape on the
    same expression pair the engine builds."""
    from pyspark.sql import Window

    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("url_hash"),
        (F.col("id") % 5).cast("double").alias("priority"),
        F.col("id").alias("d_pos"),
    )
    wcnt = Window.partitionBy("url_hash")
    boost = F.least(F.count(F.lit(1)).over(wcnt), F.lit(99)).cast("double") / F.lit(100.0)
    out = (
        df.withColumn("priority", F.col("priority") - boost)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url_hash").orderBy("priority", "d_pos")
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    plan = _plan(out)
    n_exchanges = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line and "Reused" not in line
    )
    assert n_exchanges == 1, plan
    assert plan.count("Window") >= 2, plan
