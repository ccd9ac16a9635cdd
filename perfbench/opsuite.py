"""The opsuite workload: the headline operator queries of
``__spark_entry__.queries()`` over tables generated from the seed, each
checked against its ``oracle_sql()`` under DuckDB."""

from __future__ import annotations

import time
from hashlib import blake2b
from pathlib import Path

import numpy as np
import pandas as pd

from harness import SPAN_PROPERTY, median

# The 22 headline queries of bench.py, in its order.
QUERIES = (
    "url_canonicalize dedup_first_wins seen_anti_join perhost_topk "
    "politeness_clock metrics_agg metrics_rollup sessionize dedup_exact "
    "token_counts decontaminate text_quality fingerprint ann_topk "
    "minhash_lsh_pairs simhash_near_pairs media_meta tokens_topk lang_pivot "
    "events_cube events_ordered_agg robots_match"
).split()

# Row counts of the generated tables (those of the sf0.01 test data).
SIZES = dict(documents=500, events=10_000, customer=1_500, orders=15_000,
             lineitem=60_000, embeddings=500)
# The sf0.01 documents: 10-99 words drawn uniformly from these 30, the
# source ``src{doc_id % 20}``, and 25 planted near-duplicates (a copy of
# another document with " dup" appended, word 3-gram Jaccard >= 0.90).
_WORDS = (
    "a the row key hash scan join sort agg part line data table value batch "
    "order query group merge filter window stream column vector spark fast "
    "slow big small customer"
).split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])
NEAR_DUPS = 25


def _simhash(text: str) -> int:
    """The 64-bit word SimHash of ``crawlspark.ops.dedup.simhash_udf``."""
    bits = np.arange(64, dtype=np.uint64)
    hs = np.array([
        int.from_bytes(blake2b(w.encode(), digest_size=8, key=b"42").digest(), "big")
        for w in text.split()
    ], dtype=np.uint64)
    votes = (2 * ((hs[:, None] >> bits) & np.uint64(1)).astype(np.int64) - 1).sum(axis=0)
    return int(((votes >= 0).astype(np.uint64) << bits).sum(dtype=np.uint64))


def _documents(rng, n: int) -> list[str]:
    def text() -> str:
        return " ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))

    texts = [text() for _ in range(n)]
    # near-duplicate pairs stay clear of the documents simhash_near_pairs copies
    free = [i for i in range(n) if i % 20 != 16]
    picked = rng.choice(free, 2 * NEAR_DUPS, replace=False)
    for orig, copy in zip(picked[:NEAR_DUPS], picked[NEAR_DUPS:]):
        while len(texts[orig].split()) < 11:  # keeps the pair's Jaccard >= 0.90
            texts[orig] = text()
        texts[copy] = texts[orig] + " dup"
    # simhash_near_pairs' oracle holds only if each document it copies is
    # more than 3 bits from every other document, as at sf0.01
    sigs = [_simhash(t) for t in texts]
    for i in range(16, n, 20):
        while any(bin(sigs[i] ^ o).count("1") <= 3 for j, o in enumerate(sigs) if j != i):
            texts[i] = text()
            sigs[i] = _simhash(texts[i])
    return texts


def generate(seed: int, out: Path) -> None:
    """Write the six input tables for ``seed`` as parquet under ``out``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    nd = SIZES["documents"]
    texts = _documents(rng, nd)
    tables = {
        "documents": pd.DataFrame({
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS[0], nd, p=_LANGS[1]),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    }
    ne = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(259.0, ne).cumsum()
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + (gaps * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], ne),
        "value": np.round(np.clip(rng.lognormal(2.3, 1.2, ne), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nc = SIZES["customer"]
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    no = SIZES["orders"]
    day0 = np.datetime64("1995-01-01", "D")
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": (day0 + rng.integers(0, 2404, no).astype("timedelta64[D]")).astype(
            "datetime64[us]"
        ),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = SIZES["lineitem"]
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": (day0 + rng.integers(1, 2500, nl).astype("timedelta64[D]")).astype(
            "datetime64[us]"
        ),
    })
    nv = SIZES["embeddings"]
    vecs = rng.normal(size=(nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    for name, df in tables.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), out / f"{name}.parquet")


def run_pass(spark, data: Path, cpu, tag: str | None = None) -> dict:
    """Run every query once as a noop write (an action that keeps every
    computed column): ``{"wall": {query: s}, "cpu": {query: CPU s},
    "cpu_s": pass CPU s}``, with ``cpu()`` reading the process tree's CPU
    seconds. With ``tag`` each query's jobs carry a span property."""
    import __spark_entry__ as entry

    q = entry.queries()
    sc = spark.sparkContext
    out: dict = {"wall": {}, "cpu": {}}
    start = cpu()
    for name in QUERIES:
        df = q[name](spark, str(data))
        if tag is not None:
            sc.setLocalProperty(SPAN_PROPERTY, f"{tag}:{name}")
        t0, c0 = time.perf_counter(), cpu()
        try:
            df.write.mode("overwrite").format("noop").save()
        finally:
            if tag is not None:
                sc.setLocalProperty(SPAN_PROPERTY, None)
        out["wall"][name] = time.perf_counter() - t0
        out["cpu"][name] = cpu() - c0
    # one difference over the pass: /proc counts CPU in 10 ms ticks per
    # process, so the per-query sum would add up their rounding
    out["cpu_s"] = cpu() - start
    return out


def collect_pass(spark, data: Path) -> dict[str, pd.DataFrame | Exception]:
    """Every query's result as pandas (the outputs the check compares)."""
    import __spark_entry__ as entry

    q = entry.queries()
    out: dict[str, pd.DataFrame | Exception] = {}
    for name in QUERIES:
        try:
            out[name] = q[name](spark, str(data)).toPandas()
        except Exception as e:  # a failing query is a failed operation
            out[name] = e
    return out


def check(results: dict, data: Path) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): each query's rows, columns and values
    must equal its DuckDB oracle over the same files.

    The oracle sees ``embeddings.embedding`` as DOUBLE[], the precision Spark
    computes cosines in: DuckDB's cosine over FLOAT[] is single precision,
    and on seed 109 two neighbours 1e-7 apart swapped ranks."""
    import duckdb
    from test_entry_contract import _canon_frame, _normalize

    import __spark_entry__ as entry

    oracle = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in SIZES:
            cols = "* REPLACE (CAST(embedding AS DOUBLE[]) AS embedding)" if t == "embeddings" else "*"
            con.execute(
                f"CREATE VIEW {t} AS SELECT {cols} FROM read_parquet('{data / (t + '.parquet')}')"
            )
        problems = []
        for name in QUERIES:
            got = results[name]
            if isinstance(got, Exception):
                problems.append(f"{name}: raised {type(got).__name__}: {str(got)[:200]}")
                continue
            want = _normalize(con.execute(oracle[name]).df())
            got = _normalize(got)
            if list(got.columns) != list(want.columns) or _canon_frame(got) != _canon_frame(want):
                problems.append(f"{name}: differs from its oracle")
    finally:
        con.close()
    return len(QUERIES), len(problems), problems


def pass_stats(log, tag: str) -> dict:
    """Per query: jobs, stages, tasks and rows into Python in one traced
    pass; for the whole pass: worker start-up, shuffle, CPU and GC."""
    out = {}
    for q in QUERIES:
        jobs = [j for j, job in log.jobs.items() if job["span"] == f"{tag}:{q}"]
        stages = log.stages_of(jobs)
        out[f"jobs.{q}"] = len(jobs)
        out[f"stages.{q}"] = len(stages)
        out[f"tasks.{q}"] = sum(log.stages[s]["tasks"] for s in stages)
        out[f"py_rows.{q}"] = sum(d["rows"] for d in log.python(stages).values())
    jobs = [j for j, job in log.jobs.items() if (job["span"] or "").startswith(tag + ":")]
    stages = log.stages_of(jobs)
    out["spark.py_start_s"] = sum(d["start_s"] for d in log.python(stages).values())
    out["spark.shuffle_write_bytes"] = sum(log.stages[s]["shuffle_write"] for s in stages)
    out["spark.executor_cpu_s"] = sum(log.stages[s]["cpu_ns"] for s in stages) / 1e9
    out["spark.jvm_gc_s"] = sum(log.stages[s]["gc_ms"] for s in stages) / 1e3
    return out


def end_to_end(passes: list[dict]) -> dict:
    """CPU-time metrics over the timed passes (medians); an item is a query."""
    return {
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "items_per_cpu_s": median([len(QUERIES) / p["cpu_s"] for p in passes]),
        "op_cpu_s_p50": median(median([p["cpu"][q] for p in passes]) for q in QUERIES),
    }
