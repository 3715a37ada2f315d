#!/usr/bin/env python
"""Headline benchmark: index-build throughput + BM25 top-k latency + operator suite.

Runs on local[$SPARK_GRAFT_CPUS] (default 32) against $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1). Prints ONE JSON line:
    {"metric": "e2e_wall_sec", "value": <total>, "unit": "sec",
     "queries": {<name>: sec, ...}, "sf": <sf>,
     "index_build": {"turns": N, "secs": s, "turns_per_sec": r}, "cpus": C}

The fulltext spine (the north-rule core) is measured as:
  * build_index over a deterministic synthetic transcript corpus
    (SPARK_GRAFT_BENCH_TURNS turns, default 100k; seeded — same input at every
    parallelism level, which is what the N-vs-4N scaling-efficiency protocol in
    BENCH/BASELINE.md runs twice),
  * five BM25 block-max-WAND top-k queries of varying term count/selectivity.
Operator headliners (join+rollup, collapse, text-stats, minhash banding, simhash,
cosine top-k) run over the driver-provided sf tables.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

FT_QUERIES = {
    "ft_2term": "error timeout",
    "ft_3term": "merge shard index",
    "ft_4term": "request failed server retry",
    "ft_rare": "term1234 term2345",
    "ft_6term_hot": "query token user agent error timeout",
}


def epoch_probe() -> dict:
    """Fingerprint the host epoch (~1s) so recorded numbers are interpretable.

    This VM's co-tenant interference is memory-bandwidth-shaped and comes in
    epochs (BENCH/BASELINE.md "Host-noise protocol"): cache-resident CPU work
    stays constant while bandwidth swings >10x (measured 0.6 vs >8 GB/s within
    one day, 2026-08-18). A build number without the concurrent bandwidth
    reading is uninterpretable across epochs, so every bench JSON carries both:
      cpu_md5_sec  — single-thread, cache-resident loop (should be ~0.12s
                     in every epoch; if this moves, the CPU itself is shared)
      membw_gbs    — 200 MB numpy memset+reduce streaming bandwidth (the
                     epoch-sensitive axis; build throughput tracks this)
    """
    import hashlib

    import numpy as np

    t0 = time.time()
    h = b"x" * 1000
    for _ in range(200000):
        h = hashlib.md5(h).digest()
    cpu_sec = time.time() - t0
    a = np.zeros(200_000_000, dtype=np.uint8)
    t0 = time.time()
    a[:] = 1
    s = int(a.sum())
    bw_sec = time.time() - t0
    assert s == 200_000_000
    return {"cpu_md5_sec": round(cpu_sec, 3),
            "membw_gbs": round(0.4 / bw_sec, 2)}


def latency(series: list[float]) -> dict:
    """{"p50", "p95"} of one timing series (nearest rank, no interpolation)."""
    s = sorted(series)
    return {"p50": s[len(s) // 2],
            "p95": s[min(len(s) - 1, int(round(0.95 * (len(s) - 1))))]}


def timed_series(call, n: int) -> list[float]:
    """Wall seconds (4 decimals) of n back-to-back calls."""
    series = []
    for _ in range(n):
        t0 = time.time()
        call()
        series.append(round(time.time() - t0, 4))
    return series


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sparkgrep-bench")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 16m advisory keeps AQE from coalescing reduce stages below useful
        # parallelism (bytes underestimate Python-kernel cost per row)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # ParallelGC beats G1 by ~35% on this allocation-heavy batch workload
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    # ad-hoc conf overrides for A/B experiments, e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd"
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(",")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "100000"))
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or 0)

    probe = epoch_probe()
    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from solr_spark.config import IndexConfig
    from solr_spark.data import synth_transcripts_spark
    from solr_spark.functions.dedup import minhash_bands, simhash
    from solr_spark.functions.textanalysis import text_stats
    from solr_spark.functions.vectors import cosine_topk, lsh_ann_topk
    from solr_spark.indexing import build_index
    from solr_spark.operators import streams, windows
    from solr_spark.query.bm25 import IndexReader, bm25_topk

    scratch = os.path.join(REPO, ".scratch", f"bench-{uuid.uuid4().hex[:8]}")
    os.makedirs(scratch, exist_ok=True)
    timings: dict[str, float] = {}
    t_total0 = time.time()

    try:
        # ---- input prep (not timed as build): materialize the seeded corpus.
        # Fixed 64-file layout regardless of cpus so every parallelism level in the
        # scaling protocol reads byte-identical, identically-partitioned input.
        # SPARK_GRAFT_CORPUS_PATH lets the scaling harness generate once and share.
        shared = os.environ.get("SPARK_GRAFT_CORPUS_PATH", "")
        corpus_path = shared or os.path.join(scratch, "corpus")
        if not (shared and os.path.exists(os.path.join(corpus_path, "_SUCCESS"))):
            synth_transcripts_spark(spark, n_turns, seed=42, n_partitions=64) \
                .write.mode("overwrite").parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)

        # ---- warmup (untimed): fork the Python-UDF worker pool and JIT the
        # first exchange/codegen paths. On a real cluster executors are
        # long-lived and warm; local mode would otherwise charge one-off
        # process-fork + pandas-import cost (which grows with core count) to
        # the first measured stage.
        import pandas as pd  # noqa: F401  (workers import it on fork)

        @F.pandas_udf("long")
        def _warm(s):
            return s

        (spark.range(cpus * 64, numPartitions=cpus * 2)
              .select(_warm("id").alias("id"))
              .groupBy(F.col("id") % 4).count().collect())

        def _warm_arrow(batches):
            # pre-import the posting-kernel dependencies in every worker
            import pyarrow as pa
            import pyarrow.compute  # noqa: F401

            import solr_spark.codec.varint  # noqa: F401
            import solr_spark.indexing.build  # noqa: F401

            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict({"n": [1]})

        (spark.range(cpus * 2, numPartitions=cpus * 2)
              .mapInArrow(_warm_arrow, "n long").count())

        # ---- index build (the north-rule headline)
        # stored_cols carries `role` into the forward table (round 4: the
        # q+fq filtered-search surface needs a stored attribute; one extra
        # string column rides the one shuffle the corpus already crosses —
        # noted in BENCH/BASELINE.md for cross-round build comparability)
        cfg = IndexConfig()
        index_dir = os.path.join(scratch, "index")
        t0 = time.time()
        build_index(spark, corpus, index_dir, cfg,
                    input_token=f"bench-{n_turns}", num_partitions=2 * cpus,
                    stored_cols=("role",))
        t_build = time.time() - t0
        timings["index_build"] = round(t_build, 3)

        build_only = os.environ.get("SPARK_GRAFT_BUILD_ONLY", "") == "1"
        if build_only:
            # scaling-protocol mode: the rep exists only for the build
            # throughput sample; skip queries/operators so a local[2] rep
            # fits the orchestrator's time box
            total = time.time() - t_total0
            print(json.dumps({
                "metric": "e2e_wall_sec", "value": round(total, 3),
                "unit": "sec", "queries": timings, "latency": {}, "sf": sf,
                "cpus": cpus, "epoch_probe": probe,
                "index_build": {"turns": n_turns, "secs": round(t_build, 3),
                                "turns_per_sec": round(n_turns / t_build, 1)},
            }))
            return

        # ---- query latency series: each query runs SPARK_GRAFT_QUERY_REPS
        # times (default 5); timings[name] keeps the median (headline), and
        # the full series feeds the p50/p95 block BENCH/BASELINE.md records.
        reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "5"))
        latencies: dict[str, dict] = {}
        extra_rep_secs = 0.0  # repeats exist only for the p50/p95 series;
        # excluded from the e2e headline so `value` stays comparable
        # across rounds regardless of the reps setting
        reader = IndexReader.open(index_dir, cfg).warm(spark, segments=True)

        def run_query(name, fn):
            nonlocal extra_rep_secs
            series = []
            for _ in range(reps):
                t0 = time.time()
                fn()
                series.append(round(time.time() - t0, 3))
            lat = latency(series)
            timings[name] = lat["p50"]  # median IS the headline, as documented
            # e2e headline charges each query its median once; everything
            # else the rep loop spent is excluded so `value` stays
            # comparable across rounds regardless of the reps setting
            extra_rep_secs += sum(series) - lat["p50"]
            latencies[name] = {**lat, "reps": series}

        for name, q in FT_QUERIES.items():
            run_query(name, lambda q=q: bm25_topk(
                spark, reader, q, k=10, mode="wand").collect())
        # q+fq: the round-4 filtered scored path — fq DocSet compiled from
        # the stored `role` column, intersected per-range before scoring
        run_query("ft_filtered", lambda: bm25_topk(
            spark, reader, "error timeout", k=10, mode="wand",
            filters=["role:assistant"]).collect())
        # q + sort=field (round 5): the TopFieldCollector role — postings
        # match set joined to the forward table, TakeOrdered on the field,
        # page scored (query/fieldsort.py)
        from solr_spark.query.fieldsort import field_sorted_search

        run_query("ft_sorted", lambda: field_sorted_search(
            spark, reader, "error timeout", "conv_id desc", k=10,
            filters=["role:assistant"], with_score=True).collect())

        # ---- serving-path latency: the in-process LocalSearcher
        # (query/local.py — the reference's per-shard searcher role) over the
        # SAME index; rank-identity vs the Spark path is pytest-asserted
        # (tests/test_local.py), here we record what interactive queries cost
        # once the Spark scheduler is out of the loop.
        from solr_spark.query.local import LocalSearcher

        searcher = LocalSearcher(reader)
        local_latency: dict[str, dict] = {}
        for name, q in FT_QUERIES.items():
            searcher.search(q, k=10)  # warm the posting row groups
            series, cached = [], []
            for _ in range(max(reps, 5)):
                # warm-searcher latency: postings/filter caches hot, the
                # queryResultCache cleared (a repeat hit is the separate
                # *_cached series below — Solr's cache-hit path)
                searcher.clear_query_result_cache()
                t0 = time.time()
                searcher.search(q, k=10)
                series.append(round(time.time() - t0, 4))
                t0 = time.time()
                searcher.search(q, k=10)
                cached.append(round(time.time() - t0, 4))
            local_latency[name] = latency(series)
            c = sorted(cached)
            local_latency[name + "_cached"] = {"p50": c[len(c) // 2],
                                               "p95": c[-1]}

        # filtered serving (q+fq, the most common Solr request shape):
        # warm p50 of the flagship query under a selective metadata filter
        fq = ["role:assistant"]
        searcher.search("error timeout", k=10, filters=fq)  # warm
        series = []
        for _ in range(max(reps, 5)):
            searcher.clear_query_result_cache()  # keep the filterCache hot
            t0 = time.time()
            searcher.search("error timeout", k=10, filters=fq)
            series.append(round(time.time() - t0, 4))
        local_latency["ft_filtered"] = latency(series)

        # field-sorted serving (q + sort=field + fq, round 5): warm p50 of
        # the serving TopFieldCollector twin, page scored
        searcher.search("error timeout", k=10, sort="conv_id desc",
                        filters=fq, with_score=True)  # warm
        local_latency["ft_sorted"] = latency(timed_series(
            lambda: searcher.search("error timeout", k=10,
                                    sort="conv_id desc", filters=fq,
                                    with_score=True), max(reps, 5)))

        # serving /select (round 5): ONE JSON body -> ranked docs + facet
        # block from the component pipeline, all from resident structures
        select_body = {"query": "error timeout", "limit": 10,
                       "filter": list(fq),
                       "facet": {"by_role": {"type": "terms",
                                             "field": "role"}}}
        searcher.select(select_body)  # warm
        local_latency["serving_select"] = latency(timed_series(
            lambda: searcher.select(select_body), max(reps, 5)))

        # serving-path suggesters (same tier): warm per-call p50 in ms-range
        for sname, call in (
                ("suggest_prefix", lambda: searcher.suggest("re", k=10)),
                ("suggest_infix",
                 lambda: searcher.suggest_infix("im", k=10)),
                ("suggest_fuzzy",
                 lambda: searcher.suggest_fuzzy("tymeout", k=5))):
            call()  # warm (sorted-vocab build on first prefix call)
            local_latency[sname] = latency(timed_series(call, max(reps, 5)))

        # ---- sharded serving: split the index 4 ways (layout-only), merge
        # per-shard top-k (query/shards.py — the distributed-search
        # topology); rank-identity vs the single searcher is pytest-asserted
        # (tests/test_shards.py), here we record the merged warm p50.
        from solr_spark.query.shards import ShardedSearcher, shard_index

        # shards own docid RANGES (range_id % N): at 10^12 turns that is
        # ~15M ranges across N serving nodes; the bench corpus at
        # range_shift=16 has only ceil(turns/65536) ranges, so shard count
        # is capped to keep every shard non-degenerate
        n_ranges = reader.norms(spark).count()
        n_shards = max(1, min(4, n_ranges))
        shard_dirs = shard_index(spark, reader,
                                 os.path.join(scratch, "shards"), n_shards)
        merged = ShardedSearcher(shard_dirs)
        for name, q in FT_QUERIES.items():
            merged.search(q, k=10)  # warm
            series = []
            for _ in range(max(reps, 5)):
                for sh in merged.shards:
                    sh.clear_query_result_cache()
                t0 = time.time()
                merged.search(q, k=10)
                series.append(round(time.time() - t0, 4))
            local_latency[f"sharded{n_shards}_{name}"] = latency(series)

        # serving-tier facets (round 5): the /select piggyback role —
        # numpy aggregation over the resident forward columns; plus the
        # sharded merge (per-shard raw buckets summed at the coordinator)
        facet_req = {"by_role": {"type": "terms", "field": "role"}}
        for fname, call in (
                ("serving_facet", lambda: searcher.facets(
                    facet_req, query="error timeout")),
                (f"sharded{n_shards}_facet", lambda: merged.facets(
                    facet_req, query="error timeout")),
                (f"sharded{n_shards}_suggest", lambda: merged.suggest(
                    "re", k=10)),
                (f"sharded{n_shards}_select", lambda: merged.select(
                    select_body))):
            call()  # warm (forward-table load on first facet call)
            local_latency[fname] = latency(timed_series(call, max(reps, 5)))

        # distributed /get: hash-fan-out point read, latest version wins
        rtg_keys = [(r["conv_id"], r["turn_idx"]) for r in
                    reader.forward(spark).select("conv_id", "turn_idx")
                    .limit(5).collect()]
        merged.realtime_get(rtg_keys)  # warm
        local_latency[f"sharded{n_shards}_rtg"] = latency(timed_series(
            lambda: merged.realtime_get(rtg_keys), max(reps, 5)))

        # ---- operator headliners over the sf tables
        def t(name: str, fn) -> None:
            t0 = time.time()
            fn()
            timings[name] = round(time.time() - t0, 3)

        def tbl(n):
            return spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))

        t("rel_join_rollup", lambda: streams.rollup(
            streams.hash_join(
                streams.inner_join(
                    tbl("orders"),
                    tbl("customer").select(F.col("c_custkey").alias("o_custkey"),
                                           "c_nationkey"),
                    ["o_custkey"]),
                tbl("nation").select(F.col("n_nationkey").alias("c_nationkey"),
                                     "n_name"),
                ["c_nationkey"]),
            ["n_name"],
            [F.sum("o_totalprice").alias("revenue"),
             F.count(F.lit(1)).alias("n")]).collect())

        # aggregation-based collapse (min_by over an ordering struct): the
        # window twin is parity-pinned in tests; this path map-side combines
        # so the exchange is group-sized, not corpus-sized
        t("rel_collapse", lambda: windows.collapse_agg(
            tbl("lineitem"), "l_orderkey",
            [("l_extendedprice", True), ("l_linenumber", False)]).count())

        t("tx_text_stats", lambda: text_stats(
            tbl("documents"), "doc_id", "text").count())

        t("dd_minhash_bands", lambda: minhash_bands(
            tbl("documents"), "doc_id", "text", num_hashes=16, band_size=4).count())

        t("dd_simhash", lambda: simhash(tbl("documents"), "doc_id", "text").count())

        emb = tbl("embeddings")
        qvec = [float(x) for x in
                emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
        t("vv_cosine_topk", lambda: cosine_topk(
            emb, "embedding", qvec, k=10, kernel="pandas").collect())
        t("vv_lsh_ann_topk", lambda: lsh_ann_topk(
            emb, "embedding", qvec, k=10, multiprobe=2).collect())

        total = time.time() - t_total0 - extra_rep_secs
        out = {
            "metric": "e2e_wall_sec",
            "value": round(total, 3),
            "unit": "sec",
            "queries": timings,
            "latency": latencies,
            "latency_local_serving": local_latency,
            "sf": sf,
            "cpus": cpus,
            "epoch_probe": probe,
            "index_build": {
                "turns": n_turns,
                "secs": round(t_build, 3),
                "turns_per_sec": round(n_turns / t_build, 1),
            },
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
