#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:  {"metric": ..., "value": total_sec, "unit": "sec",
        "queries": {name: sec, ...}, "sf": ...}

Per-query timings are end-to-end action times (plan + execute + fetch),
cold plans on a warm index. The index build itself is timed separately as
`index_build` (the BASELINE.md metric is build files/sec + query p50).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """16g, or half of the host's RAM (MemTotal) when that is less."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                half_mb = int(line.split()[1]) // 1024 // 2
                return f"{min(16 * 1024, half_mb)}m"
    return "16g"


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"searchengine-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem())
        # G1 shows 2x run-to-run variance on this allocation-heavy
        # workload (see BASELINE.md); ParallelGC is stable and faster
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def main() -> None:
    from pyspark.sql import functions as F

    from searchengine_spark.config import EngineConfig
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.pipeline import dedup as DD
    from searchengine_spark.pipeline import similarity as SIM
    from searchengine_spark.pipeline import textstats as TS
    from searchengine_spark.query.engine import SearchEngine
    from searchengine_spark.sources.corpus import (
        assign_doc_ids,
        filter_malformed,
        load_documents_as_corpus,
        with_sha256,
    )

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # Spin up the Python worker pool before the clock starts (one task per
    # core) — analogous to cluster/executor startup, which the reference's
    # build timings also exclude.
    spark.range(0, CPUS * 10000, 1, CPUS).select(
        F.pandas_udf(lambda s: s, "long")(F.col("id")).alias("x")
    ).agg(F.sum("x")).collect()

    sf_label = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label

    idx_dir = f"/tmp/se_bench_index_{os.path.basename(SF_DIR.rstrip('/'))}"
    shutil.rmtree(idx_dir, ignore_errors=True)

    cfg = EngineConfig(stopstem=True, skip_threshold=64, shuffle_partitions=CPUS)
    timings: dict[str, float] = {}
    t_all = time.time()

    # --- index build (full pipeline: tokenize+stem, lexicon, blocks) ---
    corpus = load_documents_as_corpus(spark, SF_DIR)
    n_docs = corpus.count()
    t0 = time.time()
    build_index(spark, corpus, idx_dir, cfg, resume=False)
    build_sec = time.time() - t0
    timings["index_build"] = round(build_sec, 3)

    engine = SearchEngine(spark, idx_dir)

    # representative build throughput: the 5k-doc build above is fixed-
    # cost dominated (5 stages x ~1-2s each), so docs/sec there says
    # nothing about the pipeline — expand the corpus 20x (distinct paths,
    # unchanged content, multi-file parquet like a real ingest) and time
    # that build. Comparable to BASELINE.md's reference docs/sec.
    big_src = f"/tmp/se_bench_big_{os.path.basename(SF_DIR.rstrip('/'))}"
    if not os.path.exists(os.path.join(big_src, "_SUCCESS")):
        reps = spark.range(20).select(F.col("id").cast("string").alias("_rep"))
        (
            corpus.crossJoin(F.broadcast(reps))
            .select(
                "repo",
                F.concat(F.lit("r"), "_rep", F.lit("/"), "path").alias("path"),
                "commit", "lang", "content",
            )
            .repartition(CPUS)
            .write.mode("overwrite")
            .parquet(big_src)
        )
    big = spark.read.parquet(big_src)
    n_big = big.count()
    idx_big = idx_dir + "_big"
    shutil.rmtree(idx_big, ignore_errors=True)
    t0 = time.time()
    build_index(spark, big, idx_big, cfg, resume=False)
    big_sec = time.time() - t0
    timings["index_build_100k"] = round(big_sec, 3)

    # --- query latency: BM25 k=10 over a query set; p50 reported ---
    queries = [
        "spark table join fast",
        "window agg customer stream",
        "index merge batch",
        "fast sort shuffle partition",
        "stream state checkpoint",
        "row column vector batch",
        "query plan optimizer cost",
        "hash join broadcast skew",
    ]
    # fixed job-submission overhead (trivial job p50): the constant every
    # per-query latency below includes — reported separately so r-to-r
    # regressions are attributable to query work, not harness noise
    ovh = []
    for _ in range(5):
        t0 = time.time()
        spark.range(1).count()
        ovh.append(time.time() - t0)
    timings["query_overhead_sec"] = round(statistics.median(ovh), 3)

    lat = []
    for q in queries:
        t0 = time.time()
        engine.search(q, k=10).collect()
        lat.append(time.time() - t0)
    timings["query_bm25_p50"] = round(statistics.median(lat), 3)
    timings["query_bm25_mean"] = round(sum(lat) / len(lat), 3)

    # RAM-resident index, like the reference before its first query
    # (Query.java:62-72 — its 16-72 ms Table 3 numbers are RAM probes):
    # engine.warm() persists the postings frame in executor memory
    engine.warm()
    lat_w = []
    for q in queries:
        t0 = time.time()
        engine.search(q, k=10).collect()
        lat_w.append(time.time() - t0)
    timings["query_bm25_warm_p50"] = round(statistics.median(lat_w), 3)

    # MaxScore over the SAME query set -> p50 directly comparable to DAAT
    lat_ms = []
    for q in queries:
        t0 = time.time()
        engine.search(q, k=10, algo="maxscore").collect()
        lat_ms.append(time.time() - t0)
    timings["query_maxscore_p50"] = round(statistics.median(lat_ms), 3)

    # --- Zipfian 100k-doc corpus: the selectivity-skewed regime ---
    # The sf documents table has a 24-term near-uniform vocabulary: every
    # query term is stopword-scale, so MaxScore has nothing to prune and
    # build docs/s flatters (tiny lexicon). This section measures both on
    # a REALISTIC corpus: deterministic Zipf(1.07) over a 50k-term
    # vocabulary (regenerated if absent, cached in /tmp), with
    # mixed-selectivity queries (1 rare + 1 mid + 2 common terms — the
    # TREC-query shape the reference's Table 3 numbers come from).
    from searchengine_spark.sources.synth import (
        mixed_selectivity_queries,
        zipf_corpus,
    )

    zsrc = "/tmp/se_bench_zipf100k_v50k"
    if not os.path.exists(os.path.join(zsrc, "_SUCCESS")):
        zipf_corpus(spark, 100_000, vocab_size=50_000).write.mode(
            "overwrite"
        ).parquet(zsrc)
    zcorpus = spark.read.parquet(zsrc)
    idx_z = idx_dir + "_zipf"
    shutil.rmtree(idx_z, ignore_errors=True)
    t0 = time.time()
    build_index(spark, zcorpus, idx_z, cfg, resume=False)
    z_sec = time.time() - t0
    timings["index_build_zipf100k"] = round(z_sec, 3)
    zengine = SearchEngine(spark, idx_z)
    n_tokens = zengine.stats["tot_doc_len"]
    zlex = [
        (r["term"], r["df"])
        for r in zengine.lexicon.select("term", "df").collect()
    ]
    zqueries = mixed_selectivity_queries(zlex, 12)
    zengine.search(zqueries[0], k=10).collect()
    zengine.search(zqueries[0], k=10, algo="maxscore").collect()
    # interleaved best-of-2 per query: DAAT and MaxScore see identical
    # cache/JIT state, so the p50 comparison is apples-to-apples
    best = {"daat": [], "maxscore": []}
    for q in zqueries:
        per = {"daat": [], "maxscore": []}
        for _ in range(2):
            for algo in ("daat", "maxscore"):
                t0 = time.time()
                zengine.search(q, k=10, algo=algo).collect()
                per[algo].append(time.time() - t0)
        for a in per:
            best[a].append(min(per[a]))
    timings["query_bm25_100k"] = round(statistics.median(best["daat"]), 3)
    timings["query_maxscore_100k"] = round(
        statistics.median(best["maxscore"]), 3
    )

    # --- 1M-doc corpus: the first-class MaxScore-vs-DAAT evidence ---
    # At 100k docs the pair above is dominated by fixed per-query
    # overheads and box noise (BENCH_r03 recorded an inversion that
    # best-of-4 reruns could not reproduce); at 1M docs the pruning
    # savings (>= 1.2M postings/query) dwarf the noise floor. Corpus and
    # index are content-addressed in /tmp and SHARED with
    # scripts/zipf_scale.py — the ~7-min build is paid once per box,
    # then every bench run reuses it; index_build_zipf1m is recorded
    # only on the run that actually built.
    z1_src = "/tmp/se_zipf_1000000_200000_src"
    z1_idx = "/tmp/se_zipf_1000000_200000_idx"
    if not os.path.exists(os.path.join(z1_src, "_SUCCESS")):
        zipf_corpus(spark, 1_000_000, vocab_size=200_000).write.mode(
            "overwrite"
        ).parquet(z1_src)
    if not os.path.exists(os.path.join(z1_idx, "stats.json")):
        t0 = time.time()
        build_index(
            spark, spark.read.parquet(z1_src), z1_idx, cfg, resume=False
        )
        timings["index_build_zipf1m"] = round(time.time() - t0, 3)
    z1 = SearchEngine(spark, z1_idx)
    z1lex = [
        (r["term"], r["df"])
        for r in z1.lexicon.select("term", "df").collect()
    ]
    z1qs = mixed_selectivity_queries(z1lex, 8)
    z1.search(z1qs[0], k=10).collect()
    z1.search(z1qs[0], k=10, algo="maxscore").collect()
    best1m = {"daat": [], "maxscore": []}
    for q in z1qs:
        per = {"daat": [], "maxscore": []}
        for _ in range(2):
            for algo in ("daat", "maxscore"):
                t0 = time.time()
                z1.search(q, k=10, algo=algo).collect()
                per[algo].append(time.time() - t0)
        for a in per:
            best1m[a].append(min(per[a]))
    timings["query_bm25_1m"] = round(statistics.median(best1m["daat"]), 3)
    timings["query_maxscore_1m"] = round(
        statistics.median(best1m["maxscore"]), 3
    )

    # warm() evidence at 1M docs (VERDICT r4 #4): at sf0.1 the postings
    # scan is too small for the persisted frame to matter; here it is
    # the dominant cost. Cold and warm passes pin the DISTRIBUTED plan
    # (local=False) — the driver-local fast path never reads the
    # postings frame warm() persists — and run back-to-back (adjacent
    # box window), best-of-2 each, same queries.
    cold1m = []
    for q in z1qs:
        per = []
        for _ in range(2):
            t0 = time.time()
            z1.search(q, k=10, local=False).collect()
            per.append(time.time() - t0)
        cold1m.append(min(per))
    timings["query_bm25_1m_cold_dist"] = round(statistics.median(cold1m), 3)
    z1.warm()
    warm1m = []
    for q in z1qs:
        per = []
        for _ in range(2):
            t0 = time.time()
            z1.search(q, k=10, local=False).collect()
            per.append(time.time() - t0)
        warm1m.append(min(per))
    timings["query_bm25_1m_warm"] = round(statistics.median(warm1m), 3)
    z1.shards[0].postings.unpersist(blocking=False)  # release executor memory

    # amortized batch path: ONE job for the whole query set
    t0 = time.time()
    engine.batch_search([(f"q{i}", q) for i, q in enumerate(queries)], k=10).count()
    timings["query_batch_amortized"] = round((time.time() - t0) / len(queries), 3)

    # the flat-cost claim at scale: 1000 deterministic 2-term queries in
    # ONE job (vs 1000 job submissions serially). Per-query amortized cost
    # should be ~100x below the serial p50.
    top_terms = [
        r["term"]
        for r in engine.lexicon.orderBy(F.desc("cf"), "term")
        .select("term").limit(1000).collect()
    ]
    n = len(top_terms)
    big_qs = [
        (f"b{i}", f"{top_terms[i % n]} {top_terms[(i * 7 + 3) % n]}")
        for i in range(1000)
    ]
    t0 = time.time()
    engine.batch_search(big_qs, k=10).count()
    timings["query_batch_1000_amortized"] = round((time.time() - t0) / 1000, 4)

    def timed(name, fn):
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)

    # positional index: separate build+dir so the headline index_build
    # stays comparable across rounds
    idx_pos = idx_dir + "_pos"
    shutil.rmtree(idx_pos, ignore_errors=True)
    cfg_pos = EngineConfig(stopstem=True, skip_threshold=64,
                           shuffle_partitions=CPUS, positions=True)
    t0 = time.time()
    build_index(spark, corpus, idx_pos, cfg_pos, resume=False)
    timings["index_build_positions"] = round(time.time() - t0, 3)
    pos_engine = SearchEngine(spark, idx_pos)

    def _dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _dd, fs in os.walk(d) for f in fs
        )

    positions_bytes = _dir_bytes(os.path.join(idx_pos, "positions"))

    # warm the positions footers/plan first, like every other query
    # section (the first call after a fresh build pays worker-pool and
    # file-listing costs that are not the phrase path's)
    pos_engine.phrase_search("merge column", k=10).collect()
    timed("query_phrase",
          lambda: pos_engine.phrase_search(
              "merge column", k=10, local=False).collect())
    # driver-local phrase fast path (round 5): p50 over 5 calls — a
    # single timing at ~ms scale is noise
    pos_engine.phrase_search("merge column", k=10, local=True).collect()
    lat_pl = []
    for _ in range(5):
        t0 = time.time()
        pos_engine.phrase_search("merge column", k=10, local=True).collect()
        lat_pl.append(time.time() - t0)
    timings["query_phrase_local"] = round(statistics.median(lat_pl), 3)

    # sharded index + scatter-gather (index/sharded.py — the 100-TB
    # deployment shape as an engine API): 4-shard build of the same
    # corpus, then global top-k fan-out/merge p50 over the query set
    from searchengine_spark.index.sharded import (
        ShardedSearchEngine,
        build_sharded_index,
    )

    shard_base = idx_dir + "_sharded"
    shutil.rmtree(shard_base, ignore_errors=True)
    t0 = time.time()
    build_sharded_index(spark, corpus, shard_base, 4, cfg, resume=False)
    timings["index_build_sharded4"] = round(time.time() - t0, 3)
    sh_engine = ShardedSearchEngine(spark, shard_base)
    sh_engine.search(queries[0], k=10).collect()  # warm probes/footers
    lat_sh = []
    for q in queries:
        t0 = time.time()
        sh_engine.search(q, k=10).collect()
        lat_sh.append(time.time() - t0)
    timings["query_bm25_sharded_p50"] = round(statistics.median(lat_sh), 3)

    timed("query_conjunctive",
          lambda: engine.search("table value row", k=10, mode="conjunctive").collect())
    timed("query_maxscore",
          lambda: engine.search("fast merge batch sort", k=10, algo="maxscore").collect())
    timed("query_tfidf",
          lambda: engine.search("window agg customer stream", k=10, scorer="tfidf").collect())

    base = assign_doc_ids(with_sha256(filter_malformed(corpus))).persist()
    base.count()
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("content")), r"\s+", " ")), " ")
    shingled = base.select(
        "doc_id", DD.token_shingles(toks, 3).alias("shingles")
    ).filter(F.size(toks) > 0)

    timed("dedup_exact", lambda: DD.exact_duplicate_groups(base).count())
    timed("dedup_minhash_lsh",
          lambda: DD.lsh_candidate_pairs(
              DD.minhash_signatures(shingled, num_perm=16), num_perm=16, bands=4
          ).count())
    timed("dedup_simhash", lambda: DD.simhash64(shingled).count())
    timed("dedup_near_groups",
          lambda: DD.near_duplicate_groups(shingled, threshold=0.8).count())
    timed("textstats",
          lambda: TS.with_quality_score(TS.with_token_stats(base)).count())

    emb_path = os.path.join(SF_DIR, "embeddings.parquet")
    if os.path.exists(emb_path):
        emb = spark.read.parquet(emb_path)
        qv = emb.limit(1).collect()[0]["embedding"]
        timed("similarity_cosine_topk",
              lambda: SIM.cosine_topk(emb, qv, k=10).collect())
        # materialized ANN: build once (timed), then partition-pruned probes
        ann_dir = f"/tmp/se_bench_ann_{os.path.basename(SF_DIR.rstrip('/'))}"
        shutil.rmtree(ann_dir, ignore_errors=True)
        timed("similarity_ann_lsh_build",
              lambda: SIM.ann_build_lsh(
                  emb, f"{ann_dir}/lsh", dim=len(qv), n_planes=16, bands=4))
        timed("similarity_ann_lsh_query",
              lambda: SIM.ann_query_lsh(
                  spark, f"{ann_dir}/lsh", qv, k=10, max_hamming=8).collect())
        timed("similarity_ann_ivf_build",
              lambda: SIM.ann_build_ivf(emb, f"{ann_dir}/ivf", n_lists=8))
        timed("similarity_ann_ivf_query",
              lambda: SIM.ann_query_ivf(
                  spark, f"{ann_dir}/ivf", qv, k=10, n_probe=4).collect())
        timed("dedup_embedding_pairs",
              lambda: SIM.embedding_near_dup_pairs(
                  emb, dim=len(qv), threshold=0.4).count())

    total = time.time() - t_all
    print(json.dumps({
        "metric": "index-build docs/sec + BM25 top-10 p50 latency (sec)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "build_docs_per_sec": round(n_docs / build_sec, 1),
        "n_docs_big": n_big,
        "build_docs_per_sec_100k": round(n_big / big_sec, 1),
        "build_docs_per_sec_zipf100k": round(100_000 / z_sec, 1),
        "build_tokens_per_sec_zipf100k": round(n_tokens / z_sec, 1),
        "positions_bytes": positions_bytes,
        "cpus": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
