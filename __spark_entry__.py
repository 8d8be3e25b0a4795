"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a searchengine_spark operator over the
driver's parquet tables; the matching ``oracle_sql()`` entry reproduces it
in pure DuckDB SQL (views: region nation customer supplier part orders
lineitem events documents embeddings).

Oracle configuration: the engine runs with stopword removal ON and Porter
stemming OFF (EngineConfig.stopwords_only) because stemming is not
expressible in SQL — stemming correctness is pinned by
tests/test_stemmer.py + tests/test_query.py against the pure-Python
brute-force oracle instead. Floating-point outputs are rounded to 6
decimals on BOTH sides, and all score sums are order-deterministic
(engine: term-order fold; SQL: ``sum(... ORDER BY term)``).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import build_index
from searchengine_spark.pipeline import dedup as DD
from searchengine_spark.pipeline import similarity as SIM
from searchengine_spark.pipeline import textstats as TS
from searchengine_spark.query.engine import SearchEngine
from searchengine_spark.resources.stopwords import STOPWORDS
from searchengine_spark.sources.corpus import (
    assign_doc_ids,
    filter_malformed,
    load_documents_as_corpus,
    with_sha256,
)

# skip_threshold lowered so skip blocks exist at the 500-doc correctness
# scale (FIXTURES.md §7 wants the block path exercised under the oracle)
ENTRY_CONFIG = EngineConfig(
    stopstem=False, stopwords_only=True, skip_threshold=64,
    shuffle_partitions=16, positions=True,
)

Q_DISJ = "spark table join fast"
Q_PHRASE = "merge column"
Q_TFIDF = "window agg customer stream"
Q_CONJ = "table value row"
Q_MAXSCORE = "fast merge batch sort"
# rare discriminative term (df 25 of 500 at sf0.01) + two frequent ones:
# the selectivity shape that routes MaxScore through the driver-side
# candidate probe + literal nextGEQ block pruning (engine.py
# _candidates_driver) — hash-pinned here so the pruned path, not just
# the degraded-to-DAAT path, sits under the oracle
Q_RARE = "dup spark batch"
PROBE_TERM = "spark"
BATCH_QUERIES = [
    ("b1", Q_DISJ), ("b2", Q_TFIDF), ("b3", Q_CONJ), ("b4", Q_MAXSCORE)
]

# materialized-ANN entry parameters (all seeded -> reproducible; the LSH
# oracle reproduces the full banded pipeline in DuckDB with the planes
# embedded as literals)
ANN_DIM = 64
ANN_PLANES = 16
ANN_BANDS = 4
ANN_SEED = 42
ANN_MAX_HAMMING = 8
IVF_LISTS = 8

_ENGINE_CACHE: dict[tuple[str, bool], SearchEngine] = {}
_CORPUS_CACHE: dict[str, DataFrame] = {}
_ANN_CACHE: dict[tuple[str, str], str] = {}
_SHARDED_CACHE: dict[str, "object"] = {}


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = os.path.abspath(sf_dir)
    if key not in _CORPUS_CACHE:
        c = load_documents_as_corpus(spark, sf_dir)
        _CORPUS_CACHE[key] = assign_doc_ids(
            with_sha256(filter_malformed(c))
        ).persist()
    return _CORPUS_CACHE[key]


def _engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    key = os.path.abspath(sf_dir)
    if key not in _ENGINE_CACHE:
        idx = "/tmp/se_entry_index/" + hashlib.md5(key.encode()).hexdigest()[:12]
        build_index(
            spark,
            load_documents_as_corpus(spark, sf_dir),
            idx,
            ENTRY_CONFIG,
            resume=True,
        )
        _ENGINE_CACHE[key] = SearchEngine(spark, idx)
    return _ENGINE_CACHE[key]


def _sharded_engine(spark: SparkSession, sf_dir: str):
    """Build-once cache of a 3-shard index over the same corpus/config as
    the single-index entries — the scatter-gather results must hash-match
    the SAME DuckDB top-k SQL the single index is pinned against."""
    from searchengine_spark.index.sharded import (
        ShardedSearchEngine,
        build_sharded_index,
    )

    key = os.path.abspath(sf_dir)
    if key not in _SHARDED_CACHE:
        out = (
            "/tmp/se_entry_sharded/"
            + hashlib.md5(key.encode()).hexdigest()[:12]
        )
        if not os.path.exists(os.path.join(out, "sharded_manifest.json")):
            build_sharded_index(
                spark,
                load_documents_as_corpus(spark, sf_dir),
                out,
                n_shards=3,
                config=ENTRY_CONFIG,
            )
        _SHARDED_CACHE[key] = ShardedSearchEngine(spark, out)
    return _SHARDED_CACHE[key]


def _base_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )


def _query_vector(spark: SparkSession, sf_dir: str) -> list:
    emb = spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")
    return emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]


def _ann_dir(spark: SparkSession, sf_dir: str, method: str) -> str:
    """Build-once cache of the materialized ANN index per (sf, method)."""
    key = (os.path.abspath(sf_dir), method)
    if key not in _ANN_CACHE:
        out = (
            "/tmp/se_entry_ann/"
            + hashlib.md5(key[0].encode()).hexdigest()[:12]
            + "_"
            + method
        )
        if not os.path.exists(os.path.join(out, "ann_meta.json")):
            base = _base_vectors(spark, sf_dir)
            if method == "lsh":
                SIM.ann_build_lsh(
                    base, out, dim=ANN_DIM, n_planes=ANN_PLANES,
                    bands=ANN_BANDS, seed=ANN_SEED,
                )
            else:
                SIM.ann_build_ivf(base, out, n_lists=IVF_LISTS, seed=ANN_SEED)
        _ANN_CACHE[key] = out
    return _ANN_CACHE[key]


def _topk_df(engine: SearchEngine, query: str, **kw) -> DataFrame:
    # pin the DISTRIBUTED plans (J1/J2/J3) unless a caller explicitly
    # opts into the driver-local fast path — bm25_topk_local_exec pins
    # that one; results are bit-identical either way (test_local_exec)
    kw.setdefault("local", False)
    r = engine.search(query, **kw)
    return r.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(F.col("score"), 6).alias("score"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 disjunctive query over the sf0.001 corpus."""
    return _topk_df(_engine(spark, "/root/testdata/sf0.001"), Q_DISJ, k=10)


def _simple_tokens_expr():
    """Whitespace-lowercase tokens shared by the dedup/minhash operators
    (independent of engine stopword/stem config)."""
    return F.split(
        F.trim(F.regexp_replace(F.lower(F.col("content")), r"\s+", " ")), " "
    )


def _shingled(spark, sf_dir) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    toks = _simple_tokens_expr()
    return corpus.select(
        "doc_id", DD.token_shingles(toks, 3).alias("shingles")
    ).filter(F.size(toks) > 0)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def doc_table(spark, sf):
        return _engine(spark, sf).doctable.select(
            "doc_id", "docno", F.col("doc_len").cast("long").alias("doc_len"),
            "sha256",
        )

    def collection_stats(spark, sf):
        s = _engine(spark, sf).stats
        return spark.createDataFrame(
            [
                (
                    s["n_docs"],
                    float(s["tot_doc_len"]),
                    round(s["avgdl"], 6),
                )
            ],
            "n_docs long, tot_doc_len double, avgdl double",
        )

    def lexicon(spark, sf):
        return _engine(spark, sf).lexicon.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
            F.round("idf", 6).alias("idf"),
        )

    def term_postings(spark, sf):
        eng = _engine(spark, sf)
        return eng.shards[0]._exploded_postings([PROBE_TERM]).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("tf").cast("long").alias("tf"),
        )

    def bm25_topk_disjunctive(spark, sf):
        return _topk_df(_engine(spark, sf), Q_DISJ, k=10)

    def tfidf_topk_disjunctive(spark, sf):
        return _topk_df(_engine(spark, sf), Q_TFIDF, k=10, scorer="tfidf")

    def bm25_topk_conjunctive(spark, sf):
        return _topk_df(_engine(spark, sf), Q_CONJ, k=10, mode="conjunctive")

    def bm25_topk_maxscore(spark, sf):
        return _topk_df(_engine(spark, sf), Q_MAXSCORE, k=10, algo="maxscore")

    def bm25_topk_rare_term(spark, sf):
        return _topk_df(_engine(spark, sf), Q_RARE, k=10, algo="maxscore")

    def bm25_topk_local_exec(spark, sf):
        # the driver-local fast path (numpy scoring, NO Spark job) under
        # the same DuckDB oracle as the distributed disjunctive plan —
        # scores are bit-identical by construction (engine.py _local_topk)
        return _topk_df(_engine(spark, sf), Q_DISJ, k=10, local=True)

    def bm25_topk_local_maxscore(spark, sf):
        # local path with the metadata theta + block-max pruning engaged
        return _topk_df(
            _engine(spark, sf), Q_MAXSCORE, k=10, algo="maxscore", local=True
        )

    def bm25_topk_sharded(spark, sf):
        # 3-shard scatter-gather with the distributed union merge
        # (index/sharded.py): must hash-match the single-index SQL oracle
        return _topk_df(_sharded_engine(spark, sf), Q_DISJ, k=10)

    def bm25_topk_sharded_conjunctive(spark, sf):
        # conjunctive across shards (term-missing shards short-circuit)
        # through the driver-local per-shard fast path + pandas merge
        return _topk_df(
            _sharded_engine(spark, sf), Q_CONJ, k=10, mode="conjunctive",
            local=True,
        )

    def dedup_exact(spark, sf):
        return DD.exact_duplicate_groups(_corpus(spark, sf)).select(
            "content_sha",
            F.col("n_dups").cast("long").alias("n_dups"),
            F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
        )

    def dedup_minhash_lsh(spark, sf):
        sig = DD.minhash_signatures(_shingled(spark, sf), num_perm=16)
        return DD.lsh_candidate_pairs(sig, num_perm=16, bands=4).select(
            F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
        )

    def ngram_jaccard_pairs(spark, sf):
        # scale-safe composition (never standalone over the full corpus):
        # exact Jaccard only VERIFIES the LSH candidate pair set
        sh = _shingled(spark, sf)
        cand = DD.lsh_candidate_pairs(
            DD.minhash_signatures(sh, num_perm=16), num_perm=16, bands=4
        )
        return DD.jaccard_on_candidates(sh, cand, threshold=0.8).select(
            F.col("doc_a").cast("long"),
            F.col("doc_b").cast("long"),
            F.round("jaccard", 6).alias("jaccard"),
        )

    def dedup_near_groups(spark, sf):
        return DD.near_duplicate_groups(
            _shingled(spark, sf), num_perm=16, bands=4, threshold=0.8
        ).select(
            F.col("doc_id").cast("long"),
            F.col("group_id").cast("long"),
            "keep",
        )

    def token_count(spark, sf):
        return TS.with_token_stats(_corpus(spark, sf)).select(
            "doc_id", "n_tokens", "n_chars", "mean_token_len"
        )

    def quality_score(spark, sf):
        return TS.with_quality_score(_corpus(spark, sf)).select(
            "doc_id", "quality"
        )

    def lang_id(spark, sf):
        return TS.with_lang_id(_corpus(spark, sf)).select(
            "doc_id", "en_ratio", "lang_pred"
        )

    def fingerprint(spark, sf):
        return TS.with_fingerprint(_corpus(spark, sf)).select(
            "doc_id", "fingerprint"
        )

    def bm25_topk_k100(spark, sf):
        return _topk_df(_engine(spark, sf), Q_DISJ, k=100)

    def tfidf_topk_conjunctive(spark, sf):
        return _topk_df(
            _engine(spark, sf), Q_CONJ, k=10, mode="conjunctive", scorer="tfidf"
        )

    def top_terms_by_cf(spark, sf):
        return (
            _engine(spark, sf)
            .lexicon.select(
                "term",
                F.col("cf").cast("long").alias("cf"),
                F.col("df").cast("long").alias("df"),
            )
            .orderBy(F.desc("cf"), "term")
            .limit(20)
        )

    def term_block_structure(spark, sf):
        eng = _engine(spark, sf)
        return eng.lexicon.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("block_size").cast("long").alias("block_size"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
        )

    def windowed_event_rollup(spark, sf):
        from searchengine_spark.streaming.windows import (
            windowed_event_rollup as rollup,
        )

        ev = spark.read.parquet(f"{sf.rstrip('/')}/events.parquet")
        return rollup(ev, window_minutes=60).select(
            F.unix_timestamp("window_start").alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )

    def sessionize_events(spark, sf):
        from searchengine_spark.streaming.sessions import sessionize_batch

        ev = spark.read.parquet(f"{sf.rstrip('/')}/events.parquet")
        return sessionize_batch(ev, gap_minutes=30).select(
            "user_id",
            F.unix_timestamp(F.col("session_start").cast("timestamp")).alias(
                "session_start_epoch"
            ),
            F.unix_timestamp(F.col("session_end").cast("timestamp")).alias(
                "session_end_epoch"
            ),
            "n_events",
            "sum_value",
        )

    def embedding_cosine_topk(spark, sf):
        emb = spark.read.parquet(f"{sf.rstrip('/')}/embeddings.parquet")
        qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
        return SIM.cosine_topk(emb.filter(F.col("vec_id") != 0), qv, k=10).select(
            F.col("vec_id").cast("long").alias("vec_id"), "cosine"
        )

    def embedding_near_pairs(spark, sf):
        # vector-space dedup: banded-LSH candidates -> exact cosine >= t
        emb = spark.read.parquet(f"{sf.rstrip('/')}/embeddings.parquet")
        return SIM.embedding_near_dup_pairs(
            emb, dim=ANN_DIM, threshold=0.4, n_planes=ANN_PLANES,
            bands=ANN_BANDS, seed=ANN_SEED,
        ).select(
            F.col("vec_a").cast("long"),
            F.col("vec_b").cast("long"),
            "cosine",
        )

    def bpe_token_estimate(spark, sf):
        return TS.with_bpe_token_estimate(_corpus(spark, sf)).select(
            "doc_id", "n_pieces", "est_bpe_tokens"
        )

    def chunked_documents(spark, sf):
        return TS.chunk_documents(
            _corpus(spark, sf), max_tokens=64, overlap=16
        ).select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")

    def _phrase_df(spark, sf, local):
        return _engine(spark, sf).phrase_search(
            Q_PHRASE, k=10, local=local
        ).select(
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.round(F.col("score"), 6).alias("score"),
            F.col("phrase_tf").cast("long").alias("phrase_tf"),
        )

    def phrase_topk(spark, sf):
        # exact-phrase top-k over the positional index — DISTRIBUTED
        # plan pinned (the auto gate would route this corpus local)
        return _phrase_df(spark, sf, local=False)

    def phrase_topk_local(spark, sf):
        # the driver-local phrase fast path under the same SQL oracle
        return _phrase_df(spark, sf, local=True)

    def phrase_topk_sharded(spark, sf):
        # scatter-gather phrase over the 3-shard index (global phrase_df
        # summed across shards, global stats injected) — same SQL oracle
        return _sharded_engine(spark, sf).phrase_search(
            Q_PHRASE, k=10
        ).select(
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.round(F.col("score"), 6).alias("score"),
            F.col("phrase_tf").cast("long").alias("phrase_tf"),
        )

    def batch_efficiency_shape(spark, sf):
        # S10 "e" mode (TestPerformance.java:58-104) under the oracle:
        # the report's latencies are non-deterministic, so the pinned
        # surface is the deterministic remainder — per-query result
        # counts, k, and query count — produced by the REAL
        # batch_efficiency_report call (one batch job).
        from searchengine_spark.query.trec import batch_efficiency_report

        rep = batch_efficiency_report(_engine(spark, sf), BATCH_QUERIES, k=10)
        rows = [
            (qid, int(rep["per_query_results"][qid]), int(rep["k"]),
             int(rep["n_queries"]))
            for qid, _t in BATCH_QUERIES
        ]
        return spark.createDataFrame(
            rows, "query_id string, n_results long, k long, n_queries long"
        )

    def batch_topk(spark, sf):
        # single-job batch path: one broadcast-join plan for all queries
        return (
            _engine(spark, sf)
            .batch_search(BATCH_QUERIES, k=10)
            .select(
                "query_id",
                F.col("rank").cast("long").alias("rank"),
                F.col("doc_id").cast("long").alias("doc_id"),
                F.round(F.col("score"), 6).alias("score"),
            )
        )

    def batch_topk_sharded(spark, sf):
        # scatter-gather batch: one job per shard with global idf +
        # known-term sets injected, per-query re-rank — same SQL oracle
        return (
            _sharded_engine(spark, sf)
            .batch_search(BATCH_QUERIES, k=10)
            .select(
                "query_id",
                F.col("rank").cast("long").alias("rank"),
                F.col("doc_id").cast("long").alias("doc_id"),
                F.round(F.col("score"), 6).alias("score"),
            )
        )

    def simhash_fingerprints(spark, sf):
        return DD.simhash64(_shingled(spark, sf))

    def simhash_near_pairs(spark, sf):
        return DD.simhash_near_pairs(
            DD.simhash64(_shingled(spark, sf)), max_hamming=3, bands=4
        ).select(
            F.col("doc_a").cast("long"),
            F.col("doc_b").cast("long"),
            F.col("hamming").cast("long").alias("hamming"),
        )

    def multimodal_features(spark, sf):
        from searchengine_spark.pipeline.multimodal import (
            attach_media_metadata,
            extract_features,
        )

        docs = _corpus(spark, sf).select(
            "doc_id",
            F.lit("image").alias("media_type"),
            F.col("content").cast("binary").alias("payload"),
        )
        meta = attach_media_metadata(docs)
        feat = extract_features(docs, dim=8, fake=True)
        return meta.join(feat.select("doc_id", "feature"), "doc_id").select(
            "doc_id",
            "media_type",
            "n_bytes",
            "payload_sha",
            F.size("feature").alias("feature_dim"),
        )

    def embedding_cosine_topk_ivf(spark, sf):
        # probe-ALL correctness gate: with n_probe == n_lists the IVF
        # probe must reproduce exact brute force regardless of the
        # clustering — pins assignment completeness + probe machinery.
        # Partial-probe pruning quality is pinned by ann_ivf_recall.
        qv = _query_vector(spark, sf)
        return SIM.ann_query_ivf(
            spark, _ann_dir(spark, sf, "ivf"), qv, k=10, n_probe=IVF_LISTS
        ).select(F.col("vec_id").cast("long").alias("vec_id"), "cosine")

    def ann_ivf_recall(spark, sf):
        # partition-pruned probe (n_probe=4 of 8): deterministic recall
        # vs exact top-10 given the seeded build; driver pins the
        # threshold via a literal oracle
        qv = _query_vector(spark, sf)
        exact = {
            r["vec_id"]
            for r in SIM.cosine_topk(_base_vectors(spark, sf), qv, k=10).collect()
        }
        ann = {
            r["vec_id"]
            for r in SIM.ann_query_ivf(
                spark, _ann_dir(spark, sf, "ivf"), qv, k=10, n_probe=4
            ).collect()
        }
        recall_ok = len(ann & exact) >= 7
        return spark.createDataFrame(
            [(10, 4, IVF_LISTS, recall_ok)],
            "k long, n_probe long, n_lists long, recall_ok boolean",
        )

    def retrieval_effectiveness(spark, sf):
        # the reference's §5 evaluation loop (TestPerformance -> external
        # trec_eval) natively: batch run x deterministic synthetic qrels
        # (qrels for query i = docs with doc_id % 5 == i, graded rel =
        # 1 + doc_id % 3 — pure arithmetic, reproduced verbatim in SQL)
        # -> per-query RR and nDCG@10, both order-deterministic folds
        from searchengine_spark.query.metrics import ndcg_at_k, reciprocal_rank

        eng = _engine(spark, sf)
        run = eng.batch_search(BATCH_QUERIES, k=10)
        doct = eng.doctable.select("doc_id")
        parts = [
            doct.filter(F.col("doc_id") % 5 == i).select(
                F.lit(qid).alias("query_id"),
                "doc_id",
                (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("rel"),
            )
            for i, (qid, _) in enumerate(BATCH_QUERIES)
        ]
        qrels = parts[0]
        for p in parts[1:]:
            qrels = qrels.unionByName(p)
        rr = reciprocal_rank(run, qrels)
        nd = ndcg_at_k(run, qrels, k=10)
        return rr.join(nd, "query_id").select(
            "query_id",
            F.round("rr", 6).alias("rr"),
            F.round("ndcg", 6).alias("ndcg"),
        )

    def trec_run_roundtrip(spark, sf):
        # S2 + S10 under the oracle: write the query set as a qid\ttext
        # TSV, parse it back (the CLI's scan), run the one-job batch,
        # write the six-column TREC run file, parse THAT back and hash
        # the parsed rows — pins both I/O formats end-to-end
        import tempfile

        from searchengine_spark.query.trec import (
            parse_trec_run,
            read_query_tsv,
            trec_run_df,
            write_trec_run,
        )

        eng = _engine(spark, sf)
        tmp = tempfile.mkdtemp(prefix="se_entry_trec_")
        qpath = os.path.join(tmp, "queries.tsv")
        with open(qpath, "w") as f:
            f.write("\n")  # blank line: must be skipped
            for qid, text in BATCH_QUERIES:
                f.write(f"{qid}\t{text}\n")
            f.write("malformed-no-tab\n")  # must be skipped
        queries = read_query_tsv(qpath)
        run = trec_run_df(eng, queries, k=10, run_id="RUN-01")
        rpath = os.path.join(tmp, "run.txt")
        write_trec_run(run, rpath)
        rows = parse_trec_run(rpath)
        return spark.createDataFrame(
            rows,
            "query_id string, q0 string, docno string, rank long, "
            "score double, run_id string",
        )

    def embedding_cosine_topk_lsh(spark, sf):
        # materialized banded-LSH probe; the DuckDB oracle reproduces the
        # ENTIRE pipeline (signatures from literal hyperplanes, band
        # pigeonhole probe, Hamming filter, exact cosine)
        qv = _query_vector(spark, sf)
        return SIM.ann_query_lsh(
            spark, _ann_dir(spark, sf, "lsh"), qv, k=10,
            max_hamming=ANN_MAX_HAMMING,
        ).select(F.col("vec_id").cast("long").alias("vec_id"), "cosine")

    def embedding_cosine_topk_streamed(spark, sf):
        # streaming-ANN path (streaming/ann.py): the same base vectors
        # arrive as THREE foreachBatch micro-batches, get compacted into
        # a versioned store, and the probe must hash-match the SAME
        # DuckDB SQL as the batch-built LSH store — streamed-then-
        # compacted ≡ batch-built, under the driver oracle
        from searchengine_spark.streaming.ann import StreamingAnnIndexer

        out = (
            "/tmp/se_entry_sann/"
            + hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:12]
        )
        marker = os.path.join(out, "_ENTRY_COMPLETE")
        if not os.path.exists(marker):
            import shutil as _shutil

            _shutil.rmtree(out, ignore_errors=True)
            idx = StreamingAnnIndexer(
                spark, out, dim=ANN_DIM, n_planes=ANN_PLANES,
                bands=ANN_BANDS, seed=ANN_SEED,
            )
            base = _base_vectors(spark, sf)
            for b in range(3):
                idx.process_batch(base.filter(F.col("vec_id") % 3 == b), b)
            idx.compact()
            with open(marker, "w") as f:
                f.write("ok")
        else:
            idx = StreamingAnnIndexer(
                spark, out, dim=ANN_DIM, n_planes=ANN_PLANES,
                bands=ANN_BANDS, seed=ANN_SEED,
            )
        qv = _query_vector(spark, sf)
        return idx.query(qv, k=10, max_hamming=ANN_MAX_HAMMING).select(
            F.col("vec_id").cast("long").alias("vec_id"), "cosine"
        )

    return {
        "doc_table": doc_table,
        "collection_stats": collection_stats,
        "lexicon": lexicon,
        "term_postings": term_postings,
        "bm25_topk_disjunctive": bm25_topk_disjunctive,
        "tfidf_topk_disjunctive": tfidf_topk_disjunctive,
        "bm25_topk_conjunctive": bm25_topk_conjunctive,
        "bm25_topk_maxscore": bm25_topk_maxscore,
        "bm25_topk_rare_term": bm25_topk_rare_term,
        "bm25_topk_k100": bm25_topk_k100,
        "tfidf_topk_conjunctive": tfidf_topk_conjunctive,
        "top_terms_by_cf": top_terms_by_cf,
        "term_block_structure": term_block_structure,
        "windowed_event_rollup": windowed_event_rollup,
        "sessionize_events": sessionize_events,
        "dedup_exact": dedup_exact,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "token_count": token_count,
        "quality_score": quality_score,
        "lang_id": lang_id,
        "fingerprint": fingerprint,
        "embedding_cosine_topk": embedding_cosine_topk,
        "embedding_near_pairs": embedding_near_pairs,
        "bpe_token_estimate": bpe_token_estimate,
        "chunked_documents": chunked_documents,
        "simhash_fingerprints": simhash_fingerprints,
        "simhash_near_pairs": simhash_near_pairs,
        "multimodal_features": multimodal_features,
        "embedding_cosine_topk_lsh": embedding_cosine_topk_lsh,
        "embedding_cosine_topk_streamed": embedding_cosine_topk_streamed,
        "embedding_cosine_topk_ivf": embedding_cosine_topk_ivf,
        "ann_ivf_recall": ann_ivf_recall,
        "bm25_topk_local_exec": bm25_topk_local_exec,
        "bm25_topk_local_maxscore": bm25_topk_local_maxscore,
        "bm25_topk_sharded": bm25_topk_sharded,
        "bm25_topk_sharded_conjunctive": bm25_topk_sharded_conjunctive,
        "phrase_topk": phrase_topk,
        "phrase_topk_local": phrase_topk_local,
        "phrase_topk_sharded": phrase_topk_sharded,
        "batch_topk": batch_topk,
        "batch_topk_sharded": batch_topk_sharded,
        "batch_efficiency_shape": batch_efficiency_shape,
        "dedup_near_groups": dedup_near_groups,
        "retrieval_effectiveness": retrieval_effectiveness,
        "trec_run_roundtrip": trec_run_roundtrip,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SW_LIST = ", ".join("'" + w + "'" for w in sorted(STOPWORDS))

# T1-T10 pipeline in RE2: url -> lower -> html -> punct -> non-ascii -> ws
_CLEAN = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "lower(regexp_replace(content, 'https?://\\S+\\s?', ' ', 'g')), "
    "'<[^>]*>', '', 'g'), "
    "'[!-/:-@\\[-`<LB>-~]', ' ', 'g'), "
    "'[^\\x00-\\x7F]', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
).replace("<LB>", "{")

_BASE_CTES = f"""
corpus AS (
  SELECT source AS repo,
         'doc/' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS path,
         substr(sha256(text), 1, 40) AS commit_sha,
         lang, text AS content
  FROM documents
),
base AS (
  SELECT repo, path, commit_sha, lang, content,
         CAST(row_number() OVER (ORDER BY repo, path, commit_sha) AS BIGINT) AS doc_id
  FROM corpus
  WHERE content IS NOT NULL AND len(content) > 0
),
toks AS (
  SELECT doc_id,
         list_transform(
           list_filter(str_split({_CLEAN}, ' '),
                       t -> t <> '' AND t NOT IN ({_SW_LIST})),
           t -> substr(t, 1, 20)) AS tokens
  FROM base
),
doclen AS (SELECT doc_id, len(tokens) AS dl FROM toks),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
tft AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM exploded GROUP BY 1, 2),
stats AS (SELECT CAST(count(*) + 1 AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) AS tot FROM doclen),
lex AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS cf FROM tft GROUP BY 1)
"""


def _terms_sql(query: str) -> str:
    from searchengine_spark.functions.text import tokenize_query_py

    terms = tokenize_query_py(query, ENTRY_CONFIG)
    return ", ".join("'" + t + "'" for t in terms)


def _topk_sql(query: str, scorer: str = "bm25", conjunctive: bool = False,
              k: int = 10) -> str:
    terms = _terms_sql(query)
    if scorer == "bm25":
        per = (
            "(tft.tf / (1.2 * (0.25 + 0.75 * doclen.dl / (stats.tot / stats.n_docs))"
            " + tft.tf)) * log10(stats.n_docs / lex.df)"
        )
    else:
        per = "(1 + log10(tft.tf)) * log10(stats.n_docs / lex.df)"
    having = (
        f"HAVING count(*) = (SELECT count(*) FROM lex WHERE term IN ({terms}))"
        if conjunctive
        else ""
    )
    return f"""
WITH {_BASE_CTES},
scored AS (
  SELECT tft.doc_id, sum({per} ORDER BY tft.term) AS score
  FROM tft
  JOIN lex ON tft.term = lex.term
  JOIN doclen ON doclen.doc_id = tft.doc_id
  CROSS JOIN stats
  WHERE tft.term IN ({terms})
  GROUP BY tft.doc_id
  {having}
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       doc_id, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id
LIMIT {k}
"""


_SIMPLE_TOKS = (
    "str_split(trim(regexp_replace(lower(content), '\\s+', ' ', 'g')), ' ')"
)

_SHINGLE_CTES = f"""
corpus AS (
  SELECT source AS repo,
         'doc/' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS path,
         substr(sha256(text), 1, 40) AS commit_sha,
         lang, text AS content
  FROM documents
),
base AS (
  SELECT repo, path, commit_sha, lang, content,
         CAST(row_number() OVER (ORDER BY repo, path, commit_sha) AS BIGINT) AS doc_id
  FROM corpus
  WHERE content IS NOT NULL AND len(content) > 0
),
stoks AS (SELECT doc_id, {_SIMPLE_TOKS} AS t FROM base
          WHERE len({_SIMPLE_TOKS}) > 0),
shingled AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                        i -> array_to_string(t[i:i+2], ' ')) AS shingles
  FROM stoks
),
sh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM shingled)
"""

# MinHash signatures -> LSH bands -> candidate pair set (shared by the
# dedup_minhash_lsh / ngram_jaccard_pairs / dedup_near_groups oracles)
_MINHASH_CTES = f"""{_SHINGLE_CTES},
mh AS (
  SELECT doc_id, p.perm,
         min(('0x' || substr(md5(CAST(p.perm AS VARCHAR) || ':' || sh), 1, 8))::BIGINT) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS perm) p
  GROUP BY doc_id, p.perm
),
bands AS (
  SELECT doc_id, CAST(perm // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS band_hash
  FROM mh GROUP BY doc_id, CAST(perm // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""

# exact Jaccard restricted to the LSH candidate pairs (threshold 0.8)
_JACCARD_ON_CAND_CTES = f"""{_MINHASH_CTES},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT c.doc_a, c.doc_b,
         n_common / (sa.n_sh + sb.n_sh - n_common) AS j_raw
  FROM common c
  JOIN cand ON cand.doc_a = c.doc_a AND cand.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)"""

# 64-bit SimHash per doc (two 32-bit md5-prefix hashes -> sign-sum bits);
# the hi word is wrapped to signed 32-bit BEFORE the *2^32 so the value
# matches Spark's shiftleft wraparound, and bit 63 is added as the signed
# minimum (DuckDB refuses 1<<63 where Java wraps)
_SIMHASH_CTES = f"""{_SHINGLE_CTES},
hashed AS (
  SELECT doc_id,
         (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
           * 4294967296 + lo AS h
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5('hi' || ':' || sh), 1, 8))::BIGINT AS hi,
           ('0x' || substr(md5('lo' || ':' || sh), 1, 8))::BIGINT AS lo
    FROM sh
  )
),
bits AS (
  SELECT doc_id, b.bit, ((h >> b.bit) & 1) * 2 - 1 AS sign
  FROM hashed CROSS JOIN (SELECT unnest(range(64)) AS bit) b
),
bitsums AS (SELECT doc_id, bit, sum(sign) AS s FROM bits GROUP BY 1, 2),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN
                    CASE WHEN bit = 63 THEN -9223372036854775808
                         ELSE 1::BIGINT << bit END
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsums GROUP BY doc_id
)"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["doc_table"] = f"""
WITH {_BASE_CTES}
SELECT b.doc_id, b.repo || '/' || b.path AS docno,
       CAST(d.dl AS BIGINT) AS doc_len, sha256(b.content) AS sha256
FROM base b JOIN doclen d USING (doc_id)
"""

    sql["collection_stats"] = f"""
WITH {_BASE_CTES}
SELECT n_docs, tot AS tot_doc_len, round(tot / n_docs, 6) AS avgdl FROM stats
"""

    sql["lexicon"] = f"""
WITH {_BASE_CTES}
SELECT term, df, cf,
       round(log10((SELECT n_docs FROM stats) / df), 6) AS idf
FROM lex
"""

    sql["term_postings"] = f"""
WITH {_BASE_CTES}
SELECT doc_id, tf FROM tft WHERE term = '{PROBE_TERM}'
"""

    sql["bm25_topk_disjunctive"] = _topk_sql(Q_DISJ)
    sql["tfidf_topk_disjunctive"] = _topk_sql(Q_TFIDF, scorer="tfidf")
    sql["bm25_topk_conjunctive"] = _topk_sql(Q_CONJ, conjunctive=True)
    sql["bm25_topk_maxscore"] = _topk_sql(Q_MAXSCORE)
    sql["bm25_topk_rare_term"] = _topk_sql(Q_RARE)
    sql["bm25_topk_local_exec"] = _topk_sql(Q_DISJ)
    sql["bm25_topk_local_maxscore"] = _topk_sql(Q_MAXSCORE)
    sql["bm25_topk_sharded"] = _topk_sql(Q_DISJ)
    sql["bm25_topk_sharded_conjunctive"] = _topk_sql(Q_CONJ, conjunctive=True)
    sql["bm25_topk_k100"] = _topk_sql(Q_DISJ, k=100)
    sql["tfidf_topk_conjunctive"] = _topk_sql(Q_CONJ, scorer="tfidf", conjunctive=True)

    sql["windowed_event_rollup"] = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
"""

    sql["sessionize_events"] = """
WITH marked AS (
  SELECT user_id, ts, value,
         -- strict > : an event at exactly the gap still merges into the
         -- session (Spark session_window merges touching windows)
         CASE WHEN epoch(ts) - lag(epoch(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM marked
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end_epoch,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM numbered GROUP BY user_id, sess
"""

    sql["top_terms_by_cf"] = f"""
WITH {_BASE_CTES}
SELECT term, cf, df FROM lex ORDER BY cf DESC, term LIMIT 20
"""

    # block layout: lists with df >= 64 (ENTRY_CONFIG.skip_threshold) are
    # split into ceil(sqrt(df))-sized blocks; shorter lists are one block
    sql["term_block_structure"] = f"""
WITH {_BASE_CTES}
SELECT term, df,
       CAST(CASE WHEN df >= 64 THEN ceil(sqrt(df)) ELSE df END AS BIGINT)
         AS block_size,
       CAST(ceil(CAST(df AS DOUBLE) /
                 (CASE WHEN df >= 64 THEN ceil(sqrt(df)) ELSE df END))
         AS BIGINT) AS n_blocks
FROM lex
"""

    sql["dedup_exact"] = f"""
WITH {_BASE_CTES}
SELECT sha256(content) AS content_sha,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_doc_id
FROM base GROUP BY 1 HAVING count(*) > 1
"""

    sql["dedup_minhash_lsh"] = f"""
WITH {_MINHASH_CTES}
SELECT doc_a, doc_b FROM cand
"""

    sql["ngram_jaccard_pairs"] = f"""
WITH {_JACCARD_ON_CAND_CTES}
SELECT doc_a, doc_b, round(j_raw, 6) AS jaccard
FROM jac WHERE j_raw >= 0.8
"""

    sql["dedup_near_groups"] = f"""
WITH RECURSIVE {_JACCARD_ON_CAND_CTES},
ver AS (SELECT doc_a, doc_b FROM jac WHERE j_raw >= 0.8),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ver
  UNION
  SELECT doc_b AS a, doc_a AS b FROM ver
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.doc
)
SELECT doc AS doc_id, min(r) AS group_id, doc = min(r) AS keep
FROM reach GROUP BY doc
"""

    sql["simhash_fingerprints"] = f"""
WITH {_SIMHASH_CTES}
SELECT doc_id, simhash FROM sim
"""

    sql["simhash_near_pairs"] = f"""
WITH {_SIMHASH_CTES},
banded AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (b.band * 16)) & 65535 AS band_val
  FROM sim CROSS JOIN (SELECT unnest(range(4)) AS band) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    ws_count = (
        "CASE WHEN trim(regexp_replace(content, '\\s+', ' ', 'g')) = '' THEN 0 "
        "ELSE len(str_split(trim(regexp_replace(content, '\\s+', ' ', 'g')), ' ')) END"
    )
    sql["token_count"] = f"""
WITH {_BASE_CTES}
SELECT doc_id,
       CAST({ws_count} AS BIGINT) AS n_tokens,
       CAST(len(content) AS BIGINT) AS n_chars,
       CASE WHEN {ws_count} > 0
            THEN round(len(regexp_replace(content, '\\s+', '', 'g'))
                       / ({ws_count}), 6)
            ELSE 0.0 END AS mean_token_len
FROM base
"""

    punct = "'[!-/:-@\\[-`<LB>-~]'".replace("<LB>", "{")
    sql["quality_score"] = f"""
WITH {_BASE_CTES},
q AS (
  SELECT doc_id,
         {ws_count} AS n_tokens,
         len(content) AS n_chars,
         len(content) - len(regexp_replace(content, {punct}, '', 'g')) AS n_punct,
         len(list_filter(str_split(trim(regexp_replace(lower(content), '\\s+', ' ', 'g')), ' '),
                         t -> t IN ({_SW_LIST}))) AS n_sw
  FROM base
)
SELECT doc_id,
       round(0.4 * least(n_tokens / 50.0, 1.0)
           + 0.3 * (1.0 - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0))
           + 0.3 * least((CASE WHEN n_tokens > 0 THEN CAST(n_sw AS DOUBLE) / n_tokens ELSE 0.0 END) * 4, 1.0), 6) AS quality
FROM q
"""

    en_markers = ", ".join("'" + w + "'" for w in TS.EN_MARKERS)
    sql["lang_id"] = f"""
WITH {_BASE_CTES},
l AS (
  SELECT doc_id,
         str_split(trim(regexp_replace(lower(content), '\\s+', ' ', 'g')), ' ') AS t
  FROM base
)
SELECT doc_id,
       round(CASE WHEN len(t) > 0
             THEN CAST(len(list_filter(t, x -> x IN ({en_markers}))) AS DOUBLE) / len(t)
             ELSE 0.0 END, 6) AS en_ratio,
       CASE WHEN (CASE WHEN len(t) > 0
             THEN CAST(len(list_filter(t, x -> x IN ({en_markers}))) AS DOUBLE) / len(t)
             ELSE 0.0 END) >= 0.1 THEN 'en' ELSE 'other' END AS lang_pred
FROM l
"""

    sql["fingerprint"] = f"""
WITH {_BASE_CTES}
SELECT doc_id, sha256({_CLEAN}) AS fingerprint
FROM base
"""

    # exact phrase: positions are indices into the post-pipeline token
    # sequence; an occurrence at base b has term_i at b+i; BM25 treats
    # the phrase as one pseudo-term (df = matching docs)
    _ph_terms = Q_PHRASE.split()
    _ph_idx = ", ".join(f"({i}, '{t}')" for i, t in enumerate(_ph_terms))
    sql["phrase_topk"] = f"""
WITH {_BASE_CTES},
pos AS (
  SELECT doc_id, unnest(tokens) AS term,
         unnest(range(len(tokens))) AS p
  FROM toks
),
idxv AS (SELECT * FROM (VALUES {_ph_idx}) v(i, term)),
bases AS (
  SELECT pos.doc_id, pos.p - idxv.i AS base, idxv.i
  FROM pos JOIN idxv ON pos.term = idxv.term
),
occ AS (
  SELECT doc_id, base FROM bases
  GROUP BY doc_id, base
  HAVING count(DISTINCT i) = {len(_ph_terms)}
),
ptf AS (SELECT doc_id, count(*) AS tf FROM occ GROUP BY doc_id),
pdf AS (SELECT count(*) AS df FROM ptf),
scored AS (
  SELECT ptf.doc_id, ptf.tf,
         (ptf.tf / (1.2 * (0.25 + 0.75 * doclen.dl / (stats.tot / stats.n_docs))
          + ptf.tf)) * log10(stats.n_docs / pdf.df) AS score
  FROM ptf
  JOIN doclen ON doclen.doc_id = ptf.doc_id
  CROSS JOIN stats CROSS JOIN pdf
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       doc_id, round(score, 6) AS score, CAST(tf AS BIGINT) AS phrase_tf
FROM scored
ORDER BY score DESC, doc_id
LIMIT 10
"""
    sql["phrase_topk_local"] = sql["phrase_topk"]
    sql["phrase_topk_sharded"] = sql["phrase_topk"]

    _batch_union = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, * FROM ({_topk_sql(text)})"
        for qid, text in BATCH_QUERIES
    )
    sql["batch_topk"] = _batch_union
    sql["batch_topk_sharded"] = _batch_union

    # S10 "e" mode deterministic surface: per-query result counts over
    # the same batch union, zero-result queries kept via LEFT JOIN
    _qid_vals = ", ".join(f"('{qid}')" for qid, _ in BATCH_QUERIES)
    sql["batch_efficiency_shape"] = f"""
WITH run AS ({_batch_union}),
qids(query_id) AS (VALUES {_qid_vals})
SELECT qids.query_id,
       CAST(COALESCE(COUNT(run.query_id), 0) AS BIGINT) AS n_results,
       CAST(10 AS BIGINT) AS k,
       CAST({len(BATCH_QUERIES)} AS BIGINT) AS n_queries
FROM qids LEFT JOIN run ON qids.query_id = run.query_id
GROUP BY qids.query_id
"""

    # synthetic graded qrels (query i judges docs with doc_id % 5 == i,
    # rel = 1 + doc_id % 3) -> per-query RR + nDCG@10 over the batch run.
    # DCG/IDCG sums are ORDER BY rank — ulp-identical to the engine's
    # rank-ordered fold.
    _qrels_vals = ", ".join(
        f"('{qid}', {i})" for i, (qid, _) in enumerate(BATCH_QUERIES)
    )
    sql["retrieval_effectiveness"] = f"""
WITH {_BASE_CTES},
run AS ({_batch_union}),
qrels AS (
  SELECT v.query_id, b.doc_id, CAST(1 + b.doc_id % 3 AS INT) AS rel
  FROM base b CROSS JOIN (VALUES {_qrels_vals}) v(query_id, idx)
  WHERE b.doc_id % 5 = v.idx
),
hits AS (
  SELECT r.query_id, 1.0 / min(r.rank) AS rr
  FROM run r JOIN qrels q ON q.query_id = r.query_id AND q.doc_id = r.doc_id
  GROUP BY r.query_id
),
allq AS (SELECT DISTINCT query_id FROM qrels),
dcg AS (
  SELECT r.query_id,
         sum((pow(2.0, q.rel) - 1) / log2(r.rank + 1.0) ORDER BY r.rank)
           AS dcg
  FROM run r JOIN qrels q ON q.query_id = r.query_id AND q.doc_id = r.doc_id
  WHERE r.rank <= 10
  GROUP BY r.query_id
),
ideal AS (
  SELECT query_id,
         sum((pow(2.0, rel) - 1) / log2(irank + 1.0) ORDER BY irank) AS idcg
  FROM (
    SELECT query_id, CAST(rel AS DOUBLE) AS rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id) AS irank
    FROM qrels
  )
  WHERE irank <= 10
  GROUP BY query_id
)
SELECT a.query_id,
       round(coalesce(h.rr, 0.0), 6) AS rr,
       round(coalesce(d.dcg, 0.0) / i.idcg, 6) AS ndcg
FROM allq a
LEFT JOIN hits h USING (query_id)
JOIN ideal i USING (query_id)
LEFT JOIN dcg d USING (query_id)
"""

    # TREC run round-trip: the file carries scores as %.6f strings; the
    # engine's written score is round(score, 6) exactly (a 6-decimal
    # double formats to itself and parses back bit-identically)
    sql["trec_run_roundtrip"] = f"""
WITH {_BASE_CTES},
run AS ({_batch_union})
SELECT run.query_id, 'Q0' AS q0, b.repo || '/' || b.path AS docno,
       run.rank, run.score, 'RUN-01' AS run_id
FROM run JOIN base b USING (doc_id)
"""

    sql["multimodal_features"] = f"""
WITH {_BASE_CTES}
SELECT doc_id, 'image' AS media_type,
       CAST(octet_length(encode(content)) AS BIGINT) AS n_bytes,
       sha256(content) AS payload_sha,
       CAST(8 AS INT) AS feature_dim
FROM base
"""

    # probe-all IVF == exact brute force (same SQL as embedding_cosine_topk)
    sql["embedding_cosine_topk_ivf"] = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
),
cos AS (
  SELECT vec_id,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM pairs GROUP BY vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, round(c, 6) AS cosine
FROM cos
ORDER BY round(c, 6) DESC, vec_id
LIMIT 10
"""

    # deterministic given the seeded k-means build on fixed data: the
    # n_probe=4/8 partition-pruned probe recovers >= 7 of the exact top-10
    sql["ann_ivf_recall"] = """
SELECT CAST(10 AS BIGINT) AS k, CAST(4 AS BIGINT) AS n_probe,
       CAST(8 AS BIGINT) AS n_lists, true AS recall_ok
"""

    # FULL reproduction of the banded-LSH ANN in SQL: hyperplanes are
    # embedded as literals (seeded -> reproducible), signatures via
    # list_inner_product, pigeonhole band probe, Hamming filter, exact
    # cosine on survivors — every stage of ann_build_lsh/ann_query_lsh
    # is recomputed independently by DuckDB
    import numpy as _np

    _planes = SIM.hyperplanes(ANN_DIM, ANN_PLANES, ANN_SEED)
    _plane_rows = ",\n".join(
        "(" + str(i) + ", ["
        + ", ".join(repr(float(x)) for x in p)
        + "]::DOUBLE[])"
        for i, p in enumerate(_np.asarray(_planes))
    )
    _band_bits = ANN_PLANES // ANN_BANDS
    _band_mask = (1 << _band_bits) - 1
    _band_probe = " OR ".join(
        f"((s.sig >> {b * _band_bits}) & {_band_mask}) = "
        f"((qs.qsig >> {b * _band_bits}) & {_band_mask})"
        for b in range(ANN_BANDS)
    )
    sql["embedding_cosine_topk_lsh"] = f"""
WITH planes AS (SELECT * FROM (VALUES
{_plane_rows}
) v(i, w)),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qsig_t AS (
  SELECT CAST(sum(CASE WHEN list_inner_product(q.qv::DOUBLE[], p.w) > 0
                  THEN 1::BIGINT << p.i ELSE 0 END) AS BIGINT) AS qsig
  FROM q CROSS JOIN planes p
),
sigs AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], p.w) > 0
                  THEN 1::BIGINT << p.i ELSE 0 END) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN planes p
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
),
probed AS (
  SELECT s.vec_id
  FROM sigs s CROSS JOIN qsig_t qs
  WHERE ({_band_probe})
    AND bit_count(xor(s.sig, qs.qsig)) <= {ANN_MAX_HAMMING}
),
pairs AS (
  SELECT e.vec_id,
         unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM embeddings e
  JOIN probed pr ON pr.vec_id = e.vec_id
  CROSS JOIN q
),
cos AS (
  SELECT vec_id,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM pairs GROUP BY vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, round(c, 6) AS cosine
FROM cos
ORDER BY round(c, 6) DESC, vec_id
LIMIT 10
"""

    # streamed-then-compacted store over the same vectors: identical
    # pipeline semantics, identical SQL
    sql["embedding_cosine_topk_streamed"] = sql["embedding_cosine_topk_lsh"]

    # vector-space near-dup: same literal hyperplanes; banded self-join
    # candidates; exact cosine via list_inner_product; round-then-filter
    # ordering matches the Spark operator exactly
    sql["embedding_near_pairs"] = f"""
WITH planes AS (SELECT * FROM (VALUES
{_plane_rows}
) v(i, w)),
sigs AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], p.w) > 0
                  THEN 1::BIGINT << p.i ELSE 0 END) AS BIGINT) AS sig
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id
),
banded AS (
  SELECT vec_id, b.band,
         (sig >> (b.band * {_band_bits})) & {_band_mask} AS band_val
  FROM sigs CROSS JOIN (SELECT unnest(range({ANN_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.vec_a, c.vec_b,
         round(list_inner_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
               / (sqrt(list_inner_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                  * sqrt(list_inner_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
               6) AS cosine
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b, cosine
FROM scored WHERE cosine >= 0.4
"""

    sql["bpe_token_estimate"] = f"""
WITH {_BASE_CTES},
p AS (
  SELECT doc_id,
         regexp_extract_all(lower(content), '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS pieces
  FROM base
)
SELECT doc_id,
       CAST(len(pieces) AS BIGINT) AS n_pieces,
       CAST(coalesce(
         list_sum(list_transform(pieces, t -> CAST(ceil(len(t) / 4.0) AS BIGINT))),
         0) AS BIGINT) AS est_bpe_tokens
FROM p
"""

    # chunking: windows of 64 whitespace tokens, stride 48 (overlap 16);
    # last window short; docs <= 64 tokens are one chunk
    sql["chunked_documents"] = f"""
WITH {_BASE_CTES},
t AS (
  SELECT doc_id,
         CASE WHEN trim(regexp_replace(content, '\\s+', ' ', 'g')) = ''
              THEN []::VARCHAR[]
              ELSE str_split(trim(regexp_replace(content, '\\s+', ' ', 'g')), ' ')
         END AS toks
  FROM base
),
m AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 64 THEN 1
              ELSE 1 + CAST(ceil((len(toks) - 64) / 48.0) AS INT) END AS n_chunks
  FROM t
),
e AS (
  SELECT doc_id, toks,
         unnest(range(n_chunks)) AS chunk_id
  FROM m
),
c AS (
  SELECT doc_id, chunk_id,
         toks[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS ct
  FROM e
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
       array_to_string(ct, ' ') AS chunk_text
FROM c
"""

    sql["embedding_cosine_topk"] = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
),
cos AS (
  SELECT vec_id,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM pairs GROUP BY vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, round(c, 6) AS cosine
FROM cos
ORDER BY round(c, 6) DESC, vec_id
LIMIT 10
"""

    return sql
