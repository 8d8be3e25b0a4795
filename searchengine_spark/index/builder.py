"""Distributed inverted-index construction — the Spark-native replacement
for the reference's SPIMI build + k-way merge
(index/PartialIndexBuilder.java + index/IndexMerger.java).

Architecture mapping (SURVEY.md §3.1):

  reference                                  this engine
  -----------------------------------------  ------------------------------
  single-threaded TSV scan                   parquet/Iceberg scan
  in-memory HashMap + 0.8-heap spill         hash-agg partial aggregation +
  ("SPIMI block")                            shuffle spill (built-in)
  PriorityQueue k-way merge of sorted runs   groupBy(term) shuffle
  fixed-width binary files + byte offsets    partitioned Parquet tables
  skip blocks every ceil(sqrt(n)) postings   one ROW per (term, block) —
                                             no single-row memory ceiling
                                             for hot terms

Output layout under ``index_dir``:

  flags.json       engine config (reference: Flags file)
  stats.json       n_docs (Q-1 inflated), tot_doc_len, avgdl
  doctable/        (doc_id, docno, repo, path, commit, lang, doc_len, sha256)
  tf/              (term, doc_id, tf, doc_len)            — build checkpoint
  lexicon/         (term, term_bucket, df, cf, idf, max_bm25, max_tfidf,
                    n_blocks)
  postings/        partitioned by term_bucket; one row per (term, block):
                   (term, block_id, n_postings, min_doc_id, max_doc_id,
                    doc_ids, tfs, doc_lens, block_max_bm25,
                    block_max_tfidf)
  positions/       optional, partitioned by term_bucket:
                   (term, doc_id, positions, doc_len)
  block_summary/   partitioned by term_bucket: (term, top_post_bm25,
                   top_post_tfidf)
  manifest.json    per-stage lineage: rows, files, per-file row counts,
                   duration, docs/sec — the north_rule's resumable-build
                   checkpoint record. A stage whose directory has _SUCCESS
                   and a manifest entry is skipped on re-run (resume).

Every table has ONE on-disk format (see :func:`write_table`): Parquet with
zstd column chunks, posting and position arrays as native int lists.
Compression is a property of that format, not a config flag.

Skew handling at 1e12-file scale:

* df/cf/maxima aggregations are plain ``groupBy(term)`` — Spark's partial
  (map-side) aggregation is exactly the two-phase salted pattern: each map
  task emits one row per distinct term, so the hottest reducer receives at
  most #map-tasks rows, never #postings.
* block assignment never materializes a whole hot posting list in one task:
  ``block_mode='range'`` (default) derives block_id from the doc_id range
  arithmetically (no per-term sort), so a term with 1e11 postings becomes
  ~sqrt(1e11) independent (term, block) groups spread across the cluster.
  ``block_mode='count'`` is the reference-faithful ceil(sqrt(n))-per-block
  layout via a per-term window — used for block-structure parity tests.
* the tf -> blocks join (term, df/idf) runs with AQE skew-join splitting;
  the lexicon side is pre-projected to 2 columns.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.scoring import bm25_partial_expr, idf_expr, tfidf_partial_expr
from ..functions.text import stem_udf, tokenize_raw
from ..sources.corpus import assign_doc_ids, filter_malformed, with_sha256

STAGES = ("doctable", "tf", "lexicon", "postings", "block_summary")

# per-term block-maxima kept in the block_summary stage: bounds the
# query-time theta metadata read at O(|terms| * K). 100 covers every
# reference k (Main.java:58 allows 10/20/100).
THETA_TOPK = 100


def stem_terms(exploded: DataFrame, cfg: EngineConfig, raw_col: str = "raw") -> DataFrame:
    """Dictionary-style T9+T10 over exploded token rows: stem the DISTINCT
    vocabulary with the pandas UDF (|vocab| rows of Python, not |tokens|),
    then map raw -> final term with a join that AQE broadcasts when the
    vocabulary is small. Adds a ``term`` column, drops ``raw_col``.

    Scale: at 1e12 files the vocabulary join degrades gracefully to a
    shuffle join; the per-token path stays 100% JVM either way."""
    if cfg.apply_stemming():
        vocab = exploded.select(F.col(raw_col).alias("_raw_term")).distinct()
        vmap = vocab.withColumn(
            "term",
            F.substring(stem_udf()(F.col("_raw_term")), 1, cfg.term_dim),
        )
        return (
            exploded.withColumnRenamed(raw_col, "_raw_term")
            .join(vmap, "_raw_term")
            .drop("_raw_term")
        )
    return exploded.withColumn(
        "term", F.substring(F.col(raw_col), 1, cfg.term_dim)
    ).drop(raw_col)


def term_bucket_expr(term, n_buckets: int):
    """Stable term -> bucket hash usable from both JVM and Python sides
    (crc32 — query-time pruning computes the same value with zlib.crc32)."""
    return F.pmod(F.crc32(term.cast("binary")), F.lit(n_buckets)).cast("int")


def term_bucket_py(term: str, n_buckets: int) -> int:
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


# the index's one Parquet codec. Whole-index bytes per input byte on
# perfbench's 20k-doc Zipf corpus (4 vCPU VM, 8 shuffle partitions):
# zstd 2.54, Spark's default snappy 3.16, and the retired VByte/Unary
# (2.91) and delta-VByte (2.69) blob layouts; interactive query p50 over
# ten perfbench seeds was unchanged (31.3 vs 30.9 ms with snappy). The
# int lists stay readable by any Parquet/Arrow consumer.
INDEX_CODEC = "zstd"


def write_table(df: DataFrame, path: str, partition_by: Optional[str] = None) -> None:
    """Write one index table (overwrite) in the index's single on-disk
    format. Every index-table write — the build stages, the streaming
    segments and compaction — goes through here, so this is the only
    place that knows the format."""
    w = df.write.mode("overwrite").option("compression", INDEX_CODEC)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: Optional[EngineConfig] = None,
    ):
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        self.config = config or EngineConfig()
        self._manifest_path = os.path.join(self.index_dir, "manifest.json")

    # ---------- AQE scoping ----------

    @contextmanager
    def _full_parallelism(self):
        """Pin AQE partition COALESCING off for the enclosed actions only.

        Used around the stages whose post-shuffle work is CPU-bound
        (tokenize + stem + sha256 on the cache-materializing pass): their
        shuffle payloads compress to ~1 MB/partition, so byte-based
        coalescing collapses them onto a fraction of the cluster's cores —
        measured 54.9 s vs 7 s for the 100k-doc tokenize stage. Every
        OTHER build stage is a small JVM-side shuffle that BENEFITS from
        coalescing (a build-wide pin measured 2x slower on the 5k-doc
        build: 32 tasks of per-task overhead per tiny stage). AQE itself
        (skew splitting, runtime replans) stays on throughout."""
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = self.spark.conf.get(key, "true")
        self.spark.conf.set(key, "false")
        try:
            yield
        finally:
            self.spark.conf.set(key, prev)

    # ---------- manifest / resume ----------

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"stages": {}}

    def _save_manifest(self, manifest: dict) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        with open(self._manifest_path, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)

    def _stage_done(self, manifest: dict, stage: str) -> bool:
        path = os.path.join(self.index_dir, stage)
        return stage in manifest["stages"] and os.path.exists(
            os.path.join(path, "_SUCCESS")
        )

    def _finish_stage(
        self, manifest: dict, stage: str, t0: float, extra: Optional[dict] = None
    ) -> None:
        """Record per-partition lineage for a written stage: row count per
        output file (the written partition), total rows, wall time and
        docs/sec — north_rule's 'per-partition lineage and docs/sec'.

        Row counts come from the parquet FOOTERS (driver-side pyarrow
        metadata read) — never a data re-scan. At 1e12-row scale a
        verification re-read of every written stage would double the
        build's IO; footers are O(#files) tiny reads."""
        import pyarrow.parquet as pq

        path = os.path.join(self.index_dir, stage)
        per_file = {}
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    full = os.path.join(root, fn)
                    per_file[os.path.relpath(full, path)] = pq.read_metadata(
                        full
                    ).num_rows
        rows = sum(per_file.values())
        dt = time.time() - t0
        entry = {
            "rows": rows,
            "files": per_file,
            "duration_sec": round(dt, 3),
            "rows_per_sec": round(rows / dt, 1) if dt > 0 else None,
        }
        if extra:
            entry.update(extra)
        manifest["stages"][stage] = entry
        self._save_manifest(manifest)

    # ---------- build ----------

    def build(self, corpus: DataFrame, resume: bool = True) -> dict:
        """Run the full build. ``corpus`` has the canonical schema
        (repo, path, commit, lang, content). Returns the manifest.

        AQE partition coalescing stays ON for the build's many small
        JVM-side shuffles; only the CPU-bound tokenize pass pins it off
        (see _full_parallelism)."""
        return self._build(corpus, resume)

    def _build(self, corpus: DataFrame, resume: bool = True) -> dict:
        cfg = self.config
        manifest = self._load_manifest() if resume else {"stages": {}}
        cfg.save(self.index_dir)

        # --- stages 1+2: doctable and tf table ---
        # Tokenization (the expensive pandas-UDF pass) runs ONCE; doctable
        # and tf are both derived from the cached tokenized frame.
        # The (term, doc_id) count is the SPIMI in-memory tf accumulation
        # (PartialIndexBuilder.java:119-138) as one partial+final hash agg;
        # the shuffle spill replaces the reference's 0.8-heap SPIMI spill.
        need_doct = not self._stage_done(manifest, "doctable")
        need_tf = not self._stage_done(manifest, "tf")
        need_pos = cfg.positions and not self._stage_done(manifest, "positions")
        if need_doct or need_tf or need_pos:
            # ONE full-data pass, ONE full-data shuffle, ONE cache:
            # assign_doc_ids' driver jobs (row count, boundary sample,
            # per-range counts) run against the RAW source, where they are
            # column-pruned parquet reads of the 3 key columns (the count
            # is footer metadata only) — never against a tokenized cache.
            # The doc-id range shuffle then carries raw content exactly
            # once, and tokenization + sha256 run AFTER it, in the same
            # stage that materializes the cache — so the cached frame
            # (everything doctable/tf/positions need) drops the raw
            # content column entirely: at 100 TB the cache is the token
            # arrays, not a second copy of the corpus.
            src = filter_malformed(corpus)
            # sharded builds (index/sharded.py) pre-assign GLOBAL doc_ids
            # and the sha256 invariant on the full corpus before slicing
            # it into shards — re-assigning here would renumber each
            # shard 1..n and break cross-shard doc_id identity
            if "doc_id" not in src.columns:
                src = assign_doc_ids(src)
            if "sha256" not in src.columns:
                src = with_sha256(src)
            # T1-T8 are native Column expressions (JVM, codegen). Stemming
            # (T9) deliberately does NOT run here: per-token Python — even
            # Arrow-batched — is the slow path; it's applied
            # dictionary-style over the distinct vocabulary below, so
            # Python cost scales with |vocab|, not |tokens|.
            # doc_len counts post-stopword tokens; stemming (1:1) and
            # truncation don't change it (PartialIndexBuilder.java:63)
            tokenized = (
                src
                .withColumn("tokens_raw", tokenize_raw(F.col("content"), cfg))
                .withColumn("doc_len", F.size("tokens_raw"))
                .drop("content")
                .persist()
            )
            # Materialize the cache HERE, with coalescing pinned off for
            # just this action: the doc-id range exchange's ~1 MB/partition
            # compressed payload otherwise coalesces the tokenize+sha256
            # work (the single most expensive pass of the build) onto a
            # handful of cores. Downstream stages then read the 32-way
            # cache and keep coalescing's benefits for their own tiny
            # exchanges.
            t_tok = time.time()
            with self._full_parallelism():
                n_tok = tokenized.count()
            manifest["stages"]["tokenize_cache"] = {
                "rows": n_tok,
                "duration_sec": round(time.time() - t_tok, 3),
                "note": "cache materialization (doc-id exchange + "
                "tokenize + sha256), AQE coalescing pinned off",
            }
            self._save_manifest(manifest)

            if need_doct:
                t0 = time.time()
                # empty-after-preprocessing docs are still doctable rows in
                # the reference (stored before tokens are inspected,
                # PartialIndexBuilder.java:63-64) — kept, doc_len = 0
                write_table(
                    tokenized.select(
                        "doc_id",
                        F.concat_ws("/", "repo", "path").alias("docno"),
                        "repo",
                        "path",
                        "commit",
                        "lang",
                        "doc_len",
                        "sha256",
                    ),
                    os.path.join(self.index_dir, "doctable"),
                )
                self._finish_stage(manifest, "doctable", t0)

            if need_tf or need_pos:
                # posexplode keeps each token's 0-based index in the
                # post-pipeline sequence — free for tf (ignored), feeds
                # the optional positional stage
                exploded = tokenized.select(
                    "doc_id",
                    "doc_len",
                    F.posexplode("tokens_raw").alias("pos", "raw"),
                )
                exploded = stem_terms(exploded, cfg, raw_col="raw")
                if need_tf and need_pos:
                    exploded = exploded.persist()
            if need_tf:
                t0 = time.time()
                tf = (
                    exploded.groupBy("term", "doc_id", "doc_len")
                    .agg(F.count("*").alias("tf"))
                    .select(
                        "term", "doc_id", F.col("tf").cast("int").alias("tf"), "doc_len"
                    )
                )
                write_table(tf, os.path.join(self.index_dir, "tf"))
                self._finish_stage(manifest, "tf", t0)
            if need_pos:
                # positional stage: doc_len rides along (one int/row) so
                # phrase scoring needs NO doctable join at query time
                # (J7's pattern)
                t0 = time.time()
                pos_rows = exploded.groupBy("term", "doc_id").agg(
                    F.sort_array(F.collect_list("pos")).alias("positions"),
                    F.first("doc_len").alias("doc_len"),
                )
                write_positions(
                    pos_rows, os.path.join(self.index_dir, "positions"), cfg
                )
                self._finish_stage(manifest, "positions", t0)
            if need_tf and need_pos:
                exploded.unpersist()
            tokenized.unpersist()

        doctable = self.spark.read.parquet(os.path.join(self.index_dir, "doctable"))

        tf = self.spark.read.parquet(os.path.join(self.index_dir, "tf"))

        # --- stage 3: collection stats (Q-1 parity) ---
        stats_path = os.path.join(self.index_dir, "stats.json")
        if not (resume and os.path.exists(stats_path) and "stats" in manifest["stages"]):
            t0 = time.time()
            row = doctable.agg(
                F.count("*").alias("n"), F.sum("doc_len").alias("tot")
            ).collect()[0]
            true_docs = row["n"]
            n_docs = true_docs + 1  # Q-1: reference stores counter+1
            tot_doc_len = float(row["tot"] or 0.0)
            stats = {
                "true_doc_count": true_docs,
                "n_docs": n_docs,
                "tot_doc_len": tot_doc_len,
                "avgdl": tot_doc_len / n_docs,
            }
            with open(stats_path, "w") as f:
                json.dump(stats, f, indent=2)
            manifest["stages"]["stats"] = {
                "duration_sec": round(time.time() - t0, 3),
                **stats,
            }
            self._save_manifest(manifest)
        with open(stats_path) as f:
            stats = json.load(f)

        n_docs, avgdl = stats["n_docs"], stats["avgdl"]

        # --- stage 4: lexicon ---
        # df/cf/maxima via partial-agg groupBy (map-side combine = the
        # salted two-phase pattern; reducer sees <= #tasks rows per term).
        # Stores the TRUE global maxima (fixing reference quirk Q-2 where
        # the last block's max overwrites the term max,
        # IndexMerger.java:178-204).
        if not self._stage_done(manifest, "lexicon"):
            t0 = time.time()
            bm25_p = bm25_partial_expr(F.col("tf"), F.col("doc_len"), avgdl, cfg.k1, cfg.b)
            tfidf_p = tfidf_partial_expr(F.col("tf"))
            lex = (
                tf.groupBy("term")
                .agg(
                    F.count("*").alias("df"),
                    F.sum("tf").alias("cf"),
                    F.max(bm25_p).alias("max_bm25_partial"),
                    F.max(tfidf_p).alias("max_tfidf_partial"),
                )
                .withColumn("idf", idf_expr(n_docs, F.col("df")))
                .withColumn("max_bm25", F.col("max_bm25_partial") * F.col("idf"))
                .withColumn("max_tfidf", F.col("max_tfidf_partial") * F.col("idf"))
                .withColumn("term_bucket", term_bucket_expr(F.col("term"), cfg.n_term_buckets))
                .withColumn(
                    "block_size",
                    F.when(
                        F.col("df") >= cfg.skip_threshold,
                        F.ceil(F.sqrt(F.col("df"))),
                    ).otherwise(F.col("df")).cast("int"),
                )
                .withColumn(
                    "n_blocks",
                    F.ceil(F.col("df").cast("double") / F.col("block_size")).cast("int"),
                )
                .select(
                    "term", "term_bucket", "df", "cf", "idf",
                    "max_bm25", "max_tfidf", "block_size", "n_blocks",
                )
            )
            write_table(
                lex.repartition(cfg.shuffle_partitions, "term_bucket")
                .sortWithinPartitions("term"),
                os.path.join(self.index_dir, "lexicon"),
                partition_by="term_bucket",
            )
            self._finish_stage(manifest, "lexicon", t0)

        lexicon = self.spark.read.parquet(os.path.join(self.index_dir, "lexicon"))

        # --- stage 5: postings (one row per term-block) ---
        if not self._stage_done(manifest, "postings"):
            t0 = time.time()
            lex_keys = lexicon.select("term", "df", "idf", "block_size", "n_blocks")
            joined = tf.join(lex_keys, "term")  # shuffle join; AQE splits skew

            if cfg.block_mode == "count":
                # reference-faithful: ceil(sqrt(n))-sized blocks in docId
                # order (IndexMerger.java:172-205). Window sort per term.
                w = Window.partitionBy("term").orderBy("doc_id")
                joined = joined.withColumn(
                    "block_id",
                    F.floor((F.row_number().over(w) - 1) / F.col("block_size")).cast("int"),
                )
            else:
                # scale path: doc_id-range blocks — arithmetic only, fully
                # parallel. Same query semantics (blocks are doc_id-disjoint
                # and ordered); boundaries differ from 'count' mode.
                max_doc = stats["true_doc_count"]
                joined = joined.withColumn(
                    "block_id",
                    F.least(
                        F.floor(
                            (F.col("doc_id") - 1)
                            / F.ceil(F.lit(float(max_doc)) / F.col("n_blocks"))
                        ),
                        F.col("n_blocks") - 1,
                    ).cast("int"),
                )

            bm25_p = bm25_partial_expr(F.col("tf"), F.col("doc_len"), avgdl, cfg.k1, cfg.b)
            tfidf_p = tfidf_partial_expr(F.col("tf"))
            blocks = (
                joined.groupBy("term", "block_id")
                .agg(
                    F.count("*").alias("n_postings"),
                    F.min("doc_id").alias("min_doc_id"),
                    F.max("doc_id").alias("max_doc_id"),
                    F.sort_array(
                        F.collect_list(F.struct("doc_id", "tf", "doc_len"))
                    ).alias("plist"),
                    (F.max(bm25_p) * F.first("idf")).alias("block_max_bm25"),
                    (F.max(tfidf_p) * F.first("idf")).alias("block_max_tfidf"),
                )
                .select(
                    "term",
                    "block_id",
                    F.col("n_postings").cast("int").alias("n_postings"),
                    # the block's doc_id range [min_doc_id, max_doc_id] is
                    # the distributed skip pointer (SkipList.java:24-46):
                    # MaxScore's candidate-directed scan keeps only blocks
                    # whose range intersects a candidate doc_id (nextGEQ)
                    "min_doc_id",
                    "max_doc_id",
                    F.col("plist.doc_id").alias("doc_ids"),
                    F.col("plist.tf").alias("tfs"),
                    F.col("plist.doc_len").alias("doc_lens"),
                    "block_max_bm25",
                    "block_max_tfidf",
                )
                .withColumn("term_bucket", term_bucket_expr(F.col("term"), cfg.n_term_buckets))
            )
            write_table(
                blocks.repartition(cfg.shuffle_partitions, "term_bucket")
                .sortWithinPartitions("term", "block_id"),
                os.path.join(self.index_dir, "postings"),
                partition_by="term_bucket",
            )
            self._finish_stage(
                manifest, "postings", t0, {"block_mode": cfg.block_mode}
            )

        # --- stage 6: per-term top-K POSTING-score summary ---
        # MaxScore's theta bootstrap wants, for each query term, a lower
        # bound on the k-th best FINAL score. Within one term every
        # posting is a distinct doc, so the term's k-th largest
        # single-posting score is achieved by k distinct docs — a valid
        # bound, and it DOMINATES the k-th largest block max (each block
        # max is itself one posting's score), which is what r2 stored.
        # The difference decides real queries: a rare term (df 20-1000)
        # has < k skip blocks, so the block form bounds nothing and theta
        # collapses to the common terms' noise floor; the posting form
        # yields ~the rare term's idf-scale score and prunes the common
        # lists outright.
        #
        # Computed from the BLOCK ARRAYS where possible: any posting in
        # the global top-K is by definition inside its own block's
        # top-K, so per-block top-K arrays (a JVM array expression per
        # block row — input is the ~sqrt(df) block rows per term, not
        # the posting rows) merged per term give exactly the global
        # top-K. The merge is SALTED two-phase on block_id so no
        # aggregation buffer ever holds a hot term's full block set
        # (a stopword-scale term with ~1e6 block rows merges through
        # ceil(n_blocks/256) bounded groups). Query-time driver read
        # stays O(|terms| * K).
        if not self._stage_done(manifest, "block_summary"):
            t0 = time.time()
            post = self.spark.read.parquet(
                os.path.join(self.index_dir, "postings")
            )

            def merge_topk(col: str):
                return F.slice(
                    F.reverse(F.array_sort(F.flatten(F.collect_list(col)))),
                    1,
                    THETA_TOPK,
                )

            def topk_of(score_fn):
                return F.slice(
                    F.reverse(
                        F.array_sort(
                            F.transform(F.arrays_zip("tfs", "doc_lens"), score_fn)
                        )
                    ),
                    1,
                    THETA_TOPK,
                )

            scored = (
                post.select("term", "block_id", "tfs", "doc_lens")
                .join(
                    F.broadcast(lexicon.select("term", "idf", "n_blocks")),
                    "term",
                )
                .select(
                    "term",
                    F.pmod(
                        F.col("block_id").cast("long"),
                        F.greatest(
                            F.ceil(F.col("n_blocks") / F.lit(256)),
                            F.lit(1),
                        ),
                    ).alias("_salt"),
                    topk_of(
                        lambda z: bm25_partial_expr(
                            z["tfs"], z["doc_lens"], avgdl, cfg.k1, cfg.b
                        )
                        * F.col("idf")
                    ).alias("_pb"),
                    topk_of(
                        lambda z: tfidf_partial_expr(z["tfs"]) * F.col("idf")
                    ).alias("_pt"),
                )
            )
            partial = scored.groupBy("term", "_salt").agg(
                merge_topk("_pb").alias("_pb"),
                merge_topk("_pt").alias("_pt"),
            )
            summary = (
                partial.groupBy("term")
                .agg(
                    F.slice(
                        F.sort_array(F.flatten(F.collect_list("_pb")), asc=False),
                        1,
                        THETA_TOPK,
                    ).alias("top_post_bm25"),
                    F.slice(
                        F.sort_array(F.flatten(F.collect_list("_pt")), asc=False),
                        1,
                        THETA_TOPK,
                    ).alias("top_post_tfidf"),
                )
                .withColumn(
                    "term_bucket",
                    term_bucket_expr(F.col("term"), cfg.n_term_buckets),
                )
            )
            write_table(
                summary.repartition(cfg.shuffle_partitions, "term_bucket")
                .sortWithinPartitions("term"),
                os.path.join(self.index_dir, "block_summary"),
                partition_by="term_bucket",
            )
            self._finish_stage(manifest, "block_summary", t0)

        manifest["index_dir"] = self.index_dir
        self._save_manifest(manifest)
        return manifest


def write_positions(pos_rows: DataFrame, path: str, cfg: EngineConfig) -> None:
    """Positional table (term, doc_id, positions, doc_len), bucket-
    partitioned like postings so a phrase query partition-prunes to its
    terms' buckets. The rows within a bucket file are NOT term-sorted:
    the ``partitionBy("term_bucket")`` write re-sorts each task's rows
    by ``term_bucket`` alone, which discards the
    ``sortWithinPartitions("term", "doc_id")`` order (the same holds for
    the lexicon, postings and block_summary writes), so row-group stats
    on ``term`` prune nothing. Readers must not rely on row order.
    Shared by the batch build and streaming compaction."""
    write_table(
        pos_rows.withColumn(
            "term_bucket", term_bucket_expr(F.col("term"), cfg.n_term_buckets)
        )
        .repartition(cfg.shuffle_partitions, "term_bucket")
        .sortWithinPartitions("term", "doc_id"),
        path,
        partition_by="term_bucket",
    )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    config: Optional[EngineConfig] = None,
    resume: bool = True,
) -> dict:
    return IndexBuilder(spark, index_dir, config).build(corpus, resume=resume)
