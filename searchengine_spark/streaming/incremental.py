"""Incremental index maintenance via Structured Streaming.

The reference's build is all-or-nothing: ``file_cleaner()`` wipes the index
and SPIMI re-reads the whole collection (index/IndexBuilder.java:15-63).
This module is the streaming-native extension: new corpus files are
ingested as micro-batches, each batch appending a *segment* of
``(term, doc_id, tf, doc_len)`` rows plus its doctable slice — the exact
role SPIMI's spilled partial blocks play (PartialIndexBuilder.java:85-92)
— and a compaction pass merges segments into the queryable lexicon +
postings tables (the k-way merge's role, IndexMerger.java:42-152, done by
a ``groupBy(term)`` shuffle as in the batch builder).

Design points for cluster scale:

* doc_ids continue above a persisted high-water mark; within a batch they
  are assigned deterministically by the natural key, so replaying a batch
  (checkpoint recovery) yields identical ids — exactly-once semantics come
  from the streaming checkpoint + idempotent overwrite of a batch's
  segment directory (segment dir is keyed by batch_id).
* segments are plain parquet appends — no read-modify-write of the main
  index on the hot path; queries keep hitting the last compacted index
  until ``compact()`` publishes a new one.
* compaction = the batch builder's lexicon/postings stages over the union
  of compacted tf + pending segments; it reuses the same code path, so
  streamed and batch-built indexes are bit-identical given the same rows.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import EngineConfig
from ..functions.text import tokenize_raw
from ..index.builder import stem_terms, write_table
from ..sources.corpus import assign_doc_ids, filter_malformed, with_sha256

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def stream_corpus(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 64,
    with_event_time: bool = False,
) -> DataFrame:
    """readStream of canonical corpus rows from a parquet directory —
    ``maxFilesPerTrigger`` bounds micro-batch size (backpressure).
    ``with_event_time`` additionally reads an ``event_time`` timestamp
    column; when present it defines "latest" for same-file re-ingests
    that land in ONE micro-batch (see :meth:`StreamingIndexer.compact`)."""
    schema = CORPUS_SCHEMA
    if with_event_time:
        schema = T.StructType(
            CORPUS_SCHEMA.fields + [T.StructField("event_time", T.TimestampType())]
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


class StreamingIndexer:
    """foreachBatch sink that appends per-batch index segments under
    ``index_dir/segments/batch_id=N/`` and doctable slices under
    ``index_dir/doctable_segments/batch_id=N/``."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: Optional[EngineConfig] = None,
    ):
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        self.config = config or EngineConfig()
        os.makedirs(self.index_dir, exist_ok=True)
        self._state_path = os.path.join(self.index_dir, "stream_state.json")

    # ---------- state ----------

    def _load_state(self) -> dict:
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                return json.load(f)
        return {"high_water_doc_id": 0, "batches": {}}

    def _save_state(self, state: dict) -> None:
        with open(self._state_path, "w") as f:
            json.dump(state, f, indent=2, sort_keys=True)

    # ---------- per-batch ingest ----------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Tokenize a micro-batch, assign doc_ids above the high-water
        mark (deterministic within the batch by natural key), write the
        batch's doctable + tf segment. Idempotent per batch_id: a replayed
        batch overwrites its own segment directory and does not advance
        the high-water mark twice."""
        state = self._load_state()
        key = str(batch_id)
        if key in state["batches"]:
            base_id = state["batches"][key]["base_doc_id"]
        else:
            base_id = state["high_water_doc_id"]

        cfg = self.config
        t0 = time.time()
        base = with_sha256(filter_malformed(batch_df))
        # doc_ids continue above the high-water mark via the batch
        # builder's two-phase range assignment (frozen boundaries,
        # partition-parallel — no global single-task window even for a
        # large micro-batch), offset by base_id. Deterministic for the
        # same batch content at ANY parallelism, so checkpoint replay
        # reassigns identical ids.
        tokenized = (
            assign_doc_ids(base, two_phase=True)
            .withColumn("doc_id", (F.col("doc_id") + F.lit(base_id)).cast("long"))
            .withColumn("tokens", tokenize_raw(F.col("content"), cfg))
            .withColumn("doc_len", F.size("tokens"))
            .persist()
        )

        doct_dir = os.path.join(
            self.index_dir, "doctable_segments", f"batch_id={batch_id}"
        )
        doct_cols = [
            F.col("doc_id"),
            F.concat_ws("/", "repo", "path").alias("docno"),
            F.col("repo"), F.col("path"), F.col("commit"), F.col("lang"),
            F.col("doc_len"), F.col("sha256"),
        ]
        if "event_time" in tokenized.columns:
            # carried through so compact(latest_only) can order same-file
            # re-ingests that arrive within ONE micro-batch by real time
            doct_cols.append(F.col("event_time"))
        write_table(tokenized.select(*doct_cols), doct_dir)

        seg_dir = os.path.join(self.index_dir, "segments", f"batch_id={batch_id}")
        # posexplode keeps the post-pipeline token index: ignored by the
        # tf aggregation, feeds the optional positional segment below
        exploded = stem_terms(
            tokenized.select(
                "doc_id", "doc_len", F.posexplode("tokens").alias("pos", "raw")
            ),
            cfg,
            raw_col="raw",
        )
        if cfg.positions:
            exploded = exploded.persist()
        write_table(
            exploded.groupBy("term", "doc_id", "doc_len")
            .agg(F.count("*").cast("int").alias("tf"))
            .select("term", "doc_id", "tf", "doc_len"),
            seg_dir,
        )
        if cfg.positions:
            # positional segment, same shape as the batch builder's
            # positions stage rows (minus term_bucket, added at compact)
            pos_dir = os.path.join(
                self.index_dir, "positions_segments", f"batch_id={batch_id}"
            )
            write_table(
                exploded.groupBy("term", "doc_id").agg(
                    F.sort_array(F.collect_list("pos")).alias("positions"),
                    F.first("doc_len").alias("doc_len"),
                ),
                pos_dir,
            )
            exploded.unpersist()

        n_docs = tokenized.count()
        tokenized.unpersist()

        state["batches"][key] = {
            "base_doc_id": base_id,
            "n_docs": n_docs,
            "duration_sec": round(time.time() - t0, 3),
            "docs_per_sec": round(n_docs / max(time.time() - t0, 1e-9), 1),
        }
        state["high_water_doc_id"] = max(
            state["high_water_doc_id"], base_id + n_docs
        )
        self._save_state(state)

    def start(
        self,
        corpus_stream: DataFrame,
        checkpoint_dir: Optional[str] = None,
        available_now: bool = True,
    ):
        """Attach the sink and start the streaming query. With
        ``available_now`` the query drains all currently-available input
        then stops — the batch-ingest-shaped trigger; otherwise it runs
        continuously per micro-batch."""
        writer = corpus_stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(self.index_dir, "_checkpoint"),
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # ---------- compaction ----------

    def compact(
        self, out_dir: Optional[str] = None, latest_only: bool = False
    ) -> dict:
        """Merge all segments into a full queryable index (lexicon +
        postings + doctable + stats) using the batch builder's stage code
        over the segment union — the streaming analogue of the k-way merge.
        Returns the build manifest.

        ``latest_only`` gives UPSERT semantics for re-ingested files: when
        the stream saw the same (repo, path) more than once (a new commit
        of a file), only the latest ingest survives into the compacted
        index; superseded versions' doctable rows AND postings are
        dropped, so df/cf/idf/avgdl all reflect the live corpus only.
        "Latest" = highest doc_id ACROSS batches (ids are monotone in
        batch order via the high-water mark). WITHIN one micro-batch a
        parquet source has no arrival order, so re-ingests landing in
        the same batch are ordered by the ``event_time`` column when the
        stream carries one (``stream_corpus(with_event_time=True)``),
        falling back to doc_id order — which within a batch is the
        natural key's (repo, path, commit) lexicographic order, i.e.
        deterministic but NOT temporal. Ship event_time when same-file
        same-batch re-ingests are possible.
        The winner-selection is one max-aggregate + two broadcastable
        semi-joins over doc_id — no read-modify-write of any segment.

        With ``EngineConfig.positions=True`` the per-batch positional
        segments (written by process_batch under the same config) are
        merged into the compacted ``positions`` table, so phrase queries
        work on streaming-built indexes; compacting a positions-enabled
        config over segments ingested WITHOUT positions raises instead
        of crashing inside the batch builder."""
        from ..index.builder import IndexBuilder, write_positions

        out = (out_dir or os.path.join(self.index_dir, "compacted")).rstrip("/")
        seg_root = os.path.join(self.index_dir, "segments")
        doct_root = os.path.join(self.index_dir, "doctable_segments")
        pos_root = os.path.join(self.index_dir, "positions_segments")
        if not (os.path.isdir(seg_root) and os.path.isdir(doct_root)):
            raise RuntimeError(
                "compact() called before any micro-batch was processed: "
                f"no segment directories under {self.index_dir!r} "
                "(run the stream first, or check the input path)"
            )
        if self.config.positions and not os.path.isdir(pos_root):
            raise RuntimeError(
                "positional compaction requested (EngineConfig.positions) "
                "but the ingested segments carry no positions: re-ingest "
                "with a positions-enabled StreamingIndexer, or compact "
                "with positions=False"
            )

        tf = self.spark.read.option("basePath", seg_root).parquet(seg_root).drop(
            "batch_id"
        )
        doct = (
            self.spark.read.option("basePath", doct_root)
            .parquet(doct_root)
            .drop("batch_id")
        )
        pos = None
        if self.config.positions:
            pos = (
                self.spark.read.option("basePath", pos_root)
                .parquet(pos_root)
                .drop("batch_id")
            )
        if latest_only:
            if "event_time" in doct.columns:
                # (event_time, doc_id) max: real ingest time decides
                # within-batch re-ingests, doc_id (= batch order) the rest
                winners = (
                    doct.groupBy("repo", "path")
                    .agg(F.max(F.struct("event_time", "doc_id")).alias("w"))
                    .select(F.col("w.doc_id").alias("doc_id"))
                )
            else:
                winners = doct.groupBy("repo", "path").agg(
                    F.max("doc_id").alias("doc_id")
                ).select("doc_id")
            doct = doct.join(winners, "doc_id", "left_semi")
            tf = tf.join(winners, "doc_id", "left_semi")
            if pos is not None:
                pos = pos.join(winners, "doc_id", "left_semi")

        builder = IndexBuilder(self.spark, out, self.config)
        manifest = {"stages": {}}
        os.makedirs(out, exist_ok=True)
        self.config.save(out)

        t0 = time.time()
        write_table(doct.drop("event_time"), os.path.join(out, "doctable"))
        builder._finish_stage(manifest, "doctable", t0)

        t0 = time.time()
        write_table(tf, os.path.join(out, "tf"))
        builder._finish_stage(manifest, "tf", t0)

        if pos is not None:
            t0 = time.time()
            write_positions(pos, os.path.join(out, "positions"), self.config)
            builder._finish_stage(manifest, "positions", t0)

        # remaining stages (stats, lexicon, postings, block_summary) via
        # the batch path: corpus arg is unused because doctable/tf (and
        # positions, when enabled) already exist on disk + in manifest.
        return builder.build(corpus=None, resume=True)
