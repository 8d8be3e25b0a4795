"""Sharded index + scatter-gather query — the 100-TB deployment shape
(VERDICT r4 "Next round" #2, promoted from scripts/scaling_exec_job.py).

The reference's SPIMI build writes per-block partial indexes and merges
them (index/IndexMerger.java); at cluster scale the standard layout is
the transpose: the CORPUS is partitioned into shards, each shard gets a
complete self-contained index built by its own executor group, and a
query fans out to every shard and k-way-merges the per-shard top-k.

Global-semantics invariants (what makes sharded top-k ≡ single-index
top-k):

* **Global doc_ids.** ``build_sharded_index`` assigns dense doc_ids and
  the sha256 invariant over the FULL corpus first (the same frozen
  range-boundary two-phase assignment every build uses), then slices by
  ``(doc_id - 1) % n_shards``; the per-shard builder detects the
  pre-assigned columns and never renumbers.
* **Global statistics.** BM25 needs collection-level n_docs / avgdl and
  per-term df. Per-shard stats.json carry exact integer counts, so the
  global stats are exact sums (written to ``sharded_manifest.json``),
  and per-term global df is the sum of the per-shard lexicon probes at
  query time — idf = log10(n_docs_global / df_global), the same
  expression shape as the single-index build.
* **Per-shard k suffices for global k.** Shards partition the doc_id
  space, so each member of the global top-k ranks above every other doc
  of its own shard that is outside the global top-k — i.e. it sits
  within its shard's top-k under the same total order (score desc,
  doc_id asc). Union of per-shard top-k therefore CONTAINS the global
  top-k; one re-sort + limit recovers it exactly.
* **Bit-identical scores.** Each shard scores with the global avgdl and
  idf injected; the per-doc sum folds addends in sorted-term order
  (terms absent from a shard's lexicon contribute the same exact +0.0
  as the single-index coalesce chain), so every doc's score carries the
  identical double bits it gets from a single index.

MaxScore pruning is intentionally NOT offered across shards: the
persisted per-block score maxima embed each shard's LOCAL idf, which is
not an upper bound under global idf. DAAT / conjunctive are exact; a
rebuild-with-global-stats pass could re-enable MaxScore per shard.
"""

from __future__ import annotations

import json
import math
import os
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..query.engine import SearchEngine, validate_query_args
from ..sources.corpus import assign_doc_ids, filter_malformed, with_sha256
from .builder import IndexBuilder

MANIFEST = "sharded_manifest.json"


def build_sharded_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_shards: int,
    config: Optional[EngineConfig] = None,
    resume: bool = True,
) -> dict:
    """Build ``n_shards`` self-contained indexes under
    ``out_dir/shard=<i>`` plus a top-level manifest with the exact
    global collection stats. Each shard build is an independent
    resumable IndexBuilder run (per-stage lineage per shard), which is
    exactly how a 1000-executor deployment schedules it: one builder
    job per shard, no cross-shard shuffle at all."""
    out_dir = out_dir.rstrip("/")
    os.makedirs(out_dir, exist_ok=True)
    prepared = with_sha256(assign_doc_ids(filter_malformed(corpus)))
    shard_dirs = []
    reports = []
    for i in range(n_shards):
        d = os.path.join(out_dir, f"shard={i}")
        shard_dirs.append(d)
        shard = prepared.filter((F.col("doc_id") - 1) % n_shards == i)
        reports.append(
            IndexBuilder(spark, d, config).build(shard, resume=resume)
        )
    true_docs = 0
    tot = 0.0
    for d in shard_dirs:
        with open(os.path.join(d, "stats.json")) as f:
            s = json.load(f)
        true_docs += s["true_doc_count"]
        tot += s["tot_doc_len"]
    n_docs = true_docs + 1  # Q-1 parity — same inflation as a single build
    manifest = {
        "n_shards": n_shards,
        "shard_dirs": [f"shard={i}" for i in range(n_shards)],
        "stats": {
            "true_doc_count": true_docs,
            "n_docs": n_docs,
            "tot_doc_len": tot,
            "avgdl": tot / n_docs,
        },
    }
    with open(os.path.join(out_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2)
    return {"manifest": manifest, "shards": reports}


class ShardedSearchEngine:
    """Scatter-gather top-k over a sharded index.

    The gather side needs only per-shard top-k rows (k * n_shards rows
    total), so the merge is a driver-side re-sort when every shard runs
    the driver-local fast path, or a union + TakeOrderedAndProject when
    any shard's slice overflows the local gate — the per-shard subtrees
    are independent branches of ONE Spark job either way."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        with open(os.path.join(self.base_dir, MANIFEST)) as f:
            self.manifest = json.load(f)
        self.stats = self.manifest["stats"]
        self.engines = []
        for rel in self.manifest["shard_dirs"]:
            e = SearchEngine(spark, os.path.join(self.base_dir, rel))
            # inject the GLOBAL collection stats: every scoring
            # expression reads avgdl/n_docs from engine.stats
            e.stats = dict(e.stats, **self.stats)
            self.engines.append(e)
        self.config = self.engines[0].config

    def tokenize_query(self, text: str) -> list[str]:
        return self.engines[0].tokenize_query(text)

    def _global_term_stats(
        self, terms: Sequence[str]
    ) -> tuple[dict[str, dict], list[dict[str, dict]]]:
        """Per-term GLOBAL stats (df summed across shards, idf from the
        global n_docs) + each shard's raw probe. Driver-side pyarrow
        lexicon probes only — no Spark job."""
        per_shard = [e._term_stats(terms) for e in self.engines]
        out: dict[str, dict] = {}
        for t in terms:
            df = sum(s[t]["df"] for s in per_shard if t in s)
            if df:
                out[t] = {
                    "df": df,
                    "idf": math.log10(float(self.stats["n_docs"]) / df),
                }
        return out, per_shard

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "disjunctive",
        scorer: str = "bm25",
        algo: str = "daat",
        with_docno: bool = False,
        local: Optional[bool] = None,
    ) -> DataFrame:
        """Global top-k: fan out to every shard (per-shard k — see module
        docstring for why that suffices), merge by (score desc, doc_id
        asc), keep k. Returns (rank, doc_id, score) bit-identical in
        doc_ids/scores to a single-index DAAT run up to idf's last ulp
        (idf is recomputed from the exact global df). ``algo`` is
        accepted for SearchEngine API parity; ``maxscore`` degrades to
        DAAT here (results identical — MaxScore only prunes): the
        persisted per-block maxima embed each shard's LOCAL idf, which
        is not an upper bound under the injected global idf (module
        docstring)."""
        validate_query_args(k, mode, scorer, algo)

        def _finish(result: DataFrame) -> DataFrame:
            if not with_docno:
                return result
            # broadcast the k-row result and stream the (unioned) shard
            # doctables past it — same shape as SearchEngine.search
            doct = self.engines[0].doctable.select("doc_id", "docno")
            for e in self.engines[1:]:
                doct = doct.unionByName(e.doctable.select("doc_id", "docno"))
            return doct.join(F.broadcast(result), "doc_id").select(
                "rank", "doc_id", "docno", "score"
            )

        terms = self.tokenize_query(query)
        gstats, per_shard = self._global_term_stats(terms)
        terms = [t for t in terms if t in gstats]
        if not terms:
            return _finish(self.spark.createDataFrame(
                [], "rank int, doc_id long, score double"
            ))
        shard_terms: list[list[str]] = []
        for sstats in per_shard:
            ts = [t for t in terms if t in sstats]
            if mode == "conjunctive" and len(ts) != len(terms):
                # a term missing from a shard's lexicon occurs in none of
                # its docs: the shard cannot satisfy the conjunction
                ts = []
            shard_terms.append(ts)

        use_local = local
        if use_local is None:
            total_df = sum(gstats[t]["df"] for t in terms)
            use_local = total_df <= SearchEngine.LOCAL_EXEC_MAX_POSTINGS

        if use_local:
            parts = []
            for e, ts, sstats in zip(self.engines, shard_terms, per_shard):
                if not ts:
                    continue
                sub = {t: {**sstats[t], "idf": gstats[t]["idf"]} for t in ts}
                pdf = e._local_topk(ts, sub, scorer, mode, "daat", k)
                if len(pdf):
                    parts.append(pdf)
            if not parts:
                return _finish(self.spark.createDataFrame(
                    [], "rank int, doc_id long, score double"
                ))
            merged = pd.concat(parts, ignore_index=True)
            merged = merged.sort_values(
                ["score", "doc_id"], ascending=[False, True], kind="mergesort"
            ).head(k)
            merged["rank"] = range(1, len(merged) + 1)
            return _finish(self.engines[0]._local_df(
                merged[["rank", "doc_id", "score"]]
            ))

        parts_df = []
        for e, ts, sstats in zip(self.engines, shard_terms, per_shard):
            if not ts:
                continue
            sub = {t: {**sstats[t], "idf": gstats[t]["idf"]} for t in ts}
            if mode == "conjunctive":
                topk = e._conjunctive(ts, sub, scorer, k)
            else:
                topk = e._daat(ts, sub, scorer, k)
            parts_df.append(topk.select("doc_id", "score"))
        if not parts_df:
            return _finish(self.spark.createDataFrame(
                [], "rank int, doc_id long, score double"
            ))
        union = parts_df[0]
        for p in parts_df[1:]:
            union = union.unionByName(p)
        merged = union.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return _finish(
            merged.withColumn("rank", F.row_number().over(w)).select(
                "rank", "doc_id", "score"
            )
        )

    def batch_search(
        self,
        queries: Sequence[tuple[str, str]],
        k: int = 10,
        mode: str = "disjunctive",
        scorer: str = "bm25",
        algo: str = "daat",
    ) -> DataFrame:
        """Scatter-gather batch (the reference's TestPerformance shape):
        each shard runs ONE batch job with the GLOBAL per-term df/idf
        and global known-term sets injected (engine.batch_search's
        term_stats hook), then per-query re-rank of the unioned
        per-shard top-k. Exact vs a single index: a term absent from a
        shard's lexicon occurs in none of its docs, so per-(query, doc)
        folds see exactly the postings a single index would, with the
        same sorted-term summation order; the conjunctive n_hit ==
        n_q_terms test uses the global term count. ``algo='maxscore'``
        degrades to DAAT here (identical results) — per-shard theta
        metadata embeds shard-local idf (see search())."""
        validate_query_args(k, mode, scorer, algo)
        all_terms = sorted(
            {
                t
                for _qid, text in queries
                for t in self.engines[0].tokenize_query(text)
            }
        )
        gstats, _ = self._global_term_stats(all_terms)
        parts = [
            e.batch_search(
                queries, k=k, mode=mode, scorer=scorer, algo="daat",
                term_stats=gstats,
            )
            for e in self.engines
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            union.select("query_id", "doc_id", "score")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    def phrase_search(
        self, phrase: str, k: int = 10, local: Optional[bool] = None
    ) -> DataFrame:
        """Scatter-gather exact-phrase top-k (requires shards built with
        ``positions=True``). Identical to a single-index phrase query:

        * a matching doc lives wholly in one shard, so every shard whose
          lexicon misses any phrase term contributes nothing (and a term
          missing from EVERY shard is globally unknown — strict empty);
        * per-shard k suffices: ranking is by the idf-free partial, a
          per-doc quantity, so the global top-k is contained in the
          union of per-shard top-k under the same total order;
        * the global phrase_df is the SUM of the disjoint per-shard
          matched-doc counts, and every shard scores with the global
          avgdl/n_docs already injected — score bits match a single
          index exactly.
        """
        validate_query_args(k)
        if not os.path.exists(
            os.path.join(self.engines[0].index_dir, "positions")
        ):
            raise RuntimeError(
                "no positional index: build with EngineConfig(positions=True)"
            )
        terms = self.engines[0].tokenize_phrase(phrase)

        def empty() -> DataFrame:
            return self.spark.createDataFrame(
                [], "rank int, doc_id long, score double, phrase_tf int"
            )

        if not terms:
            return empty()
        per_shard = [e._term_stats(terms) for e in self.engines]
        if any(all(t not in s for s in per_shard) for t in set(terms)):
            return empty()  # globally unknown term: strict semantics
        participating = [
            (e, s)
            for e, s in zip(self.engines, per_shard)
            if all(t in s for t in terms)
        ]
        if not participating:
            return empty()

        use_local = local
        if use_local is None:
            total_cf = sum(
                s[t]["cf"] for _e, s in participating for t in set(terms)
            )
            # total cf across shards bounds the lone driver's footprint
            # (it reads every participating shard's slices)
            use_local = total_cf <= SearchEngine.LOCAL_EXEC_MAX_POSTINGS

        if use_local:
            parts = []
            df_total = 0
            for e, _s in participating:
                pdf, n = e._local_phrase(terms, k, raw=True)
                df_total += n
                if len(pdf):
                    parts.append(pdf)
            if not parts or df_total == 0:
                return empty()
            merged = (
                pd.concat(parts, ignore_index=True)
                .sort_values(
                    ["partial", "doc_id"],
                    ascending=[False, True],
                    kind="mergesort",
                )
                .head(k)
            )
            idf = math.log10(float(self.stats["n_docs"]) / df_total)
            rows = ",".join(
                f"({r + 1}, {int(d)}L, CAST('{float(p) * idf!r}' AS DOUBLE),"
                f" {int(tf)})"
                for r, (d, p, tf) in enumerate(
                    zip(merged["doc_id"], merged["partial"], merged["phrase_tf"])
                )
            )
            return self.spark.sql(
                f"SELECT * FROM VALUES {rows} "
                "AS t(rank, doc_id, score, phrase_tf)"
            )

        topks, dfrows = [], []
        for e, _s in participating:
            t, d = e.phrase_search(phrase, k=k, local=False, _raw=True)
            topks.append(t)
            dfrows.append(d)
        union = topks[0]
        for t in topks[1:]:
            union = union.unionByName(t)
        dfu = dfrows[0]
        for d in dfrows[1:]:
            dfu = dfu.unionByName(d)
        total_row = dfu.agg(
            F.sum("phrase_df").cast("long").alias("phrase_df")
        )
        merged = (
            union.orderBy(F.desc("_partial"), F.asc("doc_id"))
            .limit(k)
            .crossJoin(F.broadcast(total_row))
        )
        idf_col = F.log10(
            F.lit(float(self.stats["n_docs"])) / F.col("phrase_df")
        )
        scored = merged.select(
            "doc_id",
            (F.col("_partial") * idf_col).alias("score"),
            "phrase_tf",
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return scored.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "score", "phrase_tf"
        )
