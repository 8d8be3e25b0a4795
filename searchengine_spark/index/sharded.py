"""Sharded index build — the 100-TB deployment shape.

The reference's SPIMI build writes per-block partial indexes and merges
them (index/IndexMerger.java); at cluster scale the standard layout is
the transpose: the CORPUS is partitioned into shards, each shard gets a
complete self-contained index, and a query fans out to every shard and
merges the per-shard top-k.

``build_sharded_index`` writes ``out_dir/shard=<i>`` plus
``sharded_manifest.json``; ``SearchEngine(spark, out_dir)`` opens such a
directory as N shards and runs every query method over them
(query/engine.py). ``ShardedSearchEngine`` is that same class.

What makes sharded top-k equal single-index top-k:

* **Global doc_ids.** ``build_sharded_index`` assigns dense doc_ids and
  the sha256 invariant over the FULL corpus first (the same frozen
  range-boundary two-phase assignment every build uses), then slices by
  ``(doc_id - 1) % n_shards``; the per-shard builder detects the
  pre-assigned columns and never renumbers.
* **Global statistics.** BM25 needs collection-level n_docs / avgdl and
  per-term df. Per-shard stats.json carry exact integer counts, so the
  global stats are exact sums (written to the manifest), and per-term
  global df is the sum of the per-shard lexicon probes at query time.
  The engine computes idf = log10(n_docs / df) with Spark's own log10,
  so it carries the bits the single-index build stores.

MaxScore pruning is not offered across shards: the persisted per-block
score maxima embed each shard's LOCAL idf, which is not an upper bound
under global idf, so ``algo="maxscore"`` runs DAAT there (identical
results).

The shards are built one after another on one driver, each re-running
the full-corpus doc-id preparation before its filter; a deployment would
run the per-shard builds as independent jobs.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..query.engine import MANIFEST, SearchEngine
from ..sources.corpus import assign_doc_ids, filter_malformed, with_sha256
from .builder import IndexBuilder

__all__ = ["MANIFEST", "ShardedSearchEngine", "build_sharded_index"]

# a sharded index directory opens as N shards of the one engine
ShardedSearchEngine = SearchEngine


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
    resumable IndexBuilder run (per-stage lineage per shard), with no
    cross-shard shuffle at all."""
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
