"""Query engine — top-k BM25/TFIDF retrieval over the partitioned index.

The reference's three algorithms (query/ directory) and their Spark forms:

* DAAT disjunctive (DAAT.java:10-49) — n-way sorted union + score sum.
  Spark: filter postings to the query terms (partition pruning on
  term_bucket + row-group pruning on term), explode the block arrays,
  ``groupBy(doc_id).agg(sum(score))``, TakeOrderedAndProject top-k. The
  shuffle IS the sorted union; parity comes from using the same score
  expression as the build.

* Conjunctive (Conjunctive.java:19-57) — n-way sorted intersection.
  Spark: same plan + ``count(distinct term) == n_terms`` filter (an n-way
  equi-join on doc_id expressed as an aggregation — no join chain needed,
  and Catalyst's hash aggregate beats a cascade of sort-merge joins).

* MaxScore (MaxScore.java:14-96) — upper-bound pruned disjunctive.
  Distributed form (exact, rank-identical to DAAT by construction), ONE
  Spark job, zero driver-side collects:
    1. theta from index METADATA already held driver-side: for any query
       term, its blocks partition disjoint doc sets, so k distinct docs
       achieve its k largest per-block maxima — the k-th largest block
       max is a valid lower bound on the final k-th score (all partial
       scores are positive). theta = the best such bound over the query
       terms. This replaces the reference's heap-threshold bootstrap
       (MaxScore.java:75-83) without scanning any posting data.
    2. split terms into essential/non-essential by the reference's
       cumulative-upper-bound rule (MaxScore.java:41-55): the longest
       ascending-ub prefix whose ub sum <= theta is non-essential — a doc
       appearing ONLY in non-essential lists cannot reach theta;
    3. candidates = doc_ids of the essential lists' unpruned blocks
       (usually the rare terms — tiny fraction of postings);
    4. exact-score ONLY the candidates (left-semi join, broadcast when
       the essential dfs say the candidate side is small) over all
       lists, top-k.
  Fixes reference quirks Q-2/Q-3 (stale per-term bound; list 0 never
  probed): bounds here are true global maxima stored by the build, so
  MaxScore == DAAT always — the reference's own equivalence-test intent.

Tie-break everywhere: score DESC, doc_id ASC (ResultBlock.java:41-52).
Missing query terms are silently dropped (Query.java:134-136).

Shards: :class:`IndexShard` holds what one index directory owns (its
readers, memo caches and the per-index executors above, which take
the term stats they score with as an argument). :class:`SearchEngine`
is the API over a list of shards. A plain index directory opens as one
shard; a directory holding ``sharded_manifest.json`` (written by
``index/sharded.py``) opens as N. Every query method is written once:
tokenize, sum the term stats over the shards, gate the route, fan out,
merge the per-shard top-k on (key desc, doc_id asc), rank. With one
shard the merge passes the shard's own result through untouched.

Results: the distributed route returns a Spark plan. The driver-local
route (and every empty result) returns a :class:`LocalResult`, a
DataFrame that holds its k rows on the driver: collecting it costs no
JVM round trip, and its Spark plan is built only if a caller asks for
one.
"""

from __future__ import annotations

import json
import numbers
import os
from collections import OrderedDict
from functools import cached_property, reduce
from typing import Callable, Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.scoring import bm25_partial_expr, tfidf_partial_expr
from ..functions.text import tokenize_doc_py, tokenize_query_py
from ..index.builder import THETA_TOPK, term_bucket_py

MODES = ("disjunctive", "conjunctive")
SCORERS = ("bm25", "tfidf")
ALGOS = ("daat", "maxscore")

# a sharded index's top-level file: shard dirs + exact global stats
MANIFEST = "sharded_manifest.json"

TOPK_SCHEMA = "rank int, doc_id long, score double"
PHRASE_SCHEMA = "rank int, doc_id long, score double, phrase_tf int"
BATCH_SCHEMA = "query_id string, rank int, doc_id long, score double"


def validate_query_args(
    k, mode: str = "disjunctive", scorer: str = "bm25", algo: str = "daat"
) -> None:
    """The one argument check of every query entry point (search,
    batch_search, phrase_search): every route rejects
    the same invalid input with the same ValueError instead of quietly
    scoring something else (``scorer="BM25"`` used to score TFIDF,
    ``mode="conj"`` ran disjunctive, and ``k=-1`` returned every match
    on the driver-local route but raised in Spark)."""
    for name, value, allowed in (
        ("mode", mode, MODES),
        ("scorer", scorer, SCORERS),
        ("algo", algo, ALGOS),
    ):
        if value not in allowed:
            raise ValueError(
                f"unknown {name} {value!r}: expected one of {', '.join(allowed)}"
            )
    if isinstance(k, bool) or not isinstance(k, numbers.Integral) or k < 1:
        raise ValueError(f"k must be a positive integer, got {k!r}")


def spark_log10(spark: SparkSession, x: float) -> float:
    """``log10(x)`` with the bits Spark's ``F.log10`` gives:
    ``java.lang.StrictMath.log10`` (fdlibm). Python's ``math.log10``
    disagrees with it in the last bit for some arguments (904 of
    df = 1..20,000 at n_docs = 20,001), so an idf computed on the driver
    goes through the JVM to match an idf computed in a plan."""
    return spark._jvm.java.lang.StrictMath.log10(float(x))


# Spark SQL literal and pandas dtype of each column type a result holds
_SQL_LITERAL = {
    "int": "{:d}".format,
    "long": "{:d}L".format,
    # repr round-trips IEEE754 exactly and parseDouble is correctly
    # rounded, so a score keeps its bits through the literal
    "double": "CAST('{!r}' AS DOUBLE)".format,
    # hex UTF-8 bytes: no quoting or escaping rules to get wrong
    "string": lambda v: f"CAST(X'{v.encode().hex()}' AS STRING)",
}
_PANDAS_DTYPE = {"int": "int32", "long": "int64", "double": "float64", "string": "object"}


class LocalResult(ClassicDataFrame):
    """A query result computed on the driver that is still a DataFrame.

    It wraps the pandas top-k frame and its schema string. ``collect()``,
    ``count()``, ``take()``/``head()``/``first()``, ``isEmpty()``,
    ``toLocalIterator()``, ``toPandas()`` and ``columns`` are answered
    from the driver-held rows: no SQL parse, no JVM round trip, no Spark
    job. The rows are ``Row``s with the field names, Python types and
    score bits a collect of the plan gives, and ``toPandas()`` gives
    Spark's dtypes.

    Whatever needs a JVM plan (``select``, joins, ``schema``, writes,
    temp views, ``_jdf.queryExecution()``) gets one, built on first use
    of ``_jdf``: a LocalRelation over a SQL VALUES clause of the same
    rows, or an empty frame of the schema. ``createDataFrame(pandas)``
    is no substitute: it builds an ExistingRDD whose collect is a
    Python-worker round trip (about 0.26 s even for k rows)."""

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(
        self, spark: SparkSession, schema: str, pdf: Optional[pd.DataFrame] = None
    ):
        # the attributes a DataFrame method reads besides _jdf
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._ddl = schema
        self._fields = [tuple(c.split()) for c in schema.split(", ")]
        self._pdf = pdf

    @cached_property
    def _rows(self) -> list[Row]:
        names = self.columns
        if self._pdf is None:
            return []
        return [
            Row(**dict(zip(names, r)))
            for r in zip(*(self._pdf[n].tolist() for n in names))
        ]

    @cached_property
    def _jdf(self):
        if not self._rows:
            return self._session.createDataFrame([], self._ddl)._jdf
        literal = [_SQL_LITERAL[t] for _, t in self._fields]
        values = ",".join(
            "(" + ", ".join(f(v) for f, v in zip(literal, r)) + ")"
            for r in self._rows
        )
        names = ", ".join(self.columns)
        return self._session.sql(
            f"SELECT * FROM VALUES {values} AS t({names})"
        )._jdf

    @property
    def columns(self) -> list[str]:
        return [name for name, _ in self._fields]

    def collect(self) -> list[Row]:
        return list(self._rows)

    def count(self) -> int:
        return len(self._rows)

    def take(self, num: int) -> list[Row]:
        if num < 0:  # the plan raises Spark's own error
            return super().take(num)
        return self._rows[:num]

    def isEmpty(self) -> bool:
        return not self._rows

    def toLocalIterator(self, prefetchPartitions: bool = False):
        return iter(self.collect())

    def toPandas(self) -> pd.DataFrame:
        return pd.DataFrame.from_records(self._rows, columns=self.columns).astype(
            {name: _PANDAS_DTYPE[t] for name, t in self._fields}
        )


class ResidentIndex:
    """Decoded index partitions the driver keeps between queries: one
    LRU per engine, summed over all its shards, bounded in bytes.

    ``get`` answers a partition from RAM, or decodes it with ``load``
    and keeps it when it fits, evicting the least recently used ones. A
    partition larger than the budget is decoded for the query that
    needs it and not kept. ``reserve`` charges bytes held outside the
    LRU (a shard's block summary loaded whole) against the same budget."""

    def __init__(self, budget: int):
        self.budget = budget
        self.reserved = 0
        self.resident = 0
        self._lru: OrderedDict = OrderedDict()

    def __contains__(self, key) -> bool:
        return key in self._lru

    def get(self, key, load: Callable[[], tuple[object, int]]):
        entry = self._lru.get(key)
        if entry is not None:
            self._lru.move_to_end(key)
            return entry[0]
        value, nbytes = load()
        if self._make_room(nbytes):
            self._lru[key] = (value, nbytes)
            self.resident += nbytes
        return value

    def reserve(self, nbytes: int) -> bool:
        """Charge ``nbytes`` kept outside the LRU, if they fit."""
        if not self._make_room(nbytes):
            return False
        self.reserved += nbytes
        return True

    def _make_room(self, nbytes: int) -> bool:
        if nbytes > self.budget - self.reserved:
            return False
        while self._lru and self.resident + self.reserved + nbytes > self.budget:
            _, (_, n) = self._lru.popitem(last=False)
            self.resident -= n
        return True


class TermBucket:
    """One ``term_bucket`` partition of a term-keyed index table
    (lexicon or postings), decoded into read-only numpy columns sorted
    by (term, block_id). A term's rows are the slice ``rows(term)``;
    each list column is one flat values array indexed through the
    shared ``offsets``, so a term's postings are one contiguous slice.
    Columns keep their on-disk dtypes."""

    def __init__(self, tbl, lists: Sequence[str] = ()):
        import numpy as np
        import pyarrow.compute as pc

        keys = [("term", "ascending")]
        if "block_id" in tbl.column_names:
            keys.append(("block_id", "ascending"))
        order = pc.sort_indices(tbl, sort_keys=keys).to_numpy()
        self.terms = tbl["term"].to_numpy(zero_copy_only=False).astype(str)[order]
        self.cols = {
            name: tbl[name].to_numpy()[order]
            for name in tbl.column_names
            if name not in ("term", *lists)
        }
        # the list columns of a row have one length (the block's
        # postings): gather their flat values into the sorted row order
        # with one index array (cheaper than an Arrow take of each list)
        self.offsets, self.values = np.zeros(1, np.int64), {}
        if lists:
            lengths = pc.list_value_length(tbl[lists[0]]).to_numpy()
            starts = np.cumsum(lengths, dtype=np.int64) - lengths
            lengths, starts = lengths[order], starts[order]
            self.offsets = np.concatenate(([0], np.cumsum(lengths, dtype=np.int64)))
            gather = np.repeat(starts - self.offsets[:-1], lengths)
            gather += np.arange(gather.size)
            self.values = {
                name: pc.list_flatten(tbl[name]).to_numpy()[gather] for name in lists
            }
        arrays = [self.terms, self.offsets, *self.cols.values(), *self.values.values()]
        for a in arrays:
            a.setflags(write=False)
        self.nbytes = sum(a.nbytes for a in arrays)

    def rows(self, term: str) -> tuple[int, int]:
        """The [lo, hi) row range of ``term`` (empty when absent)."""
        import numpy as np

        return (
            int(np.searchsorted(self.terms, term, "left")),
            int(np.searchsorted(self.terms, term, "right")),
        )


class IndexShard:
    """What one index directory built by :class:`IndexBuilder` owns: its
    lexicon/postings/positions/doctable readers, their memo caches, and
    the executors of every query plan over them. Executors take the
    term stats (df, idf, upper bounds) they score with, so a shard of a
    sharded index scores with the global idf its engine injects.

    Like the reference, which holds its lexicon and doc table in RAM
    (Query.java:62-72), the driver-local route answers from decoded
    index data kept on the driver: each lexicon and postings
    ``term_bucket`` partition and each doctable file a query touches is
    decoded once into numpy columns (:class:`TermBucket`) and kept in
    the engine's :class:`ResidentIndex`, bounded by
    DRIVER_INDEX_RAM_BYTES. The distributed route reads postings in
    Spark.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        log10: Callable[[float], float],
        resident: ResidentIndex,
        global_stats: Optional[dict] = None,
    ):
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        self.config = EngineConfig.load(self.index_dir)
        with open(os.path.join(self.index_dir, "stats.json")) as f:
            # a shard of a sharded index scores with the collection's
            # n_docs/avgdl: every scoring expression reads self.stats
            self.stats = {**json.load(f), **(global_stats or {})}
        self.resident = resident
        self._block_max_cache: dict[str, list[dict]] = {}
        self._block_summary_cache: dict[str, Optional[dict]] = {}
        self._block_summary_full = False
        self._block_summary_should_load: Optional[bool] = None
        self._phrase_caches: list[DataFrame] = []
        self._lexicon_df: Optional[DataFrame] = None
        self._positions_df: Optional[DataFrame] = None
        self._pa: dict = {}
        self.log10 = log10

    # Spark frames over the index tables, opened on first use: reading a
    # parquet schema launches a Spark job, and the driver-local route
    # never needs these frames.
    @cached_property
    def postings(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "postings"))

    @cached_property
    def doctable(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "doctable"))

    def warm(self) -> None:
        """Pin the postings frame in executor memory and materialize it —
        the distributed analogue of the reference loading its whole index
        into RAM before the first query (Query.java:62-72; its 16-72 ms
        latencies are RAM-probe numbers). Optional: cold queries are
        identical in results; warm() trades executor memory for scan
        latency, and at cluster scale the cache is cluster-RAM-sized —
        the same trade the reference makes on one machine. Partition/
        batch-stat pruning still applies to the cached relation, and
        every query derives from this same frame, so the cache is hit by
        all of them. The positional frame warms on first phrase query if
        already resolved."""
        self.postings = self.postings.persist()
        self.postings.count()
        if self._positions_df is not None:
            self._positions_df = self._positions_df.persist()
        # pull the block_summary into driver RAM too (when small enough)
        # so the first MaxScore query pays no metadata read
        self._block_summary([])

    @property
    def lexicon(self) -> DataFrame:
        """Full lexicon as a DataFrame (analytics over the dictionary).
        Lazy: the QUERY path never touches it — per-term probes go to
        the resident lexicon buckets in _term_stats — so engine
        construction skips the parquet listing/schema pass."""
        if self._lexicon_df is None:
            self._lexicon_df = self.spark.read.parquet(
                os.path.join(self.index_dir, "lexicon")
            )
        return self._lexicon_df

    # ---------- plumbing ----------

    def _dataset(self, table: str):
        """Memoized pyarrow dataset handle for one index table
        (postings, positions, lexicon, doctable): the file listing and
        hive-partition discovery are paid once per engine instance
        (refresh() resets). Every driver-side Parquet read goes through
        it; the lexicon, postings and doctable reads of the driver-local
        route happen only when a partition is not resident."""
        if table not in self._pa:
            import pyarrow.dataset as ds

            self._pa[table] = ds.dataset(
                os.path.join(self.index_dir, table),
                format="parquet",
                partitioning="hive",
            )
        return self._pa[table]

    def _bucket(self, table: str, term: str) -> TermBucket:
        """The decoded ``term_bucket`` partition of ``table`` (lexicon
        or postings) that ``term`` hashes into, from the engine's
        resident index; decoded from Parquet when not resident."""
        import pyarrow.dataset as ds

        bucket = term_bucket_py(term, self.config.n_term_buckets)

        def load():
            columns, lists = None, ()
            if table == "postings":  # what the driver-local route scores from
                lists = ("doc_ids", "tfs", "doc_lens")
                columns = ["term", "block_id", *lists, "block_max_bm25", "block_max_tfidf"]
            tbl = self._dataset(table).to_table(
                filter=ds.field("term_bucket") == bucket, columns=columns
            )
            decoded = TermBucket(tbl, lists)
            return decoded, decoded.nbytes

        return self.resident.get((self.index_dir, table, bucket), load)

    @cached_property
    def _doctable_files(self) -> list:
        return list(self._dataset("doctable").get_fragments())

    def _docnos(self, ids) -> dict[int, str]:
        """{doc_id: docno} for the ``ids`` this shard's doctable holds.
        Each doctable file is decoded once into its doc_ids, sorted, and
        the matching docno Arrow array, kept in the resident index; a
        lookup is one ``searchsorted`` per file and a take of the hits."""
        import numpy as np
        import pyarrow as pa

        def load(frag):
            tbl = frag.to_table(columns=["doc_id", "docno"])
            doc_ids = tbl["doc_id"].to_numpy()
            order = np.argsort(doc_ids, kind="stable")
            doc_ids = doc_ids[order]
            doc_ids.setflags(write=False)
            docno = tbl["docno"].take(pa.array(order)).combine_chunks()
            return (doc_ids, docno), doc_ids.nbytes + docno.nbytes

        out: dict[int, str] = {}
        for frag in self._doctable_files:
            doc_ids, docno = self.resident.get(
                (self.index_dir, "doctable", frag.path), lambda: load(frag)
            )
            if not doc_ids.size:
                continue
            pos = np.minimum(np.searchsorted(doc_ids, ids), doc_ids.size - 1)
            hit = doc_ids[pos] == ids
            if hit.any():
                names = docno.take(pa.array(pos[hit])).to_pylist()
                out.update(zip(ids[hit].tolist(), names))
        return out

    def _bucket_filter(self, terms: Sequence[str]):
        buckets = sorted({term_bucket_py(t, self.config.n_term_buckets) for t in terms})
        return F.col("term_bucket").isin(buckets) & F.col("term").isin(list(terms))

    def _term_stats(self, terms: Sequence[str]) -> dict[str, dict]:
        """J5 dictionary probe: the lexicon rows of the query terms;
        absent terms drop out.

        No Spark job, and no Parquet read once the terms' lexicon
        buckets are resident: the reference answers this probe from its
        RAM-resident dictionary (Query.java:62-72), ours is a
        ``searchsorted`` into the term's decoded lexicon bucket. A term
        missing from a loaded bucket is absent from the index."""
        out: dict[str, dict] = {}
        for t in terms:
            lex = self._bucket("lexicon", t)
            lo, hi = lex.rows(t)
            if lo < hi:
                out[t] = {"term": t, **{c: v[lo].item() for c, v in lex.cols.items()}}
        return out

    def _block_maxima(self, terms: Sequence[str]) -> dict[str, list[dict]]:
        """Per-term skip-block metadata (block_max_bm25/tfidf, n_postings)
        — the driver-side analogue of the reference's RAM-resident skip
        info (SkipList.java:24-46). Column-projected pyarrow read of the
        postings table: parquet being columnar, the posting arrays are
        never touched — this reads 3 small columns of the query
        terms' bucket partitions only. Memoized per engine instance."""
        missing = [t for t in terms if t not in self._block_max_cache]
        if missing:
            import pyarrow.dataset as ds

            dataset = self._dataset("postings")
            buckets = sorted(
                {term_bucket_py(t, self.config.n_term_buckets) for t in missing}
            )
            tbl = dataset.to_table(
                filter=ds.field("term_bucket").isin(buckets)
                & ds.field("term").isin(missing),
                columns=["term", "n_postings", "block_max_bm25", "block_max_tfidf"],
            )
            for t in missing:
                self._block_max_cache[t] = []
            for r in tbl.to_pylist():
                self._block_max_cache[r["term"]].append(r)
        return {t: self._block_max_cache[t] for t in terms}

    def _block_summary(self, terms: Sequence[str]) -> dict[str, dict]:
        """Per-term top-K posting scores from the ``block_summary`` stage
        (one row per term — the lexicon's shape, not the postings').
        This bounds the theta metadata read at O(|terms| * K) driver
        bytes even for a stopword-scale term whose postings span ~1e6
        block rows. Memoized; absent terms are left out."""
        if self._block_summary_full:
            return {
                t: self._block_summary_cache[t]
                for t in terms
                if self._block_summary_cache.get(t) is not None
            }
        missing = [t for t in terms if t not in self._block_summary_cache]
        if missing or not terms:
            import pyarrow.dataset as ds

            dataset = self._dataset("block_summary")
            # small summary table => load it ALL once and answer every
            # later probe from RAM — the reference's own move (the full
            # dictionary is RAM-resident before the first query,
            # Query.java:62-72). The per-term bucket-pruned probe below
            # stays the path for web-scale vocabularies, where the
            # summary is too big to hold driver-side. (terms == [] is
            # warm()'s explicit preload request.) The load/no-load
            # decision is sized on UNCOMPRESSED parquet bytes (row-group
            # total_byte_size from the footers — no data read) times a
            # measured pylist expansion factor, NOT compressed file
            # size: the cache stores to_pylist() dicts whose Python
            # object overhead dwarfs the compressed footprint.
            # Decided once per engine instance (refresh() resets).
            if self._block_summary_should_load is None:
                unc = 0
                for frag in dataset.get_fragments():
                    md = frag.metadata
                    unc += sum(
                        md.row_group(i).total_byte_size
                        for i in range(md.num_row_groups)
                    )
                self._block_summary_should_load = self.resident.reserve(
                    unc * self.PYLIST_BYTES_PER_ARROW_BYTE
                )
            if self._block_summary_should_load:
                for r in dataset.to_table().to_pylist():
                    self._block_summary_cache.setdefault(r["term"], r)
                self._block_summary_full = True
                return {
                    t: self._block_summary_cache[t]
                    for t in terms
                    if self._block_summary_cache.get(t) is not None
                }
            if missing:
                buckets = sorted(
                    {term_bucket_py(t, self.config.n_term_buckets) for t in missing}
                )
                tbl = dataset.to_table(
                    filter=ds.field("term_bucket").isin(buckets)
                    & ds.field("term").isin(missing)
                )
                found = {r["term"]: r for r in tbl.to_pylist()}
                for t in missing:
                    self._block_summary_cache[t] = found.get(t)
        return {
            t: self._block_summary_cache[t]
            for t in terms
            if self._block_summary_cache.get(t) is not None
        }

    def _theta_from_blocks(
        self, terms: Sequence[str], scorer: str, k: int
    ) -> float:
        """Lower bound on the k-th best final score, from metadata alone.

        For k <= THETA_TOPK: the k-th largest single-POSTING score of
        any one query term, read from the block_summary stage. Within
        one term each posting is a distinct doc, so its top-k posting
        scores are achieved by k DISTINCT docs — and every partial score
        is positive (idf > 0 because df <= true_docs < n_docs under Q-1
        inflation), so final scores only exceed them. This is the strongest bound single-term
        metadata can give, and it is what makes a RARE query term (df in
        [k, ~1000] — the discriminative term of a typical query) push
        theta to its idf scale: the r2 block-max form needed >= k skip
        blocks, which rare terms never have, so exactly the queries
        MaxScore should win collapsed to theta ~= 0.

        For k beyond the stored K: the k-th largest per-block maximum,
        from a scan of the per-block metadata (also achieved by k
        distinct docs, since blocks partition disjoint doc ranges)."""
        theta = 0.0
        if k <= THETA_TOPK:
            post_key = "top_post_bm25" if scorer == "bm25" else "top_post_tfidf"
            for row in self._block_summary(terms).values():
                if len(row[post_key]) >= k:
                    theta = max(theta, row[post_key][k - 1])
            return theta
        bm_key = "block_max_bm25" if scorer == "bm25" else "block_max_tfidf"
        for t, blocks in self._block_maxima(terms).items():
            if len(blocks) >= k:
                kth = sorted((b[bm_key] for b in blocks), reverse=True)[k - 1]
                theta = max(theta, kth)
        return theta

    def _candidates_driver(
        self, essential, stats, scorer: str, theta: float, total_ub: float
    ):
        """Candidate doc_ids as a DRIVER-side numpy array — the direct
        analogue of the reference holding its essential posting lists in
        RAM and driving nextGEQ from them (MaxScore.java:57-74). Gated by
        the caller to small essential lists (ess_df <= RANGE_PRUNE_DF),
        so this is a bounded bucket-pruned pyarrow read — NOT a Spark
        job: the alternative (a
        DataFrame candidate subplan) costs one extra broadcast-exchange
        job per query, which at local-mode overheads erases most of what
        the pruning saves. Same block-max pruning rule as
        _candidates_block_max."""
        import numpy as np
        import pyarrow.dataset as ds

        bm_col = "block_max_bm25" if scorer == "bm25" else "block_max_tfidf"
        ub_key = "max_bm25" if scorer == "bm25" else "max_tfidf"
        dataset = self._dataset("postings")
        expr = None
        for t in essential:
            thresh = theta - (total_ub - stats[t][ub_key])
            e = (ds.field("term") == t) & (ds.field(bm_col) >= thresh)
            expr = e if expr is None else (expr | e)
        buckets = sorted(
            {term_bucket_py(t, self.config.n_term_buckets) for t in essential}
        )
        ids = dataset.to_table(
            filter=ds.field("term_bucket").isin(buckets) & expr,
            columns=["doc_ids"],
        )["doc_ids"].combine_chunks().flatten()
        return np.unique(ids.to_numpy(zero_copy_only=False).astype(np.int64))

    # above this many distinct terms, the per-term In() predicate stops
    # paying: planning/pushdown cost grows with the literal list while
    # most buckets are hit anyway. Callers that re-filter by term (the
    # batch join) then run bucket-pruned only.
    MAX_TERM_PREDICATE = 1024

    def _exploded_postings(
        self,
        terms: Sequence[str],
        term_predicate: bool = True,
        block_thresh: Optional[dict[str, float]] = None,
        scorer: str = "bm25",
        candidate_range: Optional[DataFrame] = None,
        candidate_ids=None,
    ) -> DataFrame:
        """(term, doc_id, tf, doc_len) rows for the query terms only —
        bucket partition pruning + term row-group pruning feed the scan.
        With ``term_predicate=False`` only the bucket partition filter is
        applied (huge term sets: the caller's join does term filtering).

        ``block_thresh`` (MaxScore) drops whole blocks BEFORE the arrays
        are touched: a block of term t with block_max < thresh[t] is
        skipped — parquet never reads its array columns. Only exact
        when the caller also applies the theta score filter (see
        _maxscore for the bound argument).

        Candidate-directed scan (MaxScore nextGEQ, PostingList.java:
        77-113): keep only blocks whose [min_doc_id, max_doc_id] range
        contains at least one candidate doc_id — with c candidates, at
        most c blocks per term are decoded no matter how long the list
        is. Two forms:

        * ``candidate_ids`` (sorted ints, caller keeps it small): pure
          LITERAL predicates — a pushable coarse [min(c), max(c)] range
          filter plus an exists() containment check over the block
          metadata columns, then an InSet on the exploded doc_ids. NO
          extra Spark job, no broadcast: the whole query stays one job,
          like DAAT.
        * ``candidate_range`` (DataFrame): broadcast left-semi range
          join over block metadata rows — for candidate sets too large
          to inline as literals.

        Either form is exact only when the caller then applies the theta
        score filter — non-candidate docs in surviving blocks still ride
        into scoring."""
        if term_predicate and len(terms) <= self.MAX_TERM_PREDICATE:
            blocks = self.postings.filter(self._bucket_filter(terms))
        else:
            buckets = sorted(
                {term_bucket_py(t, self.config.n_term_buckets) for t in terms}
            )
            blocks = self.postings.filter(F.col("term_bucket").isin(buckets))
        if candidate_ids is not None and len(candidate_ids) > 0:
            ids = [int(x) for x in candidate_ids]
            csv = ",".join(map(str, ids))
            # one SQL string = ONE py4j round-trip (the Column-API form
            # pays a JVM call per literal/lambda piece). Coarse bounds
            # are plain comparisons => parquet row-group stats pruning;
            # the exists() runs JVM-side over the ~sqrt(df) block
            # metadata rows only
            blocks = blocks.filter(
                F.expr(
                    f"max_doc_id >= {ids[0]}L AND min_doc_id <= {ids[-1]}L "
                    f"AND exists(array({csv}), "
                    "c -> c >= min_doc_id AND c <= max_doc_id)"
                )
            )
        if candidate_range is not None:
            blocks = blocks.join(
                F.broadcast(candidate_range),
                (candidate_range["doc_id"] >= blocks["min_doc_id"])
                & (candidate_range["doc_id"] <= blocks["max_doc_id"]),
                "left_semi",
            )
        if block_thresh:
            bm_col = "block_max_bm25" if scorer == "bm25" else "block_max_tfidf"
            thresh_map = F.create_map(
                *[F.lit(x) for t, v in block_thresh.items() for x in (t, v)]
            )
            blocks = blocks.filter(
                F.col(bm_col)
                >= F.coalesce(
                    F.element_at(thresh_map, F.col("term")),
                    F.lit(float("-inf")),
                )
            )
        exploded = blocks.select(
            "term",
            F.explode(F.arrays_zip("doc_ids", "tfs", "doc_lens")).alias("p"),
        ).select(
            "term",
            F.col("p.doc_ids").alias("doc_id"),
            F.col("p.tfs").alias("tf"),
            F.col("p.doc_lens").alias("doc_len"),
        )
        if candidate_ids is not None and len(candidate_ids) > 0:
            # exact candidate restriction pre-aggregation (InSet — a hash
            # probe per exploded row); redundant for correctness under
            # the caller's theta filter, but it keeps non-candidates in
            # surviving blocks out of the shuffle
            csv = ",".join(str(int(x)) for x in candidate_ids)
            exploded = exploded.filter(F.expr(f"doc_id IN ({csv})"))
        return exploded

    def _scored(
        self,
        terms: Sequence[str],
        stats: dict,
        scorer: str,
        block_thresh: Optional[dict[str, float]] = None,
        candidate_range: Optional[DataFrame] = None,
        candidate_ids=None,
    ) -> DataFrame:
        cfg = self.config
        idf_map = F.create_map(
            *[F.lit(x) for t in sorted(stats) for x in (t, stats[t]["idf"])]
        )
        partial = (
            bm25_partial_expr(F.col("tf"), F.col("doc_len"), self.stats["avgdl"], cfg.k1, cfg.b)
            if scorer == "bm25"
            else tfidf_partial_expr(F.col("tf"))
        )
        return self._exploded_postings(
            terms,
            block_thresh=block_thresh,
            scorer=scorer,
            candidate_range=candidate_range,
            candidate_ids=candidate_ids,
        ).withColumn(
            "score", partial * F.element_at(idf_map, F.col("term"))
        )

    @staticmethod
    def _sum_scores(scored: DataFrame, terms: Sequence[str]) -> DataFrame:
        """Per-doc score sum, ORDER-DETERMINISTIC: addends are folded in
        sorted-term order regardless of partitioning, so the same index
        gives bit-identical scores at any parallelism (the scaling
        protocol's rank-identity criterion). A plain float groupBy-sum
        would add in shuffle arrival order — ulp-nondeterministic.

        Each (term, doc) pair occurs exactly once in ``scored`` (tf is
        pre-aggregated; blocks partition disjoint doc ranges), so
        ``sum(when(term==t, score))`` is that single double, and the
        final expression adds the per-term values in a fixed order —
        a pure hash aggregate, no per-doc collect_list/sort_array.

        Expressions are built as SQL strings (ONE py4j round-trip each):
        the Column-API form cost ~10 JVM calls per query term, which
        dominated single-query planning time. The left-associative
        ``a + b + ...`` parse is bit-identical to the old explicit
        ``0.0 + a + b + ...`` fold (0.0 + a == a exactly for the
        non-negative addends here). Terms are post-pipeline tokens (T4
        strips all ASCII punctuation), so inlining them in SQL is safe;
        quotes are escaped anyway."""
        ordered = sorted(set(terms))
        aggs = [
            F.expr(
                "sum(CASE WHEN term = '{0}' THEN score END) AS _s{1}".format(
                    t.replace("'", "''"), i
                )
            )
            for i, t in enumerate(ordered)
        ] + [F.expr("count(*) AS n_terms")]
        per = scored.groupBy("doc_id").agg(*aggs)
        total = F.expr(
            " + ".join(f"coalesce(_s{i}, 0d)" for i in range(len(ordered)))
        )
        return per.select("doc_id", total.alias("score"), "n_terms")

    @staticmethod
    def _topk(per_doc: DataFrame, k: int) -> DataFrame:
        topk = per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "score"
        )

    # ---------- driver-local fast path (interactive latency) ----------

    def _local_postings(
        self,
        terms: Sequence[str],
        block_thresh: Optional[dict[str, float]] = None,
        scorer: str = "bm25",
    ) -> dict[str, tuple]:
        """The query terms' postings from their decoded postings buckets
        -> {term: (doc_ids int64, tfs int32, doc_lens int32)}: zero-copy
        slices of the resident arrays. ``block_thresh`` applies MaxScore
        block pruning, ``block_max >= thresh[term]`` (same rule as
        _exploded_postings — exact only under the caller's theta score
        filter), and then the kept blocks are gathered into copies."""
        import numpy as np

        bm_col = "block_max_bm25" if scorer == "bm25" else "block_max_tfidf"
        out = {}
        for t in terms:
            post = self._bucket("postings", t)
            lo, hi = post.rows(t)
            span = slice(post.offsets[lo], post.offsets[hi])
            cols = tuple(post.values[c][span] for c in ("doc_ids", "tfs", "doc_lens"))
            if block_thresh:
                keep = post.cols[bm_col][lo:hi] >= block_thresh[t]
                if not keep.all():
                    mask = np.repeat(keep, np.diff(post.offsets[lo : hi + 1]))
                    cols = tuple(c[mask] for c in cols)
            out[t] = cols
        return out

    def _local_topk(
        self, terms, stats, scorer: str, mode: str, algo: str, k: int
    ) -> pd.DataFrame:
        """Driver-side numpy scoring — bit-identical to the distributed
        plan: per-(term, doc) partials use the same double-precision
        operation order as bm25_partial_expr/tfidf_partial_expr
        (bm25_partial_py/tfidf_partial_py are the mirrors; TFIDF's log10
        is Spark's own, through the engine's memoized ``log10``), and
        per-doc sums fold addends in sorted-term order exactly like
        _sum_scores' coalesce chain (0.0 + s == s for the non-negative
        addends).
        ``algo='maxscore'`` applies the same metadata theta + block-max
        pruning as _maxscore — the identical exactness argument holds,
        just without a Spark job."""
        import numpy as np

        from ..functions.scoring import bm25_partial_py, tfidf_partial_py

        theta = 0.0
        block_thresh = None
        if algo == "maxscore" and mode != "conjunctive":
            theta = self._theta_from_blocks(terms, scorer, k)
            if theta > 0.0:
                ub_key = "max_bm25" if scorer == "bm25" else "max_tfidf"
                cum = sum(stats[t][ub_key] for t in terms)
                block_thresh = {
                    t: theta - (cum - stats[t][ub_key]) for t in terms
                }
        per_term = self._local_postings(
            terms, block_thresh=block_thresh, scorer=scorer
        )
        ordered = sorted(set(terms))
        nonempty = [t for t in ordered if per_term[t][0].size]
        if not nonempty:
            return pd.DataFrame(
                {"rank": [], "doc_id": [], "score": []}
            ).astype({"rank": "int32", "doc_id": "int64", "score": "float64"})
        uniq = np.unique(np.concatenate([per_term[t][0] for t in nonempty]))
        scores = np.zeros(uniq.size, dtype=np.float64)
        counts = np.zeros(uniq.size, dtype=np.int64)
        for t in ordered:
            ids, tf, dl = per_term[t]
            if ids.size == 0:
                continue
            pos = np.searchsorted(uniq, ids)
            tf = tf.astype(np.float64)
            if scorer == "bm25":
                partial = bm25_partial_py(
                    tf, dl.astype(np.float64), self.stats["avgdl"],
                    self.config.k1, self.config.b,
                )
            else:
                partial = tfidf_partial_py(tf, self.log10)
            scores[pos] += partial * stats[t]["idf"]
            counts[pos] += 1
        keep = np.ones(uniq.size, dtype=bool)
        if mode == "conjunctive":
            keep &= counts == len(ordered)
        if theta > 0.0:
            keep &= scores >= theta
        uniq, scores = uniq[keep], scores[keep]
        order = np.lexsort((uniq, -scores))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, order.size + 1, dtype=np.int32),
                "doc_id": uniq[order],
                "score": scores[order],
            }
        )

    def _local_phrase(self, terms, k: int) -> tuple[pd.DataFrame, int]:
        """Driver-side phrase top-k — bit-identical to the distributed
        phrase plan: identical coverage semantics (a base b matches when
        every phrase index i has term_i at position b+i), identical
        scoring double-ops (bm25_partial_py mirrors bm25_partial_expr)
        and identical (partial desc, doc_id asc) ranking — idf is a
        positive per-query constant, so ranking by the idf-free partial
        is rank- and tie-identical, as in the distributed path. Returns
        the idf-free top-k (doc_id, partial, phrase_tf) and the number
        of matching docs; the engine attaches the idf of the phrase's
        collection-wide df.

        The positional slices arrive via one column-projected,
        bucket+term-pushed pyarrow read (no Spark job); coverage is an
        intersect of per-index (doc, base) key sets — doc ids are
        compacted to local indices first so the int64 key
        (doc_idx << 32 | base + L) never overflows at any doc_id
        magnitude."""
        import numpy as np
        import pyarrow.dataset as ds

        from ..functions.scoring import bm25_partial_py

        L = len(terms)
        dataset = self._dataset("positions")
        buckets = sorted(
            {term_bucket_py(t, self.config.n_term_buckets) for t in set(terms)}
        )
        tbl = dataset.to_table(
            filter=ds.field("term_bucket").isin(buckets)
            & ds.field("term").isin(list(set(terms))),
            columns=["term", "doc_id", "doc_len", "positions"],
        ).combine_chunks()

        def empty():
            return (
                pd.DataFrame({"doc_id": [], "partial": [], "phrase_tf": []})
                .astype({"doc_id": "int64", "partial": "float64", "phrase_tf": "int64"}),
                0,
            )

        if tbl.num_rows == 0:
            return empty()
        term_col = np.asarray(tbl["term"].to_pylist())
        doc_col = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        dl_col = tbl["doc_len"].to_numpy(zero_copy_only=False).astype(
            np.float64
        )
        arr = tbl["positions"].chunk(0)
        vals = arr.values.to_numpy(zero_copy_only=False).astype(np.int64)
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        pos_rows = [vals[offs[r] : offs[r + 1]] for r in range(len(offs) - 1)]

        docs_unique, doc_idx = np.unique(doc_col, return_inverse=True)
        dl_by_doc = np.zeros(docs_unique.size, dtype=np.float64)
        dl_by_doc[doc_idx] = dl_col

        rows_by_term: dict[str, np.ndarray] = {
            t: np.flatnonzero(term_col == t) for t in set(terms)
        }
        inter = None
        for i, t in enumerate(terms):
            rs = rows_by_term[t]
            if rs.size == 0:
                return empty()
            keys = np.concatenate(
                [
                    (doc_idx[r] << np.int64(32)) + (pos_rows[r] - i + L)
                    for r in rs
                ]
            )
            keys.sort()
            inter = (
                keys
                if inter is None
                else np.intersect1d(inter, keys, assume_unique=True)
            )
            if inter.size == 0:
                return empty()
        hit_idx, ptf = np.unique(inter >> np.int64(32), return_counts=True)
        phrase_df = hit_idx.size
        partial = bm25_partial_py(
            ptf.astype(np.float64),
            dl_by_doc[hit_idx],
            self.stats["avgdl"],
            self.config.k1,
            self.config.b,
        )
        hit_docs = docs_unique[hit_idx]
        order = np.lexsort((hit_docs, -partial))[:k]
        return (
            pd.DataFrame(
                {
                    "doc_id": hit_docs[order],
                    "partial": partial[order],
                    "phrase_tf": ptf[order].astype(np.int64),
                }
            ),
            int(phrase_df),
        )

    # ---------- algorithms ----------

    def _daat(self, terms, stats, scorer: str, k: int) -> DataFrame:
        per_doc = self._sum_scores(self._scored(terms, stats, scorer), terms).drop(
            "n_terms"
        )
        return self._topk(per_doc, k)

    def _conjunctive(self, terms, stats, scorer: str, k: int) -> DataFrame:
        n = len(terms)
        per_doc = (
            self._sum_scores(self._scored(terms, stats, scorer), terms)
            .filter(F.col("n_terms") == n)
            .drop("n_terms")
        )
        return self._topk(per_doc, k)

    def _plan(self, terms, stats, scorer: str, mode: str, algo: str, k: int):
        """The distributed top-k plan a query runs on this shard."""
        if mode == "conjunctive":
            return self._conjunctive(terms, stats, scorer, k)
        if algo == "maxscore":
            return self._maxscore(terms, stats, scorer, k)
        return self._daat(terms, stats, scorer, k)

    # candidate sides whose essential dfs sum below this are broadcast in
    # the semi join (doc_ids only: ~8 B/row -> <= ~16 MB broadcast)
    BROADCAST_CANDIDATE_DF = 2_000_000
    # engage the candidate semi-join only when the essential lists are at
    # most this fraction of the query's total postings: the join stage
    # costs a scan + exchange, so weak pruning (most docs candidates
    # anyway) would pay more than it saves — in that regime MaxScore
    # degrades to DAAT + the theta pre-filter, which is free. The same
    # cost logic is implicit in the reference: its non-essential skipping
    # only wins when upper bounds actually exclude lists. 0.25 measured
    # best on the Zipf bench corpus: at 0.5 a 2-equal-terms query (ess_df
    # ~= half the postings) paid the extra candidate scan for nothing.
    PRUNE_RATIO = 0.25
    # additionally direct the SCAN by candidates (nextGEQ block-range
    # semi join in _exploded_postings) when the essential lists are this
    # small: the candidate set rides a broadcast nested-loop range join
    # against block metadata, so it must stay ~thousands of rows. This
    # is the regime where the reference's MaxScore wins big (a rare
    # discriminative term + frequent terms): per common term only the
    # ~|candidates| blocks containing candidates are decoded instead of
    # the whole list.
    RANGE_PRUNE_DF = 65_536
    # candidate sets at most this big are inlined as plan literals
    # (InSet + exists() over block metadata) — zero extra jobs; bigger
    # ones become a local-relation broadcast range join
    LITERAL_CANDIDATES = 2048
    # engage candidate pruning only when the NON-essential lists hold at
    # least this many postings — the prunable work. Below it the fixed
    # cost of producing candidates (driver-side pyarrow read of the
    # essential lists, or a candidate scan job) exceeds what pruning can
    # save and MaxScore should degrade to DAAT + the free theta/block-max
    # filters. Re-measured round 4 with the literal-candidate path
    # (interleaved best-of-4, 12 mixed queries, 100k-doc Zipf, same
    # box): candidate pruning at savings ~100-140k postings now runs at
    # or slightly below DAAT (p50 0.502 s vs 0.519 s) while the gated
    # degradation pays ~50 ms of thresh-map/filter overhead (0.570 s) —
    # so the r3 value of 400k, measured before the exists()/InSet form
    # stabilized, was leaving wins on the table. At 1M docs (savings >=
    # 1.2M) pruning won every query by 0.2-0.5 s (ZIPF_SCALE.json).
    PRUNE_MIN_POSTINGS = 100_000
    # phrase coverage uses a one-hot bit_or up to this many terms (the
    # mask must fit a signed long); longer phrases use count_distinct
    PHRASE_BITMASK_MAX = 62
    # bound on the index data an engine keeps decoded on the driver,
    # summed over its shards (ResidentIndex): the lexicon and postings
    # buckets and doctable files of the driver-local route, plus each
    # block_summary table loaded whole on first probe (the reference's
    # RAM-resident dictionary, Query.java:62-72; per-query theta then
    # costs zero reads). A block_summary that does not fit keeps the
    # bucket-pruned per-term probe. Its footprint is estimated as
    # uncompressed-parquet bytes (from footers) x
    # PYLIST_BYTES_PER_ARROW_BYTE, because that cache holds to_pylist()
    # dicts: measured on a 20k-term summary shaped like the real one
    # (4 x 100-double top arrays per row), sys.getsizeof-walked dicts
    # run ~4.2x the Arrow buffer size (each 8-byte double becomes a
    # ~32-byte boxed float + list slot); 8 is the safety round-up.
    DRIVER_INDEX_RAM_BYTES = 256 * 1024 * 1024
    PYLIST_BYTES_PER_ARROW_BYTE = 8

    def _maxscore(self, terms, stats, scorer: str, k: int) -> DataFrame:
        ub_key = "max_bm25" if scorer == "bm25" else "max_tfidf"
        # ascending upper bounds, like MaxScore.java:27-33
        ordered = sorted(terms, key=lambda t: stats[t][ub_key])

        # phase 1 (driver metadata only, NO Spark job): theta lower bound
        # from the top-K block maxima the build persisted (block_summary)
        theta = self._theta_from_blocks(terms, scorer, k)

        # phase 2: essential/non-essential split by cumulative ub
        cum, essential = 0.0, []
        for t in ordered:
            cum += stats[t][ub_key]
            if cum > theta:
                essential.append(t)
        if not essential:  # defensive: can't happen (top term ub >= theta)
            essential = [ordered[-1]]

        # phase 3: block-max pruning of the SCORING scan itself (the
        # distributed form of block-max-WAND skipping). A doc d in block
        # B of term t has score(d) <= block_max_t(B) + sum(ub of the
        # OTHER query terms); when that bound is < theta, d cannot reach
        # the top-k — and d's computed score (missing at most pruned-
        # block contributions, all positive) stays < theta too, so the
        # theta pre-filter below removes it. Docs whose true score >=
        # theta by the same bound appear ONLY in unpruned blocks, so
        # their scores are computed exactly: rank-identical to DAAT.
        # JVM-side filter on the per-block max column => parquet skips
        # the pruned blocks' array columns entirely.
        block_thresh = None
        if theta > 0.0:
            block_thresh = {
                t: theta - (cum - stats[t][ub_key]) for t in terms
            }
        ess_df = sum(stats[t]["df"] for t in essential)
        total_df = sum(stats[t]["df"] for t in terms)
        prune = (
            len(essential) < len(terms)
            and ess_df <= self.PRUNE_RATIO * total_df
            and total_df - ess_df >= self.PRUNE_MIN_POSTINGS
        )
        # prune implies theta > 0: ubs are strictly positive (idf > 0
        # under Q-1 inflation, partial > 0 for tf >= 1), so a non-empty
        # non-essential prefix needs its cumulative ub <= theta.
        cand_ids = cand_df = None
        range_prune = prune and ess_df <= self.RANGE_PRUNE_DF
        if range_prune:
            # essential lists small enough to hold driver-side, like the
            # reference's RAM-resident lists: nextGEQ via plan literals
            # (small sets) or a local-relation broadcast — either way the
            # query stays ONE Spark job
            ids = self._candidates_driver(
                essential, stats, scorer, theta, total_ub=cum
            )
            if len(ids) == 0:
                # can't happen (the theta-source term's top block always
                # survives its own threshold) — but an empty candidate
                # restriction would silently return no rows, so fall back
                # to the plain theta-filtered scan
                range_prune = False
            elif len(ids) <= self.LITERAL_CANDIDATES:
                cand_ids = ids
            else:
                # Arrow path: a 64k-row local relation serializes as one
                # batch instead of 64k py4j rows
                cand_df = self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": ids.astype("int64")})
                )
        scored = self._scored(
            terms,
            stats,
            scorer,
            block_thresh=block_thresh,
            candidate_range=cand_df,
            candidate_ids=cand_ids,
        )
        if cand_df is not None:
            # exact restriction for the DF form (the literal form applies
            # its InSet inside _exploded_postings); broadcasting a local
            # relation launches no scan job
            scored = scored.join(F.broadcast(cand_df), "doc_id", "left_semi")
        elif prune and not range_prune:
            # large essential lists: distributed candidate scan + hash
            # semi join (broadcast under BROADCAST_CANDIDATE_DF). The
            # restriction is redundant for CORRECTNESS (the theta filter
            # below removes every non-candidate: its true score — hence
            # its computed score, partial sums being positive — is below
            # theta by the block-max bound) but prunes the aggregation.
            sem = self._candidates_block_max(
                essential, stats, scorer, theta, total_ub=cum
            )
            if ess_df <= self.BROADCAST_CANDIDATE_DF:
                sem = F.broadcast(sem)
            scored = scored.join(sem, "doc_id", "left_semi")
        per_doc = self._sum_scores(scored, terms).drop("n_terms")
        # theta is a LOWER bound on the kth final score: safe pre-filter
        # (REQUIRED for exactness whenever block_thresh pruned anything)
        if theta > 0.0:
            per_doc = per_doc.filter(F.col("score") >= F.lit(theta))
        return self._topk(per_doc, k)

    def _candidates_block_max(
        self, essential, stats, scorer: str, theta: float, total_ub: float
    ) -> DataFrame:
        """Candidate doc_ids from the essential lists with BLOCK-MAX
        pruning (the distributed form of nextGEQ skip-block seeking,
        PostingList.java:77-113, and block-max upper-bound pruning, P5):

        a block of essential term t can only yield a doc whose final score
        reaches theta if  block_max_t + sum(ub of all OTHER terms) >= theta
        — any doc confined to pruned blocks (and non-essential lists) is
        bounded below theta, and theta lower-bounds the final k-th score,
        so dropping it is exact. Docs surviving in ANY unpruned block stay
        candidates and are scored exactly over all lists afterwards.

        The filter runs JVM-side against the per-block max columns, so
        parquet reads skip pruned blocks' array columns entirely. No
        ``distinct`` — the left-semi join consuming this dedups for free,
        saving a shuffle."""
        bm_col = "block_max_bm25" if scorer == "bm25" else "block_max_tfidf"
        ub_key = "max_bm25" if scorer == "bm25" else "max_tfidf"
        # per-term allowance: theta minus the others' upper bounds
        thresh_map = F.create_map(
            *[
                F.lit(x)
                for t in essential
                for x in (t, theta - (total_ub - stats[t][ub_key]))
            ]
        )
        blocks = self.postings.filter(self._bucket_filter(essential)).filter(
            F.col(bm_col) >= F.element_at(thresh_map, F.col("term"))
        )
        return blocks.select(F.explode("doc_ids").alias("doc_id"))

    # ---------- phrase queries (positional index; beyond-reference) ----------

    def _retire_phrase_cache(self, new: Optional[DataFrame]) -> None:
        """Unpersist previous phrase queries' matched-doc caches and
        (when ``new`` is given) track the next one. Deferred-by-one so
        the frame returned to the caller keeps its cache until the NEXT
        phrase query — unpersisting inside the same call would drop the
        cache before the caller ever collects."""
        for df in self._phrase_caches:
            df.unpersist(blocking=False)
        self._phrase_caches = [new] if new is not None else []

    def _phrase_plan(self, terms, k: int) -> tuple[DataFrame, DataFrame]:
        """Exact phrase top-k over this shard's positional index: the
        idf-free top-k (doc_id, _partial, phrase_tf) and the 1-row count
        of matching docs (phrase_df). The engine attaches the idf of
        the phrase's collection-wide df. A phrase occurrence is a run of
        the phrase's terms at consecutive positions of the POST-pipeline
        token sequence (stopwords removed, stems applied) — the standard
        semantics for a stopped/stemmed index.

        ONE positions scan, ONE exchange, all JVM-side: read the phrase
        terms' bucket-pruned positions rows, shift each term's positions
        by its phrase offset (an occurrence at base b means term_i sits
        at b+i; the offset comes from a literal map lookup — no
        broadcast-join of a local relation, which cost an extra exchange
        plus a py4j-built DataFrame per query), and a doc's phrase tf is
        the number of bases covered by ALL terms — ``groupBy(doc_id,
        base)`` + coverage count, no per-term join chain. An explicit
        ``repartition(doc_id)`` feeds BOTH aggregations from the same
        exchange: hashpartitioning(doc_id) satisfies the (doc_id, base)
        clustering requirement too, so the per-base coverage agg and the
        per-doc tf agg run in one stage with no second shuffle (the
        map-side partial agg the repartition skips merges almost
        nothing here — rows with equal (doc_id, base) only arise when
        different terms' positions align, i.e. at actual matches). The
        matched-doc frame is persisted so the phrase-df count and the
        ranking share the scan (two Spark jobs — the broadcast count
        materializes the cache — but the positions pipeline executes
        once). Scoring is BM25 treating the phrase as one pseudo-term:
        idf from the phrase's doc frequency, the usual Q-1/Q-4 quirks
        preserved; ranking happens on the idf-free partial (idf is a
        positive per-query constant) so only the k winners touch the df
        scalar."""
        # resolve the positions frame ONCE per engine (directory listing
        # + schema read are driver-side costs a per-query re-read would
        # pay every time, like postings/doctable in __init__)
        if self._positions_df is None:
            self._positions_df = self.spark.read.parquet(
                os.path.join(self.index_dir, "positions")
            )
        # bucket prune (partition-level) + term IN-list (pushed to the
        # parquet scan — positions files are term-sorted within each
        # bucket, so row-group min/max stats skip everything else; the
        # later element_at null-drop would discard those rows anyway,
        # but only AFTER exploding them)
        pos = self._positions_df.filter(self._bucket_filter(terms)).filter(
            F.col("term").isin(list(set(terms)))
        )
        # term -> ARRAY of phrase offsets as a literal map: a term
        # repeated in the phrase ("big data big") occupies several
        # offsets, and each position row must fan out to all of them —
        # exactly what the old broadcast-join against an (i, term) local
        # relation did, minus that join's extra exchange and the
        # py4j-built DataFrame per query.
        offs: dict[str, list[int]] = {}
        for i, t in enumerate(terms):
            offs.setdefault(t, []).append(i)
        imap = F.create_map(
            *[
                x
                for t, idxs in offs.items()
                for x in (F.lit(t), F.array(*[F.lit(i) for i in idxs]))
            ]
        )
        bases = (
            pos.select(
                "doc_id",
                F.element_at(imap, F.col("term")).alias("_is"),
                F.explode("positions").alias("p"),
                "doc_len",
            )
            .select("*", F.explode("_is").alias("i"))
            .drop("_is")
            .withColumn("base", F.col("p") - F.col("i"))
            .repartition("doc_id")
        )
        # coverage test: base b is a phrase occurrence iff every term
        # index i appears at (doc_id, b). count_distinct(i) would compile
        # to a double aggregate with an extra (doc_id, base, i) exchange;
        # an OR of one-hot bitmasks is a single partial+final agg — same
        # answer, one fewer shuffle on the largest intermediate of the
        # query. (Phrases longer than PHRASE_BITMASK_MAX fall back to
        # count_distinct; the bitmask must fit a signed long.)
        if len(terms) <= self.PHRASE_BITMASK_MAX:
            full = (1 << len(terms)) - 1
            cover = F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), i)")
            ).alias("cover")
            cover_hit = F.col("cover") == full
        else:
            cover = F.count_distinct("i").alias("cover")
            cover_hit = F.col("cover") == len(terms)
        occ = (
            bases.groupBy("doc_id", "base")
            .agg(cover, F.first("doc_len").alias("doc_len"))
            .filter(cover_hit)
        )
        ptf = occ.groupBy("doc_id").agg(
            F.count("*").cast("int").alias("phrase_tf"),
            F.first("doc_len").alias("doc_len"),
        )
        # ONE positions scan. Both remaining consumers — the top-k
        # ranking and the 1-row phrase_df count — read this matched-doc
        # frame; un-persisted, the broadcast count subtree would
        # re-execute the entire match pipeline (the round-3 plan showed
        # two full aggregation chains over the positions scan — 2x the
        # dominant cost at any scale). The frame is the smallest thing
        # worth sharing: 3 numeric columns x |matching docs| rows,
        # spillable. The broadcast job materializes the cache; the main
        # subtree then reads it. Retired on the next phrase query /
        # refresh(), never before the caller can collect.
        from pyspark import StorageLevel

        ptf = ptf.persist(StorageLevel.MEMORY_AND_DISK)
        self._retire_phrase_cache(ptf)
        cfg = self.config
        partial = bm25_partial_expr(
            F.col("phrase_tf"), F.col("doc_len"), self.stats["avgdl"], cfg.k1, cfg.b
        )
        # idf = log10(n_docs / phrase_df) is a per-query POSITIVE
        # constant (phrase_df <= true_docs < n_docs under Q-1
        # inflation), so ranking by the idf-free partial is
        # rank-identical — ties included: equal partial <=> equal final
        # score. Top-k FIRST; the engine then attaches phrase_df (a
        # 1-row count aggregate broadcast-cross-joined — an unbounded
        # Window.partitionBy() would funnel every matching doc through
        # one task) and scales only the k winners. Same bits as scaling
        # pre-top-k: one double multiply, same operand order.
        # doc_len rides in the positions rows: no doctable join — the
        # whole query is scan -> two aggs -> topk
        topk = (
            ptf.select("doc_id", partial.alias("_partial"), "phrase_tf")
            .orderBy(F.desc("_partial"), F.asc("doc_id"))
            .limit(k)
        )
        phrase_df_row = ptf.agg(
            F.count("*").cast("long").alias("phrase_df")
        )
        return topk, phrase_df_row

    # ---------- batch (TestPerformance.java analogue) ----------

    def _batch_plan(
        self, known, stats, scorer: str, mode: str, algo: str, k: int
    ) -> DataFrame:
        """ONE Spark job for a whole query set over this shard: a
        broadcast (query_id, term, idf) table joined against ONE
        bucket-pruned postings scan of the union of query terms, then
        ``groupBy(query_id, doc_id)`` and a per-query window top-k —
        plan size and job count are constant in the number of queries.
        ``known`` holds each query's (query_id, sorted known terms) and
        ``stats`` their df/idf. A term the stats know but this shard's
        lexicon does not simply matches no postings here, and n_q_terms
        stays the query's known-term count, so the conjunctive filter
        is exact on every shard.

        Scores are bit-identical to the single-query path: the per-doc
        sum folds addends in sorted-term order (array_sort on the tiny
        per-doc (term, score) list — <= |query terms| elements), and
        adding coalesce-zeros for absent terms is a float no-op, so the
        two summation orders agree exactly.

        ``algo='maxscore'`` applies each query's metadata-derived theta
        (see _theta_from_blocks) as an exact score pre-filter; results
        are identical to DAAT by construction either way."""
        rows = [
            (qid, t, float(stats[t]["idf"]), len(ts))
            for qid, ts in known
            for t in ts
        ]
        qterms = self.spark.createDataFrame(
            rows, "query_id string, term string, idf double, n_q_terms int"
        )
        union_terms = sorted({r[1] for r in rows})
        cfg = self.config
        partial = (
            bm25_partial_expr(
                F.col("tf"), F.col("doc_len"), self.stats["avgdl"], cfg.k1, cfg.b
            )
            if scorer == "bm25"
            else tfidf_partial_expr(F.col("tf"))
        )
        # the broadcast join filters by term regardless; the In() scan
        # predicate is kept only while the term list is predicate-sized
        scored = (
            self._exploded_postings(
                union_terms,
                term_predicate=len(union_terms) <= self.MAX_TERM_PREDICATE,
            )
            .join(F.broadcast(qterms), "term")
            .withColumn("score", partial * F.col("idf"))
        )
        per = scored.groupBy("query_id", "doc_id").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "score"))),
                F.lit(0.0),
                lambda acc, s: acc + s["score"],
            ).alias("score"),
            F.count("*").alias("n_hit"),
            F.first("n_q_terms").alias("n_q_terms"),
        )
        if mode == "conjunctive":
            per = per.filter(F.col("n_hit") == F.col("n_q_terms"))
        if (
            algo == "maxscore"
            and mode != "conjunctive"
            and len(union_terms) <= self.MAX_TERM_PREDICATE
        ):
            # per-query theta pre-filters (bounded driver reads via the
            # block_summary stage; huge query sets still skip them — the
            # result is exact either way). NEVER under conjunctive mode:
            # theta lower-bounds the k-th DISJUNCTIVE score, achieved by
            # docs that need not contain all query terms, so the k-th
            # CONJUNCTIVE score can sit below it and the filter would
            # drop valid rows — matching search()'s dispatch, which
            # routes conjunctive queries past MaxScore entirely.
            thetas = {
                qid: self._theta_from_blocks(ts, scorer, k)
                for qid, ts in known
            }
            if any(v > 0.0 for v in thetas.values()):
                theta_map = F.create_map(
                    *[F.lit(x) for q, v in thetas.items() for x in (q, v)]
                )
                per = per.filter(
                    F.col("score")
                    >= F.coalesce(
                        F.element_at(theta_map, F.col("query_id")), F.lit(0.0)
                    )
                )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            per.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )


class SearchEngine:
    """Answers queries over an index directory: one shard for a plain
    index, N for a directory holding ``sharded_manifest.json``.

    Each query method is written once over ``shards``. The engine sums
    the query terms' df/cf over the shards, gates the route on that sum,
    fans out to the shards that can contribute, and merges their top-k
    on (key desc, doc_id asc). Per-shard k suffices for global k:
    shards partition the doc_id space, so each member of the global
    top-k ranks within its own shard's top-k under the same total
    order. Scores keep their bits: a shard of a sharded index scores
    with the collection's avgdl/n_docs and the idf of the summed df,
    and every per-doc sum folds its addends in sorted-term order.
    With one shard the merge passes the shard's result through."""

    # auto-engage the driver-local path when the query terms' total df
    # is at most this many postings. The postings themselves are slices
    # of resident buckets (16 B/posting: int64 id + two int32), bounded
    # separately by IndexShard.DRIVER_INDEX_RAM_BYTES; this gate bounds
    # what one query adds on top (float64 tf/doc_len casts, partials,
    # the doc_id union and its scores: ~40 B/posting, tens of MB). The
    # reference answers every interactive query from RAM (Query.java:
    # 62-72; Documentation.pdf Table 3's 16-72 ms are RAM-probe
    # numbers); this is the same trade with an explicit gate — at
    # web scale a stopword-laden query overflows the gate and falls
    # back to the distributed plan, which is the only one that can
    # answer it anyway. Phrase queries gate their total cf (one
    # position int per term occurrence) under the same bound; their
    # positions are read per query, not kept.
    LOCAL_EXEC_MAX_POSTINGS = 2_000_000

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        # None = auto (engage when the query's postings fit the driver
        # gate); True/False force. search(local=...) overrides per call.
        self.local_exec: Optional[bool] = None
        self._open()

    def _open(self) -> None:
        manifest = os.path.join(self.index_dir, MANIFEST)
        if os.path.exists(manifest):
            with open(manifest) as f:
                m = json.load(f)
            dirs = [os.path.join(self.index_dir, d) for d in m["shard_dirs"]]
            global_stats = m["stats"]
        else:
            dirs, global_stats = [self.index_dir], None
        self.resident = ResidentIndex(IndexShard.DRIVER_INDEX_RAM_BYTES)
        self.shards = [
            IndexShard(self.spark, d, self._log10, self.resident, global_stats)
            for d in dirs
        ]
        self.config = self.shards[0].config
        self.stats = self.shards[0].stats
        self.__dict__.pop("doctable", None)
        self._log10_memo: dict[float, float] = {}

    @cached_property
    def doctable(self) -> DataFrame:
        """The union of the shards' doctables (doc_id, docno, ...)."""
        return reduce(DataFrame.unionByName, [s.doctable for s in self.shards])

    def refresh(self) -> None:
        """Re-open the index: drop the resident index data and memo
        caches and re-read the index frames. Call after the index
        directory is updated IN PLACE (e.g. streaming compaction into
        the same dir) — without this, lexicon buckets decoded before the
        update would keep treating newly indexed terms as absent."""
        for shard in self.shards:
            shard._retire_phrase_cache(None)
        self._open()

    def warm(self) -> "SearchEngine":
        """Pin every shard's postings in executor memory
        (IndexShard.warm)."""
        for shard in self.shards:
            shard.warm()
        return self

    @property
    def lexicon(self) -> DataFrame:
        """Full lexicon as a DataFrame (analytics over the dictionary).
        A sharded index has one lexicon per shard, with shard-local df
        and idf: read those as ``shards[i].lexicon``."""
        if len(self.shards) > 1:
            raise ValueError(
                "a sharded index has one lexicon per shard: use shards[i].lexicon"
            )
        return self.shards[0].lexicon

    def tokenize_query(self, text: str) -> list[str]:
        return tokenize_query_py(text, self.config)

    def tokenize_phrase(self, phrase: str) -> list[str]:
        """Phrase tokenization = the DOCUMENT pipeline (order-preserving,
        duplicates kept — a phrase is a token sequence, not a term set),
        truncated to term_dim like every indexed term."""
        return [
            t[: self.config.term_dim]
            for t in tokenize_doc_py(phrase, self.config)
        ]

    # ---------- fan-out plumbing ----------

    def _probe(self, terms: Sequence[str]) -> tuple[dict, list[dict]]:
        """(collection-wide stats of the known terms, each shard's
        lexicon rows). One shard's rows are its lexicon's own, stored
        idf included; over N shards df and cf are exact integer sums
        and idf is recomputed from the summed df. Probes of the
        shards' resident lexicon buckets — no Spark job."""
        per_shard = [s._term_stats(terms) for s in self.shards]
        if len(per_shard) == 1:
            return per_shard[0], per_shard
        stats = {}
        for t in dict.fromkeys(terms):
            rows = [p[t] for p in per_shard if t in p]
            if rows:
                df = sum(r["df"] for r in rows)
                stats[t] = {
                    "df": df,
                    "cf": sum(r["cf"] for r in rows),
                    "idf": self._idf(df),
                }
        return stats, per_shard

    def _log10(self, x: float) -> float:
        """spark_log10(x), memoized by x until refresh(). It serves the
        idf of a df (x = n_docs / df) and the shards' TFIDF partial of
        a tf (x = tf), each distinct argument costing one JVM call."""
        y = self._log10_memo.get(x)
        if y is None:
            y = self._log10_memo[x] = spark_log10(self.spark, x)
        return y

    def _idf(self, df: int) -> float:
        """log10(n_docs / df) with Spark's bits."""
        return self._log10(float(self.stats["n_docs"]) / df)

    def _fan_out(self, terms, stats, per_shard, complete: bool) -> list:
        """(shard, its terms, their stats under the collection idf) for
        every shard whose lexicon holds any of ``terms`` — all of them
        when ``complete``: a conjunction or phrase needs every term in
        one doc, and a doc lives wholly in one shard."""
        work = []
        for shard, rows in zip(self.shards, per_shard):
            ts = [t for t in terms if t in rows]
            if ts and (not complete or len(ts) == len(terms)):
                sub = {t: {**rows[t], "idf": stats[t]["idf"]} for t in ts}
                work.append((shard, ts, sub))
        return work

    def _local_ok(
        self, terms, stats, override: Optional[bool], key: str = "df"
    ) -> bool:
        """The route gate: the driver-local path when forced, or when
        the query terms' summed ``key`` (df for search, cf for phrase)
        fits LOCAL_EXEC_MAX_POSTINGS."""
        if override is False:
            return False
        if override is None and self.local_exec is False:
            return False
        if override or self.local_exec:
            return True
        return (
            sum(stats[t][key] for t in set(terms))
            <= self.LOCAL_EXEC_MAX_POSTINGS
        )

    def add_docno(self, result: DataFrame) -> DataFrame:
        """``result`` (rank, doc_id, score, ...) with each row's docno
        after its doc_id. A driver-held result takes docno from the
        shards' doctable files, decoded and kept in the resident index
        (IndexShard._docnos), and stays driver-held; a Spark result
        joins the doctable, broadcasting the k-row result. A row whose
        doc_id the doctable lacks drops out on both routes, as in an
        inner join."""
        if not isinstance(result, LocalResult):
            rest = [c for c in result.columns if c not in ("rank", "doc_id")]
            return self.doctable.select("doc_id", "docno").join(
                F.broadcast(result), "doc_id"
            ).select("rank", "doc_id", "docno", *rest)
        ddl = result._ddl.replace("doc_id long", "doc_id long, docno string")
        pdf = result._pdf
        if pdf is None or len(pdf) == 0:
            return LocalResult(self.spark, ddl)
        ids = pdf["doc_id"].to_numpy()
        docno: dict[int, str] = {}
        for shard in self.shards:
            docno.update(shard._docnos(ids))
        pdf = pdf[pdf["doc_id"].isin(list(docno))]
        return LocalResult(self.spark, ddl, pdf.assign(docno=pdf["doc_id"].map(docno)))

    @staticmethod
    def _driver_merge(parts: list, key: str, k: int) -> pd.DataFrame:
        """The k best rows of the per-shard top-k frames on (key desc,
        doc_id asc), ranked; one shard's frame passes through."""
        parts = [p for p in parts if len(p)] or parts[:1]
        if len(parts) == 1:
            return parts[0]
        merged = (
            pd.concat(parts, ignore_index=True)
            .sort_values([key, "doc_id"], ascending=[False, True], kind="mergesort")
            .head(k)
        )
        return merged.assign(rank=range(1, len(merged) + 1))

    @staticmethod
    def _spark_merge(
        parts: list, key: str, k: int, by: Optional[str] = None
    ) -> DataFrame:
        """The k best rows (per ``by`` group) of the union of per-shard
        top-k frames on (key desc, doc_id asc), ranked; one shard's
        frame passes through. The per-shard subtrees are independent
        branches of one Spark job."""
        if len(parts) == 1:
            return parts[0]
        union = reduce(DataFrame.unionByName, parts)
        order = (F.desc(key), F.asc("doc_id"))
        if by is None:
            union = union.orderBy(*order).limit(k)
            w = Window.orderBy(*order)
        else:
            w = Window.partitionBy(by).orderBy(*order)
        return union.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    # ---------- public API ----------

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
        """Top-k for a raw query string. Returns (rank, doc_id, score
        [, docno]). k in {10, 20, 100} in the reference UI (Main.java:58);
        any positive k accepted here.

        ``local`` selects the execution path: None (default) auto-gates —
        when the query terms' postings fit the driver RAM gate
        (LOCAL_EXEC_MAX_POSTINGS), score entirely driver-side in numpy
        with NO Spark job (the analogue of the reference's RAM-resident
        interactive query path, Query.java:62-72); beyond the gate, or
        with local=False, the distributed plan runs. Results are
        bit-identical either way (same formulas, same summation order,
        same tie-break).

        The lexicon probe of every route, and the postings the
        driver-local route scores, come from index buckets decoded once
        and kept on the driver (``resident``, see IndexShard): a query
        whose buckets are resident reads no Parquet.

        The driver-local route, and every empty result, returns a
        :class:`LocalResult`: a DataFrame whose collect()/toPandas()/
        count() answer from the driver-held rows with no JVM round
        trip, and which builds a Spark plan only when a caller needs
        one (a join, select, schema, ...). ``with_docno`` on that route
        takes docno from the resident doctable files (add_docno); the
        distributed route joins the doctable.

        Over N > 1 shards ``algo='maxscore'`` runs DAAT (identical
        results — MaxScore only prunes): the persisted per-block maxima
        embed each shard's LOCAL idf, which is not an upper bound under
        the collection idf."""
        validate_query_args(k, mode, scorer, algo)
        if len(self.shards) > 1:
            algo = "daat"
        terms = self.tokenize_query(query)
        stats, per_shard = self._probe(terms)
        terms = [t for t in terms if t in stats]  # drop unknown terms (J5)
        work = self._fan_out(terms, stats, per_shard, mode == "conjunctive")
        if not work:
            result = LocalResult(self.spark, TOPK_SCHEMA)
        elif self._local_ok(terms, stats, local):
            parts = [
                shard._local_topk(ts, sub, scorer, mode, algo, k)
                for shard, ts, sub in work
            ]
            result = LocalResult(
                self.spark, TOPK_SCHEMA, self._driver_merge(parts, "score", k)
            )
        else:
            parts = [
                shard._plan(ts, sub, scorer, mode, algo, k)
                for shard, ts, sub in work
            ]
            result = self._spark_merge(parts, "score", k)
        return self.add_docno(result) if with_docno else result

    def phrase_search(
        self, phrase: str, k: int = 10, local: Optional[bool] = None
    ) -> DataFrame:
        """Exact phrase top-k over the positional index (requires a build
        with ``positions=True``); returns (rank, doc_id, score,
        phrase_tf). Strict semantics: a phrase with any unindexed term
        matches nothing (unlike the disjunctive paths'
        drop-unknown-terms rule — dropping a phrase word would silently
        change the phrase).

        A matching doc lives wholly in one shard, so only shards whose
        lexicon holds every phrase term take part. Shards rank on the
        idf-free partial, a per-doc quantity, so the global top-k is
        in the union of per-shard top-k; the phrase's df is the sum of
        the shards' disjoint matched-doc counts, and its idf scales only
        the k winners. The route gate sums the terms' cf; the
        driver-local route and every empty result return a
        :class:`LocalResult`, as in search()."""
        validate_query_args(k)
        if not os.path.exists(os.path.join(self.shards[0].index_dir, "positions")):
            raise RuntimeError(
                "no positional index: build with EngineConfig(positions=True)"
            )
        terms = self.tokenize_phrase(phrase)
        stats, per_shard = self._probe(terms)
        work = self._fan_out(terms, stats, per_shard, complete=True)
        if not work or any(t not in stats for t in terms):
            return LocalResult(self.spark, PHRASE_SCHEMA)

        if self._local_ok(terms, stats, local, key="cf"):
            parts, phrase_df = [], 0
            for shard, _ts, _sub in work:
                pdf, n = shard._local_phrase(terms, k)
                parts.append(pdf)
                phrase_df += n
            if phrase_df == 0:
                return LocalResult(self.spark, PHRASE_SCHEMA)
            top = self._driver_merge(parts, "partial", k)
            top = top.assign(
                rank=range(1, len(top) + 1),
                score=top["partial"].to_numpy() * self._idf(phrase_df),
            )
            return LocalResult(self.spark, PHRASE_SCHEMA, top)

        plans = [shard._phrase_plan(terms, k) for shard, _ts, _sub in work]
        topk = self._spark_merge([p[0] for p in plans], "_partial", k)
        phrase_df = plans[0][1]
        if len(plans) > 1:
            phrase_df = reduce(
                DataFrame.unionByName, [p[1] for p in plans]
            ).agg(F.sum("phrase_df").cast("long").alias("phrase_df"))
        idf = F.log10(F.lit(float(self.stats["n_docs"])) / F.col("phrase_df"))
        scored = topk.crossJoin(F.broadcast(phrase_df)).select(
            "doc_id", (F.col("_partial") * idf).alias("score"), "phrase_tf"
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return scored.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "score", "phrase_tf"
        )

    def batch_search(
        self,
        queries: Sequence[tuple[str, str]],
        k: int = 10,
        mode: str = "disjunctive",
        scorer: str = "bm25",
        algo: str = "daat",
    ) -> DataFrame:
        """Run (query_id, text) pairs as ONE Spark job; returns a
        TREC-run-shaped DataFrame (query_id, rank, doc_id, score) — S10's
        run-file sink is then just a .write.csv of this.

        The reference evaluates its query set serially
        (TestPerformance.java:58-147); a naive Spark translation (one
        search() plan per query unioned) is a driver bottleneck at 10k
        queries. Instead the whole set becomes data
        (IndexShard._batch_plan): ONE lexicon probe for the union of
        query terms, one batch plan per shard, and a per-query re-rank
        of the unioned per-shard top-k. ``algo='maxscore'`` runs DAAT
        over N > 1 shards, as in search()."""
        validate_query_args(k, mode, scorer, algo)
        if len(self.shards) > 1:
            algo = "daat"
        tokenized = [(qid, self.tokenize_query(text)) for qid, text in queries]
        stats, _ = self._probe(sorted({t for _, ts in tokenized for t in ts}))
        known = [
            (qid, sorted({t for t in ts if t in stats})) for qid, ts in tokenized
        ]
        if not any(ts for _, ts in known):
            return LocalResult(self.spark, BATCH_SCHEMA)
        parts = [
            shard._batch_plan(known, stats, scorer, mode, algo, k)
            for shard in self.shards
        ]
        return self._spark_merge(parts, "score", k, by="query_id")
