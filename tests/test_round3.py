"""Round-3 behaviors: block_summary-backed theta, in-row doc_lens (no
doctable join in the query plan), batch conjunctive+maxscore
parity, phrase schema stability, streaming positional segments, and the
event_time-aware latest_only compaction tie-break."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import THETA_TOPK, build_index
from searchengine_spark.query.engine import SearchEngine
from searchengine_spark.streaming.incremental import StreamingIndexer, stream_corpus

from .conftest import TEST_CONFIG


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


# ---------- block_summary stage ----------


def test_block_summary_rows_match_lexicon(spark, engine, index_dir):
    summ = spark.read.parquet(f"{index_dir}/block_summary")
    assert summ.count() == engine.lexicon.count()
    joined = summ.join(engine.lexicon.select("term", "df"), "term")
    for row in joined.orderBy(F.desc("df")).limit(5).collect():
        assert len(row["top_post_bm25"]) == min(row["df"], THETA_TOPK)
        # arrays are sorted descending
        arr = row["top_post_bm25"]
        assert arr == sorted(arr, reverse=True)


def test_theta_from_summary_matches_posting_scores(engine):
    """The bounded O(|terms|*K) summary read must produce EXACTLY the
    k-th largest single-posting score over the query terms (computed
    here brute-force from the exploded postings), and must DOMINATE the
    r2-era block-max bound (each block max is one posting's score)."""
    terms = engine.tokenize_query("spark table join fast value")
    stats = engine.shards[0]._term_stats(terms)
    terms = [t for t in terms if t in stats]
    for scorer in ("bm25", "tfidf"):
        scored = (
            engine.shards[0]._scored(terms, stats, scorer)
            .select("term", "score")
            .collect()
        )
        by_term: dict[str, list[float]] = {}
        for r in scored:
            by_term.setdefault(r["term"], []).append(r["score"])
        bm_key = "block_max_bm25" if scorer == "bm25" else "block_max_tfidf"
        for k in (10, 20, 100):
            via_summary = engine.shards[0]._theta_from_blocks(terms, scorer, k)
            brute = 0.0
            for t, scores in by_term.items():
                if len(scores) >= k:
                    brute = max(brute, sorted(scores, reverse=True)[k - 1])
            assert via_summary == pytest.approx(brute, abs=1e-12), (scorer, k)
            legacy = 0.0
            for t, blocks in engine.shards[0]._block_maxima(terms).items():
                if len(blocks) >= k:
                    kth = sorted((b[bm_key] for b in blocks), reverse=True)[k - 1]
                    legacy = max(legacy, kth)
            assert via_summary >= legacy - 1e-12, (scorer, k)


def test_theta_read_is_bounded(engine):
    """The summary probe returns at most THETA_TOPK scores per term no
    matter how long the posting list is."""
    terms = engine.tokenize_query("spark table join fast")
    summary = engine.shards[0]._block_summary(terms)
    assert summary, "block_summary stage missing from the test index"
    for t, row in summary.items():
        assert len(row["top_post_bm25"]) <= THETA_TOPK
        assert len(row["top_post_tfidf"]) <= THETA_TOPK


# ---------- in-row doc_lens: no doctable join ----------


def test_query_plan_has_no_doctable_join(engine):
    plan = engine.search("spark table join fast", k=10, local=False)._jdf \
        .queryExecution().executedPlan().toString()
    assert "doctable" not in plan, "query still joins the doctable"


def test_exploded_postings_emit_doc_len(engine):
    terms = engine.tokenize_query("spark table")
    exploded = engine.shards[0]._exploded_postings(terms)
    assert "doc_len" in exploded.columns
    row = exploded.limit(1).collect()[0]
    assert row["doc_len"] > 0


# ---------- batch conjunctive + maxscore ----------


def test_batch_conjunctive_maxscore_matches_daat(engine):
    """algo='maxscore' under mode='conjunctive' must NOT apply the
    disjunctive theta pre-filter (it can sit above the conjunctive k-th
    score): results must equal the conjunctive DAAT batch exactly."""
    qs = [
        ("c1", "table value row"),
        ("c2", "spark table join fast"),
        ("c3", "window agg"),
    ]
    daat = engine.batch_search(qs, k=10, mode="conjunctive", algo="daat") \
        .orderBy("query_id", "rank").collect()
    ms = engine.batch_search(qs, k=10, mode="conjunctive", algo="maxscore") \
        .orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in daat] == [tuple(r) for r in ms]
    # and the conjunctive batch equals the single-query conjunctive path
    for qid, text in qs:
        single = engine.search(text, k=10, mode="conjunctive").collect()
        batch_rows = [r for r in daat if r["query_id"] == qid]
        assert [(r["rank"], r["doc_id"], r["score"]) for r in single] == [
            (r["rank"], r["doc_id"], r["score"]) for r in batch_rows
        ], qid


# ---------- phrase schema stability ----------


def test_phrase_schema_identical_matched_vs_empty(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxp3") / "idx")
    cfg = EngineConfig(stopstem=True, skip_threshold=64, shuffle_partitions=8,
                       positions=True)
    build_index(spark, corpus, d, cfg)
    eng = SearchEngine(spark, d)
    hit = eng.phrase_search("merge column", k=10)
    miss = eng.phrase_search("zzzznotaword qqqqnotaword", k=10)
    # same names and TYPES both ways (nullability may differ; unions and
    # comparisons only need name/type agreement — the r2 bug was
    # phrase_tf long-vs-int depending on whether the phrase matched)
    assert [(f.name, f.dataType) for f in hit.schema] == [
        (f.name, f.dataType) for f in miss.schema
    ]
    assert hit.unionByName(miss).count() == hit.count()


# ---------- streaming positional segments ----------


def test_streaming_compact_with_positions_answers_phrase(
    spark, corpus, tmp_path
):
    cfg = EngineConfig(stopstem=True, skip_threshold=64, shuffle_partitions=8,
                       positions=True)
    input_dir = str(tmp_path / "input")
    corpus.repartition(4).write.parquet(input_dir)
    idx_dir = str(tmp_path / "sidx")
    indexer = StreamingIndexer(spark, idx_dir, cfg)
    q = indexer.start(stream_corpus(spark, input_dir, max_files_per_trigger=2))
    q.awaitTermination(300)
    indexer.compact()
    # doc_ids differ between streamed (per-batch offset) and batch
    # (global natural-key) assignment — compare by docno at k=100 (all
    # matching docs at this corpus size) so tie-order can't flake
    def by_docno(eng):
        res = eng.phrase_search("merge column", k=100)
        rows = eng.doctable.select("doc_id", "docno").join(
            res, "doc_id"
        ).collect()
        return {(r["docno"], r["score"], r["phrase_tf"]) for r in rows}

    se = SearchEngine(spark, f"{idx_dir}/compacted")
    got = by_docno(se)
    # must match the batch-built positional index exactly
    d = str(tmp_path / "bidx")
    build_index(spark, corpus, d, cfg)
    be = SearchEngine(spark, d)
    want = by_docno(be)
    assert got == want
    assert len(got) > 0


def test_compact_positions_without_segments_raises(spark, corpus, tmp_path):
    """Segments ingested WITHOUT positions + a positions-enabled compact
    must fail with a clear error, not crash in the batch builder."""
    input_dir = str(tmp_path / "input")
    corpus.limit(50).write.parquet(input_dir)
    idx_dir = str(tmp_path / "sidx")
    indexer = StreamingIndexer(spark, idx_dir, TEST_CONFIG)  # no positions
    q = indexer.start(stream_corpus(spark, input_dir))
    q.awaitTermination(300)
    pos_cfg = EngineConfig(stopstem=True, skip_threshold=64,
                           shuffle_partitions=8, positions=True)
    pos_indexer = StreamingIndexer(spark, idx_dir, pos_cfg)
    with pytest.raises(RuntimeError, match="no positions"):
        pos_indexer.compact(out_dir=str(tmp_path / "out"))


# ---------- latest_only event_time tie-break ----------


def test_compact_latest_only_event_time_breaks_within_batch_ties(
    spark, tmp_path
):
    """Two commits of the same file in ONE micro-batch: the event_time
    column must decide the winner — even when commit-hash (and therefore
    doc_id) order says otherwise."""
    import datetime as dt

    rows = [
        # zzz-commit sorts LAST by natural key (higher doc_id) but is the
        # OLDER ingest; aaa-commit is newer by event_time
        ("r1", "f.py", "zzz", "py", "old content here",
         dt.datetime(2026, 1, 1, 10, 0, 0)),
        ("r1", "f.py", "aaa", "py", "new content here",
         dt.datetime(2026, 1, 2, 10, 0, 0)),
        ("r1", "g.py", "c1", "py", "stable file", dt.datetime(2026, 1, 1)),
    ]
    input_dir = str(tmp_path / "input")
    spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, event_time timestamp",
    ).coalesce(1).write.parquet(input_dir)

    idx_dir = str(tmp_path / "sidx")
    indexer = StreamingIndexer(spark, idx_dir, TEST_CONFIG)
    q = indexer.start(
        stream_corpus(spark, input_dir, with_event_time=True)
    )
    q.awaitTermination(300)
    indexer.compact(latest_only=True)
    doct = spark.read.parquet(f"{idx_dir}/compacted/doctable")
    kept = {r["commit"] for r in doct.collect()}
    assert kept == {"aaa", "c1"}, kept
    # without event_time, doc_id (= commit lexicographic) order decides:
    # deterministic fallback keeps zzz
    idx2 = str(tmp_path / "sidx2")
    indexer2 = StreamingIndexer(spark, idx2, TEST_CONFIG)
    q2 = indexer2.start(stream_corpus(spark, input_dir))
    q2.awaitTermination(300)
    indexer2.compact(latest_only=True)
    doct2 = spark.read.parquet(f"{idx2}/compacted/doctable")
    assert {r["commit"] for r in doct2.collect()} == {"zzz", "c1"}
