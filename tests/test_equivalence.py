"""Equivalence suites — the reference's DAAT-vs-MaxScore intent
(TestPerformance comparisons), extended: DAAT == MaxScore, count-mode ==
range-mode blocks, results invariant to parallelism."""

import pytest

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import build_index
from searchengine_spark.query.engine import SearchEngine

QUERIES = [
    "spark table join fast",
    "window agg",
    "value",
    "customer order line big",
    "slow query scan filter sort merge",
]


def _results(engine, q, **kw):
    return [(r["doc_id"], r["score"]) for r in engine.search(q, k=10, **kw).collect()]


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
def test_daat_equals_maxscore(engine, scorer):
    for q in QUERIES:
        daat = _results(engine, q, scorer=scorer, algo="daat")
        ms = _results(engine, q, scorer=scorer, algo="maxscore")
        assert daat == ms, (q, scorer)


@pytest.fixture(scope="module")
def count_mode_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxb") / "idx")
    cfg = EngineConfig(stopstem=True, skip_threshold=64, block_mode="count",
                       shuffle_partitions=8)
    build_index(spark, corpus, d, cfg)
    return d


def test_block_modes_same_results(spark, engine, count_mode_dir):
    be = SearchEngine(spark, count_mode_dir)
    for q in QUERIES:
        assert _results(engine, q) == _results(be, q), q


@pytest.fixture(scope="module")
def lowpar_dir(spark, corpus, tmp_path_factory):
    """Same build at 1/4 the shuffle parallelism — the N-vs-4N
    rank-identity leg of the scaling protocol (BASELINE.md §3)."""
    d = str(tmp_path_factory.mktemp("idxn") / "idx")
    cfg = EngineConfig(stopstem=True, skip_threshold=64, shuffle_partitions=2)
    build_index(spark, corpus, d, cfg)
    return d


def test_parallelism_invariant_results(spark, engine, lowpar_dir):
    le = SearchEngine(spark, lowpar_dir)
    for q in QUERIES:
        assert _results(engine, q) == _results(le, q), q


def test_block_max_pruning_is_active_and_safe(engine):
    """The MaxScore candidate generator must PRUNE blocks when theta is
    high (not merely stay correct): with an artificially raised theta the
    candidate set shrinks, and with theta=0 it equals the full essential
    union. Safety (rank-identity) is covered by test_daat_equals_maxscore;
    this pins that the pruning predicate actually fires."""
    terms = engine.tokenize_query("spark table join fast")
    stats = engine.shards[0]._term_stats(terms)
    terms = [t for t in terms if t in stats]
    assert len(terms) >= 2
    total_ub = sum(stats[t]["max_bm25"] for t in terms)

    full = engine.shards[0]._candidates_block_max(
        terms, stats, "bm25", theta=0.0, total_ub=total_ub
    ).count()
    # theta just under the max possible score: only blocks whose max can
    # still reach it survive
    tight = engine.shards[0]._candidates_block_max(
        terms, stats, "bm25", theta=total_ub * 0.999, total_ub=total_ub
    ).count()
    assert full > 0
    assert tight < full, (tight, full)
