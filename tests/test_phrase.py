"""Phrase queries over the positional index: adjacency in the
post-pipeline token sequence, stopword transparency, multiplicity,
strict unknown-term semantics, and BM25-pseudo-term scoring."""

import math

import pytest

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import build_index
from searchengine_spark.query.engine import SearchEngine

CFG = EngineConfig(
    stopstem=False, stopwords_only=True, positions=True,
    skip_threshold=64, shuffle_partitions=4,
)

DOCS = [
    # (repo, path, commit, lang, content)
    ("r", "d1", "c1", "t", "spark fast join engine"),       # phrase once
    ("r", "d2", "c2", "t", "fast table join"),              # not adjacent
    ("r", "d3", "c3", "t", "the fast of join"),             # stopwords between
    ("r", "d4", "c4", "t", "fast join fast join"),          # twice
    ("r", "d5", "c5", "t", "join fast"),                    # wrong order
]


@pytest.fixture(scope="module")
def phrase_engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pidx") / "idx")
    corpus = spark.createDataFrame(
        DOCS, "repo string, path string, commit string, lang string, content string"
    )
    build_index(spark, corpus, d, CFG)
    return SearchEngine(spark, d)


def _hits(engine, phrase, k=10):
    return {
        r["doc_id"]: r["phrase_tf"]
        for r in engine.phrase_search(phrase, k=k).collect()
    }


def test_phrase_adjacency_and_stopword_transparency(phrase_engine, spark):
    doct = {
        r["path"]: r["doc_id"]
        for r in spark.read.parquet(
            f"{phrase_engine.index_dir}/doctable"
        ).collect()
    }
    hits = _hits(phrase_engine, "fast join")
    # d1: adjacent; d3: adjacent AFTER stopword removal; d4: twice;
    # d2 (word between) and d5 (wrong order) must NOT match
    assert hits == {doct["d1"]: 1, doct["d3"]: 1, doct["d4"]: 2}


def test_phrase_unknown_word_strict(phrase_engine):
    assert _hits(phrase_engine, "fast zeppelin") == {}
    assert _hits(phrase_engine, "") == {}


def test_phrase_ranking_and_score(phrase_engine):
    rows = phrase_engine.phrase_search("fast join", k=10).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3]
    # tf=2 in the shortest doc outranks the single occurrences
    assert rows[0]["phrase_tf"] == 2
    # score formula: bm25 partial (Q-4, no k1+1) x log10(n_docs/df);
    # doc d4: tf=2, doc_len=4; stats over 5 docs (Q-1: n_docs=6)
    st = phrase_engine.stats
    tf, dl, df = 2, 4, 3
    want = (tf / (1.2 * (0.25 + 0.75 * dl / st["avgdl"]) + tf)) * math.log10(
        st["n_docs"] / df
    )
    assert rows[0]["score"] == pytest.approx(want, rel=1e-12)


def test_phrase_requires_positions(spark, index_dir):
    eng = SearchEngine(spark, index_dir)  # built without positions
    with pytest.raises(RuntimeError, match="positional index"):
        eng.phrase_search("spark table")


def test_phrase_bitmask_equals_count_distinct_fallback(phrase_engine):
    """The one-pass bit_or coverage (len(terms) <= PHRASE_BITMASK_MAX)
    and the count_distinct fallback (longer phrases) must rank and
    score identically — pin it by forcing the fallback on the same
    queries."""
    phrases = ["fast join", "fast of join", "fast join fast"]
    want = [
        [r.asDict() for r in phrase_engine.phrase_search(p, k=10).collect()]
        for p in phrases
    ]
    old = phrase_engine.shards[0].PHRASE_BITMASK_MAX
    phrase_engine.shards[0].PHRASE_BITMASK_MAX = 0  # force count_distinct path
    try:
        got = [
            [r.asDict() for r in phrase_engine.phrase_search(p, k=10).collect()]
            for p in phrases
        ]
    finally:
        phrase_engine.shards[0].PHRASE_BITMASK_MAX = old
    assert got == want


def test_phrase_local_equals_distributed(phrase_engine):
    """The driver-local phrase fast path (round 5) must return rows
    IDENTICAL to the distributed plan — rank, doc_id, score bits,
    phrase_tf — including repeated-term phrases and non-matching/unknown
    phrases."""
    eng = phrase_engine
    phrases = [
        "fast join", "fast of join", "fast join fast", "spark fast",
        "join", "fast zeppelin", "",
    ]
    for p in phrases:
        dist = [
            r.asDict()
            for r in eng.phrase_search(p, k=10, local=False).collect()
        ]
        loc = [
            r.asDict()
            for r in eng.phrase_search(p, k=10, local=True).collect()
        ]
        assert loc == dist, p


def test_phrase_auto_gate_routes_local(phrase_engine):
    """At this corpus size the cf gate auto-routes phrase queries
    through the local path (no Spark job): pin by forcing the gate shut
    and checking both answers still agree (the auto answer must equal
    the forced-distributed answer regardless of routing)."""
    auto = [
        r.asDict() for r in phrase_engine.phrase_search("fast join").collect()
    ]
    dist = [
        r.asDict()
        for r in phrase_engine.phrase_search("fast join", local=False).collect()
    ]
    assert auto == dist


@pytest.fixture(scope="module")
def sharded_phrase(spark, tmp_path_factory):
    from searchengine_spark.index.sharded import (
        ShardedSearchEngine,
        build_sharded_index,
    )

    d = str(tmp_path_factory.mktemp("pidx_sh") / "idx")
    corpus = spark.createDataFrame(
        DOCS, "repo string, path string, commit string, lang string, content string"
    )
    build_sharded_index(spark, corpus, d, 2, CFG)
    return ShardedSearchEngine(spark, d)


@pytest.mark.parametrize("local", [True, False, None])
def test_sharded_phrase_equals_single(phrase_engine, sharded_phrase, local):
    """Scatter-gather phrase results — rank, doc_id, score bits,
    phrase_tf — must equal the single positional index on every phrase,
    through the driver-local merge, the distributed union, and the auto
    gate."""
    phrases = [
        "fast join", "fast of join", "fast join fast", "spark fast",
        "join", "fast zeppelin", "",
    ]
    for p in phrases:
        want = [
            r.asDict()
            for r in phrase_engine.phrase_search(p, k=10, local=False).collect()
        ]
        got = [
            r.asDict()
            for r in sharded_phrase.phrase_search(p, k=10, local=local).collect()
        ]
        assert got == want, (p, local)
