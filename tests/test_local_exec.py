"""Driver-local fast path (VERDICT r4 "Next round" #3): under the RAM
gate, search() scores entirely driver-side in numpy with NO Spark job —
results must be BIT-IDENTICAL to the distributed plan on every
(mode, algo, scorer) combination."""

import struct

import pytest

from searchengine_spark.query.engine import SearchEngine

QUERIES = [
    "spark table join fast",
    "window agg customer stream",
    "hash join broadcast skew",
    "fast merge batch sort",
    "row",                     # single term
    "the and of",              # pure stopwords -> empty
    "zzzunknownzzz row",       # unknown term dropped
]


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


def _bits(rows):
    return [
        (r["rank"], r["doc_id"], struct.pack("<d", r["score"]))
        for r in rows
    ]


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
@pytest.mark.parametrize("algo", ["daat", "maxscore"])
def test_local_bit_identical_to_distributed(engine, scorer, mode, algo):
    for q in QUERIES:
        a = engine.search(
            q, k=10, mode=mode, scorer=scorer, algo=algo, local=True
        ).collect()
        b = engine.search(
            q, k=10, mode=mode, scorer=scorer, algo=algo, local=False
        ).collect()
        assert _bits(a) == _bits(b), (q, mode, scorer, algo)


def test_local_k100(engine):
    a = engine.search(QUERIES[0], k=100, local=True).collect()
    b = engine.search(QUERIES[0], k=100, local=False).collect()
    assert len(a) > 10
    assert _bits(a) == _bits(b)


def test_auto_gate_engages_and_produces_local_plan(engine):
    """At fixture scale the auto gate must engage, and the returned
    frame must be a LocalRelation — collect() without a Spark job."""
    terms = engine.tokenize_query(QUERIES[0])
    stats = engine.shards[0]._term_stats(terms)
    assert engine._local_ok(terms, stats, None)
    plan = engine.search(QUERIES[0], k=10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "FileScan" not in plan


def test_gate_respects_force_off(engine):
    plan = engine.search(QUERIES[0], k=10, local=False)._jdf \
        .queryExecution().executedPlan().toString()
    assert "FileScan" in plan


def test_gate_respects_engine_default(engine):
    engine.local_exec = False
    try:
        plan = engine.search(QUERIES[0], k=10)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "FileScan" in plan
    finally:
        engine.local_exec = None


def test_gate_overflow_falls_back(engine):
    """Shrink the gate below the query's df sum: auto must choose the
    distributed plan."""
    old = engine.LOCAL_EXEC_MAX_POSTINGS
    engine.LOCAL_EXEC_MAX_POSTINGS = 0
    try:
        plan = engine.search(QUERIES[0], k=10)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "FileScan" in plan
    finally:
        del engine.LOCAL_EXEC_MAX_POSTINGS
        assert engine.LOCAL_EXEC_MAX_POSTINGS == old  # class attr intact
