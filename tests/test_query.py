"""Query engine vs brute-force oracle: exact score parity, tie-breaks,
conjunctive semantics, unknown/empty-term handling."""

import pytest

from searchengine_spark.query.engine import SearchEngine

from .conftest import TEST_CONFIG
from .oracle import BruteForceOracle

QUERIES = [
    "spark table join fast",
    "window agg",
    "customer order line",
    "the big slow query",          # stopword + content mix
    "value",                       # single hot term
    "spark spark spark",           # duplicate terms -> distinct
    "nonexistentterm spark",       # unknown term silently dropped (J5)
    "zzz qqq www",                 # all unknown -> empty result
    "the and of",                  # pure stopwords -> empty result
]


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


@pytest.fixture(scope="module")
def oracle(spark, index_dir, corpus):
    import os

    doct = spark.read.parquet(os.path.join(index_dir, "doctable")).toPandas()
    corp = corpus.toPandas()
    docs = corp.merge(doct[["path", "doc_id"]], on="path")[["doc_id", "content"]]
    return BruteForceOracle(docs, TEST_CONFIG)


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_topk_matches_oracle(engine, oracle, scorer, mode):
    for q in QUERIES:
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(q, k=10, mode=mode, scorer=scorer).collect()
        ]
        want = oracle.search(q, k=10, mode=mode, scorer=scorer)
        assert [d for d, _ in got] == [d for d, _ in want], (q, scorer, mode)
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12), (q, scorer, mode)


def test_k_values(engine, oracle):
    for k in (10, 20, 100):
        got = engine.search("table value row", k=k).collect()
        want = oracle.search("table value row", k=k)
        assert len(got) == min(k, len(want))
        assert [r["doc_id"] for r in got] == [d for d, _ in want]


def test_rank_column(engine):
    rows = engine.search("spark table", k=10).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_with_docno(engine):
    rows = engine.search("spark table", k=5, with_docno=True).collect()
    assert all(r["docno"] and "/" in r["docno"] for r in rows)


def test_batch_search(engine, oracle):
    qs = [("q1", "spark table"), ("q2", "window agg")]
    out = engine.batch_search(qs, k=5)
    pdf = out.toPandas()
    assert set(pdf["query_id"]) == {"q1", "q2"}
    for qid, text in qs:
        got = pdf[pdf.query_id == qid].sort_values("rank")["doc_id"].tolist()
        assert got == [d for d, _ in oracle.search(text, k=5)]


def test_batch_search_bit_identical_to_single(engine):
    """The single-job batch path must reproduce the per-query path's
    scores EXACTLY (same sorted-term summation order), for every mode."""
    qs = [("a", q) for q in QUERIES[:5]]
    qs = [(f"q{i}", q) for i, (_, q) in enumerate(qs)]
    for mode in ("disjunctive", "conjunctive"):
        for algo in ("daat", "maxscore"):
            pdf = (
                engine.batch_search(qs, k=10, mode=mode, algo=algo)
                .toPandas()
                .sort_values(["query_id", "rank"])
            )
            for qid, text in qs:
                single = engine.search(text, k=10, mode=mode).collect()
                got = pdf[pdf.query_id == qid]
                assert got["doc_id"].tolist() == [r["doc_id"] for r in single]
                assert got["score"].tolist() == [r["score"] for r in single]


def test_batch_search_empty_and_unknown(engine):
    out = engine.batch_search([], k=5)
    assert out.count() == 0
    out = engine.batch_search([("q1", "zzz qqq"), ("q2", "spark")], k=5)
    pdf = out.toPandas()
    assert set(pdf["query_id"]) == {"q2"}  # all-unknown query yields no rows


def test_repl_scripted_session(engine, oracle):
    """Scripted-stdin drive of the REPL loop: one disjunctive bm25 DAAT
    query, an invalid-option retry, an empty query, then exit."""
    import io

    from searchengine_spark.__main__ import run_repl

    script = "\n".join(
        [
            "",                   # empty query -> error + retry
            "spark table",        # query text
            "z",                  # invalid type -> re-prompt
            "d",                  # disjunctive
            "b",                  # bm25
            "d",                  # DAAT
            "7",                  # invalid k -> re-prompt
            "10",                 # k
            "x",                  # exit
        ]
    ) + "\n"
    out = io.StringIO()
    run_repl(engine, io.StringIO(script), out)
    text = out.getvalue()
    assert "SEARCH ENGINE" in text
    assert "query is empty" in text
    want = oracle.search("spark table", k=10)
    # every result row printed with rank, score, doc_id
    for rank, (doc_id, score) in enumerate(want, start=1):
        assert f"{rank:>4}  {score:>12.6f}  {doc_id:>10}" in text


def test_maxscore_theta_is_metadata_only_lower_bound(engine, oracle):
    """theta from per-block maxima must lower-bound the k-th true score
    (exactness of the MaxScore pre-filter) and be > 0 for a hot term."""
    q = "value table"
    terms = engine.tokenize_query(q)
    stats = engine.shards[0]._term_stats(terms)
    known = [t for t in terms if t in stats]
    theta = engine.shards[0]._theta_from_blocks(known, "bm25", 10)
    want = oracle.search(q, k=10)
    assert len(want) == 10
    kth = want[-1][1]
    assert 0.0 < theta <= kth + 1e-12
