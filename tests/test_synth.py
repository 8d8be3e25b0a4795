"""Deterministic Zipfian corpus generator + the MaxScore pruning regime
it exists to exercise (a rare discriminative term + frequent terms —
the TREC-query shape the reference's MaxScore numbers come from,
Documentation.pdf §4.2.1)."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import build_index
from searchengine_spark.query.engine import SearchEngine
from searchengine_spark.sources.synth import (
    mixed_selectivity_queries,
    zipf_corpus,
)


@pytest.fixture(scope="module")
def zipf(spark):
    return zipf_corpus(
        spark, 2000, vocab_size=3000, avg_tokens=40, seed=11
    ).persist()


def test_zipf_schema_and_counts(zipf):
    assert zipf.columns == ["repo", "path", "commit", "lang", "content"]
    assert zipf.count() == 2000
    # paths unique, lexicographic order == doc order
    assert zipf.select("path").distinct().count() == 2000


def test_zipf_deterministic(spark, zipf):
    """Same params -> bit-identical corpus, independent of partitioning."""
    again = zipf_corpus(
        spark, 2000, vocab_size=3000, avg_tokens=40, seed=11, num_partitions=3
    )
    a = zipf.select(F.sha2(F.concat_ws("|", "path", "content"), 256).alias("h"))
    b = again.select(F.sha2(F.concat_ws("|", "path", "content"), 256).alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # different seed -> different corpus
    other = zipf_corpus(spark, 2000, vocab_size=3000, avg_tokens=40, seed=12)
    assert a.exceptAll(
        other.select(F.sha2(F.concat_ws("|", "path", "content"), 256).alias("h"))
    ).count() > 0


def test_zipf_is_zipfian(zipf):
    """Rank-1 term must dominate; tail terms must be rare — the df skew
    that gives MaxScore separation between upper bounds."""
    tok = zipf.select(F.explode(F.split("content", " ")).alias("t"))
    counts = {
        r["t"]: r["c"]
        for r in tok.groupBy("t").agg(F.count("*").alias("c")).collect()
    }
    assert counts["t1"] > 10 * counts.get("t100", 1)
    assert counts["t1"] > 100 * counts.get("t2000", 1)


def test_mixed_selectivity_queries_deterministic():
    lex = [(f"t{i}", 1000 - i) for i in range(1, 1001)]
    a = mixed_selectivity_queries(lex, 8)
    b = mixed_selectivity_queries(list(reversed(lex)), 8)
    assert a == b  # order of the input rows must not matter
    assert len(a) == 8
    rares = [q.split()[0] for q in a]
    assert len(set(rares)) == len(rares)  # distinct rare terms


@pytest.fixture(scope="module")
def zipf_engine(spark, zipf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("zidx") / "idx")
    cfg = EngineConfig(stopstem=True, skip_threshold=16, shuffle_partitions=8)
    build_index(spark, zipf, d, cfg)
    return SearchEngine(spark, d)


def test_range_prune_engages_and_is_exact(zipf_engine):
    """A rare+common query must actually take the candidate-directed
    (nextGEQ) path — and return exactly DAAT's top-k."""
    eng = zipf_engine
    # the savings gate would (correctly) skip candidate pruning on a
    # corpus this small — force it so the path itself stays pinned
    # (instance attribute, restored in the finally below: the fixture is
    # shared, so a leaked override would change later tests' paths)
    eng.shards[0].PRUNE_MIN_POSTINGS = 0
    try:
        lex = [
            (r["term"], r["df"])
            for r in eng.lexicon.select("term", "df").collect()
        ]
        rare = min((r for r in lex if r[1] >= 12), key=lambda r: (r[1], r[0]))[0]
        common = max(lex, key=lambda r: (r[1], r[0]))[0]
        q = f"{rare} {common}"
        terms = [t for t in eng.tokenize_query(q)]
        stats = eng.shards[0]._term_stats(terms)
        terms = [t for t in terms if t in stats]
        assert len(terms) == 2
        theta = eng.shards[0]._theta_from_blocks(terms, "bm25", 10)
        assert theta > stats[common]["max_bm25"], (
            "theta must exclude the common term"
        )
        plan = eng.shards[0]._maxscore(terms, stats, "bm25", 10)
        ptxt = plan._jdf.queryExecution().executedPlan().toString()
        # literal form: exists() containment over block ranges; DF form:
        # broadcast range join — either means the scan is
        # candidate-directed
        assert "exists(" in ptxt or "BroadcastNestedLoopJoin" in ptxt, (
            "range prune did not engage"
        )
        got = [(r["doc_id"], r["score"]) for r in plan.collect()]
        want = [
            (r["doc_id"], r["score"])
            for r in eng.shards[0]._daat(terms, stats, "bm25", 10).collect()
        ]
        assert got == want
    finally:
        del eng.shards[0].PRUNE_MIN_POSTINGS  # restore the class default


def test_maxscore_equals_daat_on_mixed_queries(zipf_engine):
    eng = zipf_engine
    lex = [(r["term"], r["df"]) for r in eng.lexicon.select("term", "df").collect()]
    for q in mixed_selectivity_queries(lex, 4):
        a = [(r["doc_id"], round(r["score"], 9)) for r in eng.search(q, k=10).collect()]
        b = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, k=10, algo="maxscore").collect()
        ]
        assert a == b, q
