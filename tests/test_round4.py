"""Round-4 pins: k beyond the stored THETA_TOPK arrays falls back to the
per-block metadata scan and stays DAAT-identical; the block_summary
RAM-load decision is memoized per engine instance; MaxScore's
driver-side candidate read stays DAAT-identical."""

import pytest

from searchengine_spark.index.builder import THETA_TOPK
from searchengine_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


def test_k_beyond_theta_topk_uses_block_max_fallback(engine):
    """k=200 exceeds THETA_TOPK (=100): _theta_from_blocks must skip the
    block_summary arrays (only K entries stored) and reproduce the
    brute-force per-block-metadata bound exactly."""
    assert THETA_TOPK == 100  # the pin below encodes this boundary
    k = 2 * THETA_TOPK
    terms = engine.tokenize_query("spark table join fast value")
    stats = engine.shards[0]._term_stats(terms)
    terms = [t for t in terms if t in stats]
    theta = engine.shards[0]._theta_from_blocks(terms, "bm25", k)
    want = 0.0
    for t, blocks in engine.shards[0]._block_maxima(terms).items():
        if len(blocks) >= k:
            want = max(
                want,
                sorted((b["block_max_bm25"] for b in blocks), reverse=True)[
                    k - 1
                ],
            )
    assert theta == want


def test_k200_maxscore_identical_to_daat(engine):
    """The fallback theta (usually 0 at fixture scale — no term has 200
    skip blocks) must leave MaxScore exact: same rows as DAAT at k=200."""
    q = "spark table join fast value"
    a = [
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in engine.search(q, k=200).collect()
    ]
    b = [
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in engine.search(q, k=200, algo="maxscore").collect()
    ]
    assert a == b
    assert len(a) > 0


def test_block_summary_load_decision_memoized(engine):
    """The full-load decision is computed once per instance: after the
    first probe the flag is set and a repeat probe answers from RAM
    (the ADVICE fix — no per-call directory re-walk)."""
    engine.shards[0]._block_summary(["spark"])
    assert engine.shards[0]._block_summary_should_load is not None
    # fixture-scale summary must take the RAM-resident path
    assert engine.shards[0]._block_summary_should_load is True
    assert engine.shards[0]._block_summary_full is True
    # refresh() resets the decision
    engine.refresh()
    assert engine.shards[0]._block_summary_should_load is None


def test_candidates_driver_path(engine, monkeypatch):
    """The driver-side pyarrow candidate read (_candidates_driver):
    force the range-prune path and check MaxScore == DAAT."""
    calls = []
    real = engine.shards[0]._candidates_driver

    def spy(*args, **kwargs):
        ids = real(*args, **kwargs)
        calls.append(len(ids))
        return ids

    monkeypatch.setattr(engine.shards[0], "_candidates_driver", spy)
    monkeypatch.setattr(engine.shards[0], "PRUNE_MIN_POSTINGS", 0, raising=False)
    q = "dup spark batch"  # one rare term: the essential list is small
    want = [
        (r["rank"], r["doc_id"], r["score"])
        for r in engine.search(q, k=10, local=False).collect()
    ]
    got = [
        (r["rank"], r["doc_id"], r["score"])
        for r in engine.search(q, k=10, algo="maxscore", local=False).collect()
    ]
    assert calls and calls[0] > 0
    assert got == want
