"""Sharded index + scatter-gather query: per-shard top-k merged under
the global (score desc, doc_id asc) order must reproduce the
single-index results bit for bit, across shard counts, modes, and both
merge paths (driver-local and distributed union)."""

import argparse
import json
import os

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.sharded import (
    MANIFEST,
    ShardedSearchEngine,
    build_sharded_index,
)
from searchengine_spark.query.engine import LocalResult, SearchEngine
from tests.conftest import (
    TEST_CONFIG,
    assert_local_equals_distributed_cold_and_warm,
    assert_warm_queries_read_no_parquet,
    exact_rows,
)

QUERIES = [
    "spark table join fast",
    "window agg customer stream",
    "hash join broadcast skew",
    "fast merge batch sort",
    "row",
    "the and of",
]


@pytest.fixture(scope="module")
def single(spark, index_dir):
    return SearchEngine(spark, index_dir)


@pytest.fixture(scope="module", params=[2, 3])
def sharded(request, spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sharded") / f"n{request.param}")
    build_sharded_index(spark, corpus, d, request.param, TEST_CONFIG)
    return ShardedSearchEngine(spark, d)


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_sharded_equals_single_index(single, sharded, mode):
    for q in QUERIES:
        want = _rows(single.search(q, k=10, mode=mode, local=False))
        assert _rows(sharded.search(q, k=10, mode=mode)) == want, (q, mode)
        assert (
            _rows(sharded.search(q, k=10, mode=mode, local=False)) == want
        ), (q, mode, "distributed merge")


def test_sharded_k100(single, sharded):
    q = QUERIES[0]
    want = _rows(single.search(q, k=100, local=False))
    assert len(want) > 10
    assert _rows(sharded.search(q, k=100)) == want


def test_global_stats_exact(single, sharded):
    assert sharded.stats["n_docs"] == single.stats["n_docs"]
    assert sharded.stats["tot_doc_len"] == single.stats["tot_doc_len"]
    assert sharded.stats["avgdl"] == single.stats["avgdl"]


def test_shards_partition_global_doc_ids(spark, single, sharded):
    """Shards carry GLOBAL doc_ids: their doctables partition the
    single index's doc_id set exactly, and the per-row sha256 invariant
    survives the slicing."""
    single_doct = spark.read.parquet(
        os.path.join(single.index_dir, "doctable")
    ).select("doc_id", "sha256")
    parts = [
        spark.read.parquet(os.path.join(e.index_dir, "doctable")).select(
            "doc_id", "sha256"
        )
        for e in sharded.shards
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    assert union.count() == single_doct.count()
    assert union.join(single_doct, ["doc_id", "sha256"]).count() == (
        single_doct.count()
    )


def test_sharded_build_is_resumable(spark, corpus, sharded):
    """Re-running the build with resume=True skips every stage of every
    shard (per-shard manifests record completion) and reproduces the
    same global manifest."""
    base = sharded.index_dir
    with open(os.path.join(base, MANIFEST)) as f:
        before = json.load(f)
    rep = build_sharded_index(
        spark, corpus, base, before["n_shards"], TEST_CONFIG, resume=True
    )
    assert rep["manifest"] == before


def test_unknown_and_empty_queries(sharded):
    assert _rows(sharded.search("zzzunknownzzz", k=10)) == []
    assert _rows(sharded.search("the and of", k=10)) == []


def test_cli_open_engine_autodetects_sharded(spark, sharded, index_dir):
    """`query`/`repl`/`batch` open any index directory with SearchEngine:
    a plain index is one shard, a sharded manifest on disk makes it N;
    the repl prompt loop (with_docno + algo paths) runs unchanged over
    the sharded engine."""
    import io

    from searchengine_spark.__main__ import run_repl

    assert len(SearchEngine(spark, index_dir).shards) == 1
    eng = SearchEngine(spark, sharded.index_dir).warm()
    assert len(eng.shards) == len(sharded.shards) > 1
    assert eng.doctable.count() == SearchEngine(spark, index_dir).doctable.count()

    out = io.StringIO()
    run_repl(
        eng,
        io.StringIO("spark table\nd\nb\nm\n10\nx\n"),
        out,
    )
    text = out.getvalue()
    assert "SEARCH ENGINE" in text
    # at least one ranked result line got printed
    assert any(line.strip().startswith("1 ") for line in text.splitlines())


def test_sharded_phrase_requires_positions(sharded):
    with pytest.raises(RuntimeError, match="positional index"):
        sharded.phrase_search("spark table")


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_sharded_batch_equals_single(single, sharded, mode):
    """Scatter-gather batch (ONE job per shard, global idf + global
    known-term sets injected) must reproduce the single-index batch
    rows exactly across the whole query set."""
    qs = [(f"q{i}", q) for i, q in enumerate(QUERIES)]

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in df.collect()
        )

    want = rows(single.batch_search(qs, k=10, mode=mode))
    assert rows(sharded.batch_search(qs, k=10, mode=mode)) == want


TINY_DOCS = [
    ("r", "a", "c1", "t", "alpha beta"),
    ("r", "b", "c2", "t", "gamma delta"),
    ("r", "c", "c3", "t", "alpha delta"),
]


@pytest.fixture(scope="module")
def tiny_sharded(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sharded_tiny") / "n2")
    corpus = spark.createDataFrame(
        TINY_DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_sharded_index(spark, corpus, d, 2, TEST_CONFIG)
    return ShardedSearchEngine(spark, d)


@pytest.mark.parametrize("local", [True, False])
def test_empty_result_keeps_docno_column(tiny_sharded, local):
    """Both terms are indexed but no doc holds both: the conjunctive
    result is empty, and with_docno still yields the docno column."""
    res = tiny_sharded.search(
        "beta gamma", k=10, mode="conjunctive", with_docno=True, local=local
    )
    assert res.columns == ["rank", "doc_id", "docno", "score"]
    assert res.collect() == []


BAD_ARGS = [
    {"k": 0},
    {"k": -1},
    {"k": 2.5},
    {"mode": "conj"},
    {"scorer": "BM25"},
    {"algo": "wand"},
]


@pytest.mark.parametrize("bad", BAD_ARGS, ids=lambda b: "-".join(map(str, *b.items())))
def test_invalid_query_args_raise_on_every_route(single, tiny_sharded, bad):
    """One check, one ValueError, on the local, distributed, batch and
    sharded routes — never a silent fallback to another mode/scorer."""
    kw = {"k": 10, **bad}
    calls = [
        lambda: single.search("spark table", local=True, **kw),
        lambda: single.search("spark table", local=False, **kw),
        lambda: single.batch_search([("q1", "spark table")], **kw),
        lambda: tiny_sharded.search("alpha", local=True, **kw),
        lambda: tiny_sharded.search("alpha", local=False, **kw),
        lambda: tiny_sharded.batch_search([("q1", "alpha")], **kw),
    ]
    if set(bad) == {"k"}:
        calls += [
            lambda: single.phrase_search("spark table", k=kw["k"]),
            lambda: tiny_sharded.phrase_search("alpha beta", k=kw["k"]),
        ]
    messages = set()
    for call in calls:
        with pytest.raises(ValueError) as err:
            call()
        messages.add(str(err.value))
    assert len(messages) == 1, messages


def test_idf_helper_equals_spark_log10(spark):
    """The driver-side idf of a sharded index (summed df) must carry the
    bits Spark's F.log10 gives the single-index build: sweep df over
    1..5,000 at n_docs = 20,001, where Python's math.log10 differs."""
    from searchengine_spark.query.engine import spark_log10

    n_docs = 20_001
    want = [
        r["idf"]
        for r in spark.range(1, 5_001)
        .select(
            F.log10(F.lit(float(n_docs)) / F.col("id").cast("double")).alias(
                "idf"
            )
        )
        .orderBy("id")
        .collect()
    ]
    got = [spark_log10(spark, float(n_docs) / df) for df in range(1, 5_001)]
    assert got == want


PHRASES = [
    "spark table",
    "table join",
    "join fast",
    "hash join broadcast",
    "window agg",
    "spark zzzunknownzzz",
    "",
]


@pytest.fixture(scope="module")
def positions_pair(spark, corpus, tmp_path_factory):
    """(single index, 2-shard index), both built with positions."""
    from dataclasses import replace

    from searchengine_spark.index.builder import build_index

    cfg = replace(TEST_CONFIG, positions=True)
    base = tmp_path_factory.mktemp("sharded_pos")
    build_index(spark, corpus, str(base / "single"), cfg)
    build_sharded_index(spark, corpus, str(base / "n2"), 2, cfg)
    return (
        SearchEngine(spark, str(base / "single")),
        SearchEngine(spark, str(base / "n2")),
    )


@pytest.mark.parametrize("local", [True, False])
def test_sharded_phrase_equals_single_on_positions_index(positions_pair, local):
    """Phrase rows — rank, doc_id, score bits, phrase_tf — over a
    positions-built 2-shard index equal the single positional index's
    distributed plan, through the driver-local merge and the
    distributed union."""
    single, sharded = positions_pair
    matched = 0
    for p in PHRASES:
        want = [r.asDict() for r in single.phrase_search(p, k=10, local=False).collect()]
        got = [r.asDict() for r in sharded.phrase_search(p, k=10, local=local).collect()]
        assert got == want, (p, local)
        matched += bool(want)
    assert matched >= 3


def _raise(*args, **kwargs):
    raise AssertionError("a driver-local result built a Spark plan")


def test_sharded_local_results_need_no_sql_parse(spark, single, sharded, monkeypatch):
    """The driver merge of N shards returns a LocalResult: with
    spark.sql and spark.createDataFrame unusable it still collects the
    single index's distributed rows (docno and empty results too), and
    it still works as a DataFrame."""
    calls = [
        dict(query=QUERIES[0]),
        dict(query=QUERIES[1], with_docno=True, k=20),
        dict(query="the and of", with_docno=True),
    ]
    want = [
        sorted(single.search(local=False, **kw).collect(), key=lambda r: r["rank"])
        for kw in calls
    ]
    with monkeypatch.context() as m:
        m.setattr(spark, "sql", _raise)
        m.setattr(spark, "createDataFrame", _raise)
        results = [sharded.search(**kw) for kw in calls]
        for kw, got, rows in zip(calls, results, want):
            assert isinstance(got, LocalResult)
            assert [r.asDict() for r in got.collect()] == [r.asDict() for r in rows], kw
            assert got.count() == len(rows)
    got, ref = results[1], single.search(local=False, **calls[1])
    assert got.dtypes == ref.dtypes
    assert got.toPandas().dtypes.to_dict() == ref.toPandas().dtypes.to_dict()
    joined = got.join(sharded.doctable.select("doc_id", "sha256"), "doc_id")
    assert joined.count() == len(want[1])


def test_local_phrase_needs_no_sql_parse(spark, positions_pair, monkeypatch):
    """Local phrase results — one shard and two — collect the single
    index's distributed phrase rows with spark.sql and
    spark.createDataFrame unusable."""
    single, sharded = positions_pair
    want = {
        p: [r.asDict() for r in single.phrase_search(p, k=10, local=False).collect()]
        for p in PHRASES
    }
    with monkeypatch.context() as m:
        m.setattr(spark, "sql", _raise)
        m.setattr(spark, "createDataFrame", _raise)
        for engine in (single, sharded):
            for p in PHRASES:
                got = engine.phrase_search(p, k=10, local=True)
                assert isinstance(got, LocalResult)
                assert [r.asDict() for r in got.collect()] == want[p], p
    assert any(want.values())


def test_cli_phrase_takes_docno_on_the_driver(spark, positions_pair, spark_jobs, capsys):
    """`query --phrase` on the driver-local route launches 0 Spark jobs:
    docno comes from the same doctable probe as search(with_docno=True),
    and equals the doctable join of the distributed phrase rows."""
    from searchengine_spark.__main__ import cmd_query

    for engine in positions_pair:
        args = argparse.Namespace(
            index=engine.index_dir, text="spark table", k=10, phrase=True,
            conjunctive=False, scorer="bm25", algo="daat", cpus=None,
        )
        with spark_jobs() as jobs:
            cmd_query(args)
        assert jobs == [0]
        lines = capsys.readouterr().out.splitlines()
        rows = engine.doctable.select("doc_id", "docno").join(
            engine.phrase_search("spark table", k=10, local=False), "doc_id"
        ).collect()
        assert lines and lines == [
            f"{r['rank']:>4}  {r['score']:>12.6f}  {r['doc_id']:>10}  {r['docno']}"
            for r in sorted(rows, key=lambda r: r["rank"])
        ]


# ---------- resident index over N shards ----------


def test_sharded_resident_bit_identical_cold_and_warm(sharded):
    assert_local_equals_distributed_cold_and_warm(sharded, QUERIES)


def test_sharded_warm_query_reads_no_parquet_and_runs_no_job(
    spark, sharded, tmp_path, spark_jobs, monkeypatch
):
    assert_warm_queries_read_no_parquet(
        spark, sharded.index_dir, tmp_path, QUERIES[:4], spark_jobs, monkeypatch
    )


def test_driver_docno_equals_broadcast_join(single, sharded):
    """add_docno from the resident doctable files gives the rows of the
    doctable broadcast join, on one shard and on N."""
    for engine in (single, sharded):
        for q in QUERIES:
            for k in (10, 100):
                local = engine.search(q, k=k, local=True)
                dist = engine.search(q, k=k, local=False)
                assert isinstance(engine.add_docno(local), LocalResult)
                assert exact_rows(engine.add_docno(local)) == exact_rows(
                    engine.add_docno(dist)
                ), (q, k)
    # one LRU per engine, summed over its shards
    keys = {key[0] for key in sharded.resident._lru}
    assert keys == {s.index_dir for s in sharded.shards}
