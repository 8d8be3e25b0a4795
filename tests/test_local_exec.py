"""Driver-local fast path (VERDICT r4 "Next round" #3): under the RAM
gate, search() scores entirely driver-side in numpy with NO Spark job —
results must be BIT-IDENTICAL to the distributed plan on every
(mode, algo, scorer) combination — and returns a LocalResult: a
DataFrame answered from the driver-held rows, with a Spark plan built
only for callers that need one."""

import argparse
import glob
import io
import os
import shutil
import struct

import pytest

from searchengine_spark.index.builder import build_index, term_bucket_py
from searchengine_spark.query.engine import IndexShard, LocalResult, SearchEngine

from .conftest import (
    ROUTES,
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


# "zebra" at tf 11, 24 and 39, where numpy's log10 differs from Spark's
# (StrictMath) in the last bit, and at tfs where they agree
ZEBRA_TFS = [1, 2, 3, 11, 24, 39]
TF_DOCS = [
    ("r", f"d{i}", f"c{i}", "t", " ".join(["zebra"] * tf + ["lion"] * (i % 4 + 1)))
    for i, tf in enumerate(ZEBRA_TFS * 7)
]


@pytest.fixture(scope="module")
def tf_engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tf_index") / "idx")
    corpus = spark.createDataFrame(
        TF_DOCS, "repo string, path string, commit string, lang string, content string"
    )
    build_index(spark, corpus, d, TEST_CONFIG)
    return SearchEngine(spark, d)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
@pytest.mark.parametrize("algo", ["daat", "maxscore"])
def test_tfidf_local_bit_identical_where_numpy_log10_differs(tf_engine, mode, algo):
    """TFIDF's 1 + log10(tf) on the driver takes Spark's log10, so the
    rows keep their bits at tf = 11, 24, 39 too."""
    for q in ("zebra", "zebra lion"):
        kw = dict(k=len(TF_DOCS), mode=mode, scorer="tfidf", algo=algo)
        a = tf_engine.search(q, local=True, **kw).collect()
        b = tf_engine.search(q, local=False, **kw).collect()
        assert len(a) == len(TF_DOCS)
        assert _bits(a) == _bits(b), (q, mode, algo)


def test_tfidf_log10_memo_is_per_distinct_tf_and_cleared_by_refresh(tf_engine):
    tf_engine.refresh()
    tf_engine.search("zebra", scorer="tfidf", local=True).collect()
    assert {float(tf) for tf in ZEBRA_TFS} <= set(tf_engine._log10_memo)
    tf_engine.refresh()
    assert tf_engine._log10_memo == {}


def _raise(*args, **kwargs):
    raise AssertionError("a driver-local result built a Spark plan")


def test_local_results_need_no_sql_parse(spark, engine, monkeypatch):
    """With spark.sql and spark.createDataFrame unusable, the local
    route (with and without docno) and empty results still collect the
    distributed route's rows, bit for bit."""
    calls = [
        dict(query=QUERIES[0]),
        dict(query=QUERIES[0], with_docno=True),
        dict(query=QUERIES[0], scorer="tfidf", algo="maxscore", k=20),
        dict(query="zzzunknownzzz"),
        dict(query="zzzunknownzzz", with_docno=True),
    ]
    want = [
        sorted(engine.search(local=False, **kw).collect(), key=lambda r: r["rank"])
        for kw in calls
    ]
    monkeypatch.setattr(spark, "sql", _raise)
    monkeypatch.setattr(spark, "createDataFrame", _raise)
    for kw, rows in zip(calls, want):
        got = engine.search(**kw)
        assert isinstance(got, LocalResult)
        got = got.collect()
        assert got == rows, kw
        assert [r.asDict() for r in got] == [r.asDict() for r in rows], kw
        assert [list(map(type, r)) for r in got] == [list(map(type, r)) for r in rows]
        assert _bits(got) == _bits(rows), kw


def test_local_result_is_still_a_dataframe(engine):
    """The driver-held result joins, counts, converts and reports its
    schema like the distributed route's frame."""
    for kw in (dict(), dict(with_docno=True)):
        a = engine.search(QUERIES[0], **kw)
        b = engine.search(QUERIES[0], local=False, **kw)
        assert isinstance(a, LocalResult) and not isinstance(b, LocalResult)
        assert a.columns == b.columns
        assert a.dtypes == b.dtypes
        assert a.count() == b.count() == 10
        pa, pb = a.toPandas(), b.toPandas().sort_values("rank", ignore_index=True)
        assert pa.dtypes.to_dict() == pb.dtypes.to_dict()
        assert pa.equals(pb)
        assert a.first() == a.take(1)[0] == a.head()
        joined = a.join(engine.doctable.select("doc_id", "sha256"), "doc_id")
        assert joined.count() == 10
        assert sorted(r["doc_id"] for r in joined.collect()) == sorted(
            r["doc_id"] for r in b.collect()
        )
    empty = engine.search("zzzunknownzzz", with_docno=True)
    assert empty.count() == 0 and empty.isEmpty()
    assert empty.columns == ["rank", "doc_id", "docno", "score"]
    assert empty.dtypes == engine.search(
        "zzzunknownzzz", with_docno=True, local=False
    ).dtypes


def test_cli_query_and_repl_launch_no_spark_job(spark, index_dir, spark_jobs, capsys):
    """On the driver-local route the CLI's one-shot query (engine open
    included) and a repl query launch 0 Spark jobs, and print the same
    lines as the distributed route's rows."""
    from searchengine_spark.__main__ import cmd_query, run_repl

    args = argparse.Namespace(
        index=index_dir, text=QUERIES[0], k=10, phrase=False, conjunctive=False,
        scorer="bm25", algo="daat", cpus=None,
    )
    with spark_jobs() as jobs:
        cmd_query(args)
    assert jobs == [0]
    lines = capsys.readouterr().out.splitlines()
    engine = SearchEngine(spark, index_dir)
    want = sorted(
        engine.search(QUERIES[0], with_docno=True, local=False).collect(),
        key=lambda r: r["rank"],
    )
    assert lines == [
        f"{r['rank']:>4}  {r['score']:>12.6f}  {r['doc_id']:>10}  {r['docno']}"
        for r in want
    ]

    out = io.StringIO()
    with spark_jobs() as jobs:
        run_repl(
            SearchEngine(spark, index_dir),
            io.StringIO(f"{QUERIES[0]}\nd\nt\nm\n10\nx\n"),
            out,
        )
    assert jobs == [0]
    top = engine.search(
        QUERIES[0], scorer="tfidf", algo="maxscore", with_docno=True, local=False
    ).where("rank = 1").first()
    assert f"   1  {top['score']:>12.6f}  {top['doc_id']:>10}  {top['docno']}" in (
        out.getvalue()
    )


# ---------- resident index: decoded buckets kept on the driver ----------


def test_resident_local_bit_identical_cold_and_warm(engine):
    assert_local_equals_distributed_cold_and_warm(engine, QUERIES)


def test_warm_query_reads_no_parquet_and_runs_no_job(
    spark, index_dir, tmp_path, spark_jobs, monkeypatch
):
    assert_warm_queries_read_no_parquet(
        spark, index_dir, tmp_path, QUERIES[:4], spark_jobs, monkeypatch
    )


def test_resident_bucket_columns(engine):
    """A resident postings bucket: sorted by (term, block_id), on-disk
    dtypes, read-only, a term's postings one slice of the flat arrays."""
    import numpy as np

    shard = engine.shards[0]
    post = shard._bucket("postings", "spark")
    order = np.lexsort((post.cols["block_id"], post.terms))
    assert (order == np.arange(order.size)).all()
    assert post.values["doc_ids"].dtype == np.int64
    assert post.values["tfs"].dtype == post.values["doc_lens"].dtype == np.int32
    arrays = [post.terms, post.offsets, *post.cols.values(), *post.values.values()]
    assert not any(a.flags.writeable for a in arrays)
    ids, tfs, _ = shard._local_postings(["spark"])["spark"]
    assert ids.size == shard._term_stats(["spark"])["spark"]["df"]
    assert (np.diff(ids) > 0).all()  # blocks in block_id order
    assert np.shares_memory(ids, post.values["doc_ids"])


def test_small_budget_keeps_results_and_bound(spark, index_dir, monkeypatch):
    """With the budget below the largest postings bucket a query needs:
    the same rows as the distributed route, resident bytes within the
    budget after every query, and the over-budget bucket answered but
    not kept."""
    ref = SearchEngine(spark, index_dir)
    terms = ref.tokenize_query(QUERIES[0])
    ref.search(QUERIES[0]).collect()
    n = ref.config.n_term_buckets
    keys = {t: (ref.shards[0].index_dir, "postings", term_bucket_py(t, n)) for t in terms}
    size = {t: ref.resident._lru[key][1] for t, key in keys.items()}
    big = max(size, key=size.get)
    budget = size[big] - 1
    monkeypatch.setattr(IndexShard, "DRIVER_INDEX_RAM_BYTES", budget)
    engine = SearchEngine(spark, index_dir)
    assert engine.resident.budget == budget
    for kw in ROUTES:
        for q in QUERIES:
            want = exact_rows(ref.search(q, with_docno=True, local=False, **kw))
            got = exact_rows(engine.search(q, with_docno=True, local=True, **kw))
            assert got == want, (q, kw)
            assert engine.resident.resident + engine.resident.reserved <= budget
            assert keys[big] not in engine.resident


def test_resident_rows_ignore_file_row_order(spark, engine, index_dir, tmp_path):
    """The build's partitioned write does not keep its term sort, so
    the resident buckets sort on load: on a copy whose lexicon and
    postings files are rewritten with their rows shuffled, the local
    route gives the original distributed rows."""
    import numpy as np
    import pyarrow.parquet as pq

    copy = str(tmp_path / "shuffled")
    shutil.copytree(index_dir, copy)
    rng = np.random.default_rng(7)
    moved = 0
    for table in ("lexicon", "postings"):
        for f in glob.glob(os.path.join(copy, table, "*", "*.parquet")):
            tbl = pq.ParquetFile(f).read()
            perm = rng.permutation(tbl.num_rows)
            moved += bool((perm != np.arange(tbl.num_rows)).any())
            pq.write_table(tbl.take(perm), f, compression="zstd")
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
    assert moved > 0
    shuffled = SearchEngine(spark, copy)
    for kw in ROUTES:
        for q in QUERIES:
            want = exact_rows(engine.search(q, with_docno=True, local=False, **kw))
            got = exact_rows(shuffled.search(q, with_docno=True, local=True, **kw))
            assert got == want, (q, kw)
