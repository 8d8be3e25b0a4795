import os
import shutil
import struct
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import build_index
from searchengine_spark.sources.corpus import load_documents_as_corpus

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("searchengine-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    return load_documents_as_corpus(spark, SF_DIR)


# skip_threshold lowered so skip blocks exist at the 500-doc fixture scale
TEST_CONFIG = EngineConfig(stopstem=True, skip_threshold=64, shuffle_partitions=8)


@pytest.fixture(scope="session")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index") / "idx")
    shutil.rmtree(d, ignore_errors=True)
    build_index(spark, corpus, d, TEST_CONFIG)
    return d


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` counts the Spark jobs the
    block launched (through a job group and the status tracker) into
    ``jobs[0]``."""
    sc = spark.sparkContext

    @contextmanager
    def count():
        group = f"count-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, "counted block")
        try:
            yield jobs
        finally:
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setLocalProperty("spark.jobGroup.id", None)

    return count


# the local-route query shapes every resident-index test runs: each
# scorer under DAAT, MaxScore and conjunctive
ROUTES = [
    dict(scorer=scorer, mode=mode, algo=algo)
    for scorer in ("bm25", "tfidf")
    for mode, algo in (
        ("disjunctive", "daat"),
        ("disjunctive", "maxscore"),
        ("conjunctive", "daat"),
    )
]


def exact_rows(df):
    """A result's rows in rank order, each (rank, doc_id, docno, score
    bits)."""
    return [
        (r["rank"], r["doc_id"], r["docno"], struct.pack("<d", r["score"]))
        for r in sorted(df.collect(), key=lambda r: r["rank"])
    ]


def assert_local_equals_distributed_cold_and_warm(engine, queries):
    """Every query of every ROUTES shape, with docno: the local route
    with an empty resident index (cold, right after refresh()) and with
    its buckets resident (warm) gives the distributed rows bit for
    bit."""
    for kw in ROUTES:
        for q in queries:
            want = exact_rows(engine.search(q, with_docno=True, local=False, **kw))
            engine.refresh()
            cold = exact_rows(engine.search(q, with_docno=True, local=True, **kw))
            warm = exact_rows(engine.search(q, with_docno=True, local=True, **kw))
            assert cold == want, (q, kw, "cold")
            assert warm == want, (q, kw, "warm")


def assert_warm_queries_read_no_parquet(
    spark, index_dir, tmp_path, queries, spark_jobs, monkeypatch
):
    """Open a copy of ``index_dir``, run ``queries`` on every ROUTES
    shape with docno once, then with IndexShard._dataset raising and
    the copy moved away: the repeated queries give the same rows from
    the resident index, read no file and run 0 Spark jobs."""
    from searchengine_spark.query.engine import IndexShard, SearchEngine

    copy = str(tmp_path / "idx")
    shutil.copytree(index_dir, copy)
    engine = SearchEngine(spark, copy)
    calls = [dict(query=q, with_docno=True, **kw) for kw in ROUTES for q in queries]
    want = [exact_rows(engine.search(**kw)) for kw in calls]

    def no_read(*args, **kwargs):
        raise AssertionError("a warm query read Parquet")

    monkeypatch.setattr(IndexShard, "_dataset", no_read)
    os.rename(copy, copy + ".moved")
    with spark_jobs() as jobs:
        got = [exact_rows(engine.search(**kw)) for kw in calls]
    assert jobs == [0]
    assert got == want
