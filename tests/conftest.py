import shutil
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
