"""Shared Spark fixtures for the test suite.

One session-scoped SparkSession (local[4], small shuffle width) keeps
total suite runtime bounded; the generated `documents` fixture is
materialized once per session to parquet so every test reads the same
deterministic bytes (seed 42, FIXTURES.md).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 4000
N_MEDIA = 2000
N_PARTITIONS = 8
SEED = 42


@pytest.fixture(scope="session")
def spark():
    from anomalydetection_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_path(spark, tmp_path_factory):
    from anomalydetection_spark.fixtures import generate_documents

    path = str(tmp_path_factory.mktemp("fixtures") / "documents")
    generate_documents(
        spark,
        N_DOCS,
        seed=SEED,
        n_partitions=N_PARTITIONS,
        n_media=N_MEDIA,
    ).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="session")
def docs(spark, docs_path):
    return spark.read.parquet(docs_path)


@pytest.fixture(scope="session")
def catalog(spark, tmp_path_factory):
    from anomalydetection_spark.fixtures import generate_media_catalog

    path = str(tmp_path_factory.mktemp("fixtures") / "media_catalog")
    generate_media_catalog(spark, N_MEDIA, seed=SEED).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="session")
def expected(docs):
    from anomalydetection_spark.fixtures import expected_violation_doc_ids

    return expected_violation_doc_ids(N_DOCS)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), Spark jobs fn submitted)``, read
    from the status store's job list (job ids are sequential), which
    also sees jobs submitted from driver pool threads — those do not
    inherit the caller's job group."""
    jsc = spark.sparkContext._jsc.sc()

    def last_job_id() -> int:
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def count(fn):
        before = last_job_id()
        out = fn()
        return out, last_job_id() - before

    return count
