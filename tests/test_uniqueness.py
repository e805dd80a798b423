"""Uniqueness check: planted duplicate doc_ids found exactly once each,
verdicts at per-partition granularity (SURVEY.md §5 item 1; reference
semantics: every anomalous row emitted with its score,
/root/reference/database_manager.py:254-264)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.operators.uniqueness import duplicate_keys
from anomalydetection_spark.plans.pipeline import (
    _all_violations,
    run_validation,
)


@pytest.fixture(scope="module")
def validated(spark, docs):
    return run_validation(spark, docs)


def test_duplicate_keys_exact(docs, expected):
    found = {r.doc_id for r in duplicate_keys(docs, "doc_id").collect()}
    assert found == expected["uniqueness"]


def test_duplicate_counts_are_two(docs):
    """Generator plants exactly pairwise dups (i and i-1 share an id)."""
    rows = duplicate_keys(docs, "doc_id").collect()
    assert rows and all(r.dup_cnt == 2 for r in rows)


def test_violations_carry_full_rows(validated, docs, expected):
    v = validated.violations.filter(F.col("check") == "uniqueness")
    # every duplicated key contributes BOTH of its rows, spans intact
    assert v.count() == 2 * len(expected["uniqueness"])
    assert {(r.detail, r.score) for r in v.collect()} == {("dup_cnt=2", 2.0)}
    # span sequences on violation rows match the source rows verbatim
    jkey = F.coalesce(F.to_json("spans"), F.lit("<null>"))
    orig = docs.join(
        F.broadcast(duplicate_keys(docs, "doc_id").select("doc_id")),
        "doc_id",
    ).select("doc_id", "partition_id", jkey.alias("j"))
    got = v.select("doc_id", "partition_id", jkey.alias("j"))
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0


def test_salting_invariant(docs):
    """Salted two-phase agg gives identical results at any bucket count."""
    a = {(r.doc_id, r.dup_cnt) for r in duplicate_keys(docs, salt_buckets=2).collect()}
    b = {(r.doc_id, r.dup_cnt) for r in duplicate_keys(docs, salt_buckets=64).collect()}
    assert a == b


def test_per_partition_verdicts(validated, docs, expected):
    v = [
        r for r in validated.verdicts.collect()
        if r.check == "uniqueness" and r.partition_id is not None
    ]
    failed = {r.partition_id for r in v if r.verdict == "fail"}
    # partitions actually containing a duplicated key's rows
    dup_parts = {
        r.partition_id
        for r in docs.join(
            duplicate_keys(docs).select("doc_id"), "doc_id"
        ).select("partition_id").distinct().collect()
    }
    assert failed == dup_parts
    total_viol = sum(r.n_violations for r in v)
    assert total_viol == 2 * len(expected["uniqueness"])


def test_clean_table_passes(spark):
    span = [("text", "t", None, 0)]
    df = spark.createDataFrame(
        [("a", span, 0), ("b", span, 0), ("c", span, 1)],
        "doc_id string, spans array<struct<kind string, text string,"
        " media_ref string, offset int>>, partition_id int",
    )
    assert duplicate_keys(df).count() == 0
    res = run_validation(spark, df)
    assert res.violations.count() == 0
    uniq = [r for r in res.verdicts.collect() if r.check == "uniqueness"]
    assert uniq and all(r.verdict == "pass" for r in uniq)


def test_composite_key_duplicates(spark):
    """Composite keys: duplicates on (a, b) pairs, not on either column
    alone; violations attach on the full key list."""
    df = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 11), (2, "x", 12), (1, "x", 13), (3, "z", 14)],
        "a bigint, b string, v bigint",
    )
    dups = duplicate_keys(df, ["a", "b"]).collect()
    assert [(r.a, r.b, r.dup_cnt) for r in dups] == [(1, "x", 2)]
    docs = df.select(
        "a", "b",
        F.col("v").cast("string").alias("doc_id"),
        F.lit(0).alias("partition_id"),
        F.array(F.struct(
            F.lit("text").alias("kind"), F.lit("t").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )).alias("spans"),
    )
    v = _all_violations(
        docs, duplicate_keys(docs, ["a", "b"]), None, unique_key=["a", "b"]
    ).collect()
    assert sorted((r.check, r.doc_id, r.detail) for r in v) == [
        ("uniqueness", "10", "dup_cnt=2"),
        ("uniqueness", "13", "dup_cnt=2"),
    ]
