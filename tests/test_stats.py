"""Column-stats profiler and the pipeline's conformance flags: flags
match the planted sets, histograms conserve mass, HLL distinct counts
are within sketch error (SURVEY.md §5 item 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.operators import stats as S
from anomalydetection_spark.operators.uniqueness import duplicate_keys
from anomalydetection_spark.plans.pipeline import CHECKS, _all_violations

CONF = [c.name for c in CHECKS if c.flag is not None]


@pytest.fixture(scope="module")
def conformance(docs):
    """The wide scan's conformance violation rows (one per flagged doc
    row, comma detail of the raised flags)."""
    v = _all_violations(docs, duplicate_keys(docs), None)
    return v.filter(F.col("check") == "conformance").cache()


@pytest.fixture(scope="module")
def conformance_rows(conformance):
    return conformance.collect()


def test_conformance_flags_exact(conformance_rows, expected):
    flagged: dict[str, set] = {n: set() for n in CONF}
    for r in conformance_rows:
        for name in r.detail.split(","):
            flagged[name].add(r.doc_id)
    assert flagged["null_spans"] == expected["null_spans"]
    assert flagged["empty_spans"] == expected["empty_spans"]
    assert flagged["offset_monotonicity"] == expected["nonmono"]
    assert flagged["span_coherence"] == expected["incoherent"]
    assert flagged["null_span_kind"]


def test_partition_stats_sum_to_table(docs, conformance_rows):
    ps = S.partition_stats(docs)
    tot = ps.agg(
        F.sum("n_rows").alias("r"), F.sum("n_spans").alias("s"),
        *[F.sum(n).alias(n) for n in CONF],
    ).first()
    assert tot.r == docs.count()
    exact_spans = docs.select(
        F.sum(F.coalesce(F.size("spans"), F.lit(0)))
    ).first()[0]
    assert tot.s == exact_spans
    # the profiler sums the same flags the violation rows carry
    for n in CONF:
        assert tot[n] == sum(n in r.detail.split(",") for r in conformance_rows)


def test_hll_vs_exact_distinct(docs):
    ps = S.partition_stats(docs)
    merged = ps.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(doc_id_hll))").alias("est")
    ).first()
    exact = docs.select(F.countDistinct("doc_id")).first()[0]
    assert abs(merged.est - exact) / exact < 0.05


def test_length_histogram_mass(docs):
    h = S.length_histogram(docs, bins=64, bin_width=8)
    total = h.agg(F.sum("count")).first()[0]
    n_spans = docs.select(
        F.sum(F.coalesce(F.size("spans"), F.lit(0)))
    ).first()[0]
    assert total == n_spans
    assert h.filter((F.col("bucket") < 0) | (F.col("bucket") > 63)).count() == 0


def test_kind_histogram_covers_all_kinds(docs):
    kinds = {r.kind for r in S.kind_histogram(docs).collect()}
    assert {"text", "image", "audio", "table", "__null__"} <= kinds


def test_conformance_verdicts_thresholds(spark, docs):
    # planted rates ≈0.15-0.5% — a 50% gate passes, a 0.0001% gate fails
    from dataclasses import replace

    from anomalydetection_spark.config import DEFAULT_CONFIG
    from anomalydetection_spark.plans.pipeline import run_validation

    def verdicts_at(rate):
        cfg = replace(
            DEFAULT_CONFIG, max_null_rate=rate, max_type_error_rate=rate
        )
        return [
            r.verdict
            for r in run_validation(spark, docs, cfg=cfg).verdicts.collect()
            if r.check in CONF and r.partition_id is not None
        ]

    assert set(verdicts_at(0.5)) == {"pass"}
    assert "fail" in verdicts_at(1e-6)


def test_conformance_violations_detail(conformance, conformance_rows, docs):
    """Detail lists the raised flags comma-separated in check-table
    order, score is 1.0, and spans travel verbatim."""
    for r in conformance_rows:
        names = r.detail.split(",")
        assert names and names == [n for n in CONF if n in names]
        assert r.score == 1.0
    jkey = F.coalesce(F.to_json("spans"), F.lit("<null>"))
    got = conformance.select("doc_id", "partition_id", jkey.alias("j"))
    src = docs.select("doc_id", "partition_id", jkey.alias("j"))
    assert got.exceptAll(src).count() == 0


def test_profile_table_generic(spark):
    """One-pass profiler: approx distinct within 5% of exact, per-type
    metric blocks present, null accounting right."""
    from anomalydetection_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(i, float(i % 97), f"s{i % 13}", [1] * (i % 4), i % 2 == 0)
         for i in range(5000)]
        + [(None, None, None, None, None)] * 50,
        "k bigint, v double, s string, arr array<int>, b boolean",
    )
    prof = {
        (r.column, r.metric): r.value
        for r in profile_table(df).collect()
    }
    assert prof[("k", "n_rows")] == 5050.0
    assert prof[("k", "n_null")] == 50.0
    assert abs(prof[("k", "null_rate")] - 50 / 5050) < 1e-6  # round-6 output
    assert abs(prof[("k", "n_distinct")] - 5000) / 5000 < 0.05  # HLL
    assert prof[("v", "max")] == 96.0
    assert prof[("s", "max_len")] >= 2.0
    assert prof[("arr", "max_size")] == 3.0
    assert abs(prof[("b", "true_rate")] - 0.5) < 0.01

    exact = {
        (r.column, r.metric): r.value
        for r in profile_table(df, exact_distinct=True).collect()
    }
    assert exact[("k", "n_distinct")] == 5000.0
    assert exact[("s", "n_distinct")] == 13.0


def test_profile_table_grouped(spark, docs):
    """group_cols: per-partition profile in one pass; group totals
    match per-partition counts."""
    from anomalydetection_spark.operators.profile import profile_table

    prof = profile_table(
        docs, columns=["doc_id", "spans"], group_cols=["partition_id"]
    )
    rows = {
        (r.partition_id, r.column, r.metric): r.value
        for r in prof.collect()
    }
    totals = {
        r.partition_id: r.n
        for r in docs.groupBy("partition_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for pid, n in totals.items():
        assert rows[(pid, "doc_id", "n_rows")] == float(n)
    assert any(m == "avg_size" for (_, c, m) in rows if c == "spans")


def test_profile_drift_semantics(spark):
    """profile_drift verdict table: added/removed schema changes fail;
    rate metrics gate on absolute delta; shape metrics on relative
    change with the 0 -> nonzero flip failing; info metrics and
    null-valued comparisons never fail."""
    from anomalydetection_spark.operators.profile import profile_drift

    schema = "column string, metric string, value double"
    base = spark.createDataFrame(
        [
            ("a", "null_rate", 0.01),   # |Δ|=0.02 <= 0.05 -> pass
            ("a", "avg", 10.0),         # rel 0.2 <= 0.5 -> pass
            ("a", "stddev", 2.0),       # rel 2.0 > 0.5 -> fail
            ("a", "n_rows", 100.0),     # info -> pass despite 10x
            ("b", "min", 0.0),          # 0 -> nonzero flip -> fail
            ("b", "max", 0.0),          # 0 -> 0 -> pass
            ("b", "stddev", None),      # null comparison -> pass
            ("gone", "avg", 5.0),       # removed -> fail
        ],
        schema,
    )
    cur = spark.createDataFrame(
        [
            ("a", "null_rate", 0.03),
            ("a", "avg", 12.0),
            ("a", "stddev", 6.0),
            ("a", "n_rows", 1000.0),
            ("b", "min", 3.0),
            ("b", "max", 0.0),
            ("b", "stddev", 1.0),
            ("new", "avg", 1.0),        # added -> fail
        ],
        schema,
    )
    out = {
        (r.column, r.metric): r
        for r in profile_drift(cur, base).collect()
    }
    assert len(out) == 9
    assert out[("a", "null_rate")].verdict == "pass"
    assert out[("a", "avg")].verdict == "pass"
    assert out[("a", "avg")].rel_change == 0.2
    assert out[("a", "stddev")].verdict == "fail"
    assert out[("a", "n_rows")].verdict == "pass"
    assert out[("b", "min")].verdict == "fail"
    assert out[("b", "max")].verdict == "pass"
    assert out[("b", "stddev")].verdict == "pass"
    assert out[("b", "stddev")].delta is None
    assert out[("gone", "avg")].status == "removed"
    assert out[("gone", "avg")].verdict == "fail"
    assert out[("new", "avg")].status == "added"
    assert out[("new", "avg")].verdict == "fail"
    assert out[("new", "avg")].base_value is None


def test_hll_pairwise_overlap_controlled_sets(spark):
    """Planted overlap: A=0..2999, B=2000..4999, C=9000..9099 (tiny,
    disjoint from A). Inclusion-exclusion must land within a few
    percent on the big partial overlap and report ~0 for the disjoint
    pair."""
    from anomalydetection_spark.operators.stats import (
        hll_pairwise_overlap,
    )

    rows = (
        [("A", i) for i in range(0, 3000)]
        + [("B", i) for i in range(2000, 5000)]
        + [("C", i) for i in range(9000, 9100)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["group_a"], r["group_b"]): r
        for r in hll_pairwise_overlap(df, "g", "v").collect()
    }
    ab = out[("A", "B")]
    assert abs(ab["est_intersection"] - 1000) / 1000 < 0.08
    assert abs(ab["est_union"] - 5000) / 5000 < 0.05
    ac = out[("A", "C")]
    # disjoint: estimate is noise around zero, bounded by union error
    assert abs(ac["est_intersection"]) < 0.05 * 3100
    assert 0.15 < ab["jaccard_est"] < 0.25


def test_hll_pairwise_overlap_null_values_excluded(spark):
    from anomalydetection_spark.operators.stats import (
        hll_pairwise_overlap,
    )

    df = spark.createDataFrame(
        [("A", 1), ("A", None), ("B", 1), ("B", 2)], "g string, v long"
    )
    r = hll_pairwise_overlap(df, "g", "v").collect()[0]
    assert round(r["est_a"]) == 1 and round(r["est_b"]) == 2
    assert round(r["est_intersection"]) == 1
