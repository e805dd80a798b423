"""Heavy hitters: vectorized Misra-Gries fold keeps the retention
guarantee (property-tested), and heavy_hitters is exact end-to-end on
non-string columns (the candidate schema is derived from df.schema,
not hardcoded to string)."""

from __future__ import annotations

from collections import Counter

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from anomalydetection_spark.functions.heavy import (
    heavy_hitters,
    mg_fold_counts,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                 max_size=800),
        min_size=1, max_size=6,
    ),
    st.integers(min_value=2, max_value=16),
)
def test_mg_fold_counts_retention(batches, k):
    """The vectorized per-batch fold (value_counts → mergeable-
    summaries reduction) retains every value with global count
    > n/(k+1), and never overestimates."""
    ser = None
    for b in batches:
        vc = pd.Series(b).value_counts()
        ser = mg_fold_counts(ser, vc, k)
    assert ser is not None and len(ser) <= k
    truth = Counter(v for b in batches for v in b)
    n = sum(truth.values())
    floor = n / (k + 1)
    got = {int(i): c for i, c in ser.items()}
    for v, c in truth.items():
        if c > floor:
            assert v in got, (v, c, floor, got)
    for v, est in got.items():
        assert est <= truth[v] + 1e-9
        assert est >= truth[v] - floor - 1e-9


def test_heavy_hitters_exact_on_bigint(spark):
    """Non-string column: candidate pass schema must come from the
    input dtype. Exactness checked against a plain groupBy."""
    # skewed bigint ids: value v appears (41 - v) times for v in 1..40
    rows = [(int(v),) for v in range(1, 41) for _ in range(41 - v)]
    df = spark.createDataFrame(rows, "user_id bigint").repartition(6)
    got = heavy_hitters(df, "user_id", k=16, top=5).orderBy("rank")
    exact = (
        df.groupBy(F.col("user_id").alias("value"))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(5)
        .collect()
    )
    got_rows = got.collect()
    assert [(r.value, r["count"]) for r in got_rows] == [
        (r.value, r["count"]) for r in exact
    ]
    assert [r.rank for r in got_rows] == [1, 2, 3, 4, 5]


def test_heavy_hitters_exact_on_string(spark):
    rows = [(f"tok{v % 7}",) for v in range(500)] + [("rare",)]
    df = spark.createDataFrame(rows, "tok string").repartition(4)
    got = {
        (r.value, r["count"])
        for r in heavy_hitters(df, "tok", k=8, top=7).collect()
    }
    truth = Counter(r[0] for r in rows)
    expected = set(sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:7])
    assert got == expected


def test_heavy_hitters_flat_distribution_still_exact(spark):
    """Near-uniform column where every count is BELOW the MG floor
    N/(k+1): the candidate union is arbitrary, so strict mode must
    detect the violated precondition and fall back to the exact path
    (previously this silently returned a wrong 'exact' top-k)."""
    import warnings

    # 200 values x 5 rows each = 1000 rows; floor at k=4 is 200 > 5
    rows = [(f"v{i:03d}",) for i in range(200) for _ in range(5)]
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = heavy_hitters(df, "tok", k=4, top=10).orderBy("rank").collect()
        assert any("MG floor" in str(x.message) for x in w)
    # ties broken by value asc -> the 10 alphabetically-first values
    assert [r.value for r in got] == [f"v{i:03d}" for i in range(10)]
    assert all(r["count"] == 5 for r in got)


def test_heavy_hitters_exact_above_2_pow_53(spark):
    """int64 candidates above 2^53 round-trip the Misra-Gries pass
    exactly: the bounded path finds the dominant value itself (strict
    mode certifies it without falling back, the unchecked mode returns
    it) instead of a float64-rounded neighbour."""
    import warnings

    big = 2**53 + 1
    rows = [(big,)] * 50 + [(v,) for v in range(1, 21)]
    df = spark.createDataFrame(rows, "v bigint").repartition(3)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        strict = heavy_hitters(df, "v", k=4, top=1).collect()
    assert not [w for w in caught if "heavy_hitters" in str(w.message)]
    loose = heavy_hitters(df, "v", k=4, top=1, strict=False).collect()
    for got in (strict, loose):
        assert [(r.value, r["count"]) for r in got] == [(big, 50)]
