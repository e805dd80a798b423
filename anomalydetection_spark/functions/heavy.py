"""Exact distributed heavy hitters: Misra-Gries candidate pruning +
one exact verification pass.

The 100 TB shape for "top-k most frequent values of a column": a plain
groupBy on a high-cardinality column shuffles one row per DISTINCT
value — fine for token vocabularies, ruinous for URLs/ids. The
two-pass trick bounds the shuffle by k instead:

1. Per-partition Misra-Gries summaries (k counters each, one
   Arrow-batched pass, no shuffle). MG guarantees any value with
   global frequency > N/(k+1) survives in at least one partition's
   summary, so the union of partition candidates (≤ k × partitions
   values, metadata-scale) is a SUPERSET of every true heavy hitter.
2. Exact counts for the candidate set only — a filtered groupBy whose
   key space is the bounded candidate set, then top-k with a
   deterministic tie-break.

The output is EXACT (the sketch only prunes, never decides), which is
why the driver oracle can check it against a plain GROUP BY / LIMIT
(queries.py::heavy_hitters). The MG retention guarantee itself is
property-tested (tests/test_properties.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mg_summarize(values, k: int) -> dict:
    """Misra-Gries summary of an iterable: at most k counters.
    Guarantee: est[v] ≥ true[v] − n/(k+1), so any v with
    true[v] > n/(k+1) has a counter."""
    counters: dict = {}
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < k:
            counters[v] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


def mg_merge(summaries, k: int) -> dict:
    """Merge MG summaries (add counts, then decrement-evict back to k
    counters) — keeps the additive error bound Σ n_i/(k+1)."""
    total: dict = {}
    for s in summaries:
        for v, c in s.items():
            total[v] = total.get(v, 0) + c
    while len(total) > k:
        m = min(total.values())
        total = {v: c - m for v, c in total.items() if c - m > 0}
    return total


def mg_fold_counts(ser, vc, k: int):
    """Fold an exact per-batch count Series ``vc`` (value_counts
    output) into a running Misra-Gries summary Series ``ser`` of at
    most ``k`` counters, fully vectorized: index-aligned add, then the
    mergeable-summaries reduction (keep the top k counts, subtract the
    (k+1)-th count, evict non-positives). Equivalent to a sequence of
    MG min-decrements, so est[v] ≥ true[v] − n/(k+1) holds across any
    fold order (Agarwal et al., Mergeable Summaries)."""
    ser = vc if ser is None else ser.add(vc, fill_value=0)
    if len(ser) > k:
        ser = ser.sort_values(ascending=False, kind="stable")
        thresh = ser.iloc[k]
        ser = ser.iloc[:k] - thresh
        ser = ser[ser > 0]
    return ser


def heavy_hitters(
    df: DataFrame, col: str, k: int = 64, top: int = 20,
    strict: bool = True,
) -> DataFrame:
    """Exact top-``top`` values of ``col`` by count, computed with a
    bounded shuffle: MG(k) candidates per partition → exact counts of
    the candidate union → rank by (count desc, value asc). ``k`` must
    be ≥ the number of values you expect above the N/(k+1) frequency
    floor; ``top`` ≤ k.

    The MG union is only guaranteed a superset of values ABOVE the
    floor — on a near-uniform column (every count under N/(k+1)) the
    candidate set is arbitrary and the 'exact' claim would silently
    break. ``strict`` (default) VERIFIES the precondition from the
    result itself: the output is provably exact iff all ``top`` ranked
    counts exceed the floor (every pruned value is ≤ the floor by the
    MG bound, so none can displace them). When the check fails, fall
    back to the plain groupBy top-k (unbounded key shuffle — correct
    at any distribution) with a warning to raise ``k``."""
    import pandas as pd

    def _partials(batches):
        # Vectorized MG fold: per Arrow batch, count uniques at C speed
        # (value_counts), then reduce the running summary with the
        # standard mergeable-summaries step — add counts, keep the top
        # k, subtract the (k+1)-th count from the survivors (equivalent
        # to a sequence of min-decrements, so the est ≥ true − n/(k+1)
        # retention bound is preserved). Python work per batch is
        # O(uniques log uniques), never O(rows).
        #
        # The partition's non-null row count rides along as a sentinel
        # row (candidate NULL): strict mode's N/(k+1) floor needs the
        # global N, and this pass already touches every row — emitting
        # it here fuses what was a separate full-scan count() (the r4
        # driver bench's one regression) back into scan 1. The candidate
        # column is object dtype: with the sentinel's None in it, pandas
        # would otherwise widen int64 candidates to float64 and corrupt
        # values above 2^53 before the Arrow cast back to the column type.
        ser = None
        n_part = 0
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            if not vc.empty:
                n_part += int(vc.sum())
                ser = mg_fold_counts(ser, vc, k)
        cands = list(ser.index) if ser is not None else []
        yield pd.DataFrame(
            {
                "candidate": pd.Series(cands + [None], dtype=object),
                "n": [None] * len(cands) + [n_part],
            }
        )

    col_type = df.schema[col].dataType.simpleString()
    cand_rows = (
        df.select(col)
        .mapInPandas(_partials, schema=f"candidate {col_type}, n long")
        .collect()
    )
    candidates = list(
        {r.candidate for r in cand_rows if r.candidate is not None}
    )
    n_total = sum(r.n for r in cand_rows if r.n is not None)
    if len(candidates) <= 10_000:
        scoped = df.filter(F.col(col).isin(candidates))
    else:
        # k × partitions can reach millions on a big cluster — as plan
        # literals that bloats the query; ship them as a broadcast
        # semi-join instead
        cand_df = df.sparkSession.createDataFrame(
            [(c,) for c in candidates], f"candidate {col_type}"
        ).withColumnRenamed("candidate", col)
        scoped = df.join(F.broadcast(cand_df), col, "left_semi")
    exact = scoped.groupBy(F.col(col).alias("value")).agg(
        F.count("*").alias("count")
    )
    w = Window.orderBy(F.desc("count"), F.asc("value"))
    ranked = (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
    )
    if not strict:
        return ranked
    rows = ranked.collect()  # ≤ top rows — metadata scale
    floor = n_total / (k + 1)
    provable = (
        len(rows) >= top and min(r["count"] for r in rows) > floor
    ) or n_total == 0
    if provable:
        spark = df.sparkSession
        return spark.createDataFrame(
            rows, f"value {col_type}, count long, rank int"
        )
    import warnings

    warnings.warn(
        f"heavy_hitters: top-{top} counts do not clear the MG floor "
        f"N/(k+1) ≈ {floor:.0f} (distribution too flat for k={k}) — "
        "falling back to the exact unbounded-shuffle groupBy; raise k "
        "to restore the bounded-shuffle path",
        stacklevel=2,
    )
    full = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count("*").alias("count"))
    )
    return (
        full.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
    )
