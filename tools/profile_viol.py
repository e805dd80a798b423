"""Micro-profile the wide violations stage's components at one core
count: pure spans scan, conformance flags only, the referential side
(operators/referential.py::referential_side, plus the per-row orphan
aggregate when the catalog takes the join path), full _all_violations,
and the verdicts judged from the per-partition count grid.

    python tools/profile_viol.py <ncores> [n_docs]

n_docs defaults to $BENCH_N_DOCS (16M); the corpus is generated once
under $BENCH_WORK_DIR.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F


def main() -> None:
    ncores = int(sys.argv[1])
    from bench import N_DOCS_BENCH, _fresh_spark, _materialize_bench_tables
    from anomalydetection_spark.operators import referential as ref_ops
    from anomalydetection_spark.plans import pipeline as P

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else N_DOCS_BENCH
    spark = _fresh_spark(ncores)
    docs_path, cat_path, base_path = _materialize_bench_tables(spark, n_docs)
    docs = spark.read.parquet(docs_path)
    catalog = spark.read.parquet(cat_path)

    t = {}

    def clock(name, fn):
        t0 = time.time()
        r = fn()
        t[name] = round(time.time() - t0, 3)
        return r

    clock("scan_spans_sum", lambda: docs.select(
        F.sum(F.size("spans"))).collect())
    dups = clock("dup_scan", lambda: P.duplicate_keys(
        docs, "doc_id", 8).cache())
    clock("dup_count", dups.count)
    # conformance flags only (dups joined but empty-ish), count of flagged
    clock("conformance_only", lambda: P._all_violations(
        docs, dups, None, True).filter(
        F.col("check").isin("conformance")).count())
    # the referential side the pass would attach: row-local UDF for a
    # broadcastable catalog, else the per-row orphan aggregate by join
    side = clock("referential_side", lambda: ref_ops.referential_side(
        spark, catalog, salt_buckets=8))
    orphan_doc, bc = None, True
    if side.rowlocal_udf is None:
        orphan_doc = ref_ops.orphan_rows(docs, side).cache()
        n_orph = clock("orphan_count", orphan_doc.count)
        bc = n_orph <= P.BROADCAST_MAX_ROWS
        t["n_orphan_docs"] = n_orph
    t["referential_path"] = "join" if orphan_doc is not None else "rowlocal"
    t["broadcast_orphans"] = bc
    viol = P._all_violations(docs, dups, orphan_doc, bc,
                             orphan_udf=side.rowlocal_udf).cache()
    clock("all_violations_count", viol.count)
    totals = {
        r.partition_id: r.n_rows
        for r in docs.groupBy("partition_id").agg(
            F.count("*").alias("n_rows")).collect()
    }
    clock("verdicts_grid", lambda: P._grid_to_verdicts(
        P._count_grid(viol), totals, has_catalog=True, cfg=P.DEFAULT_CONFIG))
    print(json.dumps({"ncores": ncores, **t}))


if __name__ == "__main__":
    main()
