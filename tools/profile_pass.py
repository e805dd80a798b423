"""Phase-level profile of the full validation pass at one parallelism
level, against the bench corpus in $BENCH_WORK_DIR. Usage:

    python tools/profile_pass.py <ncores> [n_docs]

n_docs defaults to $BENCH_N_DOCS (16M); the corpus is generated once
per size under $BENCH_WORK_DIR. Prints one JSON line with per-phase
seconds. Used to locate the non-scaling (serial) component of the
N->4N profile.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK_DIR = os.environ.get("BENCH_WORK_DIR", "/tmp/anomalydetection_bench")


def main() -> None:
    ncores = int(sys.argv[1])
    from bench import N_DOCS_BENCH, _fresh_spark, _materialize_bench_tables
    from anomalydetection_spark.plans.pipeline import run_validation

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else N_DOCS_BENCH
    spark = _fresh_spark(ncores)
    docs_path, cat_path, base_path = _materialize_bench_tables(spark, n_docs)
    docs = spark.read.parquet(docs_path)
    catalog = spark.read.parquet(cat_path)
    baseline = spark.read.parquet(base_path)

    out = []
    for rep in range(int(os.environ.get("PROFILE_REPEATS", "2"))):
        timings: dict = {}
        t0 = time.time()
        res = run_validation(
            spark, docs, catalog=catalog, baseline_hist=baseline,
            timings=timings,
        )
        t1 = time.time()
        res.verdicts.count()
        timings["verdicts_count"] = round(time.time() - t1, 3)
        t1 = time.time()
        res.violations.count()
        timings["violations_count"] = round(time.time() - t1, 3)
        timings["total"] = round(time.time() - t0, 3)
        spark.catalog.clearCache()
        out.append(timings)
    print(json.dumps({"ncores": ncores, "n_docs": n_docs, "runs": out}))


if __name__ == "__main__":
    main()
