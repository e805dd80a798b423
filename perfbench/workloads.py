"""The benchmark's workloads: inputs, timed operations, output checks.

Every workload follows the same shape, so the end-to-end metrics mean
the same thing everywhere:

1. start Spark in a fresh JVM and do the workload's first-touch set-up
   (read the inputs' metadata)                          -> setup sample 1
2. run the workload's operation once, in that fresh JVM  -> ``cold_s``
3. repeat the warm operation until ``--seconds`` have passed (at least
   ``MIN_WARM`` times; once in a traced run)             -> ``warm_s`` (median)
4. check every timed output; ``--trace 1`` then times the layers one
   by one through their public functions
5. untraced only: stop and restart the session twice, each time redoing
   the first-touch set-up (last, because a new session restarts its
   Python workers)                                      -> setup samples 2, 3

``setup_s`` is the median of the three set-ups; ``peak_rss_mb`` is the
peak resident set of the driver JVM plus its Python workers.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Callable

import host
import inputs as gen
from tracing import COUNTERS

MIN_WARM = 3

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "peak_rss_mb": "MB"}

# The catalog subset. Frozen: changing it changes what catalog_* means.
CATALOG_SUBSET = (
    "minmax_normalize", "field_independence", "enum_drift",
    "quantile_mapping", "benjamini_hochberg", "uniqueness_dup_keys",
    "referential_orphans", "type_conformance", "drift_psi", "rolling_3sigma",
)
# the tables those queries read
CATALOG_TABLES = ("events", "customer", "lineitem", "documents")
# queries whose stages and shuffle bytes are also reported
CATALOG_TARGETS = (
    "minmax_normalize", "field_independence", "enum_drift", "quantile_mapping",
    "benjamini_hochberg",
)
CATALOG_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

OP_COUNTERS = {f"op.{c}": ("count" if c in ("jobs", "stages", "tasks") else
                           "B" if c.endswith("bytes") else "s") for c in COUNTERS}

PER_LAYER = {
    "session.jvm_launch_s": "s",
    "pipeline.pass_s": "s",
    "pipeline.no_catalog_s": "s",
    "pipeline.no_drift_s": "s",
    "uniqueness.duplicate_keys_s": "s",
    "uniqueness.shuffle_write_bytes": "B",
    "referential.catalog_keys_s": "s",
    "referential.orphan_udf_s": "s",
    "referential.python_cpu_s": "s",
    "stats.length_histogram_s": "s",
    "drift.drift_verdicts_s": "s",
    "contract.contract_verdicts_s": "s",
    "manifest.partition_snapshots_s": "s",
    "manifest.pending_partitions_s": "s",
    "manifest.acquire_leases_s": "s",
    "manifest.commit_validated_s": "s",
    "manifest.violations_bytes": "B",
    "stream.add_batch_p50_s": "s",
    "stream.trigger_p50_s": "s",
    "stream.input_rows_per_doc": "ratio",
    "stream.batches": "count",
    **OP_COUNTERS,
    "op.self_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    **{f"catalog.{q}.{m}": ("count" if m == "jobs" else "s")
       for q in CATALOG_SUBSET for m in ("cold_s", "warm_s", "jobs")},
    **{f"catalog.{q}.{m}": ("count" if m == "stages" else "B")
       for q in CATALOG_TARGETS for m in ("stages", "shuffle_bytes")},
}

# full_pass corpus size; "tiny" is for the smoke test only
SIZES = {"full": 10_000, "tiny": 4_000}
N_MEDIA = 10_000
CHANGED_PARTITIONS = 2  # of inputs.N_PARTITIONS
STREAM_FILES = 16  # backlog partition files: two micro-batches of 8 files


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Run:
    """One benchmark process: the session, the clocks, the tallies."""

    settings: dict
    inputs: dict
    seconds: float
    tracer: object
    scratch: str
    root: str
    spark: object = None
    sampler: host.RssSampler | None = None
    jvm_pid: int | None = None
    setups: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    report: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    # ---- session ----
    def start(self, first_touch: Callable) -> dict:
        from anomalydetection_spark.session import get_spark

        with self.tracer.span("session.setup", spark_counters=False) as rec:
            self.spark = get_spark(
                app_name="perfbench",
                master=self.settings["master"],
                shuffle_partitions=self.settings["shuffle_partitions"],
                extra_conf=self.settings["extra_conf"],
            )
            state = first_touch(self.spark)
        self.setups.append(rec["seconds"])
        if self.jvm_pid is None:
            self.jvm_pid = _jvm_pid(self.spark)
            self.sampler = host.RssSampler().start(self.jvm_pid)
        self.tracer.attach(self.spark.sparkContext, self.jvm_pid)
        return state

    def more_setups(self, first_touch: Callable, n: int = 2) -> None:
        """Stop the session and set up again, ``n`` times (setup
        samples 2..n+1: session start in the running JVM plus the
        workload's first-touch set-up). Runs last, because a new
        session starts its Python workers afresh."""
        for _ in range(n):
            self.spark.stop()
            self.start(first_touch)

    def close(self) -> None:
        if self.sampler is not None:
            self.e2e["peak_rss_mb"] = (self.sampler.stop(), "MB")
        if self.spark is not None:
            self.spark.stop()
            _stop_jvm()
        shutil.rmtree(self.scratch, ignore_errors=True)

    # ---- operations ----
    def op(self, name: str, fn: Callable, check: Callable | None = None):
        """Time ``fn()`` and count it as attempted; count it as failed
        when it raises (result: (None, None)) or when ``check(result)``
        raises (the timing still stands)."""
        self.attempted += 1
        try:
            with self.tracer.span(name) as rec:
                out = fn()
        except Exception as e:  # a failed operation is a measured outcome
            self._fail(name, e)
            return None, None
        if check is not None:
            try:
                check(out)
            except Exception as e:
                self._fail(name, e)
        return rec, out

    def _fail(self, name: str, e: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")

    @property
    def min_warm(self) -> int:
        # a traced run reports per-layer metrics, for which one traced
        # warm operation is enough; the median needs MIN_WARM
        return 1 if self.tracer.enabled else MIN_WARM

    def warm(self, name: str, fn: Callable, check: Callable | None = None) -> list:
        """Repeat ``fn`` until ``seconds`` have passed and it succeeded
        at least ``min_warm`` times; returns the span records."""
        recs, tries, t_end = [], 0, host.now() + self.seconds
        while (host.now() < t_end or len(recs) < self.min_warm) and tries < 100:
            tries += 1
            rec, _ = self.op(name, fn, check)
            if rec is not None:
                recs.append(rec)
        return recs

    def check(self, what: str, fn: Callable) -> None:
        """An untimed correctness check, counted as an operation."""
        self.op(f"check.{what}", fn)

    def finish(self, cold: float, warm: list[float], first_touch: Callable) -> None:
        self.e2e["cold_s"] = (cold, "s")
        self.e2e["warm_s"] = (_median(warm), "s")
        if not self.tracer.enabled:  # setup_s is an end-to-end metric only
            self.more_setups(first_touch)
            self.e2e["setup_s"] = self.report["setup_s"] = (statistics.median(self.setups), "s")
        self.report["error_rate"] = (self.failed / max(self.attempted, 1), "ratio")
        self.layer["session.jvm_launch_s"] = (self.setups[0], "s")
        for e in self.errors:
            print(f"error: {e}")

    def layer_from(self, recs: list[dict]) -> None:
        """Median per-op Spark/proc counters and self time of ``recs``."""
        if not recs or "jobs" not in recs[0]:
            return
        for key, unit in OP_COUNTERS.items():
            self.layer[key] = (statistics.median(r[key[3:]] for r in recs), unit)
        self.layer["op.self_s"] = (statistics.median(r["self_s"] for r in recs), "s")

    def trace_totals(self) -> None:
        self.layer["trace.overhead_s"] = (self.tracer.overhead_s, "s")
        self.layer["trace.spans"] = (len(self.tracer.spans), "count")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def _jvm_pid(spark) -> int:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        return proc.pid
    for pid in host.descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    raise RuntimeError("driver JVM not found among this process's children")


def _stop_jvm() -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait
    for it and every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    started = host.descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(host.alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# shared pieces of the documents workloads
# ---------------------------------------------------------------------------

# violation check name (conformance detail entry) -> fixtures' expected key
EXPECTED_KEYS = {
    "uniqueness": "uniqueness",
    "empty_spans": "empty_spans",
    "null_spans": "null_spans",
    "offset_monotonicity": "nonmono",
    "span_coherence": "incoherent",
}
ROW_LOCAL_CHECKS = (
    "null_spans", "empty_spans", "offset_monotonicity", "null_span_kind",
    "span_coherence", "referential",
)


def _read_docs(inp: dict) -> Callable:
    def first_touch(spark) -> dict:
        return {
            "docs": spark.read.parquet(inp["docs"]),
            "catalog": spark.read.parquet(inp["catalog"]),
            "baseline": spark.read.parquet(inp["baseline"]),
        }
    return first_touch


def _release(res) -> None:
    res.violations.unpersist()
    if res.current_hist is not None:
        res.current_hist.unpersist()


def _violation_sets(res) -> dict[str, set]:
    """check -> violating doc_ids, conformance split by detail entry."""
    out: dict[str, set] = {}
    for r in res.violations.select("check", "detail", "doc_id").collect():
        names = r.detail.split(",") if r.check == "conformance" else [r.check]
        for n in names:
            out.setdefault(n, set()).add(r.doc_id)
    return out


def _verdict_rows(rows, partitions=None) -> list[tuple]:
    return sorted(
        (r.check, r.partition_id, r.n_rows, r.n_violations, r.verdict)
        for r in rows
        if r.partition_id is not None
        and (partitions is None or r.partition_id in partitions)
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _layer_probes(run: Run, st: dict, meta: dict, expected_dups: set | None = None) -> None:
    """Time each operator layer once through its public function on
    the workload's own corpus (trace mode only)."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.config import DEFAULT_CONFIG
    from anomalydetection_spark.operators.contract import (
        contract_from_dict, contract_verdicts,
    )
    from anomalydetection_spark.operators.drift import drift_verdicts
    from anomalydetection_spark.operators.referential import (
        collect_catalog_keys, orphan_refs_rowlocal_udf, span_refs_column,
    )
    from anomalydetection_spark.operators.stats import length_histogram
    from anomalydetection_spark.operators.uniqueness import duplicate_keys

    docs = st["docs"]

    def dup_check(rows):
        if expected_dups is not None:
            expect({r.doc_id for r in rows} == expected_dups, "duplicate keys")

    rec, _ = run.op("uniqueness.duplicate_keys",
                    lambda: duplicate_keys(docs, "doc_id").collect(), dup_check)
    if rec:
        run.layer["uniqueness.duplicate_keys_s"] = (rec["seconds"], "s")
        run.layer["uniqueness.shuffle_write_bytes"] = (rec["shuffle_write_bytes"], "B")

    rec, keys = run.op(
        "referential.collect_catalog_keys",
        lambda: collect_catalog_keys(st["catalog"]),
        lambda k: expect(len(k) == meta["catalog_keys"], "catalog key count"))
    if rec:
        run.layer["referential.catalog_keys_s"] = (rec["seconds"], "s")
    if keys is not None:
        udf = orphan_refs_rowlocal_udf(run.spark, keys)
        rec, _ = run.op(
            "referential.orphan_refs_rowlocal_udf",
            lambda: docs.select(udf(span_refs_column()).alias("o"))
            .filter(F.size("o") > 0).count(),
            lambda n: expect(n == meta["orphan_docs"], "orphan row count"))
        if rec:
            run.layer["referential.orphan_udf_s"] = (rec["seconds"], "s")
            run.layer["referential.python_cpu_s"] = (rec["python_cpu_s"], "s")

    cfg = DEFAULT_CONFIG.drift
    hist = length_histogram(docs, bins=cfg.histogram_bins,
                            bin_width=cfg.histogram_bin_width).cache()
    rec, _ = run.op(
        "stats.length_histogram", hist.collect,
        lambda rows: expect(sum(r["count"] for r in rows) == meta["spans"], "span total"))
    if rec:
        run.layer["stats.length_histogram_s"] = (rec["seconds"], "s")
    rec, _ = run.op(
        "drift.drift_verdicts",
        lambda: drift_verdicts(
            hist, st["baseline"], keys=["kind"],
            psi_threshold=cfg.psi_threshold_global,
            ks_threshold=cfg.ks_threshold_global, check_prefix="drift_len",
            chi2_threshold=cfg.chi2_threshold_global,
            jsd_threshold=cfg.jsd_threshold_global).collect(),
        lambda rows: expect(rows and all(r.verdict in ("pass", "fail") for r in rows),
                            "drift verdict rows"))
    hist.unpersist()
    if rec:
        run.layer["drift.drift_verdicts_s"] = (rec["seconds"], "s")

    with open(os.path.join(run.root, "examples", "contract.json")) as f:
        contract = contract_from_dict(json.load(f)["contract"])
    rec, _ = run.op(
        "contract.contract_verdicts",
        lambda: contract_verdicts(docs, contract).collect(),
        lambda rows: expect(rows and all(r.verdict in ("pass", "fail") for r in rows),
                            "contract verdict rows"))
    if rec:
        run.layer["contract.contract_verdicts_s"] = (rec["seconds"], "s")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def full_pass(run: Run) -> None:
    """Warm, manifest-less run_validation over the generated corpus with
    the media catalog and a stored drift baseline (the flagship path)."""
    from anomalydetection_spark import fixtures
    from anomalydetection_spark.plans.pipeline import run_validation

    inp = run.inputs
    first_touch = _read_docs(inp)
    expected = fixtures.expected_violation_doc_ids(inp["n_docs"], inp["seed"])
    reference: list = []

    def check(res):
        try:
            got = _violation_sets(res)
            for check_name, key in EXPECTED_KEYS.items():
                expect(got.get(check_name, set()) == expected[key],
                       f"{check_name} violation doc set")
            rows = _verdict_rows(res.verdicts.collect())
            if not reference:
                reference.append(rows)
            expect(rows == reference[0], "verdicts differ between passes")
        finally:
            _release(res)

    st = run.start(first_touch)

    def one_pass(**kw):
        return lambda: run_validation(
            run.spark, st["docs"], catalog=kw.get("catalog", st["catalog"]),
            baseline_hist=kw.get("baseline", st["baseline"]))

    cold, _ = run.op("pipeline.run_validation.cold", one_pass(), check)
    cold_s = cold["seconds"] if cold else float("nan")
    recs = run.warm("pipeline.run_validation", one_pass(), check)
    warm = [r["seconds"] for r in recs]
    n = inp["n_docs"]
    run.report.update({
        "validated_docs_per_s": (n / _median(warm), "docs/s"),
        "cold_pass_s": (cold_s, "s"),
        "warm_passes": (len(warm), "count"),
        "n_docs": (n, "docs"),
    })
    if run.tracer.enabled:
        run.layer["pipeline.pass_s"] = (_median(warm), "s")
        run.layer_from(recs)
        for name, kw in (("no_catalog", {"catalog": None}), ("no_drift", {"baseline": None})):
            rec, _ = run.op(f"pipeline.run_validation.{name}", one_pass(**kw), _release)
            if rec:
                run.layer[f"pipeline.{name}_s"] = (rec["seconds"], "s")
        _layer_probes(run, st, inp["meta"], expected["uniqueness"])
        if reference:
            _manifest_probes(run, st, inp, reference[0])
            _stream_probes(run, st, inp["backlog"], reference[0])
        run.trace_totals()
    run.finish(cold_s, warm, first_touch)


def _manifest_probes(run: Run, st: dict, inp: dict, base_verdicts: list) -> None:
    """The incremental path, traced: a manifest cold-start commit with
    ``violations_dir``, then a revalidation after CHANGED_PARTITIONS
    partitions changed, with the Manifest methods wrapped in spans
    (class attributes, restored afterwards; the package is not edited).

    The revalidation must touch exactly the changed partitions and give
    them the verdicts a full pass over the changed corpus gives. The
    change (inputs.changed_corpus) appends a clean text span to each
    non-empty doc, which leaves every per-partition check outcome as it
    was, so that full pass equals ``base_verdicts``, the checked full
    pass over the unchanged corpus; this saves a third pass."""
    from anomalydetection_spark.plans.pipeline import run_validation
    from anomalydetection_spark.sources.manifest import Manifest, partition_snapshots

    changed = set(inp["changed"])
    changed_docs = run.spark.read.parquet(inp["changed_docs"])
    rec, _ = run.op(
        "manifest.partition_snapshots",
        lambda: partition_snapshots(changed_docs).collect(),
        lambda rows: expect(sum(r.n_rows for r in rows) == inp["n_docs"], "snapshot rows"))
    if rec:
        run.layer["manifest.partition_snapshots_s"] = (rec["seconds"], "s")

    mdir = os.path.join(run.scratch, "manifest")
    vdir = {k: os.path.join(run.scratch, f"violations_{k}") for k in ("cold", "re")}

    def validate(docs, run_id):
        return lambda: run_validation(
            run.spark, docs, catalog=st["catalog"], baseline_hist=st["baseline"],
            manifest_dir=mdir, violations_dir=vdir[run_id], run_id=run_id,
            now="2026-01-01T00:00:00Z")

    def cold_check(res):
        _release(res)
        expect(sorted(res.validated_partitions) == inp["meta"]["partitions"],
               "cold start validated every partition")

    rec, _ = run.op("manifest.cold_start_commit", validate(st["docs"], "cold"), cold_check)
    if rec is None:
        return
    run.report["cold_commit_s"] = (rec["seconds"], "s")

    names = ("pending_partitions", "acquire_leases", "commit_validated")
    seconds = dict.fromkeys(names, 0.0)
    saved = {n: getattr(Manifest, n) for n in names}

    def wrap(name, fn):
        def timed(self, *a, **kw):
            with run.tracer.span(f"manifest.{name}", spark_counters=False) as r:
                out = fn(self, *a, **kw)
            seconds[name] += r["seconds"]
            return out
        return timed

    got: list = []

    def re_check(res):
        got.append(_verdict_rows(res.verdicts.collect(), changed))
        _release(res)
        expect(set(res.validated_partitions) == changed,
               "revalidation touched exactly the changed partitions")

    for n in names:
        setattr(Manifest, n, wrap(n, saved[n]))
    try:
        rec, _ = run.op("manifest.revalidate", validate(changed_docs, "re"), re_check)
    finally:
        for n in names:
            setattr(Manifest, n, saved[n])
    if rec is None:
        return
    run.report["revalidate_s"] = (rec["seconds"], "s")
    for n in names:
        run.layer[f"manifest.{n}_s"] = (seconds[n], "s")
    run.layer["manifest.violations_bytes"] = (_dir_bytes(vdir["re"]), "B")

    want = [r for r in base_verdicts if r[1] in changed]
    run.check("manifest.revalidation_verdicts",
              lambda: expect(got == [want], "revalidation verdicts equal a full pass"))


def _stream_probes(run: Run, st: dict, backlog: dict, base_verdicts: list) -> None:
    """The micro-batch path, traced: an AvailableNow drain of a
    prewritten backlog (STREAM_FILES of the corpus's partition files)
    through stream_validate, with the catalog, the baseline and
    emit_violations; maxFilesPerTrigger=8 is fixed by the library.
    Checks one verdicts and one violations directory per batch_id, and
    that the row-local check counts summed over the batches equal those
    of the checked full pass (``base_verdicts``) over the same
    partitions: row-local counts do not depend on what else a pass
    reads."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.streaming.incremental import stream_validate

    out = os.path.join(run.scratch, "stream_out")
    parts = set(backlog["partitions"])

    def drain():
        q = stream_validate(run.spark, backlog["docs"], out, os.path.join(run.scratch, "stream_ck"),
                            catalog=st["catalog"], baseline_hist=st["baseline"],
                            emit_violations=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p.numInputRows > 0]

    def check(progress):
        expect(sum(p.numInputRows for p in progress) >= backlog["n_docs"], "backlog drained")
        ids = {f"batch_id={p.batchId}" for p in progress}
        for sink in ("verdicts", "violations"):
            expect(set(os.listdir(os.path.join(out, sink))) - {"_SUCCESS"} == ids,
                   f"one {sink} directory per batch_id")
        rows = run.spark.read.parquet(os.path.join(out, "verdicts")).filter(
            F.col("partition_id").isNotNull()).collect()
        want: dict = {}
        for check_name, pid, _, n_viol, _ in base_verdicts:
            if pid in parts and check_name in ROW_LOCAL_CHECKS:
                want[check_name] = want.get(check_name, 0) + (n_viol or 0)
        expect(_row_local_sums(rows) == want, "stream counts equal the batch pass")

    rec, progress = run.op("stream.stream_validate", drain, check)
    if rec is None:
        return
    trig = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
    add = [p.durationMs.get("addBatch", 0) / 1e3 for p in progress]
    run.report.update({
        "stream_docs_per_s": (backlog["n_docs"] / rec["seconds"], "docs/s"),
        "stream_batch_p50_s": (_median(trig), "s"),
    })
    run.layer.update({
        "stream.add_batch_p50_s": (_median(add), "s"),
        "stream.trigger_p50_s": (_median(trig), "s"),
        "stream.input_rows_per_doc": (
            sum(p.numInputRows for p in progress) / backlog["n_docs"], "ratio"),
        "stream.batches": (len(progress), "count"),
    })


def _row_local_sums(rows) -> dict:
    sums: dict = {}
    for r in rows:
        if r.partition_id is not None and r.check in ROW_LOCAL_CHECKS:
            sums[r.check] = sums.get(r.check, 0) + (r.n_violations or 0)
    return sums


def _check_oracles_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def catalog(run: Run) -> None:
    """CATALOG_SUBSET over the vendored sf0.01 tables: every query's
    first execution in the fresh JVM, then warm sweeps; every result is
    hashed against its DuckDB oracle the way tools/check_oracles.py
    does."""
    import duckdb

    from anomalydetection_spark.queries import ORACLES, QUERIES

    oracles = _check_oracles_module(run.root)
    data = run.inputs["data"]

    def first_touch(spark):
        return {t: spark.read.parquet(os.path.join(data, f"{t}.parquet")).schema
                for t in CATALOG_TABLES}

    run.start(first_touch)
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    want = {}
    for q in CATALOG_SUBSET:
        res = con.execute(ORACLES[q])
        cols = [d[0].lower() for d in res.description]
        want[q] = (len(cols), oracles.value_hash(res.fetchall(), cols))
    con.close()

    def query(q):
        def fn():
            df = QUERIES[q](run.spark, data)
            cols = [f.name.lower() for f in df.schema.fields]
            return cols, [tuple(r) for r in df.collect()]
        return fn

    def check(q):
        def fn(out):
            cols, rows = out
            expect((len(cols), oracles.value_hash(rows, cols)) == want[q],
                   f"{q} value hash differs from the DuckDB oracle")
        return fn

    def sweep(tag):
        recs = {}
        for q in CATALOG_SUBSET:
            rec, _ = run.op(f"catalog.{q}.{tag}", query(q), check(q))
            if rec:
                recs[q] = rec
        return recs

    cold = sweep("cold")
    cold_s = sum(r["seconds"] for r in cold.values())
    sweeps, t_end = [], host.now() + run.seconds
    while host.now() < t_end or len(sweeps) < run.min_warm:
        sweeps.append(sweep("warm"))
    warm = [sum(r["seconds"] for r in s.values()) for s in sweeps]
    run.report.update({
        "catalog_cold_s": (cold_s, "s"),
        "catalog_warm_s": (_median(warm), "s"),
        "catalog_queries": (len(CATALOG_SUBSET), "count"),
        "warm_sweeps": (len(sweeps), "count"),
    })
    if run.tracer.enabled:
        for q in CATALOG_SUBSET:
            w = [s[q] for s in sweeps if q in s]
            if q in cold:
                run.layer[f"catalog.{q}.cold_s"] = (cold[q]["seconds"], "s")
            if w:
                run.layer[f"catalog.{q}.warm_s"] = (_median(r["seconds"] for r in w), "s")
                run.layer[f"catalog.{q}.jobs"] = (_median(r["jobs"] for r in w), "count")
            if q in CATALOG_TARGETS and w:
                run.layer[f"catalog.{q}.stages"] = (_median(r["stages"] for r in w), "count")
                run.layer[f"catalog.{q}.shuffle_bytes"] = (
                    _median(r["shuffle_read_bytes"] for r in w), "B")
        per_sweep = [{k: sum(r[k] for r in s.values())
                      for k in (*COUNTERS, "self_s", "seconds")} for s in sweeps]
        run.layer_from(per_sweep)
        run.trace_totals()
    run.finish(cold_s, warm, first_touch)


@dataclass
class Workload:
    body: Callable
    prepare: Callable


def _prepare_full_pass(cache: str, seed: int, size: str) -> dict:
    inp = gen.docs_inputs(cache, SIZES[size], seed, N_MEDIA)
    ch = gen.changed_corpus(cache, inp, CHANGED_PARTITIONS)
    return {**inp, "changed_docs": ch["docs"], "changed": ch["changed"],
            "backlog": gen.backlog(cache, inp, STREAM_FILES)}


def _prepare_catalog(cache: str, seed: int, size: str) -> dict:
    # the queries' oracles are defined over this fixed snapshot, so the
    # seed does not change the catalog's inputs
    return {"data": CATALOG_DATA}


# host.require floors per input size
NEEDS = {"full": {"min_mem_gb": 6, "min_disk_gb": 2},
         "tiny": {"min_mem_gb": 3, "min_disk_gb": 1}}

WORKLOADS = {
    "full_pass": Workload(full_pass, _prepare_full_pass),
    "catalog": Workload(catalog, _prepare_catalog),
}
