"""End-to-end validation pipeline: the engine's analog of the
reference's per-file poll loop (/root/reference/main.py:136-275) →
ensemble pass (:277-357), restructured for Spark:

  manifest anti-join (partition discovery, S5)        — driver + 1 agg
  → small check inputs (dup keys, the referential side from
    operators/referential.py::referential_side) — narrow column scans
  → drift: ONE keyed-shuffle plan over the bounded histograms
    (operators/drift.py), launched with the small scans so it overlaps
    them and the wide scan; its collect also fills the current-
    histogram cache
  → ONE wide scan emitting every violation row (conformance flags are
    row-local; uniqueness/referential attach via broadcast joins),
    materialized by the collect of its per-partition count grid
  → rate gates judged on the driver from that grid and the partition
    totals (no re-scan); partition, drift and contract rows become the
    verdict DataFrame once
  → atomic manifest commit (lineage + metrics)

Everything between discovery and the commit is one pass core,
``_validate_pass``; ``run_validation`` is the manifest shell around it,
and every stream micro-batch (streaming/incremental.py) runs the same
core, so batch and stream verdicts share one definition.

Scan budget per pass (the thing that matters at 100 TB): one snapshot
hash pass, one key-column pass (uniqueness), one exploded-refs pass
(referential, Bloom built once), one full-width violations pass, one
text-length pass (drift input). Everything downstream — verdicts,
rollups, drift — works on bounded-size intermediates, each at most
one Spark job (two for drift). An earlier draft derived verdicts and
violations independently (~10 scans, Bloom built twice); the rewrite
roughly halves wall time and removes the worst thread-contention
stages.

Resume semantics: a crash before the manifest commit leaves CURRENT
pointing at the previous version; the next run's pending set is
unchanged and staged outputs under the dead run_id are simply
re-staged (idempotent, keyed on snapshot hash — S2/S5,
database_manager.py:84-103).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ValidationConfig
from ..operators import drift as drift_ops
from ..operators import stats as stats_ops
from ..operators import referential as ref_ops
from ..operators.uniqueness import duplicate_keys
from ..operators.verdict import global_verdict
from ..sources.manifest import Manifest, partition_snapshots

class Check(NamedTuple):
    """One validation check: its verdict name, the violation-row
    family (the ``check`` value of its violation rows), the
    ValidationConfig rate gate it is judged by, and — for the
    row-local conformance checks — a factory for its boolean flag
    Column. Conformance rows name every raised flag in their comma
    ``detail``; uniqueness and referential rows come from keyed side
    inputs (the dup-key set, catalog membership)."""

    name: str
    family: str
    gate: str
    flag: Callable[[], Column] | None = None


# THE check table: every verdict, violation family, gate, capped count
# and pre-flight estimate derives from it, in this order.
CHECKS = (
    Check("uniqueness", "uniqueness", "max_dup_rate"),
    Check("null_spans", "conformance", "max_null_rate",
          stats_ops.null_spans_flag),
    Check("empty_spans", "conformance", "max_null_rate",
          stats_ops.empty_spans_flag),
    Check("offset_monotonicity", "conformance", "max_type_error_rate",
          stats_ops.nonmonotone_flag),
    Check("null_span_kind", "conformance", "max_type_error_rate",
          stats_ops.null_kind_flag),
    Check("span_coherence", "conformance", "max_type_error_rate",
          stats_ops.incoherent_flag),
    Check("referential", "referential", "max_orphan_rate"),
)


def active_checks(has_catalog: bool) -> list[Check]:
    """The checks a pass judges: referential needs a catalog."""
    return [c for c in CHECKS if has_catalog or c.family != "referential"]


def _check_hits() -> list[tuple[str, Column]]:
    """(check name, 0/1 Column): whether a violation row counts toward
    the check — its family matches and, for conformance, the check's
    name is in the row's detail. Summed per partition (plain or over
    the capping window) these are the verdict counts."""
    out = []
    for c in CHECKS:
        hit = F.col("check") == c.family
        if c.flag is not None:
            hit = hit & F.col("detail").contains(c.name)
        out.append((c.name, F.when(hit, 1).otherwise(0)))
    return out


@dataclass
class ValidationResult:
    verdicts: DataFrame          # per-partition + table-level rows
    violations: DataFrame        # exact violation rows (all checks)
    validated_partitions: list[int]
    manifest_version: int
    # True when the violations are exemplar-capped (K rows per check x
    # partition): verdict counts are exact but the violation ROWS are a
    # subset — consumers needing the full set (quarantine, feedback
    # review) must check this
    capped: bool = False
    # the pass's own (kind x bucket) length histogram, already
    # materialized when a drift baseline was supplied — callers can
    # persist it as the NEXT baseline without re-scanning the table
    current_hist: DataFrame | None = None


BROADCAST_MAX_ROWS = 100_000


def _all_violations(
    scope: DataFrame,
    dups: DataFrame,
    orphan_doc: DataFrame | None,
    broadcast_orphans: bool = True,
    orphan_udf=None,
    broadcast_dups: bool = True,
    unique_key="doc_id",
) -> DataFrame:
    """One wide scan → every violation row (VIOLATIONS_SCHEMA shape).

    Conformance flags are row-local expressions; uniqueness attaches
    via a broadcast join on the (tiny) dup-key set. Referential comes
    in two shapes, chosen by catalog size in
    operators/referential.py::referential_side:

    * ``orphan_udf`` (broadcastable catalog — the common case): a
      vectorized membership check over each row's projected refs array
      (operators/referential.py::orphan_refs_rowlocal_udf). Row-local →
      the wide scan never shuffles and needs no exploded-refs pre-scan.
      The earlier join-based shape shuffled the ENTIRE wide scope
      (spans included) through a sort-merge join against the per-doc
      orphan aggregate — the dominant non-scaling cost of the pass at
      16M docs (~13 s of a 29 s stage at local[8]).
    * ``orphan_doc`` join (catalog too large to broadcast): the per-row
      orphan aggregate (referential.py::orphan_rows) from the salted
      anti-join pre-scan, attached by join — broadcast only while that
      side is genuinely small (``broadcast_orphans``).

    Each violating doc emits one row per failed check, spans verbatim."""
    dups_b = F.broadcast(dups) if broadcast_dups else dups
    # attach on the CONFIGURED uniqueness key — duplicate_keys returns
    # (key..., dup_cnt), so the join columns must mirror cfg.unique_key
    # (a composite key joins on every part)
    key_cols = (
        [unique_key] if isinstance(unique_key, str) else list(unique_key)
    )
    flagged = scope.join(dups_b, key_cols, "left")
    if orphan_udf is not None:
        # one ArrowEvalPython stage; the empty→null rewrite happens on
        # the column ref so the UDF runs once per row
        flagged = (
            flagged.withColumn(
                "_oarr", orphan_udf(ref_ops.span_refs_column())
            )
            .withColumn(
                "orphan_refs",
                F.when(F.size("_oarr") > 0, F.col("_oarr")),
            )
            .withColumn(
                "n_orphans",
                F.when(
                    F.col("orphan_refs").isNotNull(),
                    F.size("orphan_refs").cast("long"),
                ),
            )
            .drop("_oarr")
        )
    elif orphan_doc is not None:
        od = F.broadcast(orphan_doc) if broadcast_orphans else orphan_doc
        flagged = (
            flagged.withColumn("row_fp", F.xxhash64("spans"))
            .join(od, ["doc_id", "partition_id", "row_fp"], "left")
            .drop("row_fp")
        )
    else:
        flagged = flagged.withColumn(
            "n_orphans", F.lit(None).cast("long")
        ).withColumn("orphan_refs", F.lit(None).cast("array<string>"))

    conf_detail = F.concat_ws(
        ",", *[F.when(c.flag(), c.name) for c in CHECKS if c.flag is not None]
    )
    # violation-row family → (raised, detail, score)
    rows = {
        "uniqueness": (
            F.col("dup_cnt").isNotNull(),
            F.concat(F.lit("dup_cnt="), F.col("dup_cnt")),
            F.col("dup_cnt").cast("double"),
        ),
        "conformance": (conf_detail != "", conf_detail, F.lit(1.0)),
        "referential": (
            F.col("n_orphans").isNotNull(),
            F.concat(
                F.lit("orphan_refs="), F.concat_ws(",", "orphan_refs")
            ),
            F.col("n_orphans").cast("double"),
        ),
    }
    check_struct = "struct<check:string,detail:string,score:double>"
    raised_checks = []
    for family in dict.fromkeys(c.family for c in CHECKS):
        raised, detail, score = rows[family]
        raised_checks.append(
            F.when(
                raised,
                F.struct(
                    F.lit(family).alias("check"),
                    detail.alias("detail"),
                    score.alias("score"),
                ),
            ).cast(check_struct)
        )
    checks_arr = F.array(*raised_checks)
    return (
        flagged.select(
            "doc_id",
            "partition_id",
            "spans",
            F.explode(F.filter(checks_arr, lambda x: x.isNotNull())).alias("c"),
        )
        .select(
            F.col("c.check").alias("check"),
            F.col("partition_id").cast("int"),
            "doc_id",
            F.col("c.detail").alias("detail"),
            F.col("c.score").alias("score"),
            "spans",
        )
    )


# verdict rows: table-level rows carry partition_id NULL
VERDICTS_DDL = (
    "check string, partition_id int, n_rows long, n_violations long,"
    " violation_rate double, score double, verdict string"
)


def _count_grid(violations: DataFrame, capped: bool = False) -> dict:
    """Per-partition check counts ``{partition_id: {check: n}}`` in ONE
    collect over the violation rows — the action that materializes a
    cached violations frame. Counts are the ``_check_hits`` sums or,
    on an exemplar-capped stream, the max of the ``__cnt_<check>``
    counts stamped by ``_cap_violations`` (a group's count is constant
    on its rows and 0 on every other group's; row counts are capped,
    the stamped counts are not)."""
    aggs = (
        [F.max(f"__cnt_{c.name}").alias(c.name) for c in CHECKS]
        if capped
        else [F.sum(hit).alias(name) for name, hit in _check_hits()]
    )
    return {
        r.partition_id: r.asDict()
        for r in violations.groupBy("partition_id").agg(*aggs).collect()
    }


def _grid_to_verdicts(
    grid: dict,
    totals: dict,
    has_catalog: bool,
    cfg: ValidationConfig = DEFAULT_CONFIG,
) -> list[tuple]:
    """Per-partition verdict rows (``VERDICTS_DDL`` order), judged on
    the driver from the count grid and the partition totals
    ``{partition_id: n_rows}`` — partitions × checks, metadata scale.

    n_violations counts VIOLATING DOCS per check (one row per doc per
    check in the violations table). rate = n_violations / n_rows, and a
    check fails its partition iff rate > its configured gate (F11
    semantics with per-check thresholds: any dup/orphan fails —
    max_dup_rate/max_orphan_rate 0 — while conformance tolerates up to
    max_null_rate/max_type_error_rate; exact violation rows are
    emitted regardless)."""
    checks = active_checks(has_catalog)
    rows = []
    for pid, n_rows in sorted(totals.items()):
        counts = grid.get(pid, {})
        for c in checks:
            n = int(counts.get(c.name) or 0)
            rate = n / n_rows if n_rows else None
            failed = rate is not None and rate > getattr(cfg, c.gate)
            rows.append((
                c.name, pid, n_rows, n, rate, rate,
                "fail" if failed else "pass",
            ))
    return rows


_CAP_HELPER_COLS = [f"__cnt_{c.name}" for c in CHECKS]


def _cap_violations(violations: DataFrame, k: int) -> DataFrame:
    """Exemplar-capped violation stream: at most ``k`` rows per
    (check, partition), each carrying the EXACT per-check counts of its
    group as window aggregates (``__cnt_<check>``) so verdicts stay
    exact without a second pass over the stream.

    Cost model: ONE shuffle of the violation stream (violation-rate ×
    table, i.e. the thing this cap exists to shrink on the way to the
    sink) — the wide table itself is still scanned exactly once. Every
    non-empty (check, partition) group keeps ≥1 exemplar (k >= 1), so
    the counts survive onto at least one materialized row per group."""
    if k < 1:
        raise ValueError("max_violation_exemplars must be >= 1")
    w = Window.partitionBy("check", "partition_id")
    out = violations.withColumn(
        "__rn", F.row_number().over(w.orderBy("doc_id", "detail"))
    )
    for name, hit in _check_hits():
        out = out.withColumn(f"__cnt_{name}", F.sum(hit).over(w))
    return out.filter(F.col("__rn") <= k).drop("__rn")


class _Pass(NamedTuple):
    """One judged pass (``_validate_pass``): the discovery rows of the
    judged partitions, their verdict rows, the drift and contract
    verdict rows, the violation rows (VIOLATIONS_SCHEMA), the current
    histogram, and the caches behind ``violations`` and ``cur_hist`` —
    a caller that drops those frames unpersists ``held``."""

    parts: dict
    part_verdicts: list[tuple]
    table_rows: list[tuple]
    violations: DataFrame
    cur_hist: DataFrame | None
    held: list[DataFrame]


def _collect_parts(df: DataFrame) -> dict:
    return {r.partition_id: r for r in df.collect()}


def _validate_pass(
    spark: SparkSession,
    scope: DataFrame,
    build_side: Callable[[], ref_ops.ReferentialSide | None],
    cfg: ValidationConfig,
    key_scope: DataFrame | None = None,
    baseline_hist: DataFrame | None = None,
    contract=None,
    discovery: DataFrame | dict | None = None,
    admit: Callable[[list], None] | None = None,
    sink: str | None = None,
    mark: Callable[[str], None] = lambda phase: None,
) -> _Pass | None:
    """The pass core of ``run_validation`` and of every stream
    micro-batch: judge the partitions of ``scope``. None when it has
    none.

    One concurrent window on a 4-thread driver pool: the dup-key scan
    over ``key_scope`` (default ``scope``), partition discovery, the one
    drift plan against ``baseline_hist`` (its collect fills the
    ``cur_hist`` cache) and the contract aggregate run while the driver
    builds the referential side (``build_side`` is called once, after
    those jobs are submitted, so its catalog-key collect overlaps
    them). ``discovery`` is the partition rows (partition_id, n_rows,
    …) already collected as a dict, or a frame collected in the window
    (default: the per-partition counts of ``scope``); ``admit`` gets
    the partition list before the wide scan starts (the lease point).

    Then ONE wide scan emits every violation row, exemplar-capped per
    ``cfg.max_violation_exemplars``. With a ``sink`` path the rows are
    written there (overwrite, VIOLATIONS_SCHEMA columns only) and read
    back; without one they are cached. The per-partition count grid is
    the action that materializes them, and the driver judges it."""
    pool = ThreadPoolExecutor(max_workers=4)
    dups = duplicate_keys(
        scope if key_scope is None else key_scope,
        cfg.unique_key,
        cfg.salt_buckets,
    ).cache()
    orphan_doc = None
    try:
        fut_dups = pool.submit(dups.count)
        fut_parts = None
        if not isinstance(discovery, dict):
            if discovery is None:
                discovery = scope.groupBy("partition_id").agg(
                    F.count("*").alias("n_rows")
                )
            fut_parts = pool.submit(_collect_parts, discovery)
        # drift depends only on scope — start it NOW, so the one
        # keyed-shuffle drift plan (which also fills the cur_hist
        # cache) overlaps the dup-key, totals and wide scans instead
        # of queueing behind them
        cur_hist = fut_drift = fut_contract = None
        if baseline_hist is not None:
            cur_hist = stats_ops.length_histogram(
                scope,
                bins=cfg.drift.histogram_bins,
                bin_width=cfg.drift.histogram_bin_width,
            ).cache()
            fut_drift = pool.submit(
                drift_ops.drift_verdicts(
                    cur_hist,
                    baseline_hist,
                    keys=["kind"],
                    psi_threshold=cfg.drift.psi_threshold_global,
                    ks_threshold=cfg.drift.ks_threshold_global,
                    check_prefix="drift_len",
                    chi2_threshold=cfg.drift.chi2_threshold_global,
                    jsd_threshold=cfg.drift.jsd_threshold_global,
                ).collect
            )
        # optional declarative schema contract (structural tier is
        # driver-side metadata only; data tier is one narrow agg pass,
        # run in the same concurrent window)
        if contract is not None:
            from ..operators.contract import contract_verdicts

            fut_contract = pool.submit(
                contract_verdicts(scope, contract).select(
                    F.concat_ws(":", F.col("check"), F.col("column")).alias(
                        "check"
                    ),
                    F.lit(None).cast("int").alias("partition_id"),
                    F.lit(None).cast("long").alias("n_rows"),
                    "n_violations",
                    "violation_rate",
                    F.col("n_violations").cast("double").alias("score"),
                    "verdict",
                ).collect
            )
        side = build_side()
        orphan_udf = None
        broadcast_orphans = True
        if side is not None and side.rowlocal_udf is not None:
            orphan_udf = side.rowlocal_udf
        elif side is not None:
            orphan_doc = ref_ops.orphan_rows(scope, side).cache()
            # materializing the cache also tells us whether this side
            # is still broadcast-sized — at a high violation rate it is
            # not, and a forced driver-serial broadcast would dominate
            # the pass
            broadcast_orphans = orphan_doc.count() <= BROADCAST_MAX_ROWS
        # a pathological table could have more dup keys than fit a
        # forced broadcast — same serialized-size ceiling as the
        # catalog broadcast ((key, count) rows are catalog-key-sized);
        # beyond it the attach degrades to a shuffle join rather than
        # OOMing executors
        broadcast_dups = (
            fut_dups.result() <= ref_ops.BROADCAST_MAX_CATALOG_ROWS
        )
        parts = discovery if fut_parts is None else fut_parts.result()
        if not parts:
            return None
        if admit is not None:
            admit(sorted(parts))
        mark("small_scans")

        violations = _all_violations(
            scope,
            dups,
            orphan_doc,
            broadcast_orphans,
            orphan_udf=orphan_udf,
            broadcast_dups=broadcast_dups,
            unique_key=cfg.unique_key,
        )
        capped = cfg.max_violation_exemplars is not None
        if capped:
            violations = _cap_violations(
                violations, cfg.max_violation_exemplars
            )
        held = [] if cur_hist is None else [cur_hist]
        if sink is not None and not capped:
            violations.write.mode("overwrite").parquet(sink)
            violations = spark.read.parquet(sink)
            grid = _count_grid(violations)
        else:
            # capped counts ride the helper columns, which never reach
            # the sink: count the (bounded) capped rows from a cache,
            # then write their VIOLATIONS_SCHEMA columns
            counted = violations.cache()
            grid = _count_grid(counted, capped)
            if capped:
                violations = counted.drop(*_CAP_HELPER_COLS)
            if sink is None:
                held.append(counted)
            else:
                violations.write.mode("overwrite").parquet(sink)
                violations = spark.read.parquet(sink)
                counted.unpersist()
        table_rows = [
            tuple(r)
            for fut in (fut_drift, fut_contract) if fut is not None
            for r in fut.result()
        ]
    finally:
        pool.shutdown(wait=False)
        # the dup/orphan inputs are dead once the violations are
        # materialized; in a long-lived session repeated passes would
        # otherwise pin them until eviction churn hits the caches that
        # matter
        dups.unpersist()
        if orphan_doc is not None:
            orphan_doc.unpersist()
    mark("violations")
    part_verdicts = _grid_to_verdicts(
        grid,
        {pid: r.n_rows for pid, r in parts.items()},
        has_catalog=side is not None,
        cfg=cfg,
    )
    return _Pass(parts, part_verdicts, table_rows, violations, cur_hist, held)


def run_validation(
    spark: SparkSession,
    docs: DataFrame,
    catalog: DataFrame | None = None,
    baseline_hist: DataFrame | None = None,
    manifest_dir: str | None = None,
    violations_dir: str | None = None,
    run_id: str = "run0",
    now: str = "1970-01-01T00:00:00Z",
    cfg: ValidationConfig = DEFAULT_CONFIG,
    timings: dict | None = None,
    catalog_size_hint: int | None = None,
    contract=None,
) -> ValidationResult:
    """Full constraint + drift pass with resumable checkpointing.

    The manifest shell around ``_validate_pass``: partition discovery
    and leases, the table-level rollup and the manifest commit.
    ``now`` is injected (never wall-clock) for deterministic tests.
    ``timings``: optional dict populated with per-phase wall seconds
    (discovery / small_scans / violations / verdicts) for scaling
    profiles and production observability.
    """
    import time as _time

    _t0 = _time.time()

    def _mark(phase: str) -> None:
        nonlocal _t0
        if timings is not None:
            t = _time.time()
            timings[phase] = round(t - _t0, 3)
            _t0 = t

    manifest = Manifest(manifest_dir) if manifest_dir else None

    def _empty_result() -> ValidationResult:
        from ..schema import VIOLATIONS_SCHEMA

        return ValidationResult(
            spark.createDataFrame([], schema=VERDICTS_DDL),
            spark.createDataFrame([], schema=VIOLATIONS_SCHEMA),
            [],
            manifest.current_version() if manifest else 0,
        )

    # No manifest → every partition with rows is pending by
    # construction, so (a) scope ≡ docs — no isin() filter in any
    # downstream plan — and (b) NOTHING depends on the discovery
    # collect until verdict time: the per-partition totals collect runs
    # in the pass's concurrent window. Snapshot hashing (full-width
    # pass) only pays when a manifest exists to compare against.
    scope = docs
    discovery = None
    admit = None
    if manifest is not None and manifest.current_version() == 0:
        # EMPTY manifest (cold start): change detection has nothing to
        # compare against, so every partition with rows is pending by
        # construction — the snapshot-hash scan still has to run (the
        # commit records the hashes) but it no longer needs to GATE
        # the pass: its rows (ids, totals and hashes in one collect)
        # arrive in the concurrent window like the no-manifest totals.
        # Leases are acquired as soon as the partition list lands
        # (before the wide scan materializes — the expensive,
        # restart-worthy part); a crash before that point leaves no
        # manifest record, which is the same clean re-run a pre-pass
        # crash produces.
        discovery = partition_snapshots(docs)

        def admit(pending: list) -> None:
            manifest.acquire_leases(pending, run_id, now)

    elif manifest is not None:
        snaps = partition_snapshots(docs).cache()
        pending = sorted(manifest.pending_partitions(snaps))
        manifest.acquire_leases(pending, run_id, now)
        if not pending:
            snaps.unpersist()
            return _empty_result()
        # the commit's rows, read once from the cache, also give the
        # per-partition totals
        parts = _collect_parts(snaps)
        snaps.unpersist()
        discovery = {pid: parts[pid] for pid in pending}
        # Partition pruning: only unvalidated partitions are read
        # further. Deliberately NOT cached: each stage projects a
        # narrow column subset, so parquet re-scans (vectorized,
        # column-pruned) beat a full-row block-manager cache — caching
        # the spans column in object form benchmarked 2-10x slower at
        # high core counts (GC + eviction churn) and is a non-starter
        # at 100 TB anyway.
        scope = docs.filter(F.col("partition_id").isin(pending))
    _mark("discovery")

    # key_scope=docs: duplicate *detection* scans the full table's key
    # column so cross-partition dups stay visible to incremental runs;
    # attribution stays within scope via the broadcast join
    p = _validate_pass(
        spark,
        scope,
        lambda: ref_ops.referential_side(
            spark, catalog, cfg.salt_buckets, catalog_size_hint
        ),
        cfg,
        key_scope=docs,
        baseline_hist=baseline_hist,
        contract=contract,
        discovery=discovery,
        admit=admit,
        sink=(
            os.path.join(violations_dir, f"_staged_{run_id}")
            if violations_dir is not None
            else None
        ),
        mark=_mark,
    )
    if p is None:
        return _empty_result()
    parts, pending = p.parts, sorted(p.parts)

    # --- verdicts: the partition rows judged on the driver, joined with
    # the drift and contract rows and turned into a DataFrame ONCE — a
    # local relation, so the whole downstream verdict surface
    # (table-level rollup, caller .count()/.show()) runs on local data ---
    verdicts = spark.createDataFrame(
        p.part_verdicts + p.table_rows, schema=VERDICTS_DDL
    )

    # --- table-level rollup (the "ensemble" two-level verdict) ---
    verdicts = verdicts.unionByName(
        global_verdict(verdicts.filter(F.col("partition_id").isNotNull()))
    )

    _mark("verdicts")
    manifest_version = 0
    if manifest is not None:
        outcomes = _partition_outcomes(p.part_verdicts)
        records = []
        for pid in pending:
            n_violations, failed = outcomes[pid]
            records.append(
                {
                    "partition_id": pid,
                    "snapshot_hash": parts[pid].snapshot_hash,
                    "n_rows": parts[pid].n_rows,
                    "n_violations": n_violations,
                    "verdict": "fail" if failed else "pass",
                    "metrics": {"n_rows": parts[pid].n_rows, "run_id": run_id},
                }
            )
        manifest_version = manifest.commit_validated(records, run_id, now)

    return ValidationResult(
        verdicts,
        p.violations,
        pending,
        manifest_version,
        capped=cfg.max_violation_exemplars is not None,
        current_hist=p.cur_hist,
    )


def _partition_outcomes(part_verdicts: list[tuple]) -> dict:
    """``{partition_id: (n_violations summed over checks, failed)}`` —
    a partition fails iff any of its checks failed; the manifest
    records these."""
    out = {}
    for _, pid, _, n, _, _, verdict in part_verdicts:
        n0, failed = out.get(pid, (0, False))
        out[pid] = (n0 + n, failed or verdict == "fail")
    return out


def revalidate_with_feedback(
    spark: SparkSession,
    violations: DataFrame,
    totals: DataFrame,
    feedback: DataFrame,
    has_catalog: bool = True,
    manifest: Manifest | None = None,
    run_id: str = "feedback0",
    now: str = "1970-01-01T00:00:00Z",
    cfg: ValidationConfig = DEFAULT_CONFIG,
) -> ValidationResult:
    """Recompute verdicts after human feedback marked violation rows as
    false positives (operators/feedback.py) — no source-table re-scan;
    only the (small) violations output is touched, which is exactly why
    verdicts are derived from violations rather than re-scans.

    ``totals`` is (partition_id, n_rows) — at feedback time this comes
    from the manifest (n_rows is recorded per partition), never from a
    new scan. Manifest metrics/verdicts are updated in place without
    touching snapshot hashes, so the should-process predicate is
    unaffected (the data didn't change, only its interpretation).

    Feedback recompute counts violation ROWS, so it requires the run
    being corrected to have written the full violations table
    (max_violation_exemplars=None, the default) — on an exemplar-capped
    run the counts would reflect only the capped exemplars. The two
    features serve opposite regimes: feedback review assumes a
    human-scale violation set; the cap exists for violation sets too
    large to review row-by-row."""
    from ..operators.feedback import apply_feedback, live_violations

    flagged = apply_feedback(violations, feedback).cache()
    totals = {
        r.partition_id: r.n_rows
        for r in totals.select("partition_id", "n_rows").collect()
    }
    part_verdicts = _grid_to_verdicts(
        _count_grid(live_violations(flagged)), totals, has_catalog, cfg
    )
    verdicts = spark.createDataFrame(part_verdicts, schema=VERDICTS_DDL)
    verdicts = verdicts.unionByName(global_verdict(verdicts)).cache()
    version = 0
    if manifest is not None:
        n_fb = flagged.filter(~F.col("is_anomaly")).count()
        records = [
            {
                "partition_id": pid,
                "n_violations": n_violations,
                "verdict": "fail" if failed else "pass",
                "metrics": {"feedback_run": run_id, "n_feedback_total": n_fb},
            }
            for pid, (n_violations, failed) in _partition_outcomes(
                part_verdicts
            ).items()
        ]
        version = manifest.update_metrics(records, run_id, now)
    return ValidationResult(verdicts, flagged, sorted(totals), version)


def preflight_estimate(
    spark: SparkSession,
    docs: DataFrame,
    catalog: DataFrame | None = None,
    fraction: float = 0.01,
    seed: int = 42,
    cfg: ValidationConfig = DEFAULT_CONFIG,
    confidence_z: float = 2.576,
    catalog_size_hint: int | None = None,
    mode: str = "rows",
) -> DataFrame:
    """Sampled pre-flight estimate: would a full validation pass
    pass its gates? At 10^12 docs you want this answer from a
    ``fraction`` of the wide-column work before committing the full
    pass — the 100 TB analog of a dry run.

    Two tiers, matched to what each check actually costs:

    * **exact** — uniqueness. Sampling keys cannot see duplicates
      (a dup pair survives a p-sample with probability p²), but the
      dup-key scan only reads the KEY column — cheap at any scale —
      so it runs exact over the full table.
    * **sampled** — the wide-column checks (conformance families +
      referential), which dominate full-pass cost; per-check verdict
      is ``fail`` if the confidence interval's floor clears the gate,
      ``pass`` if its ceiling stays under, else ``inconclusive`` (run
      the full pass / raise the fraction). For zero-tolerance gates
      any sampled sighting is definitive: the sample is a subset of
      the table, so an observed orphan proves a violation exists —
      no statistics needed for ``fail``.

    Two sampling ``mode``s, matched to what a sample costs at scale:

    * ``"rows"`` — uniform row sample, Wilson score interval at
      ``confidence_z`` (default 99%). Statistically tightest, but a
      row sample still READS every file (decode-then-drop), so its
      saving is CPU, not IO — right for small-to-mid tables or
      CPU-bound rechecks.
    * ``"partitions"`` — cluster sample: ⌈fraction·M⌉ whole
      partitions chosen by deterministic key hash, scanned via
      partition pruning — on a partitioned/Iceberg layout the
      unsampled files are never opened, so cost is truly
      ``fraction`` of the table. CI widens to the cluster-sampling
      ratio-estimator variance with finite-population correction
      (between-partition variance dominates when violations cluster
      by partition — exactly when a row-sample CI would lie).

    Returns a driver-materialized DataFrame (one row per check):
    (check, tier, n_evaluated, n_violations, rate, ci_lo, ci_hi,
    gate, verdict). Deterministic under (fraction, seed, mode).
    """
    import hashlib
    import math

    if mode not in ("rows", "partitions"):
        raise ValueError(f"mode must be 'rows' or 'partitions': {mode!r}")

    # --- exact narrow tier: dup keys over the full key column ---
    n_total = docs.count()
    dups = duplicate_keys(docs, cfg.unique_key, cfg.salt_buckets)
    n_dup_docs = int(
        dups.agg(F.coalesce(F.sum("dup_cnt"), F.lit(0))).first()[0]
    )

    # --- sampled wide tier: one scan, every flag in one agg ---
    n_clusters_total = None
    if mode == "partitions":
        all_pids = sorted(
            r.partition_id
            for r in docs.select("partition_id").distinct().collect()
        )
        n_clusters_total = len(all_pids)
        m = max(1, math.ceil(fraction * n_clusters_total))
        chosen = sorted(
            all_pids,
            key=lambda p: hashlib.md5(f"{seed}:{p}".encode()).hexdigest(),
        )[:m]
        sample = docs.filter(F.col("partition_id").isin(chosen))
    else:
        sample = docs.sample(fraction=fraction, seed=seed)
    checks = active_checks(catalog is not None)
    # check name → row-local flag summed in the grid agg
    flags = {c.name: c.flag() for c in checks if c.flag is not None}
    ref_joined = {}
    side = ref_ops.referential_side(
        spark, catalog, cfg.salt_buckets, catalog_size_hint
    )
    if side is not None and side.rowlocal_udf is not None:
        flags["referential"] = (
            F.size(side.rowlocal_udf(ref_ops.span_refs_column())) > 0
        )
    elif side is not None:
        # catalog beyond broadcast: the salted anti-join runs on the
        # SAMPLE's exploded refs only — fraction x the full cost
        ref_joined = {
            r.partition_id: r.n
            for r in ref_ops.orphan_rows(sample, side)
            .groupBy("partition_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
    # per-partition grid either way (metadata scale): rows mode sums it
    # globally, partitions mode needs the per-cluster counts for the CI
    grid = (
        sample.select(
            "partition_id",
            *[v.cast("long").alias(k) for k, v in flags.items()],
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("__n"),
            *[F.sum(k).alias(k) for k in flags],
        )
        .collect()
    )
    n_sample = sum(int(r["__n"]) for r in grid)

    def _wilson(x: int, n: int) -> tuple[float, float]:
        if n == 0:
            return (0.0, 1.0)
        z = confidence_z
        p = x / n
        denom = 1 + z * z / n
        center = (p + z * z / (2 * n)) / denom
        half = (
            z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
        )
        # at x=0 center and half are mathematically EQUAL (both
        # z²/2n/denom) but the sqrt path rounds a few ulps low,
        # leaving a spurious +4e-19 lower bound above the observed
        # rate 0.0 — pin the exact endpoints
        lo = 0.0 if x == 0 else max(0.0, center - half)
        hi = 1.0 if x == n else min(1.0, center + half)
        return (lo, hi)

    def _t_quantile(z: float, nu: int) -> float:
        """Student-t quantile from its normal counterpart via the
        standard asymptotic expansion in 1/nu (within 0.1% for nu >= 9,
        ~3-4% low at nu = 3; callers must not use it below nu = 3 —
        t_1(99%) is 63.7 and no expansion around z reaches it).
        Needed because a cluster sample of m partitions estimates
        variance on m-1 dof — with m=4 the honest 99% multiplier is
        ~5.8, not 2.58; the normal quantile would make small-m CIs
        confidently wrong."""
        if nu < 3:
            return float("inf")
        z3, z5, z7 = z ** 3, z ** 5, z ** 7
        return (
            z
            + (z3 + z) / (4 * nu)
            + (5 * z5 + 16 * z3 + 3 * z) / (96 * nu * nu)
            + (3 * z7 + 19 * z5 + 17 * z3 - 15 * z) / (384 * nu ** 3)
        )

    def _cluster_ci(xs: list[int], ns: list[int]) -> tuple[float, float]:
        """Ratio-estimator CI for a cluster (whole-partition) sample of
        m of M clusters, with finite-population correction (collapses
        to the exact value at fraction=1) and a Student-t multiplier on
        m-1 dof for the between-partition variance estimate."""
        n_tot, x_tot, m = sum(ns), sum(xs), len(ns)
        if n_tot == 0:
            return (0.0, 1.0)
        p = x_tot / n_tot
        if m == n_clusters_total and m >= 1:
            return (p, p)       # census: fpc would zero the variance
        if m < 4:
            # 1-3 sampled clusters = 0-2 variance dof: a 99%-level t
            # multiplier is 9.9-63.7x the normal one — no useful bound.
            # Report total ignorance; the zero-tolerance sighting rule
            # still fires, everything else is honestly inconclusive.
            return (0.0, 1.0)
        nbar = n_tot / m
        s2 = sum((x - p * n) ** 2 for x, n in zip(xs, ns)) / (m - 1)
        var = max(
            0.0,
            (1 - m / n_clusters_total) * s2 / (m * nbar * nbar),
        )
        half = _t_quantile(confidence_z, m - 1) * math.sqrt(var)
        return (max(0.0, p - half), min(1.0, p + half))

    rows = []
    ns = [int(r["__n"]) for r in grid]
    tier = "sampled" if mode == "rows" else "sampled_partitions"
    for c in checks:
        gate = getattr(cfg, c.gate)
        if c.family == "uniqueness":
            rate = n_dup_docs / n_total if n_total else 0.0
            rows.append((
                c.name, "exact", n_total, n_dup_docs, rate, rate, rate,
                gate, "fail" if rate > gate else "pass",
            ))
            continue
        xs = [
            int(r[c.name] or 0) if c.name in flags
            else int(ref_joined.get(r["partition_id"], 0))
            for r in grid
        ]
        x = sum(xs)
        if mode == "rows":
            lo, hi = _wilson(x, n_sample)
        else:
            lo, hi = _cluster_ci(xs, ns)
        if x > 0 and gate == 0.0:
            verdict = "fail"       # sample ⊆ table: sighting is proof
        elif lo > gate:
            verdict = "fail"
        elif hi <= gate:
            verdict = "pass"
        else:
            verdict = "inconclusive"
        rows.append((
            c.name, tier, n_sample, x,
            (x / n_sample) if n_sample else 0.0, lo, hi, gate, verdict,
        ))
    return spark.createDataFrame(
        rows,
        schema=(
            "check string, tier string, n_evaluated long, n_violations long,"
            " rate double, ci_lo double, ci_hi double, gate double,"
            " verdict string"
        ),
    )
