"""Data-repair planning and application: the step AFTER a failed
completeness gate.

The validation lifecycle this engine ships (profile → suggest →
validate → quarantine) stops at "these rows are broken"; production
pipelines then need "and here is the deterministic fix". This module
closes the loop with the two standard imputation strategies a
stats-only engine can justify:

- numeric columns  → fill with the column MEDIAN (robust to the same
  outliers the drift family flags; mean would drag),
- string/categorical columns → fill with the column MODE (majority
  value, deterministic lexicographic tie-break).

Both derive from ONE pass over the table: a stacked aggregation
computes per-column null counts, medians (numeric), and mode
candidates (categorical) map-side-combinably; the plan is a bounded
|columns|-row DataFrame. ``apply_repairs`` is a zero-shuffle row-local
projection: each planned column gets ``coalesce(col, fill)`` plus a
``__repaired`` array recording WHICH fields were imputed per row — the
lineage a training pipeline needs to exclude imputed cells from loss
masks, and the count the conformance re-check reconciles against.

Reference behavior: anomalydetection's scorer drops unparseable
records on the floor (log_parser.py — failed parses are skipped, not
repaired); this module is the Spark-first generalization that makes
the drop/fill decision explicit, auditable, and reversible.

Scale: the median/null profile is one map-side-combinable agg to a
single row. Mode planning is two-pass: per-partition Misra-Gries
candidate pruning over the stacked (col, val) stream — at most
``max_mode_candidates`` counters per column per partition
(functions/heavy.py::mg_fold_counts, the heavy-hitters retention
bound: any value with global share > 1/(k+1) of the column's non-null
rows survives) — then exact counts of the bounded candidate union
only, so the shuffle carries candidates, not one row per distinct
value of a high-cardinality column. The mode is self-certifying, same
contract as heavy_hitters: if a column's top candidate count fails to
clear the n/(k+1) floor the plan falls back to the exact unbounded
groupBy for that column (correct at any distribution, with a warning
to raise the cap). Application is row-local codegen — no shuffle, no
UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import NumericType, StringType


@dataclass(frozen=True)
class RepairRule:
    column: str
    strategy: str  # 'fill_median' | 'fill_mode'
    fill_value: str  # string form; cast back at apply time
    n_null: int
    null_rate: float
    confidence: float  # mode share among non-nulls; 1.0 for median


def _qcol(c: str):
    """Column ref safe for names with spaces/dots/hyphens/keywords and
    backticks (an embedded backtick is escaped by doubling it)."""
    return F.col("`" + c.replace("`", "``") + "`")


def plan_repairs(
    df: DataFrame,
    columns: list[str] | None = None,
    max_null_rate: float = 0.5,
    max_mode_candidates: int = 64,
) -> list[RepairRule]:
    """One profile pass → imputation plan.

    Columns with null_rate > ``max_null_rate`` are refused (imputing a
    mostly-missing column manufactures data — that column needs a
    source fix, not a fill) and reported with strategy ``refuse``.
    Columns with zero nulls are omitted (nothing to repair).
    ``max_mode_candidates`` bounds the per-partition Misra-Gries mode
    candidate summaries (see module docstring for the guarantee and
    the self-certifying exact fallback).
    """
    import warnings

    import pandas as pd

    from ..functions.heavy import mg_fold_counts

    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = columns if columns is not None else list(fields)
    numeric = [
        c for c in cols if isinstance(fields[c], NumericType)
    ]
    categorical = [
        c for c in cols if isinstance(fields[c], StringType)
    ]
    aggs = [F.count("*").alias("__n")]
    for c in numeric + categorical:
        aggs.append(
            F.sum(_qcol(c).isNull().cast("long")).alias(f"__null_{c}")
        )
    for c in numeric:
        # a Column, not SQL text: column names reachable via
        # --repair-columns may hold any character
        aggs.append(F.percentile(_qcol(c), 0.5).alias(f"__med_{c}"))
    row = df.agg(*aggs).collect()[0].asDict()

    # mode per categorical column: MG-capped candidates from ONE pass
    # over the stacked (col, val) stream, then exact counts of the
    # bounded candidate union only, deterministic (count desc, value
    # asc) pick — certified per column against the n/(k+1) floor
    modes: dict[str, tuple[str, int]] = {}
    if categorical:
        k = max_mode_candidates
        branches = [
            F.when(
                _qcol(c).isNotNull(),
                F.struct(
                    F.lit(c).alias("col"),
                    _qcol(c).cast("string").alias("val"),
                ),
            )
            for c in categorical
        ]
        stacked = (
            df.select(F.array_compact(F.array(*branches)).alias("a"))
            .select(F.explode("a").alias("s"))
            .select("s.col", "s.val")
        )

        def _partials(batches):
            sers: dict = {}
            for pdf in batches:
                for c, sub in pdf.groupby("col"):
                    vc = sub["val"].value_counts()
                    if not vc.empty:
                        sers[c] = mg_fold_counts(sers.get(c), vc, k)
            yield pd.DataFrame(
                [
                    {"col": c, "val": v}
                    for c, s in sers.items()
                    for v in s.index
                ],
                columns=["col", "val"],
            )

        cand = (
            stacked.mapInPandas(_partials, schema="col string, val string")
            .distinct()
        )
        counts = (
            stacked.join(F.broadcast(cand), ["col", "val"], "left_semi")
            .groupBy("col", "val")
            .agg(F.count("*").alias("n"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("col").orderBy(F.desc("n"), "val")
        top = (
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .collect()
        )
        modes = {r["col"]: (r["val"], r["n"]) for r in top}
        # self-certification: the MG bound only guarantees the true
        # mode survived pruning if its count clears the floor
        n_total = row["__n"]
        uncertified = [
            c
            for c in categorical
            if c in modes
            and modes[c][1]
            <= (n_total - (row[f"__null_{c}"] or 0)) / (k + 1)
        ]
        uncertified += [
            c
            for c in categorical
            if c not in modes and (row[f"__null_{c}"] or 0) < n_total
        ]
        if uncertified:
            warnings.warn(
                "plan_repairs: mode candidates for "
                f"{sorted(uncertified)} do not clear the Misra-Gries "
                f"floor n/(k+1) with max_mode_candidates={k} — "
                "falling back to the exact unbounded groupBy for "
                "those columns; raise max_mode_candidates to restore "
                "the bounded-shuffle path",
                stacklevel=2,
            )
            exact = (
                stacked.filter(F.col("col").isin(uncertified))
                .groupBy("col", "val")
                .agg(F.count("*").alias("n"))
            )
            for r in (
                exact.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .collect()
            ):
                modes[r["col"]] = (r["val"], r["n"])

    n = row["__n"]
    rules: list[RepairRule] = []
    for c in numeric + categorical:
        n_null = row[f"__null_{c}"] or 0
        if n_null == 0:
            continue
        rate = n_null / n if n else 0.0
        if rate > max_null_rate:
            rules.append(
                RepairRule(c, "refuse", "", n_null, round(rate, 6), 0.0)
            )
            continue
        if c in modes:
            val, cnt = modes[c]
            nn = n - n_null
            rules.append(
                RepairRule(
                    c,
                    "fill_mode",
                    val,
                    n_null,
                    round(rate, 6),
                    round(cnt / nn, 6) if nn else 0.0,
                )
            )
        else:
            med = row[f"__med_{c}"]
            rules.append(
                RepairRule(
                    c,
                    "fill_median",
                    repr(round(float(med), 6)),
                    n_null,
                    round(rate, 6),
                    1.0,
                )
            )
    rules.sort(key=lambda r: r.column)
    return rules


def apply_repairs(df: DataFrame, rules: list[RepairRule]) -> DataFrame:
    """Row-local repair: coalesce each planned column onto its fill
    value and append a ``__repaired`` array<string> naming the columns
    imputed in that row (empty array = untouched row). ``refuse``
    rules are skipped — their columns pass through unchanged."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    active = [r for r in rules if r.strategy != "refuse"]
    # tag BEFORE filling — the tags must see the original nulls
    tags = [
        F.when(_qcol(r.column).isNull(), F.lit(r.column)) for r in active
    ]
    out = df.withColumn(
        "__repaired",
        F.array_compact(F.array(*tags))
        if tags
        else F.array().cast("array<string>"),
    )
    for r in active:
        if r.strategy == "fill_median":
            fill = F.lit(float(r.fill_value)).cast(fields[r.column])
        else:
            fill = F.lit(r.fill_value).cast(fields[r.column])
        out = out.withColumn(r.column, F.coalesce(_qcol(r.column), fill))
    return out
