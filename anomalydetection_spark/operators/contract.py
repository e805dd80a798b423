"""Schema-contract validation: the declarative "schema" half of
schema + constraint validation.

A :class:`Contract` declares what a table MUST look like — required
columns with expected Spark types and nullability, plus optional
data-level rules per column (max null rate, allowed value set, numeric
range, regex format). Validation happens in two tiers:

1. **Structural** (driver-side, zero scans): the observed
   ``df.schema`` is diffed against the contract — missing columns,
   unexpected extras (if ``closed``), type mismatches, nullability
   violations. At 10^12 rows this tier is free: it reads table
   metadata, never data.
2. **Data-level** (ONE aggregation pass): every declared rule compiles
   to a conditional-count aggregate expression, all evaluated in a
   single map-side-combinable ``df.agg`` — the same one-scan shape as
   ``operators/profile.py``; no shuffle beyond the one partial-agg
   exchange, no UDFs.

The reference has no schema layer at all (SQLite tables are created
ad hoc, /root/reference/database_manager.py:28-78); this is the
engine-native generalization the validation north star asks for.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class ColumnRule:
    """Declarative expectations for one column."""

    dtype: str | None = None           # Spark simpleString, e.g. "bigint"
    nullable: bool = True              # False -> nulls are violations
    max_null_rate: float | None = None
    allowed: tuple | None = None       # closed value set
    min_value: float | None = None
    max_value: float | None = None
    rlike: str | None = None           # format regex (strings)


@dataclass(frozen=True)
class ElementRule:
    """Per-element expectations for a nested field of an
    ``array<struct>`` column — the engine's own payload shape
    (``spans: array<struct>``). Declared under ``Contract.elements``
    keyed by path ``"array_col.field"`` (e.g. ``"spans.kind"``).

    Violations are counted per ELEMENT via ``size(filter(arr, ...))``
    inside the SAME single aggregation pass as the row rules — never an
    explode (an explode would shuffle rows × mean-array-width at
    corpus scale; this stays one map-side-combinable scan). The
    violation-rate denominator is the column's total element count
    (NULL arrays contribute 0), not the row count."""

    nullable: bool = True              # False -> null elements violate
    max_null_rate: float | None = None
    allowed: tuple | None = None       # closed value set
    min_value: float | None = None
    max_value: float | None = None
    rlike: str | None = None           # format regex (strings)


@dataclass(frozen=True)
class JsonRule:
    """Shape expectations for a JSON STRING column (the payload class
    the typed rules can't see). Compiles into the SAME single agg pass
    as every other rule, entirely via JVM VARIANT expressions
    (``try_parse_json`` / ``variant_get`` / ``schema_of_variant``) —
    no UDF, no explode:

    - ``json_malformed``: non-null values that fail to parse; budget
      via ``max_malformed_rate``.
    - ``json_required:<key>``: parseable rows where <key> is ABSENT
      (an explicit JSON null counts as present — it normalizes to the
      'null' type, so pair ``required`` with a ``types`` entry that
      excludes 'null' to forbid it).
    - ``json_type:<key>``: rows where <key> is present but its value's
      normalized type (number/string/bool/array/object/null — see
      operators/semistructured.py) is outside the allowed set.

    Declared under ``Contract.json`` keyed by column name. A json rule
    on a non-string column is a STRUCTURAL failure
    (schema:invalid_json_rule), not a crash in the agg pass."""

    required: tuple = ()
    # key -> allowed normalized-type names, e.g. {"score": ("number",)}
    types: dict | None = None
    max_malformed_rate: float = 0.0


@dataclass(frozen=True)
class ExpressionRule:
    """Cross-column row rule: a SQL boolean that must hold per row.
    A row violates when the expression is false OR null (three-valued
    logic collapsed pessimistically — an unevaluable rule is not a
    pass). Budget semantics match the null rule: fail when the
    violation rate exceeds ``max_violation_rate``."""

    expr: str
    max_violation_rate: float = 0.0


@dataclass(frozen=True)
class Contract:
    columns: dict[str, ColumnRule] = field(default_factory=dict)
    closed: bool = False               # True -> extra columns violate
    # named cross-column rules, e.g.
    # {"span_order": ExpressionRule("size(spans) = 0 OR spans[0].offset >= 0")}
    expressions: dict[str, ExpressionRule] = field(default_factory=dict)
    # per-element rules keyed "array_col.field", e.g.
    # {"spans.kind": ElementRule(allowed=("text", "image", ...)),
    #  "spans.text": ElementRule(max_null_rate=0.01)}
    elements: dict[str, ElementRule] = field(default_factory=dict)
    # JSON-shape rules keyed by string column name, e.g.
    # {"props": JsonRule(required=("k",), types={"k": ("number",)})}
    json: dict[str, JsonRule] = field(default_factory=dict)


def _element_paths(
    observed: T.StructType, contract: Contract
) -> tuple[dict[str, tuple[str, str]], list[dict]]:
    """Validate element-rule paths against the observed schema.
    Returns (valid: path -> (array_col, field), issues: structural
    dicts for invalid paths)."""
    valid: dict[str, tuple[str, str]] = {}
    issues: list[dict] = []
    seen = {f.name: f for f in observed.fields}

    def bad(path: str, detail: str) -> None:
        issues.append({"column": path, "issue": "invalid_element_rule",
                       "detail": detail})

    for path in contract.elements:
        if "." not in path:
            bad(path, "expected 'array_col.field'")
            continue
        a, fld = path.split(".", 1)
        f = seen.get(a)
        if f is None:
            bad(path, f"column {a} absent")
            continue
        dt = f.dataType
        if not isinstance(dt, T.ArrayType) or not isinstance(
            dt.elementType, T.StructType
        ):
            bad(path, f"{a} is {dt.simpleString()}, not array<struct>")
            continue
        if fld not in dt.elementType.fieldNames():
            bad(path, f"no field {fld} in {a} elements")
            continue
        valid[path] = (a, fld)
    return valid, issues


def _json_valid_cols(observed: T.StructType, contract: Contract) -> list[str]:
    """JSON-ruled columns that exist AND are string-typed — the only
    ones the data tier compiles; the rest become structural issues."""
    fields = {f.name: f.dataType for f in observed.fields}
    return [
        c
        for c in contract.json
        if isinstance(fields.get(c), T.StringType)
    ]


def _json_structural_issues(
    observed: T.StructType, contract: Contract
) -> list[dict]:
    fields = {f.name: f.dataType for f in observed.fields}
    out = []
    for c in contract.json:
        if c not in fields:
            out.append({"column": c, "issue": "invalid_json_rule",
                        "detail": "column absent"})
        elif not isinstance(fields[c], T.StringType):
            out.append({
                "column": c, "issue": "invalid_json_rule",
                "detail": f"expected string column, got "
                          f"{fields[c].simpleString()}",
            })
    return out


def schema_diff(observed: T.StructType, contract: Contract) -> list[dict]:
    """Structural diff (no data access): one dict per issue."""
    issues: list[dict] = []
    seen = {f.name: f for f in observed.fields}
    for name, rule in contract.columns.items():
        f = seen.get(name)
        if f is None:
            issues.append({"column": name, "issue": "missing_column",
                           "detail": "declared but absent"})
            continue
        if rule.dtype is not None and f.dataType.simpleString() != rule.dtype:
            issues.append({
                "column": name, "issue": "type_mismatch",
                "detail": f"expected {rule.dtype},"
                          f" got {f.dataType.simpleString()}",
            })
        if not rule.nullable and f.nullable:
            # metadata says nulls possible; the data tier still counts
            # actual nulls — this flags the declared shape only
            issues.append({"column": name, "issue": "nullable_mismatch",
                           "detail": "contract requires NOT NULL"})
    if contract.closed:
        for name in seen:
            if name not in contract.columns:
                issues.append({"column": name, "issue": "unexpected_column",
                               "detail": "table is closed"})
    issues.extend(_element_paths(observed, contract)[1])
    return issues


def _value_predicates(rule):
    """(rule name, predicate over a value Column) for each value rule a
    ColumnRule or ElementRule declares. A NULL comparison is not a
    violation (min/max over NULL is NULL, never counted or tagged)."""
    allowed, rx = rule.allowed, rule.rlike
    lo, hi = rule.min_value, rule.max_value
    if not rule.nullable or rule.max_null_rate is not None:
        yield "null", lambda v: v.isNull()
    if allowed is not None:
        yield "allowed", lambda v: v.isNotNull() & ~v.isin(*allowed)
    if lo is not None:
        yield "min_value", lambda v: v < F.lit(lo)
    if hi is not None:
        yield "max_value", lambda v: v > F.lit(hi)
    if rx is not None:
        yield "rlike", lambda v: v.isNotNull() & ~v.rlike(rx)


def _on_field(pred, fld: str):
    # single-parameter lambda: pyspark's higher-order-function bridge
    # derives the SQL lambda arity from the Python signature, so the
    # closure state comes from this factory, not from default args
    return lambda s: pred(s[fld])


def _rule_predicates(df: DataFrame, contract: Contract):
    """Every data-tier rule of ``contract`` that compiles against
    ``df``, in one fixed order → (label, rule, predicate, array column).

    Row rules (columns, named expressions, JSON shape) yield a boolean
    Column and ``None``; element rules yield a one-argument element
    lambda and the name of the array column it ranges over. Rules on
    absent columns, invalid element paths and non-string JSON columns
    are skipped (they are structural findings); expressions are taken
    as given — callers decide whether a bad one is a structural row or
    an error."""
    present = set(df.columns)
    for c, rule in contract.columns.items():
        if c in present:
            for name, pred in _value_predicates(rule):
                yield c, name, pred(F.col(c)), None
    for name, er in contract.expressions.items():
        falsy = ~F.coalesce(F.expr(er.expr), F.lit(False))
        yield "*", f"expr:{name}", falsy, None
    elem_ok, _ = _element_paths(df.schema, contract)
    for path, er in contract.elements.items():
        if path in elem_ok:
            a, fld = elem_ok[path]
            for name, pred in _value_predicates(er):
                yield f"{a}[*].{fld}", name, _on_field(pred, fld), a
    # JSON-shape rules: parse once per ruled column, then malformed /
    # required-key / type-mix conditions; _norm_type/variant_path are
    # shared with the json_field_audit operator so the type enum
    # cannot drift
    if contract.json:
        from .semistructured import _norm_type, variant_path

        for c in _json_valid_cols(df.schema, contract):
            jr = contract.json[c]
            col = F.col(c)
            v = F.try_parse_json(col)
            if jr.max_malformed_rate is not None:
                yield c, "json_malformed", col.isNotNull() & v.isNull(), None
            for k in jr.required:
                yield (
                    c,
                    f"json_required:{k}",
                    v.isNotNull()
                    & F.variant_get(v, variant_path(k), "variant").isNull(),
                    None,
                )
            for k, allowed_types in (jr.types or {}).items():
                t = _norm_type(
                    F.schema_of_variant(
                        F.variant_get(v, variant_path(k), "variant")
                    )
                )
                yield (
                    c,
                    f"json_type:{k}",
                    t.isNotNull() & ~t.isin(*allowed_types),
                    None,
                )


def contract_violation_counts(
    df: DataFrame,
    contract: Contract,
    by: list[str] | None = None,
) -> DataFrame:
    """Data tier: ONE agg pass → long-form (column, rule, n_violations,
    violation_rate). Only rules for columns present in ``df`` compile.

    ``by`` scopes every rule per segment (Deequ's where-scoped checks
    generalized to all segments at once): the single pass becomes ONE
    ``groupBy(by)`` whose partial aggregation is still map-side
    combinable — |segments| × |rules| rows cross the wire, never data
    rows — and the output gains the segment columns in front. A
    thousand segments cost the same scan as one."""
    by = list(by) if by else []
    aggs = [F.count(F.lit(1)).cast("double").alias("__n")]
    # (column label, rule, violation agg alias, denominator agg alias).
    # Aliases are INDEXED (__v0, __v1, ...), never derived from column
    # or rule names: rule labels carry data-derived JSON keys
    # (json_type:<key>), and interpolating those into SQL text or
    # identifiers would let a key with a quote/backtick crash — or
    # worse, rewrite — the verdict query. Labels only ever travel as
    # F.lit() values.
    keys: list[tuple[str, str, str, str]] = []
    # element rules count violating ELEMENTS via size(filter(arr, ...))
    # over the array column's total element count — still the one agg
    # pass, no explode
    denoms: dict[str, str] = {}
    for label, rule, pred, arr in _rule_predicates(df, contract):
        alias = f"__v{len(keys)}"
        if arr is None:
            aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(alias))
            keys.append((label, rule, alias, "__n"))
            continue
        a = F.col(arr)
        if arr not in denoms:
            denoms[arr] = f"__e{len(denoms)}"
            aggs.append(
                F.sum(F.when(a.isNull(), 0).otherwise(F.size(a)))
                .cast("double")
                .alias(denoms[arr])
            )
        aggs.append(
            F.sum(
                F.when(a.isNull(), 0).otherwise(F.size(F.filter(a, pred)))
            ).alias(alias)
        )
        keys.append((label, rule, alias, denoms[arr]))

    if not keys:
        # dtype-only contract: no data rules at all — stack(0, ...) is a
        # ParseException, so return an empty typed frame and let
        # contract_verdicts emit structural rows only
        schema = T.StructType(
            list(df.select(*by).schema.fields) if by else []
        )
        for n, t in (
            ("column", T.StringType()), ("rule", T.StringType()),
            ("n_violations", T.LongType()),
            ("violation_rate", T.DoubleType()),
        ):
            schema = schema.add(n, t)
        return df.sparkSession.createDataFrame([], schema)
    one = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)
    # F.stack over F.lit labels — the labels never touch a SQL parser,
    # so data-derived rule names (JSON keys) cannot break the query
    quad_cols: list = []
    for c, r, alias, d in keys:
        quad_cols += [
            F.lit(c),
            F.lit(r),
            F.col(alias).cast("double"),
            F.col(d),
        ]
    return one.select(
        *[F.col(c) for c in by],
        F.stack(F.lit(len(keys)), *quad_cols).alias(
            "column", "rule", "n_violations", "__denom"
        ),
    ).select(
        *by,
        "column",
        "rule",
        # coalesce: sum() over ZERO rows is NULL — an empty table (or
        # empty segment) has 0 violations, and a NULL here would fall
        # through every verdict branch to 'fail'
        F.coalesce(F.col("n_violations"), F.lit(0))
        .cast("long")
        .alias("n_violations"),
        # try_divide: an element-ruled array column whose arrays are all
        # empty/NULL has denominator 0 — rate is NULL, not a DIVIDE_BY_ZERO
        # crash under Spark 4 ANSI defaults
        F.round(
            F.try_divide(
                F.coalesce(F.col("n_violations"), F.lit(0)),
                F.col("__denom"),
            ),
            6,
        ).alias("violation_rate"),
    )


def annotate_violations(
    df: DataFrame, contract: Contract, out_col: str = "violations"
) -> DataFrame:
    """Row-level rule annotation: every input row survives, gaining a
    sorted ``array<string>`` of ``column::rule`` labels it violates
    (empty array = clean row). The keep-and-tag complement to the
    quarantine split — downstream consumers that must not drop rows
    (backfills, human review queues, partial-trust training mixes) get
    per-row error identity without a second validation pass.

    Same rule semantics as :func:`contract_violation_counts`:
    null/allowed/min/max/rlike per column (a NULL comparison is not a
    violation, mirroring the counts path's ``otherwise(0)``), named
    expressions (falsy OR NULL == violation), and element rules
    tagging the row when ANY array element violates (``exists()`` —
    no explode). Uncompilable expressions raise loudly, like the
    segmented path. Cost: entirely row-local — the tags column
    compiles into the projection; zero shuffles, zero extra scans.
    """
    for er in contract.expressions.values():
        df.selectExpr(er.expr)  # loud on typos — no structural tier here
    conds = [
        (
            f"{label}::{rule}",
            pred if arr is None
            else F.col(arr).isNotNull() & F.exists(F.col(arr), pred),
        )
        for label, rule, pred, arr in _rule_predicates(df, contract)
    ]
    if not conds:
        return df.withColumn(out_col, F.array().cast("array<string>"))
    tags = F.array_sort(
        F.filter(
            F.array(
                *[F.when(cond, F.lit(lbl)) for lbl, cond in conds]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return df.withColumn(out_col, tags)


def contract_verdicts(df: DataFrame, contract: Contract) -> DataFrame:
    """Verdict rows for both tiers. Structural issues always fail;
    data rules fail when the rate exceeds the column's max_null_rate
    (null rule with a rate budget) or when any row violates (all other
    rules, and null with nullable=False)."""
    spark = df.sparkSession
    struct_rows = [
        ("schema:" + i["issue"], i["column"], None, None, "fail",
         i["detail"])
        for i in (
            schema_diff(df.schema, contract)
            + _json_structural_issues(df.schema, contract)
        )
    ]
    # expressions that don't compile against this schema become
    # structural failures instead of crashing the agg pass
    valid_exprs: dict[str, ExpressionRule] = {}
    for name, er in contract.expressions.items():
        try:
            df.selectExpr(er.expr)
            valid_exprs[name] = er
        except Exception as e:  # AnalysisException / parse errors
            struct_rows.append(
                ("schema:invalid_expression", name, None, None, "fail",
                 str(e).splitlines()[0][:200])
            )
    structural = spark.createDataFrame(
        struct_rows,
        "check string, column string, n_violations long,"
        " violation_rate double, verdict string, detail string",
    )
    if valid_exprs != contract.expressions:
        from dataclasses import replace as _replace

        contract = _replace(contract, expressions=valid_exprs)
    counts = contract_violation_counts(df, contract)
    data = _data_tier_verdicts(counts, df.schema, contract)
    return structural.unionByName(data)


def _data_tier_verdicts(
    counts: DataFrame,
    observed: T.StructType,
    contract: Contract,
    lead_cols: list[str] | None = None,
) -> DataFrame:
    """Turn a (…, column, rule, n_violations, violation_rate) counts
    frame into verdict rows; ``lead_cols`` (segment columns) pass
    through in front. Row-local projection over the already-tiny
    counts table — no further scans."""
    lead_cols = lead_cols or []

    def budget(c: str) -> float:
        r = contract.columns[c].max_null_rate
        return r if r is not None else 0.0

    # null-rate budgets: column names for row rules, "a[*].fld" labels
    # for element rules — no collision between the two key spaces
    elem_ok, _ = _element_paths(observed, contract)
    budget_entries = [
        (c, budget(c)) for c in contract.columns
    ] + [
        (
            f"{elem_ok[p][0]}[*].{elem_ok[p][1]}",
            er.max_null_rate if er.max_null_rate is not None else 0.0,
        )
        for p, er in contract.elements.items()
        if p in elem_ok
    ]
    # empty create_map() is VOID-keyed (unkeyable) — fall back to a
    # typed null lookup when a rule family is absent
    budget_lookup = (
        F.create_map(
            *[x for c, b in budget_entries
              for x in (F.lit(c), F.lit(b))]
        )[F.col("column")]
        if budget_entries
        else F.lit(None).cast("double")
    )
    expr_budget_lookup = (
        F.create_map(
            *[x for n, er in contract.expressions.items()
              for x in (F.lit(f"expr:{n}"), F.lit(er.max_violation_rate))]
        )[F.col("rule")]
        if contract.expressions
        else F.lit(None).cast("double")
    )
    # malformed-rate budgets keyed by JSON-ruled column; required/type
    # json rules are zero-tolerance (any violation fails, the generic
    # n_violations == 0 branch)
    json_budget_lookup = (
        F.create_map(
            *[x for c, jr in contract.json.items()
              for x in (F.lit(c), F.lit(jr.max_malformed_rate or 0.0))]
        )[F.col("column")]
        if contract.json
        else F.lit(None).cast("double")
    )
    return counts.select(
        *lead_cols,
        F.concat(F.lit("rule:"), "rule").alias("check"),
        "column",
        "n_violations",
        "violation_rate",
        F.when(
            (F.col("rule") == "null")
            & (F.col("violation_rate") <= budget_lookup),
            "pass",
        )
        .when(
            F.col("rule").startswith("expr:")
            & (F.col("violation_rate") <= expr_budget_lookup),
            "pass",
        )
        .when(
            (F.col("rule") == "json_malformed")
            & (F.col("violation_rate") <= json_budget_lookup),
            "pass",
        )
        .when(F.col("n_violations") == 0, "pass")
        .otherwise("fail")
        .alias("verdict"),
        F.lit(None).cast("string").alias("detail"),
    )


def contract_verdicts_by(
    df: DataFrame, contract: Contract, by: str | list[str]
) -> DataFrame:
    """Segment-scoped data-tier verdicts: every declared rule judged
    independently per ``by``-segment (Deequ's where-scoped checks,
    all segments in one pass instead of one filtered job per scope).
    A column can pass globally while failing in one segment — the
    shape that catches per-source / per-day regressions a table-level
    rate dilutes away.

    Output: ``by`` columns + (check, column, n_violations,
    violation_rate, verdict, detail). Structural issues are a
    table-global concern — run :func:`contract_verdicts` for tier 1;
    this is tier 2 cut by segment. Cost: the SAME one-scan compile as
    the global pass, grouped — |segments| × |rules| partial rows per
    task, never data rows. Budgets apply per segment (a null-rate
    budget must hold in EVERY segment)."""
    by = [by] if isinstance(by, str) else list(by)
    missing = [c for c in by if c not in df.columns]
    if missing:
        raise ValueError(f"contract_verdicts_by: absent segment "
                         f"column(s) {missing}")
    overlap = set(by) & set(contract.columns)
    if overlap:
        raise ValueError(
            f"contract_verdicts_by: {sorted(overlap)} cannot be both "
            "segment column(s) and ruled column(s)"
        )
    # expressions that don't compile become a loud error here (the
    # global path degrades them to structural rows; a segmented run
    # has no structural tier to carry them)
    for name, er in contract.expressions.items():
        df.selectExpr(er.expr)
    counts = contract_violation_counts(df, contract, by=by)
    return _data_tier_verdicts(counts, df.schema, contract,
                               lead_cols=by)


def contract_from_dict(d: dict) -> Contract:
    """Contract from a plain dict (parsed JSON config):

    {"closed": false,
     "columns": {"event_id": {"dtype": "bigint", "max_null_rate": 0},
                 "event_type": {"allowed": ["click", "view"]}},
     "expressions": {"purchase_value":
                     {"expr": "event_type <> 'purchase' OR value > 0",
                      "max_violation_rate": 0.25}}}

    Unknown keys raise (config typos must not silently validate)."""
    from ..config import _build

    cols = {
        name: _build(ColumnRule, rule if isinstance(rule, dict) else {})
        for name, rule in (d.get("columns") or {}).items()
    }
    from dataclasses import replace as _replace

    for name, rule in cols.items():
        if rule.allowed is not None:
            cols[name] = _replace(rule, allowed=tuple(rule.allowed))
    exprs = {
        name: (
            _build(ExpressionRule, er)
            if isinstance(er, dict)
            else ExpressionRule(expr=str(er))
        )
        for name, er in (d.get("expressions") or {}).items()
    }
    for path, er in (d.get("elements") or {}).items():
        if not isinstance(er, dict):
            raise ValueError(
                f"element rule for {path!r} must be a dict of rule"
                f" fields, got {type(er).__name__}"
            )
    elems = {
        path: _build(ElementRule, er)
        for path, er in (d.get("elements") or {}).items()
    }
    for path, er in elems.items():
        if er.allowed is not None:
            elems[path] = _replace(er, allowed=tuple(er.allowed))
    json_rules = {}
    for cname, jr in (d.get("json") or {}).items():
        if not isinstance(jr, dict):
            raise ValueError(
                f"json rule for {cname!r} must be a dict of rule "
                f"fields, got {type(jr).__name__}"
            )
        # bare strings would tuple() into characters ("number" ->
        # ('n','u',...)) and silently fail every row — config typos
        # must not silently validate
        if isinstance(jr.get("required"), str):
            raise ValueError(
                f"json rule for {cname!r}: 'required' must be a list "
                f"of keys, got the string {jr['required']!r}"
            )
        for k, tv in (jr.get("types") or {}).items():
            if isinstance(tv, str):
                raise ValueError(
                    f"json rule for {cname!r}: types[{k!r}] must be a "
                    f"list of type names, got the string {tv!r}"
                )
        built = _build(JsonRule, jr)
        json_rules[cname] = _replace(
            built,
            required=tuple(built.required),
            types=(
                {k: tuple(v) for k, v in built.types.items()}
                if built.types
                else None
            ),
        )
    extra = set(d) - {"columns", "expressions", "elements", "json",
                      "closed"}
    if extra:
        raise ValueError(f"unknown Contract keys: {sorted(extra)}")
    return Contract(
        columns=cols, closed=bool(d.get("closed", False)),
        expressions=exprs, elements=elems, json=json_rules,
    )
