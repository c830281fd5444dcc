"""``check_data`` and ``check_data_by`` — the validation orchestrator (data plane).

Reference contract: R/check_data.R:52-171 (orchestration), :256-333 (per-rule
evaluation), :277-287 (negate → allow_na rewrite order), :301-315 (error
capture), :325 (fail = tests - pass); R/data_column.R:204-275 (schema rows),
:332-379 (reference rules).

One rule-evaluation core, :func:`_evaluate`, serves every API path:
``check_data`` (no group keys), ``check_data_by`` / ``check_data_by_file`` /
the ledger (group keys), and the streaming validators (its rule split,
compile probe and conditional-sum aggregate).  Given the rules, optional group keys
and the lookup datasets it builds each plan once:

* **Expression rules** — ONE aggregate, grouped by the keys: ``count(*)``
  plus one conditional sum per rule (plus coercion-watch sums for warn
  synthesis).  N rules ⇒ 1 job, 1 scan, deliberately NOT the reference's
  one-scan-per-rule loop — the reference's own batched-describe path
  (R/describe.R:329-422) pushed to its logical conclusion.  Conditional sums
  combine map-side, so a key holding 90% of the rows shuffles ONE partial
  row per upstream task (tested under extreme skew in
  tests/test_scale_features.py::TestSkew).  Column pruning is left to
  Catalyst: the aggregate references only rule columns, so the
  Parquet/Iceberg ReadSchema shrinks to their union (see EXPLAIN.md); an
  explicit pre-agg select measured 1.7x slower on cached inputs.
* **Reference rules** — the local column pre-aggregated to
  ``(keys, value, count)``, LEFT-joined to the distinct ref values (AQE
  picks broadcast-hash when that side is small), re-aggregated per group.
  Never a collected ``isin`` list, which would cap ref size at driver memory.
* **Uniqueness rules** — one key-only ``groupBy(keys + unique_cols)`` count,
  re-aggregated per group.

Every rule is resolved against the schema before any job runs (one batched
zero-row analysis, :func:`_analysis_errors`).  A rule that fails to compile
or analyse — bad call, missing column, missing lookup dataset — becomes an
error row (pass=0, fail=tests) on every path, matching R/check_data.R:301-315.

``check_data`` collects the plans and adds the driver-side result layer:
schema rows, error rows, warnings, ``timing`` and the stop gates.
``check_data_by`` unpivots them (one explode of an array of structs, pure
Catalyst) to the long form ``keys..., name, expr, tests, pass, fail`` and
stays distributed.
"""

from __future__ import annotations

import re
import time as _time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce
from operator import and_, or_
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from . import udf_warnings
from .expr import CompileResult, ExprError, col_ref, compile_expr, get_called_functions
from .rules import (
    DataColumn,
    ReferenceRule,
    Rule,
    Ruleset,
    UniquenessRule,
    ruleset,
    validate_data_columns,
)

__all__ = ["check_data", "CheckDataError", "RESULT_SCHEMA", "compile_rule_predicate"]

# Result-row contract: R/check_data.R:103-117 / :317-329
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("check_type", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("expr", T.StringType(), False),
        T.StructField("allow_na", T.BooleanType(), False),
        T.StructField("negate", T.BooleanType(), False),
        T.StructField("tests", T.LongType(), False),
        T.StructField("pass", T.LongType(), False),
        T.StructField("fail", T.LongType(), False),
        T.StructField("warn", T.StringType(), False),
        T.StructField("error", T.StringType(), False),
        T.StructField("time", T.DoubleType(), False),
    ]
)

_COERCION_WARN = "NAs introduced by coercion"


class CheckDataError(RuntimeError):
    """Raised by the stop_on_* gates (R/check_data.R:146-168)."""


@dataclass
class _Compiled:
    rule: Rule
    pred: Column | None
    watchers: list[Column]
    error: str


def compile_rule_predicate(r: Rule) -> CompileResult:
    """Compile a rule to its guarded predicate Column.

    Rewrite order is load-bearing (R/check_data.R:277-287): negate wraps the
    raw expression FIRST, the allow_na is-null guard ORs on top, one guard per
    symbol referenced by the original expression.
    """
    res = compile_expr(r.expr)
    pred = res.column
    if r.negate:
        pred = ~pred
    if r.allow_na:
        for s in res.symbols:
            pred = pred | col_ref(s).isNull()
    return CompileResult(column=pred, symbols=res.symbols, coercion_watchers=res.coercion_watchers)


def _analysis_errors(df: DataFrame, cols: Sequence[Column | Exception]) -> list[str | None]:
    """Resolve every Column against ``df``'s schema; per entry, ``None`` if
    it analyses and the error text otherwise (an Exception entry — a
    compile-time failure — passes straight through as its text).

    The probe is an EMPTY LocalRelation with the same schema, not ``df``
    itself: analysis cost is proportional to the logical-plan size, and
    ``df`` may carry an arbitrarily deep plan (unions, joins) that would be
    re-analyzed per probe.  The empty frame has identical resolution
    semantics (missing column / type errors) at O(schema) cost.

    All columns are probed in ONE select — aliased columns are analyzed
    independently, so the batch succeeds iff each one would, and N valid
    rules cost one driver analysis roundtrip instead of N (~20 ms each; the
    dominant fixed cost of a check on small/cached inputs).  Only when the
    batch fails does the per-column loop run to attribute the errors."""
    errors = [None if isinstance(c, Column) else _strip_error(c) for c in cols]
    probe_df = df.sparkSession.createDataFrame([], df.schema)
    ok = [i for i, c in enumerate(cols) if isinstance(c, Column)]
    try:
        if ok:
            probe_df.select(*[cols[i].alias(f"__probe{i}") for i in ok])
        return errors
    except Exception:
        pass
    for i in ok:
        try:
            probe_df.select(cols[i].alias("__probe"))
        except Exception as exc:  # AnalysisException, ...
            errors[i] = _strip_error(exc)
    return errors


def _compile_all(df: DataFrame, rules: list[Rule]) -> list[_Compiled]:
    staged: list[CompileResult | Exception] = []
    for r in rules:
        try:
            staged.append(compile_rule_predicate(r))
        except Exception as exc:  # ExprError and friends — compile-time
            staged.append(exc)
    errors = _analysis_errors(df, [s.column if isinstance(s, CompileResult) else s for s in staged])
    return [
        _Compiled(r, s.column, s.coercion_watchers, "")
        if err is None
        else _Compiled(r, None, [], err)
        for r, s, err in zip(rules, staged, errors)
    ]


def _safe_alias(columns: Sequence[str], base: str) -> str:
    """Internal-alias name guaranteed not to shadow a user column: a
    dataset with a column literally named ``__cnt`` must not turn a valid
    uniqueness rule into an AMBIGUOUS_REFERENCE error."""
    out = base
    while out in columns:
        out = "_" + out
    return out


def _strip_error(exc: Exception) -> str:
    msg = str(exc).strip().replace("\n", " ")
    # Spark analysis errors append the whole logical plan after "SQLSTATE: xxxxx;"
    # — keep the human-readable part only (parity with the reference's
    # ANSI-stripped message, R/check_data.R:370-380)
    m = re.search(r"SQLSTATE: \w+", msg)
    if m:
        msg = msg[: m.end()]
    return msg[:500]


def _result_row(
    r: Rule,
    tests: int,
    passed: int,
    warn: str = "",
    error: str = "",
    elapsed: float = 0.0,
) -> dict[str, Any]:
    return {
        "check_type": r.check_type,
        "name": r.name,
        "expr": r.expr,
        "allow_na": r.allow_na,
        "negate": r.negate,
        "tests": int(tests),
        "pass": int(passed),
        "fail": int(tests) - int(passed),
        "warn": warn,
        "error": error,
        "time": float(elapsed),
    }


# ---------------------------------------------------------------------------
# Schema (data_column) validation — pure driver metadata, zero data scan
# (R/data_column.R:204-275)
# ---------------------------------------------------------------------------

_SPARK_INTS = (T.IntegerType, T.LongType, T.ShortType, T.ByteType)
_SPARK_FAMILY = {
    "int": _SPARK_INTS,
    # R is.numeric: ints pass as numeric (R/data_column.R:320)
    "double": (T.DoubleType, T.FloatType, T.DecimalType, *_SPARK_INTS),
    "string": (T.StringType,),
    "boolean": (T.BooleanType,),
}


def _schema_row(name: str, expr: str, ok: bool, error: str) -> dict[str, Any]:
    return {
        "check_type": "schema",
        "name": name,
        "expr": expr,
        "allow_na": False,
        "negate": False,
        "tests": 1,
        "pass": int(ok),
        "fail": int(not ok),
        "warn": "",
        "error": "" if ok else error,
        "time": 0.0,
    }


def _schema_rows(
    df: DataFrame,
    decls: list[DataColumn],
    rules: list[Rule],
    extra_columns: str,
) -> tuple[list[dict[str, Any]], list[str]]:
    validate_data_columns(decls)
    rows: list[dict[str, Any]] = []
    warns: list[str] = []
    actual = {f.name: f.dataType for f in df.schema.fields}
    declared = {c.col for c in decls}

    # unknown-symbol hard stop — expression rules only; reference rules are
    # validated against their own datasets, not data_columns
    # (R/data_column.R:228-236 filters reference_rule out first)
    for r in rules:
        if isinstance(r, ReferenceRule):
            continue
        try:
            syms = r.symbols()
        except ExprError:
            continue
        unknown = [s for s in syms if s not in declared]
        if unknown:
            raise ValueError(
                f"rule '{r.name}' references undeclared column(s): {', '.join(unknown)}"
            )

    # extra-columns policy (R/data_column.R:215-226): warn emits a real
    # warning, fail hard-stops — both matching the reference's warning()/stop()
    extras = [c for c in actual if c not in declared]
    if extras:
        msg = (
            "Found extra columns not declared in `data_columns`: "
            + ", ".join(sorted(extras))
        )
        if extra_columns == "warn":
            warns.append(msg)
        elif extra_columns == "fail":
            raise ValueError(msg)

    for c in decls:
        exists = c.col in actual
        rows.append(
            _schema_row(
                f"Column exists: {c.col}",
                f"column_exists('{c.col}')",
                exists or c.optional,
                f"required column '{c.col}' not found",
            )
        )
        family = c.spark_type_family()
        if exists and c.type is not None:
            # unknown declared type ⇒ always passes (R/data_column.R:328)
            rows.append(
                _schema_row(
                    f"Column type: {c.col}",
                    f"column_type('{c.col}') == '{c.type}'",
                    family is None or isinstance(actual[c.col], _SPARK_FAMILY[family]),
                    f"column '{c.col}' has type '{actual[c.col].simpleString()}', "
                    f"declared '{c.type}'",
                )
            )
    return rows, warns


# ---------------------------------------------------------------------------
# The rule-evaluation core
# ---------------------------------------------------------------------------


def _split_rules(rules) -> tuple[list[Rule], list[ReferenceRule], list[UniquenessRule]]:
    """(expression, reference, uniqueness) rules, each in ruleset order."""
    ref = [r for r in rules if isinstance(r, ReferenceRule)]
    uniq = [r for r in rules if isinstance(r, UniquenessRule)]
    return [r for r in rules if not isinstance(r, (ReferenceRule, UniquenessRule))], ref, uniq


def _hit(pred: Column) -> Column:
    """1 where the predicate holds, else 0 (NULL counts as a fail)."""
    return F.when(pred, F.lit(1)).otherwise(F.lit(0))


def _count_aggs(compiled: list[_Compiled]) -> list[Column]:
    """``count(*) AS __tests`` plus, for each compiled rule ``i``, its pass
    count ``__p{i}`` and coercion-watch counts ``__w{i}_{j}``.  Rules with a
    compile/analysis error get no column (see :func:`_pass_columns`)."""
    aggs = [F.count(F.lit(1)).alias("__tests")]
    for i, c in enumerate(compiled):
        if c.pred is not None:
            aggs.append(F.sum(_hit(c.pred)).alias(f"__p{i}"))
            aggs += [F.sum(_hit(w)).alias(f"__w{i}_{j}") for j, w in enumerate(c.watchers)]
    return aggs


def _no_pass() -> Column:
    return F.lit(0).cast("long")


def _pass_columns(compiled: list[_Compiled]) -> list[tuple[str, str, Column]]:
    """(name, expr, pass column) per rule over a :func:`_count_aggs`
    aggregate; an error rule passes nothing, so fail = tests."""
    return [
        (c.rule.name, c.rule.expr, _no_pass() if c.pred is None else F.col(f"__p{i}"))
        for i, c in enumerate(compiled)
    ]


def _long_form(
    agg: DataFrame, keys: Sequence[Column | str], rows: list[tuple[str, str, Column]]
) -> DataFrame:
    """Unpivot an aggregate carrying ``__tests`` into one row per (group ×
    rule): ``keys..., name, expr, tests, pass, fail``.  One explode of an
    inline array of structs — pure Catalyst, no Python in the row path."""
    tests = F.col("__tests")
    structs = [
        F.struct(
            F.lit(name).alias("name"),
            F.lit(expr).alias("expr"),
            tests.alias("tests"),
            p.alias("pass"),
            (tests - p).alias("fail"),
        )
        for name, expr, p in rows
    ]
    wide = agg.select(*keys, F.explode(F.array(*structs)).alias("__r"))
    return wide.select(
        *wide.columns[:-1], "__r.name", "__r.expr", "__r.tests", "__r.pass", "__r.fail"
    )


def _any_null(cols: Sequence[str]) -> Column:
    return reduce(or_, [F.col(c).isNull() for c in cols])


def _group_pass(
    counted: DataFrame, keys: list[str], r: Rule, ok: Column, na: Column, cnt: str
) -> DataFrame:
    """Re-aggregate per-(group, value) counts to ``keys..., __tests, __pass``.
    Flag order of the aggregation-shaped rules is the OPPOSITE of expression
    rules: allow_na rescues the ``na`` rows FIRST and negate applies LAST
    (R/data_column.R:353-358), so with both flags set a NULL value is
    rescued to ok=TRUE and then negated to a FAIL."""
    if r.allow_na:
        ok = ok | na
    if r.negate:
        ok = ~ok
    return counted.groupBy(*keys).agg(
        F.sum(F.col(cnt)).alias("__tests"),
        F.sum(F.when(ok, F.col(cnt)).otherwise(F.lit(0))).alias("__pass"),
    )


def _reference_plan(
    df: DataFrame, r: ReferenceRule, keys: list[str], datasets: Mapping[str, DataFrame]
) -> DataFrame:
    """Per-group membership counts for one reference rule.

    R ``%in%`` never yields NA: NULL local ⇒ FALSE (R/data_column.R:352), so
    ``hit IS NOT NULL`` reproduces it exactly; allow_na rescues NULL local
    values (flag order in :func:`_group_pass`).

    r7 (guide §2.3 "aggregate before you shuffle"): the local side is
    projected to the keys + the local column ONLY (payload never joins) and
    pre-aggregated to ``(keys, value, count)`` BEFORE the membership join.
    Every row's verdict depends only on its value, so the join needs one row
    per DISTINCT (group, value), not one per data row; partial aggregation
    combines duplicates (including a hyper-hot FK value) map-side, and skew
    vanishes without AQE's help.  A NULL local value groups like any other
    value (count preserved) and still reads as a non-hit."""
    if r.ref_dataset not in datasets:
        raise ValueError(f"reference dataset '{r.ref_dataset}' not provided")
    ref = datasets[r.ref_dataset]
    if r.ref_col not in ref.columns:
        raise ValueError(f"reference column '{r.ref_col}' not in dataset '{r.ref_dataset}'")
    hit = _safe_alias(df.columns, "__dvfy_ref_val")
    cnt = _safe_alias(df.columns, "__cnt")
    # the FK column may itself be a group key: project it once
    proj = keys + ([r.local_col] if r.local_col not in keys else [])
    local = df.select(*proj).groupBy(*proj).agg(F.count(F.lit(1)).alias(cnt))
    ref_vals = ref.select(F.col(r.ref_col).alias(hit)).distinct()
    joined = local.join(ref_vals, local[r.local_col] == F.col(hit), "left")
    return _group_pass(joined, keys, r, F.col(hit).isNotNull(), F.col(r.local_col).isNull(), cnt)


def _uniqueness_plan(df: DataFrame, r: UniquenessRule, keys: list[str]) -> DataFrame:
    """Per-group uniqueness counts: tests = Σ key-group counts, pass = rows
    in singleton key groups.  The projection ships ONLY the group and key
    columns into the shuffle (at 10^12 rows the audio payload never moves);
    partial aggregation combines duplicate keys map-side.  NULL keys group
    together (SQL GROUP BY); allow_na rescues rows with a NULL key column."""
    missing = [c for c in r.unique_cols if c not in df.columns]
    if missing:
        raise ValueError(f"column(s) {missing} not in dataset")
    cnt = _safe_alias(df.columns, "__cnt")
    cols = keys + [c for c in r.unique_cols if c not in keys]
    grouped = df.select(*cols).groupBy(*cols).agg(F.count(F.lit(1)).alias(cnt))
    return _group_pass(grouped, keys, r, F.col(cnt) == 1, _any_null(r.unique_cols), cnt)


@dataclass
class _Plans:
    compiled: list[_Compiled]  # expression rules, ruleset order
    main: DataFrame  # keys..., __tests, __p{i}, __w{i}_{j}
    # reference then uniqueness rules: (rule, keys/__tests/__pass plan, error)
    side: list[tuple[Rule, DataFrame | None, str]]


def _evaluate(
    df: DataFrame,
    rules: Ruleset,
    keys: list[str] | None = None,
    datasets: Mapping[str, DataFrame] | None = None,
) -> _Plans:
    """Build (lazily — no job runs here) every plan a ruleset needs over
    ``df`` grouped by ``keys`` (none ⇒ one global group)."""
    keys = keys or []
    expr_rules, ref_rules, uniq_rules = _split_rules(rules)
    compiled = _compile_all(df, expr_rules)
    side: list[tuple[Rule, DataFrame | None, str]] = []
    for r in ref_rules + uniq_rules:
        try:
            if isinstance(r, ReferenceRule):
                side.append((r, _reference_plan(df, r, keys, datasets or {}), ""))
            else:
                side.append((r, _uniqueness_plan(df, r, keys), ""))
        except Exception as exc:  # missing column / dataset — error row
            side.append((r, None, _strip_error(exc)))
    return _Plans(compiled, df.groupBy(*keys).agg(*_count_aggs(compiled)), side)


# ---------------------------------------------------------------------------
# check_data
# ---------------------------------------------------------------------------


def _local_result_df(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Tiny driver-built summary frame as ONE partition.

    ``spark.createDataFrame(list)`` parallelizes local rows over
    ``defaultParallelism`` slices, so collecting a 5-row summary runs a
    32-task job — measured ~0.3 s of pure scheduling per call (r7, guide
    §1.2: per-task work includes task COUNT).  A single-slice RDD makes the
    collect a one-task job with identical values and schema enforcement."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _upgrade(x, spark: SparkSession | None):
    """Accept pandas frames for tiny local inputs — the analog of the
    reference upgrading bare data.frames to the active backend
    (R/check_data.R:86-95)."""
    if isinstance(x, DataFrame):
        return x
    try:
        import pandas as pd

        if isinstance(x, pd.DataFrame):
            s = spark or SparkSession.getActiveSession()
            if s is None:
                raise ValueError("pass spark= to check_data for pandas inputs")
            return s.createDataFrame(x)
    except ImportError:
        pass
    return x


def _resolve_datasets(
    x, data_name: str | None, spark: SparkSession | None = None
) -> tuple[DataFrame, dict[str, DataFrame], str]:
    x = _upgrade(x, spark)
    if isinstance(x, DataFrame):
        return x, {}, data_name or "df"
    if isinstance(x, Mapping):
        if not x:
            raise ValueError("empty dataset mapping")
        datasets = {k: _upgrade(v, spark) for k, v in x.items()}
        primary_name = data_name or next(iter(datasets))
        if primary_name not in datasets:
            raise ValueError(f"data_name '{primary_name}' not in dataset mapping")
        return datasets[primary_name], datasets, primary_name
    raise TypeError(f"x must be a DataFrame or mapping of DataFrames, got {type(x).__name__}")


def _side_row(r: Rule, plan: DataFrame | None, error: str, tests: int) -> dict[str, Any]:
    """Result row of one reference/uniqueness rule: its own key-only job;
    a failure at plan or run time becomes an error row, never a throw
    (R/check_data.R:301-315 applies to these rules too)."""
    if plan is None:
        return _result_row(r, tests, 0, error=error)
    t0 = _time.perf_counter()
    try:
        passed = plan.collect()[0]["__pass"]
        return _result_row(r, tests, int(passed or 0), elapsed=_time.perf_counter() - t0)
    except Exception as exc:
        return _result_row(r, tests, 0, error=_strip_error(exc), elapsed=_time.perf_counter() - t0)


def _rule_warns(c: _Compiled, i: int, agg_row: dict, fn_warns: dict[str, list[str]]) -> str:
    warns: list[str] = []
    if any(int(agg_row[f"__w{i}_{j}"] or 0) > 0 for j in range(len(c.watchers))):
        warns.append(_COERCION_WARN)
    if fn_warns:
        try:
            called = get_called_functions(c.rule.expr)
        except ExprError:
            called = []
        for fn in called:
            warns.extend(m for m in fn_warns.get(fn, ()) if m not in warns)
    # unique messages joined with ", " exactly like the reference's
    # get_warnings (R/check_data.R: paste(unique(out), collapse = ", "))
    return ", ".join(warns)


def check_data(
    x: DataFrame | Mapping[str, DataFrame],
    rules: Ruleset | Rule | str,
    *,
    stop_on_fail: bool = False,
    stop_on_warn: bool = False,
    stop_on_error: bool = False,
    stop_on_schema_fail: bool = False,
    extra_columns: str = "ignore",
    data_name: str | None = None,
    spark: SparkSession | None = None,
    timing: str = "shared",
) -> DataFrame:
    """Run a ruleset against a dataset; return the 11-column summary DataFrame.

    Row-order contract (R/check_data.R:127-144): schema rows first, then
    row_rules in ruleset order, then reference rules, then uniqueness rules.

    ``timing`` semantics for the ``time`` column: the reference evaluates one
    scan per rule, so its per-rule times are real; this engine fuses all
    expression rules into ONE scan, so true per-rule cost does not exist.

    - ``"shared"`` (default): each rule's ``time`` is the fused scan's wall
      time divided evenly — total across rules equals real wall time, the
      per-rule split is nominal.
    - ``"per_rule"``: after the fused pass, each rule's predicate is ALSO
      timed in its own single-rule aggregation job and that wall time is
      reported — reference-comparable numbers, at the cost of N extra scans
      (use for profiling, never in production pipelines).

    Reference and uniqueness rules always report their own job's wall time.
    """
    if isinstance(rules, str):
        from .io import read_rules

        rules = read_rules(rules)
    if isinstance(rules, Rule):
        rules = ruleset(rules)
    if extra_columns not in ("ignore", "warn", "fail"):
        raise ValueError("extra_columns must be one of ignore/warn/fail")
    if timing not in ("shared", "per_rule"):
        raise ValueError("timing must be 'shared' or 'per_rule'")

    df, datasets, primary_name = _resolve_datasets(x, data_name or rules.data_name, spark)
    spark = spark or df.sparkSession

    schema_rows: list[dict[str, Any]] = []
    if rules.data_columns:
        schema_rows, schema_warns = _schema_rows(
            df, rules.data_columns, rules.rules, extra_columns
        )
        for msg in schema_warns:
            warnings.warn(msg, stacklevel=2)

    plans = _evaluate(df, rules, datasets=datasets)
    good = [i for i, c in enumerate(plans.compiled) if c.pred is not None]

    t0 = _time.perf_counter()
    warn_before = udf_warnings.snapshot()
    agg_row = plans.main.collect()[0].asDict()
    tests = int(agg_row["__tests"])
    per_rule_time = (_time.perf_counter() - t0) / max(len(good), 1)

    rule_times: dict[int, float] = {}
    if timing == "per_rule":
        for i in good:
            t1 = _time.perf_counter()
            df.agg(*_count_aggs([plans.compiled[i]])).collect()
            rule_times[i] = _time.perf_counter() - t1

    # executor-side warnings raised inside UDF batches during THIS job,
    # attributed to the rules whose expressions call the warning function
    # (reference records any evaluation warning, R/check_data.R:248-253)
    fn_warns: dict[str, list[str]] = {}
    for fn, msg in sorted(udf_warnings.new_since(warn_before)):
        fn_warns.setdefault(fn, []).append(msg)

    row_results = [
        # error row: pass=0, fail=tests (R/check_data.R:301-315)
        _result_row(c.rule, tests, 0, error=c.error)
        if c.pred is None
        else _result_row(
            c.rule,
            tests,
            int(agg_row[f"__p{i}"] or 0),
            warn=_rule_warns(c, i, agg_row, fn_warns),
            elapsed=rule_times.get(i, per_rule_time),
        )
        for i, c in enumerate(plans.compiled)
    ]

    # reference and uniqueness rules are independent key-only jobs — submit
    # them concurrently (Spark's scheduler interleaves jobs from driver
    # threads; the threads inherit the caller's job tags and group); result
    # rows still follow ruleset order
    with ThreadPoolExecutor(max_workers=min(4, len(plans.side)) or 1) as pool:
        side_rows = list(
            pool.map(
                inheritable_thread_target(spark)(lambda s: _side_row(*s, tests)), plans.side
            )
        )

    all_rows = schema_rows + row_results + side_rows
    result = _local_result_df(
        spark,
        [tuple(r[f.name] for f in RESULT_SCHEMA.fields) for r in all_rows],
        RESULT_SCHEMA,
    )

    _apply_stop_gates(
        all_rows,
        primary_name,
        stop_on_fail=stop_on_fail,
        stop_on_warn=stop_on_warn,
        stop_on_error=stop_on_error,
        stop_on_schema_fail=stop_on_schema_fail,
    )
    return result


def _apply_stop_gates(
    rows: list[dict[str, Any]],
    data_name: str,
    *,
    stop_on_fail: bool,
    stop_on_warn: bool,
    stop_on_error: bool,
    stop_on_schema_fail: bool,
) -> None:
    # message format per R/check_data.R:159-167
    rule_rows = [
        r for r in rows
        if r["check_type"] in ("row_rule", "reference_rule", "uniqueness_rule")
    ]
    schema_rows = [r for r in rows if r["check_type"] == "schema"]
    n_fail = sum(1 for r in rule_rows if r["fail"] > 0)
    n_warn = sum(1 for r in rows if r["warn"])
    n_error = sum(1 for r in rows if r["error"])
    n_schema_fail = sum(1 for r in schema_rows if r["fail"] > 0)

    trip = (
        (stop_on_fail and n_fail > 0)
        or (stop_on_warn and n_warn > 0)
        or (stop_on_error and n_error > 0)
        or (stop_on_schema_fail and n_schema_fail > 0)
    )
    if trip:
        raise CheckDataError(
            f"In dataset '{data_name}' found {n_fail} rule fails, "
            f"{n_warn} warnings, {n_error} errors"
            + (f", {n_schema_fail} schema fails" if n_schema_fail else "")
        )


# ---------------------------------------------------------------------------
# Distributed per-group summary (north_rule per-partition pass/fail rows)
# ---------------------------------------------------------------------------


def check_data_by(
    df: DataFrame,
    rules: Ruleset | Rule,
    by: list[str] | str,
    datasets: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Per-group pass/fail summary in long form ``by..., name, expr, tests,
    pass, fail`` — stays distributed (no collect).  At 10^12 rows this
    yields one summary row per (partition-key × rule), the north_rule shape.

    Runs the same core as :func:`check_data`, grouped by ``by``: ONE
    ``groupBy(by).agg`` computes every expression rule's conditional sum
    per group in a single shuffle; each reference rule is a key-only
    pre-aggregate → distinct-ref left join, each uniqueness rule a key-only
    ``groupBy(by + keys)`` count.  Summed over groups, tests/pass/fail equal
    ``check_data``'s (for a uniqueness rule: when no duplicate key spans
    two groups — uniqueness is judged within each group).

    Error rows match ``check_data``: a rule that fails to compile or
    analyse (missing column, bad call, missing lookup dataset) gets pass=0
    and fail=tests in every group.  Reference rules need ``datasets``
    (the lookup tables by name); without it a ruleset containing reference
    rules raises — a caller error, not a data error.

    Skew note (north_rule: hot clip_id partitions): conditional-sum
    aggregates combine map-side, so no salting is needed for the summary
    path.  Salting matters for DISTINCT counting (operators/uniqueness.py)
    and joins (AQE skewJoin enabled in session.build_spark), not for these
    sums.
    """
    if isinstance(rules, Rule):
        rules = ruleset(rules)
    keys = [by] if isinstance(by, str) else list(by)
    if datasets is None and any(isinstance(r, ReferenceRule) for r in rules):
        raise ValueError(
            "ruleset contains reference rules; pass datasets={'name': ref_df, ...} "
            "to check_data_by (they would otherwise be silently dropped)"
        )
    plans = _evaluate(df, rules, keys, datasets)
    rows = _pass_columns(plans.compiled)
    rows += [(r.name, r.expr, _no_pass()) for r, plan, _ in plans.side if plan is None]
    parts = [_long_form(plans.main, keys, rows)] if rows else []
    parts += [
        _long_form(plan, keys, [(r.name, r.expr, F.col("__pass"))])
        for r, plan, _ in plans.side
        if plan is not None
    ]
    if not parts:
        raise ValueError("no rules for check_data_by")
    return reduce(DataFrame.unionByName, parts)


def check_data_by_file(
    df: DataFrame,
    rules: Ruleset | Rule,
    datasets: Mapping[str, DataFrame] | None = None,
    *,
    file_col: str = "file",
    basename: bool = False,
) -> DataFrame:
    """Per-SOURCE-FILE pass/fail summary rows — the north_rule's "per-rule,
    per-partition pass/fail summary" with the same file-lineage unit the
    resumable ledger uses (``ledger.ValidationLedger``: the file is the unit
    that survives retries, repartitions and cluster-size changes, unlike
    ``spark_partition_id()``).

    ``input_file_name()`` is stamped inside the scan (no extra pass) and the
    summary routes through :func:`check_data_by`, so the plan is the same
    single grouped conditional-sum aggregate — one shuffle carrying one
    partial row per (file × task), never data rows.  At 10^12 rows over
    ~10^6 parquet files this yields files × rules summary rows: the shape a
    validation dashboard joins against the ingest manifest to find WHICH
    shard went bad.

    The default keeps the FULL file URI — unique by construction.
    ``basename=True`` reduces it to the last path segment, which reads
    better in a report but is NOT unique under a Hive-partitioned layout:
    the same task writes identically-named ``part-00003-*.parquet`` files
    into different ``key=value/`` directories, and those would silently
    merge into one summary row (caught by
    tests/test_check_data.py::TestCheckDataByFile).  Non-file sources raise
    (same driver-only guard as ``ValidationLedger.run_incremental``).
    """
    stamped = stamp_file_col(df, file_col, basename, caller="check_data_by_file")
    return check_data_by(stamped, rules, by=file_col, datasets=datasets)


def stamp_file_col(df: DataFrame, file_col: str, basename: bool, caller: str) -> DataFrame:
    """Shared file-lineage stamp for the ``*_by_file`` summaries: adds
    ``input_file_name()`` (optionally reduced to the basename — see the
    uniqueness caveat in :func:`check_data_by_file`) inside the scan, with
    the driver-only non-file-source and column-collision guards.

    Call on the freshly-READ frame: ``input_file_name()`` is task-scoped,
    so any exchange between the scan and the stamp (``repartition``, a
    join, an aggregation) erases it to ``''`` and every row collapses into
    one blank-file summary group.  ``df.inputFiles()`` cannot detect this
    (the lineage still lists the files), so the stamp itself guards: an
    empty ``input_file_name()`` raises IN the scan (``raise_error`` branch
    — same pass, no extra job) instead of silently mis-grouping."""
    if not df.inputFiles():
        raise ValueError(
            f"{caller} requires a file-backed DataFrame "
            "(df.inputFiles() is empty — input_file_name() would be '')"
        )
    if file_col in df.columns:
        raise ValueError(
            f"file_col {file_col!r} collides with an input column; "
            "pass file_col=<unused name>"
        )
    src = F.input_file_name()
    src = F.when(
        src == "",
        F.raise_error(
            F.lit(
                f"{caller}: input_file_name() is empty — an exchange between the "
                "scan and the stamp erases file lineage; call on the freshly-read "
                "frame (before repartition/join/aggregate)"
            )
        ),
    ).otherwise(src)
    if basename:
        src = F.regexp_extract(src, r"([^/]+)$", 1)
    return df.withColumn(file_col, src)


# ---------------------------------------------------------------------------
# Violation rows of the aggregation-shaped rules (filter_fails skips them the
# way the reference skips reference rules, R/filters.R:42-47)
# ---------------------------------------------------------------------------


def uniqueness_violations(df: DataFrame, r: "UniquenessRule") -> DataFrame:
    """Rows of ``df`` violating a uniqueness rule — the filter_fails
    complement.  A left-semi join against the duplicated key set; only keys
    shuffle."""
    keys = list(r.unique_cols)
    null_key = _any_null(keys)
    # allow_na rescues NULL-key rows FIRST: they leave the candidate pool
    # (and re-enter wholesale as violators under negation, flag order per
    # R/data_column.R:353-358)
    base = df.filter(~null_key) if r.allow_na else df
    cnt = _safe_alias(df.columns, "__cnt")
    bk = {c: _safe_alias(df.columns, f"__bk_{c}") for c in keys}
    grouped = base.groupBy(*[F.col(c) for c in keys]).agg(
        F.count(F.lit(1)).alias(cnt)
    )
    bad = F.col(cnt) > 1
    if r.negate:
        bad = ~bad  # singleton keys become the violators
    bad_keys = grouped.filter(bad).select(*[F.col(c).alias(bk[c]) for c in keys])
    # null-SAFE semi join: without allow_na a duplicated NULL-key group must
    # still surface (SQL GROUP BY groups NULLs together; a plain equi-join
    # would silently drop them)
    join_cond = reduce(and_, [base[c].eqNullSafe(bad_keys[bk[c]]) for c in keys])
    out = base.join(bad_keys, join_cond, "left_semi")
    if r.allow_na and r.negate:
        out = out.unionByName(df.filter(null_key))
    return out


def reference_violations(
    df: DataFrame, r: ReferenceRule, datasets: Mapping[str, DataFrame]
) -> DataFrame:
    """Rows of ``df`` violating a reference rule — the anti-join complement
    of the membership count (the reference's filter_fails skips reference
    rules, R/filters.R:42-47; this is the scale extension that materializes
    orphan rows for triage).

    Flag algebra mirrors check_reference_rule's order — allow_na rescue FIRST,
    negate LAST (R/data_column.R:353-358):

    Plain rule:          violators = rows whose local value is NOT in the set
                         (left_anti; NULL local is a violator: NULL∈set FALSE)
    allow_na:            NULL-local rows are rescued from the violator set
    negate:              ok = !in_set → violators = set hits (left_semi;
                         NULL local never matches, so it passes)
    negate + allow_na:   ok = !(in_set | is_na) → violators = set hits ∪ NULLs
    """
    if r.ref_dataset not in datasets:
        raise ValueError(f"reference dataset '{r.ref_dataset}' not provided")
    ref = datasets[r.ref_dataset]
    ref_vals = ref.select(F.col(r.ref_col).alias(r.local_col)).distinct()
    if r.negate:
        out = df.join(ref_vals, on=r.local_col, how="left_semi")
        if r.allow_na:
            # rescued-to-TRUE NULLs flip to FAIL under negation
            out = out.unionByName(df.filter(F.col(r.local_col).isNull()))
    else:
        out = df.join(ref_vals, on=r.local_col, how="left_anti")
        # left_anti keeps NULL locals (no match) -> violators, matching
        # %in% semantics; allow_na rescues them
        if r.allow_na:
            out = out.filter(F.col(r.local_col).isNotNull())
    return out
