"""``filter_fails`` — violation-row extraction (R/filters.R:27-92).

Failure-predicate algebra (R/filters.R:59-74), order is load-bearing:
1. negate wrap:      e' = !(e)            when negate
2. NA guard:         allow_na  ⇒ (e') | is.na(s1) | ...
                     !allow_na ⇒ (e') & !is.na(s1) & ...   (anti-guard: NULL
                     symbol rows must come out as FAILURES after step 3)
3. outer negation:   fail ⇔ !(guarded)

Spark three-valued logic makes the anti-guard exact: ``FALSE AND NULL`` is
FALSE, so a NULL-symbol row yields guarded=FALSE ⇒ fail=TRUE, matching the R
goldens (tests/testthat/test-filters.R:22-32).

Known reference-faithful subtlety: for multi-column expressions without
allow_na, the anti-guard can mark rows as violations that check_data counted
as passes — e.g. ``!(a > 0 & b < 4)`` on (a=NULL, b=5) evaluates TRUE (NULL &
FALSE = FALSE, negated), yet ``!is.na(a)`` fails the guard.  The reference
has the same property (its equality tests only use single-column rules);
filter_fails is therefore a SUPERSET of counted fails in that corner — see
tests/test_invariants.py.

Scale design: the combined (non-per-rule) mode is a SINGLE scan — per-rule
fail flags are assembled into an array of rule tags, NULL-filtered and
exploded, reproducing the reference's rbind-with-duplicates multiset
(R/filters.R:89) in one pass instead of one scan per rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .check import _analysis_errors
from .expr import col_ref
from .rules import ReferenceRule, Rule, Ruleset, UniquenessRule

__all__ = ["filter_fails", "fail_predicate", "violation_examples"]


def fail_predicate(r: Rule) -> Column:
    """Failure predicate for one rule (see module docstring)."""
    from .expr import compile_expr

    res = compile_expr(r.expr)
    pred = res.column
    if r.negate:
        pred = ~pred
    if r.allow_na:
        for s in res.symbols:
            pred = pred | col_ref(s).isNull()
    else:
        for s in res.symbols:
            pred = pred & col_ref(s).isNotNull()
    return ~pred


def _rules_from_result(res: DataFrame | Ruleset) -> list[Rule]:
    if isinstance(res, Ruleset):
        return [r for r in res if not isinstance(r, (ReferenceRule, UniquenessRule))]
    if isinstance(res, Rule):
        return [res]
    # a check_data summary DataFrame: keep failed row_rules only
    # (R/filters.R:42-47); this is a tiny driver-side table
    rows = res.select("check_type", "name", "expr", "allow_na", "negate", "fail").collect()
    return [
        Rule(expr=r["expr"], name=r["name"], allow_na=r["allow_na"], negate=r["negate"])
        for r in rows
        if r["check_type"] == "row_rule" and r["fail"] != 0
    ]


def filter_fails(
    res: DataFrame | Ruleset | Rule,
    x: DataFrame,
    per_rule: bool = False,
    *,
    tag: bool = False,
    drop_empty: bool = True,
) -> DataFrame | dict[str, DataFrame]:
    """Rows of ``x`` failing ≥1 rule.

    per_rule=True → dict keyed by the ORIGINAL expr string, empty entries
    dropped (R/filters.R:86-88; ``drop_empty=False`` keeps them lazy/no jobs).
    per_rule=False → one DataFrame, duplicates retained when a row fails
    several rules (R/filters.R:89).  ``tag=True`` adds a ``failed_rule``
    column (scale extension: write straight to a violations table).
    """
    staged: list[tuple[Rule, Column | Exception]] = []
    for r in _rules_from_result(res):
        try:
            staged.append((r, fail_predicate(r)))
        except Exception as exc:  # compile-time failure (ExprError)
            staged.append((r, exc))
    # an unusable rule (e.g. missing column) cannot identify violation rows;
    # check_data already reports it as an error row
    errors = _analysis_errors(x, [p for _, p in staged])
    usable = [rp for rp, err in zip(staged, errors) if err is None]

    if per_rule:
        out: dict[str, DataFrame] = {}
        for r, pred in usable:
            flt = x.filter(pred)
            if drop_empty and flt.isEmpty():
                continue
            out[r.expr] = flt
        return out

    if not usable:
        return x.limit(0).withColumn("failed_rule", F.lit("")) if tag else x.limit(0)

    # single-scan combined mode: array of failing-rule tags → explode
    flags = [F.when(pred, F.lit(r.expr)) for r, pred in usable]
    tagged = (
        x.withColumn("__fails", F.filter(F.array(*flags), lambda v: v.isNotNull()))
        .filter(F.size("__fails") > 0)
        .withColumn("failed_rule", F.explode("__fails"))
        .drop("__fails")
    )
    return tagged if tag else tagged.drop("failed_rule")


def violation_examples(
    res: DataFrame | Ruleset | Rule,
    x: DataFrame,
    k: int = 5,
    order_by: list[str] | str | None = None,
) -> DataFrame:
    """At most ``k`` violation rows PER RULE — the triage shape at corpus
    scale, where collecting the full violation set (possibly billions of
    rows) is never the goal.

    One tagged scan (``filter_fails`` combined mode) feeds a
    ``row_number() <= k`` window keyed by ``failed_rule``; Spark executes
    that as a WindowGroupLimit pre-limit, so every map task forwards at most
    k rows per rule BEFORE the shuffle — the exchange carries
    O(k × rules × partitions) rows, never the violation set (the same
    bound describe_by's keyed most_frequent relies on).

    ``order_by`` (column name(s)) makes the pick deterministic; it defaults
    to all of ``x``'s columns in order, which is deterministic for any
    duplicate-free frame.  Result: ``x``'s columns + ``failed_rule`` +
    ``example_rank`` (1-based within each rule)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    tagged = filter_fails(res, x, tag=True)
    if isinstance(order_by, str):
        order_by = [order_by]
    order_cols = [F.col(c) for c in (order_by or x.columns)]
    if "example_rank" in x.columns:
        # the fixed output column must not silently duplicate an input
        # column (AMBIGUOUS_REFERENCE for every downstream select) —
        # mirror stamp_file_col's collision contract (r6 ADVICE)
        raise ValueError(
            "violation_examples emits an 'example_rank' column but x already "
            "has one; rename or drop it first"
        )
    rn = "__rn"
    while rn in tagged.columns:  # collision-proof internal alias
        rn = "_" + rn
    w = Window.partitionBy("failed_rule").orderBy(*order_cols)
    return (
        tagged.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) <= k)
        .withColumnRenamed(rn, "example_rank")
    )
