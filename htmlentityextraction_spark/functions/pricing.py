"""Price-domain column expressions (SURVEY.md §2.8 F13/F14/F18).

Every function returns a Column built from pyspark.sql.functions only,
so the logic stays inside whole-stage codegen — these are the rebuild's
equivalents of the reference's row-at-a-time Scala closures.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Measurement-domain bound: any |v| ≥ 1e10 — ±inf, ±1e308, 2^53-scale
# garbage, or a finite-but-absurd magnitude — is a corrupt measurement
# (no real price/metric in this domain reaches ten billion; clean
# fixtures top out below 5e5), excluded at the SAME ingestion boundary
# as NULL/NaN (extreme-fuzz axis). The bound is sized for EXACT cents
# statistics at cluster scale, not just single values: cents = v*100
# ≤ 1e12 fits a long with 6 orders of margin, squared cents ≤ 1e24,
# and a 10^12-row sum of squared cents ≤ 1e36 stays inside
# decimal(38,0) / int128 exact arithmetic with no overflow.
MAX_ABS_MEASURE = 1e10


def finite_measure(col: Column | str) -> Column:
    """Predicate: value is a usable measurement (non-NULL, non-NaN,
    |v| < 1e10). The two range comparisons alone would exclude
    NULL/NaN on both engines, but the explicit guards are kept for
    readability and to sidestep engine-specific NaN-comparison
    vectorization quirks."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        c.isNotNull()
        & ~F.isnan(c)
        & (c > F.lit(-MAX_ABS_MEASURE))
        & (c < F.lit(MAX_ABS_MEASURE))
    )


def finite_measure_sql(expr: str) -> str:
    """DuckDB twin of :func:`finite_measure` for oracle SQL strings."""
    return (
        f"({expr} IS NOT NULL AND NOT isnan({expr})"
        f" AND {expr} > -{MAX_ABS_MEASURE:g} AND {expr} < {MAX_ABS_MEASURE:g})"
    )


def measure_cents(col: Column | str) -> Column:
    """Exact cents of a measurement: ``floor(v*100 + 0.5)`` as a long,
    NULL unless :func:`finite_measure` holds (Spark's floor(NaN) is 0
    and floor(±inf) clamps, so the guard comes first). Sums of cents
    are exact on both engines where sums of doubles are not."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(finite_measure(c), F.floor(c * 100 + F.lit(0.5)).cast("long"))


def measure_cents_sql(expr: str) -> str:
    """DuckDB twin of :func:`measure_cents`."""
    return f"(CASE WHEN {finite_measure_sql(expr)} THEN CAST(floor({expr} * 100 + 0.5) AS BIGINT) END)"


def descretize(cont: Column) -> Column:
    """|Δ| → level 1..6 ladder.

    Reference: `analytics/CalcIndices.scala:46-54` (``descretize``).
    """
    a = F.abs(cont)
    return (
        F.when(a <= 0.2, 1)
        .when(a <= 0.4, 2)
        .when(a <= 0.6, 3)
        .when(a <= 0.8, 4)
        .when(a <= 1.0, 5)
        .otherwise(6)
    )


def cv_rank(cv: Column) -> Column:
    """Coefficient-of-variation → rank 1..5.

    Reference: `analytics/CalcIndices.scala:163-169`,
    `analytics/UrlPositionAndVar.scala:82-88`.
    """
    return (
        F.when(cv <= 0.2, 1)
        .when(cv <= 0.4, 2)
        .when(cv <= 0.6, 3)
        .when(cv <= 0.85, 4)
        .otherwise(5)
    )


def rel_place_rank(rel_place: Column) -> Column:
    """Relative market place → rank ladder {5,10,20,...,95,100}.

    Reference: `analytics/CalcIndices.scala:171-185`.
    """
    return (
        F.when(rel_place <= 0.05, 5)
        .when(rel_place <= 0.1, 10)
        .when(rel_place <= 0.2, 20)
        .when(rel_place <= 0.3, 30)
        .when(rel_place <= 0.4, 40)
        .when(rel_place <= 0.5, 50)
        .when(rel_place <= 0.6, 60)
        .when(rel_place <= 0.7, 70)
        .when(rel_place <= 0.8, 80)
        .when(rel_place <= 0.9, 90)
        .when(rel_place <= 0.95, 95)
        .otherwise(100)
    )


# The statuses whose rows reach the realtime sink, and the statuses
# whose selected price is the model's or the pattern's (the rest,
# bothFailed, select 0.0).
PASSING = ("modeledPatternEquals", "minorModelPatternConflict", "majorModelPatternConflict")
_MODEL_PRICED = ("modeledPatternEquals", "minorModelPatternConflict", "patternFailed")
_PATTERN_PRICED = ("majorModelPatternConflict", "missingModel", "allFalseCandids")


def _sql_in(expr: str, values: tuple[str, ...]) -> str:
    return f"{expr} IN (" + ", ".join(f"'{v}'" for v in values) + ")"


def price_status(model_price: Column, updated_price: Column) -> Column:
    """Model-vs-pattern reconciliation status.

    Truth table from `streaming/Htmls2Cassandra.scala:183-227`:
    sentinels: model_price == -1 → allFalseCandids, -2 → missingModel;
    int(updated_price) == 0 → patternFailed; |Δ| < 0.009 → equals;
    relative |Δ| ≤ 0.1 → minor conflict, else major; combinations of
    failure flags → bothFailed / patternFailed / missingModel /
    allFalseCandids.
    """
    all_false = model_price == -1.0
    missing = model_price == -2.0
    # Scala's `updated_price.toInt == 0` is true exactly for NaN
    # (Double.NaN.toInt == 0) and for -1 < v < 1 (truncation toward
    # zero); ±inf/huge truncate to Int.Max/MinValue ≠ 0. Expressed
    # WITHOUT a cast — Spark's ANSI cast throws CAST_OVERFLOW on
    # NaN/±inf/out-of-int-range doubles (NaN/extreme-fuzz hardened),
    # while this range form is reference-exact for every double.
    pattern_failed = F.isnan(updated_price) | (
        (updated_price > F.lit(-1.0)) & (updated_price < F.lit(1.0))
    )
    model_ok = ~all_false & ~missing & ~pattern_failed
    equals = model_ok & (F.abs(model_price - updated_price) < 0.009)
    rel = F.abs(updated_price - model_price) / F.greatest(updated_price, model_price)
    return (
        F.when(equals, "modeledPatternEquals")
        .when(model_ok & (rel <= 0.1), "minorModelPatternConflict")
        .when(model_ok, "majorModelPatternConflict")
        .when((all_false | missing) & pattern_failed, "bothFailed")
        .when(pattern_failed, "patternFailed")
        .when(missing, "missingModel")
        .otherwise("allFalseCandids")
    )


def selected_price(status: Column, model_price: Column, updated_price: Column) -> Column:
    """Status → chosen price CASE.

    Reference: `utils/Utils.scala:408-432` (``getPriceFromMsgMap``):
    model price wins on equals/minor-conflict/patternFailed, pattern
    price on major-conflict/missingModel/allFalseCandids, 0.0 on
    bothFailed.
    """
    return (
        F.when(status.isin(*_MODEL_PRICED), model_price)
        .when(status.isin(*_PATTERN_PRICED), updated_price)
        .otherwise(F.lit(0.0))
    )


def price_status_sql(model_price: str, updated_price: str) -> str:
    """DuckDB twin of :func:`price_status`, branch for branch."""
    pattern_failed = f"(isnan({updated_price}) OR ({updated_price} > -1.0 AND {updated_price} < 1.0))"
    model_ok = f"NOT ({model_price} = -1.0) AND NOT ({model_price} = -2.0) AND NOT {pattern_failed}"
    return (
        f"(CASE WHEN {model_ok} AND abs({model_price} - {updated_price}) < 0.009"
        " THEN 'modeledPatternEquals'"
        f" WHEN {model_ok} AND abs({updated_price} - {model_price})"
        f" / greatest({updated_price}, {model_price}) <= 0.1 THEN 'minorModelPatternConflict'"
        f" WHEN {model_ok} THEN 'majorModelPatternConflict'"
        f" WHEN ({model_price} = -1.0 OR {model_price} = -2.0) AND {pattern_failed} THEN 'bothFailed'"
        f" WHEN {pattern_failed} THEN 'patternFailed'"
        f" WHEN {model_price} = -2.0 THEN 'missingModel'"
        " ELSE 'allFalseCandids' END)"
    )


def selected_price_sql(status: str, model_price: str, updated_price: str) -> str:
    """DuckDB twin of :func:`selected_price`."""
    return (
        f"(CASE WHEN {_sql_in(status, _MODEL_PRICED)} THEN {model_price}"
        f" WHEN {_sql_in(status, _PATTERN_PRICED)} THEN {updated_price} ELSE 0.0 END)"
    )


def passing_sql(status: str) -> str:
    """SQL predicate: ``status`` is one of :data:`PASSING`."""
    return f"({_sql_in(status, PASSING)})"
