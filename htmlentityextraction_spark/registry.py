"""Query registry backing ``__spark_entry__.py``.

Each implemented operator from SURVEY.md §2 registers
(name → (spark, sf_dir) -> DataFrame) and, when SQL-expressible, a
DuckDB oracle string. Column names/types are aligned between both
sides (driver hashes values under sorted column names).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# Queries with NO full-green driver verdict yet (registry minus the
# rows+schema+hash-green union of CORRECTNESS_r01..rN.json). The
# driver samples ~50 queries per round in dict order without repeats,
# so these are surfaced FIRST, in the order below (the sampling
# order: do not sort it). A new query, or one whose plan changes,
# goes here until its first driver verdict lands.
_DRIVER_UNCONFIRMED: tuple[str, ...] = (
    # round-13 rotation (VERDICT r12 item 1): the r12 optimizer's
    # semantics-preserving rewrites landed AFTER the r12 rotation was
    # frozen, so the driver's oracle has not hashed the rewritten
    # plans yet — front-load them. Queries whose plans change in THIS
    # round are prepended here as they change. The 50 names sampled in
    # CORRECTNESS_r12.json were all full-green and rotate out.
    # plan change after r13 (row floor 2500 -> 1750):
    "approx_percentile_accuracy",
    # r13 plan changes (materialization shape):
    "table_diff_reconciliation",
    "stream_bloom_prefilter_route",
    # r12 rewrites (front-loaded at r12 end):
    "price_delta_market_position",
    "rt2report_competitor_summary",
    "pagerank_copurchase_parts",
    "poisson_bootstrap_ci",
    "setsim_prefix_join_docs",
    "ema_price_per_product",
    "text_quality_profile",
    "dedup_minhash_lsh",
    # never yet driver-sampled (r12 list positions 51-59):
    "mergetable_zorder_read",
    "bfs_order_part_neighborhood",
    "corr_covar_qty_price",
    "ols_trend_qty_price",
    "price_zscore_outliers",
    "select_corpus_to_token_budget",
    "xml_field_extraction",
    "variant_semistructured_extraction",
    "exact_price_percentiles",
)


def queries() -> dict[str, QueryFn]:
    _load_all()
    first = [n for n in _DRIVER_UNCONFIRMED if n in _QUERIES]
    rest = [n for n in _QUERIES if n not in set(first)]
    return {n: _QUERIES[n] for n in first + rest}


def oracles() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (import-for-effect)."""
    global _LOADED
    if _LOADED:
        return
    importlib.import_module("htmlentityextraction_spark.queries")

    _LOADED = True
