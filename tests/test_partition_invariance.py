"""Physical-layout invariance of the money/fold-family aggregates.

The repo's scale contract claims these results are REPRODUCIBLE at
1000 executors: revenue shares are computed in exact integer cents
("order-independent denominators"), and the sequential-fold family
(EMA / CUSUM / drawdown) folds an identically-sorted per-group array
so "every float op runs in the identical order". None of that was
directly tested — the oracle gate always reads the SAME parquet
layout on both engines, so an order-dependent float sum would still
hash-match.

This test manufactures what a real cluster does between any two runs:
a warehouse with the same rows but a DIFFERENT physical layout —
rows shuffled (orderBy(rand)), different file count (repartition(7)
vs the driver's single file per table). Each query must produce
BIT-IDENTICAL results on both layouts. A failure here is exactly the
"works on this box, drifts at 1000 executors" bug class.

Queries whose outputs are doubles derived from float sums pass
because every sum that feeds a comparison/share/rank is integer cents
(long/decimal) first — the property under test.

Detection power (verified when this test landed): a plain
``sum(l_extendedprice)`` over the same two layouts differs in its
low mantissa bits (0x1.2ea9a154f5c33p+28 vs ...c29p+28 at sf0.001),
so a query leaking a raw float sum into its output WOULD fail here.
"""

from __future__ import annotations

import math
import os

import pytest

from htmlentityextraction_spark.registry import oracles, queries
from tests.conftest import SF_SMOKE

# the aggregates whose docstrings claim order-independence, plus the
# headline money rollups; streaming queries are covered separately
# (their invariance axis is micro-batch boundaries, proven by the
# max_files_per_trigger tests and the fuzz-dir oracle gate)
INVARIANT_QUERIES = [
    "revenue_contribution_by_nation",   # exact-cents region shares
    "pareto_revenue_concentration",     # cents cumsum + integer 80% line
    "gini_coefficient_revenue",         # cents rank-sum
    "weighted_median_price_per_flag",   # integer cum*2 >= tot threshold
    "herfindahl_supplier_concentration",
    "ema_price_per_product",            # sorted-array fold
    "cusum_price_shift_per_product",    # sorted-array fold (mean + cusum)
    "max_drawdown_per_product",         # running-max window on sorted obs
    "matview_join_incremental",         # cents merge-table view
    "prod_metrics_delta_extremes",      # rank-1 picks w/ tie-breaks
    "date_trunc_daily_events",          # daily money rollup
    "price_zscore_outliers",
]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def shuffled_dir(spark, tmp_path_factory) -> str:
    """SF_SMOKE rewritten with shuffled row order and 7 files/table."""
    from pyspark.sql import functions as F

    dst = str(tmp_path_factory.mktemp("layout_inv"))
    for t in TABLES:
        df = spark.read.parquet(os.path.join(SF_SMOKE, f"{t}.parquet"))
        (
            df.orderBy(F.rand(42))
            .repartition(7)
            .write.mode("overwrite")
            .parquet(os.path.join(dst, f"{t}.parquet"))
        )
    return dst


def _canon_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = []
    for r in df.select(*cols).collect():
        vals = []
        for v in r:
            if isinstance(v, float):
                # bit-exact comparison, NaN-stable
                vals.append("nan" if math.isnan(v) else v.hex())
            else:
                vals.append(v)
        rows.append(tuple(vals))
    rows.sort(key=repr)
    return rows


@pytest.mark.parametrize("name", INVARIANT_QUERIES)
def test_layout_invariant(spark, name, shuffled_dir):
    q = queries()[name]
    assert name in oracles(), "every invariance query is also oracle-gated"
    base = _canon_rows(q(spark, SF_SMOKE))
    moved = _canon_rows(q(spark, shuffled_dir))
    assert len(base) == len(moved)
    assert base == moved, f"{name} drifts under physical re-layout"
