"""Shared epoch-time helpers, robust to both fixture timestamp
encodings.

The driver's ``events`` fixture has shipped two physical encodings for
``ts`` across generator versions: TIMESTAMP(NANOS) (read as long under
the legacy conf and re-encoded by the loaders) and plain
TIMESTAMP(MICROS). Depending on reader defaults the logical type that
reaches query code is TIMESTAMP (LTZ) or TIMESTAMP_NTZ — and Spark 4
rejects ``unix_micros`` / ``cast("long")`` on NTZ
(DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE). Every epoch conversion in
the tree routes through here so a fixture flip can never redden a
single call site again.

NTZ → LTZ casts interpret the naive value in the session timezone
(pinned UTC in session.get_spark), so epoch values match DuckDB's
``epoch()`` over the same naive timestamps.

Mirrors the reference's epoch arithmetic on Kafka-event times
(`streaming/Htmls2PredsPipe.scala:95-98`), which never faced the issue
because Cassandra/Kafka timestamps are always zoned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TS_DTYPES = ("timestamp", "timestamp_ntz")


def _as_col(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def epoch_seconds(col: Column | str) -> Column:
    """Seconds since epoch for a TIMESTAMP or TIMESTAMP_NTZ column.

    ``cast(timestamp_ltz)`` is the identity on LTZ and the
    session-tz interpretation on NTZ; the final ``cast(long)``
    truncates toward zero like ``unix_timestamp``.
    """
    return _as_col(col).cast("timestamp_ltz").cast("long")


def epoch_micros(col: Column | str) -> Column:
    """Microseconds since epoch for a TIMESTAMP or TIMESTAMP_NTZ
    column (``unix_micros`` alone rejects NTZ input on Spark 4)."""
    return F.unix_micros(_as_col(col).cast("timestamp_ltz"))


def assert_timestamp_col(df: DataFrame, name: str) -> None:
    """Fail loudly when an epoch helper is pointed at a non-timestamp
    column. ``cast("timestamp_ltz")`` on a numeric column would
    silently reinterpret a raw epoch long as epoch *seconds*; callers
    that accept a caller-chosen ts column guard with this first."""
    dtype = dict(df.dtypes).get(name)
    if dtype not in _TS_DTYPES:
        raise TypeError(
            f"column {name!r} must be timestamp or timestamp_ntz for epoch "
            f"conversion, got {dtype!r} — cast explicitly at the call site "
            "if a numeric epoch column is intended"
        )


# Event-time validity window: an event timestamp outside
# [2000-01-01, 2100-01-01) is a corrupt producer clock (epoch-zero
# defaults, 1900-era sentinel dates, far-future garbage), not a
# measurement. It is excluded at the SAME ingestion boundary as
# NULL/NaN/out-of-range values (functions.pricing.finite_measure),
# and for streams it MUST be: one far-future event advances the
# watermark past every real event (late-drop starvation), and one
# pre-epoch event explodes calendar spines (a 1900 minimum turns a
# per-user day spine into ~45k rows). Deliberately wide — 2038 and
# leap-day instants are VALID and must flow through.
VALID_EVENT_TIME_MIN = "2000-01-01"
VALID_EVENT_TIME_MAX = "2100-01-01"
# The inactivity gap that closes a session, batch and streaming.
SESSION_GAP_MINUTES = 30


def valid_event_time(col: Column | str) -> Column:
    """Predicate: event timestamp within the sane-clock window."""
    c = _as_col(col)
    return (c >= F.lit(VALID_EVENT_TIME_MIN).cast("timestamp")) & (
        c < F.lit(VALID_EVENT_TIME_MAX).cast("timestamp")
    )


def valid_event_time_sql(expr: str) -> str:
    """DuckDB twin of :func:`valid_event_time` for oracle SQL."""
    return (
        f"({expr} >= TIMESTAMP '2000-01-01 00:00:00'"
        f" AND {expr} < TIMESTAMP '2100-01-01 00:00:00')"
    )


# Dimension-date validity window: the warehouse time axes
# (l_shipdate, o_orderdate) carry legitimate dates back into the
# 1990s, so valid_event_time's stream-calibrated [2000, 2100) window
# would amputate real history — but the same corrupt-clock sentinels
# (NULL, epoch zero, 1900 defaults, far-future garbage) occur and are
# just as poisonous: a NULL date cannot be placed on a series at all
# (Spark windows sort NULLS FIRST on ASC, DuckDB NULLS LAST — one
# NULL-dated row shifts every lag/rank/fold seed in its group, the
# r10 datenull finding: 13 series queries diverged), and a 1900/2262
# date is a producer bug, not an observation. [1990, 2100) — wide for
# history, closed to sentinels; 2038 and leap-days flow through.
VALID_DATE_AXIS_MIN = "1990-01-01"
VALID_DATE_AXIS_MAX = "2100-01-01"


def valid_date_axis(col: Column | str) -> Column:
    """Predicate: dimension date within the sane-clock window (NULL
    excluded by comparison semantics). Apply at the SERIES ingestion
    boundary of any walk ordered by a warehouse date — the time-axis
    twin of ``functions.pricing.finite_measure``."""
    c = _as_col(col)
    return (c >= F.lit(VALID_DATE_AXIS_MIN).cast("timestamp")) & (
        c < F.lit(VALID_DATE_AXIS_MAX).cast("timestamp")
    )


def valid_date_axis_sql(expr: str) -> str:
    """DuckDB twin of :func:`valid_date_axis` for oracle SQL."""
    return (
        f"({expr} >= TIMESTAMP '1990-01-01 00:00:00'"
        f" AND {expr} < TIMESTAMP '2100-01-01 00:00:00')"
    )
