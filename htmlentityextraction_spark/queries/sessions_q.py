"""Skew-mitigation + sessionization queries.

The salted aggregation's oracle is the PLAIN group-by — proving the
two-phase salted plan returns bit-identical results. Sessionization is
gaps-and-islands in batch; the stateful-streaming twin's oracle is the
batch result minus each user's final (still-open) session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import skew
from htmlentityextraction_spark.functions.pricing import finite_measure, finite_measure_sql
from htmlentityextraction_spark.functions.temporal import valid_event_time
from htmlentityextraction_spark.functions.keys import valid_id
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.sources.tables import load_table
from htmlentityextraction_spark.streaming import pipeline as sp

_SESS_SQL = """
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WHERE ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS seq
        FROM ordered
    )
    SELECT user_id,
           -- CASTs: windowed sum() is HUGEINT and floor() is DOUBLE in
           -- DuckDB; the driver's pandas canon turns both into float64
           CAST(seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec
    FROM sess GROUP BY user_id, seq
"""


@register(
    "salted_skew_group_stats",
    f"""
    SELECT l_returnflag,
           count(l_extendedprice) AS n,
           floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS total,
           round(avg(l_extendedprice) + 1e-9, 6) AS mean,
           min(l_extendedprice) AS vmin,
           max(l_extendedprice) AS vmax
    FROM lineitem
    WHERE {finite_measure_sql('l_extendedprice')}
    GROUP BY l_returnflag
    """,
)
def salted_skew_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation on a 3-value hot key: the oracle is
    the plain GROUP BY, proving algebraic-aggregate recombination is
    exact. At 100 TB this turns a 3-reducer bottleneck into
    3x16 partials."""
    # corrupt measurements drop at ingestion: a NaN/+inf/-inf mix in
    # one group makes sum() engine-dependent (inf + -inf = NaN on one
    # accumulation order, -inf on another) — mixed-fuzz aligned
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite_measure("l_extendedprice")
    )
    return skew.salted_group_stats(
        li, ["l_returnflag"], "l_extendedprice", salt_on=F.col("l_orderkey")
    )


@register("sessionize_events", _SESS_SQL)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization over the events table
    (30-min inactivity gap): one window shuffle on user_id. Corrupt
    clocks (pre-2000 / post-2100) carry no session semantics and are
    rejected at ingestion (time-fuzz aligned)."""
    ev = load_table(spark, sf_dir, "events").filter(valid_event_time("ts"))
    return skew.sessionize(ev)


@register(
    "stream_sessionize_stateful",
    f"""
    WITH all_sessions AS ({_SESS_SQL}),
    -- valid_id: session state is keyed by user — a NULL id has no
    -- state key (the oracle's self-join already dropped NULL users;
    -- the stateful operator's groupBy kept them — keyfuzz r12)
    full_sessions AS (SELECT * FROM all_sessions WHERE user_id IS NOT NULL),
    last AS (SELECT user_id, max(session_seq) AS mseq FROM full_sessions GROUP BY user_id)
    SELECT f.user_id AS user_id, f.session_seq AS session_seq, f.n_events AS n_events,
           CAST(to_timestamp(floor(epoch(f.session_start))) AS TIMESTAMP) AS session_start,
           CAST(to_timestamp(floor(epoch(f.session_end))) AS TIMESTAMP) AS session_end,
           f.duration_sec AS duration_sec
    FROM full_sessions f JOIN last l ON f.user_id = l.user_id
    WHERE f.session_seq < l.mseq
    """,
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    emits each session as soon as the gap closes it; each user's final
    session stays open in state, so the oracle is the batch result
    minus the last session per user. Session numbering here is
    0-based from the stream; the batch oracle's sum-of-breaks is
    1-based — aligned by +1."""
    stream = sp.read_events_stream(spark, sf_dir).filter(
        valid_event_time("ts") & valid_id("user_id")
    )
    out = sp.run_to_memory(spark, sp.sessionize_stream(stream))
    return out.withColumn("session_seq", F.col("session_seq") + 1)


@register(
    "stream_session_window_builtin",
    """
    WITH o AS (
        SELECT user_id, ts, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WHERE ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, us,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS seq
        FROM o
    ), g AS (
        SELECT user_id, seq, count(*) AS n_events,
               min(us) AS start_us, max(us) AS end_us
        FROM s GROUP BY user_id, seq
    ), wm AS (SELECT max(epoch_us(ts)) AS mx FROM events
              WHERE ts >= TIMESTAMP '2000-01-01 00:00:00' AND ts < TIMESTAMP '2100-01-01 00:00:00')
    SELECT user_id, start_us, end_us, n_events
    FROM g, wm WHERE end_us + 1800000000 < mx
    """,
)
def stream_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` sessionization (the declarative
    twin of the applyInPandasWithState operator behind
    stream_sessionize_stateful): 30-minute inactivity gap, append
    mode. The oracle pins BOTH semantics the built-in implements —
    the strict merge boundary (a gap of exactly the window breaks the
    session: diff >= gap in microseconds) and watermark emission
    (a session emits once watermark > session_end + gap; with a
    0-second delay the held-back tail is each user's trailing
    sessions within one gap of stream end). State is gap-bounded per
    user, merged by Spark's native session-merge — no Python in the
    loop."""
    from htmlentityextraction_spark.functions.temporal import epoch_micros

    # sane-clock guard before the watermark (one far-future corrupt
    # ts would mark every real session late — time-fuzz aligned)
    ev = sp.read_events_stream(spark, sf_dir).filter(valid_event_time("ts"))
    sessions = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max(epoch_micros("ts")).alias("end_us"),
        )
        .select(
            "user_id",
            epoch_micros("w.start").alias("start_us"),
            "end_us",
            "n_events",
        )
    )
    return sp.run_to_memory(spark, sessions)
