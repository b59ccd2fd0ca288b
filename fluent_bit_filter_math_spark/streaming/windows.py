"""Event-time windowed aggregations over the ``events`` table.

The reference never interprets its timestamp (opaque copy-through,
/root/reference/filter_math/math.c:223,239); event-time semantics are
the streaming extension (SURVEY.md §2.3): tumbling, sliding, and
session windows.

Each query here is the *batch* form of the window — the exact same
``F.window`` / ``F.session_window`` expressions run unchanged under
``readStream`` (tests/test_streaming.py pins batch ≡ stream on this
module's specs, plus watermarking and streaming dedup, which have no
batch analogue for the oracle to check).

Scale design: tumbling/sliding windows are plain hash aggregates whose
key is (window, ...) — one shuffle, map-side partial agg, and in
streaming incremental state per window. Session windows shuffle on
user_id and merge sessions per key — Spark's native session_window
state store handles the merge; no Python. Window bounds are emitted as
formatted strings so the driver compares text, not engine-specific
timestamp encodings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo
from fluent_bit_filter_math_spark.functions import exact_cents
from fluent_bit_filter_math_spark.registry import register
from fluent_bit_filter_math_spark.sources import table

_FMT = "yyyy-MM-dd HH:mm:ss"
_D_FMT = "%Y-%m-%d %H:%M:%S"

# Exact-decimal sum of the 2-dp value column (same idiom as relational._dsum).
_SUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# tumbling window — 1 hour.
# ---------------------------------------------------------------------------
@register(
    "win_tumbling_hour",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_D_FMT}') AS window_start,
           COUNT(*) AS n_events,
           {_SUM_VALUE} AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts)
    """,
)
def win_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(_SUM_VALUE).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# sliding window — 1 hour window, 30 minute slide (2 windows per event).
# ---------------------------------------------------------------------------
@register(
    "win_sliding_hour_30m",
    oracle=f"""
    SELECT strftime(ws, '{_D_FMT}') AS window_start,
           COUNT(*) AS n_events,
           {_SUM_VALUE} AS sum_value
    FROM (
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                   - unnest([INTERVAL '0 minutes', INTERVAL '30 minutes']) AS ws,
               value
        FROM events
    )
    GROUP BY ws
    """,
)
def win_sliding_hour_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(_SUM_VALUE).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# session window — 30 minute inactivity gap per user.
# Spark's session end = last event + gap; the oracle reproduces it with the
# classic gaps-and-islands construction.
# ---------------------------------------------------------------------------
@register(
    "win_session_user",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), islands AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '{_D_FMT}') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '{_D_FMT}') AS session_end,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    """,
)
def win_session_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            F.date_format("w.end", _FMT).alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# chained streaming aggregation — hour → day rollup, TWO stateful window
# aggregates in ONE streaming query (Spark's multiple-stateful-operator
# support): the hourly tumbling aggregate's window time (window end − 1
# event-time unit, via F.window_time) feeds a second, daily window
# aggregate downstream. This is the streaming form of a hypertable
# rollup: the raw stream compacts to per-hour partials whose state
# expires with the watermark, and the daily layer aggregates ~24 rows
# per key-day instead of the raw event volume — at 100 TB/day the
# second stage's input is 5-6 orders of magnitude smaller than the
# first's.
#
# Finalization: in append mode a daily window only emits once the
# watermark passes its end. With the bounded availableNow replay the
# final watermark is max(ts) − delay, so the last calendar day of the
# fixture is legitimately unemitted. Batch ≡ stream on the emitted
# prefix: both the query (post-filter on the materialized result) and
# the DuckDB oracle (scalar subquery) keep days whose end ≤ max(ts) −
# delay − 1h margin — the same rule an unbounded deployment applies
# continuously, with the cutoff advancing instead of fixed.
# ---------------------------------------------------------------------------
@register(
    "stream_rollup_hour_to_day",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '{_D_FMT}') AS day_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def stream_rollup_hour_to_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import (
        read_events_stream,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, path, drop_nanos=True)
    cents = exact_cents(F.col("value"))
    hourly = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("hw"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("c"))
    )
    daily = (
        hourly.withColumn("ht", F.window_time("hw"))
        .groupBy(F.window("ht", "1 day").alias("dw"), "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("c").alias("cents"))
        .select(
            F.col("dw.start").alias("_day"),
            "event_type",
            "n_events",
            "cents",
        )
    )
    # Two chained stateful operators ⇒ two state stores per partition;
    # state cardinality here is tiny (≤ 720 hour-windows × |event_type|),
    # so per-partition store open/commit dominates. 4 partitions cuts the
    # bounded replay 6.2 → 1.6 s at sf0.1 (identical rows); a production
    # deployment sizes this up with actual state volume.
    out = run_stream_to_memory(
        daily, "stream_rollup_hour_to_day", shuffle_partitions=4
    )
    cutoff = (
        table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("interval 2 hour")).alias("cut"))
        .collect()[0]["cut"]
    )
    return (
        out.filter(F.col("_day") + F.expr("interval 1 day") <= F.lit(cutoff))
        .select(
            F.date_format("_day", _FMT).alias("day_start"),
            "event_type",
            "n_events",
            "cents",
        )
    )


# ---------------------------------------------------------------------------
# multi-grain time rollup (batch) — hour/day/week aggregates in ONE scan
# via GROUPING SETS over pre-computed time buckets, grain-tagged with
# grouping_id. The batch complement of stream_rollup_hour_to_day: a
# hypertable's continuous-aggregate backfill computes every grain in a
# single shuffle (partial aggregation map-side, one exchange), instead
# of one scan per grain. Week buckets use date_trunc('week') = Monday
# 00:00 on both engines.
# ---------------------------------------------------------------------------
@register(
    "rollup_time_grains",
    oracle=f"""
    SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day'
                ELSE 'week' END AS grain,
           strftime(coalesce(h, d, w), '{_D_FMT}') AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM (
      SELECT event_type, value,
             date_trunc('hour', ts) AS h,
             date_trunc('day', ts) AS d,
             date_trunc('week', ts) AS w
      FROM events
    )
    GROUP BY GROUPING SETS ((h, event_type), (d, event_type), (w, event_type))
    """,
)
def rollup_time_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    cents = exact_cents(F.col("value"))
    bucketed = ev.select(
        "event_type",
        cents.alias("c"),
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("week", "ts").alias("w"),
    )
    bucketed.createOrReplaceTempView("rollup_grains_src")
    return spark.sql(
        f"""
        SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                    WHEN GROUPING(d) = 0 THEN 'day'
                    ELSE 'week' END AS grain,
               date_format(coalesce(h, d, w), '{_FMT}') AS bucket_start,
               event_type,
               COUNT(*) AS n_events,
               SUM(c) AS cents
        FROM rollup_grains_src
        GROUP BY GROUPING SETS ((h, event_type), (d, event_type),
                                (w, event_type))
        """
    )


# ---------------------------------------------------------------------------
# streaming top-k trending — the "trending topics" shape: incremental
# hourly counts per event_type accumulate in window state (one shuffle,
# watermark-bounded), and the top-3 ranking runs BATCH-side over the
# emitted windows. Ranking inside the stream would need a window
# function after a stateful aggregate (unsupported, and rightly so —
# a rank is only final once the window closes); production deployments
# do exactly this split via foreachBatch or a downstream job over the
# sink table. State per trigger is O(open windows × |event_type|), not
# event volume.
#
# Finalization: append mode emits an hour once the watermark (max(ts) −
# 1h delay) passes its end; the cutoff keeps hours with end ≤ max(ts) −
# 2h (delay + 1h margin), the same rule as stream_rollup_hour_to_day.
# ---------------------------------------------------------------------------
@register(
    "stream_topk_trending",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hs,
             event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
            <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
      GROUP BY 1, 2
    )
    SELECT strftime(hs, '{_D_FMT}') AS window_start,
           event_type, n_events, cents, rnk
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY hs ORDER BY n_events DESC, event_type
             ) AS rnk
      FROM hourly
    )
    WHERE rnk <= 3
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from fluent_bit_filter_math_spark.pipeline import (
        read_events_stream,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, path, drop_nanos=True)
    hourly = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(exact_cents(F.col("value"))).alias("cents"),
        )
    )
    out = run_stream_to_memory(hourly, "stream_topk_trending", shuffle_partitions=4)
    cutoff = (
        table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("interval 2 hour")).alias("cut"))
        .collect()[0]["cut"]
    )
    rank_w = Window.partitionBy("w.start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        out.filter(F.col("w.end") <= F.lit(cutoff))
        .withColumn("rnk", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "cents",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# streaming materialized snapshot — latest state per key (the CDC /
# materialized-view shape: a stream continuously maintaining "current
# row per user"). The aggregate is max_by over a (ts, event_id) struct
# ordering — an ordinary aggregate, so streaming state is ONE row per
# key (not the event history), updated incrementally per micro-batch.
# Complete-mode memory sink: each trigger overwrites with the current
# snapshot, so after the bounded availableNow replay the table IS the
# final materialized view. A production deployment writes update-mode
# deltas to a keyed sink (foreachBatch MERGE — see merge_upsert_orders
# for the batch shape) instead of re-emitting the snapshot.
# ---------------------------------------------------------------------------
@register(
    "stream_latest_state_per_user",
    oracle=f"""
    SELECT user_id,
           strftime(ts, '{_D_FMT}') AS last_ts,
           event_type AS last_event_type,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS last_cents
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import (
        read_events_stream,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, path, drop_nanos=True)
    snap = stream.groupBy("user_id").agg(
        F.max_by(
            F.struct("ts", "event_type", exact_cents(F.col("value")).alias("cents")),
            F.struct("ts", "event_id"),
        ).alias("last")
    )
    out = run_stream_to_memory(
        snap,
        "stream_latest_state_per_user",
        output_mode="complete",
        shuffle_partitions=4,
    )
    return out.select(
        "user_id",
        F.date_format("last.ts", _FMT).alias("last_ts"),
        F.col("last.event_type").alias("last_event_type"),
        F.col("last.cents").alias("last_cents"),
    )


# ---------------------------------------------------------------------------
# streaming distinct-users-per-hour — exact AND sketched, in one query:
# stage 1 dedups (window, user) pairs as a stateful aggregate; stage 2
# re-windows its window-time and counts rows (exact distinct) alongside
# an HLL approx_count_distinct over the deduped user ids. The emitted
# contract mirrors agg_approx_distinct: the exact count plus a boolean
# pinning the sketch within its error envelope — engine-specific HLL
# estimates can't be hash-compared, the contract can. Scale: stage 1
# state is the (window × active-user) set — the mergeable-sketch
# shape a 100 TB deployment keeps instead of raw events; stage 2 sees
# one row per pair.
# ---------------------------------------------------------------------------
@register(
    "stream_distinct_users_hourly",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_D_FMT}') AS window_start,
           COUNT(DISTINCT user_id) AS n_users,
           TRUE AS approx_ok
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    GROUP BY date_trunc('hour', ts)
    """,
)
def stream_distinct_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import (
        read_events_stream,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, path, drop_nanos=True)
    pairs = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("hw"), "user_id")
        .agg(F.count("*").alias("_n"))
    )
    hourly = (
        pairs.withColumn("ht", F.window_time("hw"))
        .groupBy(F.window("ht", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_users"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("_approx"),
        )
    )
    out = run_stream_to_memory(
        hourly, "stream_distinct_users_hourly", shuffle_partitions=4
    )
    cutoff = (
        table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("interval 2 hour")).alias("cut"))
        .collect()[0]["cut"]
    )
    # Error contract sized to the regime: per-hour cardinality here is
    # 4-30 users, where HLL++ runs linear counting — deviation is a
    # few ABSOLUTE counts (measured max 3 at sf0.01), so a pure
    # relative bound mislabels an off-by-one on a 4-user hour. Within
    # ±6 absolute OR 15% relative — both deterministic (HLL register
    # maxes are order-independent).
    abs_err = F.abs(F.col("_approx") - F.col("n_users"))
    rel_err = abs_err / F.col("n_users")
    return (
        out.filter(F.col("w.end") <= F.lit(cutoff))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n_users",
            ((abs_err <= 6) | (rel_err <= 0.15)).alias("approx_ok"),
        )
    )


# ---------------------------------------------------------------------------
# incremental continuous-aggregate refresh (batch) — maintain a daily
# rollup WITHOUT rescanning history: the standing rollup covers events
# before the refresh cutoff (pre-aggregated once), the delta scan reads
# only the new slice, and the merge is a groupBy-sum over (day, type)
# partials — mergeable-aggregate maintenance, the TimescaleDB
# continuous-aggregate / materialized-view-refresh shape. At 100 TB the
# refresh cost tracks the DELTA size + rollup cardinality, never the
# corpus. The oracle recomputes the rollup from scratch — the merged
# result must be indistinguishable (counts/cents are integers, so the
# merge is exact by construction).
# ---------------------------------------------------------------------------
_REFRESH_CUTOFF = "2024-01-24 00:00:00"


@register(
    "rollup_incremental_refresh",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '{_D_FMT}') AS day_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    cents = exact_cents(F.col("value"))

    def day_rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").alias("_day"), "event_type"
        ).agg(F.count("*").alias("n_events"), F.sum(cents).alias("cents"))

    # Standing rollup: everything before the cutoff, aggregated once
    # (in production this is the stored table; localCheckpoint stands in
    # for its materialization so the refresh plan cannot re-derive it
    # from the raw scan).
    standing = day_rollup(
        ev.filter(F.col("ts") < _REFRESH_CUTOFF)
    ).localCheckpoint(eager=True)
    delta = day_rollup(ev.filter(F.col("ts") >= _REFRESH_CUTOFF))
    return (
        standing.unionByName(delta)
        .groupBy("_day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("cents").alias("cents"),
        )
        .select(
            F.date_format("_day", _FMT).alias("day_start"),
            "event_type",
            "n_events",
            "cents",
        )
    )


# ---------------------------------------------------------------------------
# streaming session windows — the native session_window aggregate under
# readStream (win_session_user above is the batch form; the batch≡stream
# identity is also pinned in tests/test_streaming.py — this registers
# the STREAMING run itself under the driver's oracle gate). Sessions
# merge in the state store per user and emit in append mode once the
# watermark passes session end (last event + gap). Finalization cutoff:
# keep sessions whose end ≤ max(ts) − 2h (1h delay + 1h margin), the
# same bounded-replay rule as the other stream_* queries; the oracle
# rebuilds sessions with the gaps-and-islands construction under the
# identical cutoff.
# ---------------------------------------------------------------------------
@register(
    "stream_session_window_user",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), islands AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    ), sessions AS (
        SELECT user_id,
               MIN(ts) AS s_start,
               MAX(ts) + INTERVAL '30 minutes' AS s_end,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, session_no
    )
    SELECT user_id,
           strftime(s_start, '{_D_FMT}') AS session_start,
           strftime(s_end, '{_D_FMT}') AS session_end,
           n_events
    FROM sessions
    WHERE s_end <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    """,
)
def stream_session_window_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import (
        read_events_stream,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, path, drop_nanos=True)
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_stream_to_memory(
        sessions, "stream_session_window_user", shuffle_partitions=4
    )
    cutoff = (
        table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("interval 2 hour")).alias("cut"))
        .collect()[0]["cut"]
    )
    return (
        out.filter(F.col("w.end") <= F.lit(cutoff))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            F.date_format("w.end", _FMT).alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# session window with a DYNAMIC per-event gap — Spark's gap argument
# accepts a Column, so different event kinds can hold a session open
# for different durations (here: purchase/signup keep the visit alive
# 60 minutes, everything else 15). Each event contributes the interval
# [ts, ts+gap(event)); overlapping intervals merge — i.e. the session
# is the interval UNION (the interval_union_coverage semantics), which
# is exactly how the oracle replays it: running max of previous
# interval ends → island flag → island id → per-island aggregate, on
# exact epoch-µs integers. Same F.session_window expression runs
# unchanged under readStream (state-store merge); the batch form here
# sits under the value-hash gate.
# ---------------------------------------------------------------------------
_DG_LONG_US = 3_600_000_000  # 60 min
_DG_SHORT_US = 900_000_000  # 15 min


@register(
    "win_session_dynamic_gap",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS us,
             epoch_us(ts) + CASE WHEN event_type IN ('purchase', 'signup')
                                 THEN {_DG_LONG_US}
                                 ELSE {_DG_SHORT_US} END AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, us, e, event_id,
             CASE WHEN MAX(e) OVER (
                    PARTITION BY user_id
                    ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) > us THEN 0 ELSE 1 END AS new_island
      FROM o
    ),
    numbered AS (
      SELECT user_id, us, e,
             SUM(new_island) OVER (
               PARTITION BY user_id
               ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS island
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(MAX(e) AS BIGINT) AS session_end_us,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, island
    ORDER BY user_id, session_start_us
    """,
)
def win_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    gap = F.when(
        F.col("event_type").isin("purchase", "signup"), F.lit("60 minutes")
    ).otherwise(F.lit("15 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias(
                "session_end_us"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


# ---------------------------------------------------------------------------
# streaming dynamic-gap sessions — the SAME F.session_window(gap
# Column) expression as win_session_dynamic_gap, under readStream:
# the state store merges per-event [ts, ts+gap(event)) intervals
# incrementally and emits each session when the watermark passes its
# end (append mode). Like stream_session_window_user, sessions whose
# end lies inside the final watermark margin never finalize in a
# bounded availableNow replay, so both engines restrict to the same
# max(ts) − 2h cutoff.
# ---------------------------------------------------------------------------
@register(
    "stream_session_dynamic_gap",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) + CASE WHEN event_type IN ('purchase', 'signup')
                                 THEN 3600000000
                                 ELSE 900000000 END AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, us, e, event_id,
             CASE WHEN MAX(e) OVER (
                    PARTITION BY user_id
                    ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) > us THEN 0 ELSE 1 END AS new_island
      FROM o
    ),
    numbered AS (
      SELECT user_id, us, e,
             SUM(new_island) OVER (
               PARTITION BY user_id
               ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS island
      FROM flagged
    ),
    sessions AS (
      SELECT user_id,
             CAST(MIN(us) AS BIGINT) AS session_start_us,
             CAST(MAX(e) AS BIGINT) AS session_end_us,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, island
    )
    SELECT user_id, session_start_us, session_end_us, n_events
    FROM sessions
    WHERE session_end_us <=
          (SELECT max(epoch_us(ts)) - 7200000000 FROM events)
    ORDER BY user_id, session_start_us
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import (
        read_events_stream,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    stream = read_events_stream(spark, path, drop_nanos=True)
    gap = F.when(
        F.col("event_type").isin("purchase", "signup"), F.lit("60 minutes")
    ).otherwise(F.lit("15 minutes"))
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_stream_to_memory(
        sessions, "stream_session_dynamic_gap", shuffle_partitions=4
    )
    cutoff = (
        _events(spark, sf_dir)
        .agg((F.max("ts") - F.expr("interval 2 hour")).alias("cut"))
        .collect()[0]["cut"]
    )
    return (
        out.filter(F.col("w.end") <= F.lit(cutoff))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias(
                "session_end_us"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


# ---------------------------------------------------------------------------
# Late-data accounting audit — the operational question every
# watermarked deployment must answer: HOW MUCH data is the pipeline
# losing to lateness? This query replays ``events`` as a three-file
# stream (in-order history, in-order tail, then a STRAGGLER file of
# out-of-order rows), runs a watermarked tumbling-hour aggregate, and
# reports the engine's own late-data drop accounting
# (``numRowsDroppedByWatermark``) against the row/straggler totals.
#
# Two engine contracts, measured and pinned here (Spark 4.1):
# * The late-record filter in micro-batch N uses the watermark VALUE
#   PRINTED WITH batch N-1's progress — i.e. max event time through
#   batch N-2, minus the delay. For this replay the straggler batch
#   (batch 2) therefore filters with wm1 = max(f0) − 10 min: windows
#   still within (wm1, wm2] legitimately MERGE their stragglers
#   (correct, not lost), everything older is dropped.
# * The metric counts POST-partial-aggregation rows, not raw input
#   rows: the straggler file is written as ONE shard, so its map-side
#   partial aggregate holds one row per distinct hour window and the
#   reported count is "distinct straggler windows older than wm1".
#   The single-shard write is load-bearing for that determinism and
#   is enforced below.
#
# Scale: the audit is free — the metric falls out of the progress the
# engine already reports; the closed-form oracle is one aggregate over
# the straggler set. At 100 TB this is the dashboard number that tells
# you whether your watermark delay is eating real data.
# ---------------------------------------------------------------------------
_LATE_STRAG_MOD = 10  # event_id % MOD == 0 of the old half → straggler file
_LATE_DELAY_MS = 600_000


def _late_split_src(spark: SparkSession, sf_dir: str) -> str:
    """Three-file replay: f0 = in-order old half (minus stragglers),
    f1 = new half, f2 = stragglers (old rows arriving last). Memoized
    per sf_dir like the idle-close split (data prep, not the operator)."""
    import os

    from fluent_bit_filter_math_spark.scratch import (
        dir_key,
        scratch_dir,
        write_replay_split,
    )

    def build() -> str:
        base = scratch_dir(f"late-audit-{dir_key(sf_dir)}")
        src = os.path.join(base, "src")
        ev = table(spark, sf_dir, "events").select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        us = F.unix_micros("ts")
        boundary = float(
            ev.select(
                F.expr("percentile(unix_micros(ts), 0.5)").alias("q")
            ).collect()[0]["q"]
        )
        strag = (us <= boundary) & (F.col("event_id") % _LATE_STRAG_MOD == 0)
        # single-shard writes are load-bearing (above)
        write_replay_split(
            src,
            [ev.filter((us <= boundary) & ~strag),
             ev.filter(us > boundary),
             ev.filter(strag)],
        )
        return src

    src = memo.get(spark, "late_split", sf_dir, build)
    return src + "/f*"  # glob path covering every slice dir


@register(
    "stream_late_data_audit",
    oracle=f"""
    WITH b AS (
      SELECT quantile_cont(CAST(epoch_us(ts) AS DOUBLE), 0.5) AS q
      FROM events
    ),
    f0 AS (
      SELECT ts FROM events, b
      WHERE CAST(epoch_us(ts) AS DOUBLE) <= q
        AND event_id % {_LATE_STRAG_MOD} <> 0
    ),
    f2 AS (
      SELECT ts FROM events, b
      WHERE CAST(epoch_us(ts) AS DOUBLE) <= q
        AND event_id % {_LATE_STRAG_MOD} = 0
    ),
    wm AS (
      SELECT max(epoch_us(ts)) // 1000 - {_LATE_DELAY_MS} AS wm1 FROM f0
    )
    SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_input,
           CAST((SELECT COUNT(*) FROM f2) AS BIGINT) AS n_stragglers,
           CAST((SELECT COUNT(DISTINCT epoch_us(ts) // 3600000000)
                 FROM f2, wm
                 WHERE (epoch_us(ts) // 3600000000 + 1) * 3600000
                       <= wm.wm1) AS BIGINT) AS late_windows_dropped
    """,
)
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    src = _late_split_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )
    from fluent_bit_filter_math_spark.pipeline import stream_parts

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(stream_parts()))
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                stream.writeStream.format("noop")
                .queryName("stream_late_data_audit")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            progs = q.recentProgress
    finally:
        spark.conf.set(key, old)
    n_input = sum(p["numInputRows"] for p in progs)
    n_strag = [p["numInputRows"] for p in progs if p["batchId"] == 2]
    dropped = sum(
        s["numRowsDroppedByWatermark"]
        for p in progs
        for s in p["stateOperators"]
    )
    return spark.createDataFrame(
        [(n_input, n_strag[0] if n_strag else 0, dropped)],
        "n_input long, n_stragglers long, late_windows_dropped long",
    )
