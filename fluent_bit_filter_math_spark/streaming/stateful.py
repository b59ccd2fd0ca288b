"""Arbitrary stateful streaming: per-key running totals via
``applyInPandasWithState``.

SURVEY.md §2.3's "Streaming: arbitrary state" row — no reference
analogue (the reference's ctx holds only config, never data state,
/root/reference/filter_math/math.h:46-55).

The operator keeps (count, sum-of-cents) per user in the state store
and emits the updated totals each micro-batch. Registered as a driver
query by running the bounded stream (availableNow) to completion and
returning the final totals — so the DuckDB oracle can still verify the
stateful path end-to-end: with a single source file the replay is one
micro-batch, making the emitted totals the final ones.

Values accumulate as integer cents (the fixture's `value` has 2 dp):
exact arithmetic, so state-store accumulation order can never produce
a float divergence from the oracle.

Scale: state is partitioned by the grouping key across executors
(RocksDB-backed in production); each micro-batch shuffles only that
batch's rows to their key's state partition. The Pandas kernel sees
one group per call with its state handle — no driver involvement.

Spark 4's successor API, ``transformWithStateInPandas`` (typed state
variables, timers, TTL), is ALSO covered — its only missing dependency
in this container (the ``google.protobuf`` runtime its socket protocol
needs) is replaced by a pure-Python wire-format twin
(``state_proto_shim.py``), so ``stream_tws_user_totals`` below runs
the real typed-state path end to end against the RocksDB provider.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fluent_bit_filter_math_spark import memo
from fluent_bit_filter_math_spark.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from fluent_bit_filter_math_spark.functions import exact_cents
from fluent_bit_filter_math_spark.registry import register

# The TWS processor classes and their state schemas live in the LEAF
# module tws_processors (r17): the per-stream-start driver-side Python
# worker unpickles the processor by reference, and importing THIS
# module there cost +0.31 s (pandas + the query-registration graph)
# per start. Re-exported here so tests and callers keep one import
# surface.
from fluent_bit_filter_math_spark.streaming.tws_processors import (  # noqa: E501
    _OUT_SCHEMA,
    _STATE_SCHEMA,
    _TWS_IDLE_GAP_MS,
    _IdleCloseProcessor,
    _KMVSketchProcessor,
    _PrioritySampleProcessor,
    _PurchaseListProcessor,
    _TypeStatsProcessor,
    _UserTotalsProcessor,
)


def _update_totals(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # `cents` is pre-fixed JVM-side via exact_cents (floor(x*100+0.5),
        # rendering-independent in both engines; engine-native round(DOUBLE)
        # is not, and pandas .round() is half-to-even) — exact integers
        # only cross the Arrow boundary and enter the state store.
        cents += int(pdf["cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


def user_running_totals_stream(spark: SparkSession, path: str) -> DataFrame:
    stream = read_events_stream(spark, path, drop_nanos=True).select(
        "user_id", exact_cents(F.col("value")).alias("cents")
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = user_running_totals_stream(spark, f"{sf_dir}/events.parquet")
    return run_stream_to_memory(
        out, "stream_stateful_user_totals", output_mode="update"
    )


# ---------------------------------------------------------------------------
# arbitrary state #2 — event-time sessionization with custom gap logic.
# Native session_window (streaming/windows.py) covers the standard gap
# merge; THIS operator is the shape you drop to when session semantics
# outgrow it (custom gap rules, per-key counters, fraud windows): the
# kernel orders each group's batch by (ts, event_id), counts 30-min-gap
# session breaks against the state's last-seen timestamp, and carries
# (last_ts_us, n_sessions, n_events) forward. All state is integer
# epoch-µs / counts — no floats anywhere near the state store.
#
# Update-mode emission: the bounded single-file replay is one
# micro-batch (same contract as stream_stateful_user_totals above), so
# the emitted row per user is the final tally and the batch oracle is
# the classic gaps-and-islands count. Across many micro-batches the
# same kernel keeps counting as long as files replay in event-time
# order per key — the production deployment pairs it with a watermark
# and GroupStateTimeout to close idle sessions.
# ---------------------------------------------------------------------------
_SESS_OUT_SCHEMA = "user_id long, n_sessions long, n_events long"
_SESS_STATE_SCHEMA = "last_us long, n_sessions long, n_events long"
_SESS_GAP_US = 30 * 60 * 1_000_000


def _update_sessions(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    last_us, n_sessions, n_events = (
        state.get if state.exists else (None, 0, 0)
    )
    # applyInPandasWithState may deliver one group's micro-batch as
    # several Arrow chunks in arbitrary shuffle order; gap detection
    # needs the group's events in global event-time order, so gather
    # the whole micro-batch and sort ONCE before folding. Per-group
    # micro-batch volume is bounded by the trigger interval, not the
    # stream, so the concat is small by construction.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        whole = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        whole = whole.sort_values(["ts", "event_id"], kind="mergesort")
        for us in whole["ts"].astype("datetime64[us]").astype("int64"):
            us = int(us)
            if last_us is None or us - last_us > _SESS_GAP_US:
                n_sessions += 1
            last_us = us
            n_events += 1
    state.update((last_us, n_sessions, n_events))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
        }
    )


@register(
    "stream_stateful_sessions",
    oracle="""
    SELECT user_id,
           CAST(1 + SUM(CASE WHEN prev_us IS NOT NULL
                         AND us - prev_us > 1800 * 1000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_us
      FROM events
    )
    GROUP BY user_id
    """,
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(
        spark, f"{sf_dir}/events.parquet", drop_nanos=True
    ).select("user_id", "event_id", "ts")
    out = stream.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # user-keyed pandas kernel (~1500 groups): 16 partitions spread the
    # per-group sort/fold (solo 2.08 → 1.58 s; the _run_tws sizing rule)
    return run_stream_to_memory(
        out,
        "stream_stateful_sessions",
        output_mode="update",
        shuffle_partitions=16,
    )


# ---------------------------------------------------------------------------
# arbitrary state #3 — incremental sequence-pattern matching, the
# streaming form of operators/temporal.py's event_pattern_match
# (MATCH_RECOGNIZE decomposition): emit every purchase preceded by a
# view within 30 minutes with no error in between, as events ARRIVE.
# Pattern state per user is exactly the batch form's two trailing
# arg-maxima — (last_view_us, last_error_us) — carried in the state
# store across micro-batches, so each batch does O(batch) work and a
# match is emitted the moment its purchase shows up. Chunks are
# concatenated and sorted once per (user, batch) on exact epoch-µs
# (the _update_sessions discipline); -1 encodes "never seen".
# ---------------------------------------------------------------------------
_PAT_OUT_SCHEMA = "user_id long, purchase_event_id long, delay_us long"
_PAT_STATE_SCHEMA = "last_view long, last_err long"
_PAT_WINDOW_US = 1_800_000_000


def _update_pattern(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    lv, le = state.get if state.exists else (-1, -1)
    chunks = list(pdfs)
    whole = (
        pd.concat(chunks, ignore_index=True)
        if len(chunks) > 1
        else chunks[0]
    )
    whole = whole.sort_values(["us", "event_id"], kind="mergesort")
    out_ids: list[int] = []
    out_delay: list[int] = []
    for us, eid, et in zip(
        whole["us"], whole["event_id"], whole["event_type"]
    ):
        if et == "purchase":
            # le < lv also covers "no error yet" (le == -1 ≤ any lv ≥ 0)
            if lv >= 0 and us - lv <= _PAT_WINDOW_US and le < lv:
                out_ids.append(int(eid))
                out_delay.append(int(us - lv))
        elif et == "view":
            lv = int(us)
        else:  # error
            le = int(us)
    state.update((int(lv), int(le)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(out_ids),
            "purchase_event_id": out_ids,
            "delay_us": out_delay,
        }
    )


def pattern_match_stream(spark: SparkSession, path: str) -> DataFrame:
    stream = (
        read_events_stream(spark, path, drop_nanos=True)
        .filter(F.col("event_type").isin("view", "error", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_type",
        )
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_pattern,
        outputStructType=_PAT_OUT_SCHEMA,
        stateStructType=_PAT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_pattern_match_stateful",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      WHERE event_type IN ('view', 'error', 'purchase')
    ),
    m AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'view' THEN us END)
                 OVER w AS last_view_us,
             MAX(CASE WHEN event_type = 'error' THEN us END)
                 OVER w AS last_err_us
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id AS purchase_event_id,
           us - last_view_us AS delay_us
    FROM m
    WHERE event_type = 'purchase'
      AND last_view_us IS NOT NULL
      AND us - last_view_us <= 1800000000
      AND (last_err_us IS NULL OR last_err_us < last_view_us)
    ORDER BY user_id, purchase_event_id
    """,
)
def stream_pattern_match_stateful(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = pattern_match_stream(spark, f"{sf_dir}/events.parquet")
    # user-keyed pandas kernel (~1500 groups): 16 partitions (see
    # stream_stateful_sessions)
    res = run_stream_to_memory(
        out,
        "stream_pattern_match_stateful",
        output_mode="append",
        shuffle_partitions=16,
    )
    return res.orderBy("user_id", "purchase_event_id")


# ---------------------------------------------------------------------------
# arbitrary state #4 — transformWithStateInPandas, Spark 4's typed-state
# successor to applyInPandasWithState (SPARK-49564): named state
# variables created in init() via a handle (here one ValueState), an
# explicit per-key lifecycle (init/handleInputRows/close), timer
# support, and TTL — running against the RocksDB state store provider
# the API requires.
#
# This container has no google.protobuf runtime (and cannot install
# one), which is the API's only missing dependency: its Python worker
# speaks a protobuf socket protocol to the JVM state server. The
# engine ships a pure-Python wire-format twin of that message set
# (state_proto_shim.py, descriptor-fidelity-tested) and installs it
# only when the real runtime is absent — so this query exercises the
# REAL transformWithStateInPandas path end to end: JVM state server,
# RocksDB-backed ValueState, Arrow batch transfer, typed tuples.
#
# Semantics mirror stream_stateful_user_totals exactly (per-user
# count + integer-cents total, single-micro-batch bounded replay ⇒
# emitted rows are final totals), so the same batch oracle gates both
# the old and the new API — any wire-format slip in the shim surfaces
# as a hash mismatch or a stuck query, never silently.
#
# Scale: identical to applyInPandasWithState — state partitioned by
# key across executors, RocksDB keeps per-partition state off-heap,
# micro-batches shuffle only their own rows. The ValueState
# get/update round-trips per key per batch are socket-local.
# ---------------------------------------------------------------------------
from fluent_bit_filter_math_spark.streaming import state_proto_shim

state_proto_shim.install()


def _run_tws(
    out: DataFrame,
    name: str,
    output_mode: str = "update",
    keep_no_data_batch: bool = False,
    shuffle_partitions: int = 4,
) -> DataFrame:
    """Shared bounded-replay harness for the transformWithState queries
    (r8 VERDICT #3): one provider configuration, applied per start and
    restored after.

    * RocksDB provider — the API requires it.
    * ``trackTotalNumberOfRows=false`` — RocksDB otherwise pays an
      extra read per put to maintain a row-count gauge no bounded
      replay ever reads (measured ~5% of warm query time at sf0.1).
    * ``noDataMicroBatches.enabled=false`` unless the query NEEDS the
      terminal no-data batch (event-time timers fire there): for
      ``timeMode="None"`` processors that extra micro-batch is pure
      fixed cost — one more round of planning + per-partition state
      store open/commit — with no semantics. Callers with watermarks
      or timers pass ``keep_no_data_batch=True``.
    * ``shuffle_partitions`` sizes the STATE-partition count to the
      query's KEY CARDINALITY (r17; guide §2.2's partition-sizing rule
      applied to state stores): the TWS addBatch cost is per-key state
      RPCs, serialized per state partition, so user-keyed processors
      (~1500 keys at sf0.1) want 16 partitions (~100 keys each —
      measured −21-31% wall vs 4) while event-type-keyed processors
      (5 keys) want 4 (at 16+ the extra store open/commits exceed the
      parallelism; 32 partitions is 2-4x WORSE on both families).
      Still env-overridable via SPARK_GRAFT_STREAM_PARTS — a 100 TB
      deployment with millions of keys turns it far up.

    Measured floor (SCALING.md r9, re-decomposed r17 — see PLANS.md):
    ~1.1 s queryPlanning (the per-start non-daemon driver-side Python
    worker: bytecode-verified `PythonWorkerFactory(..., useDaemon =
    false)`; its unpickle import chain is trimmed by tws_processors)
    + per-key state-server RPCs in addBatch — per-QUERY API overhead
    that no shared configuration removes; the knobs above trim the
    rest.
    """
    spark = out.sparkSession
    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "trackTotalNumberOfRows": "false",
    }
    if not keep_no_data_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    olds = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return run_stream_to_memory(
            out,
            name,
            output_mode=output_mode,
            shuffle_partitions=shuffle_partitions,
        )
    finally:
        for k, v in olds.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "stream_tws_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_proto_shim.install()
    stream = read_events_stream(
        spark, f"{sf_dir}/events.parquet", drop_nanos=True
    ).select("user_id", exact_cents(F.col("value")).alias("cents"))
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserTotalsProcessor(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    # user-keyed (~1500 keys at sf0.1): 16 state partitions (_run_tws)
    return _run_tws(out, "stream_tws_user_totals", shuffle_partitions=16)


# ---------------------------------------------------------------------------
# arbitrary state #5 — transformWithStateInPandas with a typed
# MAPSTATE: per-user map event_type → (count, cents), the state shape
# the old applyInPandasWithState cannot express without serializing
# the whole map into one row. Exercises the full MapState protocol
# through the wire shim — containsKey / getValue / updateValue and
# the server-side iterator (StateResponseWithMapIterator, repeated
# kvPair) used to emit final rows.
#
# Bounded single-batch replay ⇒ emitted rows are final per-(user,
# type) tallies; the oracle is the plain two-key GROUP BY.
# ---------------------------------------------------------------------------
_TWS_MAP_OUT = (
    "user_id long, event_type string, n_events long, total_cents long"
)


@register(
    "stream_tws_type_stats",
    oracle="""
    SELECT user_id,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stream_tws_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_proto_shim.install()
    stream = read_events_stream(
        spark, f"{sf_dir}/events.parquet", drop_nanos=True
    ).select(
        "user_id", "event_type", exact_cents(F.col("value")).alias("cents")
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TypeStatsProcessor(),
        outputStructType=_TWS_MAP_OUT,
        outputMode="Update",
        timeMode="None",
    )
    # user-keyed (~1500 keys at sf0.1): 16 state partitions (_run_tws)
    return _run_tws(out, "stream_tws_type_stats", shuffle_partitions=16)


# ---------------------------------------------------------------------------
# arbitrary state #6 — transformWithStateInPandas with EVENT-TIME
# TIMERS: idle-session close, the canonical timer use case. Per-user
# ValueState carries (count, cents, last-event-ms, registered-timer);
# every input batch re-arms a timer at last_event + _TWS_IDLE_GAP_MS
# (deleting the stale one), and when the watermark passes a user's
# timer, handleExpiredTimer emits the closed session's totals and
# clears the state. Exercises the timer protocol end to end through
# the wire shim: RegisterTimer / DeleteTimer and the expiry iteration
# (ExpiryTimerRequest → StateResponseWithTimer, repeated TimerInfo).
#
# Replay contract (what makes a TIMER query oracle-checkable): the
# fixture is split at an event-time quantile into exactly TWO files
# replayed maxFilesPerTrigger=1, and availableNow appends a no-data
# batch after the last file once the watermark advances. With two
# files a user can fire only (a) in batch 2 — possible only when
# they have NO file-2 events, since input rows are processed before
# expiry and re-arm the timer — or (b) in the terminal no-data
# batch; in both cases the state holds the user's COMPLETE event
# history at fire time, so the engine-independent closed form holds:
# user fires iff last_ms + GAP < max_all_ms − delay, full-history
# totals. The TWO-file bound is load-bearing: with ≥3 files a user
# idle across an entire middle file they have no rows in would fire
# mid-replay with PARTIAL history and fire AGAIN at the end — that
# double emission is correct idle-session semantics, but it is not
# this closed form, so the registered query pins the 2-file replay
# and the slicing-invariance test varies the SPLIT BOUNDARY (median
# vs first-quartile), not the file count.
#
# Scale: timers live in the keyed state store next to the values;
# expiry scans are per-partition range reads (RocksDB-ordered), no
# shuffle beyond the input's keyed exchange.
# ---------------------------------------------------------------------------
_TWS_IDLE_DELAY = "10 minutes"  # watermark delay
_TWS_IDLE_SPLIT_FRAC = 0.5  # event-time split quantile; tests vary it
_TWS_IDLE_OUT = (
    "user_id long, n_events long, total_cents long, closed_at_ms long"
)


def _idle_split_src(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per Spark context per (sf_dir, split-frac)) the two
    event-time-ranged replay files and return their glob path.

    Memoized like storage.py's prepared-layout dirs: the split is DATA
    PREP, not the operator under test — rebuilding ~sf·6 MB of parquet
    on every invocation was ~20% of the query's warm cost at sf0.1.
    The key includes the split fraction because the slicing-invariance
    test varies it.
    """
    import os

    from fluent_bit_filter_math_spark.scratch import (
        dir_key,
        scratch_dir,
        write_replay_split,
    )
    from fluent_bit_filter_math_spark.sources import table

    frac = float(_TWS_IDLE_SPLIT_FRAC)

    def build() -> str:
        base = scratch_dir(f"tws-idle-{frac:g}-{dir_key(sf_dir)}")
        src = os.path.join(base, "src")
        ev = table(spark, sf_dir, "events").select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            exact_cents(F.col("value")).alias("cents"),
        )
        # Exactly two event-time-ranged files, split at an exact
        # percentile of event time (deterministic; the contract above is
        # only a closed form for a 2-file replay), replayed
        # oldest-range first.
        us = F.unix_micros(F.col("ts"))
        boundary = int(
            ev.select(
                F.expr(
                    f"percentile(unix_micros(ts), {_TWS_IDLE_SPLIT_FRAC})"
                ).alias("q")
            ).collect()[0]["q"]
        )
        write_replay_split(
            src, [ev.filter(us <= boundary), ev.filter(us > boundary)]
        )
        return src

    src = memo.get(spark, "idle_split", sf_dir, build, frac)
    return src + "/f*"  # glob path covering every slice dir


@register(
    "stream_tws_idle_close",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS total_cents,
             epoch_us(max(ts)) // 1000 AS last_ms
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm FROM events
    )
    SELECT user_id, n_events, total_cents,
           CAST(last_ms + {_TWS_IDLE_GAP_MS} AS BIGINT) AS closed_at_ms
    FROM u, g
    WHERE last_ms + {_TWS_IDLE_GAP_MS} < g.wm
    """,
)
def stream_tws_idle_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_proto_shim.install()
    src = _idle_split_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
        .withWatermark("ts", _TWS_IDLE_DELAY)
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_IdleCloseProcessor(),
        outputStructType=_TWS_IDLE_OUT,
        outputMode="Append",
        timeMode="EventTime",
    )
    # The terminal no-data micro-batch is LOAD-BEARING here: it is
    # where the watermark reaches max(ts) − delay and the idle timers
    # fire, so keep_no_data_batch must stay True.
    # user-keyed (~1500 keys at sf0.1): 16 state partitions (_run_tws)
    return _run_tws(
        out, "stream_tws_idle_close", output_mode="append",
        keep_no_data_batch=True, shuffle_partitions=16,
    )


# ---------------------------------------------------------------------------
# arbitrary state #7 — transformWithStateInPandas with LISTSTATE +
# INITIAL STATE + TTL config: the remaining typed-state API surface.
# Per-user ListState of purchase cents, SEEDED via the initialState
# GroupedData (handleInitialState runs before batch 1 — the
# batch-to-stream state-migration path every production rollout
# needs). TTL is deliberately NOT set: it requires
# timeMode=ProcessingTime, and a ProcessingTime TWS under an
# availableNow trigger keeps scheduling no-data micro-batches
# indefinitely (observed: epoch 670+ before timeout), breaking the
# bounded-replay contract every oracle-gated stream query relies on;
# the ttl.durationMs wire encoding is pinned by the shim's unit test
# (tests/test_streaming.py) and was accepted on the wire by the JVM
# (it returned the documented
# STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL error, proving
# the field round-trips). handleInputRows appends the batch's cents
# (appendList) and emits order-insensitive aggregates of the FULL
# list read back through the server-side list iterator
# (ListStateGet + requireNextFetch pagination in the wire shim).
#
# Single-batch bounded replay ⇒ emitted rows are final; oracle =
# seed row (user_id·100 + 7, pure arithmetic) + the user's purchase
# events, aggregated. Users with no purchase events never reach
# handleInputRows and emit nothing — the oracle filters identically.
# ---------------------------------------------------------------------------
_TWS_LIST_OUT = (
    "user_id long, n_items long, sum_cents long,"
    " min_cents long, max_cents long"
)


@register(
    "stream_tws_list_seeded",
    oracle="""
    WITH p AS (
      SELECT user_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    seed AS (
      SELECT DISTINCT user_id, user_id * 100 + 7 AS cents FROM p
    ),
    allv AS (
      SELECT user_id, cents FROM p
      UNION ALL SELECT user_id, cents FROM seed
    )
    SELECT user_id,
           COUNT(*) AS n_items,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM allv GROUP BY user_id
    """,
)
def stream_tws_list_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_proto_shim.install()
    from fluent_bit_filter_math_spark.sources import table

    stream = (
        read_events_stream(spark, f"{sf_dir}/events.parquet", drop_nanos=True)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", exact_cents(F.col("value")).alias("cents"))
    )
    # Initial state: one seed row per purchasing user, derived by pure
    # arithmetic so the oracle reproduces it.
    init_state = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (F.col("user_id") * 100 + 7).cast("long").alias("seed_cents"),
        )
        .groupBy("user_id")
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_PurchaseListProcessor(),
        outputStructType=_TWS_LIST_OUT,
        outputMode="Update",
        timeMode="None",
        initialState=init_state,
    )
    # user-keyed (~1500 keys at sf0.1): 16 state partitions (_run_tws)
    return _run_tws(out, "stream_tws_list_seeded", shuffle_partitions=16)


# ---------------------------------------------------------------------------
# arbitrary state #8 — a REAL bounded-state sketch as the stateful
# processor: streaming KMV (k-minimum-values) distinct-count. The
# batch twin (operators/sketches.py::sketch_kmv_distinct) proves the
# estimator; this one proves the INCREMENTAL form a 100 TB/day stream
# actually runs: per event_type, a typed ListState carries the K
# smallest 56-bit hashes ever seen, each micro-batch merges its new
# hashes and RE-TRUNCATES to K (listStatePut overwrite — the
# order-statistic merge pinned lossless by test_kmv_merge_is_lossless),
# so state is K longs per key FOREVER, whatever the cardinality. That
# bounded-state property is the entire reason sketches exist in
# streaming pipelines, and here it runs through the genuine
# transformWithState protocol (ListStateGet pagination + listStatePut
# through the wire shim).
#
# Replay: two event_id-parity files under maxFilesPerTrigger=1, so the
# state REALLY carries hashes across micro-batches (a single-batch
# replay would never read back its own list). Each batch emits the
# key's current (n_hashes_seen, estimate); n_hashes_seen is
# monotonically non-decreasing, and when it ties across batches the
# list — hence the whole row — is identical, so DISTINCT + keep the
# max-n row per key yields exactly the final sketch state. Oracle =
# the batch KMV closed form over all events (the same estimator
# arithmetic, engine-exact integers).
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_M = 1 << 56
_TWS_KMV_OUT = (
    "event_type string, n_kept long, kth_hash long,"
    " exact_style_estimate long"
)


def _kmv_split_src(spark: SparkSession, sf_dir: str) -> str:
    """Two event_id-parity replay files (event_type, 56-bit user hash),
    memoized per sf_dir like the other split builders."""
    import os

    from fluent_bit_filter_math_spark.scratch import (
        dir_key,
        scratch_dir,
        write_replay_split,
    )

    def build() -> str:
        base = scratch_dir(f"tws-kmv-{dir_key(sf_dir)}")
        src = os.path.join(base, "src")
        from fluent_bit_filter_math_spark.sources import table

        ev = table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 14),
                16, 10,
            ).cast("long").alias("hv"),
        )
        write_replay_split(
            src,
            [ev.filter(F.col("event_id") % 2 == 0),
             ev.filter(F.col("event_id") % 2 == 1)],
        )
        return src

    src = memo.get(spark, "kmv_split", sf_dir, build)
    return src + "/f*"  # glob path covering every slice dir


@register(
    "stream_tws_kmv_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)
                  AS BIGINT) AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv)
                 AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_distinct
      FROM h
    ),
    kth AS (
      SELECT event_type, n_distinct, hv AS h_k
      FROM ranked
      WHERE rn = LEAST({_KMV_K}, n_distinct)
    )
    SELECT event_type,
           CAST(LEAST({_KMV_K}, n_distinct) AS BIGINT) AS n_kept,
           CAST(h_k AS BIGINT) AS kth_hash,
           CAST(CASE WHEN n_distinct < {_KMV_K} THEN n_distinct
                ELSE ({_KMV_K} - 1) * {_KMV_M} // h_k END AS BIGINT)
               AS exact_style_estimate
    FROM kth
    """,
)
def stream_tws_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_proto_shim.install()
    src = _kmv_split_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
        .select("event_type", "hv")
    )
    out = stream.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_KMVSketchProcessor(),
        outputStructType=_TWS_KMV_OUT,
        outputMode="Update",
        timeMode="None",
    )
    res = _run_tws(out, "stream_tws_kmv_sketch")
    # Per-batch emissions: n_kept grows monotonically until it caps at
    # K, after which the Kth hash can only SHRINK as better minima
    # arrive — so the final sketch state per key is max n_kept, then
    # min kth_hash (when both tie the set, hence the row, is
    # identical). Selecting on n alone is WRONG once a key saturates:
    # two batches can both report n = K with different lists (caught
    # by the oracle on first submission — 142 vs 144).
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_kept"), F.asc("kth_hash")
    )
    return (
        res.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# arbitrary state #9 — streaming PRIORITY SAMPLE (the incremental
# twin of operators/sampling.py::sample_priority_topk): per stratum,
# a ListState carries the K+1 smallest u/w keys ever seen (K sample
# + the tau threshold entry), merged and re-truncated each
# micro-batch — the same lossless order-statistic merge as the KMV
# sketch, over WEIGHTED keys. Each batch emits the stratum's current
# Horvitz-Thompson total-weight estimate; a ValueState batch counter
# makes "the final state" selectable without ordering heuristics
# (max batch_seq per key — replay order is deterministic).
#
# Every arithmetic step in the processor is the IEEE-identical
# spelling of the batch query's Column expressions (hv/w division,
# 2^60/key threshold, floor(ht*1e6+0.5) fixed point), so the oracle
# is the same closed-form SQL the batch query uses, aggregated per
# stratum. State is K+1 rows per key FOREVER — the bounded-state
# property that makes a weighted sample maintainable on a stream.
# ---------------------------------------------------------------------------
_PRI_K = 64
_PRI_M = float(1 << 60)
_TWS_PRI_OUT = (
    "event_type string, batch_seq long, n_kept long, est_total_fp long"
)


def _pri_split_src(spark: SparkSession, sf_dir: str) -> str:
    """Two event_id-parity replay files of (event_type, skey, event_id,
    w) with skey = hv/w computed IN-PLAN (the batch query's exact
    Column expression), memoized per sf_dir."""
    import os

    from fluent_bit_filter_math_spark.scratch import (
        dir_key,
        scratch_dir,
        write_replay_split,
    )

    def build() -> str:
        base = scratch_dir(f"tws-pri-{dir_key(sf_dir)}")
        src = os.path.join(base, "src")
        from fluent_bit_filter_math_spark.sources import table

        ev = table(spark, sf_dir, "events")
        base_df = ev.select(
            "event_id",
            "event_type",
            F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
                + F.lit(1),
            ).alias("w"),
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                16, 10,
            ).cast("long").alias("hv"),
        ).select(
            "event_id",
            "event_type",
            "w",
            (F.col("hv").cast("double") / F.col("w")).alias("skey"),
        )
        write_replay_split(
            src,
            [base_df.filter(F.col("event_id") % 2 == 0),
             base_df.filter(F.col("event_id") % 2 == 1)],
        )
        return src

    src = memo.get(spark, "pri_split", sf_dir, build)
    return src + "/f*"  # glob path covering every slice dir


@register(
    "stream_tws_priority_sample",
    oracle=f"""
    WITH base AS (
      SELECT event_type, event_id,
             GREATEST(1, CAST(floor(value * 100.0 + 0.5) AS BIGINT) + 1)
                 AS w,
             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM events
    ), keyed AS (
      SELECT event_type, event_id, w,
             CAST(hv AS DOUBLE) / w AS skey
      FROM base
    ), ranked AS (
      SELECT event_type, event_id, w, skey,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY skey, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_rows
      FROM keyed
    ), r2 AS (
      SELECT *,
             MAX(CASE WHEN rn = {_PRI_K + 1} THEN skey END)
                 OVER (PARTITION BY event_type) AS key_k1
      FROM ranked
    ), sel AS (
      SELECT event_type, w, key_k1,
             LEAST({_PRI_K}, n_rows) AS n_kept
      FROM r2 WHERE rn <= {_PRI_K}
    )
    SELECT event_type,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(SUM(CAST(floor(
               CASE WHEN key_k1 IS NULL THEN CAST(w AS DOUBLE)
                    ELSE GREATEST(CAST(w AS DOUBLE), {_PRI_M} / key_k1)
               END * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS est_total_fp
    FROM sel
    GROUP BY event_type, n_kept
    ORDER BY event_type
    """,
)
def stream_tws_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_proto_shim.install()
    src = _pri_split_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
        .select("event_type", "skey", "event_id", "w")
    )
    out = stream.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_PrioritySampleProcessor(),
        outputStructType=_TWS_PRI_OUT,
        outputMode="Update",
        timeMode="None",
    )
    res = _run_tws(out, "stream_tws_priority_sample")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("batch_seq"))
    return (
        res.select(
            "event_type",
            "n_kept",
            "est_total_fp",
            F.row_number().over(w).alias("_rn"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# arbitrary state #10 — STATE-STORE INTROSPECTION: Spark 4's state
# data source (`spark.read.format("statestore")`) pointed at a
# transformWithState checkpoint this query just produced. This is the
# operability half of stateful streaming — "what is physically in my
# state store?" — the tool a 100 TB deployment reaches for when a
# stateful job misbehaves, and the strongest possible correctness
# check for the TWS path: not the EMITTED rows (stream_tws_kmv_sketch
# already gates those) but the persisted RocksDB ListState itself,
# read back through the checkpoint and hash-compared against the
# batch closed form. One row per (key, list element); the oracle is
# the K-smallest-distinct-hashes-per-type SQL. State payload equals
# emitted sketch ⇒ the wire shim, the RocksDB provider, the
# availableNow replay AND the snapshot format all agree end to end.
#
# The checkpoint lives in a rotating scratch dir: each invocation
# replays the bounded stream fresh into a clean checkpoint, then reads
# the store it wrote.
# ---------------------------------------------------------------------------


@register(
    "stream_tws_state_inspect",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)
                  AS BIGINT) AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv)
                 AS rn
      FROM h
    )
    SELECT event_type, CAST(hv AS BIGINT) AS hv
    FROM ranked
    WHERE rn <= {_KMV_K}
    ORDER BY event_type, hv
    """,
)
def stream_tws_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from fluent_bit_filter_math_spark.scratch import scratch_dir

    state_proto_shim.install()
    src = _kmv_split_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
        .select("event_type", "hv")
    )
    out = stream.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_KMVSketchProcessor(),
        outputStructType=_TWS_KMV_OUT,
        outputMode="Update",
        timeMode="None",
    )
    ckpt = os.path.join(scratch_dir("tws-inspect"), "ckpt")
    from fluent_bit_filter_math_spark.pipeline import stream_parts

    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "trackTotalNumberOfRows": "false",
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        # event-type-keyed (5 keys): 4 state partitions, the _run_tws
        # sizing rule — this stream previously ran at the SESSION's 32
        # shuffle partitions (27 empty store open/commits per batch +
        # a 32-partition statestore read-back). Results are partition-
        # count-invariant (one row per (key, element), ordered).
        "spark.sql.shuffle.partitions": str(stream_parts(4)),
    }
    olds = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            out.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Conf-scoped read: materialize INSIDE the window (the
        # documented conf-laziness trap) by forcing the state scan
        # into a cached local result before confs restore.
        state = (
            spark.read.format("statestore")
            .option("stateVarName", "kmin")
            .load(ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                F.col("list_element.hv").alias("hv"),
            )
            .orderBy("event_type", "hv")
        )
        rows = state.collect()
    finally:
        for k, v in olds.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, "event_type string, hv long")
