"""Streaming parity: the reference's actual operating mode is a record
stream (cb_math_filter, /root/reference/filter_math/math.c:290-366), so
every transform must behave identically under Structured Streaming.

batch ≡ stream is asserted by replaying the events parquet with
``readStream`` + ``trigger(availableNow=True)`` (the reference smoke
test's `exit` plugin analogue, /root/reference/test.sh:43) into a
memory sink and comparing against the batch result row-for-row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark.pipeline import (
    apply_specs,
    read_events_stream,
    run_stream_to_memory,
)
from fluent_bit_filter_math_spark.sources import table
from fluent_bit_filter_math_spark.spec import MathSpec

SF_DIR = "/root/testdata/sf0.001"


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def _assert_frames_equal(a, b):
    pd.testing.assert_frame_equal(_normalize(a), _normalize(b))


def _events_stream(spark):
    # The nanos ts column is irrelevant to math specs; stream the typed
    # columns (streaming parquet reads reject TIMESTAMP(NANOS) like batch).
    batch = table(spark, SF_DIR, "events")
    return batch, read_events_stream(
        spark, f"{SF_DIR}/events.parquet", schema=None, drop_nanos=True
    )


def test_mathfold_batch_equals_stream(spark):
    specs = [
        MathSpec.build("sum", ["value", "k", 7], "s1"),
        MathSpec.build("div", ["value", "k"], "s2", div_mode="ieee"),
        MathSpec.build("mul", ["value", 2], "s3", cast_to_int=True),
    ]
    batch, stream = _events_stream(spark)
    cols = ["event_id", "s1", "s2", "s3"]
    expected = apply_specs(batch, specs).select(*cols).toPandas()
    result = run_stream_to_memory(
        apply_specs(stream, specs).select(*cols), "mathfold_parity"
    ).toPandas()
    _assert_frames_equal(expected, result)


def test_tumbling_window_batch_equals_stream(spark):
    batch, stream = _events_stream(spark)

    def agg(df):
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
                "n",
            )
        )

    expected = agg(batch.withColumn("ts", F.col("ts"))).toPandas()
    result = run_stream_to_memory(
        agg(stream), "tumbling_parity", output_mode="complete"
    ).toPandas()
    _assert_frames_equal(expected, result)


def test_streaming_dedup_with_watermark(spark):
    _, stream = _events_stream(spark)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(
        ["user_id"]
    )
    result = run_stream_to_memory(
        deduped.select("user_id"), "dedup_stream"
    ).toPandas()
    batch_users = (
        table(spark, SF_DIR, "events").select("user_id").distinct().toPandas()
    )
    # dropDuplicates keeps exactly one row per key.
    assert sorted(result["user_id"]) == sorted(batch_users["user_id"])


def test_tag_routing_stream(spark):
    batch, stream = _events_stream(spark)
    spec = [MathSpec.build("sum", ["value", "k"], "out")]
    from fluent_bit_filter_math_spark.pipeline import route_by_tag

    routed = route_by_tag(stream, {"error": spec})["error"]
    result = run_stream_to_memory(
        routed.select("event_id", "out"), "tag_stream"
    ).toPandas()
    expected = (
        apply_specs(batch.filter(F.col("event_type") == "error"), spec)
        .select("event_id", "out")
        .toPandas()
    )
    _assert_frames_equal(expected, result)


def test_stream_stream_left_outer_null_padding(spark):
    """The left-outer stream-stream join must emit null-padded rows for
    finalized unmatched clicks (watermark-driven eviction in the trailing
    no-data micro-batch), and the finalized slice must equal the batch
    left join exactly."""
    from fluent_bit_filter_math_spark.streaming.joins import (
        stream_stream_left_outer,
    )

    out = stream_stream_left_outer(spark, SF_DIR).toPandas()
    assert len(out) > 0
    # Distinct capability vs the inner join: unmatched clicks appear.
    assert out["purchase_id"].isna().any()
    ev = table(spark, SF_DIR, "events")
    ev.createOrReplaceTempView("loj_events")
    expected = spark.sql(
        """
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               date_format(c.ts, 'yyyy-MM-dd HH:mm:ss') AS click_ts,
               p.value AS purchase_value
        FROM (SELECT * FROM loj_events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM loj_events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + interval 1 hour
        WHERE c.ts <= (SELECT date_trunc('millisecond', LEAST(
                         (SELECT max(ts) FROM loj_events
                          WHERE event_type = 'click'),
                         (SELECT max(ts) FROM loj_events
                          WHERE event_type = 'purchase')))
                              - interval 5 hour)
        """
    ).toPandas()
    _assert_frames_equal(expected, out)


def test_multibatch_incremental_state(spark, tmp_path):
    """All driver queries replay the single-file fixture as ONE
    micro-batch; this pins the genuinely incremental path: the same
    data split across 4 files with maxFilesPerTrigger=1 → 4 sequential
    micro-batches, state carried between them. Final results must be
    identical to the single-batch replay for (a) stateful running
    totals and (b) watermarked dedup, with watermarks advancing
    batch-over-batch."""
    import tempfile

    from pyspark.sql import functions as F

    src = str(tmp_path / "multi")
    # 4 files, time-ordered within the whole range (hash split): the
    # watermark advances as each file's max event time is processed.
    table(spark, SF_DIR, "events").repartition(4).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    for name, dtype in stream.dtypes:
        if dtype == "timestamp_ntz":
            stream = stream.withColumn(name, F.col(name).cast("timestamp"))

    # (a) stateful running totals across batches
    cents = F.round(F.col("value") * 100).cast("long")
    totals = run_stream_to_memory(
        stream.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum(cents).alias("c")
        ),
        "multibatch_totals",
        output_mode="complete",
    ).toPandas()
    expected = (
        table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("c"))
        .toPandas()
    )
    _assert_frames_equal(expected, totals)

    # (b) watermarked dedup across batches: each key emitted exactly
    # once. The hash split randomizes event-time order across files, so
    # a short delay would legitimately drop late rows (and could drop a
    # key entirely if all its occurrences land late) — the delay spans
    # the fixture so the assertion pins cross-batch dedup STATE, not
    # late-data policy.
    deduped = run_stream_to_memory(
        stream.withWatermark("ts", "3650 days")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type"),
        "multibatch_dedup",
    ).toPandas()
    exp_keys = (
        table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .toPandas()
    )
    _assert_frames_equal(exp_keys, deduped)


def test_multibatch_session_kernel_state(spark, tmp_path):
    """The applyInPandasWithState session kernel carries
    (last_ts, n_sessions, n_events) across micro-batches; its driver
    query replays one file = one batch, so this pins the cross-batch
    path: the fixture split into 4 TIME-ORDERED files (the kernel's
    documented ordering contract) replayed with maxFilesPerTrigger=1
    must produce the same per-user session counts as the batch
    gaps-and-islands computation."""
    import time

    from pyspark.sql import Window

    from fluent_bit_filter_math_spark.streaming.stateful import (
        _SESS_OUT_SCHEMA,
        _SESS_STATE_SCHEMA,
        _update_sessions,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = table(spark, SF_DIR, "events").select("user_id", "event_id", "ts")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    src = str(tmp_path / "sess")
    # Sequential single-file writes in time order: FileStreamSource
    # replays oldest-modification-first, so batches arrive time-ordered.
    import os

    span = (hi - lo) / 4
    for i in range(4):
        a = lo + i * span
        b = hi if i == 3 else lo + (i + 1) * span
        cond = (F.col("ts") >= F.lit(a)) & (
            F.col("ts") <= F.lit(b) if i == 3 else F.col("ts") < F.lit(b)
        )
        ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic replay order

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    for name, dtype in stream.dtypes:
        if dtype == "timestamp_ntz":
            stream = stream.withColumn(name, F.col(name).cast("timestamp"))

    out = run_stream_to_memory(
        stream.groupBy("user_id").applyInPandasWithState(
            _update_sessions,
            outputStructType=_SESS_OUT_SCHEMA,
            stateStructType=_SESS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "multibatch_sessions",
        output_mode="update",
    )
    # update mode emits one row per touched key per batch; the final
    # tally per user is the row with the highest n_events (monotonic).
    final = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("n_sessions", "n_events").alias("n_sessions"),
        )
        .toPandas()
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    expected = (
        ev.withColumn("prev", F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (
                    F.unix_micros(F.col("ts").cast("timestamp")) - F.col("prev")
                    > gap_us
                ),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.sum("brk").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .toPandas()
    )
    _assert_frames_equal(expected, final)


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: a checkpointed file-sink query run
    to completion, then MORE source files appear and the SAME
    checkpoint is reused — the second run must process only the new
    files, and the sink must hold every input row exactly once."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    ev = table(spark, SF_DIR, "events").select("event_id", "user_id")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == first.count()

    # restart with more data, same checkpoint
    second.coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(sink)
    assert got.count() == ev.count()  # nothing reprocessed, nothing lost
    assert got.select("event_id").distinct().count() == ev.count()


def test_observe_metrics_on_fold(spark):
    """df.observe() attaches streaming-safe metric accumulators to the
    fold pipeline — the engine's runtime-telemetry surface (row counts
    and exact cents totals collected as a side effect of one action,
    no second scan)."""
    from pyspark.sql import Observation

    from fluent_bit_filter_math_spark.functions import exact_cents

    ev = table(spark, SF_DIR, "events")
    obs = Observation("fold_metrics")
    df = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(exact_cents(F.col("value"))).alias("total_cents"),
    ).select("event_id", "value")
    df.write.format("noop").mode("overwrite").save()

    expected = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(exact_cents(F.col("value"))).alias("c"),
    ).first()
    assert obs.get["n_rows"] == expected["n"]
    assert obs.get["total_cents"] == expected["c"]


def test_foreachbatch_merge_materializes_latest_state(spark, tmp_path):
    """Pins the claim in stream_latest_state_per_user's docstring: a
    production deployment maintains the keyed current-state table by
    MERGING each micro-batch's update-mode deltas via foreachBatch,
    instead of re-emitting the whole snapshot. Replays the fixture as
    2 time-ordered file batches; after each batch the materialized
    table must equal the batch-computed latest-state for the data seen
    so far."""
    import time

    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    ev = table(spark, SF_DIR, "events").select("user_id", "event_id", "ts")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    ev.filter(F.col("ts") < F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    ev.filter(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    for name, dtype in stream.dtypes:
        if dtype == "timestamp_ntz":
            stream = stream.withColumn(name, F.col(name).cast("timestamp"))

    snap = stream.groupBy("user_id").agg(
        F.max_by(F.struct("ts", "event_id"), F.struct("ts", "event_id")).alias(
            "last"
        )
    )

    def merge_batch(batch_df, batch_id):
        # MERGE the delta into the keyed state table: keep the newer of
        # (existing, incoming) per key — the same full-outer coalesce
        # shape as merge_upsert_orders, file-swap committed.
        delta = batch_df.select(
            "user_id",
            F.col("last.ts").alias("ts"),
            F.col("last.event_id").alias("event_id"),
        )
        import os

        if os.path.isdir(state_dir):
            cur = batch_df.sparkSession.read.parquet(state_dir)
            merged = (
                cur.unionByName(delta)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("ts", "event_id"), F.struct("ts", "event_id")
                    ).alias("m")
                )
                .select(
                    "user_id",
                    F.col("m.ts").alias("ts"),
                    F.col("m.event_id").alias("event_id"),
                )
            )
        else:
            merged = delta
        tmp = state_dir + ".new"
        merged.write.mode("overwrite").parquet(tmp)
        import shutil

        final = batch_df.sparkSession.read.parquet(tmp)
        final.write.mode("overwrite").parquet(state_dir)
        shutil.rmtree(tmp, ignore_errors=True)

    q = (
        snap.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    expected = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id")
        .toPandas()
    )
    got = spark.read.parquet(state_dir).toPandas()
    _assert_frames_equal(expected, got)


def test_stream_static_join_rereads_dim_per_batch(spark, tmp_path):
    """Stream-static joins re-resolve the static side every micro-batch
    — the mechanism that makes broadcast-dim enrichment pick up dim
    updates without restarting the stream. Two source files arrive as
    two batches; the dim table is rewritten between them via
    foreachBatch, and rows from batch 2 must join against the UPDATED
    dim."""
    import time

    src = str(tmp_path / "src")
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    ev = table(spark, SF_DIR, "events").select("event_id", "event_type")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    spark.createDataFrame(
        [("click", "v1"), ("view", "v1"), ("error", "v1"),
         ("signup", "v1"), ("purchase", "v1")],
        "event_type string, dim_ver string",
    ).write.mode("overwrite").parquet(dim_dir)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )

    seen = []

    def enrich(batch_df, batch_id):
        dim = batch_df.sparkSession.read.parquet(dim_dir)
        joined = batch_df.join(F.broadcast(dim), "event_type")
        joined.write.mode("append").parquet(out_dir)
        seen.append(batch_id)
        if batch_id == 0:
            # rewrite the dim between batches
            batch_df.sparkSession.createDataFrame(
                [("click", "v2"), ("view", "v2"), ("error", "v2"),
                 ("signup", "v2"), ("purchase", "v2")],
                "event_type string, dim_ver string",
            ).write.mode("overwrite").parquet(dim_dir + ".new")
            import shutil

            shutil.rmtree(dim_dir)
            shutil.move(dim_dir + ".new", dim_dir)

    q = (
        stream.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # second file arrives; second run's single batch joins v2
    time.sleep(1.1)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = (
        stream.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    got = spark.read.parquet(out_dir)
    evens = got.filter(F.col("event_id") % 2 == 0)
    odds = got.filter(F.col("event_id") % 2 == 1)
    assert evens.count() > 0 and odds.count() > 0
    assert evens.select("dim_ver").distinct().collect()[0][0] == "v1"
    assert odds.select("dim_ver").distinct().collect()[0][0] == "v2"


def test_foreachbatch_merge_fold_is_slicing_invariant(spark):
    """The foreachBatch state fold must give the same final state no
    matter how the stream is sliced into micro-batches — that is the
    property that makes the incremental MERGE correct under any
    maxFilesPerTrigger / arrival order."""
    from fluent_bit_filter_math_spark.streaming.foreach_sink import (
        _merge_batch,
    )

    rows = [
        (1, 10, "2024-01-01 00:00:00", 100),
        (2, 11, "2024-01-01 00:05:00", 200),
        (1, 12, "2024-01-01 00:10:00", 300),
        (3, 13, "2024-01-01 00:01:00", 400),
        (1, 14, "2024-01-01 00:07:00", 500),
    ]
    schema = "user_id long, event_id long, ts string, cents long"

    def mk(subset):
        df = spark.createDataFrame(subset, schema)
        return df.withColumn("ts", df.ts.cast("timestamp"))

    def fold(slices):
        state = None
        for sl in slices:
            state = _merge_batch(state, mk(sl))
        return sorted(map(tuple, state.collect()))

    whole = fold([rows])
    two = fold([rows[:2], rows[2:]])
    singles = fold([[r] for r in rows])
    reordered = fold([rows[3:], rows[:3]])
    assert whole == two == singles == reordered
    by_user = {r[0]: r for r in whole}
    # user 1: three events, latest is event 12 at 00:10 with 300 cents.
    assert by_user[1][1] == 3 and by_user[1][3] == 12 and by_user[1][4] == 300


def test_stateful_checkpoint_restart_recovers_state(spark, tmp_path):
    """Kill-and-restart recovery: run the stateful running-totals query
    over file 1, stop, drop files 2-3 into the source, restart with the
    SAME checkpoint. The restarted query must resume from the persisted
    state store — users re-emitted in run 2 carry totals that include
    run 1's contribution, matching the batch aggregate over ALL files."""
    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.streaming.stateful import (
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        _update_totals,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, SF_DIR, "events").select(
        "event_id", "user_id", exact_cents(F.col("value")).alias("cents")
    )
    for part in range(3):
        ev.filter(F.col("event_id") % 3 == part).coalesce(1).write.parquet(
            src, mode="append" if part else "overwrite"
        )
    files = sorted(
        str(p) for p in (tmp_path / "src").glob("part-*.parquet")
    )
    assert len(files) == 3
    # Phase 1: only file 1 visible (move the rest aside).
    hidden = tmp_path / "hidden"
    hidden.mkdir()
    moved = []
    for f in files[1:]:
        dst = hidden / f.split("/")[-1]
        import shutil

        shutil.move(f, dst)
        moved.append(dst)

    schema = spark.read.parquet(src).schema

    def run_once():
        # Memory sink can't recover from a checkpoint; foreachBatch can
        # — capture each micro-batch's emissions driver-side.
        emitted = []
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .select("user_id", "cents")
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_totals,
                outputStructType=_OUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        (
            stream.writeStream.foreachBatch(
                lambda df, bid: emitted.append(df.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return pd.concat(emitted) if emitted else pd.DataFrame(
            columns=["user_id", "n_events", "total_cents"]
        )

    run_once()
    # Phase 2: reveal the remaining files; restart from the checkpoint.
    import shutil

    for dst in moved:
        shutil.move(str(dst), src)
    out2 = run_once()

    whole = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
        .toPandas()
        .set_index("user_id")
    )
    late_users = set(
        spark.read.parquet(*[f"{src}/{d.name}" for d in moved])
        .select("user_id")
        .distinct()
        .toPandas()["user_id"]
    )
    assert set(out2["user_id"]) == late_users
    for _, row in out2.iterrows():
        exp = whole.loc[row["user_id"]]
        assert row["n_events"] == exp["n_events"]
        assert row["total_cents"] == exp["total_cents"]


def test_pattern_match_stateful_is_slicing_invariant(spark, tmp_path):
    """The pattern-match kernel's (last_view, last_err) state must make
    a 4-batch time-ordered replay produce exactly the single-batch /
    batch-SQL match set."""
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    from fluent_bit_filter_math_spark.streaming.stateful import (
        _PAT_OUT_SCHEMA,
        _PAT_STATE_SCHEMA,
        _PAT_WINDOW_US,
        _update_pattern,
    )

    ev = table(spark, SF_DIR, "events").filter(
        F.col("event_type").isin("view", "error", "purchase")
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    src = str(tmp_path / "pat")
    span = (hi - lo) / 4
    for i in range(4):
        a = lo + i * span
        b = hi if i == 3 else lo + (i + 1) * span
        cond = (F.col("ts") >= F.lit(a)) & (
            F.col("ts") <= F.lit(b) if i == 3 else F.col("ts") < F.lit(b)
        )
        ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    for name, dtype in stream.dtypes:
        if dtype == "timestamp_ntz":
            stream = stream.withColumn(name, F.col(name).cast("timestamp"))
    stream = stream.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
    )
    out = run_stream_to_memory(
        stream.groupBy("user_id").applyInPandasWithState(
            _update_pattern,
            outputStructType=_PAT_OUT_SCHEMA,
            stateStructType=_PAT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "pat_sliced",
        output_mode="append",
    )
    sliced = sorted(
        (r.user_id, r.purchase_event_id, r.delay_us) for r in out.collect()
    )

    # Batch reference: the trailing-frame window decomposition.
    from pyspark.sql import Window

    o = table(spark, SF_DIR, "events").filter(
        F.col("event_type").isin("view", "error", "purchase")
    ).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ref = (
        o.select(
            "user_id",
            "event_id",
            "us",
            "event_type",
            F.max(
                F.when(F.col("event_type") == "view", F.col("us"))
            ).over(w).alias("lv"),
            F.max(
                F.when(F.col("event_type") == "error", F.col("us"))
            ).over(w).alias("le"),
        )
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("lv").isNotNull()
            & (F.col("us") - F.col("lv") <= _PAT_WINDOW_US)
            & (F.col("le").isNull() | (F.col("le") < F.col("lv")))
        )
        .select("user_id", "event_id", (F.col("us") - F.col("lv")).alias("d"))
    )
    expected = sorted((r.user_id, r.event_id, r.d) for r in ref.collect())
    assert sliced == expected and len(expected) > 0


# ---------------------------------------------------------------------------
# state_proto_shim fidelity: decode the serialized FileDescriptorProto
# embedded in the INSTALLED generated pb2 file and assert every
# message / field number / wire kind / label in the shim matches it.
# A PySpark upgrade that changes StateMessage.proto fails here loudly
# instead of hanging the TWS socket protocol.
# ---------------------------------------------------------------------------
def test_state_proto_shim_matches_descriptor():
    import os
    import re

    from fluent_bit_filter_math_spark.streaming import state_proto_shim as sm

    pb2_path = None
    import pyspark

    cand = os.path.join(
        os.path.dirname(pyspark.__file__),
        "sql", "streaming", "proto", "StateMessage_pb2.py",
    )
    if os.path.exists(cand):
        pb2_path = cand
    assert pb2_path, "generated pb2 file not found"
    src = open(pb2_path).read()
    m = re.search(
        r"AddSerializedFile\(\s*(b(?:'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")"
        r"(?:\s*b(?:'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"))*)\s*\)",
        src,
        re.S,
    )
    blob = eval(m.group(1))  # noqa: S307 — literal bytes from the file

    def rd_varint(b, i):
        x = s = 0
        while True:
            c = b[i]
            i += 1
            x |= (c & 0x7F) << s
            if not c & 0x80:
                return x, i
            s += 7

    def fields(b):
        i = 0
        while i < len(b):
            tag, i = rd_varint(b, i)
            fn, wt = tag >> 3, tag & 7
            if wt == 0:
                v, i = rd_varint(b, i)
            elif wt == 2:
                ln, i = rd_varint(b, i)
                v = b[i : i + ln]
                i += ln
            elif wt == 5:
                v = b[i : i + 4]
                i += 4
            elif wt == 1:
                v = b[i : i + 8]
                i += 8
            else:
                raise ValueError(wt)
            yield fn, wt, v

    TYPE_KIND = {3: "int64", 5: "int32", 8: "bool", 9: "string",
                 11: "message", 12: "bytes", 14: "enum"}

    def parse_field(b):
        f = {}
        for fn, _, v in fields(b):
            if fn == 1:
                f["name"] = v.decode()
            elif fn == 3:
                f["number"] = v
            elif fn == 4:
                f["label"] = v
            elif fn == 5:
                f["kind"] = TYPE_KIND[v]
            elif fn == 6:
                f["type_name"] = v.decode()
        return f

    messages = {}

    def parse_msg(b):
        name, flds = None, []
        for fn, _, v in fields(b):
            if fn == 1:
                name = v.decode()
            elif fn == 2:
                flds.append(parse_field(v))
        messages[name] = flds

    for fn, _, v in fields(blob):
        if fn == 4:
            parse_msg(v)

    assert len(messages) >= 40
    for name, flds in messages.items():
        cls = getattr(sm, name, None)
        assert cls is not None, f"shim missing message {name}"
        shim_fields = {f.number: f for f in cls.FIELDS}
        assert len(shim_fields) == len(flds), name
        for df in flds:
            f = shim_fields.get(df["number"])
            assert f is not None, f"{name}.{df['name']} missing in shim"
            assert f.name == df["name"], (name, f.name, df["name"])
            assert f.kind == df["kind"], (name, f.name, f.kind, df["kind"])
            assert f.repeated == (df["label"] == 3), (name, f.name)
            if df["kind"] == "message":
                assert f.msg is not None and f.msg().__name__ == \
                    df["type_name"].rsplit(".", 1)[-1], (name, f.name)


def test_state_proto_shim_wire_roundtrip():
    from fluent_bit_filter_math_spark.streaming import state_proto_shim as sm

    # request shape the client sends: oneof chain with empty message leaf
    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.INITIALIZED)
        )
    )
    assert req.SerializeToString() == bytes.fromhex("12040a020802")
    # an empty oneof leaf must still hit the wire with length 0
    req2 = sm.StateRequest(
        implicitGroupingKeyRequest=sm.ImplicitGroupingKeyRequest(
            removeImplicitKey=sm.RemoveImplicitKey()
        )
    )
    assert req2.SerializeToString() == bytes.fromhex("22021200")
    # auto-vivified ttl marks presence only once data lands
    cmd = sm.StateCallCommand()
    cmd.stateName = "x"
    assert b"\x22" not in cmd.SerializeToString()  # no ttl field emitted
    cmd.ttl.durationMs = 5000
    assert cmd.SerializeToString().endswith(bytes.fromhex("2203088827"))
    # negative int64 encodes as 10-byte two's complement varint
    t = sm.RegisterTimer(expiryTimestampMs=-1)
    assert len(t.SerializeToString()) == 11
    back = sm.RegisterTimer()
    back.ParseFromString(t.SerializeToString())
    assert back.expiryTimestampMs == -1
    # repeated message parse (timer list responses)
    resp = sm.StateResponseWithTimer(
        timer=[sm.TimerInfo(timestampMs=5), sm.TimerInfo(timestampMs=9)],
        requireNextFetch=True,
    )
    parsed = sm.StateResponseWithTimer()
    parsed.ParseFromString(resp.SerializeToString())
    assert [x.timestampMs for x in parsed.timer] == [5, 9]
    assert parsed.requireNextFetch is True
    assert parsed.statusCode == 0 and parsed.errorMessage == ""


def test_state_proto_shim_oneof_exclusive_and_truncation():
    """r8 ADVICE: (a) assigning a second member of a oneof must clear
    the first (generated protobuf semantics) so a reused request
    object never serializes two members; (b) truncated fixed32/64
    payloads raise ValueError like every other truncation path."""
    import pytest

    from fluent_bit_filter_math_spark.streaming import state_proto_shim as sm

    call = sm.ValueStateCall(stateName="s", get=sm.Get())
    call.valueStateUpdate = sm.ValueStateUpdate(value=b"v")
    wire = call.SerializeToString()
    parsed = sm.ValueStateCall()
    parsed.ParseFromString(wire)
    # only the LAST-assigned oneof member survives on the wire
    assert parsed._message_field_present(parsed._by_name["valueStateUpdate"])
    assert not parsed._message_field_present(parsed._by_name["get"])
    # stateName sits OUTSIDE the oneof group and must be untouched
    assert parsed.stateName == "s"
    # duplicate oneof members in one buffer: last wins, first cleared
    dup = sm.ValueStateCall(get=sm.Get()).SerializeToString() + \
        sm.ValueStateCall(clear=sm.Clear()).SerializeToString()
    p2 = sm.ValueStateCall()
    p2.ParseFromString(dup)
    assert p2._message_field_present(p2._by_name["clear"])
    assert not p2._message_field_present(p2._by_name["get"])
    # truncated fixed64 (wire type 1) / fixed32 (wire type 5)
    for tag, tail in ((b"\x09", b"\x01\x02"), (b"\x0d", b"\x01")):
        with pytest.raises(ValueError, match="truncated fixed"):
            sm.RegisterTimer().ParseFromString(tag + tail)


def test_tws_idle_close_slicing_invariant(spark):
    # The idle-close oracle is a closed form over the FULL event
    # history (fires iff last_ms + GAP < terminal watermark), valid
    # for any TWO-file event-time-ranged replay (the operator's
    # documented contract — ≥3 files would make mid-replay partial
    # fires possible, which is correct sessionization but a different
    # closed form). Pin boundary-independence WITHIN the contract: a
    # first-quartile split must emit exactly the median split's rows.
    from fluent_bit_filter_math_spark.streaming import stateful as st

    sf_dir = "/root/testdata/sf0.001"
    base = st.stream_tws_idle_close(spark, sf_dir).toPandas()
    old = st._TWS_IDLE_SPLIT_FRAC
    st._TWS_IDLE_SPLIT_FRAC = 0.25
    try:
        sliced = st.stream_tws_idle_close(spark, sf_dir).toPandas()
    finally:
        st._TWS_IDLE_SPLIT_FRAC = old
    key = ["user_id"]
    a = base.sort_values(key).reset_index(drop=True)
    b = sliced.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_stateful_checkpoint_recovery_mid_replay(spark, tmp_path):
    """Stop a stateful stream after its first micro-batch, restart
    from the SAME checkpoint, and verify the recovered state store:
    users emitted after the restart must report FULL-history totals
    (batch-1 counts carried across the stop/start through the
    checkpoint + state store), exactly matching a batch GROUP BY.
    This is the exactly-once-across-restarts claim executed, not
    asserted."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.sources import table
    from fluent_bit_filter_math_spark.streaming.stateful import (
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        _update_totals,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    sf_dir = "/root/testdata/sf0.001"
    base = str(tmp_path)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        exact_cents(F.col("value")).alias("cents"),
    )
    ev.repartitionByRange(2, "event_id").write.parquet(src)
    now = time.time()
    for i, f in enumerate(sorted(glob.glob(src + "/part-*.parquet"))):
        os.utime(f, (now + i, now + i))
    schema = spark.read.parquet(src).schema

    sink_dir = os.path.join(base, "emissions")
    os.makedirs(sink_dir)

    def start(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
            .select("user_id", "cents")
        )
        out = stream.groupBy("user_id").applyInPandasWithState(
            _update_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(sink_dir)

        # memory sink cannot recover from a checkpoint; foreachBatch
        # can — emissions accumulate in parquet tagged by batch id.
        # Run 1 uses a LONG processingTime trigger so batch 1 cannot
        # start before the test stops the query (stopping after "the
        # first batch" must be deterministic, not a race against
        # availableNow draining everything); run 2 drains the rest
        # with availableNow.
        w = (
            out.writeStream.foreachBatch(sink)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
        )
        if name == "ckpt_run1":
            w = w.trigger(processingTime="5 minutes")
        else:
            w = w.trigger(availableNow=True)
        return w.start()

    # run 1: stop as soon as the first micro-batch commits
    q1 = start("ckpt_run1")
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["batchId"] >= 0 and p["numInputRows"] > 0
               for p in q1.recentProgress):
            break
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination()
    done_batches = {p["batchId"] for p in q1.recentProgress}
    assert done_batches, "first run processed no batch"

    # run 2: same checkpoint — must resume, not reprocess from scratch
    q2 = start("ckpt_run2")
    q2.awaitTermination()
    emissions = spark.read.parquet(sink_dir)
    max_batch = emissions.agg(F.max("batch_id")).collect()[0][0]
    assert max_batch and max_batch >= 1, "restart processed no new batch"
    # the restart's emissions are the batches AFTER the stop point
    run1_batches = {p["batchId"] for p in q1.recentProgress}
    resumed = emissions.filter(
        ~F.col("batch_id").isin(list(run1_batches))
    ).toPandas()
    assert len(resumed), "restart emitted nothing"

    expect = {
        r["user_id"]: (r["n"], r["cents"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .collect()
    }
    # users emitted post-restart carry batch-1 state: full history
    for _, row in resumed.iterrows():
        n, cents = expect[row["user_id"]]
        assert (row["n_events"], row["total_cents"]) == (n, cents), (
            f"user {row['user_id']}: recovered totals "
            f"({row['n_events']}, {row['total_cents']}) != full-history "
            f"({n}, {cents})"
        )


def test_tws_rocksdb_checkpoint_recovery_mid_replay(spark, tmp_path):
    """The same stop/restart proof for transformWithStateInPandas:
    typed ValueState in the RocksDB provider must survive a mid-replay
    restart through the checkpoint — post-restart emissions carry
    full-history totals."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.sources import table
    from fluent_bit_filter_math_spark.streaming.stateful import (
        _OUT_SCHEMA,
        _UserTotalsProcessor,
        state_proto_shim,
    )

    state_proto_shim.install()
    sf_dir = "/root/testdata/sf0.001"
    base = str(tmp_path)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    sink_dir = os.path.join(base, "emissions")
    os.makedirs(sink_dir)
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        exact_cents(F.col("value")).alias("cents"),
    )
    ev.repartitionByRange(2, "event_id").write.parquet(src)
    now = time.time()
    for i, f in enumerate(sorted(glob.glob(src + "/part-*.parquet"))):
        os.utime(f, (now + i, now + i))
    schema = spark.read.parquet(src).schema

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )

    def start(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
            .select("user_id", "cents")
        )
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_UserTotalsProcessor(),
            outputStructType=_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(sink_dir)

        w = (
            out.writeStream.foreachBatch(sink)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
        )
        if name == "run1":
            w = w.trigger(processingTime="5 minutes")
        else:
            w = w.trigger(availableNow=True)
        return w.start()

    try:
        q1 = start("run1")
        deadline = time.time() + 180
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in q1.recentProgress):
                break
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination()
        run1_batches = {p["batchId"] for p in q1.recentProgress}
        assert run1_batches, "first run processed no batch"

        q2 = start("run2")
        q2.awaitTermination()
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)

    emissions = spark.read.parquet(sink_dir)
    resumed = emissions.filter(
        ~F.col("batch_id").isin(list(run1_batches))
    ).toPandas()
    assert len(resumed), "restart emitted nothing"
    expect = {
        r["user_id"]: (r["n"], r["cents"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .collect()
    }
    for _, row in resumed.iterrows():
        n, cents = expect[row["user_id"]]
        assert (row["n_events"], row["total_cents"]) == (n, cents), (
            f"user {row['user_id']}: RocksDB-recovered totals "
            f"({row['n_events']}, {row['total_cents']}) != ({n}, {cents})"
        )


def test_tws_timer_survives_restart_and_fires_once(spark, tmp_path):
    """r8 VERDICT #7 — the remaining TWS recovery path: an event-time
    timer ARMED before a stop must survive the restart through the
    RocksDB checkpoint and fire afterward EXACTLY ONCE, when the
    recovered watermark passes its expiry.

    Harness: the idle-close processor over a two-file event-time split.
    run1 (long processingTime trigger) processes file 0 only — every
    user arms a timer, the watermark is still 0, so nothing can fire —
    then stops. run2 (availableNow) recovers, processes file 1 (users
    with file-1 events DELETE their recovered timer through the
    listTimers walk and re-arm — exercising DeleteTimer against a
    RECOVERED timer registry), then the terminal no-data batch fires
    the survivors. The emission set must equal the engine-independent
    closed form (fires iff last_ms + GAP < terminal watermark, with
    FULL-history totals), each user at most once, all of it after the
    restart — and at least one fired user must have had no file-1
    events, i.e. their timer was armed in run1 and fired in run2
    untouched."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.sources import table
    from fluent_bit_filter_math_spark.streaming.stateful import (
        _TWS_IDLE_DELAY,
        _TWS_IDLE_GAP_MS,
        _TWS_IDLE_OUT,
        _IdleCloseProcessor,
        state_proto_shim,
    )

    state_proto_shim.install()
    sf_dir = "/root/testdata/sf0.001"
    base = str(tmp_path)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    sink_dir = os.path.join(base, "emissions")
    os.makedirs(sink_dir)

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        exact_cents(F.col("value")).alias("cents"),
    )
    us = F.unix_micros(F.col("ts"))
    # 0.99 split: at sf0.001 it leaves 7 of the 9 firing users entirely
    # in file 0, so their timers are armed pre-stop and fire post-
    # restart untouched (the median split leaves that cohort empty —
    # firing users are by definition idle near the stream's END, so
    # the boundary must sit late to strand any of them in file 0).
    boundary = int(
        ev.select(
            F.expr("percentile(unix_micros(ts), 0.99)").alias("q")
        ).collect()[0]["q"]
    )
    ev.filter(us <= boundary).coalesce(1).write.parquet(src + "/f0")
    ev.filter(us > boundary).coalesce(1).write.parquet(src + "/f1")
    now = time.time()
    files = sorted(glob.glob(src + "/f*/part-*.parquet"))
    assert len(files) == 2
    for i, f in enumerate(files):
        os.utime(f, (now + i, now + i))
    glob_src = src + "/f*"
    schema = spark.read.parquet(glob_src).schema

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )

    def start(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(glob_src)
            .withWatermark("ts", _TWS_IDLE_DELAY)
        )
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_IdleCloseProcessor(),
            outputStructType=_TWS_IDLE_OUT,
            outputMode="Append",
            timeMode="EventTime",
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(sink_dir)

        w = (
            out.writeStream.foreachBatch(sink)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if name == "run1":
            w = w.trigger(processingTime="5 minutes")
        else:
            w = w.trigger(availableNow=True)
        return w.start()

    try:
        q1 = start("run1")
        deadline = time.time() + 180
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in q1.recentProgress):
                break
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination()
        run1_batches = {p["batchId"] for p in q1.recentProgress}
        assert run1_batches, "first run processed no batch"

        q2 = start("run2")
        q2.awaitTermination()
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)

    fired = spark.read.parquet(sink_dir).toPandas()
    # exactly-once: a recovered timer firing twice would duplicate
    assert fired["user_id"].is_unique, "a user fired more than once"
    # everything fired AFTER the restart (watermark was 0 in run1)
    assert set(fired["batch_id"]) & set(run1_batches) == set()
    # the closed form, full history (the registered query's oracle)
    hist = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("total_cents"),
            (F.max(F.unix_micros("ts")) / 1000).cast("long").alias(
                "last_ms"
            ),
        )
        .toPandas()
        .set_index("user_id")
    )
    wm = int(hist["last_ms"].max()) - 600_000
    expect = hist[hist["last_ms"] + _TWS_IDLE_GAP_MS < wm]
    assert set(fired["user_id"]) == set(expect.index)
    for _, row in fired.iterrows():
        e = expect.loc[row["user_id"]]
        assert (row["n_events"], row["total_cents"], row["closed_at_ms"]) \
            == (e["n_events"], e["total_cents"],
                e["last_ms"] + _TWS_IDLE_GAP_MS)
    # at least one fired user armed their timer ONLY before the stop
    boundary_ms = boundary // 1000
    pre_stop_only = expect[expect["last_ms"] <= boundary_ms]
    assert len(pre_stop_only), (
        "no fired user was file-0-only; the armed-pre-restart path "
        "was not exercised by this fixture split"
    )


def test_tws_liststate_recovery_and_statestore_read(spark, tmp_path):
    """Completes the typed-state recovery matrix: a ListState sketch
    (KMV k-min list) must survive a mid-replay stop/restart through
    the RocksDB checkpoint, and the proof reads the PERSISTED state
    itself back through Spark's statestore data source — the final
    on-disk list per key must equal the batch K-smallest closed form
    over the full history, which is only possible if batch-1 state
    was recovered (file 2 alone lacks half the minima)."""
    import os
    import time

    from pyspark.sql import functions as F

    from fluent_bit_filter_math_spark.streaming import state_proto_shim
    from fluent_bit_filter_math_spark.streaming.stateful import (
        _KMV_K,
        _KMVSketchProcessor,
        _TWS_KMV_OUT,
        _kmv_split_src,
    )

    state_proto_shim.install()
    sf_dir = "/root/testdata/sf0.001"
    src = _kmv_split_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    ckpt = str(tmp_path / "ckpt")

    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    olds = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:

        def start(name, first_run):
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
            w = (
                out.writeStream.format("noop")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
            )
            if first_run:
                w = w.trigger(processingTime="5 minutes")
            else:
                w = w.trigger(availableNow=True)
            return w.start()

        q1 = start("tws_list_rec_1", True)
        deadline = time.time() + 120
        while time.time() < deadline:
            if any(
                p["batchId"] >= 0 and p["numInputRows"] > 0
                for p in q1.recentProgress
            ):
                break
            time.sleep(0.2)
        q1.stop()
        q1.awaitTermination()
        assert {p["batchId"] for p in q1.recentProgress}, "run 1 idle"

        q2 = start("tws_list_rec_2", False)
        q2.awaitTermination()

        state = (
            spark.read.format("statestore")
            .option("stateVarName", "kmin")
            .load(ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                F.col("list_element.hv").alias("hv"),
            )
            .collect()
        )
    finally:
        for k, v in olds.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    got = {}
    for r in state:
        got.setdefault(r["event_type"], set()).add(r["hv"])
    full = spark.read.parquet(src).select("event_type", "hv").distinct()
    expect = {}
    for r in full.collect():
        expect.setdefault(r["event_type"], []).append(r["hv"])
    assert set(got) == set(expect)
    for etype, hvs in expect.items():
        assert got[etype] == set(sorted(hvs)[:_KMV_K]), etype
