"""Connector coverage: format round-trips, the rate source, foreachBatch
sinks, and a stream-stream join — the operational envelope the reference
delegates to its host engine (SURVEY.md §2.2)."""

from __future__ import annotations

import tempfile

import pandas as pd
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark.pipeline import read_events_stream
from fluent_bit_filter_math_spark.sources import table
from fluent_bit_filter_math_spark.sources.io import (
    foreach_batch_collect,
    rate_stream,
    read_table,
    write_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def test_parquet_json_csv_orc_roundtrip(spark):
    src = table(spark, SF_DIR, "nation")
    with tempfile.TemporaryDirectory() as d:
        for fmt in ("parquet", "json", "csv", "orc"):
            write_table(src, f"{d}/{fmt}", fmt)
            back = read_table(
                spark, f"{d}/{fmt}", fmt, schema=src.schema
            )
            pd.testing.assert_frame_equal(_sorted_pdf(src), _sorted_pdf(back))


def test_rate_source_produces_rows(spark):
    import time

    stream = rate_stream(spark, rows_per_second=50)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName("rate_smoke")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            deadline = time.time() + 20
            n = 0
            while time.time() < deadline:
                n = spark.table("rate_smoke").count()
                if n > 0:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
    assert n > 0
    assert set(spark.table("rate_smoke").columns) == {"timestamp", "value"}


def test_foreach_batch_sink(spark):
    stream = read_events_stream(
        spark, f"{SF_DIR}/events.parquet", drop_nanos=True
    )
    seen: list[int] = []

    def handle(batch_df, batch_id: int) -> None:
        seen.append(batch_df.count())

    with tempfile.TemporaryDirectory() as ckpt:
        foreach_batch_collect(
            stream.filter(F.col("event_type") == "error"), handle, ckpt
        )
    batch_n = (
        table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "error")
        .count()
    )
    assert sum(seen) == batch_n


def test_stream_stream_join(spark):
    """Self-join of the event stream on user_id within a time bound —
    the stream-stream inner join with watermarks on both sides."""
    clicks = (
        read_events_stream(spark, f"{SF_DIR}/events.parquet", drop_nanos=True)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    errors = (
        read_events_stream(spark, f"{SF_DIR}/events.parquet", drop_nanos=True)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("e_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("e_ts") <= F.col("c_ts")),
    )
    from fluent_bit_filter_math_spark.pipeline import run_stream_to_memory

    result = run_stream_to_memory(joined, "ss_join").toPandas()

    ev = table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("e_id"),
    )
    expected = c.join(
        e,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("e_ts") <= F.col("c_ts")),
    ).toPandas()
    assert len(result) == len(expected)
    assert sorted(zip(result["c_id"], result["e_id"])) == sorted(
        zip(expected["c_id"], expected["e_id"])
    )


def test_stream_ts_never_ntz(spark):
    """Regression (round 4): when the parquet reader infers the events
    `ts` column as TIMESTAMP_NTZ, withWatermark rejects it
    [EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]. read_events_stream must
    normalize every NTZ column to TIMESTAMP regardless of reader
    inference so event-time operators always work downstream."""
    stream = read_events_stream(
        spark, f"{SF_DIR}/events.parquet", drop_nanos=True
    )
    assert "timestamp_ntz" not in {t for _, t in stream.dtypes}
    # The actual failure mode: attaching a watermark must analyze.
    stream.withWatermark("ts", "1 hour")


def test_arrow_ipc_roundtrip_with_empty_partitions(spark, tmp_path):
    """The shard writer must tolerate empty input partitions (no file,
    manifest row with n_rows=0) and the reader must reproduce exactly
    the non-empty rows."""
    from pyspark.sql import functions as F

    from fluent_bit_filter_math_spark.sources.arrow_ipc import (
        ArrowIPCDataSource,
        write_arrow_ipc,
    )

    try:
        spark.dataSource.register(ArrowIPCDataSource)
    except Exception:
        pass
    out = str(tmp_path / "ipc")
    import os

    os.makedirs(out, exist_ok=True)
    # 3 rows into 8 partitions → at least 5 empty partitions.
    df = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).repartition(8)
    write_arrow_ipc(df, out)

    back = spark.read.format("arrow_ipc").option("path", out).load()
    rows = sorted((r.k, r.v) for r in back.collect())
    assert rows == [(0, 0), (1, 10), (2, 20)]
    # Only non-empty partitions left files behind.
    import glob

    files = glob.glob(os.path.join(out, "*.arrow"))
    assert 1 <= len(files) <= 3


def test_scratch_dir_private_generational():
    import os

    from fluent_bit_filter_math_spark.scratch import scratch_dir

    d1 = scratch_dir("unittest-scratch")
    # private: the mkdtemp BASE is mode 0700, owned by us; the gen
    # subdir inherits its protection through the parent
    base = os.path.dirname(d1)
    assert os.stat(base).st_mode & 0o777 == 0o700
    with open(os.path.join(d1, "stale.txt"), "w") as f:
        f.write("old output")
    os.makedirs(os.path.join(d1, "subdir"))
    with open(os.path.join(d1, "subdir", "part-0"), "w") as f:
        f.write("old shard")
    # re-invocation: fresh empty generation under the same base, and
    # the previous generation is GONE — a lazily-held DataFrame over
    # d1 now fails loudly instead of silently reading d2's output
    # (r8 ADVICE), while disk stays bounded to one copy per tag.
    d2 = scratch_dir("unittest-scratch")
    assert d2 != d1 and os.path.dirname(d2) == base
    assert not os.path.exists(d1)
    assert os.listdir(d2) == []
    # distinct tags never collide
    assert os.path.dirname(scratch_dir("unittest-scratch-2")) != base


def test_json_sink_exactly_once_under_real_task_retry(tmp_path):
    """Inject a genuine first-attempt task failure into a jsonsink
    write and verify the manifest commit protocol delivers
    exactly-once: the failed attempt's partial shard stays on disk
    (abort runs on job abort, not per-task retry), but the manifest
    excludes it, so a manifest-only read sees every row exactly once.
    Runs in a subprocess because task retries need their own master
    (local[4, 2]) and SparkContext is a JVM singleton."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import json, os, sys
        sys.path.insert(0, sys.argv[1])
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        from pyspark import TaskContext
        from pyspark.sql.functions import udf

        spark = (
            SparkSession.builder.master("local[4, 2]")
            .config("spark.sql.shuffle.partitions", "4")
            .appName("jsonsink-retry-test").getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        from fluent_bit_filter_math_spark.sources.json_sink import (
            register_json_sink,
        )
        register_json_sink(spark)

        @udf("long")
        def fail_once(v):
            # keyed on the VALUE only: exactly one row carries v=900
            # (900 % 901), so whichever partition holds it fails its
            # first attempt — no dependency on round-robin placement,
            # which is a Spark implementation detail.
            if v == 900 and TaskContext.get().attemptNumber() == 0:
                raise RuntimeError("injected first-attempt failure")
            return v

        out_dir = sys.argv[2]
        df = (
            spark.range(0, 1000).repartition(4)
            .select(F.col("id").alias("event_id"),
                    fail_once((F.col("id") % 901).cast("long")).alias("v"))
        )
        df.write.format("jsonsink").option("path", out_dir).mode(
            "append").save()

        with open(os.path.join(out_dir, "_MANIFEST.json")) as f:
            manifest = json.load(f)["shards"]
        ids = []
        for s in manifest:
            with open(s["path"]) as f:
                for line in f:
                    ids.append(json.loads(line)["event_id"])
        on_disk = [p for p in os.listdir(out_dir)
                   if p.startswith("part-")]
        print(json.dumps({
            "manifest_shards": len(manifest),
            "disk_shards": len(on_disk),
            "rows": len(ids),
            "distinct": len(set(ids)),
        }))
        spark.stop()
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = tmp_path / "retry_job.py"
    path.write_text(script)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    out = subprocess.run(
        [sys.executable, str(path), repo, str(out_dir)],
        capture_output=True, text=True, timeout=240, check=True,
    )
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    # the retry really happened: one orphan shard beyond the manifest
    assert stats["disk_shards"] == stats["manifest_shards"] + 1, stats
    # and the manifest read is exactly-once despite it
    assert stats["rows"] == 1000 and stats["distinct"] == 1000, stats


def test_parquet_corrupt_quarantine_strict_read_raises(spark):
    """The quarantine query's premise: the SAME directory read without
    ignoreCorruptFiles must fail on the wrecked footers, and the
    corrupted-shard layout must match the declared residue classes."""
    import glob

    import pytest

    from fluent_bit_filter_math_spark.operators.storage import (
        _PQC_BAD,
        corrupt_parquet_path,
    )

    path = corrupt_parquet_path(spark, "/root/testdata/sf0.001")
    for r in _PQC_BAD:
        assert glob.glob(f"{path}/shard={r}/part-*.parquet")
    strict = spark.read.schema(
        "event_id long, user_id long, value double, shard int"
    ).parquet(path)
    with pytest.raises(Exception, match="FAILED_READ_FILE|[Cc]orrupt"):
        strict.count()
