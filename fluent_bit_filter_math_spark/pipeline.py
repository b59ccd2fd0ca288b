"""Batch + streaming application of math specs; tag routing.

The reference's execution loop (cb_math_filter,
/root/reference/filter_math/math.c:290-366) is chunk-at-a-time push; in
Spark that loop *is* the engine — a batch job or a Structured Streaming
micro-batch. The functions here only assemble plans:

* :func:`apply_specs` — chain several specs over one DataFrame (test.sh:18-41
  runs four "filter instances"). Like the reference, which unpacks each
  record once (math.c:322) and looks every operand up in that map, a
  call reads the input's column names once, parses each JSON column once
  into a hidden column, and compiles the whole list into one
  ``withColumns`` over it (:func:`compile.project_specs`): one projection,
  one parse per JSON column, however many specs and operands.
* :func:`apply_specs_passthrough` — the same projection, with malformed
  payloads passed through; its guard reads the same parsed column.
* :func:`route_by_tag` — the Fluent Bit tag-routing analogue
  (math.c:292; /root/reference/test.sh:17-43): per-tag spec chains applied
  to the matching slice of the stream, one filter + projection per tag,
  which Spark executes as one narrow stage per branch — no shuffle.
* :func:`read_events_stream` / :func:`run_stream_to_memory` — streaming
  parity harness: replay a parquet table as a stream and run it with
  ``trigger(availableNow=True)``, proving batch ≡ stream for every spec.
"""

from __future__ import annotations

import os
import tempfile
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo
from fluent_bit_filter_math_spark.compile import project_specs
from fluent_bit_filter_math_spark.spec import MathSpec


def apply_specs(
    df: DataFrame, specs: Sequence[MathSpec], json_cols=("props",)
) -> DataFrame:
    """Apply a spec chain in order: one projection, each JSON column
    parsed once; a spec reads what the specs before it wrote."""
    return project_specs(df, specs, json_cols)


def apply_specs_passthrough(
    df: DataFrame, specs: Sequence[MathSpec], json_col: str = "props"
) -> DataFrame:
    """Apply specs only to well-formed records; identity-map the rest.

    The reference copies a record through VERBATIM when its payload is not
    a map (/root/reference/filter_math/math.c:227,343-352) — no output key
    is appended. The DataFrame analogue of "not a map": ``json_col`` holds
    a non-NULL string that does not parse as a JSON *object* (corrupt
    JSON, or a JSON array/scalar). For those rows every original column
    passes through untouched and the output field stays NULL ("absent");
    a NULL ``json_col`` is a record *without* a dynamic payload — still
    well-formed, keys simply coerce to 0 (math.c:164). The guard reads
    the same parsed column as the operands.
    """
    return project_specs(df, specs, (json_col,), guard_col=json_col)


def route_by_tag(
    df: DataFrame,
    routes: Mapping[str, Sequence[MathSpec]],
    tag_col: str = "event_type",
    json_cols=("props",),
) -> dict[str, DataFrame]:
    """One transformed DataFrame per tag, filtered like Fluent Bit routing."""
    columns = df.columns
    return {
        tag: project_specs(
            df.filter(F.col(tag_col) == F.lit(tag)), specs, json_cols, columns
        )
        for tag, specs in routes.items()
    }


def read_events_stream(
    spark: SparkSession, path: str, schema=None, drop_nanos: bool = False
) -> DataFrame:
    """Replay a parquet directory as a bounded stream (the test harness's
    'mem input' analogue, /root/reference/test.sh:15).

    ``drop_nanos=True`` applies the same TIMESTAMP(NANOS) workaround as
    ``sources.catalog.table``: read nanos as long, truncate to µs.
    """
    if drop_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # The file stream source wants a directory; expose the single
        # fixture file through a symlink dir (fixtures are read-only),
        # one per context and file.
        src = os.path.abspath(path)

        def link_dir() -> str:
            d = memo.private_dir("stream-src")
            os.symlink(src, os.path.join(d, "part-0.parquet"))
            return d

        path = memo.get(spark, "stream_src", src, link_dir)
    stream = spark.readStream.schema(schema).format("parquet").load(path)
    if drop_nanos:
        for name, dtype in stream.dtypes:
            if name == "ts" and dtype == "bigint":
                stream = stream.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
    # Parquet µs timestamps may infer as TIMESTAMP_NTZ (reader-dependent),
    # and every event-time operator downstream (withWatermark) requires
    # TIMESTAMP [EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]. Normalize here, at
    # the source, so callers never see the NTZ/LTZ split; the session tz
    # is pinned UTC, so the cast preserves wall-clock values.
    for name, dtype in stream.dtypes:
        if dtype == "timestamp_ntz":
            stream = stream.withColumn(name, F.col(name).cast("timestamp"))
    return stream


def stream_parts(default: int = 4) -> int:
    """Streaming state-operator partition count: the per-query
    fixture-sized default, overridable in one place via
    SPARK_GRAFT_STREAM_PARTS (the batch shuffle-partitions sizing
    rule's streaming twin — state-store count scales with state
    cardinality)."""
    return int(os.environ.get("SPARK_GRAFT_STREAM_PARTS", default))


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = 4,
    progress_out: dict | None = None,
) -> DataFrame:
    """Run a bounded stream into a memory sink; returns the result table.

    availableNow ≈ the reference smoke test's `exit` output plugin
    (test.sh:43): process everything available, then stop.

    ``shuffle_partitions`` sizes the stateful-operator parallelism for
    THIS query (state-store count is pinned per checkpoint at first
    start, so it is a per-query knob, not a session default). Stateful
    micro-batch cost is dominated by per-partition state-store
    open/commit, so the right size tracks state cardinality/throughput
    — a 100 TB/day deployment turns this UP; the bounded fixture replay
    sizes it to the data (measured: 32 → 8 partitions cuts the
    stream-stream join's wall clock ~3×, and 8 → 4 another ~4× cold /
    ~35% warm, output bit-identical — per-partition state-store
    open/commit dominates at fixture state volumes). The session value
    is restored after start so batch queries keep their own width.
    """
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    if shuffle_partitions is not None:
        spark.conf.set(key, str(stream_parts(shuffle_partitions)))
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            query = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
            if progress_out is not None:
                # Surface the engine's own run report (the final
                # StreamingQueryProgress) so callers can derive
                # finalization bounds from the REPORTED eventTime
                # watermark instead of re-modeling it from the data.
                progress_out["lastProgress"] = query.lastProgress
    finally:
        if shuffle_partitions is not None:
            spark.conf.set(key, old)
    return spark.table(name)
