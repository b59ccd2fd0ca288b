"""Reference-parity math-fold queries over the ``events`` table.

Each query is a MathSpec compiled to a native Column expression (no UDF,
no shuffle — a single narrow projection over the scan, whole-stage
codegen). The DuckDB oracles spell out the identical coerce-to-zero fold
in ANSI SQL, so the driver's hash compare pins the semantics of
find_operand_val (/root/reference/filter_math/math.c:146-165) and the
four fold kernels (math.c:197-215).

The events fixture models the reference's record stream: ``ts`` + typed
fields + a dynamic JSON ``props`` column (FIXTURES.md §1). ``props`` only
carries key ``k`` in the synthetic data, but the compile path is generic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo
from fluent_bit_filter_math_spark.pipeline import apply_specs
from fluent_bit_filter_math_spark.registry import register
from fluent_bit_filter_math_spark.sources import table
from fluent_bit_filter_math_spark.spec import MathSpec

# DuckDB spelling of the engine's operand coercion (coerce.py):
# column operand — try_cast to double, missing/non-numeric → 0.
_VAL = "COALESCE(TRY_CAST(value AS DOUBLE), 0.0)"
# dynamic JSON operand 'k' — same coercion through the props map.
_K = "COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0)"
_ET = "COALESCE(TRY_CAST(event_type AS DOUBLE), 0.0)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


def _fold_query(spec_list, keep=("event_id", "value")):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = apply_specs(_events(spark, sf_dir), spec_list)
        out_cols = list(keep) + [s.output_field for s in spec_list]
        return df.select(*out_cols)

    return fn


# --- SUM fold: value + props.k + 7 (apply_sum, math.c:197-200) -------------
register(
    "math_sum",
    oracle=f"""
    SELECT event_id, value, ({_VAL} + {_K} + 7.0) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("sum", ["value", "k", 7], "math_out")]))

# --- SUB fold: left-associative value - k - 3 (apply_sub, math.c:202-205) --
register(
    "math_sub",
    oracle=f"""
    SELECT event_id, value, ({_VAL} - {_K} - 3.0) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("subtract", ["value", "k", 3], "math_out")]))

# --- MUL fold: value * k * 2 (apply_mul, math.c:207-210) -------------------
register(
    "math_mul",
    oracle=f"""
    SELECT event_id, value, ({_VAL} * {_K} * 2.0) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("multiply", ["value", "k", 2], "math_out")]))

# --- DIV fold, null mode: value / k, k=0 → NULL (matches DuckDB) -----------
register(
    "math_div",
    oracle=f"""
    SELECT event_id, value, ({_VAL} / {_K}) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("division", ["value", "k"], "math_out")]))

# --- DIV fold, IEEE mode: k=0 → +inf (value>0 everywhere in the fixture;
#     the NaN leg 0/0 is pinned by unit tests, math.c:212-215) --------------
register(
    "math_div_ieee",
    oracle=f"""
    SELECT event_id, value,
           (CASE WHEN {_K} = 0.0 THEN
                CASE WHEN {_VAL} > 0.0 THEN 'infinity'::DOUBLE
                     WHEN {_VAL} < 0.0 THEN '-infinity'::DOUBLE
                     ELSE 'nan'::DOUBLE END
            ELSE {_VAL} / {_K} END) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("div", ["value", "k"], "math_out", div_mode="ieee")]))

# --- cast_to_int: truncation toward zero (math.c:258-259) ------------------
register(
    "math_cast_int",
    oracle=f"""
    SELECT event_id, value,
           CAST(TRUNC({_VAL} + {_K}) AS BIGINT) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("sum", ["value", "k"], "math_out", cast_to_int=True)]))

# --- missing field → 0.0 (math.c:164) --------------------------------------
register(
    "math_missing_field",
    oracle=f"""
    SELECT event_id, value, ({_VAL} + 0.0) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("sum", ["value", "mem.free"], "math_out")]))

# --- non-numeric value → 0.0 (math.c:161-164): event_type is a string ------
register(
    "math_nonnumeric",
    oracle=f"""
    SELECT event_id, value, ({_VAL} + {_ET}) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("sum", ["value", "event_type"], "math_out")]))

# --- case-insensitive key match (math.c:150): VALUE/K resolve --------------
register(
    "math_case_insensitive",
    oracle=f"""
    SELECT event_id, value, ({_VAL} + {_K}) AS math_out
    FROM events
    """,
)(_fold_query([MathSpec.build("sum", ["VALUE", "K"], "math_out")]))

# --- chained specs: both folds compile into one projection ----------------
register(
    "math_chain",
    oracle=f"""
    SELECT event_id, value,
           ({_VAL} * 2.0) AS doubled,
           (({_VAL} * 2.0) + {_K}) AS math_out
    FROM events
    """,
)(
    _fold_query(
        [
            MathSpec.build("mul", ["value", 2], "doubled"),
            MathSpec.build("sum", ["doubled", "k"], "math_out"),
        ]
    )
)

# --- tag routing (math.c:292; test.sh:17-43): filter then fold -------------
@register(
    "math_tag_route",
    oracle=f"""
    SELECT event_id, value, ({_VAL} + {_K}) AS math_out
    FROM events WHERE event_type = 'error'
    """,
)
def math_tag_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import route_by_tag

    routed = route_by_tag(
        _events(spark, sf_dir),
        {"error": [MathSpec.build("sum", ["value", "k"], "math_out")]},
    )
    return routed["error"].select("event_id", "value", "math_out")


# --- malformed-record pass-through (math.c:227,343-352): records whose
#     payload isn't a map are identity-mapped — no output key appended.
#     The fixture has only well-formed props, so the query corrupts a
#     deterministic slice in-plan: every 7th record's props becomes
#     unparseable JSON, every 11th a JSON array (valid JSON, NOT a map —
#     the reference's elem-1-not-a-map branch). Those rows pass through
#     with math_out NULL; everything else folds normally. -------------------
_MANGLED_PROPS = """
    CASE WHEN event_id % 7 = 0 THEN '{"k": 12'
         WHEN event_id % 11 = 0 THEN '[1, 2]'
         ELSE props END
"""
_K_M = (
    "COALESCE(TRY_CAST(json_extract_string(mangled_props, '$.k') AS DOUBLE),"
    " 0.0)"
)


@register(
    "math_malformed_passthrough",
    oracle=f"""
    SELECT event_id, value, mangled_props,
           CASE WHEN mangled_props IS NOT NULL
                 AND json_type(TRY_CAST(mangled_props AS JSON)) IS DISTINCT FROM 'OBJECT'
                THEN NULL
                ELSE {_VAL} + {_K_M} + 5.0 END AS math_out
    FROM (SELECT event_id, value, {_MANGLED_PROPS} AS mangled_props
          FROM events)
    """,
)
def math_malformed_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import apply_specs_passthrough

    ev = _events(spark, sf_dir).select(
        "event_id", "value", F.expr(_MANGLED_PROPS).alias("mangled_props")
    )
    out = apply_specs_passthrough(
        ev,
        [MathSpec.build("sum", ["value", "k", 5], "math_out")],
        json_col="mangled_props",
    )
    return out.select("event_id", "value", "mangled_props", "math_out")


# --- custom-connector fold (test.sh:15,17-43): the reference's actual
#     smoke scenario — the `mem` input feeding a sum over Mem.used +
#     Mem.free with cast_to_int — run over our Python DataSource
#     connector (sources/mem_input.py). The source is deterministic, so
#     DuckDB reproduces it from range() and the driver verifies a query
#     whose SCAN is a custom connector, not a fixture file. -----------------
_MEM_N = 2014


@register(
    "mem_source_fold",
    oracle=f"""
    SELECT range AS row_id,
           400000 + (range * 37) % 100000 AS mem_used,
           4050908 - (400000 + (range * 37) % 100000) AS mem_free,
           CAST(4050908 AS BIGINT) AS mem_sum
    FROM range({_MEM_N})
    """,
)
def mem_source_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.sources.mem_input import (
        register_mem_source,
    )

    register_mem_source(spark)
    df = (
        spark.read.format("memmetrics")
        .option("numRows", _MEM_N)
        .option("partitions", 8)
        .load()
    )
    # Field names upper-cased on purpose: the connector emits lower-case
    # columns and the match is case-insensitive (math.c:150).
    out = apply_specs(
        df,
        [MathSpec.build("sum", ["MEM_USED", "MEM_FREE"], "mem_sum", cast_to_int=True)],
    )
    return out.select("row_id", "mem_used", "mem_free", "mem_sum")


# ---------------------------------------------------------------------------
# custom STREAMING source fold — the LIVE half of the reference's
# `mem -f 1` sampler loop (test.sh:15): the memmetrics connector's
# SimpleDataSourceStreamReader serves deterministic row-counter offsets
# micro-batch by micro-batch (4 batches of 250 here) and the same fold
# runs incrementally over it. processAllAvailable() drains the stream
# once the source's latest offset stops advancing at the cap — the
# custom-source analogue of availableNow. Offsets make any window
# replayable (readBetweenOffsets), so checkpoint recovery re-serves
# identical rows.
# ---------------------------------------------------------------------------
@register(
    "stream_mem_source_fold",
    oracle=f"""
    SELECT range AS row_id,
           400000 + (range * 37) % 100000 AS mem_used,
           4050908 - (400000 + (range * 37) % 100000) AS mem_free,
           CAST(4050908 AS BIGINT) AS mem_sum
    FROM range({_MEM_N})
    """,
)
def stream_mem_source_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fluent_bit_filter_math_spark.sources.mem_input import (
        register_mem_source,
    )

    register_mem_source(spark)
    stream = (
        spark.readStream.format("memmetrics")
        .option("numRows", _MEM_N)
        .option("batchRows", _MEM_N // 4)
        .load()
    )
    out = apply_specs(
        stream,
        [
            MathSpec.build(
                "sum", ["MEM_USED", "MEM_FREE"], "mem_sum", cast_to_int=True
            )
        ],
    ).select("row_id", "mem_used", "mem_free", "mem_sum")
    name = "stream_mem_source_fold"
    with tempfile.TemporaryDirectory() as ckpt:
        query = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return spark.table(name)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The test.sh scenario (4 ops, one with cast_to_int) compiled into a
    single narrow projection over one parse of ``props`` — the reference
    needed four plugin instances (/root/reference/test.sh:17-43)."""
    specs = [
        MathSpec.build("sum", ["value", "k"], "used_plus_total", cast_to_int=True),
        MathSpec.build("sub", ["value", "k"], "used_minus_total"),
        MathSpec.build("mul", ["value", "k"], "used_times_total"),
        MathSpec.build("div", ["value", "k"], "used_div_total"),
    ]
    return apply_specs(_events(spark, sf_dir), specs)


# --- streaming operating mode (math.c:290-296: the reference IS a stream
#     filter). Same spec, same expression, run through readStream →
#     availableNow → memory sink; the oracle is the batch SQL, pinning
#     batch ≡ stream for the fold surface as a driver-visible query,
#     not just a unit test. -------------------------------------------------
@register(
    "stream_math_fold",
    oracle=f"""
    SELECT event_id, value, ({_VAL} + {_K} + 7.0) AS math_out
    FROM events
    """,
)
def stream_math_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.pipeline import (
        read_events_stream,
        run_stream_to_memory,
    )

    stream = read_events_stream(
        spark, f"{sf_dir}/events.parquet", drop_nanos=True
    )
    out = apply_specs(
        stream, [MathSpec.build("sum", ["value", "k", 7], "math_out")]
    ).select("event_id", "value", "math_out")
    return run_stream_to_memory(out, "stream_math_fold")


# --- file sink round-trip: the same fold written through a checkpointed
#     parquet writeStream (exactly-once file sink), then read back. The
#     memory-sink queries above verify the transform; this one makes the
#     durable-sink path itself driver-verified: availableNow replay →
#     parquet sink commit log → batch read of the committed files. The
#     sink's _spark_metadata commit log is what makes a restarted query
#     resume without duplicating output files — the file-sink form of
#     the reference's flush-and-exit cycle (test.sh:43). Scale: the sink
#     writes one file per partition per micro-batch, no coordination
#     beyond the log append; readers see only committed batches. -----------
@register(
    "stream_file_sink_roundtrip",
    oracle=f"""
    SELECT event_id, value, ({_VAL} + {_K} + 7.0) AS math_out
    FROM events
    """,
)
def stream_file_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from fluent_bit_filter_math_spark.pipeline import read_events_stream

    stream = read_events_stream(
        spark, f"{sf_dir}/events.parquet", drop_nanos=True
    )
    out = apply_specs(
        stream, [MathSpec.build("sum", ["value", "k", 7], "math_out")]
    ).select("event_id", "value", "math_out")
    # Disk discipline: the returned DataFrame reads lazily from the
    # sink, so the dirs can't be removed here. scratch_dir gives ONE
    # private mkdtemp dir per process, wiped at entry — bounded disk
    # across bench reps, no predictable-path stale-file hazard.
    # Checkpoint is wiped together with the sink so the availableNow
    # replay re-emits from scratch.
    from fluent_bit_filter_math_spark.scratch import scratch_dir

    base = scratch_dir("file-sink")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    os.makedirs(sink), os.makedirs(ckpt)
    (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(sink).select("event_id", "value", "math_out")


# ---------------------------------------------------------------------------
# custom Python sink round-trip — the write-side twin of
# mem_source_fold: the fold output leaves the engine through the
# jsonsink Python DataSource (per-partition JSON-line shards + a
# manifest commit, sources/json_sink.py — the reference's stdout JSON
# output, test.sh:30-43), then the committed shards are read back and
# oracle-gated. Integer cents only cross the text boundary.
# ---------------------------------------------------------------------------
@register(
    "pysink_fold_roundtrip",
    oracle="""
    SELECT event_id,
           user_id,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) + user_id AS fold_sum
    FROM events
    WHERE event_id % 10 = 0
    """,
)
def pysink_fold_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources.json_sink import (
        register_json_sink,
    )

    register_json_sink(spark)
    # Same bounded-disk pattern as stream_file_sink_roundtrip: one
    # private per-process dir, wiped at entry, removed at exit.
    out_dir = scratch_dir("json-sink")

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    folded = ev.select(
        "event_id",
        "user_id",
        exact_cents(F.col("value")).alias("cents"),
        (exact_cents(F.col("value")) + F.col("user_id")).alias("fold_sum"),
    )
    folded.write.format("jsonsink").option("path", out_dir).mode(
        "append"
    ).save()

    # Read back ONLY the shards the commit protocol recorded in
    # _MANIFEST.json — a retried/speculative write task can leave an
    # orphan part-*.json on disk (abort runs on job abort, not per-task
    # retry), and a glob read would double-count its rows. Consuming
    # the manifest is what makes the sink exactly-once.
    import json as _json

    with open(
        os.path.join(out_dir, "_MANIFEST.json"), encoding="utf-8"
    ) as f:
        shard_paths = [s["path"] for s in _json.load(f)["shards"]]
    return spark.read.schema(
        "event_id long, user_id long, cents long, fold_sum long"
    ).json(shard_paths)


# ---------------------------------------------------------------------------
# STREAMING custom Python sink round-trip — the fourth and last Python
# DataSource quadrant (batch reader = mem_input, batch writer =
# jsonsink above, streaming reader = mem_input's
# SimpleDataSourceStreamReader; this is DataSource.streamWriter). The
# fold output leaves through a CHECKPOINTED writeStream into the
# jsonsink format: two replay files under maxFilesPerTrigger=1 force
# two micro-batches, so the per-epoch commit protocol (write →
# per-task shard manifests → atomic _MANIFEST-<batchId> publish)
# genuinely runs more than once; the committed shards are read back
# manifest-only and oracle-gated. Integer cents cross the text
# boundary, never doubles.
#
# Scale: the sink writes one shard per partition per epoch and the
# driver sees only (path, rows) messages — the same bounded-commit
# shape as a real distributed committer; replayed epochs supersede
# their own manifest atomically (retry-idempotence pinned in
# tests/test_round10.py).
# ---------------------------------------------------------------------------
def _pysink_split_src(spark: SparkSession, sf_dir: str) -> str:
    """Two event_id-parity replay files of the folded columns,
    memoized per sf_dir (data prep, not the operator under test)."""
    import os

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import (
        dir_key,
        scratch_dir,
        write_replay_split,
    )

    def build() -> str:
        base = scratch_dir(f"pysink-split-{dir_key(sf_dir)}")
        src = os.path.join(base, "src")
        ev = _events(spark, sf_dir).filter(F.col("event_id") % 10 == 5).select(
            "event_id",
            "user_id",
            exact_cents(F.col("value")).alias("cents"),
            (exact_cents(F.col("value")) + F.col("user_id")).alias("fold_sum"),
        )
        write_replay_split(
            src,
            [
                ev.filter(F.col("event_id") % 20 == 5),
                ev.filter(F.col("event_id") % 20 == 15),
            ],
        )
        return src

    src = memo.get(spark, "pysink_split", sf_dir, build)
    return src + "/f*"  # glob path covering every slice dir


@register(
    "stream_pysink_roundtrip",
    oracle="""
    SELECT event_id,
           user_id,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) + user_id AS fold_sum
    FROM events
    WHERE event_id % 10 = 5
    """,
)
def stream_pysink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources.json_sink import (
        read_manifested,
        register_json_sink,
    )

    register_json_sink(spark)
    src = _pysink_split_src(spark, sf_dir)
    schema = "event_id long, user_id long, cents long, fold_sum long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    base = scratch_dir("pysink-stream")
    out_dir, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    os.makedirs(out_dir), os.makedirs(ckpt)
    (
        stream.writeStream.format("jsonsink")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    import glob as _glob

    manifests = _glob.glob(os.path.join(out_dir, "_MANIFEST-*.json"))
    if len(manifests) < 2:
        raise RuntimeError(
            f"expected >=2 per-epoch manifests, got {len(manifests)}"
        )
    return read_manifested(spark, out_dir, schema)
