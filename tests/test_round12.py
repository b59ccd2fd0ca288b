"""Round-12 additions: shared wire-RPC retry (stream half), Borůvka
CC seeding, shared oriented-wedge build for the triangle family.

Reference analogue: fault tolerance on the ingestion path mirrors the
reference's tolerance of malformed input chunks (math.c:343-352 passes
bad records through rather than failing the pipeline)."""

import glob
import os

import pyspark.sql.functions as F
import pytest


def test_kafka_wire_stream_retries_dropped_fetch_connections(spark, tmp_path):
    """ADVICE r11 #1: the STREAM reader's per-micro-batch fetch now
    shares the batch reader's 5-attempt retry loop, so a broker that
    drops the first fetch connections (MiniBroker's fail_first knob)
    no longer fails the micro-batch — the stream still drains every
    produced row."""
    from fluent_bit_filter_math_spark.sources.io import (
        decode_kafka_value,
        encode_kafka_value,
    )
    from fluent_bit_filter_math_spark.sources.kafka_wire import (
        MiniBroker,
        produce,
        register_kafka_wire,
    )

    register_kafka_wire(spark)
    payload = spark.range(24).select(
        F.col("id").alias("event_id"), (F.col("id") * 7).alias("user_id")
    )
    schema_ddl = "event_id long, user_id long"
    broker = MiniBroker(fail_first_fetches=3)
    try:
        produce(
            encode_kafka_value(payload, key_col="event_id"),
            "retry-stream",
            broker.port,
            2,
        )
        stream = (
            spark.readStream.format("kafkawire")
            .option("topic", "retry-stream")
            .option("port", str(broker.port))
            .option("partitions", "2")
            .option("batchrows", "6")
            .load()
        )
        decoded = decode_kafka_value(
            stream.withColumnRenamed("kpart", "partition"),
            spark.createDataFrame([], schema_ddl).schema,
        )
        out_dir = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        def _sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"b{batch_id:05d}")
            )

        q = (
            decoded.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(os.path.join(out_dir, "b*")).collect()
        assert sorted(r["event_id"] for r in got) == list(range(24))
        assert len(glob.glob(os.path.join(out_dir, "b*"))) >= 2
    finally:
        broker.stop()


def test_triangle_family_shares_sessionwide_edge_build(spark, sf_dir):
    """VERDICT r11 #4: the co-occurrence edge list is built once per
    (session, sf_dir) and localCheckpointed; after the first family
    member runs, every member's compiled plan reads the checkpoint
    (Scan ExistingRDD) instead of re-deriving the lineitem self-join,
    keeping per-query exchanges at the wedge-phase count only."""
    import re

    from fluent_bit_filter_math_spark.operators.graph import (
        _tri_shared,
        graph_clustering_coefficient,
        graph_triangle_count,
        release_tri_und,
    )

    release_tri_und(spark)
    _tri_shared(spark, sf_dir)  # warm the session build once
    for q in (graph_triangle_count, graph_clustering_coefficient):
        plan = plan_of(q(spark, sf_dir))
        assert "Scan ExistingRDD" in plan  # checkpointed edge list
        assert "lineitem" not in plan  # build never re-derived
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_ex <= 10, f"{q.__name__}: {n_ex} exchanges"


def plan_of(df):
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


class TestTableFormat:
    """Commit-log lakehouse source (VERDICT r11 #8): snapshot
    isolation, time travel, optimistic concurrency, dead-file
    exclusion."""

    def test_time_travel_and_overwrite(self, spark, tmp_path):
        from fluent_bit_filter_math_spark.sources.table_format import (
            latest_version,
            tf_append,
            tf_overwrite,
            tf_read,
        )

        t = str(tmp_path / "t")
        assert tf_append(spark.range(0, 5), t) == 0
        assert tf_append(spark.range(5, 8), t) == 1
        assert tf_overwrite(spark.range(100, 103), t) == 2
        assert latest_version(t) == 2
        assert sorted(
            r["id"] for r in tf_read(spark, t, version=0).collect()
        ) == [0, 1, 2, 3, 4]
        assert sorted(
            r["id"] for r in tf_read(spark, t, version=1).collect()
        ) == list(range(8))
        # latest: the overwrite's rows ONLY — dead files never scanned
        assert sorted(r["id"] for r in tf_read(spark, t).collect()) == [
            100,
            101,
            102,
        ]

    def test_staged_files_invisible_until_commit(self, spark, tmp_path):
        """A writer crash between stage and publish must leave readers
        on the old snapshot: staging writes data, but only the log
        makes it live."""
        from fluent_bit_filter_math_spark.sources.table_format import (
            _stage,
            tf_append,
            tf_read,
        )

        t = str(tmp_path / "t")
        tf_append(spark.range(3), t)
        _stage(spark.range(1000, 2000), t)  # orphan: never committed
        assert tf_read(spark, t).count() == 3

    def test_commit_conflict_loses_deterministically(self, spark, tmp_path):
        """Two writers racing for the same version: exactly one wins;
        the loser gets CommitConflict (and would retry on top)."""
        import pytest as _pytest

        from fluent_bit_filter_math_spark.sources.table_format import (
            CommitConflict,
            _publish,
            tf_append,
            tf_read,
        )

        t = str(tmp_path / "t")
        tf_append(spark.range(4), t)
        with _pytest.raises(CommitConflict):
            _publish(t, 0, ["data-zzz/x.parquet"], [], "id bigint", "append")
        assert tf_read(spark, t).count() == 4  # winner's log untouched

    def test_empty_overwrite_keeps_schema(self, spark, tmp_path):
        from fluent_bit_filter_math_spark.sources.table_format import (
            tf_append,
            tf_overwrite,
            tf_read,
        )

        t = str(tmp_path / "t")
        tf_append(spark.range(4), t)
        tf_overwrite(spark.range(4).filter("id < 0"), t)
        out = tf_read(spark, t)
        assert out.count() == 0
        assert "id" in out.columns


class TestTableFormatMaintenance:
    """Compaction + vacuum + streaming-epoch idempotence for the
    commit-log table format."""

    def test_compact_is_value_invisible_and_single_file(self, spark, tmp_path):
        from fluent_bit_filter_math_spark.sources.table_format import (
            _resolve,
            tf_append,
            tf_compact,
            tf_read,
        )

        t = str(tmp_path / "t")
        for lo in range(0, 40, 10):
            tf_append(
                spark.range(lo, lo + 10).repartition(4), t
            )  # 16 small files
        before = sorted(r["id"] for r in tf_read(spark, t).collect())
        v = tf_compact(spark, t)
        files, _, _ = _resolve(t, v)
        assert len(files) == 1  # coalesced
        after = sorted(r["id"] for r in tf_read(spark, t).collect())
        assert after == before == list(range(40))
        # time travel across the compaction boundary still works
        assert tf_read(spark, t, version=v - 1).count() == 40

    def test_vacuum_deletes_only_unreachable_files(self, spark, tmp_path):
        import pytest as _pytest

        from fluent_bit_filter_math_spark.sources.table_format import (
            tf_append,
            tf_overwrite,
            tf_read,
            tf_vacuum,
        )

        t = str(tmp_path / "t")
        tf_append(spark.range(5), t)           # v0
        tf_overwrite(spark.range(100, 103), t)  # v1: v0's files go dead
        doomed = tf_vacuum(t, keep_from_version=1)
        assert doomed  # v0's files physically removed
        assert sorted(
            r["id"] for r in tf_read(spark, t).collect()
        ) == [100, 101, 102]
        # time travel to the vacuumed snapshot now fails at scan time
        with _pytest.raises(Exception):
            tf_read(spark, t, version=0).collect()

    def test_stream_epoch_replay_is_noop(self, spark, tmp_path):
        from fluent_bit_filter_math_spark.sources.table_format import (
            latest_version,
            tf_append_batch,
            tf_read,
        )

        t = str(tmp_path / "t")
        assert tf_append_batch(spark.range(3), t, batch_id=0) == 0
        assert tf_append_batch(spark.range(3, 6), t, batch_id=1) == 1
        # replayed epoch: no new version, no duplicate rows
        assert tf_append_batch(spark.range(3, 6), t, batch_id=1) is None
        assert latest_version(t) == 1
        assert tf_read(spark, t).count() == 6


def test_table_format_read_keeps_parquet_pushdown(spark, tmp_path):
    """The log-based snapshot read is `spark.read.parquet(*live)`, so
    predicate pushdown and column pruning reach the scan unchanged —
    the property that makes the format usable at 100 TB."""
    from fluent_bit_filter_math_spark.sources.table_format import (
        tf_append,
        tf_read,
    )

    t = str(tmp_path / "t")
    tf_append(
        spark.range(1000).selectExpr("id", "id * 2 AS v", "id % 7 AS k"),
        t,
    )
    df = tf_read(spark, t).filter("k = 3").select("id")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "IsNotNull(k)" in plan
    assert "ReadSchema" in plan
    # column pruning: v never read
    import re

    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and "v:" not in rs.group(1)


class TestTableFormatStreamSource:
    def test_incremental_drain_covers_each_record_exactly_once(
        self, spark, tmp_path
    ):
        """Three append commits drained at one version per trigger:
        union of all micro-batches = the table, no dups, ≥3 epochs."""
        import glob as _glob

        from fluent_bit_filter_math_spark.sources.table_format import (
            register_table_format,
            tf_append,
        )

        register_table_format(spark)
        t = str(tmp_path / "t")
        for lo in (0, 10, 20):
            tf_append(
                spark.range(lo, lo + 10).selectExpr("id", "id * 3 AS v"),
                t,
            )
        out_dir = str(tmp_path / "sink")

        def _sink(bdf, bid):
            bdf.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"b{bid:05d}")
            )

        q = (
            spark.readStream.format("tableformat")
            .option("path", t)
            .option("maxversionspertrigger", "1")
            .load()
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(_glob.glob(os.path.join(out_dir, "b*"))) >= 3
        got = sorted(
            r["id"]
            for r in spark.read.parquet(os.path.join(out_dir, "b*")).collect()
        )
        assert got == list(range(30))

    def test_overwrite_commit_refused_by_stream(self, spark, tmp_path):
        """An overwrite rewrites history — the incremental reader must
        fail loudly rather than emit wrong deltas (Delta's
        ignoreChanges trap, made an error)."""
        from fluent_bit_filter_math_spark.sources.table_format import (
            register_table_format,
            tf_append,
            tf_overwrite,
        )

        register_table_format(spark)
        t = str(tmp_path / "t")
        tf_append(spark.range(5), t)
        tf_overwrite(spark.range(100, 103), t)
        q = (
            spark.readStream.format("tableformat")
            .option("path", t)
            .option("maxversionspertrigger", "10")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            import pytest as _pytest

            with _pytest.raises(Exception, match="append-only|overwrite"):
                q.processAllAvailable()
        finally:
            q.stop()


def test_table_format_schema_evolution_null_fills(spark, tmp_path):
    """An appended generation adds a column: the snapshot read
    mergeSchemas — old files NULL-fill the new column, both
    generations' rows appear (the io_schema_evolution contract on the
    log-based read path)."""
    from fluent_bit_filter_math_spark.sources.table_format import (
        tf_append,
        tf_read,
    )

    t = str(tmp_path / "t")
    tf_append(spark.range(3).selectExpr("id"), t)
    tf_append(spark.range(3, 6).selectExpr("id", "id * 2 AS extra"), t)
    out = tf_read(spark, t)
    assert set(out.columns) == {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in out.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 6, 4: 8, 5: 10}
    # pre-evolution time travel keeps the narrow schema
    assert tf_read(spark, t, version=0).columns == ["id"]


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 3)),
        st.tuples(st.just("overwrite"), st.integers(0, 3)),
        st.tuples(st.just("compact"), st.just(0)),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_table_format_replay_matches_set_model(spark, tmp_path_factory, ops):
    """Model-based check of the log replay: apply a random
    append/overwrite/compact sequence to BOTH the table format and a
    plain per-version row-multiset model; every version's snapshot
    read must equal the model (the class of replay-order bugs the
    fixed-sequence tests cannot enumerate). Compact must be a
    value-invisible new version."""
    from fluent_bit_filter_math_spark.sources.table_format import (
        tf_append,
        tf_compact,
        tf_overwrite,
        tf_read,
    )

    t = str(tmp_path_factory.mktemp("tf") / "t")
    model: list[list[int]] = []  # rows per version
    nxt = 0
    for op, k in ops:
        if op == "append":
            rows = list(range(nxt, nxt + k))
            nxt += k
            tf_append(
                spark.createDataFrame([(i,) for i in rows], "id long")
                if rows
                else spark.createDataFrame([], "id long"),
                t,
            )
            model.append((model[-1] if model else []) + rows)
        elif op == "overwrite":
            rows = list(range(nxt, nxt + k))
            nxt += k
            tf_overwrite(
                spark.createDataFrame([(i,) for i in rows], "id long")
                if rows
                else spark.createDataFrame([], "id long"),
                t,
            )
            model.append(rows)
        else:
            if not model:
                continue  # compact needs an existing table
            tf_compact(spark, t)
            model.append(model[-1])
    for v, want in enumerate(model):
        got = sorted(r["id"] for r in tf_read(spark, t, version=v).collect())
        assert got == sorted(want), (v, ops)


class TestJpegCodec:
    """From-scratch baseline-JPEG codec (the entropy layer the earlier
    rounds documented as out of scope): exactness on block-constant
    planes, bounded loss on arbitrary planes, byte-stuffing round-trip,
    malformed-input rejection."""

    @settings(max_examples=50, deadline=None)
    @given(payload=st.binary(min_size=1, max_size=40))
    def test_block_constant_roundtrip_is_exact(self, payload):
        import numpy as np

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        w, h, plane = mm._jpeg_decode(mm._jpeg_gray_plane_file(payload))
        n = len(payload)
        wb, hb = 2 + n % mm._JPEG_BW_MOD, 1 + n % mm._JPEG_BH_MOD
        vals = np.frombuffer(
            (payload * (wb * hb // n + 1))[: wb * hb], dtype=np.uint8
        ).reshape(hb, wb)
        want = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        assert (w, h) == (8 * wb, 8 * hb)
        assert (plane == want).all()

    @settings(max_examples=25, deadline=None)
    @given(
        seed=st.integers(0, 2**32 - 1),
        wb=st.integers(1, 4),
        hb=st.integers(1, 3),
    )
    def test_arbitrary_plane_error_bounded(self, seed, wb, hb):
        import numpy as np

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        rng = np.random.default_rng(seed)
        p = rng.integers(0, 256, size=(8 * hb, 8 * wb), dtype=np.uint8)
        w, h, out = mm._jpeg_decode(mm._jpeg_encode(p))
        assert (w, h) == (8 * wb, 8 * hb)
        # quant=1: only coefficient rounding is lost
        assert np.abs(out.astype(int) - p.astype(int)).max() <= 3

    @settings(max_examples=50, deadline=None)
    @given(bits=st.lists(st.integers(0, 1), min_size=1, max_size=64))
    def test_bit_writer_reader_roundtrip_with_stuffing(self, bits):
        from fluent_bit_filter_math_spark.operators.multimodal import (
            _JpegBitReader,
            _JpegBitWriter,
        )

        wr = _JpegBitWriter()
        for b in bits:
            wr.put(b, 1)
        data = wr.flush() + b"\xff\xd9"
        # all-ones prefixes force 0xFF bytes => stuffing exercised
        rd = _JpegBitReader(data, 0)
        assert [rd.bit() for _ in bits] == bits

    def test_malformed_rejection(self):
        import pytest as _pytest

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        good = mm._jpeg_gray_plane_file(b"xyz")
        with _pytest.raises(ValueError, match="SOI"):
            mm._jpeg_decode(b"\x00" + good)
        with _pytest.raises(ValueError, match="EOI"):
            mm._jpeg_decode(good[:-2])
        # corrupt a DHT count: canonical build or entropy decode breaks
        with _pytest.raises(Exception):
            bad = bytearray(good)
            i = bad.index(b"\xff\xc4")
            bad[i + 5] = 0xFF
            mm._jpeg_decode(bytes(bad))


class TestAvroOCF:
    """From-scratch Avro OCF: zigzag varints, block/sync container,
    raw-deflate codec, corruption detection."""

    @settings(max_examples=60, deadline=None)
    @given(n=st.integers(-(2**62), 2**62))
    def test_zigzag_varint_roundtrip(self, n):
        from fluent_bit_filter_math_spark.sources.avro_ocf import (
            _zigzag_decode,
            _zigzag_encode,
        )

        v, pos = _zigzag_decode(_zigzag_encode(n), 0)
        assert v == n and pos == len(_zigzag_encode(n))

    def test_known_zigzag_vectors(self):
        """The spec's published examples: 0->00, -1->01, 1->02,
        -2->03, 2->04, -64->7f, 64->80 01."""
        from fluent_bit_filter_math_spark.sources.avro_ocf import (
            _zigzag_encode,
        )

        vecs = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03",
                2: b"\x04", -64: b"\x7f", 64: b"\x80\x01"}
        for n, want in vecs.items():
            assert _zigzag_encode(n) == want, n

    @settings(max_examples=15, deadline=None)
    @given(
        nrows=st.integers(0, 300),
        block=st.integers(1, 97),
        codec=st.sampled_from(["null", "deflate"]),
    )
    def test_container_roundtrip(self, tmp_path_factory, nrows, block, codec):
        import os

        from fluent_bit_filter_math_spark.sources.avro_ocf import (
            read_ocf_file,
            write_ocf_shard,
        )

        rows = [
            {
                "event_id": i,
                "user_id": -i * 3,
                "event_type": f"type-{i % 5}",
                "cents": i * 101 - 7,
            }
            for i in range(nrows)
        ]
        p = os.path.join(str(tmp_path_factory.mktemp("ocf")), "s.avro")
        write_ocf_shard(p, rows, codec, rows_per_block=block)
        got = list(read_ocf_file(p))
        assert got == [
            (r["event_id"], r["user_id"], r["event_type"], r["cents"])
            for r in rows
        ]

    def test_corruption_detected(self, tmp_path):
        import os

        import pytest as _pytest

        from fluent_bit_filter_math_spark.sources.avro_ocf import (
            read_ocf_file,
            write_ocf_shard,
        )

        p = os.path.join(str(tmp_path), "s.avro")
        write_ocf_shard(
            p,
            [{"event_id": 1, "user_id": 2, "event_type": "x", "cents": 3}],
            "deflate",
        )
        buf = bytearray(open(p, "rb").read())
        buf[-1] ^= 0x55  # last sync byte
        open(p, "wb").write(bytes(buf))
        with _pytest.raises(ValueError, match="sync"):
            list(read_ocf_file(p))
        bad = os.path.join(str(tmp_path), "bad.avro")
        open(bad, "wb").write(b"NOPE" + bytes(buf[4:]))
        with _pytest.raises(ValueError, match="magic"):
            list(read_ocf_file(bad))


class TestJpegColor:
    @settings(max_examples=25, deadline=None)
    @given(payload=st.binary(min_size=1, max_size=30))
    def test_gray_rgb_roundtrip_exact_through_color_path(self, payload):
        import numpy as np

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        n = len(payload)
        wb = 1 + n % mm._JPEG_C_BW_MOD
        hb = 1 + n % mm._JPEG_C_BH_MOD
        vals = np.frombuffer(
            (payload * (wb * hb // n + 1))[: wb * hb], dtype=np.uint8
        ).reshape(hb, wb)
        gray = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        w, h, out = mm._jpeg_decode_color(mm._jpeg_encode_color(rgb))
        assert (w, h) == (8 * wb, 8 * hb)
        assert (out == rgb).all()

    @settings(max_examples=15, deadline=None)
    @given(seed=st.integers(0, 2**32 - 1))
    def test_chromatic_roundtrip_bounded(self, seed):
        import numpy as np

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        rng = np.random.default_rng(seed)
        p = rng.integers(0, 256, size=(8, 16, 3), dtype=np.uint8)
        _, _, out = mm._jpeg_decode_color(mm._jpeg_encode_color(p))
        # DCT rounding (quant=1) + T.871 color-matrix rounding
        assert np.abs(out.astype(int) - p.astype(int)).max() <= 4

    def test_grayscale_decoder_rejects_color_file_and_vice_versa(self):
        import numpy as np
        import pytest as _pytest

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        rgb = np.zeros((8, 8, 3), dtype=np.uint8)
        color = mm._jpeg_encode_color(rgb)
        with _pytest.raises(ValueError, match="grayscale"):
            mm._jpeg_decode(color)
        # the color decoder accepts 1-component files (superset)
        gray_file = mm._jpeg_gray_plane_file(b"ab")
        w, h, plane = mm._jpeg_decode_color(gray_file)
        assert plane.ndim == 2


def test_table_format_stream_restart_from_checkpoint(spark, tmp_path):
    """Stop after draining 2 commits, append 2 more, restart from the
    same checkpoint: the fresh reader's rate-limit cursor must catch
    up to the engine's committed offset (partitions() bumps it) and
    the union of both runs covers every record exactly once."""
    import glob as _glob

    from fluent_bit_filter_math_spark.sources.table_format import (
        register_table_format,
        tf_append,
    )

    register_table_format(spark)
    t = str(tmp_path / "t")
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def _sink(bdf, bid):
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{bid:05d}")
        )

    def _run():
        q = (
            spark.readStream.format("tableformat")
            .option("path", t)
            .option("maxversionspertrigger", "1")
            .load()
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    for lo in (0, 10):
        tf_append(spark.range(lo, lo + 10).selectExpr("id"), t)
    _run()
    for lo in (20, 30):
        tf_append(spark.range(lo, lo + 10).selectExpr("id"), t)
    _run()
    rows = sorted(
        r["id"]
        for r in spark.read.parquet(os.path.join(out_dir, "b*")).collect()
    )
    assert rows == list(range(40))
    assert len(_glob.glob(os.path.join(out_dir, "b*"))) >= 4


class TestJpeg420:
    @settings(max_examples=25, deadline=None)
    @given(payload=st.binary(min_size=1, max_size=24))
    def test_tile_constant_roundtrip_exact(self, payload):
        import numpy as np

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        n = len(payload)
        tw = 1 + n % mm._JPEG_S_TW_MOD
        th = 1 + n % mm._JPEG_S_TH_MOD
        vals = np.frombuffer(
            (payload * (tw * th // n + 1))[: tw * th], dtype=np.uint8
        ).reshape(th, tw)
        gray = np.kron(vals, np.ones((16, 16), dtype=np.uint8))
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        w, h, out = mm._jpeg_decode_420(mm._jpeg_encode_420(rgb))
        assert (w, h) == (16 * tw, 16 * th)
        assert (out == rgb).all()

    @settings(max_examples=10, deadline=None)
    @given(seed=st.integers(0, 2**32 - 1))
    def test_gray_random_bounded(self, seed):
        """Gray planes keep chroma flat (Cb=Cr=128) so only DCT
        rounding remains — the MCU interleave is fully exercised with
        non-constant luma."""
        import numpy as np

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        rng = np.random.default_rng(seed)
        g = rng.integers(0, 256, size=(16, 32), dtype=np.uint8)
        p = np.repeat(g[:, :, None], 3, axis=2)
        _, _, out = mm._jpeg_decode_420(mm._jpeg_encode_420(p))
        assert np.abs(out.astype(int) - p.astype(int)).max() <= 3

    def test_444_file_rejected_by_420_decoder(self):
        import numpy as np
        import pytest as _pytest

        from fluent_bit_filter_math_spark.operators import multimodal as mm

        rgb = np.zeros((16, 16, 3), dtype=np.uint8)
        with _pytest.raises(ValueError, match="4:2:0"):
            mm._jpeg_decode_420(mm._jpeg_encode_color(rgb))


def test_jpeg_extreme_plane_stays_inside_symbol_alphabet():
    """The adversarial max-energy input (sign pattern of the (4,4)
    basis at full amplitude) produces the largest possible AC
    coefficient (=1020 < 1023 -> size 10): encoding must not fall
    outside the AC table, and the roundtrip stays bounded."""
    import numpy as np

    from fluent_bit_filter_math_spark.operators import multimodal as mm

    c = mm._jpeg_dct_c()
    sign = np.sign(np.outer(c[4], c[4]))
    block = np.where(sign > 0, 255, 0).astype(np.uint8)
    plane = np.tile(block, (2, 3))  # 16x24, every block extreme
    coefs = c @ (block.astype(float) - 128.0) @ c.T
    assert abs(coefs).max() <= 1020.0 + 1e-9
    _, _, out = mm._jpeg_decode(mm._jpeg_encode(plane))
    assert np.abs(out.astype(int) - plane.astype(int)).max() <= 3
