"""Round 14, part 1: the ADVICE r13 fixes.

1. position-addressed change-feed reads across evolved writer schemas
   must not drop columns,
2. CHECK-constraint races: append rebase over an interleaved
   constraint commit re-validates; restore validates resurrected rows,
3. kafka wire: unknown compression flags answer protocol errors on
   both the produce and fetch paths (never a snappy-sealed echo),
4. Avro union encode falls through to the next accepting branch when
   the type-witness choice fails to encode,
5. the baseline re-anchor tool refuses plan-changed movers.
"""

from __future__ import annotations

import json
import os
import socket
import struct

import pytest
import pyspark.sql.functions as F

from fluent_bit_filter_math_spark.sources import table_format as tf
from fluent_bit_filter_math_spark.sources.avro_ocf import (
    _enc_any,
    _enc_string,
    _zigzag_encode,
)


# ---------------------------------------------------------------------------
# 1+2 — table-format constraint races + evolved position reads
# ---------------------------------------------------------------------------
class TestConstraintRaces:
    def _fresh(self, tmp_path, spark, n=20):
        t = str(tmp_path / "t")
        df = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        tf.tf_append(df, t)
        return t

    def test_append_rebase_revalidates_interleaved_constraint(
        self, tmp_path, spark
    ):
        t = self._fresh(tmp_path, spark)
        # a writer validates (no constraints yet), stages, and then an
        # interleaved constraint commit lands before its publish
        bad = spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        )
        tf._validate_constraints(bad, t, "append")  # passes: none yet
        staged_read = tf.latest_version(t)
        add, schema = tf._stage(
            tf._to_physical_df(bad, tf.tf_column_mapping(t)), t
        )
        tf.tf_set_constraint(spark, t, "v_nonneg", "v >= 0")
        with pytest.raises(tf.ConstraintViolation):
            tf._commit_with_rebase(
                t, add, [], schema, "append", staged_read, 5,
                revalidate=lambda: tf._validate_constraints(
                    bad, t, "append (rebased)"
                ),
            )
        # nothing published past the constraint commit
        assert tf.latest_version(t) == staged_read + 1
        # the same race with VALID data lands fine
        good = spark.range(5).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        )
        v = tf.tf_append(good, t)
        assert v == staged_read + 2

    def test_restore_validates_resurrected_rows(self, tmp_path, spark):
        t = self._fresh(tmp_path, spark)
        pre = tf.latest_version(t)
        # delete the rows that would violate the upcoming constraint,
        # then add it (validates over the shrunken live set: passes)
        tf.tf_delete(spark, t, [("k", ">=", 15)])
        tf.tf_set_constraint(spark, t, "k_small", "k < 15")
        # restoring past the delete would resurrect k >= 15 rows that
        # violate the now-active constraint — refused, nothing published
        head = tf.latest_version(t)
        with pytest.raises(tf.ConstraintViolation):
            tf.tf_restore(t, pre)
        assert tf.latest_version(t) == head
        # dropping the constraint lets the same restore through
        tf.tf_drop_constraint(t, "k_small")
        v = tf.tf_restore(t, pre)
        assert tf.tf_read(spark, t, version=v).count() == 20

    def test_position_units_merge_evolved_schemas(self, tmp_path, spark):
        t = str(tmp_path / "t")
        tf.tf_append(
            spark.range(4).select(F.col("id").alias("k")), t
        )
        tf.tf_append(
            spark.range(4, 8).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("extra")
            ),
            t,
        )
        s = tf._state(t)
        assert s.evolved
        units = [
            tf._Unit(rel, sch, "delete", s.version, [0])
            for rel, (sch, _, _) in s.live.items()
        ]
        got = tf._read_units(spark, t, units, s.widened)
        # the evolved-only column must survive a position-addressed
        # read that spans both generations
        assert "extra" in got.columns
        assert got.count() == len(units)


# ---------------------------------------------------------------------------
# 3 — kafka wire unknown compression flags
# ---------------------------------------------------------------------------
class TestKafkaWireUnknownFlags:
    def _rpc(self, port, body):
        from fluent_bit_filter_math_spark.sources.kafka_wire import _rpc

        return _rpc(port, body)

    def test_fetch_unknown_flag_is_protocol_error(self):
        from fluent_bit_filter_math_spark.sources.kafka_wire import (
            MiniBroker,
        )

        b = MiniBroker()
        try:
            topic = b"t"
            body = (
                bytes([0x46])
                + struct.pack(">H", len(topic))
                + topic
                + struct.pack(">i", 0)
                + struct.pack(">q", 0)
                + struct.pack(">i", -1)
                + bytes([7])  # unknown compression flag
            )
            resp = self._rpc(b.port, body)
            (count,) = struct.unpack_from(">i", resp, 0)
            assert count == -1  # protocol error, not a sealed echo
        finally:
            b.stop()

    def test_produce2_unknown_flag_rejected_and_log_unchanged(self):
        from fluent_bit_filter_math_spark.sources.kafka_wire import (
            MiniBroker,
        )

        b = MiniBroker()
        try:
            topic = b"t"
            body = (
                bytes([0x51])
                + struct.pack(">H", len(topic))
                + topic
                + bytes([7])  # unknown flag
                + struct.pack(">qii", 0, 0, 1)
                + b"junk"
            )
            resp = self._rpc(b.port, body)
            (ack,) = struct.unpack_from(">q", resp, 0)
            assert ack == -1
            assert b.logs == {}
        finally:
            b.stop()

    def test_seal_section_rejects_unknown_flag(self):
        from fluent_bit_filter_math_spark.sources.kafka_wire import (
            _seal_section,
        )

        with pytest.raises(ValueError):
            _seal_section(b"abc", 7)


# ---------------------------------------------------------------------------
# 4 — Avro union encode fallback
# ---------------------------------------------------------------------------
class TestUnionEncodeFallback:
    MAP_THEN_RECORD = [
        {"type": "map", "values": "long"},
        {
            "type": "record",
            "name": "R",
            "fields": [{"name": "s", "type": "string"}],
        },
    ]

    def test_falls_through_to_record_branch(self):
        # dict matches the MAP branch by type, but its string value
        # cannot encode as a long — the record branch must win
        got = _enc_any(self.MAP_THEN_RECORD, {"s": "hi"})
        assert got == _zigzag_encode(1) + _enc_string("hi")

    def test_map_branch_still_wins_when_it_encodes(self):
        got = _enc_any(self.MAP_THEN_RECORD, {"s": 5})
        assert got.startswith(_zigzag_encode(0))

    def test_all_accepting_branches_failing_raises(self):
        with pytest.raises(ValueError, match="failed to encode"):
            _enc_any([{"type": "map", "values": "long"}], {"s": "hi"})


# ---------------------------------------------------------------------------
# 5 — re-anchor tool refuses plan-changed movers
# ---------------------------------------------------------------------------
class TestReanchorGuard:
    def _load_tool(self):
        import importlib.util

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "baseline_reanchor_r13b.py",
        )
        spec = importlib.util.spec_from_file_location("reanchor", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_plan_changed_mover_refused(self, tmp_path, monkeypatch,
                                        capsys):
        mod = self._load_tool()
        monkeypatch.chdir(tmp_path)
        (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(
            {"warm": {"q_a": 9.0, "q_b": 9.0},
             "cold": {"q_a": 9.5, "q_b": 9.5}}
        ))
        (tmp_path / "BASELINE.md").write_text(
            "| q_a | 1.0000 | 1.1000 | 5 |\n"
            "| q_b | 1.0000 | 1.1000 | 5 |\n"
        )
        (tmp_path / "PLANS.md").write_text(
            "| q_a | 2 | 0 | 0 | 0 | 1 | 1 |\n"
            "| q_b | 2 | 0 | 0 | 0 | 1 | 1 |\n"
        )
        # anchor-era plans: q_a's fingerprint differed (plan changed
        # since the anchor), q_b's matches (pure era shift)
        monkeypatch.setattr(
            mod, "_anchor_era_plans",
            lambda: {"q_a": "9 | 9 | 9 | 9 | 9 | 9",
                     "q_b": "2 | 0 | 0 | 0 | 1 | 1"},
        )
        mod.main(["--apply"])
        out = capsys.readouterr().out
        assert "REFUSED" in out and "q_a" in out
        text = (tmp_path / "BASELINE.md").read_text()
        assert "| q_a | 1.0000 |" in text  # refused: anchor untouched
        assert "| q_b | 9.0000 |" in text  # era shift: re-anchored

    def test_force_overrides_refusal(self, tmp_path, monkeypatch):
        mod = self._load_tool()
        monkeypatch.chdir(tmp_path)
        (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(
            {"warm": {"q_a": 9.0}, "cold": {"q_a": 9.5}}
        ))
        (tmp_path / "BASELINE.md").write_text(
            "| q_a | 1.0000 | 1.1000 | 5 |\n"
        )
        (tmp_path / "PLANS.md").write_text(
            "| q_a | 2 | 0 | 0 | 0 | 1 | 1 |\n"
        )
        monkeypatch.setattr(
            mod, "_anchor_era_plans",
            lambda: {"q_a": "9 | 9 | 9 | 9 | 9 | 9"},
        )
        mod.main(["--apply", "--force-plan-changed", "q_a"])
        assert "| q_a | 9.0000 |" in (tmp_path / "BASELINE.md").read_text()


# ---------------------------------------------------------------------------
# ADD/DROP COLUMN schema evolution (VERDICT r14 item 1)
# ---------------------------------------------------------------------------
class TestAddDropColumn:
    def _base(self, tmp_path, spark):
        t = str(tmp_path / "t")
        tf.tf_append(
            spark.range(6).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            t,
        )
        return t

    def test_add_is_metadata_only_and_null_filled(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        files_before = {
            f for _, _, fs in os.walk(t) for f in fs
            if f.endswith(".parquet")
        }
        tf.tf_add_column(t, "w", "double")
        files_after = {
            f for _, _, fs in os.walk(t) for f in fs
            if f.endswith(".parquet")
        }
        assert files_before == files_after
        got = tf.tf_read(spark, t)
        assert got.columns == ["k", "v", "w"]
        assert got.filter(F.col("w").isNull()).count() == 6
        # new appends may carry it — or not (stays NULL-filled)
        tf.tf_append(
            spark.range(6, 9).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("v"),
                F.lit(1.5).alias("w"),
            ),
            t,
        )
        tf.tf_append(
            spark.range(9, 11).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            t,
        )
        rows = {r["k"]: r["w"] for r in tf.tf_read(spark, t).collect()}
        assert rows[7] == 1.5 and rows[9] is None and rows[0] is None

    def test_add_existing_or_unknown_drop_raise(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        with pytest.raises(ValueError, match="already exists"):
            tf.tf_add_column(t, "v", "long")
        with pytest.raises(ValueError, match="no column"):
            tf.tf_drop_column(t, "nope")
        tf.tf_drop_column(t, "v")
        with pytest.raises(ValueError, match="last column"):
            tf.tf_drop_column(t, "k")

    def test_drop_hides_and_blocks_plain_rewrite(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        pre = tf.latest_version(t)
        tf.tf_drop_column(t, "v")
        assert tf.tf_read(spark, t).columns == ["k"]
        # time travel still sees the data
        assert "v" in tf.tf_read(spark, t, version=pre).columns
        # a write re-using the dropped name is refused
        with pytest.raises(ValueError, match="was dropped"):
            tf.tf_append(
                spark.range(3).select(
                    F.col("id").alias("k"), F.lit(1).alias("v")
                ),
                t,
            )

    def test_readd_gets_fresh_physical_lineage(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        tf.tf_drop_column(t, "v")
        tf.tf_add_column(t, "v", "bigint")
        mapping = tf.tf_column_mapping(t)
        assert mapping["v"] != "v"
        # reborn column shows NULL for old rows, never the old bytes
        got = {r["k"]: r["v"] for r in tf.tf_read(spark, t).collect()}
        assert all(val is None for val in got.values())
        tf.tf_append(
            spark.range(6, 8).select(
                F.col("id").alias("k"), (F.col("id") + 100).alias("v")
            ),
            t,
        )
        got = {r["k"]: r["v"] for r in tf.tf_read(spark, t).collect()}
        assert got[7] == 107 and got[0] is None

    def test_drop_refused_while_constraint_references(
        self, tmp_path, spark
    ):
        t = self._base(tmp_path, spark)
        tf.tf_set_constraint(spark, t, "v_pos", "v >= 0")
        with pytest.raises(ValueError, match="constraint"):
            tf.tf_drop_column(t, "v")
        tf.tf_drop_constraint(t, "v_pos")
        tf.tf_drop_column(t, "v")

    def test_constraint_on_added_column_validates_absent_as_null(
        self, tmp_path, spark
    ):
        t = self._base(tmp_path, spark)
        tf.tf_add_column(t, "w", "bigint")
        tf.tf_set_constraint(spark, t, "w_pos", "w IS NULL OR w >= 0")
        # a batch WITHOUT the added column validates as NULL and lands
        tf.tf_append(
            spark.range(6, 8).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            t,
        )
        with pytest.raises(tf.ConstraintViolation):
            tf.tf_append(
                spark.range(8, 9).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 10).alias("v"),
                    F.lit(-5).cast("long").alias("w"),
                ),
                t,
            )

    def test_dml_across_evolution(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        tf.tf_add_column(t, "w", "bigint")
        # UPDATE can SET the added column on pre-evolution rows
        v, dvd, n = tf.tf_update(
            spark, t, [("k", ">=", 4)], {"w": F.lit(9)}
        )
        assert n == 2
        got = {r["k"]: r["w"] for r in tf.tf_read(spark, t).collect()}
        assert got[5] == 9 and got[0] is None
        # MERGE upserts a pre-evolution-shaped batch (w NULL-filled)
        ch = spark.range(5, 7).select(
            F.col("id").alias("k"),
            (F.col("id") * 1000).alias("v"),
            F.lit(False).alias("_delete"),
        )
        tf.tf_merge(spark, t, ch, "k")
        got = {r["k"]: (r["v"], r["w"]) for r in tf.tf_read(spark, t).collect()}
        assert got[5] == (5000, None) and got[6] == (6000, None)
        assert got[4] == (40, 9)
        # compaction materializes the evolved schema and sheds nothing
        tf.tf_compact(spark, t)
        got2 = {r["k"]: (r["v"], r["w"]) for r in tf.tf_read(spark, t).collect()}
        assert got2 == got

    def test_rename_interplay_and_time_travel(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        tf.tf_add_column(t, "w", "bigint")
        tf.tf_rename_column(t, "w", "weight")
        assert tf.tf_read(spark, t).columns == ["k", "v", "weight"]
        tf.tf_append(
            spark.range(6, 8).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("v"),
                F.lit(2).cast("bigint").alias("weight"),
            ),
            t,
        )
        got = {r["k"]: r["weight"] for r in tf.tf_read(spark, t).collect()}
        assert got[7] == 2 and got[0] is None
        tf.tf_drop_column(t, "weight")
        assert tf.tf_read(spark, t).columns == ["k", "v"]

    def test_cdf_and_history_across_evolution(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        tf.tf_add_column(t, "w", "bigint")
        tf.tf_append(
            spark.range(6, 8).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("v"),
                F.col("id").alias("w"),
            ),
            t,
        )
        ch = tf.tf_changes(spark, t, 0)
        # the schema commit itself emits no rows; pre-evolution inserts
        # carry w as NULL under the to-version's shape
        assert ch.filter(F.col("_commit_version") == 1).count() == 0
        pre = {r["k"]: r["w"] for r in ch.filter(
            F.col("_commit_version") == 0).collect()}
        assert set(pre.values()) == {None}
        hist = tf.tf_history(t)
        assert hist[1]["columns_added"] == ["w"]


# ---------------------------------------------------------------------------
# tf_merge txn idempotence (the medallion hop's exactly-once guard)
# ---------------------------------------------------------------------------
class TestMergeTxnIdempotence:
    def test_replayed_batch_id_is_noop(self, tmp_path, spark):
        t = str(tmp_path / "t")
        tf.tf_append(
            spark.range(10).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            t,
        )
        ch = spark.range(5, 7).select(
            F.col("id").alias("k"),
            (F.col("id") * 100).alias("v"),
            F.lit(False).alias("_delete"),
        )
        v1, _, _ = tf.tf_merge(spark, t, ch, "k", batch_id=42)
        assert v1 == tf.latest_version(t)
        # replay with the same txn id: version-preserving no-op
        v2, rw, _ = tf.tf_merge(spark, t, ch, "k", batch_id=42)
        assert (v2, rw) == (v1, 0)
        # a DIFFERENT id applies (and double-applies the upsert —
        # proving the guard is the id, not the content)
        v3, _, _ = tf.tf_merge(spark, t, ch, "k", batch_id=43)
        assert v3 == v1 + 1
        got = {r["k"]: r["v"] for r in tf.tf_read(spark, t).collect()}
        assert got[5] == 500 and got[6] == 600 and len(got) == 10

    def test_merge_without_batch_id_unguarded(self, tmp_path, spark):
        t = str(tmp_path / "t")
        tf.tf_append(
            spark.range(4).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            t,
        )
        ch = spark.range(1).select(
            F.col("id").alias("k"),
            F.lit(999).alias("v"),
            F.lit(False).alias("_delete"),
        )
        va, _, _ = tf.tf_merge(spark, t, ch, "k")
        vb, _, _ = tf.tf_merge(spark, t, ch, "k")
        assert vb == va + 1


# ---------------------------------------------------------------------------
# dHash kernel vectors + substring-trim edges
# ---------------------------------------------------------------------------
class TestPhashKernel:
    def test_dhash_known_plane(self):
        import numpy as np

        from fluent_bit_filter_math_spark.operators.multimodal import (
            _dhash_plane,
        )

        # constant plane: every cell mean equal -> no gradient bits
        assert _dhash_plane(np.zeros((8, 8), dtype=np.uint8)) == 0
        # strictly decreasing columns: every left cell > right -> all 56
        plane = np.tile(
            np.arange(80, 0, -10, dtype=np.uint8), (8, 1)
        )
        assert _dhash_plane(plane) == (1 << 56) - 1

    def test_dhash_twin_is_close_original_far(self):
        import numpy as np

        from fluent_bit_filter_math_spark.operators.multimodal import (
            _dhash_plane,
            _PHASH_STEP,
        )

        rng = np.random.RandomState(7)
        a = rng.randint(0, 128, size=(12, 16)).astype(np.uint8)
        tw = a.copy().reshape(-1)
        tw[::_PHASH_STEP] = 120
        tw = tw.reshape(a.shape)
        b = rng.randint(0, 128, size=(12, 16)).astype(np.uint8)
        ham = lambda x, y: bin(x ^ y).count("1")
        assert ham(_dhash_plane(a), _dhash_plane(tw)) <= 7
        assert ham(_dhash_plane(a), _dhash_plane(b)) > 7


class TestSubstringTrim:
    def test_trim_semantics_tiny_corpus(self, spark, tmp_path):
        import pyspark.sql.functions as F2

        from fluent_bit_filter_math_spark.operators.dedup import (
            dedup_substring_trim,
        )

        # doc 0 and 1 share an 8-token run; doc 2 is short (< K, all
        # kept); doc 3 is entirely one duplicated run (fully trimmed)
        run = "a b c d e f g h"
        rows = [
            (0, f"x {run} y", "en", "s", 11),
            (1, f"p q {run}", "en", "s", 10),
            (2, "tiny doc", "en", "s", 2),
            (3, run, "en", "s", 8),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        d = str(tmp_path / "docs")
        df.coalesce(1).write.parquet(d + "/documents.parquet")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_kept"])
            for r in dedup_substring_trim(spark, d).collect()
        }
        assert got[0] == (10, 2)   # run removed, x/y kept
        assert got[1] == (10, 2)   # run removed, p/q kept
        assert got[2] == (2, 2)    # short doc untouched
        assert got[3] == (8, 0)    # fully trimmed


# ---------------------------------------------------------------------------
# TWS RPC-count reductions (VERDICT r13 #5) — wall-clock at test scale
# is floor-bound, so the reduction is pinned at the CALL level: every
# state-client call below is >= 1 socket round-trip in the real
# transformWithState protocol.
# ---------------------------------------------------------------------------
class _CountingMap:
    def __init__(self):
        import collections

        self.store = {}
        self.calls = collections.Counter()

    def getValue(self, k):
        self.calls["getValue"] += 1
        return self.store.get(k)

    def updateValue(self, k, v):
        self.calls["updateValue"] += 1
        self.store[k] = v

    def iterator(self):
        self.calls["iterator"] += 1
        return iter(list(self.store.items()))


class _CountingValue:
    def __init__(self):
        import collections

        self.v = None
        self.calls = collections.Counter()

    def get(self):
        self.calls["get"] += 1
        return self.v

    def update(self, v):
        self.calls["update"] += 1
        self.v = v

    def clear(self):
        self.calls["clear"] += 1
        self.v = None


class TestTwsRpcCounts:
    def test_type_stats_uses_bulk_iterator_not_per_entry_gets(self):
        import pandas as pd

        from fluent_bit_filter_math_spark.streaming.stateful import (
            _TypeStatsProcessor,
        )

        p = _TypeStatsProcessor()
        m = _CountingMap()
        p._by_type = m
        batch = pd.DataFrame(
            {"event_type": ["a", "a", "b", "c"], "cents": [1, 2, 3, 4]}
        )
        out1 = list(p.handleInputRows((7,), iter([batch]), None))
        # E=3 touched entries: ONE iterator, E updates, ZERO getValue
        assert m.calls["getValue"] == 0
        assert m.calls["iterator"] == 1
        assert m.calls["updateValue"] == 3
        got = {
            (r[0], r[1]): (r[2], r[3])
            for r in out1[0].itertuples(index=False)
        }
        assert got[(7, "a")] == (2, 3) and got[(7, "c")] == (1, 4)
        # second batch merges prior state through the same bulk read
        out2 = list(
            p.handleInputRows(
                (7,),
                iter([pd.DataFrame({"event_type": ["a"], "cents": [10]})]),
                None,
            )
        )
        got2 = {
            (r[0], r[1]): (r[2], r[3])
            for r in out2[0].itertuples(index=False)
        }
        assert got2[(7, "a")] == (3, 13)
        assert got2[(7, "b")] == (1, 3)  # untouched entries still emit
        assert m.calls["getValue"] == 0

    def test_idle_close_rearms_without_timer_listing(self):
        import pandas as pd

        from fluent_bit_filter_math_spark.streaming.stateful import (
            _IdleCloseProcessor,
            _TWS_IDLE_GAP_MS,
        )

        class _Handle:
            def __init__(self):
                import collections

                self.calls = collections.Counter()
                self.timers = set()

            def registerTimer(self, ms):
                self.calls["registerTimer"] += 1
                self.timers.add(int(ms))

            def deleteTimer(self, ms):
                self.calls["deleteTimer"] += 1
                self.timers.discard(int(ms))

            def listTimers(self):
                self.calls["listTimers"] += 1
                return iter(sorted(self.timers))

        p = _IdleCloseProcessor()
        p._handle = _Handle()
        p._tot = _CountingValue()
        ts = pd.Series(pd.to_datetime([1_000_000_000_000], unit="ms"))
        batch = pd.DataFrame({"ts": ts, "cents": [5]})
        list(p.handleInputRows((1,), iter([batch]), None))
        # first batch: register only — no listing, no delete
        assert p._handle.calls["listTimers"] == 0
        assert p._handle.calls["deleteTimer"] == 0
        assert p._handle.calls["registerTimer"] == 1
        armed = 1_000_000_000_000 + _TWS_IDLE_GAP_MS
        assert p._handle.timers == {armed}
        # later batch for the same key: delete+re-register, still no listing
        ts2 = pd.Series(pd.to_datetime([1_000_000_600_000], unit="ms"))
        list(
            p.handleInputRows(
                (1,), iter([pd.DataFrame({"ts": ts2, "cents": [7]})]), None
            )
        )
        assert p._handle.calls["listTimers"] == 0
        assert p._handle.calls["deleteTimer"] == 1
        assert p._handle.timers == {1_000_000_600_000 + _TWS_IDLE_GAP_MS}
        # replaying the SAME max-ts batch leaves the deadline alone:
        # zero timer RPCs
        list(
            p.handleInputRows(
                (1,), iter([pd.DataFrame({"ts": ts2, "cents": [1]})]), None
            )
        )
        assert p._handle.calls["deleteTimer"] == 1
        assert p._handle.calls["registerTimer"] == 2

    def test_idle_close_stale_timer_cannot_close_early(self):
        import pandas as pd

        from fluent_bit_filter_math_spark.streaming.stateful import (
            _IdleCloseProcessor,
            _TWS_IDLE_GAP_MS,
        )

        class _Info:
            def __init__(self, ms):
                self._ms = ms

            def getExpiryTimeInMs(self):
                return self._ms

        p = _IdleCloseProcessor()
        p._handle = type(
            "H", (), {"registerTimer": lambda s, m: None,
                      "deleteTimer": lambda s, m: None}
        )()
        p._tot = _CountingValue()
        ts = pd.Series(pd.to_datetime([1_000_000_000_000], unit="ms"))
        list(p.handleInputRows((1,), iter([pd.DataFrame({"ts": ts, "cents": [5]})]), None))
        armed = 1_000_000_000_000 + _TWS_IDLE_GAP_MS
        # a STALE timer (divergent registry entry) fires: ignored
        assert list(p.handleExpiredTimer((1,), None, _Info(armed - 1))) == []
        assert p._tot.v is not None  # state NOT closed
        # the armed timer fires: closes and emits
        out = list(p.handleExpiredTimer((1,), None, _Info(armed)))
        assert len(out) == 1 and p._tot.v is None


# ---------------------------------------------------------------------------
# Type widening (metadata-only ALTER COLUMN TYPE)
# ---------------------------------------------------------------------------
class TestWidenColumn:
    def _base(self, tmp_path, spark):
        t = str(tmp_path / "t")
        tf.tf_append(
            spark.range(6).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("v"),
            ),
            t,
        )
        return t

    def test_widen_reads_and_writes(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        tf.tf_widen_column(t, "v", "bigint")
        assert dict(tf.tf_read(spark, t).dtypes)["v"] == "bigint"
        # values over 2^31 land fine post-widen
        tf.tf_append(
            spark.range(6, 8).select(
                F.col("id").alias("k"),
                (F.col("id") + (1 << 40)).alias("v"),
            ),
            t,
        )
        got = {r["k"]: r["v"] for r in tf.tf_read(spark, t).collect()}
        assert got[7] == 7 + (1 << 40) and got[2] == 2
        # narrow input batches are cast UP at the write boundary
        tf.tf_append(
            spark.range(8, 9).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("v"),
            ),
            t,
        )
        assert dict(tf.tf_read(spark, t).dtypes)["v"] == "bigint"

    def test_widen_rejects_non_lattice(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        with pytest.raises(ValueError, match="lattice"):
            tf.tf_widen_column(t, "v", "string")
        with pytest.raises(ValueError, match="no column"):
            tf.tf_widen_column(t, "nope", "bigint")
        # narrowing is never a promotion
        tf.tf_widen_column(t, "v", "bigint")
        with pytest.raises(ValueError, match="lattice"):
            tf.tf_widen_column(t, "v", "int")

    def test_widen_noop_and_time_travel(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        pre = tf.latest_version(t)
        v1 = tf.tf_widen_column(t, "v", "bigint")
        assert v1 == pre + 1
        # widening to the same width is a version-preserving no-op
        assert tf.tf_widen_column(t, "v", "bigint") == v1
        assert dict(
            tf.tf_read(spark, t, version=pre).dtypes
        )["v"] == "int"

    def test_widen_composes_with_add_and_merge(self, tmp_path, spark):
        t = self._base(tmp_path, spark)
        tf.tf_add_column(t, "w", "int")
        tf.tf_widen_column(t, "w", "bigint")
        tf.tf_append(
            spark.range(6, 8).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("v"),
                (F.col("id") + (1 << 40)).alias("w"),
            ),
            t,
        )
        ch = spark.range(1).select(
            F.col("id").alias("k"),
            F.lit(9).cast("int").alias("v"),
            F.lit(2).cast("long").alias("w"),
            F.lit(False).alias("_delete"),
        )
        tf.tf_merge(spark, t, ch, "k")
        got = {r["k"]: (r["v"], r["w"]) for r in tf.tf_read(spark, t).collect()}
        assert got[0] == (9, 2) and got[7] == (7, 7 + (1 << 40))
        assert got[3] == (3, None)


class TestSchemaEvolutionTrajectoryModel:
    """Model-based pin of the DDL × DML surface: a seeded random
    sequence of append / add / drop / re-add / widen / rename /
    delete / update / compact runs against the real table AND a naive
    in-memory model; after every op the snapshot must equal the model
    (columns and values), and at the end two random historical
    versions must equal the model's remembered snapshots under their
    OWN schema. Interactions no single-feature test covers (drop →
    re-add → update-the-reborn-column → compact → time-travel) fall
    out of the randomization."""

    def _run(self, spark, tmp_path, seed):
        import random

        rng = random.Random(seed)
        t = str(tmp_path / f"evo{seed}")
        # model: column order list [(logical, type)], rows k -> {col: v}
        cols: list[tuple[str, str]] = [("v", "bigint")]
        rows: dict[int, dict] = {}
        history: dict[int, tuple[list, dict]] = {}
        next_key = 0
        name_pool = ["w", "x", "y"]

        def _mkdf(batch: dict[int, dict]):
            schema = "k bigint, " + ", ".join(
                f"{n} {ty}" for n, ty in cols
            )
            data = [
                tuple([k] + [batch[k].get(n) for n, _ in cols])
                for k in sorted(batch)
            ]
            return spark.createDataFrame(data, schema)

        def snap(version=None):
            df = tf.tf_read(spark, t, version=version)
            got_cols = [c for c in df.columns if c != "k"]
            got_rows = {
                r["k"]: {c: r[c] for c in got_cols}
                for r in df.collect()
            }
            return got_cols, got_rows

        def do_append():
            nonlocal next_key
            n = rng.randint(4, 12)
            lo = next_key
            next_key += n
            batch = {}
            for k in range(lo, lo + n):
                vals = {}
                for name, ty in cols:
                    if rng.random() < 0.15:
                        vals[name] = None
                    elif ty == "bigint" and rng.random() < 0.3:
                        vals[name] = k + (1 << 40)
                    else:
                        vals[name] = (k * 13 + len(name)) % 1_000_000
                batch[k] = vals
            tf.tf_append(_mkdf(batch).coalesce(1), t)
            rows.update(batch)

        def do_add():
            free = [n for n in name_pool if n not in dict(cols)]
            if not free:
                return do_append()
            name = rng.choice(free)
            ty = rng.choice(["int", "bigint"])
            tf.tf_add_column(t, name, ty)
            cols.append((name, ty))
            for vals in rows.values():
                vals.setdefault(name, None)

        def do_drop():
            droppable = [n for n, _ in cols]
            if len(droppable) < 1 or len(cols) < 2:
                return do_add()
            name = rng.choice(droppable)
            tf.tf_drop_column(t, name)
            cols[:] = [(n, ty) for n, ty in cols if n != name]
            for vals in rows.values():
                vals.pop(name, None)

        def do_widen():
            narrow = [n for n, ty in cols if ty == "int"]
            if not narrow:
                return do_add()
            name = rng.choice(narrow)
            tf.tf_widen_column(t, name, "bigint")
            cols[:] = [
                (n, "bigint" if n == name else ty) for n, ty in cols
            ]

        def do_rename():
            cands = [n for n, _ in cols]
            free = [
                n for n in ("r1", "r2", "r3")
                if n not in dict(cols)
            ]
            if not cands or not free:
                return do_append()
            old, new = rng.choice(cands), free[0]
            tf.tf_rename_column(t, old, new)
            cols[:] = [
                (new if n == old else n, ty) for n, ty in cols
            ]
            for vals in rows.values():
                if old in vals:
                    vals[new] = vals.pop(old)

        def do_delete():
            if not rows:
                return do_append()
            cut = rng.choice(sorted(rows))
            tf.tf_delete(spark, t, [("k", ">=", cut)])
            for k in [k for k in rows if k >= cut]:
                del rows[k]

        def do_update():
            if not rows or not cols:
                return do_append()
            name, ty = rng.choice(cols)
            cut = rng.choice(sorted(rows))
            val = rng.randint(0, 999)
            tf.tf_update(
                spark, t, [("k", "<=", cut)], {name: F.lit(val)}
            )
            for k in [k for k in rows if k <= cut]:
                rows[k][name] = val

        def do_compact():
            if not history:
                return do_append()
            tf.tf_compact(spark, t, n_files=rng.randint(1, 2))

        do_append()
        history[tf.latest_version(t)] = (
            [n for n, _ in cols], {k: dict(v) for k, v in rows.items()}
        )
        ops = [do_append, do_add, do_drop, do_widen, do_rename,
               do_delete, do_update, do_compact]
        for step in range(8):
            rng.choice(ops)()
            history[tf.latest_version(t)] = (
                [n for n, _ in cols],
                {k: dict(v) for k, v in rows.items()},
            )
            got_cols, got_rows = snap()
            assert sorted(got_cols) == sorted(n for n, _ in cols), (
                f"seed {seed} step {step} columns"
            )
            assert got_rows == rows, f"seed {seed} step {step} values"
        for v in rng.sample(sorted(history), 2):
            want_cols, want_rows = history[v]
            got_cols, got_rows = snap(version=v)
            assert sorted(got_cols) == sorted(want_cols), (
                f"seed {seed} time travel v{v} columns"
            )
            assert got_rows == want_rows, (
                f"seed {seed} time travel v{v} values"
            )

    @pytest.mark.parametrize("seed", [3, 17, 61])
    def test_trajectory(self, spark, tmp_path, seed):
        self._run(spark, tmp_path, seed)
