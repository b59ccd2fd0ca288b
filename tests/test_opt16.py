"""Round-16 optimization pins: the disjunctive point-lookup scan
(`tf_scan_any`), the snapshot-schema parse helper (`_snapshot_struct`),
and the Arrow-batch stream readers' row fidelity."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark.sources.table_format import (
    TableFormatStreamReader,
    _snapshot_struct,
    tf_append,
    tf_pruned_files,
    tf_read,
    tf_scan,
    tf_scan_any,
)
from tests.conftest import reader_rows


def _clustered_table(spark, tmp_path) -> str:
    """Four appends with disjoint key ranges so per-value stats
    pruning actually drops files."""
    t = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        tf_append(df.coalesce(1), t)
    return t


class TestTfScanAny:
    def test_rows_match_per_value_union(self, spark, tmp_path):
        t = _clustered_table(spark, tmp_path)
        values = [5, 150, 320]
        got = tf_scan_any(spark, t, "k", values)
        want = None
        for v in values:
            s = tf_scan(spark, t, [("k", "=", v)])
            want = s if want is None else want.unionByName(s)
        assert sorted(got.collect()) == sorted(want.collect())
        assert sorted(r["k"] for r in got.collect()) == values

    def test_keeps_union_of_surviving_files(self, spark, tmp_path):
        t = _clustered_table(spark, tmp_path)
        # each probed value prunes to 1 of 4 files; the disjunction
        # must keep exactly the union (2 files), not all 4
        kept_5, total = tf_pruned_files(t, [("k", "=", 5)])
        kept_150, _ = tf_pruned_files(t, [("k", "=", 150)])
        assert total == 4 and len(kept_5) == 1 and len(kept_150) == 1
        got = tf_scan_any(spark, t, "k", [5, 150])
        assert sorted(r["k"] for r in got.collect()) == [5, 150]

    def test_empty_values_yields_empty(self, spark, tmp_path):
        t = _clustered_table(spark, tmp_path)
        assert tf_scan_any(spark, t, "k", []).count() == 0

    def test_absent_value_yields_no_rows(self, spark, tmp_path):
        t = _clustered_table(spark, tmp_path)
        assert tf_scan_any(spark, t, "k", [99999]).count() == 0

    def test_version_pinning(self, spark, tmp_path):
        t = _clustered_table(spark, tmp_path)
        v_old = 1  # only the first two appends visible
        got = tf_scan_any(spark, t, "k", [5, 150, 320], version=v_old)
        assert sorted(r["k"] for r in got.collect()) == [5, 150]


class TestSnapshotStruct:
    def test_parses_simple_string_form(self, spark):
        st = _snapshot_struct("struct<k:bigint,v:bigint>")
        assert st is not None
        assert [f.name for f in st.fields] == ["k", "v"]

    def test_parses_ddl_form(self, spark):
        st = _snapshot_struct("k BIGINT, v STRING")
        assert st is not None and len(st.fields) == 2

    def test_nested_types(self, spark):
        st = _snapshot_struct(
            "struct<a:array<int>,b:struct<x:double,y:string>>"
        )
        assert st is not None and len(st.fields) == 2

    def test_garbage_returns_none(self, spark):
        assert _snapshot_struct("not a schema <<<") is None
        assert _snapshot_struct("") is None
        assert _snapshot_struct(None) is None

    def test_snapshot_read_matches_inference(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.range(10).select(
            F.col("id").alias("k"),
            F.col("id").cast("double").alias("d"),
            F.col("id").cast("string").alias("s"),
        )
        tf_append(df, t)
        got = tf_read(spark, t)
        # file sources read all-nullable (footer inference does too);
        # names and types must match exactly
        assert [(f.name, f.dataType) for f in got.schema.fields] == [
            (f.name, f.dataType) for f in df.schema.fields
        ]
        assert sorted(got.collect()) == sorted(df.collect())


class TestCatalogSchemaCache:
    def test_cached_read_schema_and_rows_identical(self, spark, sf_dir):
        """The per-path schema cache must hand later reads exactly the
        schema the first read inferred — names, types, nullability —
        and the same rows (metadata-only cache, never data)."""
        from fluent_bit_filter_math_spark import memo
        from fluent_bit_filter_math_spark.sources.catalog import (
            _NANOS_TS_TABLES,
            TABLES,
            table,
        )

        for name in TABLES:
            memo.release(spark, "schema", sf_dir)
            first = table(spark, sf_dir, name)  # infers + populates
            again = table(spark, sf_dir, name)  # cached schema
            assert first.schema == again.schema, name
            if name not in _NANOS_TS_TABLES:
                inferred = spark.read.parquet(
                    os.path.join(sf_dir, f"{name}.parquet")
                )
                assert again.schema == inferred.schema, name
            assert sorted(map(tuple, first.limit(3).collect())) == sorted(
                map(tuple, again.limit(3).collect())
            ), name

    def test_events_nanos_ts_still_converted(self, spark, sf_dir):
        """The nanos→µs timestamp conversion must survive the cached
        path (ts arrives as TimestampNTZ/Timestamp, not bigint)."""
        from fluent_bit_filter_math_spark.sources.catalog import table

        df = table(spark, sf_dir, "events")
        df2 = table(spark, sf_dir, "events")
        for frame in (df, df2):
            assert dict(frame.dtypes)["ts"] != "bigint"
        assert df.schema == df2.schema


class TestMmrDriverGreedy:
    def test_matches_spark_side_greedy(self, spark, sf_dir):
        """The driver-side greedy loop must pick exactly what the old
        per-round Spark argmax picked: re-run the old formulation over
        the same pool here and compare the full (rank, vec_id, dist_q,
        score) table."""
        from fluent_bit_filter_math_spark.operators.similarity import (
            MMR_K,
            MMR_POOL,
            sim_mmr_diversify,
        )
        from fluent_bit_filter_math_spark.sources import table

        got = sim_mmr_diversify(spark, sf_dir).collect()
        assert [r["rank"] for r in got] == list(range(1, MMR_K + 1))

        # old Spark-side greedy, reproduced verbatim on the same pool
        emb = table(spark, sf_dir, "embeddings")
        micro = lambda e: F.floor(  # noqa: E731
            e.cast("double") * 1000000 + F.lit(0.5)
        ).cast("long")
        q = emb.select(
            "vec_id", F.transform("embedding", micro).alias("xq")
        )
        cent = (
            emb.filter(F.col("label") == 0)
            .select(F.posexplode("embedding").alias("dim", "e"))
            .groupBy("dim")
            .agg(
                F.count("*").alias("n"),
                F.sum(micro(F.col("e"))).alias("s"),
            )
            .select(
                F.struct("dim", F.expr("s div n").alias("c")).alias("dc")
            )
            .agg(
                F.transform(
                    F.array_sort(F.collect_list("dc")), lambda x: x["c"]
                ).alias("carr")
            )
        )

        def _d2(a, b):
            return F.aggregate(
                F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        pool = (
            q.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "xq",
                _d2(F.col("xq"), F.col("carr")).alias("dq"),
            )
            .orderBy("dq", "vec_id")
            .limit(MMR_POOL)
            .localCheckpoint(eager=True)
        )
        first = pool.orderBy("dq", "vec_id").limit(1).collect()[0]
        selected = [(1, first.vec_id, first.xq, first.dq, None)]
        for r in range(2, MMR_K + 1):
            sel_df = spark.createDataFrame(
                [(vid, xq) for _, vid, xq, _, _ in selected],
                "svec_id long, sxq array<long>",
            )
            w = (
                pool.filter(
                    ~F.col("vec_id").isin(
                        [vid for _, vid, _, _, _ in selected]
                    )
                )
                .crossJoin(F.broadcast(sel_df))
                .groupBy("vec_id", "xq", "dq")
                .agg(
                    (
                        F.min(_d2(F.col("xq"), F.col("sxq")))
                        - F.col("dq")
                    )
                    .cast("long")
                    .alias("score")
                )
                .orderBy(F.desc("score"), F.asc("vec_id"))
                .limit(1)
                .collect()[0]
            )
            selected.append((r, w.vec_id, w.xq, w.dq, w.score))
        want = [
            (r, vid, dq, score) for r, vid, _, dq, score in selected
        ]
        assert [
            (r["rank"], r["vec_id"], r["dist_q"], r["mmr_score"])
            for r in got
        ] == want


class TestCogroupParallelism:
    def test_kernel_stage_not_coalesced_to_one(self, spark, sf_dir):
        """AQE sizes partitions by bytes, but the cogroup kernel's cost
        is per GROUP: the two-level partial + REPARTITION_BY_NUM shape
        must keep the FlatMapCoGroupsInPandas stage at the session
        shuffle-partition count (AQE folded the byte-tiny exchanges to
        ONE partition before, serializing every per-user kernel call)."""
        from fluent_bit_filter_math_spark.operators.python_udfs import (
            udaf_cogroup_reconcile,
        )

        df = udaf_cogroup_reconcile(spark, sf_dir)
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        parts = (
            df.select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        n_users = df.count()
        # every shuffle partition that owns ≥1 user must survive as
        # its own task — with users ≫ partitions that is all of them
        assert parts == min(n_shuffle, n_users)

    def test_partial_merge_is_exact(self, spark, sf_dir):
        """The two-level (pid, user) partial → merge must reproduce the
        direct per-user aggregate bit-for-bit."""
        from fluent_bit_filter_math_spark.functions import exact_cents
        from fluent_bit_filter_math_spark.operators.python_udfs import (
            udaf_cogroup_reconcile,
        )
        from fluent_bit_filter_math_spark.sources import table

        got = {
            r["user_id"]: (
                r["n_events"],
                r["n_orders"],
                r["event_cents"],
                r["order_cents"],
            )
            for r in udaf_cogroup_reconcile(spark, sf_dir).collect()
        }
        ev = (
            table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(exact_cents(F.col("value"))).alias("c"),
            )
        )
        od = (
            table(spark, sf_dir, "orders")
            .filter(F.col("o_custkey") < 150)
            .groupBy(F.col("o_custkey").alias("user_id"))
            .agg(
                F.count("*").alias("n"),
                F.sum(exact_cents(F.col("o_totalprice"))).alias("c"),
            )
        )
        want = {}
        for r in ev.collect():
            want[r["user_id"]] = [r["n"], 0, r["c"], 0]
        for r in od.collect():
            want.setdefault(r["user_id"], [0, 0, 0, 0])
            want[r["user_id"]][1] = r["n"]
            want[r["user_id"]][3] = r["c"]
        assert got == {k: tuple(v) for k, v in want.items()}


class TestArrowStreamReaderRows:
    def test_plain_reader_yields_batches_with_same_rows(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        df = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        tf_append(df, t)
        r = TableFormatStreamReader({"path": t})
        rows = []
        for p in r.partitions({"version": -1}, {"version": 0}):
            rows.extend(reader_rows(r, p))
        assert sorted(rows) == sorted(
            (row["k"], row["v"]) for row in df.collect()
        )


class TestOverlap:
    """`concurrency.overlap` — the §2.6 independent-action pool the
    lifecycle walks use for distinct-table appends/compacts/vacuums."""

    def test_results_in_call_order(self):
        from fluent_bit_filter_math_spark.concurrency import overlap

        assert overlap(lambda: 1, lambda: "b", lambda: [3]) == [
            1,
            "b",
            [3],
        ]
        assert overlap() == []
        assert overlap(lambda: 7) == [7]

    def test_first_failure_raised_after_all_settle(self):
        from fluent_bit_filter_math_spark.concurrency import overlap

        settled = []

        def ok(tag):
            def _t():
                settled.append(tag)
                return tag

            return _t

        def boom(msg):
            def _t():
                settled.append(msg)
                raise ValueError(msg)

            return _t

        with pytest.raises(ValueError, match="first"):
            overlap(ok("a"), boom("first"), boom("second"), ok("b"))
        # every sibling ran to completion before the raise
        assert sorted(settled) == ["a", "b", "first", "second"]

    def test_exiting_signal_outranks_an_earlier_failure(self):
        from fluent_bit_filter_math_spark.concurrency import overlap

        def fail():
            raise ValueError("earlier")

        def interrupt():
            raise KeyboardInterrupt("later")

        with pytest.raises(KeyboardInterrupt, match="later") as info:
            overlap(fail, lambda: 1, interrupt)
        assert info.value.__notes__ == [
            "overlap sibling also failed: ValueError: earlier"
        ]

    def test_notes_name_every_other_failure(self):
        from fluent_bit_filter_math_spark.concurrency import overlap

        def fail(exc):
            def _t():
                raise exc

            return _t

        with pytest.raises(ValueError, match="first") as info:
            overlap(
                fail(ValueError("first")),
                lambda: 1,
                fail(TypeError("second")),
                fail(RuntimeError("third")),
            )
        assert info.value.__notes__ == [
            "overlap sibling also failed: TypeError: second",
            "overlap sibling also failed: RuntimeError: third",
        ]

    def test_overlapped_appends_commit_once_per_table(
        self, spark, tmp_path
    ):
        from fluent_bit_filter_math_spark.concurrency import overlap
        from fluent_bit_filter_math_spark.sources.table_format import (
            latest_version,
            tf_append,
            tf_read,
        )

        paths = [str(tmp_path / k) for k in ("t0", "t1", "t2")]
        frames = [
            spark.range(i * 100, i * 100 + 50).select(
                F.col("id").alias("k")
            )
            for i in range(3)
        ]
        overlap(
            *[
                (lambda d=d, p=p: tf_append(d, p))
                for d, p in zip(frames, paths)
            ]
        )
        for i, p in enumerate(paths):
            assert latest_version(p) == 0
            got = sorted(r["k"] for r in tf_read(spark, p).collect())
            assert got == list(range(i * 100, i * 100 + 50))
