"""Round-2 regression tests: registry verification-first ordering, the
de-drivered embedding-cosine dedup, the exact hot-shingle df-cap, the
max_by argmax plan, ASOF NULL preservation, EXCEPT DISTINCT semantics,
spec constant edge cases, the Kafka plan-level connector surface, and
dropDuplicatesWithinWatermark.
"""

from __future__ import annotations

import inspect
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.test_plans import plan_of


# ---------------------------------------------------------------------------
# registry ordering — the driver verifies a prefix; keep it curated.
# ---------------------------------------------------------------------------
def test_registry_prefix_is_priority_list():
    from fluent_bit_filter_math_spark.registry import (
        _PRIORITY,
        all_oracles,
        all_queries,
    )

    names = list(all_queries())
    # _PRIORITY keeps prior rounds' rotation blocks for provenance, so
    # it may repeat names; the exposed prefix is the deduped sequence
    # (first occurrence wins — the current window's slot)
    prio = list(dict.fromkeys(_PRIORITY))
    assert names[: len(prio)] == prio
    assert len(set(names)) == len(names)
    # Every priority query is oracle-checked except the documented
    # rows-only ones (HLL estimates have no exact SQL twin).
    rows_only = {"agg_approx_distinct"}
    oracles = all_oracles()
    for n in _PRIORITY:
        if n not in rows_only:
            assert n in oracles, f"{n} lacks an oracle"


# ---------------------------------------------------------------------------
# dedup_embedding_cosine — no driver collect; distributed GEMM shape.
# ---------------------------------------------------------------------------
def test_embedding_cosine_plan_is_executor_side(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.dedup import (
        dedup_embedding_cosine,
    )

    src = inspect.getsource(dedup_embedding_cosine)
    assert "toPandas" not in src and ".collect(" not in src
    plan = plan_of(dedup_embedding_cosine(spark, sf_dir))
    # The GEMM runs as grouped-map Pandas on the executors…
    assert "FlatMapGroupsInPandas" in plan
    # …and nothing in the plan materializes the corpus on the driver.
    assert "CollectLimit" not in plan


def test_embedding_cosine_matches_bruteforce(spark, sf_dir):
    from fluent_bit_filter_math_spark.functions import cosine
    from fluent_bit_filter_math_spark.operators.dedup import (
        COSINE_THRESHOLD,
        dedup_embedding_cosine,
    )
    from fluent_bit_filter_math_spark.sources import table

    got = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    emb = table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= COSINE_THRESHOLD)
        .select("id_a", "id_b")
    )
    want = {(r.id_a, r.id_b) for r in brute.collect()}
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# hot-shingle df-cap — exact even when EVERY shingle is above DF_CAP.
# ---------------------------------------------------------------------------
def test_jaccard_dfcap_hot_shingles(spark, tmp_path):
    from fluent_bit_filter_math_spark.operators.dedup import (
        DF_CAP,
        JACCARD_THRESHOLD,
        dedup_ngram_jaccard,
        release_shingle_index,
    )

    # 25 identical docs (> DF_CAP copies, so every one of their shingles
    # is hot) + one near-dup pair of rare shingles + isolated noise docs.
    base = " ".join(f"w{i}" for i in range(40))
    docs = [(i, base) for i in range(25)]
    overlap = " ".join(f"o{i}" for i in range(30))
    docs.append((100, overlap + " " + " ".join(f"x{i}" for i in range(8))))
    docs.append((101, overlap + " " + " ".join(f"y{i}" for i in range(8))))
    docs.append((200, " ".join(f"z{i}" for i in range(40))))

    def shingleset(text):
        t = text.split(" ")
        return {
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        }

    want = set()
    for i, (da, ta) in enumerate(docs):
        for db, tb in docs[i + 1 :]:
            sa, sb = shingleset(ta), shingleset(tb)
            j = len(sa & sb) / len(sa | sb)
            if j >= JACCARD_THRESHOLD:
                want.add((min(da, db), max(da, db)))
    assert len(want) == 25 * 24 // 2 + 1  # the clones + the rare pair

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "srcT") for i, t in docs],
        "doc_id long, text string, source string",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    try:
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup_ngram_jaccard(spark, sf).collect()
        }
    finally:
        release_shingle_index(spark, sf)
    assert got == want
    # Sanity: the clone docs' shingles really are above the cap.
    assert 25 > DF_CAP


def test_release_shingle_index_unpersists(spark, sf_dir):
    from fluent_bit_filter_math_spark import memo
    from fluent_bit_filter_math_spark.operators.dedup import (
        _shingle_index,
        release_shingle_index,
    )

    arrays, exploded = _shingle_index(spark, sf_dir)
    app_id = spark.sparkContext.applicationId
    assert any(k[:2] == (app_id, "shingle_index") for k in memo._ENTRIES)
    assert arrays.is_cached and exploded.is_cached
    release_shingle_index(spark)
    assert not any(k[:2] == (app_id, "shingle_index") for k in memo._ENTRIES)
    assert not arrays.is_cached and not exploded.is_cached


# ---------------------------------------------------------------------------
# argmax — single aggregate, no forced broadcast, no join.
# ---------------------------------------------------------------------------
def test_argmax_is_single_aggregate(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.relational import (
        agg_argmax_order,
    )

    plan = plan_of(agg_argmax_order(spark, sf_dir))
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    assert "max_by" in plan and "partial_max" in plan


# ---------------------------------------------------------------------------
# asof join — a matched right row's NULL value must be carried, not an
# older non-NULL one.
# ---------------------------------------------------------------------------
def test_asof_preserves_matched_null(spark):
    from fluent_bit_filter_math_spark.operators.temporal import asof_join

    ts = T.TimestampType()
    left = spark.createDataFrame(
        [Row(k="u", t=time_at(10), lid=1)],
        T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("t", ts),
                T.StructField("lid", T.LongType()),
            ]
        ),
    )
    right = spark.createDataFrame(
        [Row(k="u", t=time_at(1), v=5.0), Row(k="u", t=time_at(9), v=None)],
        T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("t", ts),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t", right_vals=["v"]
    ).collect()
    assert len(out) == 1
    assert out[0].v is None  # latest right row at t=9 has v NULL


def time_at(minute: int):
    import datetime

    return datetime.datetime(2024, 1, 1, 0, minute)


# ---------------------------------------------------------------------------
# EXCEPT — SQL EXCEPT DISTINCT removes values present on the right even
# when the left has them more often.
# ---------------------------------------------------------------------------
def test_except_removes_left_heavy_values(spark):
    left = spark.createDataFrame([(1,), (1,), (2,)], "v long")
    right = spark.createDataFrame([(1,)], "v long")
    got = {r.v for r in left.subtract(right).collect()}
    assert got == {2}


# ---------------------------------------------------------------------------
# spec constants — configure()-analogue error contract.
# ---------------------------------------------------------------------------
def test_constant_inf_nan_raise_spec_error():
    from fluent_bit_filter_math_spark.spec import SpecError, parse_constant

    for raw in ("inf", "-infinity", "nan"):
        with pytest.raises(SpecError):
            parse_constant(raw)


def test_constant_signed_hex_parses_like_strtod():
    from fluent_bit_filter_math_spark.spec import parse_constant

    assert parse_constant("-0x10").value == -16
    assert parse_constant("0x1f").value == 31
    assert parse_constant("+0x2").value == 2


# ---------------------------------------------------------------------------
# Kafka plan-level surface — option assembly + wire-format round-trip.
# ---------------------------------------------------------------------------
def test_kafka_option_assembly():
    from fluent_bit_filter_math_spark.sources.io import (
        kafka_sink_options,
        kafka_source_options,
    )

    opts = kafka_source_options(
        "broker1:9092,broker2:9092",
        ["clicks", "errors"],
        starting_offsets="earliest",
        max_offsets_per_trigger=100_000,
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "clicks,errors",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
        "maxOffsetsPerTrigger": "100000",
    }
    assert kafka_sink_options("b:9092", "out")["topic"] == "out"

    with pytest.raises(ValueError):
        kafka_source_options("", "t")
    with pytest.raises(ValueError):
        kafka_source_options("b:9092", ["bad,topic"])
    with pytest.raises(ValueError):
        kafka_source_options("b:9092", "t", starting_offsets="bogus")
    with pytest.raises(ValueError):
        kafka_source_options("b:9092", "t", max_offsets_per_trigger=0)
    with pytest.raises(ValueError):
        kafka_source_options("b:9092", "t", extra={"subscribe": "x"})
    with pytest.raises(ValueError):
        kafka_sink_options("b:9092", "a,b")


def test_kafka_readers_assemble_without_broker(spark):
    from fluent_bit_filter_math_spark.sources.io import (
        kafka_sink_options,
        kafka_source_options,
        kafka_stream,
    )

    # Building the reader must not need the connector jar or a broker —
    # only .load() does (documented); assembling it is plan-level.
    reader = kafka_stream(
        spark, kafka_source_options("b:9092", "t", starting_offsets="latest")
    )
    assert reader is not None
    assert kafka_sink_options("b:9092", "t")


def test_kafka_value_roundtrip(spark):
    from fluent_bit_filter_math_spark.sources.io import (
        decode_kafka_value,
        encode_kafka_value,
    )

    df = spark.createDataFrame(
        [(1, "click", 2.5), (2, "error", None)],
        "event_id long, event_type string, value double",
    )
    wire = encode_kafka_value(df, key_col="event_id")
    assert [f.name for f in wire.schema.fields] == ["key", "value"]
    assert all(f.dataType.simpleString() == "binary" for f in wire.schema.fields)
    # Simulate the broker round-trip: add source metadata, decode back.
    kafka_shaped = wire.withColumn("topic", F.lit("t")).withColumn(
        "offset", F.monotonically_increasing_id()
    )
    back = decode_kafka_value(kafka_shaped, df.schema)
    rows = {tuple(r) for r in back.select(*df.columns).collect()}
    assert rows == {(1, "click", 2.5), (2, "error", None)}
    assert "topic" in back.columns and "offset" in back.columns


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark — batch equivalence + state expiry.
# ---------------------------------------------------------------------------
def test_dropdup_within_watermark_equals_batch_distinct(spark, sf_dir):
    from fluent_bit_filter_math_spark.pipeline import run_stream_to_memory
    from fluent_bit_filter_math_spark.sources import table
    from fluent_bit_filter_math_spark.streaming.dedup import (
        dedup_stream_within_watermark,
    )

    out = dedup_stream_within_watermark(
        spark, f"{sf_dir}/events.parquet", "3650 days"
    )
    got = {
        (r.user_id, r.event_type)
        for r in run_stream_to_memory(out, "t_wwm_batch_eq").collect()
    }
    want = {
        (r.user_id, r.event_type)
        for r in table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_dropdup_within_watermark_reemits_after_expiry(spark, tmp_path):
    """State expires one watermark delay after FIRST sighting; a duplicate
    arriving after expiry legitimately re-emits — the property that keeps
    state bounded on an unbounded stream."""
    import datetime

    d = str(tmp_path / "events")
    os.makedirs(d)
    t0 = datetime.datetime(2024, 1, 1, 0, 0)

    def write_file(name, rows, mtime):
        path = os.path.join(d, name)
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    write_file("f1", [(1, t0)], time.time() - 400)
    # A different key 5h later advances the watermark past key 1's expiry.
    write_file("f2", [(2, t0 + datetime.timedelta(hours=5))], time.time() - 300)
    # Still dropped: eviction runs at batch END, so key 1 is in state while
    # this batch processes even though the watermark already passed expiry.
    write_file("f3", [(1, t0 + datetime.timedelta(hours=6))], time.time() - 200)
    # Re-emitted: state for key 1 was evicted at the end of the f3 batch.
    write_file("f4", [(1, t0 + datetime.timedelta(hours=7))], time.time() - 100)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*"))
    )
    out = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id", "ts")
    )
    from fluent_bit_filter_math_spark.pipeline import run_stream_to_memory

    rows = run_stream_to_memory(out, "t_wwm_expiry").collect()
    got = sorted((r.user_id, r.ts.hour) for r in rows)
    assert got == [(1, 0), (1, 7), (2, 5)]


# ---------------------------------------------------------------------------
# custom Python DataSource (the reference's `mem` input analogue).
# ---------------------------------------------------------------------------
def test_mem_source_rows_and_partitions(spark):
    from fluent_bit_filter_math_spark.sources.mem_input import (
        MEM_TOTAL,
        mem_used,
        register_mem_source,
    )

    register_mem_source(spark)
    df = (
        spark.read.format("memmetrics")
        .option("numRows", 17)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = {r.row_id: r for r in df.collect()}
    assert len(rows) == 17
    for i in (0, 5, 16):
        assert rows[i].mem_used == mem_used(i)
        assert rows[i].mem_used + rows[i].mem_free == MEM_TOTAL

    empty = spark.read.format("memmetrics").option("numRows", 0).load()
    assert empty.count() == 0


def test_mem_source_fold_matches_total(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.mathfold import (
        mem_source_fold,
    )
    from fluent_bit_filter_math_spark.sources.mem_input import MEM_TOTAL

    out = mem_source_fold(spark, sf_dir).collect()
    assert len(out) == 2014
    assert all(r.mem_sum == MEM_TOTAL for r in out)


# ---------------------------------------------------------------------------
# stream-static join — batch ≡ stream, broadcast dim, no state.
# ---------------------------------------------------------------------------
def test_stream_static_join_equals_batch(spark, sf_dir):
    from fluent_bit_filter_math_spark.sources import table
    from fluent_bit_filter_math_spark.streaming.joins import (
        stream_static_join_enrich,
    )

    got = {
        tuple(r)
        for r in stream_static_join_enrich(spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer")
    want = {
        tuple(r)
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .select("event_id", "user_id", "c_mktsegment", "value")
        .collect()
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# malformed-record pass-through — unit-level pin of the invariant.
# ---------------------------------------------------------------------------
def test_malformed_records_identity_mapped(spark):
    from fluent_bit_filter_math_spark.pipeline import apply_specs_passthrough
    from fluent_bit_filter_math_spark.spec import MathSpec

    df = spark.createDataFrame(
        [
            (1, 10.0, '{"k": 4}'),
            (2, 10.0, "{broken"),
            (3, 10.0, "[1,2]"),
            (4, 10.0, None),
        ],
        "event_id long, value double, props string",
    )
    out = apply_specs_passthrough(
        df, [MathSpec.build("sum", ["value", "k"], "math_out")]
    )
    got = {r.event_id: r.math_out for r in out.collect()}
    # well-formed: computed (missing key coerces to 0 for NULL props);
    # corrupt JSON and non-object JSON: passed through, output absent.
    assert got == {1: 14.0, 2: None, 3: None, 4: 10.0}


# ---------------------------------------------------------------------------
# connected components — algorithm-level pin on shapes the fixture's
# near-dup cliques never exercise (long paths force multiple
# large/small-star rounds; singletons must stay absent from the output).
# ---------------------------------------------------------------------------
def test_connected_components_path_and_cliques(spark):
    from fluent_bit_filter_math_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # one 6-node path (10-...-15), one triangle (20,21,22), one pair
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
         (20, 21), (21, 22), (20, 22),
         (30, 31)],
        "u long, v long",
    )
    stars = {(r.u, r.v) for r in connected_components(edges).collect()}
    want = (
        {(n, 10) for n in (11, 12, 13, 14, 15)}
        | {(n, 20) for n in (21, 22)}
        | {(31, 30)}
    )
    assert stars == want


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from fluent_bit_filter_math_spark.sources import table
    from fluent_bit_filter_math_spark.streaming.joins import (
        stream_stream_join_attrib,
    )

    got = {
        tuple(r) for r in stream_stream_join_attrib(spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    c = ev.filter(ev.event_type == "click").alias("c")
    p = ev.filter(ev.event_type == "purchase").alias("p")
    from pyspark.sql import functions as F

    want = {
        tuple(r)
        for r in c.join(
            p,
            F.expr(
                "c.user_id = p.user_id AND p.ts >= c.ts"
                " AND p.ts <= c.ts + interval 1 hour"
            ),
        )
        .select(
            F.col("c.event_id"),
            F.col("p.event_id"),
            F.col("c.user_id"),
            F.date_format("c.ts", "yyyy-MM-dd HH:mm:ss"),
            F.date_format("p.ts", "yyyy-MM-dd HH:mm:ss"),
            F.col("p.value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# deterministic sampling — shape + determinism pins.
# ---------------------------------------------------------------------------
def test_sample_stratified_no_shuffle_and_deterministic(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.sampling import (
        SAMPLE_RATES,
        sample_stratified,
    )

    df = sample_stratified(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow filter+project, no shuffle
    a = sorted(r.event_id for r in df.collect())
    b = sorted(r.event_id for r in sample_stratified(spark, sf_dir).collect())
    assert a == b and len(a) > 0
    # every class is down/kept at a plausible rate (hash-mod is uniform)
    from fluent_bit_filter_math_spark.sources import table
    import pyspark.sql.functions as F

    tot = {
        r.event_type: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r.event_type: r.n
        for r in df.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for k, permille in SAMPLE_RATES.items():
        if permille == 1000:
            assert got.get(k, 0) == tot[k]
        else:
            assert got.get(k, 0) < tot[k]


# ---------------------------------------------------------------------------
# checkpoint recovery — stateful exactly-once across a stop/restart.
# Run 1 processes file 1 and commits dedup state to the checkpoint; the
# restarted query (same checkpoint, new file) must emit ONLY the truly
# new id: re-emitting 2/3 would mean state was lost, re-emitting 1/2/3
# would mean the file offset log was lost. This is the recovery
# contract a 100 TB/day deployment leans on after every executor loss.
# ---------------------------------------------------------------------------
def test_stream_dedup_checkpoint_recovery(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        # The file sink is the fault-tolerant one (the memory sink
        # refuses checkpoint recovery by design — it cannot replay).
        s = spark.readStream.schema("id long").parquet(str(src))
        q = (
            s.dropDuplicates(["id"])
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.id for r in spark.read.parquet(out).collect())

    pq.write_table(pa.table({"id": [1, 2, 3]}), src / "f1.parquet")
    assert run() == [1, 2, 3]
    pq.write_table(pa.table({"id": [2, 3, 4]}), src / "f2.parquet")
    # Exactly-once across the restart: ids 2/3 were already in state
    # (not re-emitted), id 1's file already in the offset log (not
    # re-read) — the sink gains exactly the one genuinely new row.
    assert run() == [1, 2, 3, 4]


# ---------------------------------------------------------------------------
# connected components — property pin against a reference union-find on
# random graphs (shapes the fixture can't produce: bridges, stars,
# multiple mid-size components, duplicate/reversed edges).
# ---------------------------------------------------------------------------
def test_connected_components_matches_union_find(spark):
    import random

    from fluent_bit_filter_math_spark.operators.dedup import (
        connected_components,
    )

    def union_find_roots(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # Min-label per component.
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        return {
            n: min(members)
            for members in comp.values()
            for n in members
        }

    rng = random.Random(7)
    for trial in range(3):
        nodes = list(range(trial * 100, trial * 100 + 40))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(30)
        ] + [(nodes[0], nodes[1]), (nodes[1], nodes[0])]  # dup + reversed
        want = union_find_roots(edges, nodes)
        df = spark.createDataFrame(edges, "u long, v long")
        stars = {r.u: r.v for r in connected_components(df).collect()}
        got = {n: stars.get(n, n) for n in nodes}
        assert got == want, f"trial {trial}"


# ---------------------------------------------------------------------------
# sequence packing — the two-level prefix sum must be invariant to the
# bucket width (one bucket ≡ many buckets ≡ the oracle's global window),
# and offsets must telescope: each doc starts where the previous ended.
# ---------------------------------------------------------------------------
def test_pack_sequences_bucket_invariance(spark, monkeypatch):
    from fluent_bit_filter_math_spark.operators import curation

    sf = "/root/testdata/sf0.001"

    def run():
        return {
            r.doc_id: (r.n_tok, r.start_pos, r.seq_first, r.n_seqs)
            for r in curation.pipeline_pack_sequences(spark, sf).collect()
        }

    base = run()
    for width in (7, 100_000):  # many tiny buckets / one giant bucket
        monkeypatch.setattr(curation, "PACK_BUCKET_W", width)
        assert run() == base, f"width {width}"

    # Telescoping: the stream has no gaps or overlaps.
    ordered = [base[k] for k in sorted(base)]
    pos = 0
    for n_tok, start, seq_first, n_seqs in ordered:
        assert start == pos
        assert seq_first == start // curation.SEQ_LEN
        assert n_seqs == (start + n_tok - 1) // curation.SEQ_LEN - seq_first + 1
        pos = start + n_tok


# ---------------------------------------------------------------------------
# incremental dedup — output is exactly the new batch, tagged (never a
# filtered subset), and the keep flag is consistent with its inputs.
# ---------------------------------------------------------------------------
def test_dedup_incremental_scope_and_flags(spark):
    from fluent_bit_filter_math_spark.operators.dedup import (
        NEW_BATCH_SOURCE,
        dedup_incremental,
    )
    from fluent_bit_filter_math_spark.sources import table

    sf = "/root/testdata/sf0.001"
    out = {r.doc_id: r for r in dedup_incremental(spark, sf).collect()}
    batch_ids = {
        r.doc_id
        for r in table(spark, sf, "documents")
        .filter(F.col("source") == NEW_BATCH_SOURCE)
        .select("doc_id")
        .collect()
    }
    assert set(out) == batch_ids
    assert any(r.n_near_dups > 0 for r in out.values())  # fixture has hits
    for r in out.values():
        assert r.keep == int(r.is_exact_dup == 0 and r.n_near_dups == 0)


def test_pack_sequences_plan_two_level_prefix_sum(spark):
    import re

    from fluent_bit_filter_math_spark.operators.curation import (
        pipeline_pack_sequences,
    )

    plan = plan_of(pipeline_pack_sequences(spark, "/root/testdata/sf0.001"))
    # Per-document running sum is PARTITIONED by bucket (parallel)…
    assert re.search(
        r"windowspecdefinition\(bkt#\d+L, doc_id#\d+L ASC", plan
    ), plan
    # …and the only single-partition stage is the n_buckets-row offsets
    # frame (downstream of the per-bucket aggregate), broadcast back.
    assert plan.count("SinglePartition") == 1
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # bucket totals combine map-side


# ---------------------------------------------------------------------------
# embedding quantization / split assignment — invariants + narrow plans.
# ---------------------------------------------------------------------------
def test_emb_quantize_error_bound_and_narrow_plan(spark):
    from fluent_bit_filter_math_spark.operators.similarity import (
        emb_quantize_int8,
    )

    df = emb_quantize_int8(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "Exchange" not in plan  # one narrow stage, no shuffle
    rows = df.collect()
    assert rows
    for r in rows:
        # Symmetric quantization's worst case is half a step: scale/254,
        # plus float32→double representation slack.
        assert r.max_abs_err <= r.scale / 254 + 1e-7, r
        assert abs(r.q_posweight) <= 127 * 64 * 65, r


def test_split_assign_is_stable_and_narrow(spark):
    from fluent_bit_filter_math_spark.operators.sampling import (
        sample_split_assign,
    )

    sf = "/root/testdata/sf0.001"
    df = sample_split_assign(spark, sf)
    assert "Exchange" not in plan_of(df)
    a = {r.doc_id: r.split for r in df.collect()}
    # Repartitioning the input cannot move a document across splits.
    b = {
        r.doc_id: r.split
        for r in sample_split_assign(spark, sf).repartition(7).collect()
    }
    assert a == b
    assert {"train", "val", "test"} == set(a.values())


def test_decontam_hits_share_real_ngram(spark):
    from fluent_bit_filter_math_spark.operators.curation import (
        DECONTAM_BENCH_MOD,
        DECONTAM_N,
        decontam_ngram_overlap,
    )
    from fluent_bit_filter_math_spark.sources import table

    sf = "/root/testdata/sf0.01"
    flagged = decontam_ngram_overlap(spark, sf).collect()
    assert flagged  # the fixture's injected near-dups leak into the slice
    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, sf, "documents").collect()
    }

    def grams(toks):
        return {
            " ".join(toks[i : i + DECONTAM_N])
            for i in range(len(toks) - DECONTAM_N + 1)
        }

    bench = set()
    for did, toks in docs.items():
        if did % DECONTAM_BENCH_MOD == 0:
            bench |= grams(toks)
    for r in flagged:
        # Only training docs are flagged, and each genuinely overlaps.
        assert r.doc_id % DECONTAM_BENCH_MOD != 0
        hit = grams(docs[r.doc_id]) & bench
        assert len(hit) == r.n_hit_grams
        assert 0 < r.contam_ratio <= 1.0


def test_domain_mixture_hits_target_and_is_stable(spark):
    from collections import Counter

    from fluent_bit_filter_math_spark.operators.sampling import (
        sample_domain_mixture,
    )

    sf = "/root/testdata/sf0.01"
    rows = sample_domain_mixture(spark, sf).collect()
    rates = {r.source: r.mix_rate for r in rows}
    assert all(0.0 < v <= 1.0 for v in rates.values())
    # High-weight domains (src0-9) keep everything; low-weight keep ~half.
    assert all(
        rates[s] == 1.0 for s in rates if int(s[3:]) < 10
    )
    assert all(
        abs(rates[s] - 0.5) < 1e-9 for s in rates if int(s[3:]) >= 10
    )
    kept = Counter(r.source for r in rows)
    hi = sum(v for s, v in kept.items() if int(s[3:]) < 10)
    lo = sum(v for s, v in kept.items() if int(s[3:]) >= 10)
    # Achieved mixture ≈ 2:1 (hash draw is binomial around the rate).
    assert 1.5 < hi / lo < 2.7, (hi, lo)
    # Deterministic: a rerun yields the identical kept set.
    again = {r.doc_id for r in sample_domain_mixture(spark, sf).collect()}
    assert again == {r.doc_id for r in rows}


def test_kmeans_assignment_is_nearest_final_centroid(spark):
    from fluent_bit_filter_math_spark.operators.similarity import (
        KM_K,
        emb_kmeans,
    )
    from fluent_bit_filter_math_spark.sources import table

    sf = "/root/testdata/sf0.001"
    assigned = {r.vec_id: r.cluster for r in emb_kmeans(spark, sf).collect()}
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in table(spark, sf, "embeddings").collect()
    }
    assert set(assigned) == set(vecs)
    assert set(assigned.values()) <= set(range(KM_K))
    # Recompute round-1 centroids in pure Python (same fixed-point rule)
    # and confirm every vector sits with its nearest one.
    seeds = {j: vecs[j] for j in range(KM_K) if j in vecs}

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    a1 = {
        v: min(seeds, key=lambda j: (sqd(vec, seeds[j]), j))
        for v, vec in vecs.items()
    }
    import math

    cents = {}
    for j in set(a1.values()):
        members = [vecs[v] for v in a1 if a1[v] == j]
        cents[j] = [
            sum(math.floor(x[d] * 1_000_000) for x in members)
            / len(members)
            / 1_000_000
            for d in range(len(members[0]))
        ]
    for v, vec in vecs.items():
        best = min(cents, key=lambda j: (sqd(vec, cents[j]), j))
        assert best == assigned[v], (v, best, assigned[v])


def test_dq_audit_metrics_consistent(spark):
    from fluent_bit_filter_math_spark.operators.quality import dq_table_audit

    m = {
        r.metric: r.value
        for r in dq_table_audit(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(m) == 11
    assert m["dup_orderkeys"] == m["row_count"] - m["distinct_orderkey"]
    assert m["min_totalprice"] <= m["avg_totalprice"] <= m["max_totalprice"]
    assert m["null_custkey"] == 0.0 and m["fk_violations"] == 0.0
    assert m["avg_totalprice"] == m["sum_totalprice"] / m["row_count"]


def test_scd2_intervals_chain_per_user(spark):
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        scd2_user_state,
    )

    rows = scd2_user_state(spark, "/root/testdata/sf0.001").collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        opens = [r for r in ivs if r.is_current == 1]
        assert len(opens) == 1 and ivs[-1].is_current == 1, user
        for a, b in zip(ivs, ivs[1:]):
            # Intervals chain gaplessly and runs are maximal (no two
            # consecutive intervals share a state).
            assert a.valid_to == b.valid_from, user
            assert a.event_type != b.event_type, user
        assert all(
            r.valid_to is None or r.valid_from <= r.valid_to for r in ivs
        ), user


def test_pagerank_matches_pure_python_fixpoint(spark):
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.graph import (
        PR_ITERS,
        PR_SCALE,
        graph_pagerank,
        release_edge_index,
    )
    from fluent_bit_filter_math_spark.sources import table

    sf = "/root/testdata/sf0.001"
    try:
        got = {r.node: r.rank_fp for r in graph_pagerank(spark, sf).collect()}
    finally:
        release_edge_index(spark, sf)
    pairs = {
        (r.l_partkey, r.l_suppkey)
        for r in table(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
    }
    edges = defaultdict(set)
    for p, s in pairs:
        edges[2 * p].add(2 * s + 1)
        edges[2 * s + 1].add(2 * p)
    deg = {u: len(vs) for u, vs in edges.items()}
    rank = {u: PR_SCALE for u in deg}
    for _ in range(PR_ITERS):
        contrib = defaultdict(int)
        for u, vs in edges.items():
            c = rank[u] // deg[u]
            for v in vs:
                contrib[v] += c
        rank = {
            u: (15 * PR_SCALE) // 100 + (85 * contrib[u]) // 100
            for u in deg
        }
    assert got == rank
    # Suppliers aggregate many parts' mass: centrality must exceed the
    # uniform start for at least one supplier node.
    assert any(v > PR_SCALE for n, v in got.items() if n % 2 == 1)


def test_release_edge_index_unpersists(spark):
    from fluent_bit_filter_math_spark import memo
    from fluent_bit_filter_math_spark.operators.graph import (
        _edge_index,
        release_edge_index,
    )

    sf = "/root/testdata/sf0.001"
    edges, deg = _edge_index(spark, sf)
    app_id = spark.sparkContext.applicationId
    assert any(k[:2] == (app_id, "edge_index") for k in memo._ENTRIES)
    assert edges.is_cached and deg.is_cached
    release_edge_index(spark)
    assert not any(k[:2] == (app_id, "edge_index") for k in memo._ENTRIES)
    assert not edges.is_cached and not deg.is_cached


def test_parameterized_sql(spark):
    """spark.sql() named-parameter binding — the injection-safe query
    API (Spark 3.4+): parameter markers bind typed literals, never
    string-spliced SQL."""
    from fluent_bit_filter_math_spark.sources import table

    table(spark, "/root/testdata/sf0.001", "events").createOrReplaceTempView(
        "param_events"
    )
    got = spark.sql(
        """
        SELECT count(*) AS n FROM param_events
        WHERE event_type = :etype AND value > :floor
        """,
        args={"etype": "click", "floor": 100.0},
    ).first()["n"]
    expected = spark.sql(
        "SELECT count(*) AS n FROM param_events"
        " WHERE event_type = 'click' AND value > 100.0"
    ).first()["n"]
    assert got == expected > 0
