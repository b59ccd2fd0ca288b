"""Storage-layout queries — partition pruning and bucketed co-location.

The reference has no storage layer (bytes in, bytes out —
/root/reference/filter_math/math.c:290-296,356-357); these queries are
the extension surface where the 100 TB story is decided BEFORE any
operator runs:

* **Partition pruning** — a corpus laid out as
  ``.../event_type=X/part-*.parquet`` turns a predicate on the
  partition column into directory selection: a query touching one of k
  types reads ~1/k of the bytes, and the scan node proves it
  (PartitionFilters in the physical plan, pinned in
  tests/test_plans.py). At 100 TB this is the difference between a
  full-corpus scan and reading one shard.
* **Bucketed co-located join** — both fact tables pre-clustered into
  the same bucket count on the join key (sources/warehouse.py): the
  join runs with ZERO Exchange on either side. The shuffle is paid once
  at write time and amortized over every subsequent keyed join/agg,
  instead of re-shuffling the corpus per query.

Both layouts are written once per (session, sf_dir) and reused by later
builds in the same session — the same amortization a production
warehouse gets from its ingest job. Oracles run on the ORIGINAL
unpartitioned fixture: the round-trip through the layout must be
value-invisible.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo
from fluent_bit_filter_math_spark.registry import register
from fluent_bit_filter_math_spark.scratch import dir_key
from fluent_bit_filter_math_spark.sources import table
from fluent_bit_filter_math_spark.sources.warehouse import (
    bucketed_table,
    write_bucketed,
)

_N_BUCKETS = 16


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Events re-laid-out as parquet partitioned by event_type, written
    once per (session, fixture)."""

    def build() -> str:
        out = memo.private_dir("part-events")
        (
            table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
        return out

    return memo.get(spark, "partitioned_events", sf_dir, build)


# ---------------------------------------------------------------------------
# partition-pruned scan — filter on the partition column reaches the
# directory listing, not the row scan. The oracle reads the ORIGINAL
# events fixture: layout must not change values. Output column order
# mirrors the original schema (partitionBy moves event_type last in the
# round-tripped files; the select puts it back).
# ---------------------------------------------------------------------------
@register(
    "io_partitioned_prune",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type = 'error'
    """,
)
def io_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = partitioned_events_path(spark, sf_dir)
    df = spark.read.parquet(path).filter(F.col("event_type") == "error")
    return df.select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# bucketed co-located join — orders ⋈ lineitem on the order key, both
# sides pre-bucketed into _N_BUCKETS on that key, then a per-priority
# revenue rollup. The join itself is Exchange-free (bucket i of one
# table only ever meets bucket i of the other — pinned in
# tests/test_scale.py); the only shuffle in the plan is the final small
# per-priority aggregate. DECIMAL(38,6) accumulation keeps the float
# sum engine-exact (the q1 idiom).
# ---------------------------------------------------------------------------
def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    def build() -> tuple[DataFrame, DataFrame]:
        # Names carry the fixture's dir key, so one sf_dir's write never
        # replaces the tables another sf_dir's entry reads.
        suffix = re.sub(r"\W", "_", dir_key(sf_dir))
        orders, lineitem = (
            f"fbm_orders_bucketed_{suffix}",
            f"fbm_lineitem_bucketed_{suffix}",
        )
        write_bucketed(
            table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            orders,
            ["o_orderkey"],
            _N_BUCKETS,
            sort_cols=["o_orderkey"],
        )
        write_bucketed(
            table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            lineitem,
            ["l_orderkey"],
            _N_BUCKETS,
            sort_cols=["l_orderkey"],
        )
        return bucketed_table(spark, orders), bucketed_table(spark, lineitem)

    return memo.get(spark, "bucketed_pair", sf_dir, build)


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    ob, lb = _bucketed_pair(spark, sf_dir)
    joined = ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
            " AS DECIMAL(38,6))) AS DOUBLE)"
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# MERGE / upsert (lakehouse SCD1) — apply a change batch to a keyed base
# table: update matched keys, insert new ones, delete flagged ones. The
# change batch is synthesized deterministically from the fixture (every
# orderkey % 7 == 0 gets a +10.0 price amendment, % 11 == 0 a delete
# flag, and a disjoint key range arrives as inserts), so the oracle can
# rebuild the identical merge in pure SQL.
#
# Execution shape is the scalable one: ONE full-outer join on the key —
# the same single shuffle Delta/Iceberg MERGE INTO compiles to when the
# change batch is too big to broadcast. At 100 TB the base side would be
# bucketed/partition-pruned by the key range of the batch (see
# join_bucketed_colocated for the amortization); with a small batch AQE
# broadcasts the change side and the base never shuffles at all.
# ---------------------------------------------------------------------------
@register(
    "merge_upsert_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    ),
    changes AS (
      SELECT o_orderkey, o_totalprice + 10.0 AS new_price,
             CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS is_delete
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice, 0
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    merged AS (
      SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN c.o_orderkey IS NOT NULL THEN c.new_price
                  ELSE b.o_totalprice END AS o_totalprice,
             CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderpriority
                  ELSE 'NEW' END AS o_orderpriority,
             COALESCE(c.is_delete, 0) AS is_delete
      FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
    )
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM merged WHERE is_delete = 0
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    amendments = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("new_price"),
        F.when(F.col("o_orderkey") % 11 == 0, 1).otherwise(0).alias("is_delete"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.col("o_totalprice").alias("new_price"),
        F.lit(0).alias("is_delete"),
    )
    changes = amendments.unionByName(inserts)
    b, c = base.alias("b"), changes.alias("c")
    return (
        b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
        .select(
            F.coalesce(F.col("b.o_orderkey"), F.col("c.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("c.o_orderkey").isNotNull(), F.col("c.new_price"))
            .otherwise(F.col("b.o_totalprice"))
            .alias("o_totalprice"),
            F.when(
                F.col("b.o_orderkey").isNotNull(), F.col("b.o_orderpriority")
            )
            .otherwise(F.lit("NEW"))
            .alias("o_orderpriority"),
            F.coalesce(F.col("c.is_delete"), F.lit(0)).alias("is_delete"),
        )
        .filter(F.col("is_delete") == 0)
        .drop("is_delete")
    )


# ---------------------------------------------------------------------------
# XML round-trip — Spark 4's built-in XML source (the config-file /
# legacy-feed interchange format the reference's Fluent Bit world
# speaks; SURVEY §2.3 scans/sources row). A slice of events is written
# as <row> elements and read back through the XML reader into the same
# typed projection the oracle computes from the parquet original —
# schema inference, type coercion, and element round-tripping are all
# under the gate. The written slice is small by design: XML is a
# row-tag-splittable but verbose interchange format, the 100 TB corpus
# itself stays parquet (see the pruning/bucketing queries above).
# ---------------------------------------------------------------------------
def _xml_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        out = memo.private_dir("xml-events")
        (
            table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 20 == 0)
            .select(
                "event_id",
                "user_id",
                "event_type",
                # 2-dp doubles survive XML text round-trip exactly via
                # cents (shortest-repr printing of arbitrary doubles is
                # engine-asymmetric; integers are not).
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .coalesce(1)
            .write.format("xml")
            .option("rootTag", "events")
            .option("rowTag", "event")
            .mode("overwrite")
            .save(out)
        )
        return out

    return memo.get(spark, "xml_events", sf_dir, build)


@register(
    "io_xml_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
    FROM events
    WHERE event_id % 20 = 0
    """,
)
def io_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _xml_events_path(spark, sf_dir)
    df = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .load(path)
    )
    return df.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.col("event_type").cast("string"),
        F.col("cents").cast("long"),
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff — derive the change set BETWEEN two table versions
# (the inverse of merge_upsert_orders, which APPLIES one): full-outer
# join two keyed snapshots, classify each key as insert / delete /
# update / unchanged, emit only the changes. Snapshots are simulated as
# date-sliced views of orders; the totalprice comparison is exact cents.
# One co-partitioned shuffle; at 100 TB both snapshots would be
# bucketed on the key (join_bucketed_colocated's layout) making the
# diff Exchange-free.
# ---------------------------------------------------------------------------
@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    ),
    v2 AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 13 = 0 THEN 500 ELSE 0 END AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           v1.cents AS old_cents,
           v2.cents AS new_cents
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.cents <> v2.cents
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.functions import exact_cents

    orders = table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderdate") < "1999-01-01").select(
        "o_orderkey", exact_cents(F.col("o_totalprice")).alias("cents")
    )
    v2 = orders.filter(F.col("o_orderdate") < "2000-01-01").select(
        "o_orderkey",
        (
            exact_cents(F.col("o_totalprice"))
            + F.when(F.col("o_orderkey") % 13 == 0, 500).otherwise(0)
        ).alias("cents"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    return (
        j.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("a.o_orderkey").isNull(), "insert")
            .when(F.col("b.o_orderkey").isNull(), "delete")
            .otherwise("update")
            .alias("change"),
            F.col("a.cents").alias("old_cents"),
            F.col("b.cents").alias("new_cents"),
        )
        .filter(
            F.col("old_cents").isNull()
            | F.col("new_cents").isNull()
            | (F.col("old_cents") != F.col("new_cents"))
        )
    )


# ---------------------------------------------------------------------------
# schema evolution read — a table whose files were written under two
# schema versions (v2 adds a column), read as ONE table with
# mergeSchema: rows from old files surface NULL for the new column.
# This is the lakehouse reality at 100 TB — a petabyte table is never
# rewritten when a field is added; readers reconcile footers instead.
# mergeSchema costs one footer-read per file at planning (not a data
# scan); steady-state deployments pin the merged schema in the
# catalog/metastore so even that planning cost is paid once, not per
# query. Column pruning and filter pushdown still reach both file
# generations.
# ---------------------------------------------------------------------------
def _evolving_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        out = memo.private_dir("evolve")
        ev = table(spark, sf_dir, "events")
        cents = (
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents")
        )
        # v1 files: (event_id, user_id, cents) — the schema before the
        # event_type field existed.
        (
            ev.filter(F.col("event_id") % 2 == 0)
            .select("event_id", "user_id", cents)
            .coalesce(1)
            .write.parquet(out, mode="append")
        )
        # v2 files: the same table after the column was added.
        (
            ev.filter(F.col("event_id") % 2 == 1)
            .select("event_id", "user_id", cents, F.col("event_type"))
            .coalesce(1)
            .write.parquet(out, mode="append")
        )
        return out

    return memo.get(spark, "evolving_events", sf_dir, build)


@register(
    "io_schema_evolution",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type
    FROM events
    """,
)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _evolving_events_path(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("event_id", "user_id", "cents", "event_type")
    )


# ---------------------------------------------------------------------------
# Z-order clustering — multi-dimensional data skipping. A sort on ONE
# column gives perfect file skipping on that column and none on any
# other; interleaving the bit representations of TWO columns
# (Morton/Z-curve — the Delta Lake / Iceberg OPTIMIZE ZORDER layout)
# makes every written file cover a narrow range of BOTH, so parquet
# min/max footer stats prune files for predicates on either dimension
# or both. The z-value is pure native bit arithmetic (shifts + masks,
# whole-stage codegen), the layout write is one repartitionByRange on
# it, and the z-column itself is dropped before writing — it exists
# only to order the write.
#
# The oracle runs the same two-dimensional predicate on the ORIGINAL
# fixture: layout must be value-invisible. File-level skip quality
# (each file covering ≪ the full (user, hour) rectangle) is pinned in
# tests/test_plans.py against the parquet footers.
# ---------------------------------------------------------------------------
_Z_BITS = 10  # per-dimension bits after normalization (1024 cells)


def _zvalue(a: F.Column, b: F.Column) -> F.Column:
    """Interleave the low _Z_BITS bits of a and b (a even, b odd)."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(a.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i,
            )
        ).bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(b.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i + 1,
            )
        )
    return z


def _znorm(col: F.Column, lo: F.Column, hi: F.Column) -> F.Column:
    """Min/max-normalize a dimension onto the full _Z_BITS bit range.

    Raw-bit interleaving degenerates when the dimensions' magnitudes
    differ (a 4-bit user id against a 19-bit epoch-hour sorts by hour
    alone — every file then spans ALL users); normalizing each column
    to [0, 2^_Z_BITS) first makes the curve alternate fairly between
    dimensions whatever their native ranges. Production z-order
    (Delta's OPTIMIZE ZORDER) rank-normalizes for the same reason.
    """
    span = F.greatest(hi - lo, F.lit(1)).cast("double")
    return F.floor(
        (col - lo).cast("double") * F.lit(float(2**_Z_BITS - 1)) / span
    ).cast("long")


_Z_FILES = 16


def zordered_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Events rewritten in z-order on (user_id, event hour index)."""

    def build() -> str:
        out = memo.private_dir("zorder-events")
        ev = table(spark, sf_dir, "events")
        hour_idx = F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3600000000)
        )
        # Dimension bounds: one tiny broadcast row (never a driver job).
        bounds = ev.agg(
            F.min("user_id").alias("u_lo"),
            F.max("user_id").alias("u_hi"),
            F.min(hour_idx).alias("h_lo"),
            F.max(hour_idx).alias("h_hi"),
        )
        (
            ev.join(F.broadcast(bounds))
            .withColumn(
                "_z",
                _zvalue(
                    _znorm(F.col("user_id"), F.col("u_lo"), F.col("u_hi")),
                    _znorm(hour_idx, F.col("h_lo"), F.col("h_hi")),
                ),
            )
            .drop("u_lo", "u_hi", "h_lo", "h_hi")
            .repartitionByRange(_Z_FILES, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(out)
        )
        return out

    return memo.get(spark, "zordered_events", sf_dir, build)


@register(
    "layout_zorder_prune",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 40 AND 55
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    ORDER BY event_id
    """,
)
def layout_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = zordered_events_path(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.filter(
            (F.col("user_id").between(40, 55))
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast(df.schema["ts"].dataType))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast(df.schema["ts"].dataType))
        )
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Small-file compaction — the table-maintenance pass every streaming or
# incremental ingest needs: micro-batch writers leave thousands of tiny
# files whose per-file open/footer overhead eventually dominates scan
# cost; compaction rewrites them into few right-sized files WITHOUT a
# shuffle (coalesce merges input splits map-side — at 100 TB you size
# the target file count from bytes/128 MB, or use AQE's REBALANCE hint
# when output skew matters). The oracle reads the original fixture:
# compaction must be value-invisible. The 64→≤4 file-count drop is
# pinned in tests/test_plans.py.
# ---------------------------------------------------------------------------
def compacted_lineitem_paths(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """(fragmented_dir, compacted_dir) for the lineitem subset."""

    def build() -> tuple[str, str]:
        frag = memo.private_dir("frag-lineitem")
        comp = memo.private_dir("compact-lineitem")
        sub = (
            table(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") % 3 == 0)
            .select(
                "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
            )
        )
        # Simulated micro-batch debris: 64 shards.
        sub.repartition(64).write.mode("overwrite").parquet(frag)
        # The compaction pass itself: map-side merge, no shuffle.
        spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(
            comp
        )
        return (frag, comp)

    return memo.get(spark, "compacted_lineitem", sf_dir, build)


@register(
    "storage_compact_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qty_cents,
           CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_orderkey % 3 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def storage_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, comp = compacted_lineitem_paths(spark, sf_dir)
    from fluent_bit_filter_math_spark.functions import exact_cents

    return (
        spark.read.parquet(comp)
        .select(
            "l_orderkey",
            "l_linenumber",
            exact_cents(F.col("l_quantity")).alias("qty_cents"),
            exact_cents(F.col("l_extendedprice")).alias("price_cents"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Arrow IPC round-trip — a full custom FORMAT on the Python DataSource
# API (sources/arrow_ipc.py): the events slice is written as Arrow IPC
# shards BY THE EXECUTORS (mapInArrow — one file per partition, only
# the tiny manifest reaches the driver) and read back through the
# registered ``arrow_ipc`` source (one InputPartition per shard,
# RecordBatches crossing the boundary vectorized). The oracle reads
# the ORIGINAL fixture: the format round-trip must be value-invisible.
# ---------------------------------------------------------------------------
def arrow_ipc_events_path(spark: SparkSession, sf_dir: str) -> str:
    from fluent_bit_filter_math_spark.sources.arrow_ipc import (
        ArrowIPCDataSource,
        write_arrow_ipc,
    )

    def build() -> str:
        try:
            spark.dataSource.register(ArrowIPCDataSource)
        except Exception:
            pass  # already registered in this session
        out = memo.private_dir("arrow-events")
        sub = (
            table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 2 == 0)
            .select("event_id", "user_id", "event_type", "value")
            .repartition(8, "event_id")
        )
        write_arrow_ipc(sub, out)
        return out

    return memo.get(spark, "arrow_events", sf_dir, build)


@register(
    "io_arrow_ipc_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
    FROM events
    WHERE event_id % 2 = 0
    ORDER BY event_id
    """,
)
def io_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = arrow_ipc_events_path(spark, sf_dir)
    from fluent_bit_filter_math_spark.functions import exact_cents

    df = spark.read.format("arrow_ipc").option("path", path).load()
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        exact_cents(F.col("value")).alias("cents"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Malformed-CSV recovery — the FILE-ingestion extension of the
# reference's core malformed-record pass-through (math.c:343-352: a
# record that isn't a map is forwarded untouched, never dropped, never
# fatal): a CSV feed with deterministically injected broken lines
# (event_id % 97 → wrong delimiter, unparseable) is read in PERMISSIVE
# mode with a corrupt-record column, so bad lines become DATA — routed,
# counted, and auditable — instead of killing the job (FAILFAST) or
# vanishing (DROPMALFORMED). The CSV itself is written distributed
# (df.write.text, one shard per partition). The oracle rebuilds both
# populations from the injection rule.
# ---------------------------------------------------------------------------
def malformed_csv_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        out = memo.private_dir("csv-events")
        ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 3 == 0)
        line = F.when(
            F.col("event_id") % 97 == 0,
            F.concat(F.lit("BROKEN|"), F.col("event_id").cast("string")),
        ).otherwise(
            F.concat_ws(
                ",",
                F.col("event_id").cast("string"),
                F.col("user_id").cast("string"),
                # Render the value from exact integer cents (never a
                # float formatter: format_number inserts grouping commas
                # a de-separator regex can't tell from FIELD commas, and
                # printf %.2f rounding differs across engines) — so the
                # oracle can predict the parsed-back cents exactly
                # whatever precision a regenerated fixture uses.
                # sign-correct integer-cents rendering: div/% on a
                # negative cents value yield negative parts that lpad
                # would mangle ('-25' → '0-25'), so render |cents| and
                # prefix the sign explicitly
                F.concat(
                    F.when(
                        F.expr("floor(value * 100.0 + 0.5)") < 0, F.lit("-")
                    ).otherwise(F.lit("")),
                    F.expr(
                        "cast(abs(floor(value * 100.0 + 0.5)) div 100"
                        " as string)"
                    ),
                    F.lit("."),
                    F.lpad(
                        F.expr(
                            "cast(abs(floor(value * 100.0 + 0.5)) % 100"
                            " as string)"
                        ),
                        2,
                        "0",
                    ),
                ),
            )
        )
        ev.select(line.alias("value")).write.mode("overwrite").text(out)
        return out

    return memo.get(spark, "malformed_csv", sf_dir, build)


@register(
    "io_csv_malformed_recovery",
    oracle="""
    SELECT CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END AS is_corrupt,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 0
                    ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS sum_cents,
           -- corrupt lines parse NO fields (PERMISSIVE nulls them all)
           CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_parsed_ids,
           CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_parsed_users
    FROM events
    WHERE event_id % 3 = 0
    GROUP BY 1 ORDER BY 1
    """,
)
def io_csv_malformed_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = malformed_csv_path(spark, sf_dir)
    df = (
        spark.read.schema(
            "event_id LONG, user_id LONG, value DOUBLE, _corrupt STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    from fluent_bit_filter_math_spark.functions import exact_cents

    # Reference EVERY schema column: the CSV parser's column pruning
    # (spark.sql.csv.parser.columnPruning) skips unreferenced fields,
    # and a token it never parses can never flag the row corrupt — a
    # projection of only (_corrupt, value) silently reports 0 corrupt
    # rows. Carrying event_id/user_id through the aggregate forces the
    # full-row parse PERMISSIVE needs.
    return (
        df.select(
            F.col("_corrupt").isNotNull().cast("int").alias("is_corrupt"),
            "event_id",
            "user_id",
            F.when(
                F.col("_corrupt").isNull(), exact_cents(F.col("value"))
            )
            .otherwise(F.lit(0))
            .alias("cents"),
        )
        .groupBy("is_corrupt")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
            F.count("event_id").alias("n_parsed_ids"),
            F.count("user_id").alias("n_parsed_users"),
        )
        .orderBy("is_corrupt")
    )


# ---------------------------------------------------------------------------
# Corrupt-PARQUET quarantine — the binary-format complement of the CSV
# PERMISSIVE recovery above: a 100 TB lake WILL contain shards
# truncated by killed writers or bit-rotted in transit, and a batch
# job that dies on the first bad footer loses the other 99.999%. The
# layout builder writes the events slice as many small parquet shards,
# then corrupts a deterministic subset IN PLACE (footer overwritten —
# unreadable by any parquet reader). The query runs the production
# setting `spark.sql.files.ignoreCorruptFiles=true`, scoped and
# restored, and reports rows recovered + shards quarantined; a strict
# read of the same directory raises, which the unit test pins.
#
# Determinism: shards are written one per event_id residue class, so
# WHICH rows vanish with a corrupted shard is a pure function of the
# data — the oracle reproduces the surviving set with a residue
# filter. Quarantined-shard count is layout-derived, not metric-
# derived (the metric would count tasks, not files).
# ---------------------------------------------------------------------------
_PQC_SHARDS = 16  # event_id % 16 residue classes, one shard each
_PQC_BAD = (3, 11)  # residue classes whose shards get corrupted


def corrupt_parquet_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        base = memo.private_dir("pq-corrupt")
        out = os.path.join(base, "data")
        ev = table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value",
            (F.col("event_id") % _PQC_SHARDS).alias("shard"),
        )
        ev.write.partitionBy("shard").parquet(out)
        import glob as _glob

        for r in _PQC_BAD:
            for f in _glob.glob(f"{out}/shard={r}/part-*.parquet"):
                size = os.path.getsize(f)
                with open(f, "r+b") as fh:
                    # wreck the footer: magic + metadata length live in
                    # the last 8 bytes; zeroing the final 64 kills both
                    fh.seek(max(0, size - 64))
                    fh.write(b"\x00" * min(64, size))
        return out

    return memo.get(spark, "corrupt_parquet", sf_dir, build)


@register(
    "io_parquet_corrupt_quarantine",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_recovered,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST({len(_PQC_BAD)} AS BIGINT) AS n_shards_quarantined
    FROM events
    WHERE event_id % {_PQC_SHARDS} NOT IN {_PQC_BAD}
    """,
)
def io_parquet_corrupt_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fluent_bit_filter_math_spark.functions import exact_cents

    path = corrupt_parquet_path(spark, sf_dir)
    key = "spark.sql.files.ignoreCorruptFiles"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = spark.read.schema(
            "event_id long, user_id long, value double, shard int"
        ).parquet(path)
        # Materialize INSIDE the conf window: the setting is read at
        # EXECUTION time, so returning the lazy plan and restoring the
        # conf in finally would run the scan strict and die on the bad
        # footers (measured). The aggregate is one row; re-lifting it
        # into a DataFrame keeps the driver contract.
        row = df.agg(
            F.count("*").alias("n_rows_recovered"),
            F.sum(exact_cents(F.col("value"))).alias("sum_cents"),
        ).collect()[0]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return spark.createDataFrame(
        [(row["n_rows_recovered"], row["sum_cents"], len(_PQC_BAD))],
        "n_rows_recovered long, sum_cents long, n_shards_quarantined long",
    )


# ---------------------------------------------------------------------------
# ORC round-trip — the second big columnar interchange format (Hive/
# Trino ecosystems). Closes the one format the FORMATS table supports
# that had no registered gate query. A slice of events is written as
# zlib-compressed ORC and read back THROUGH a row-group-prunable
# predicate (event_type <> 'error') so the query exercises the ORC
# reader's pushdown path (min/max stripe stats), not just decoding —
# the plan audit records the PushedFilters entry. Cents idiom as XML:
# integers round-trip any container exactly.
# ---------------------------------------------------------------------------
def _orc_events_path(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        out = memo.private_dir("orc-events")
        (
            table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 10 == 0)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .write.format("orc")
            .option("compression", "zlib")
            .mode("overwrite")
            .save(out)
        )
        return out

    return memo.get(spark, "orc_events", sf_dir, build)


@register(
    "io_orc_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
    FROM events
    WHERE event_id % 10 = 0 AND event_type <> 'error'
    """,
)
def io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _orc_events_path(spark, sf_dir)
    return (
        spark.read.format("orc")
        .load(path)
        .filter(F.col("event_type") != "error")
        .select("event_id", "user_id", "event_type", "cents")
    )
