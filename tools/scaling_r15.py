"""r15 scaling sweep: the persisted LSH band index's probe/maintenance
costs, bloom-filter point-lookup pruning rates, protocol-check
overhead, and the retrain/manifest swap.

Appends a markdown section suitable for SCALING.md (printed to stdout;
paste-reviewed, not auto-written).

Usage: python tools/scaling_r15.py
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from fluent_bit_filter_math_spark.session import get_spark  # noqa: E402
from fluent_bit_filter_math_spark.sources import table_format as tf  # noqa: E402


def _med(fn, reps: int = 5) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    return statistics.median(ts)


def main() -> int:
    spark = get_spark("scaling-r15", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    print("## r15 sweep: persisted LSH index, bloom skipping, protocol"
          " gate (tools/scaling_r15.py)\n")

    # 1. Persisted band index: maintenance commit size is flat in
    # corpus size (∝ batch), and the per-band probe scans 1/n_bands.
    print("**Persisted LSH band index — maintenance ∝ batch, probe"
          " prunes per band** (synthetic (band,key,doc_id) postings,"
          " 4 bands):\n")
    print("| corpus rows | files | maint files added | band-probe"
          " files kept/total |")
    print("|---|---|---|---|")
    for corpus_rows in (10_000, 100_000, 1_000_000):
        t = os.path.join(tempfile.mkdtemp(), "bands")
        corpus = spark.range(corpus_rows).select(
            (F.col("id") % 4).alias("band"),
            F.conv(
                F.substring(F.md5(F.col("id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long").alias("key"),
            F.col("id").alias("doc_id"),
        )
        tf.tf_append(
            corpus.repartitionByRange(4, "band", "key"), t
        )
        batch = spark.range(500).select(
            (F.col("id") % 4).alias("band"),
            F.lit(0).cast("long").alias("key"),
            (F.col("id") + corpus_rows).alias("doc_id"),
        )
        v = tf.tf_append(batch.repartitionByRange(4, "band", "key"), t)
        head = tf.tf_history(t)[0]
        kept, total = tf.tf_pruned_files(
            t, [("band", "=", 2)], version=v - 1
        )
        print(
            f"| {corpus_rows:,} | {total} | {head['n_added']} |"
            f" {len(kept)}/{total} |"
        )
    print()

    # 2. Bloom skipping: pruned-file fraction for point lookups as the
    # file count grows (min/max would keep 100%).
    print("**Bloom point-lookup pruning** (md5-keyed rows hash-spread"
          " over N files; interval stats keep 100% by construction):\n")
    print("| files | rows/file | bloom kept (100 lookups, mean) |"
          " interval kept |")
    print("|---|---|---|---|")
    for n_files in (4, 16, 64):
        t = os.path.join(tempfile.mkdtemp(), "bloom")
        rows_per = 2_000
        for i in range(n_files):
            tf.tf_append(
                spark.range(rows_per)
                .select(
                    F.md5(
                        (F.col("id") * n_files + i).cast("string")
                    ).alias("h"),
                    (F.col("id") * n_files + i).alias("k"),
                )
                .coalesce(1),
                t,
                bloom_columns=("h",),
            )
        import hashlib as _h

        kept_counts = []
        for probe in range(100):
            hv = _h.md5(str(probe * n_files).encode()).hexdigest()
            kept, total = tf.tf_pruned_files(t, [("h", "=", hv)])
            kept_counts.append(len(kept))
        kept_nb, total = tf.tf_pruned_files(
            t, [("h", "=", hv)], ignore_bloom=True
        )
        print(
            f"| {n_files} | {rows_per:,} |"
            f" {statistics.mean(kept_counts):.2f}/{total} |"
            f" {len(kept_nb)}/{total} |"
        )
    print()

    # 3. Protocol check: the cached log state means O(new commits)
    # JSON reads, not O(commits) per resolve.
    print("**Protocol-gate cost** (300-commit table; times in ms —"
          " first call folds the log once, later calls hit the"
          " log-state cache):\n")
    t = os.path.join(tempfile.mkdtemp(), "proto")
    df = spark.createDataFrame([(1, 2)], "k long, v long")
    for _ in range(300):
        tf.tf_append_batch(df, t, batch_id=tf.latest_version(t) + 1)
    tf._STATE_CACHE.clear()
    t0 = time.time()
    tf.required_reader_version(t)
    cold = (time.time() - t0) * 1e3
    warm = _med(lambda: tf.required_reader_version(t), reps=20) * 1e3
    print(f"| commits | cold ms | cached ms |")
    print(f"|---|---|---|")
    print(f"| 300 | {cold:.2f} | {warm:.3f} |")
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
