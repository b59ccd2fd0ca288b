"""Benchmark harness — runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "n_queries": N, "n_failed": N}.
The printed "queries" map is trimmed to the slowest 15 + any failures so
the line fits the driver's stdout tail buffer; the complete per-query
map, per-rep samples, and error strings go to BENCH_DETAIL.json.

Each query is timed as a full plan execution — scan → transform → a
``noop``-format write. The earlier ``df.count()`` collapse let Catalyst
PRUNE deterministic projections (a count needs no columns), so every
projection-only query timed just the parquet scan — the fold expressions
were verifiably absent from the physical plan (ADVICE r1). The noop V2
sink consumes complete rows, so every output column is computed and
nothing materializes on the driver.

Timing = minimum over $SPARK_GRAFT_BENCH_REPS (default 3) *interleaved
passes* — every query runs once per pass, so a transient host-noise
window (co-tenant CPU burst, GC storm) degrades one pass of many
queries instead of every rep of one query; the per-query min then
recovers the machine's true capability. (Measured: back-to-back reps
let a ~30 s noise window inflate a 0.6 s query to a 9 s "median".)
One untimed warm-up of the first query precedes the passes (JVM +
codegen warmup).

Build-once artefacts (indexes, prepared layouts, replay splits; see
``fluent_bit_filter_math_spark/memo.py``) stay warm across passes, so
min-over-reps measures warm-cache time and whichever query forces a
build first absorbs its cost in its first rep (the ``cold`` column of
BENCH_DETAIL.json). The cold-minus-warm cost of the cache-backed
operators is measured separately by ``perfbench`` (traced runs'
``cache.cold_extra_ms``), which releases the memo before every pass.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
# The transformWithStateInPandas block is FLOOR-BOUND (~1.3 s query
# planning + ~1.5 s state-server RPC per stream start, SCALING.md r9)
# and rep spreads hit 4x on 3 samples (r10: stream_tws_list_seeded
# 6.5/4.1/17.5 s — VERDICT r10 #5). These run in their own isolated
# pass with more reps so the min actually converges, and the guard
# reads this set for a wider noise band. The socket-loopback Kafka
# stream shares the class (stream start + per-micro-batch floor).
FLOOR_BOUND_PREFIXES = ("stream_tws_", "stream_kafka_wire")
FLOOR_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_FLOOR_REPS", "5"))


def _force(df) -> None:
    """Execute the full plan, all columns, nothing on the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    from fluent_bit_filter_math_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # Warm up untimed: JVM + codegen via the first query, and the Python
    # worker pool via a trivial mapInPandas across all cores (cold spawn
    # of 32 Arrow workers costs ~45 s once per cluster; every long-lived
    # deployment amortizes it, so it doesn't belong in per-query timings).
    first = next(iter(qs))
    try:
        _force(qs[first](spark, SF_DIR))
    except Exception:  # noqa: BLE001 — the timed loop records the failure
        pass
    spark.range(spark.sparkContext.defaultParallelism * 2).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").count()

    # Failure isolation: one raising query must not zero the whole run
    # (BENCH r3/r4 lost every number to a single AnalysisException). A
    # failed query records null and its error; totals cover the rest.
    times: dict[str, list[float]] = {name: [] for name in qs}
    errors: dict[str, str] = {}
    floor_bound = [n for n in qs if n.startswith(FLOOR_BOUND_PREFIXES)]

    def _run_pass(names) -> None:
        for name in names:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                _force(qs[name](spark, SF_DIR))
            except Exception as exc:  # noqa: BLE001 — record and continue
                # Keep any earlier successful rep timings (ADVICE r5): a
                # flaky-once query still reports its measured min
                # alongside the error instead of a null.
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            times[name].append(time.perf_counter() - t0)

    main_names = [n for n in qs if n not in floor_bound]
    for _ in range(REPS):
        _run_pass(main_names)
    # Isolated floor-bound block: no interleaving with the bulk surface
    # (a co-scheduled heavy batch query perturbs the state-server RPC
    # timing), and FLOOR_REPS samples instead of REPS.
    for _ in range(FLOOR_REPS):
        _run_pass(floor_bound)
    per_query: dict[str, float | None] = {
        name: (round(min(ts), 4) if ts else None) for name, ts in times.items()
    }

    ok = {n: t for n, t in per_query.items() if t is not None}
    total = round(sum(ok.values()), 4)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    summary = {
        "metric": "total_min_sec_all_queries",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf_val,
        "n_queries": len(qs),
        "n_failed": len(errors),
    }
    # Full detail (all per-query timings, per-rep samples, error strings)
    # to a file the judge can read directly; stdout gets exactly ONE
    # compact JSON line — the full 111-query map serializes to ~3.4 KB,
    # which overflows the driver's stdout tail buffer and turns a
    # successful run into parsed=null (BENCH r2). The line keeps the
    # contract shape but trims "queries" to the slowest 15 plus every
    # failure, and points at the full map. Printed AFTER spark.stop() and
    # a flush so no JVM shutdown chatter lands behind it.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    # cold/warm split (VERDICT r7 #8): rep 1 carries one-time JIT/codegen
    # /page-cache cost (e.g. dedup_ngram_jaccard 11.9 s cold → 2.8 s
    # warm); recording both makes regression triage mechanical — a
    # real plan change moves `warm`, a cache/JIT artifact moves only
    # `cold`.
    cold = {n: (round(ts[0], 4) if ts else None) for n, ts in times.items()}
    warm = {
        n: (round(min(ts[1:]), 4) if len(ts) > 1 else None)
        for n, ts in times.items()
    }
    # max/min rep ratio: the triage column for "is this mover noise?" —
    # a query whose own samples spread 3x within one run can't support
    # a 1.5x cross-run conclusion.
    spread = {
        n: (round(max(ts) / min(ts), 2) if ts and min(ts) > 0 else None)
        for n, ts in times.items()
    }
    with open(detail_path, "w") as fh:
        json.dump(
            {**summary, "reps": times, "cold": cold, "warm": warm,
             "spread": spread, "floor_bound": floor_bound,
             "errors": errors},
            fh,
            indent=1,
        )
    slowest = dict(
        sorted(ok.items(), key=lambda kv: -kv[1])[:15]
    )
    # Failed queries surface with their measured min when one exists
    # (flaky-once), else null.
    slowest.update({n: per_query[n] for n in errors})
    line = {**summary, "queries": slowest, "queries_full": "BENCH_DETAIL.json"}
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
