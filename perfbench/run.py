"""Benchmark entry point.

    python3 perfbench/run.py --workload fold --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one caller that waits for
each op (closed loop, one client), Spark at ``local[<cpus>]``. The run

1. generates the workload's inputs from ``--seed`` under ``.perfbench/``
   (excluded from every timing);
2. sets up: imports the library, starts its session and runs one warm-up
   pass whose results it keeps for the check (``setup_s``);
3. runs a fixed number of warm passes, set by ``--seconds`` alone (see
   ``pass_count``), sampling the host probe and the process tree's peak
   RSS between passes;
4. checks the kept results, untimed, against independent references;
5. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1`` (see perfbench/README.md).

Everything else the run prints goes to standard error.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fluent_bit_filter_math_spark"
MIN_PASSES = 2
# A warm pass of any workload takes 3-6.5 s on the 4-vCPU host. The pass
# count comes from --seconds and this constant, never from how fast the
# program runs: table_log's passes differ by where the growing log's
# checkpoints fall, so a faster program must not measure other passes.
NOMINAL_PASS_S = 4.0
# 1 GB of driver heap instead of the library's 8 GB default: the inputs are
# small, and the benchmark shares its host's memory.
HEAP = "1g"

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import stats  # noqa: E402


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pass_count(seconds: float) -> int:
    """Warm passes an untraced run measures; a traced run makes this many
    traced and as many untraced passes."""
    return max(MIN_PASSES, math.ceil(seconds / NOMINAL_PASS_S))


def is_traced(pass_no: int) -> bool:
    """Traced and untraced passes of a traced run alternate in ABBA order
    (1 and 4 traced, 2 and 3 not), so a drift over the run, such as the
    table log growing, weighs on both kinds alike. With two of each,
    table_log's periodic checkpoints (commits 9 and 19) fall in one pass
    of each kind; its merges write a checkpoint in every pass."""
    return pass_no % 4 in (0, 1)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside *work* and make the package
    importable by Spark's Python workers."""
    for sub in ("tmp", "jtmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>.
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jtmp')}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --driver-java-options '{java_opts}' "
        "pyspark-shell"
    )


class Runner:
    def __init__(self, spark, workload, tracer=None, store=None, listener=None):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.store = store
        self.listener = listener
        self.failed = 0
        self.attempted = 0
        self.records: list[dict] = []  # one per op of a measured pass

    def run_pass(self, pass_no: int, traced: bool = False, capture: bool = False) -> float | None:
        """Run the op list once; returns its wall time, or None when an op
        failed (a failed pass has no meaningful time). With *capture* the
        workload keeps each op's result for the output check instead of
        only forcing it."""
        from workloads import force

        spark, wl = self.spark, self.wl
        sink = wl.capture if capture else (lambda op, out: force(out))
        wl.before_pass(spark)
        ops = wl.ops(pass_no)
        staged = [op.prep(spark) if op.prep else None for op in ops]
        tracer = self.tracer if traced else None

        def span(name: str, op_id: int):
            return tracer.span(name, op_id) if tracer else contextlib.nullcontext()
        if traced:
            self.store.read()
            spark.streams.addListener(self.listener)
        ok = True
        t0 = time.perf_counter()
        with span("pass", pass_no):
            for op, st in zip(ops, staged):
                op_id = len(self.records)
                self.attempted += 1
                rec = {"pass": pass_no, "op": op.name, "kind": op.kind,
                       "layer": op.layer, "traced": traced}
                a = time.perf_counter()
                try:
                    with span("op", op_id):
                        with span(op.layer, op_id):
                            out = op.build(spark, st) if op.prep else op.build(spark)
                        b = time.perf_counter()
                        with span("force", op_id):
                            sink(op, out)
                    c = time.perf_counter()
                except Exception:  # noqa: BLE001 — one failing op must not end the run
                    traceback.print_exc()
                    self.failed += 1
                    ok = False
                    continue
                rec.update(total_s=c - a, build_s=b - a, force_s=c - b)
                if traced:
                    with tracer.span("trace", op_id):
                        rec["spark"] = self.store.read()
                        rec["stream"] = self.listener.take()
                self.records.append(rec)
        elapsed = time.perf_counter() - t0
        if traced:
            spark.streams.removeListener(self.listener)
        return elapsed if ok else None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # All library, JVM and worker chatter goes to stderr; the result line
    # alone is written to the original stdout.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        prepare_env(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.workload, os.path.join(work, "data"), args.seed)
    t = time.perf_counter()
    wl.generate()
    excluded = time.perf_counter() - t

    stats.reset_own_peak()  # generating the inputs is not the program's memory
    rss = stats.RssSampler()
    t = time.perf_counter()
    from fluent_bit_filter_math_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus()}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.create(spark)
    excluded += time.perf_counter() - t

    runner = Runner(spark, wl)
    t = time.perf_counter()
    runner.run_pass(0, capture=True)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START - excluded
    runner.records.clear()
    rss.sample()

    if args.trace:
        from layers import StatusStore, StreamProgress

        runner.tracer = stats.Tracer()
        runner.store = StatusStore(spark)
        runner.listener = StreamProgress()
        # the first listener starts py4j's callback server; keep that
        # one-time cost out of the traced passes
        spark.streams.addListener(runner.listener)
        spark.streams.removeListener(runner.listener)

    passes: list[tuple[float, bool]] = []
    probes: list[float] = []
    cold_extra: list[float] = []
    for pass_no in range(1, pass_count(args.seconds) * (1 + args.trace) + 1):
        traced = bool(args.trace) and is_traced(pass_no)
        elapsed = runner.run_pass(pass_no, traced)
        if elapsed is not None:
            passes.append((elapsed, traced))
        if traced and wl.cache_ops:
            cold_extra.append(measure_cold_extra(runner, pass_no))
        probes.extend(stats.host_probe_ms() for _ in range(3))
        rss.sample()

    t = time.perf_counter()
    try:
        checked, problems = wl.check(spark)
    except Exception as exc:  # noqa: BLE001 — a crashing check is a failed check
        traceback.print_exc()
        checked, problems = 1, [f"check raised {exc!r}"]
    check_s = time.perf_counter() - t
    tf_counts = wl.tf_counts()
    stop_spark(spark)

    for p in problems[:20]:
        print(f"perfbench: check: {p}", file=sys.stderr)
    failed = runner.failed + len(problems)
    attempted = runner.attempted + checked
    untraced = [s for s, tr in passes if not tr]
    ops = [r for r in runner.records if not r["traced"]]
    lat = [r["total_s"] * 1e3 for r in ops]
    tail_ms, tail_p = stats.tail(lat)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": session_s, "warmup_s": warmup_s, "setup_s": setup_s,
        "passes": len(passes), "untraced_passes": len(untraced), "ops": len(lat),
        "op_tail_ms": tail_ms, "op_tail_percentile": tail_p, "check_s": check_s,
        "probe_ms_median": stats.median(probes), "probe_iqr_share": stats.iqr_share(probes),
        "rss_split_mb": rss.peak_split, "problems": len(problems),
        "op_ms_median": {name: stats.median([r["total_s"] * 1e3 for r in ops if r["op"] == name])
                         for name in dict.fromkeys(r["op"] for r in ops)},
    }
    print("perfbench: " + json.dumps(summary), file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(runner, passes, probes, cold_extra, tf_counts, rss,
                                session_s, warmup_s, args)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (stats.median(untraced), "s"),
        }
    return {
        "correct": not problems and runner.failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: the gateway JVM
    exits when its stdin closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def op_p50(records: list[dict]) -> float:
    """Median over the op list of each op's median latency (ms). Pooling
    all samples instead would put the median on the boundary between two
    ops' latency clusters."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r["total_s"] * 1e3)
    return stats.median([stats.median(v) for v in by_op.values()])


def measure_cold_extra(runner: Runner, pass_no: int) -> float:
    """Cache-backed ops of the pass just run (cold: caches were released
    before it) minus the same ops re-run right away with warm caches."""
    from workloads import force

    extra = 0.0
    ops = {op.name: op for op in runner.wl.ops(pass_no)}
    for rec in runner.records:
        if rec["pass"] != pass_no or rec["op"] not in runner.wl.cache_ops:
            continue
        t = time.perf_counter()
        force(ops[rec["op"]].build(runner.spark))
        extra += rec["total_s"] - (time.perf_counter() - t)
    runner.store.read()  # keep the re-runs out of the next op's counts
    return extra * 1e3


def layer_metrics(runner, passes, probes, cold_extra, tf_counts, rss,
                  session_s, warmup_s, args) -> dict:
    from layers import SPARK_KEYS, STREAM_PHASES

    recs = [r for r in runner.records if r["traced"]]
    traced_passes = sorted({r["pass"] for r in recs})

    def per_pass(fn) -> float:
        return stats.median([fn([r for r in recs if r["pass"] == p]) for p in traced_passes])

    def med(values) -> float:
        return stats.median(values) if values else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "compile.build_ms": (med([r["build_s"] * 1e3 for r in recs if r["layer"] == "compile"]), "ms"),
        "operators.build_ms": (med([r["build_s"] * 1e3 for r in recs if r["layer"] == "operators"]), "ms"),
        "operators.force_ms": (med([r["force_s"] * 1e3 for r in recs if r["layer"] == "operators"]), "ms"),
    }
    for key, unit in SPARK_KEYS.items():
        m[f"spark.{key}"] = (per_pass(lambda rs, k=key: sum(r["spark"][k] for r in rs)), unit)
    for key in ("queries", "batches", "input_rows", *STREAM_PHASES):
        m[f"stream.{key}"] = (per_pass(lambda rs, k=key: sum(r["stream"][k] for r in rs)),
                              "ms" if key.endswith("_ms") else "count")
    starts = [r["stream"]["start_ms"] / r["stream"]["queries"] for r in recs if r["stream"]["queries"]]
    m["stream.start_ms"] = (med(starts), "ms")
    m["stream.state_rows"] = (max((r["stream"]["state_rows"] for r in recs), default=0.0), "count")
    m["stream.state_mb"] = (max((r["stream"]["state_mb"] for r in recs), default=0.0), "MB")
    tf_recs = [r for r in recs if r["layer"] == "tf"]
    m["tf.commit_ms"] = (med([r["build_s"] * 1e3 for r in tf_recs if r["kind"] == "commit"]), "ms")
    m["tf.resolve_ms"] = (med([r["build_s"] * 1e3 for r in tf_recs if r["kind"] == "read"]), "ms")
    m["tf.scan_ms"] = (med([r["force_s"] * 1e3 for r in tf_recs if r["kind"] == "read"]), "ms")
    m["tf.log_versions"] = (float(tf_counts.get("log_versions", 0)), "count")
    m["tf.checkpoints"] = (float(tf_counts.get("checkpoints", 0)), "count")
    m["cache.cold_extra_ms"] = (med(cold_extra), "ms")
    m["host.probe_ms"] = (stats.median(probes), "ms")
    m["host.probe_spread"] = (stats.iqr_share(probes), "ratio")
    # peak RSS of the process tree, and its split at that peak
    m["rss.peak_mb"] = (rss.peak_mb, "MB")
    for role in ("driver", "jvm", "workers"):
        m[f"rss.{role}_mb"] = (rss.peak_split.get(role, 0.0), "MB")

    # the untraced passes of this run give the commit/read latency split
    plain = [r for r in runner.records if not r["traced"]]
    m["op.p50_ms"] = (op_p50(plain), "ms")
    m["op.tail_ms"] = (stats.tail([r["total_s"] * 1e3 for r in plain])[0], "ms")
    for kind in ("commit", "read"):
        lat = [r["total_s"] * 1e3 for r in plain if r["kind"] == kind]
        m[f"op.{kind}_ms_p50"] = (med(lat), "ms")
        m[f"op.{kind}_ms_tail"] = (stats.tail(lat)[0] if lat else 0.0, "ms")

    # self time per layer, mean per traced pass; the harness owns the
    # "pass" and "op" spans
    st = stats.self_time_by_name(runner.tracer.spans)
    st["harness"] = st.pop("pass", 0.0) + st.pop("op", 0.0)
    for name in ("harness", "compile", "stream", "operators", "tf", "force", "trace"):
        m[f"self.{name}_ms"] = (st.get(name, 0.0) * 1e3 / max(len(traced_passes), 1), "ms")

    traced = [s for s, tr in passes if tr]
    untraced = [s for s, tr in passes if not tr]
    base = stats.median(untraced)
    m["trace.overhead_pct"] = ((stats.median(traced) / base - 1.0) * 100.0 if base else 0.0, "%")

    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"spans": runner.tracer.dump(), "ops": runner.records}, f)
    return m


if __name__ == "__main__":
    sys.exit(main())
