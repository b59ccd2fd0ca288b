"""The benchmark's workloads: inputs, the fixed op list of one pass, and
the untimed output check.

An op is one public call into the library (``build``) plus forcing what it
returns to Spark's ``noop`` sink. ``layer`` names the library layer the
build call enters; the traced run hangs a span of that name around it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, ClassVar

import numpy as np
import pandas as pd

import gen
import oracle


@dataclass
class Op:
    name: str
    layer: str  # compile | stream | operators | tf
    build: Callable  # (spark[, staged]) -> DataFrame | list[DataFrame] | None
    kind: str = "read"  # read | commit
    prep: Callable | None = None  # untimed input staging, result passed to build


@dataclass
class Workload:
    name: str
    data_dir: str
    seed: int
    state: dict = field(default_factory=dict)
    cache_ops: ClassVar[tuple[str, ...]] = ()  # ops backed by a memo cache

    def generate(self) -> None:
        raise NotImplementedError

    def create(self, spark) -> None:
        """Untimed input staging that needs the session."""

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def before_pass(self, spark) -> None:
        """Untimed work before each pass (e.g. releasing caches)."""

    def capture(self, op: Op, out) -> None:
        """Stands in for :func:`force` during the warm-up pass: executes
        the op's result and keeps what :meth:`check` needs."""
        force(out)

    def check(self, spark) -> tuple[int, list[str]]:
        """(outputs checked, problems found)."""
        raise NotImplementedError

    def tf_counts(self) -> dict:
        return {}


def force(out) -> None:
    """Execute every plan an op returned, all columns, into ``noop``."""
    if out is None:
        return
    for df in out if isinstance(out, list) else [out]:
        df.write.format("noop").mode("overwrite").save()


def _path(base: str, table: str) -> str:
    return os.path.join(base, f"{table}.parquet")


# ---------------------------------------------------------------------------
# fold — the reference's whole surface over 200k seeded events
# ---------------------------------------------------------------------------
FOLD_ROWS = 200_000
FOLD_FILES = 4
STREAM_ROWS = 40_000  # the stateless replay streams this leading slice


def test_sh_specs():
    """The reference smoke test's four filter instances (test.sh:17-43)."""
    from fluent_bit_filter_math_spark.spec import MathSpec

    return [
        MathSpec.build("sum", ["value", "k"], "used_plus_total", cast_to_int=True),
        MathSpec.build("sub", ["value", "k"], "used_minus_total"),
        MathSpec.build("mul", ["value", "k"], "used_times_total"),
        MathSpec.build("div", ["value", "k"], "used_div_total"),
    ]


_FOLD_COLS = ["event_id", "used_plus_total", "used_minus_total",
              "used_times_total", "used_div_total"]
ROUTED_TAGS = ("error", "purchase")


class Fold(Workload):
    def generate(self) -> None:
        ev = gen.make_events(self.seed, FOLD_ROWS)
        table = gen.events_table(ev)
        gen.write_table(table, _path(self.data_dir, "events"), FOLD_FILES)
        gen.write_table(
            table.slice(0, STREAM_ROWS),
            _path(os.path.join(self.data_dir, "replay"), "events"),
            1,
        )
        self.state["events"] = ev

    def _events(self, spark):
        from fluent_bit_filter_math_spark.sources import table

        return table(spark, self.data_dir, "events")

    def _chain(self, spark):
        from fluent_bit_filter_math_spark.pipeline import apply_specs

        return apply_specs(self._events(spark), test_sh_specs())

    def _route(self, spark):
        from fluent_bit_filter_math_spark.pipeline import route_by_tag

        specs = test_sh_specs()
        return list(route_by_tag(self._events(spark), {t: specs for t in ROUTED_TAGS}).values())

    def _passthrough(self, spark):
        from fluent_bit_filter_math_spark.pipeline import apply_specs_passthrough

        return apply_specs_passthrough(self._events(spark), test_sh_specs())

    def _replay(self, spark):
        from fluent_bit_filter_math_spark.pipeline import (
            apply_specs,
            read_events_stream,
            run_stream_to_memory,
        )

        path = _path(os.path.join(self.data_dir, "replay"), "events")
        stream = apply_specs(read_events_stream(spark, path), test_sh_specs())
        return run_stream_to_memory(
            stream.select(*_FOLD_COLS), "perfbench_fold_replay", shuffle_partitions=None
        )

    def ops(self, pass_no: int) -> list[Op]:
        return [
            Op("chain", "compile", self._chain),
            Op("route", "compile", self._route),
            Op("passthrough", "compile", self._passthrough),
            Op("replay", "stream", self._replay),
        ]

    def capture(self, op: Op, out) -> None:
        """Writes the result columns to parquet (the check reads them back
        with pyarrow)."""
        frames = out if isinstance(out, list) else [out]
        paths = []
        for i, df in enumerate(frames):
            paths.append(os.path.join(self.data_dir, "check", f"{op.name}{i}"))
            df.select(*_FOLD_COLS).write.mode("overwrite").parquet(paths[-1])
        self.state.setdefault("captured", {})[op.name] = paths

    def check(self, spark) -> tuple[int, list[str]]:
        import pyarrow.parquet as pq

        ev: gen.Events = self.state["events"]
        got = {
            name: pd.concat([pq.read_table(p).to_pandas() for p in paths])
            for name, paths in self.state.get("captured", {}).items()
        }
        if sorted(got) != sorted(op.name for op in self.ops(0)):
            return 1, [f"captured {sorted(got)}"]
        problems = oracle.check_fold(ev, got["chain"])
        problems += oracle.check_fold(ev, got["passthrough"], passthrough=True)
        problems += oracle.check_fold(_subset(ev, np.isin(ev.event_type, ROUTED_TAGS)), got["route"])
        problems += oracle.check_fold(_subset(ev, ev.event_id < STREAM_ROWS), got["replay"])
        return len(got), problems


def _subset(ev: gen.Events, mask: np.ndarray) -> gen.Events:
    return gen.Events(**{k: getattr(ev, k)[mask] for k in ev.__dataclass_fields__})


# ---------------------------------------------------------------------------
# llm_ops — registered batch LLM-pipeline operators with memo caches
# ---------------------------------------------------------------------------
LLM_QUERIES = (
    ("dedup_minhash_lsh", True),  # shingle-index cache
    ("graph_personalized_pagerank", True),  # PPR-rank cache
    ("text_bm25_topk", False),
    ("mm_png_decode", False),
)
LLM_DOCS = 300
LLM_LINEITEMS = 10_000


def release_caches(spark) -> None:
    from fluent_bit_filter_math_spark.operators import dedup, graph

    dedup.release_shingle_index(spark)
    dedup.release_cluster_map(spark)
    graph.release_edge_index(spark)
    graph.release_tri_und(spark)
    graph.release_tri_oriented(spark)
    graph.release_ppr_ranks(spark)


class LlmOps(Workload):
    cache_ops = tuple(name for name, cached in LLM_QUERIES if cached)

    def generate(self) -> None:
        gen.write_table(gen.documents_table(self.seed, LLM_DOCS), _path(self.data_dir, "documents"), 2)
        gen.write_table(gen.lineitem_table(self.seed, LLM_LINEITEMS), _path(self.data_dir, "lineitem"), 2)

    def ops(self, pass_no: int) -> list[Op]:
        from fluent_bit_filter_math_spark.registry import all_queries

        qs = all_queries()
        return [
            Op(name, "operators", lambda spark, fn=qs[name]: fn(spark, self.data_dir))
            for name, _ in LLM_QUERIES
        ]

    def before_pass(self, spark) -> None:
        release_caches(spark)

    def capture(self, op: Op, out) -> None:
        self.state.setdefault("captured", {})[op.name] = out.toPandas()

    def check(self, spark) -> tuple[int, list[str]]:
        from fluent_bit_filter_math_spark.registry import all_oracles

        sqls = all_oracles()
        got = self.state.get("captured", {})
        con = oracle.duckdb_connection(self.data_dir)
        problems = []
        try:
            for name, _ in LLM_QUERIES:
                if name not in got:
                    problems.append(f"{name}: no captured result")
                    continue
                problems += [f"{name}: {p}" for p in oracle.check_query(con, sqls[name], got[name])]
        finally:
            con.close()
        return len(LLM_QUERIES), problems


# ---------------------------------------------------------------------------
# table_log — small commits interleaved with reads on one growing log
# ---------------------------------------------------------------------------
TL_INITIAL = 2000
TL_APPEND = 100
TL_MERGE_UPDATES = 24
TL_MERGE_INSERTS = 6
TL_MERGE_DELETES = 6
TL_GROUPS = 8
TL_COLS = ("id", "grp", "val", "note")


class TableLog(Workload):
    """Keeps its own model of the table: ``versions[v]`` is the expected
    snapshot (id -> row) after commit ``v``."""

    def generate(self) -> None:
        self.state["path"] = os.path.join(self.data_dir, "tlog")
        self.state["versions"] = []
        self.state["next_id"] = 0
        self.state["floor"] = 0

    def _rows(self, rng, ids) -> dict:
        return {
            int(i): (int(rng.integers(0, TL_GROUPS)), float(np.round(rng.uniform(0, 1000), 2)), f"n{int(i) % 97}")
            for i in ids
        }

    def _frame(self, spark, rows: dict, extra: dict | None = None):
        pdf = pd.DataFrame(
            [(i, *r) for i, r in rows.items()], columns=list(TL_COLS)
        ).astype({"id": "int64", "grp": "int32", "val": "float64"})
        if extra:
            for k, v in extra.items():
                pdf[k] = v
        return spark.createDataFrame(pdf)

    def _head(self) -> dict:
        v = self.state["versions"]
        return dict(v[-1]) if v else {}

    def _commit(self, snapshot: dict) -> None:
        self.state["versions"].append(snapshot)

    def create(self, spark) -> None:
        """The initial commit (version 0)."""
        from fluent_bit_filter_math_spark.sources.table_format import tf_append

        rng = np.random.default_rng([self.seed, 10])
        rows = self._rows(rng, range(TL_INITIAL))
        self.state["next_id"] = TL_INITIAL
        tf_append(self._frame(spark, rows), self.state["path"])
        self._commit(rows)

    def ops(self, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        from fluent_bit_filter_math_spark.sources import table_format as tf

        path = self.state["path"]
        rng = np.random.default_rng([self.seed, 11, pass_no])

        def append_prep(spark):
            start = self.state["next_id"]
            self.state["next_id"] += TL_APPEND
            rows = self._rows(rng, range(start, start + TL_APPEND))
            return rows, self._frame(spark, rows)

        def append(spark, staged):
            rows, df = staged
            tf.tf_append(df, path)
            snap = self._head()
            snap.update(rows)
            self._commit(snap)

        def delete(spark):
            # slide the window: drop the oldest TL_APPEND ids
            self.state["floor"] += TL_APPEND
            floor = self.state["floor"]
            tf.tf_delete(spark, path, [("id", "<", floor)])
            self._commit({i: r for i, r in self._head().items() if i >= floor})

        def update(spark):
            g = int(rng.integers(0, TL_GROUPS))
            tf.tf_update(spark, path, [("grp", "=", g)], {"val": F.col("val") + F.lit(1.5)})
            snap = self._head()
            hit = {i: (r[0], r[1] + 1.5, r[2]) for i, r in snap.items() if r[0] == g}
            if hit:  # zero matches commit nothing
                snap.update(hit)
                self._commit(snap)

        def merge_prep(spark):
            head = self._head()
            live = np.array(sorted(head))
            upd = rng.choice(live, TL_MERGE_UPDATES + TL_MERGE_DELETES, replace=False)
            start = self.state["next_id"]
            self.state["next_id"] += TL_MERGE_INSERTS
            ups = self._rows(rng, upd[:TL_MERGE_UPDATES].tolist())
            ups.update(self._rows(rng, range(start, start + TL_MERGE_INSERTS)))
            dels = {int(i): head[int(i)] for i in upd[TL_MERGE_UPDATES:]}
            rows = {**ups, **dels}
            flags = [i in dels for i in rows]
            return ups, dels, self._frame(spark, rows, {"_delete": flags})

        def merge(spark, staged):
            ups, dels, df = staged
            tf.tf_merge(spark, path, df, "id")
            snap = self._head()
            snap.update(ups)
            for i in dels:
                snap.pop(i, None)
            self._commit(snap)

        def head_read(spark):
            return tf.tf_read(spark, path)

        def travel(spark):
            head = tf.latest_version(path)
            return tf.tf_read(spark, path, version=max(0, head - 1 - int(rng.integers(0, 6))))

        def changes(spark):
            head = tf.latest_version(path)
            return tf.tf_changes(spark, path, max(0, head - 3), head)

        # the change feed comes last and covers exactly this pass's commits
        return [
            Op("append", "tf", append, "commit", append_prep),
            Op("read_head", "tf", head_read),
            Op("delete", "tf", delete, "commit"),
            Op("read_travel", "tf", travel),
            Op("update", "tf", update, "commit"),
            Op("merge", "tf", merge, "commit", merge_prep),
            Op("read_head2", "tf", head_read),
            Op("read_changes", "tf", changes),
        ]

    def _read_model(self, spark, version: int) -> list[str]:
        from fluent_bit_filter_math_spark.sources.table_format import tf_read

        got = tf_read(spark, self.state["path"], version=version).select(*TL_COLS).toPandas()
        want = pd.DataFrame(
            [(i, *r) for i, r in self.state["versions"][version].items()], columns=list(TL_COLS)
        ).astype({"id": "int64", "grp": "int32", "val": "float64"})
        return [f"v{version}: {p}" for p in oracle.compare_frames(got, want)]

    def check(self, spark) -> tuple[int, list[str]]:
        from fluent_bit_filter_math_spark.sources.table_format import latest_version

        head = latest_version(self.state["path"])
        problems = []
        if head != len(self.state["versions"]) - 1:
            problems.append(f"head version {head} vs model {len(self.state['versions']) - 1}")
            return 1, problems
        rng = np.random.default_rng([self.seed, 12])
        picks = sorted({head, *rng.integers(0, head + 1, 3).tolist()})
        for v in picks:
            problems += self._read_model(spark, int(v))
        return len(picks), problems

    def tf_counts(self) -> dict:
        from fluent_bit_filter_math_spark.sources.table_format import (
            latest_checkpoint,
            latest_version,
        )

        path = self.state["path"]
        head = latest_version(path)
        ckpts = 0
        v = head
        while v >= 0:
            found = latest_checkpoint(path, v)
            if found is None:
                break
            ckpts += 1
            v = found[0] - 1
        return {"log_versions": head + 1, "checkpoints": ckpts}


WORKLOADS = {"fold": Fold, "table_log": TableLog, "llm_ops": LlmOps}
