"""The table format's commit-log fold.

* Every way of resolving a version's state agrees: warm through the
  state cache, with the cache cleared, with checkpoints rewritten to the
  pre-DV form, and with every checkpoint deleted (seeded random op
  sequences over every commit action).
* Each operation reads each commit file at most once.
* A cached state never outlives the table it was folded from, and
  concurrent folds never replace it with a shorter one.
* Vacuum sweeps orphan publish temp files; a filesystem without hard
  links fails the commit loudly and leaves the table unchanged.
* The change feed composes: a snapshot plus a window's changes is the
  next snapshot, and the batch feed and the change-feed stream reader
  emit the same rows. Building the batch feed starts no Spark job, and
  forcing it runs a fixed number, however long the range.
"""

from __future__ import annotations

import errno
import glob
import json
import os
import random
import shutil
import sys
import threading
import time
import uuid
from collections import Counter

import pyspark.sql.functions as F
import pytest

from fluent_bit_filter_math_spark.sources import table_format as tf

_KINDS = (
    "append",
    "append_batch",
    "delete",
    "update",
    "merge",
    "merge_txn",
    "overwrite",
    "restore",
    "compact",
    "constraint",
    "rename",
    "add_column",
    "drop_column",
    "widen",
)


def _clear_state_cache() -> None:
    if hasattr(tf, "_STATE_CACHE"):
        tf._STATE_CACHE.clear()
    else:  # the per-feature caches the fold replaced
        for name in (
            "_PROTO_CACHE",
            "_CONSTRAINT_CACHE",
            "_MAPPING_CACHE",
            "_BATCH_ID_CACHE",
        ):
            getattr(tf, name).clear()


def _views(t: str, v: int) -> dict:
    """Everything the log says about version *v*. Runs against the fold
    (``_state``) or, where it is absent, against the per-feature
    replays it replaced, which expose constraints and txn ids at the
    head only."""
    head = tf.latest_version(t)
    out: dict = {
        "files": sorted((rel, dv) for rel, _, dv in tf._resolve(t, v)[0]),
        "mapping": tf.tf_column_mapping(t, version=v),
        "reader": tf.required_reader_version(t, v),
    }
    if hasattr(tf, "_state"):
        s = tf._state(t, v, gate=False)
        out.update(
            schema=s.schema,
            live=dict(s.live),
            added=list(s.added.items()),
            dropped=set(s.dropped),
            widened=dict(s.widened),
            constraints=dict(s.constraints),
            batch_ids=set(s.batch_ids),
            merge_txn_ids=set(s.merge_txn_ids),
        )
    else:
        schema, live = tf._resolve_live(t, v)
        added, dropped = tf._schema_ops(t, v)
        out.update(
            schema=schema,
            live=live,
            added=list(added.items()),
            dropped=set(dropped),
            widened=tf._widened(t, v),
        )
    if v == head:
        out.update(
            head_constraints=tf.tf_constraints(t),
            head_batch_ids=tf.committed_batch_ids(t),
            head_merge_txn_ids=tf.committed_merge_txn_ids(t),
        )
    return out


def _all_views(t: str) -> list[dict]:
    return [_views(t, v) for v in range(tf.latest_version(t) + 1)]


class _RandomTable:
    """Drives one seeded sequence of table operations; ``cols`` is the
    current logical schema the writers must follow."""

    def __init__(self, spark, t: str, seed: int):
        self.spark, self.t = spark, t
        self.rng = random.Random(seed)
        self.cols = {"k": "bigint", "g": "int", "v": "double", "s": "string"}
        self.vcol = "v"  # the double column updates target; renamed over time
        self.next_k = 0
        self.epoch = 0
        self.n_names = 0
        self.widened = False

    def _value(self, col: str, typ: str, k: int):
        if col == "k":
            return k
        if typ in ("int", "bigint"):
            return self.rng.randint(0, 5)
        if typ == "double":
            return float(self.rng.randint(0, 999)) / 4
        return f"s{k % 7}"

    def frame(self, keys, extra=None):
        cols = dict(self.cols, **(extra or {}))
        rows = [
            tuple(
                self.rng.random() < 0.5 if c == "_delete"
                else self._value(c, typ, k)
                for c, typ in cols.items()
            )
            for k in keys
        ]
        ddl = ", ".join(f"`{c}` {typ}" for c, typ in cols.items())
        return self.spark.createDataFrame(rows, ddl)

    def new_keys(self, n: int):
        keys = list(range(self.next_k, self.next_k + n))
        self.next_k += n
        return keys

    def fresh_name(self, stem: str) -> str:
        self.n_names += 1
        return f"{stem}{self.n_names}"

    def run(self, kind: str) -> None:
        rng, t, spark = self.rng, self.t, self.spark
        head = tf.latest_version(t)
        if kind == "append":
            tf.tf_append(self.frame(self.new_keys(3)), t)
        elif kind == "append_batch":
            if self.epoch and rng.random() < 0.3:
                # a replayed epoch commits nothing
                replay = rng.randrange(self.epoch)
                assert tf.tf_append_batch(
                    self.frame(self.new_keys(2)), t, replay
                ) is None
            else:
                tf.tf_append_batch(
                    self.frame(self.new_keys(2)), t, self.epoch
                )
                self.epoch += 1
        elif kind == "delete":
            x = rng.randrange(max(1, self.next_k))
            pred = ("k", "<", x) if rng.random() < 0.5 else ("k", "=", x)
            tf.tf_delete(spark, t, [pred])
        elif kind == "update":
            tf.tf_update(
                spark,
                t,
                [("k", ">=", rng.randrange(max(1, self.next_k)))],
                {self.vcol: F.col(self.vcol) + F.lit(1.0)},
            )
        elif kind in ("merge", "merge_txn"):
            keys = sorted(
                set(rng.sample(range(max(4, self.next_k)), 3))
                | set(self.new_keys(1))
            )
            tf.tf_merge(
                spark,
                t,
                self.frame(keys, {"_delete": "boolean"}),
                "k",
                batch_id=rng.randrange(3) if kind == "merge_txn" else None,
            )
        elif kind == "overwrite":
            tf.tf_overwrite(self.frame(self.new_keys(4)), t)
        elif kind == "restore":
            if head > 0:
                tf.tf_restore(t, rng.randrange(head))
        elif kind == "compact":
            tf.tf_compact(spark, t)
        elif kind == "constraint":
            if "k_nonneg" in tf.tf_constraints(t):
                tf.tf_drop_constraint(t, "k_nonneg")
            else:
                tf.tf_set_constraint(spark, t, "k_nonneg", "k >= 0")
        elif kind == "rename":
            new = self.fresh_name("v")
            tf.tf_rename_column(t, self.vcol, new)
            self.cols = {
                (new if c == self.vcol else c): typ
                for c, typ in self.cols.items()
            }
            self.vcol = new
        elif kind == "add_column":
            name = self.fresh_name("x")
            tf.tf_add_column(t, name, "int")
            self.cols[name] = "int"
        elif kind == "drop_column":
            keep = ("k", "g", self.vcol)
            droppable = [c for c in self.cols if c not in keep]
            if droppable:
                name = rng.choice(droppable)
                tf.tf_drop_column(t, name)
                del self.cols[name]
        elif kind == "widen":
            if not self.widened:
                tf.tf_widen_column(t, "g", "bigint")
                self.widened = True


def _rewrite_checkpoints_pre_dv(t: str) -> None:
    """The checkpoint form a build without deletion vectors wrote:
    2-element live entries, nothing but live and schema. A checkpoint
    whose live set carries a DV could not have been written by such a
    build, so it is removed instead."""
    for p in glob.glob(os.path.join(t, "_log", "*.checkpoint.json")):
        with open(p) as f:
            state = json.load(f)
        os.remove(p)
        if any(e[2] for e in state["live"].values()):
            continue
        with open(p, "w") as f:
            json.dump(
                {
                    "version": state["version"],
                    "live": {r: e[:2] for r, e in state["live"].items()},
                    "schema": state["schema"],
                },
                f,
            )


def _random_table(spark, t: str, seed: int) -> None:
    """One seeded sequence of 25 operations that uses every kind."""
    table = _RandomTable(spark, t, seed)
    kinds = list(_KINDS) + [
        table.rng.choice(_KINDS) for _ in range(25 - len(_KINDS))
    ]
    table.rng.shuffle(kinds)
    table.run("append")
    for kind in kinds:
        table.run(kind)


@pytest.mark.parametrize("seed", [7, 19, 31])
def test_every_resolution_path_agrees(spark, tmp_path, seed):
    t = str(tmp_path / "t")
    _random_table(spark, t, seed)
    assert glob.glob(os.path.join(t, "_log", "*.checkpoint.json"))
    assert os.listdir(os.path.join(t, "_dv"))

    warm = _all_views(t)
    _clear_state_cache()
    cold = _all_views(t)
    _rewrite_checkpoints_pre_dv(t)
    _clear_state_cache()
    pre_dv = _all_views(t)
    for p in glob.glob(os.path.join(t, "_log", "*.checkpoint.json")):
        os.remove(p)
    _clear_state_cache()
    bare = _all_views(t)
    for v, want in enumerate(bare):
        assert warm[v] == want, f"warm cache differs at version {v}"
        assert cold[v] == want, f"cold cache differs at version {v}"
        assert pre_dv[v] == want, f"pre-DV checkpoints differ at {v}"


def test_recreated_table_path_starts_clean(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    tf.tf_append_batch(df, t, 0)
    tf.tf_append_batch(df, t, 1)
    tf.tf_rename_column(t, "v", "w")
    assert tf.committed_batch_ids(t) == {0, 1}
    assert tf.tf_column_mapping(t) == {"w": "v"}
    shutil.rmtree(t)
    tf.tf_append(df, t)
    assert tf.committed_batch_ids(t) == set()
    assert tf.tf_column_mapping(t) == {}
    assert tf.tf_append_batch(df, t, 0) == 1
    assert tf.tf_read(spark, t).count() == 2


def test_each_operation_reads_each_commit_once(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")

    def rows(lo, n=4):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            F.col("id").cast("double").alias("v"),
        ).coalesce(1)

    for i in range(tf._CKPT_EVERY + 2):
        tf.tf_append(rows(4 * i), t)
    tf.tf_delete(spark, t, [("k", "<", 2)])

    reads: list = []
    real = tf._commit

    def counting(table_path, version):
        reads.append((os.path.abspath(table_path), version))
        return real(table_path, version)

    monkeypatch.setattr(tf, "_commit", counting)

    def reads_of(label, fn) -> int:
        reads.clear()
        fn()
        twice = [k for k, n in Counter(reads).items() if n > 1]
        assert not twice, f"{label} read {twice} more than once"
        return len(reads)

    def ops():
        head = tf.latest_version(t)
        return [
            ("read head", lambda: tf.tf_read(spark, t)),
            ("read travel", lambda: tf.tf_read(spark, t, version=head - 2)),
            ("changes", lambda: tf.tf_changes(spark, t, head - 3, head)),
            ("append", lambda: tf.tf_append(rows(1000), t)),
            ("delete", lambda: tf.tf_delete(spark, t, [("k", "=", 5)])),
            (
                "update",
                lambda: tf.tf_update(
                    spark, t, [("k", "=", 6)], {"v": F.col("v") + 1.0}
                ),
            ),
            (
                "merge",
                lambda: tf.tf_merge(
                    spark,
                    t,
                    spark.createDataFrame(
                        [(7, 1, 0.5, False), (8, 1, 0.0, True)],
                        "k long, g long, v double, _delete boolean",
                    ),
                    "k",
                ),
            ),
            # keeps every snapshot: later rounds still time-travel
            ("vacuum", lambda: tf.tf_vacuum(t, 0)),
        ]

    for label, fn in ops():
        reads_of(label, fn)
    for label, fn in ops():
        _clear_state_cache()
        reads_of(f"{label} (cold cache)", fn)
    tf.tf_read(spark, t)
    assert reads_of("second head read", lambda: tf.tf_read(spark, t)) <= 1


def test_vacuum_sweeps_orphan_publish_temps(spark, tmp_path):
    t = str(tmp_path / "t")
    tf.tf_append(spark.range(5).withColumnRenamed("id", "k"), t)
    tf.tf_append(spark.range(5, 9).withColumnRenamed("id", "k"), t)
    tf.tf_pin_snapshot(t)
    head = tf.latest_version(t)
    history = tf.tf_history(t)

    def orphan(sub: str, name: str, age_s: float) -> str:
        p = os.path.join(t, sub, f"{name}.0123456789ab.inprogress")
        with open(p, "w") as f:
            f.write("{")
        then = time.time() - age_s
        os.utime(p, (then, then))
        return p

    grace = tf._INPROGRESS_GRACE_S
    old = [
        orphan("_log", os.path.basename(tf._log_path(t, head + 1)), 2 * grace),
        orphan("_pins", "pin-000000000000.json", 2 * grace),
    ]
    fresh = [
        orphan("_log", os.path.basename(tf._log_path(t, head + 2)), 0),
        orphan("_pins", "pin-111111111111.json", 0),
    ]
    tf.tf_vacuum(t, head)
    assert not any(os.path.exists(p) for p in old)
    assert all(os.path.exists(p) for p in fresh)
    assert tf.latest_version(t) == head
    assert tf.tf_history(t) == history
    assert tf.tf_read(spark, t).count() == 9


def test_concurrent_folds_keep_the_longest_state(tmp_path):
    """Threads folding different prefixes of one log at once: every
    state is right, and the cache ends on the longest prefix folded (a
    shorter one published over it would be a lost update)."""
    t = str(tmp_path / "t")
    os.makedirs(os.path.join(t, "_log"))
    n = 40
    for v in range(n):
        with open(tf._log_path(t, v), "w") as f:
            json.dump(
                {
                    "version": v,
                    "action": "append",
                    "add": [f"d/{v}.parquet"],
                    "remove": [],
                    "schema": "struct<k:bigint>",
                    "batch_id": v,
                },
                f,
            )
    errors: list = []
    asked: list = []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(100):
                v = rng.randrange(n)
                asked.append(v)
                s = tf._state(t, v)
                assert set(s.live) == {f"d/{i}.parquet" for i in range(v + 1)}
                assert s.batch_ids == set(range(v + 1))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(8)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert tf._STATE_CACHE[os.path.abspath(t)].version == max(asked)


@pytest.mark.parametrize("code", [errno.EPERM, errno.EOPNOTSUPP])
def test_publish_without_hard_links_fails_loudly(
    spark, tmp_path, monkeypatch, code
):
    t = str(tmp_path / "t")
    tf.tf_append(spark.range(5).withColumnRenamed("id", "k"), t)
    head = tf.latest_version(t)

    def no_link(src, dst):
        raise OSError(code, os.strerror(code))

    monkeypatch.setattr(tf.os, "link", no_link)
    with pytest.raises(OSError, match="hard link"):
        tf.tf_append(spark.range(5, 9).withColumnRenamed("id", "k"), t)
    monkeypatch.undo()
    assert tf.latest_version(t) == head
    assert tf.tf_read(spark, t).count() == 5
    assert not glob.glob(os.path.join(t, "**", "*.inprogress"), recursive=True)


def test_pruned_counts_match_per_value_pruned_files(spark, tmp_path):
    t = str(tmp_path / "t")
    for lo in (0, 10, 20):
        tf.tf_append(
            spark.range(lo, lo + 10)
            .select(F.col("id").alias("k"), (F.col("id") % 4).alias("b"))
            .coalesce(1),
            t,
        )
    tf.tf_rename_column(t, "k", "key")
    values = [0, 5, 15, 25, 99]
    counts, total = tf.tf_pruned_counts(t, "key", values)
    assert counts == {
        v: len(tf.tf_pruned_files(t, [("key", "=", v)])[0]) for v in values
    }
    assert total == tf.tf_pruned_files(t, [])[1] == 3
    # the renamed column still prunes by its physical stats
    assert counts[5] == 1 and counts[99] == 0


_TAGS = ("_change_type", "_commit_version")


def _bag(rows, cols) -> Counter:
    """A multiset of rows as (column, value) tuples over *cols*."""
    return Counter(tuple((c, r.get(c)) for c in cols) for r in rows)


@pytest.mark.parametrize("seed", [7, 19, 31])
def test_change_feed_composes_and_matches_the_stream(spark, tmp_path, seed):
    """(a) For every window [a, b] without a schema or rename commit,
    snapshot a-1 minus the window's deletes and preimages plus its
    inserts and postimages is snapshot b. (b) For every window the
    change-feed stream reader accepts (no schema commit), the batch feed
    equals the rows its partitions read, mapped to the feed's logical
    columns."""
    t = str(tmp_path / "t")
    _random_table(spark, t, seed)
    head = tf.latest_version(t)
    action = {h["version"]: h["action"] for h in tf.tf_history(t)}
    snaps = [
        [r.asDict() for r in tf.tf_read(spark, t, version=v).collect()]
        for v in range(head + 1)
    ]
    checked = composed = 0
    for a in range(head + 1):
        for b in range(a, head + 1):
            if action[b] == "schema":
                break  # every later window holds it too
            feed = tf.tf_changes(spark, t, a, b)
            data = [c for c in feed.columns if c not in _TAGS]
            rows = [r.asDict() for r in feed.collect()]
            if "rename" not in {action[v] for v in range(a, b + 1)}:
                net = _bag(snaps[a - 1] if a else [], data)
                net.update(
                    _bag(
                        (r for r in rows if r["_change_type"] in
                         ("insert", "update_postimage")),
                        data,
                    )
                )
                net.subtract(
                    _bag(
                        (r for r in rows if r["_change_type"] in
                         ("delete", "update_preimage")),
                        data,
                    )
                )
                assert min(net.values(), default=0) >= 0, (a, b)
                assert +net == _bag(snaps[b], data), (a, b)
                composed += 1
            s = tf._state(t, b)
            inv = {p: l for l, p in s.mapping.items()}
            reader = tf.TableFormatCdfStreamReader({"path": t})
            streamed = [
                {inv.get(k, k): x for k, x in r.items() if k not in s.dropped}
                for p in reader.partitions({"version": a - 1}, {"version": b})
                for batch in reader.read(p)
                for r in batch.to_pylist()
            ]
            tagged = data + list(_TAGS)
            assert _bag(streamed, tagged) == _bag(rows, tagged), (a, b)
            checked += 1
    assert composed >= 10 and checked >= composed


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"tf-changes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_change_feed_is_one_scan(spark, tmp_path, monkeypatch):
    """Over appends, DV deletes, updates and merges, building the feed
    starts no Spark job and sets no mergeSchema read, forcing it runs at
    most 3 jobs (the scan and the two broadcast tag frames) for 4
    commits and for 12 alike, and the columns are the data columns,
    then the tags — across an ADD COLUMN too, and in an empty range
    after a DROP COLUMN."""
    t = str(tmp_path / "t")

    def rows(lo, n=6):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            F.col("id").cast("double").alias("v"),
        ).coalesce(1)

    tf.tf_append(rows(0), t)
    for i in range(3):
        base = 100 * (i + 1)
        tf.tf_append(rows(base), t)
        tf.tf_delete(spark, t, [("k", "=", base + 1)])
        tf.tf_update(spark, t, [("k", "=", base + 2)], {"v": F.col("v") + 1.0})
        tf.tf_merge(
            spark,
            t,
            spark.createDataFrame(
                [(base + 3, 0, 0.5, False), (base + 4, 0, 0.0, True)],
                "k long, g long, v double, _delete boolean",
            ).coalesce(1),
            "k",
        )
    head = tf.latest_version(t)
    assert head == 12

    options: list = []
    real_option = type(spark.read).option

    def option(self, key, value):
        options.append(key)
        return real_option(self, key, value)

    for lo in (head - 3, head - 11):
        monkeypatch.setattr(type(spark.read), "option", option)
        feed, built = _jobs(spark, lambda: tf.tf_changes(spark, t, lo, head))
        monkeypatch.undo()
        assert built == 0, f"building [{lo}, {head}] ran {built} job(s)"
        assert "mergeSchema" not in options
        _, forced = _jobs(
            spark, lambda: feed.write.format("noop").mode("overwrite").save()
        )
        assert forced <= 3, f"forcing [{lo}, {head}] ran {forced} jobs"
        assert feed.columns == ["k", "g", "v", *_TAGS]
        kinds = {r["_change_type"] for r in feed.collect()}
        assert kinds == {"insert", "delete", "update_preimage", "update_postimage"}

    tf.tf_add_column(t, "w", "bigint")
    tf.tf_append(rows(900).withColumn("w", F.col("k")), t)
    assert tf.tf_changes(spark, t, head - 1).columns == [
        "k", "g", "v", "w", *_TAGS
    ]
    # a range of metadata commits only is empty, in the snapshot's shape
    tf.tf_drop_column(t, "g")
    assert tf.tf_changes(spark, t, tf.latest_version(t)).columns == [
        "k", "v", "w", *_TAGS
    ]
