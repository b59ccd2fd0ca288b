"""The context-scoped memo (fluent_bit_filter_math_spark/memo.py): its
key, scope and single release path, and the defects that path closed
(stale bucketed tables, leaked PPR checkpoint blocks, a predictable
temp path, a context-blind vector-expression cache)."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import stat
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo
from tests.conftest import SF_ORACLE, SF_SMALL

PKG = pathlib.Path(memo.__file__).resolve().parent


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty memo, so stub contexts never drop the shared session's
    real entries; the real state comes back at teardown."""
    monkeypatch.setattr(memo, "_ENTRIES", {})
    monkeypatch.setattr(memo, "_CONTEXT", None)


class _Ctx:
    """A stand-in SparkContext: the memo reads only applicationId."""

    def __init__(self, app: str):
        self.applicationId = app


def test_memo_dicts_live_only_in_memo_module():
    # table_format's folded log states are per table, not per Spark
    # context: one cache keyed by table path, validated on every use.
    allowed = {("sources/table_format.py", "_STATE_CACHE")}
    pat = re.compile(r"^_[A-Z0-9_]*_(CACHE|DIRS|SPLITS)$")
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "memo.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and pat.match(t.id)
                    and (rel, t.id) not in allowed
                ):
                    found.append(f"{rel}:{node.lineno} {t.id}")
    assert found == []


def test_context_change_drops_and_releases_old_entries(fresh_memo, tmp_path):
    old, new = _Ctx("app-old"), _Ctx("app-new")
    d = memo.get(old, "layout", str(tmp_path), lambda: memo.private_dir("t"))
    assert memo.get(old, "layout", str(tmp_path), pytest.fail) == d
    e = memo.get(new, "layout", str(tmp_path), lambda: memo.private_dir("t"))
    assert e != d
    assert not os.path.exists(d)  # released on the new context's first call
    assert all(k[0] == "app-new" for k in memo._ENTRIES)


def test_key_release_and_revalidation(fresh_memo, tmp_path, monkeypatch):
    ctx = _Ctx("app")
    monkeypatch.chdir(tmp_path)
    os.makedirs("sf_a")
    os.makedirs("sf_b")
    a = memo.get(ctx, "layout", "sf_a", lambda: memo.private_dir("t"))
    # the key holds abspath(sf_dir): two spellings are one fixture
    assert memo.get(ctx, "layout", "./sf_a/", pytest.fail) == a
    b = memo.get(ctx, "layout", "sf_b", lambda: memo.private_dir("t"))
    other = memo.get(ctx, "other", "sf_a", lambda: memo.private_dir("t"))
    memo.release(ctx, "layout", str(tmp_path / "sf_a"))
    assert not os.path.exists(a)
    assert os.path.isdir(b) and os.path.isdir(other)
    # an entry whose dir was swept behind the memo's back is rebuilt
    os.rmdir(b)
    b2 = memo.get(ctx, "layout", "sf_b", lambda: memo.private_dir("t"))
    assert b2 != b and os.path.isdir(b2)
    # a failed `valid` check releases and rebuilds too
    b3 = memo.get(
        ctx, "layout", "sf_b", lambda: memo.private_dir("t"),
        valid=lambda _: False,
    )
    assert b3 != b2 and not os.path.exists(b2)
    memo.release_all(ctx)
    assert memo._ENTRIES == {}
    assert not os.path.exists(b3) and not os.path.exists(other)


def test_concurrent_gets_keep_one_entry_per_key(fresh_memo):
    """overlap() runs builders on threads: racing misses on one key
    must all return the kept entry and release every losing build."""
    ctx = _Ctx("app")
    built = []

    def build():
        built.append(memo.private_dir("race"))
        return built[-1]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [
                pool.submit(memo.get, ctx, "layout", f"sf{i % 4}", build)
                for i in range(64)
            ]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    kept = {i % 4: set() for i in range(4)}
    for i, d in enumerate(got):
        kept[i % 4].add(d)
    assert all(len(v) == 1 for v in kept.values())
    survivors = {d for d in built if os.path.isdir(d)}
    assert survivors == set().union(*kept.values())
    memo.release_all(ctx)


def test_bucketed_tables_follow_the_fixture(spark):
    """Alternating fixtures in one session must not read the other
    fixture's bucketed tables."""
    from fluent_bit_filter_math_spark.operators.storage import (
        join_bucketed_colocated,
    )

    def rows(sf):
        return sorted(map(tuple, join_bucketed_colocated(spark, sf).collect()))

    small = rows(SF_SMALL)
    large = rows(SF_ORACLE)
    assert large != small
    assert rows(SF_SMALL) == small


def test_release_ppr_ranks_frees_checkpoint_blocks(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.graph import (
        _ppr_ranks,
        release_ppr_ranks,
    )

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    release_ppr_ranks(spark, sf_dir)
    ranks = _ppr_ranks(spark, sf_dir)
    rid = ranks._jdf.queryExecution().analyzed().rdd().id()
    assert rid in persistent_ids()
    release_ppr_ranks(spark, sf_dir)
    assert rid not in persistent_ids()


def test_evolving_events_dir_is_private(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.storage import (
        _evolving_events_path,
    )

    path = _evolving_events_path(spark, sf_dir)
    assert not os.path.basename(path).startswith(f"fbm-evolve-{os.getpid()}-")
    assert stat.S_IMODE(os.stat(path).st_mode) == 0o700


def test_vec_expr_cache_is_context_scoped(spark, fresh_memo, monkeypatch):
    from pyspark import SparkContext

    from fluent_bit_filter_math_spark.functions import dot

    sc = spark.sparkContext
    mine = dot("a", "b")
    assert dot("a", "b") is mine

    class OtherContext:
        """A second application's context over the same JVM."""

        applicationId = "local-other-context"

        def __getattr__(self, name):
            return getattr(sc, name)

    monkeypatch.setattr(SparkContext, "_active_spark_context", OtherContext())
    theirs = dot("a", "b")
    assert theirs is not mine
    assert {k[0] for k in memo._ENTRIES} == {"local-other-context"}


def test_vec_expr_cache_keys_unique_under_nested_hofs(spark):
    """The same helper text inside two lambdas must not share a cached
    Column: each embeds its own lambda variable, and a shared build
    would reference the other lambda's variable."""
    from fluent_bit_filter_math_spark.functions import cosine, dot, norm

    df = spark.createDataFrame(
        [([[1.0, 2.0]], [[3.0, 4.0]], [1.0, 1.0])],
        "m1 array<array<double>>, m2 array<array<double>>, u array<double>",
    )
    built = [
        F.transform(m, lambda r: fn(r, "u"))
        for m in ("m1", "m2")
        for fn in (dot, cosine)
    ] + [F.transform(m, lambda r: norm(r)) for m in ("m1", "m2")]
    got = df.select(*[c.alias(f"c{i}") for i, c in enumerate(built)]).first()
    assert got.c0 == [3.0] and got.c2 == [7.0]
    assert got.c1 == [pytest.approx(3 / (5**0.5 * 2**0.5))]
    assert got.c3 == [pytest.approx(7 / (5 * 2**0.5))]
    assert got.c4 == [pytest.approx(5**0.5)] and got.c5 == [5.0]


def test_stream_source_link_dir_is_one_per_file(spark, tmp_path, monkeypatch):
    """A single-file stream source gets one symlink dir per context and
    file, however often it is replayed, and release removes it."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluent_bit_filter_math_spark.pipeline import read_events_stream

    src = tmp_path / "events.parquet"
    pq.write_table(pa.table({"event_id": [1, 2]}), src)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    for _ in range(2):
        read_events_stream(spark, str(src))
    assert len(list(tmp.glob("fbm-stream-src-*"))) == 1
    memo.release(spark, "stream_src")
    assert list(tmp.glob("fbm-stream-src-*")) == []


def test_warehouse_is_private_and_made_only_for_a_new_context(
    spark, monkeypatch
):
    from fluent_bit_filter_math_spark.session import get_spark

    path = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    if "SPARK_GRAFT_WAREHOUSE" not in os.environ:
        assert os.path.basename(path).startswith("fbm-warehouse-")
        assert stat.S_IMODE(os.stat(path).st_mode) == 0o700
    monkeypatch.setattr(memo, "private_dir", pytest.fail)
    assert get_spark("fbm-spark-tests", "local[4]", 4) is spark
