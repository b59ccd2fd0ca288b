"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pytest

import gen
import oracle
import stats


# --- generator determinism ---------------------------------------------------
def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.events_table(gen.make_events(seed, 3000)),
        lambda seed: gen.documents_table(seed, 200),
        lambda seed: gen.lineitem_table(seed, 2000),
    ],
    ids=["events", "documents", "lineitem"],
)
def test_same_seed_same_files_other_seed_other_files(tmp_path, make):
    paths = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        paths[tag] = str(tmp_path / tag)
        gen.write_table(make(seed), paths[tag], files=3)
    assert len(os.listdir(paths["a"])) == 3
    assert _digest(paths["a"]) == _digest(paths["b"])
    assert _digest(paths["a"]) != _digest(paths["c"])


def test_events_cover_every_props_kind_and_model_matches_text():
    ev = gen.make_events(1, 5000)
    assert set(np.unique(ev.kind)) == set(range(8))
    props = gen.events_table(ev).column("props").to_pylist()
    k = ev.k_operand()
    for i in range(200):
        if ev.kind[i] == gen.K_INT:
            assert props[i] == '{"k": %d}' % k[i]
        elif ev.kind[i] in (gen.K_TEXT, gen.K_MISSING, gen.K_NULL, gen.K_BROKEN, gen.K_ARRAY):
            assert k[i] == 0.0
    assert np.all(np.diff(ev.ts_us) >= 0)


# --- the tail-percentile rule -----------------------------------------------
@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= stats.MIN_BEYOND - 1e-9


def test_tail_value_and_fallback():
    xs = list(range(1, 101))  # 100 samples -> p90
    value, p = stats.tail(xs)
    assert p == 90.0
    assert value == pytest.approx(np.percentile(xs, 90))
    assert sum(x > value for x in xs) >= stats.MIN_BEYOND
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None)


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 30.0]
    # statistics.quantiles(n=4) exclusive method: q1=10.5, q2=12, q3=21.5
    assert stats.iqr_share(xs) == pytest.approx((21.5 - 10.5) / 12.0)


# --- span self time ---------------------------------------------------------
class _Clock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_self_time_subtracts_children_once():
    # pass [0, 10]; op [1, 9]; build [2, 5]; force [5, 8]
    tr = stats.Tracer(clock=_Clock([0, 1, 2, 5, 5, 8, 9, 10]))
    with tr.span("pass", 0):
        with tr.span("op", 0):
            with tr.span("compile", 0):
                pass
            with tr.span("force", 0):
                pass
    by_name = stats.self_time_by_name(tr.spans)
    assert by_name == {"pass": 2, "op": 2, "compile": 3, "force": 3}
    assert sum(by_name.values()) == 10  # self times partition the root
    assert [s.parent for s in tr.spans] == [None, 0, 1, 1]


def test_self_time_overlapping_children_counted_as_union():
    spans = [
        stats.Span("root", 0.0, 10.0, None, 0, 0),
        stats.Span("a", 1.0, 6.0, 0, 0, 1),
        stats.Span("b", 4.0, 8.0, 0, 0, 2),
        stats.Span("c", 9.0, 12.0, 0, 0, 3),  # clipped to the parent
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10 - 7 - 1)


# --- RSS sampler ------------------------------------------------------------
def _fake_proc(root, pid, ppid, name, hwm_kb, cmd):
    d = root / str(pid)
    d.mkdir()
    # VmRSS below the peak: the sampler must read the peak, not the current RSS
    (d / "status").write_text(
        f"Name:\t{name}\nPPid:\t{ppid}\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t{hwm_kb // 2} kB\n"
    )
    (d / "cmdline").write_bytes(cmd.replace(" ", "\0").encode())


def test_rss_sampler_sums_tree_peaks_by_role_and_keeps_peak(tmp_path):
    _fake_proc(tmp_path, 100, 1, "python3", 1024, "python3 run.py")
    _fake_proc(tmp_path, 200, 100, "java", 4096, "/usr/bin/java -cp x")
    _fake_proc(tmp_path, 300, 200, "python3", 2048, "python3 -m pyspark.daemon")
    _fake_proc(tmp_path, 301, 300, "python3", 512, "python3 -m pyspark.daemon")
    _fake_proc(tmp_path, 400, 1, "java", 99_999, "java other")  # not ours
    s = stats.RssSampler(root=100, proc=str(tmp_path))
    assert s.sample() == pytest.approx((1024 + 4096 + 2048 + 512) / 1024)
    assert s.peak_split == {"driver": 1.0, "jvm": 4.0, "workers": 2.5}
    shutil.rmtree(tmp_path / "301")  # a worker exits
    assert s.sample() == pytest.approx(7.0)
    assert s.peak_mb == pytest.approx(7.5)
    assert s.samples == 2


def test_rss_sampler_reads_this_process_and_peak_resets():
    s = stats.RssSampler()
    big = b"x" * (64 << 20)
    del big
    before = s.sample()
    stats.reset_own_peak()
    after = stats.RssSampler().sample()
    assert after > 1.0
    assert after < before - 32  # the 64 MB buffer no longer counts
    assert s.peak_split["driver"] > 1.0


# --- the fold reference -----------------------------------------------------
def test_fold_reference_null_and_passthrough_rules():
    ev = gen.Events(
        event_id=np.arange(4, dtype=np.int64),
        ts_us=np.zeros(4, dtype=np.int64),
        user_id=np.zeros(4, dtype=np.int64),
        event_type=np.array(["a"] * 4),
        value=np.array([7.5, 7.5, 7.5, -2.5]),
        kind=np.array([gen.K_INT, gen.K_INT, gen.K_BROKEN, gen.K_UPPER]),
        k=np.array([2.0, 0.0, 9.0, 4.0]),
    )
    ref = oracle.fold_reference(ev)
    assert ref["used_plus_total"].tolist() == [9.0, 7.0, 7.0, 1.0]
    assert np.isnan(ref["used_div_total"][1]) and ref["used_div_total"][0] == 3.75
    assert ref["used_minus_total"][2] == 7.5  # broken payload folds as k = 0
    pt = oracle.fold_reference(ev, passthrough=True)
    assert np.isnan(pt["used_times_total"][2]) and pt["used_times_total"][3] == -10.0
    got = pd.DataFrame({"event_id": ev.event_id, **ref})
    assert oracle.check_fold(ev, got) == []
    got.loc[0, "used_minus_total"] = 5.0
    assert oracle.check_fold(ev, got) != []
