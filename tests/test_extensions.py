"""Edge-case invariants for the extension operators (the oracle gate
covers the happy path at sf0.01; these pin the boundaries it can't)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _shingles,
)
from fluent_bit_filter_math_spark.operators.temporal import asof_join


def test_shingles_short_docs_are_empty(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", _shingles(F.split("text", " ")).alias("sh")
        ).collect()
    }
    assert rows[1] == []
    assert rows[2] == []
    assert rows[3] == ["a b c", "b c d"]


def test_asof_join_no_match_carries_null(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 5, 200)], "user_id long, ts long, event_id long"
    )
    right = spark.createDataFrame(
        [(1, 8, 7.5)], "user_id long, ts long, v double"
    )
    out = {
        r.user_id: r.v
        for r in asof_join(left, right, "user_id", "ts", "ts", ["v"]).collect()
    }
    assert out == {1: 7.5, 2: None}


def test_asof_join_tie_matches(spark):
    # Equal timestamps match: <= semantics, like DuckDB's ASOF JOIN.
    left = spark.createDataFrame([(1, 10, 1)], "user_id long, ts long, e long")
    right = spark.createDataFrame(
        [(1, 10, 9.9)], "user_id long, ts long, v double"
    )
    out = asof_join(left, right, "user_id", "ts", "ts", ["v"]).collect()
    assert out[0].v == 9.9


def test_asof_join_picks_latest_not_any(spark):
    left = spark.createDataFrame([(1, 10, 1)], "user_id long, ts long, e long")
    right = spark.createDataFrame(
        [(1, 3, 1.0), (1, 7, 2.0), (1, 11, 3.0)],
        "user_id long, ts long, v double",
    )
    out = asof_join(left, right, "user_id", "ts", "ts", ["v"]).collect()
    assert out[0].v == 2.0  # latest at-or-before ts=10, not 3.0 (future)


def test_y4m_roundtrip_parses_synthesized_container():
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _y4m_build,
        _y4m_parse,
    )

    for payload in (b"", b"x", b"hello world" * 50, bytes(range(256))):
        n = len(payload)
        assert _y4m_parse(_y4m_build(payload)) == (
            4 + n % 16,
            4 + n % 12,
            n % 10 + 1,
        )


def test_y4m_parse_rejects_corrupt_containers():
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _y4m_build,
        _y4m_parse,
    )

    with pytest.raises(ValueError):
        _y4m_parse(b"JUNK\nFRAME\n")  # bad magic
    with pytest.raises(ValueError):
        _y4m_parse(_y4m_build(b"abc")[:-1])  # truncated planes
    with pytest.raises(ValueError):
        # odd dims are illegal under 4:2:0 subsampling
        _y4m_parse(b"YUV4MPEG2 W3 H3 F30:1 C420\nFRAME\n" + b"\x00" * 14)


def test_jaccard_threshold_in_safe_gap():
    # The fixture's pair Jaccards cluster near 0.98 (planted near-dups)
    # and below 0.07 (noise); the threshold must sit inside that gap so
    # float noise can never flip a pair across it.
    assert 0.1 < JACCARD_THRESHOLD < 0.9


def test_interpolate_on_grid_edges(spark):
    """Pin all four bracket regimes of the interpolation kernel on a
    handcrafted series: NULL before the first observation, exact value
    at an exact-hit grid point, linear value between brackets, LOCF
    after the last observation."""
    from fluent_bit_filter_math_spark.operators.temporal import (
        interpolate_on_grid,
    )

    obs = spark.createDataFrame(
        [("a", "2024-01-01 01:00:00", 10.0),
         ("a", "2024-01-01 03:00:00", 30.0),
         ("b", "2024-01-01 02:30:00", 5.0)],
        "k string, ts string, value double",
    ).select("k", F.to_timestamp("ts").alias("ts"), "value")
    grid = spark.createDataFrame(
        [(k, f"2024-01-01 0{h}:00:00") for k in ("a", "b") for h in range(5)],
        "k string, ts string",
    ).select("k", F.to_timestamp("ts").alias("ts"))
    out = {
        (r.k, r.ts.strftime("%H:%M")): r.interp_value
        for r in interpolate_on_grid(obs, grid, key="k").collect()
    }
    assert out[("a", "00:00")] is None          # before first obs
    assert out[("a", "01:00")] == 10.0          # exact hit
    assert out[("a", "02:00")] == 20.0          # midpoint interpolation
    assert out[("a", "03:00")] == 30.0          # exact hit on last obs
    assert out[("a", "04:00")] == 30.0          # LOCF past last obs
    assert out[("b", "01:00")] is None          # before first obs
    assert out[("b", "03:00")] == 5.0           # LOCF (single observation)


def test_png_roundtrip_recovers_exact_pixels():
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _PNG_H_MOD,
        _PNG_W_MOD,
        _png_build,
        _png_parse,
    )

    for payload in (b"", b"x", b"hello world" * 50, bytes(range(256))):
        n = len(payload)
        w, h = 4 + n % _PNG_W_MOD, 2 + n % _PNG_H_MOD
        src = payload if payload else b"\x00"
        plane = (src * (w * h // len(src) + 1))[: w * h]
        expect = (
            w,
            h,
            w * h,
            sum(plane),
            sum((i + 1) * b for i, b in enumerate(plane)),
        )
        # h ≥ 2 exercises filters None+Sub at least; the fixture docs
        # (n ≥ 44) always hit all five.
        assert _png_parse(_png_build(payload)) == expect


def test_png_parse_rejects_corrupt_containers():
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _png_build,
        _png_parse,
    )

    blob = _png_build(b"some document text " * 4)
    with pytest.raises(ValueError):
        _png_parse(b"NOTAPNG" + blob[7:])  # bad signature
    with pytest.raises(ValueError):
        _png_parse(blob[:-4])  # truncated IEND CRC
    corrupt = bytearray(blob)
    corrupt[40] ^= 0xFF  # flip an IDAT byte → CRC mismatch
    with pytest.raises(ValueError):
        _png_parse(bytes(corrupt))


def test_jpeg_metadata_roundtrip_and_corrupt_rejection():
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _jpeg_build,
        _jpeg_parse_metadata,
    )

    for doc_id, payload in ((0, b"abc def " * 12), (7, b"x"), (13, b"")):
        n = len(payload)
        got = _jpeg_parse_metadata(_jpeg_build(doc_id, payload))
        assert got == (
            1, 2, 72 + doc_id % 5, 72 + n % 7,
            16 + n % 240, 16 + doc_id % 200, 1 + (doc_id + n) % 2 * 2,
        )
    blob = _jpeg_build(3, b"some text " * 8)
    with pytest.raises(ValueError):
        _jpeg_parse_metadata(b"\x00\x00" + blob[2:])  # missing SOI
    with pytest.raises(ValueError):
        _jpeg_parse_metadata(blob[:-2])  # missing EOI
    with pytest.raises(ValueError):
        _jpeg_parse_metadata(blob[:-1])  # truncated marker
    corrupt = bytearray(blob)
    corrupt[5] = 0xFF  # APP0 length low byte → segment overruns buffer
    with pytest.raises(ValueError):
        _jpeg_parse_metadata(bytes(corrupt))
    misframed = bytearray(blob)
    misframed[5] = 0x05  # short APP0 → walk lands mid-identifier
    with pytest.raises(ValueError):
        _jpeg_parse_metadata(bytes(misframed))


def test_ulaw_decode_matches_reference_values():
    """Pin the expansion against independently computed G.711 values:
    the canonical table's extremes and midpoints (codeword → 13-bit
    linear magnitude under the (2m+33)<<e − 33 convention)."""
    import numpy as np
    import pandas as pd

    from fluent_bit_filter_math_spark.operators.multimodal import (
        _ulaw_decode_batches,
    )

    # code 0xFF → u=0 → +((0+33)<<0)-33 = 0; code 0x7F → u=128 → -0
    # code 0x00 → u=255 → sign, exp 7, man 15 → -(63<<7 - 33) = -8031
    # code 0x80 → u=127 → +8031; code 0xEF → u=16 → +((33<<1)-33) = 33
    payload = bytes([0xFF, 0x7F, 0x00, 0x80, 0xEF])
    [out] = list(
        _ulaw_decode_batches(
            iter([pd.DataFrame({"asset_id": [1], "payload": [payload]})])
        )
    )
    code = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    u = 255 - code
    mag = ((2 * (u & 0x0F) + 33) << ((u >> 4) & 7)) - 33
    pcm = np.where(u & 0x80, -mag, mag)
    assert list(pcm) == [0, 0, -8031, 8031, 33]
    assert out.iloc[0]["n_samples"] == 5
    assert out.iloc[0]["sum_sq"] == int((pcm * pcm).sum())
    assert out.iloc[0]["min_pcm"] == -8031
    assert out.iloc[0]["max_pcm"] == 8031


def test_span_dedup_flags_only_corpus_duplicated_spans(spark):
    import pandas as pd

    from fluent_bit_filter_math_spark.operators import dedup as dd

    words = [f"w{i}" for i in range(12)]
    shared = " ".join(words[:8])  # one 8-gram, present in docs 0 and 1
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    shared + " tail0 tail1 tail2 tail3",
                    "head0 " + shared,
                    " ".join(words[4:12]),  # unique span
                ],
                "lang": ["en"] * 3,
                "source": ["s"] * 3,
                "n_chars": [1] * 3,
            }
        )
    )
    import fluent_bit_filter_math_spark.sources as src

    orig = src.table
    try:
        src.table = lambda _s, _d, name: docs
        dd.table = src.table
        out = {
            r["doc_id"]: r
            for r in dd.dedup_span_corpus(spark, "ignored").collect()
        }
    finally:
        src.table = orig
        dd.table = orig
    # doc 0: 5 spans (12 words), only position 1 (the shared gram) dup
    assert (out[0]["n_spans"], out[0]["n_dup_spans"]) == (5, 1)
    assert bool(out[0]["keep"]) is True  # 1*4 < 5
    # doc 1: 2 spans, the second is the shared gram → 50% dup → drop
    assert (out[1]["n_spans"], out[1]["n_dup_spans"]) == (2, 1)
    assert bool(out[1]["keep"]) is False
    # doc 2: single unique span
    assert (out[2]["n_spans"], out[2]["n_dup_spans"]) == (1, 0)
    assert bool(out[2]["keep"]) is True


def test_bpe_string_encoding_matches_token_tuple_reference():
    """The chr(31)-string merge (double-separator boundary-anchored
    replace) must reproduce reference token-tuple BPE (Sennrich ACL
    2016) merge-for-merge. 15 rounds on the real fixture vocabulary —
    well past round 13, where the naive single-separator encoding
    measurably diverges (pair (a,s) matching the 's' prefix of token
    'st' in 'fast')."""
    import collections

    import duckdb

    words = collections.Counter()
    for (t,) in duckdb.sql(
        "SELECT text FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall():
        for w in t.split(" "):
            if w:
                words[w] += 1

    SEP = "\x1f"
    SEP2 = SEP + SEP

    # reference: token tuples, merge leftmost-nonoverlapping
    ref_toks = {w: tuple(w) for w in words}
    # engine encoding: double-sep padded string, replace()-based merge
    str_toks = {w: SEP2 + SEP2.join(w) + SEP2 for w in words}

    for rnd in range(1, 16):
        # reference pair count + argmax
        pc = collections.Counter()
        for w, cnt in words.items():
            ts = ref_toks[w]
            for a, b in zip(ts, ts[1:]):
                pc[(a, b)] += cnt
        (ra, rb), rcnt = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]

        # string-encoding pair count + argmax (mirrors the SQL exactly)
        sc = collections.Counter()
        for w, cnt in words.items():
            parts = [x for x in str_toks[w].split(SEP2) if x != ""]
            for a, b in zip(parts, parts[1:]):
                sc[(a, b)] += cnt
        (sa, sb), scnt = sorted(
            sc.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]

        assert (ra, rb, rcnt) == (sa, sb, scnt), f"round {rnd} winner"

        # apply the merge both ways
        for w in words:
            ts = ref_toks[w]
            out = []
            i = 0
            while i < len(ts):
                if i + 1 < len(ts) and ts[i] == ra and ts[i + 1] == rb:
                    out.append(ra + rb)
                    i += 2
                else:
                    out.append(ts[i])
                    i += 1
            ref_toks[w] = tuple(out)
            str_toks[w] = str_toks[w].replace(
                SEP + ra + SEP2 + rb + SEP, SEP + ra + rb + SEP
            )
            got = tuple(
                x for x in str_toks[w].split(SEP2) if x != ""
            )
            assert got == ref_toks[w], (
                f"round {rnd} tokenization of {w!r}: {got} != {ref_toks[w]}"
            )


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc wholly embedded in a long one: containment = 1.0
    (caught) while Jaccard = |a|/|b| sits far below the symmetric
    threshold (missed) — the asymmetry that justifies the operator."""
    import pandas as pd

    from fluent_bit_filter_math_spark.operators import dedup as dd

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"pad{i}" for i in range(40))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [short, short + " " + filler, filler],
                "lang": ["en"] * 3,
                "source": ["s"] * 3,
                "n_chars": [1] * 3,
            }
        )
    )
    import fluent_bit_filter_math_spark.sources as src

    orig_tab = src.table
    try:
        dd.release_shingle_index(spark, "unit-test-dir")
        src.table = lambda _s, _d, name: docs
        dd.table = src.table
        pairs = dd.dedup_containment_pairs(spark, "unit-test-dir").collect()
        jacc = dd.dedup_ngram_jaccard(spark, "unit-test-dir").collect()
    finally:
        src.table = orig_tab
        dd.table = orig_tab
        dd.release_shingle_index(spark, "unit-test-dir")
    got = {(r["doc_a"], r["doc_b"]): r["containment"] for r in pairs}
    # doc 0's 4 shingles all appear in doc 1 → containment exactly 1.0
    assert got[(0, 1)] == 1.0
    # the reverse direction is far below τ and must be absent
    assert (1, 0) not in got
    # symmetric Jaccard misses the embedded pair entirely
    assert not any(
        {r["doc_a"], r["doc_b"]} == {0, 1} for r in jacc
    ), "Jaccard unexpectedly caught the asymmetric pair"


def test_misra_gries_kernel_keeps_all_true_heavy_hitters():
    """The MG kernel is lossy BY DESIGN for light items, but every item
    with local frequency > n/(K+1) must survive — the half of the
    pigeonhole argument the distributed guarantee stands on. Build a
    skewed stream with far more distinct items than counters."""
    import pandas as pd

    from fluent_bit_filter_math_spark.operators.sketches import (
        _MG_K,
        _mg_kernel,
    )

    heavy = ["hh0"] * 500 + ["hh1"] * 400 + ["hh2"] * 300
    light = [f"noise{i}" for i in range(2000)]  # 2000 singletons
    stream = heavy + light  # n = 3200, n/(K+1) ≈ 103
    out = set(
        _mg_kernel(pd.DataFrame({"word": stream}))["word"].tolist()
    )
    assert {"hh0", "hh1", "hh2"} <= out
    assert len(out) <= _MG_K


def test_triangle_participation_on_known_graph(spark):
    """Hand-built co-purchase baskets: parts {5,10,15} pairwise share
    orders (one triangle), part 20 hangs off 5 (no triangle). Every
    corner must report exactly 1; node 20 must be absent."""
    import pandas as pd

    from fluent_bit_filter_math_spark.operators import graph as g

    rows = [
        (1, 5), (1, 10),    # edge 5-10
        (2, 10), (2, 15),   # edge 10-15
        (3, 5), (3, 15),    # edge 5-15  → triangle {5,10,15}
        (4, 5), (4, 20),    # pendant edge 5-20
    ]
    li = spark.createDataFrame(
        pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    )
    import fluent_bit_filter_math_spark.sources as src

    orig = src.table
    try:
        src.table = lambda _s, _d, name: li
        g.table = src.table
        out = {
            r["node"]: r["n_triangles"]
            for r in g.graph_triangle_participation(spark, "unit").collect()
        }
    finally:
        src.table = orig
        g.table = orig
    assert out == {5: 1, 10: 1, 15: 1}


def test_kmv_merge_is_lossless():
    """KMV's merge contract: (K smallest of A) ∪ (K smallest of B),
    re-truncated to K, equals the K smallest of A ∪ B — the order-
    statistic algebra that makes cross-shard rollups lossless. Pure
    set property, pinned on adversarial overlap (shared smallest
    values, disjoint tails)."""
    import hashlib

    K = 64

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:14], 16)

    a = {h(i) for i in range(500)}
    b = {h(i) for i in range(300, 900)}  # overlaps a on [300, 500)
    kmin = lambda s: sorted(s)[:K]
    merged = kmin(set(kmin(a)) | set(kmin(b)))
    direct = kmin(a | b)
    assert merged == direct


def test_gopher_rules_python_twin(spark, sf_dir):
    """Independent pure-Python re-evaluation of every Gopher rule on the
    raw fixture text — pins the Column expressions (tokenization, regex
    counts, line splits, the 7-rule conjunction) against a third
    implementation that shares no code with Spark or the DuckDB oracle."""
    import re

    from fluent_bit_filter_math_spark.operators.text import (
        _GOPHER_STOP,
        text_gopher_rules,
    )
    from fluent_bit_filter_math_spark.sources import table

    got = {r["doc_id"]: r for r in text_gopher_rules(spark, sf_dir).collect()}
    raw = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(raw) > 0
    for row in raw:
        toks = row["text"].split(" ")
        lns = row["text"].split("\n")
        n_words = len(toks)
        mean_len = sum(len(t) for t in toks) / n_words
        alpha = sum(1 for t in toks if re.search(r"[a-z]", t)) / n_words
        symbols = len(re.findall(r"#|\.\.\.", row["text"])) / n_words
        bullet = sum(1 for l in lns if re.match(r"^[-*]", l)) / len(lns)
        ellipsis = sum(1 for l in lns if re.search(r"\.\.\.$", l)) / len(lns)
        n_stop = sum(1 for t in toks if t in _GOPHER_STOP)
        keep = (
            50 <= n_words <= 100000
            and 3.0 <= mean_len <= 10.0
            and symbols < 0.1
            and bullet < 0.9
            and ellipsis < 0.3
            and alpha > 0.8
            and n_stop >= 2
        )
        g = got[row["doc_id"]]
        assert g["n_words"] == n_words
        assert abs(g["mean_word_len"] - mean_len) < 1e-12
        assert g["n_gopher_stop"] == n_stop
        assert g["keep"] == keep, (row["doc_id"], g)


def test_priority_sample_ht_invariants(spark, sf_dir):
    """Priority-sampling invariants (Duffield-Lund-Thorup): every
    stratum keeps exactly k items ranked 1..k, each kept item's
    Horvitz-Thompson weight is >= its own weight (ht = max(w, tau)),
    and the HT sum certifies against the exact stratum total."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.sampling import (
        _PRI_K,
        sample_priority_topk,
    )

    rows = sample_priority_topk(spark, sf_dir).collect()
    by_grp = defaultdict(list)
    for r in rows:
        by_grp[r["event_type"]].append(r)
        assert r["ht_fp"] >= r["w"] * 1_000_000
        assert r["approx_ok"]
    for grp, rs in by_grp.items():
        assert sorted(r["rn"] for r in rs) == list(range(1, _PRI_K + 1)), grp
        # one shared tau: all rows where ht > w carry the SAME ht
        taus = {r["ht_fp"] for r in rs if r["ht_fp"] > r["w"] * 1_000_000}
        assert len(taus) <= 1, (grp, taus)


def test_theta_clip_partition_identity():
    """Theta-framework invariant: after clipping both sketches to
    th = min(theta_a, theta_b), the intersection and a-not-b samples
    PARTITION the clipped A-sample, so est_inter + est_diff equals the
    clipped-A estimate exactly — the algebra that lets a 100 TB report
    decompose overlap from the sketches alone. Pinned on adversarial
    overlap (shared head, disjoint tails), pure Python twin."""
    import hashlib

    K, M = 64, 1 << 56

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:14], 16)

    A = {h(i) for i in range(400)}
    B = {h(i) for i in range(200, 700)}
    sa, sb = sorted(A)[:K], sorted(B)[:K]
    th_a = sa[-1] if len(A) >= K else M
    th_b = sb[-1] if len(B) >= K else M
    th = min(th_a, th_b)
    clip = lambda s: {x for x in s if x < th}
    ca, cb = clip(sa), clip(sb)
    n_inter, n_diff = len(ca & set(sb)), len(ca - set(sb))
    assert n_inter + n_diff == len(ca)
    est = lambda n: n * M // th
    # and the union estimate is within 3-sigma of truth on this fixture
    n_union = len(clip(set(sa) | set(sb)))
    assert abs(est(n_union) - len(A | B)) <= 0.4 * len(A | B)


def test_mips_transform_order_equivalence(spark, sf_dir):
    """The asymmetric augmentation is a MONOTONE transform of the inner
    product, so the transform-path ranking must agree with the direct
    inner-product ranking on every emitted pair."""
    from fluent_bit_filter_math_spark.operators.similarity import (
        TOP_K,
        sim_mips_transform,
    )

    rows = sim_mips_transform(spark, sf_dir).collect()
    assert rows and all(r["agree"] for r in rows)
    assert all(r["rank_ip"] == r["rank_mips"] <= TOP_K for r in rows)


def test_ewma_matches_pandas_adjusted(spark, sf_dir):
    """The truncated fixed-point EWMA must equal pandas' adjust=True
    ewm over the same cents series once pandas is truncated to the
    same K lags — an independent float implementation of the same
    weighted sum (tolerance covers its different summation order)."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        _EWMA_K,
        ts_ewma_fixedpoint,
    )
    from fluent_bit_filter_math_spark.sources import table

    rows = ts_ewma_fixedpoint(spark, sf_dir).collect()
    raw = (
        table(spark, sf_dir, "events")
        .selectExpr(
            "user_id", "event_id", "ts",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xc",
        )
        .collect()
    )
    series = defaultdict(list)
    for r in sorted(raw, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        series[r["user_id"]].append((r["event_id"], r["xc"]))
    expect = {}
    alpha = 0.25
    for uid, seq in series.items():
        for i, (eid, _) in enumerate(seq):
            lags = [seq[i - j][1] for j in range(min(i + 1, _EWMA_K))]
            wts = [alpha * (1 - alpha) ** j for j in range(len(lags))]
            expect[eid] = sum(x * w for x, w in zip(lags, wts)) / sum(wts)
    assert len(rows) == len(expect) > 0
    for r in rows:
        assert abs(r["ewma_cents"] - expect[r["event_id"]]) < 1e-6
        assert r["ewma_den"] > 0


def test_gif_lzw_conformance_and_roundtrip():
    """GIF LZW: the canonical public 1x1 image block (mcs=2, bytes
    44 01) must decode to a single index-0 pixel, and encode→decode
    must roundtrip across BOTH width-growth boundaries and a
    full-table CLEAR restart — the cases where the spec's asymmetric
    encoder/decoder width-bump rule bites."""
    import random

    from fluent_bit_filter_math_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    assert _gif_lzw_decode(2, bytes([0x44, 0x01]), 4) == b"\x00"
    rng = random.Random(7)
    cases = [
        b"",
        b"a",
        b"aaaaaaaaaaaaaaaaaaaaaaaa",
        bytes(range(256)) * 4,
        bytes(rng.randrange(256) for _ in range(5000)),
        bytes(rng.randrange(4) for _ in range(50000)),
        (b"abcd" * 3 + b"xyz") * 4000,  # table hits 4096 -> CLEAR
    ]
    for c in cases:
        assert _gif_lzw_decode(8, _gif_lzw_encode(8, c), len(c) + 1) == c
    # cScSc pattern: exercises the code == next_code special case
    assert _gif_lzw_decode(8, _gif_lzw_encode(8, b"ababa"), 6) == b"ababa"


def test_gif_container_corruption_rejected():
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _gif_build,
        _gif_decode_plane,
    )
    import pytest as _pytest

    good = _gif_build(b"hello gif world")
    w, h, pix = _gif_decode_plane(good)
    n = len(b"hello gif world")
    assert (w, h) == (5 + n % 11, 3 + n % 7)
    assert pix == (b"hello gif world" * (w * h // n + 1))[: w * h]
    for bad in (
        b"NOPE" + good[4:],              # bad signature
        good[:-1],                       # missing trailer
        good[:30],                       # truncated GCT
        good[:6] + bytes([good[6]]) + good[7:-10],  # truncated image data
    ):
        with _pytest.raises(ValueError):
            _gif_decode_plane(bad)


def test_spatial_grid_join_equals_bruteforce(spark, sf_dir):
    """Grid-bucketed proximity join must find EXACTLY the pairs a
    brute-force O(n^2) scan finds — cell size == radius guarantees no
    pair within r spans more than one cell per axis, so bucketing
    loses nothing."""
    import hashlib

    from fluent_bit_filter_math_spark.operators.temporal import (
        _SP_G,
        _SP_R,
        join_spatial_grid,
    )
    from fluent_bit_filter_math_spark.sources import table

    ids = [r["event_id"]
           for r in table(spark, sf_dir, "events").select("event_id").collect()]

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    pts = [(i, h60(f"x:{i}") % _SP_G, h60(f"y:{i}") % _SP_G) for i in ids]
    n_pairs = sum_d = 0
    for i, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[i + 1:]:
            d = (xa - xb) ** 2 + (ya - yb) ** 2
            if d <= _SP_R * _SP_R and ia != ib:
                n_pairs += 1
                sum_d += d
    rows = join_spatial_grid(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs > 0
    assert sum(r["sum_dist_sq"] for r in rows) == sum_d


def test_recursive_ewma_python_twin(spark, sf_dir):
    """Third implementation of the integer EWMA recursion: collect the
    per-user event sequence, fold in pure Python, require exact
    equality (the whole point of the micro-cents >> 2 formulation)."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        ts_ewma_recursive,
    )
    from fluent_bit_filter_math_spark.sources import table

    raw = (
        table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "unix_micros(cast(ts as timestamp)) AS t",
            "event_id",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xc",
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in raw:
        seqs[r["user_id"]].append((r["t"], r["event_id"], r["xc"]))
    expect = {}
    for uid, seq in seqs.items():
        xs = [x * 1_000_000 for _, _, x in sorted(seq)]
        acc = xs[0]
        for x in xs[1:]:
            acc = (3 * acc + x) >> 2
        expect[uid] = (len(xs), acc)
    rows = ts_ewma_recursive(spark, sf_dir).collect()
    assert len(rows) == len(expect) > 0
    for r in rows:
        n, acc = expect[r["user_id"]]
        assert (r["n_obs"], r["ewma_ucents"]) == (n, acc)


def test_label_propagation_invariants(spark, sf_dir):
    """LPA sanity: every community id is a real node id, sizes are
    consistent with the per-node rows, and propagation actually merged
    nodes (some community has >1 member on the bipartite fixture)."""
    from collections import Counter

    from fluent_bit_filter_math_spark.operators.graph import (
        graph_label_propagation,
    )

    rows = graph_label_propagation(spark, sf_dir).collect()
    nodes = {r["node"] for r in rows}
    sizes = Counter(r["community"] for r in rows)
    assert all(r["community"] in nodes for r in rows)
    assert all(sizes[r["community"]] == r["community_size"] for r in rows)
    assert max(sizes.values()) > 1


def test_kcenter_greedy_matches_numpy_twin(spark, sf_dir):
    """Pure-numpy re-run of Gonzalez farthest-point on the same
    fixture must pick the same centers in the same order, and the
    coverage-radius sequence must be non-increasing."""
    import numpy as np

    from fluent_bit_filter_math_spark.operators.sampling import (
        _KC_K,
        _KC_SCALE,
        sample_kcenter_coreset,
    )
    from fluent_bit_filter_math_spark.sources import table

    rows = sample_kcenter_coreset(spark, sf_dir).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    dmin = None
    picked = [(1, ids[0], 0)]
    cur = X[ids.index(0)]
    for r in range(2, _KC_K + 1):
        d = ((X * X).sum(1) - 2 * X @ cur + cur @ cur)
        dfp = np.floor(d * _KC_SCALE + 0.5).astype(np.int64)
        dmin = dfp if dmin is None else np.minimum(dmin, dfp)
        j = int(np.lexsort((ids, -dmin))[0])
        picked.append((r, ids[j], int(dmin[j])))
        cur = X[j]
    got = [(r["sel_round"], r["vec_id"], r["radius_fp"]) for r in rows]
    radii = [g[2] for g in got[1:]]
    assert radii == sorted(radii, reverse=True)
    assert len({g[1] for g in got}) == _KC_K
    # numpy's BLAS reductions reassociate, so allow a few fp units on
    # the radius; the center SEQUENCE must match exactly (argmax
    # margins dwarf any reduction-order ulp)
    assert [g[:2] for g in got] == [p[:2] for p in picked]
    for g, p in zip(got, picked):
        assert abs(g[2] - p[2]) <= 4, (g, p)


def test_theilsen_median_slope_twin(spark, sf_dir):
    """Pure-Python Theil-Sen on every (user, event_type) block: same
    pair set (strict x order), same discrete median selection."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.relational import (
        agg_theilsen_slope,
    )
    from fluent_bit_filter_math_spark.sources import table

    raw = (
        table(spark, sf_dir, "events")
        .selectExpr(
            "user_id", "event_type",
            "unix_micros(cast(ts as timestamp)) AS x",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y",
        )
        .collect()
    )
    blocks = defaultdict(list)
    for r in raw:
        blocks[(r["user_id"], r["event_type"])].append((r["x"], r["y"]))
    expect = {}
    for key, pts in blocks.items():
        slopes = sorted(
            (yb - ya) / (xb - xa)
            for i, (xa, ya) in enumerate(pts)
            for xb, yb in pts
            if xb > xa
        )
        if slopes:
            expect[key] = (len(slopes), slopes[(len(slopes) + 1) // 2 - 1])
    rows = agg_theilsen_slope(spark, sf_dir).collect()
    assert len(rows) == len(expect) > 0
    for r in rows:
        n, med = expect[(r["user_id"], r["event_type"])]
        assert r["n_pairs"] == n
        assert r["theilsen_slope"] == med


def test_epoch_shuffle_permutations_differ_and_are_total(spark, sf_dir):
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.sampling import (
        sample_epoch_shuffle,
    )

    rows = sample_epoch_shuffle(spark, sf_dir).collect()
    by_epoch = defaultdict(dict)
    for r in rows:
        by_epoch[r["epoch"]][r["doc_id"]] = r["shuffle_rank"]
    e0, e1 = by_epoch[0], by_epoch[1]
    assert set(e0) == set(e1)
    n = len(e0)
    assert sorted(e0.values()) == list(range(1, n + 1))  # total permutation
    assert e0 != e1  # epochs reorder
    # determinism under re-invocation
    again = {
        (r["epoch"], r["doc_id"]): r["shuffle_rank"]
        for r in sample_epoch_shuffle(spark, sf_dir).collect()
    }
    assert all(again[(0, d)] == rk for d, rk in e0.items())


def test_twap_differs_from_plain_avg_and_matches_twin(spark, sf_dir):
    """Python twin of the holding-time integral, plus the reason the
    operator exists: on irregular series TWAP != plain AVG."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        ts_time_weighted_avg,
    )
    from fluent_bit_filter_math_spark.sources import table

    raw = (
        table(spark, sf_dir, "events")
        .selectExpr(
            "user_id", "unix_micros(cast(ts as timestamp)) AS t",
            "event_id",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xc",
        )
        .collect()
    )
    series = defaultdict(list)
    for r in raw:
        series[r["user_id"]].append((r["t"], r["event_id"], r["xc"]))
    rows = ts_time_weighted_avg(spark, sf_dir).collect()
    diff_seen = False
    for r in rows:
        seq = sorted(series[r["user_id"]])
        num = sum(
            x * (seq[i + 1][0] - t)
            for i, (t, _, x) in enumerate(seq[:-1])
        )
        den = seq[-1][0] - seq[0][0]
        assert (r["weighted_sum"], r["span_us"]) == (num, den)
        # both engines CAST the >2^53 numerator to double BEFORE the
        # divide; float(num) reproduces that rounding exactly
        assert r["twap_cents"] == float(num) / den
        avg = sum(x for _, _, x in seq) / len(seq)
        if abs(avg - r["twap_cents"]) > 1e-9:
            diff_seen = True
    assert diff_seen


def test_cusum_closed_form_equals_recursion(spark, sf_dir):
    """The window identity S_t = P_t - min(0, min P_j) must equal the
    textbook recursion S_t = max(0, S_{t-1} + x_t - k) on every user
    sequence — including which rows alarm."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        _CUSUM_H,
        _CUSUM_K,
        ts_cusum_alarms,
    )
    from fluent_bit_filter_math_spark.sources import table

    raw = (
        table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "unix_micros(cast(ts as timestamp)) AS t",
            "event_id",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xc",
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in raw:
        seqs[r["user_id"]].append((r["t"], r["event_id"], r["xc"]))
    expect = {}
    for uid, seq in seqs.items():
        s = 0
        for _, eid, x in sorted(seq):
            s = max(0, s + x - _CUSUM_K)
            if s >= _CUSUM_H:
                expect[(uid, eid)] = s
    got = {
        (r["user_id"], r["event_id"]): r["s_cents"]
        for r in ts_cusum_alarms(spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0


def test_holt_fold_matches_textbook_recursion(spark, sf_dir):
    """Third implementation of Holt's method: exact integer recursion
    in pure Python over each user's sorted series — also documents the
    DuckDB list_reduce progressive-field-rebinding trap that forced
    the oracle onto a recursive CTE (a struct-accumulator fold there
    computes b with the NEW level)."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        ts_holt_linear_fold,
    )
    from fluent_bit_filter_math_spark.sources import table

    raw = (
        table(spark, sf_dir, "events")
        .selectExpr(
            "user_id", "unix_micros(cast(ts as timestamp)) AS t",
            "event_id",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xc",
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in raw:
        seqs[r["user_id"]].append((r["t"], r["event_id"], r["xc"]))
    rows = ts_holt_linear_fold(spark, sf_dir).collect()
    assert len(rows) == len(seqs) > 0
    for r in rows:
        xs = [x * 1_000_000 for _, _, x in sorted(seqs[r["user_id"]])]
        l, b = xs[0], 0
        for x in xs[1:]:
            nl = (x + 3 * (l + b)) >> 2
            nb = ((nl - l) + 3 * b) >> 2
            l, b = nl, nb
        assert (r["n_obs"], r["level_ucents"], r["trend_ucents"]) == (
            len(xs), l, b,
        )
        assert r["forecast_ucents"] == l + b


def test_mann_whitney_matches_scipy_style_twin(spark, sf_dir):
    """Pure-Python midrank U on the raw samples (the scipy
    formulation) must equal the doubled-integer engine value."""
    from fluent_bit_filter_math_spark.operators.quality import (
        dq_mann_whitney_u,
    )
    from fluent_bit_filter_math_spark.sources import table

    raw = (
        table(spark, sf_dir, "events")
        .filter("event_type IN ('click', 'view')")
        .selectExpr(
            "event_type", "CAST(floor(value * 100.0 + 0.5) AS BIGINT) xc"
        )
        .collect()
    )
    a = sorted(r["xc"] for r in raw if r["event_type"] == "click")
    b = sorted(r["xc"] for r in raw if r["event_type"] == "view")
    merged = sorted(a + b)
    # midranks via per-value spans
    from collections import Counter
    cnt = Counter(merged)
    rank2 = {}
    c = 0
    for v in sorted(cnt):
        rank2[v] = 2 * c + cnt[v] + 1  # doubled midrank
        c += cnt[v]
    r1_2x = sum(rank2[v] for v in a)
    u1_2x = r1_2x - len(a) * (len(a) + 1)
    row = dq_mann_whitney_u(spark, sf_dir).collect()[0]
    assert (row["n1"], row["n2"]) == (len(a), len(b))
    assert row["u1_2x"] == u1_2x
    assert row["identity_ok"]
    assert abs(row["effect_size"] - u1_2x / (2 * len(a) * len(b))) < 1e-15


def test_zband_outliers_match_float_reference(spark, sf_dir):
    """The integer cross-multiplied band test must flag exactly the
    rows a float mean/std implementation flags (no band-edge flaps on
    this data), computed independently in pure Python."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        _BB_MIN,
        _BB_WIN,
        ts_zband_outliers,
    )
    from fluent_bit_filter_math_spark.sources import table

    raw = (
        table(spark, sf_dir, "events")
        .selectExpr(
            "user_id", "unix_micros(cast(ts as timestamp)) t", "event_id",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) xc",
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in raw:
        seqs[r["user_id"]].append((r["t"], r["event_id"], r["xc"]))
    expect = set()
    for uid, seq in seqs.items():
        xs = [x for _, _, x in sorted(seq)]
        eids = [e for _, e, _ in sorted(seq)]
        for i in range(len(xs)):
            win = xs[max(0, i - (_BB_WIN - 1)):i]
            if len(win) < _BB_MIN:
                continue
            n, s1, s2 = len(win), sum(win), sum(v * v for v in win)
            if (n * xs[i] - s1) ** 2 > 4 * (n * s2 - s1 * s1):
                expect.add((uid, eids[i]))
    got = {
        (r["user_id"], r["event_id"])
        for r in ts_zband_outliers(spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0
