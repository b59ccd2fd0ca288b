"""Deduplication operators over ``documents`` and ``embeddings``.

Absent from the reference (single-record scope, no cross-record state —
/root/reference/filter_math/math.c:322-353); these are the
training-data-pipeline extensions (SURVEY.md §2.3): exact dedup,
n-gram-Jaccard near-dup pairs, MinHash + banded LSH, SimHash
signatures, and embedding-cosine near-dup pairs.

Scale design (the 100 TB story per operator):

* **exact** — one hash aggregate on a 128-bit content hash; Spark's
  map-side partial agg means each executor emits at most one row per
  distinct hash. No driver involvement.
* **n-gram Jaccard** — inverted-index join on the shingle (explode →
  self-join → count), the standard all-pairs shape. The shuffle key is
  the shingle; ultra-common shingles are the skew risk, mitigated here
  by AQE skew-join splitting (session default) — at production scale
  you would additionally cap shingle document-frequency (drop shingles
  in > N docs: they only matter for pairs far below any dedup
  threshold).
* **MinHash+LSH** — replaces the all-pairs join with k=8 per-doc
  min-hashes (narrow, no shuffle) + a candidate join on (band,
  signature) buckets, then exact-Jaccard verification of candidates
  only. With r=1 rows/band, P(missing a pair with true Jaccard j) =
  (1-j)^8 — ~2.6e-14 at the fixture's j≈0.98 near-dups, so the output
  equals the brute-force oracle deterministically.
* **SimHash** — per-token hashing + one groupBy(doc) with 16 bit-plane
  sums; word-count shape, fully partial-aggregatable.
* **embedding cosine** — brute-force all-pairs at test scale (the
  oracle needs it); ``similarity.py`` carries the bucketed ANN variant
  that cuts the quadratic join at production scale.

Hashes go through :func:`hash60` (md5-derived) for bit-exact DuckDB
parity; swap to ``F.xxhash64`` for production (same shapes, ~3× faster
hashing, no oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo
from fluent_bit_filter_math_spark.concurrency import overlap
from fluent_bit_filter_math_spark.functions import duck_hash60, hash60, tokens
from fluent_bit_filter_math_spark.registry import register
from fluent_bit_filter_math_spark.sources import table

# --- shared shingle expressions (word 3-grams, distinct per doc) -----------
# Spark sequence() would count *down* when stop < start, so short docs are
# guarded to an empty array; DuckDB range() is already empty-safe.
_D_TOKENS = "string_split(text, ' ')"
_D_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({_D_TOKENS}) - 1),"
    f" i -> {_D_TOKENS}[i] || ' ' || {_D_TOKENS}[i+1] || ' ' || {_D_TOKENS}[i+2]))"
)

JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.45
MINHASH_K = 8


def _shingles(t: Column) -> Column:
    """Distinct word-3-gram shingles from a *materialized* token array."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(t, i),
            F.element_at(t, i + 1),
            F.element_at(t, i + 2),
        ),
    )
    return F.when(F.size(t) >= 3, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two Project steps on purpose: the token array must be a real column
    # before the shingle lambda touches it. Inlined, every element_at
    # re-evaluates split(text) (no common-subexpression elimination inside
    # lambda bodies) — ~450 re-splits per document, measured 67 s → 3 s at
    # sf0.1. CollapseProject keeps the boundary because the inner split()
    # is non-cheap and multiply-referenced.
    # The fixture parquet is one small file → Spark reads it as ONE
    # partition, and everything narrow downstream (tokenize + shingle +
    # distinct — the expensive part) would run on one core (measured:
    # 13 s single-threaded vs 1.5 s spread at sf0.1). Repartition by
    # doc_id BEFORE the heavy projection; at production scale the scan
    # arrives already multi-partition and this becomes a cheap no-op
    # guard against tiny-file skew.
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # `source` rides along so batch-vs-corpus splits (incremental dedup)
    # reuse the same cached index instead of re-shingling per side.
    toks = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    )
    return toks.select(
        "doc_id", "source", _shingles(F.col("toks")).alias("sh")
    )


# The shingle index feeds several consumers per query (inverted-index join
# sides, per-doc sizes, candidate verification). Left as a view, Spark
# re-inlines the whole shingle expression tree at every reference — and,
# with no stats on the derived plan, refuses to broadcast the join side
# (measured 172 s vs 1.5 s at sf0.01). Materializing it once is the same
# decision a production pipeline makes by persisting its shingle index
# before the all-pairs stage.
#
# Held in the context-scoped memo (memo.py) and released explicitly via
# release_shingle_index().


def _shingle_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(per-doc shingle arrays, exploded doc_id→shingle index), cached."""

    def build() -> tuple[DataFrame, DataFrame]:
        arrays = _docs_shingled(spark, sf_dir).filter(F.size("sh") > 0).cache()
        exploded = arrays.select(
            "doc_id", F.explode("sh").alias("s")
        ).cache()
        return arrays, exploded

    return memo.get(spark, "shingle_index", sf_dir, build)


def release_shingle_index(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Unpersist and evict the cached shingle index for *spark* (one sf_dir,
    or all of the session's entries when sf_dir is None)."""
    memo.release(spark, "shingle_index", sf_dir)


# ---------------------------------------------------------------------------
# exact dedup — keep the lowest doc_id per content hash.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


# --- brute-force Jaccard oracle (shared by the exact and LSH queries) ------
_JACCARD_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS s FROM documents
    ), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.doc_a = sa.doc_id
    JOIN sizes sb ON pairs.doc_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs — exact, via *prefix-filtered* all-pairs
# (SSJoin/All-Pairs family). A naive shingle inverted-index join costs
# Σ_s df(s)² candidate rows, which explodes when shingles repeat across
# docs (88 s at sf0.1 on this corpus). Prefix filtering is an exact
# pruning: order each doc's shingles by global rarity (df asc, shingle
# asc — a total order); any pair with J ≥ τ' shares ≥ ⌈τ'·|d|⌉ shingles,
# so its *smallest* shared shingle must fall inside both docs' first
# |d| − ⌈τ'·|d|⌉ + 1 shingles. Joining only those prefixes generates a
# candidate superset (no recall loss) whose volume is governed by rare
# shingles' tiny dfs; exact Jaccard verification on shingle arrays then
# removes false positives.
#
# Hot-shingle df-cap (exact). A shingle present in >DF_CAP docs is the
# skew bomb at 100 TB: if it lands in prefixes, it alone contributes
# df² candidate pairs on one shuffle key. Candidate generation therefore
# DROPS high-df shingles from each doc's set — but only up to
# ⌊φ·|d|⌋ per doc (most-common first). Exactness proof: a shared shingle
# leaves the intersection when dropped from EITHER side, so at most
# φ·|a| + φ·|b| ≤ 2φ·|a∪b| shared shingles are lost and
# J(a',b') ≥ J(a,b) − 2φ; running prefix+size pruning on the REDUCED
# sets with relaxed threshold τ' = τ − 2φ keeps every true pair
# (inter' ≥ (τ−2φ)·|a∪b| ≥ τ'·max(|a'|,|b'|)) — a candidate SUPERSET.
# Verification then scores FULL arrays at the true τ, so the output is
# identical to brute force; pinned by test_jaccard_dfcap_hot_shingles.
# Same output, ~20× less join work, and the shape that survives 100 TB:
# df-ranking and prefix extraction are one aggregate + two windows, all
# partial-aggregatable.
# ---------------------------------------------------------------------------
DF_CAP = 20  # candidate-gen drops shingles seen in > DF_CAP docs ...
DROP_FRACTION = 0.1  # ... but at most ⌊φ·|d|⌋ = 10% of any one doc's shingles


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tau_relaxed = JACCARD_THRESHOLD - 2 * DROP_FRACTION

    arrays, sh = _shingle_index(spark, sf_dir)
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    ranked = sh.join(dfreq, "s")

    w_doc = Window.partitionBy("doc_id")
    n_full = F.count("*").over(w_doc)
    # Rank hottest-first to pick each doc's df-cap victims within budget.
    w_hot = Window.partitionBy("doc_id").orderBy(F.desc("df"), F.desc("s"))
    reduced = (
        ranked.select(
            "doc_id",
            "s",
            "df",
            n_full.alias("n_full"),
            F.row_number().over(w_hot).alias("hot_rn"),
        )
        .filter(
            (F.col("df") <= DF_CAP)
            | (F.col("hot_rn") > F.floor(F.col("n_full") * DROP_FRACTION))
        )
        .drop("hot_rn", "n_full")
    )

    w = Window.partitionBy("doc_id").orderBy("df", "s")
    n_red = F.count("*").over(w_doc)
    prefix_len = n_red - F.ceil(n_red * F.lit(tau_relaxed)) + 1
    prefix = (
        reduced.select(
            "doc_id",
            "s",
            F.row_number().over(w).alias("rn"),
            prefix_len.alias("plen"),
            n_red.alias("n"),
        )
        .filter(F.col("rn") <= F.col("plen"))
        .select("doc_id", "s", "n")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # Size-ratio pruning inside the join (reduced sizes, relaxed τ'):
    # J' ≥ τ' forces τ'·|b'| ≤ |a'| ≤ |b'|/τ'.
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.col("a.n").cast("double")
                >= F.col("b.n") * F.lit(tau_relaxed)
            )
            & (
                F.col("b.n").cast("double")
                >= F.col("a.n") * F.lit(tau_relaxed)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_jaccard(cand, arrays)


def _verify_jaccard(
    cand: DataFrame, arrays: DataFrame, arrays_b: DataFrame | None = None
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the per-doc
    shingle arrays; shared by the prefix-filter and LSH paths.

    A size-ratio prefilter runs first: J(a,b) ≥ τ forces
    τ·|b| ≤ |a| ≤ |b|/τ, so integer size comparison kills most false
    candidates before the O(|a|+|b|) array intersection touches them.

    *arrays_b*: the doc_b side's arrays when the two sides live in
    different frames (cross-side probes: a new batch's in-flight
    shingles vs a PERSISTED corpus index table); defaults to *arrays*.
    """
    sa = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = (arrays if arrays_b is None else arrays_b).select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    na, nb = F.size("sh_a"), F.size("sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (na + nb - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            (na.cast("double") >= nb * F.lit(JACCARD_THRESHOLD))
            & (nb.cast("double") >= na * F.lit(JACCARD_THRESHOLD))
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# MinHash signatures — k per-doc min-hashes, all narrow (no shuffle).
# ---------------------------------------------------------------------------
def _minhash_sig(sh: Column, k: int = MINHASH_K) -> list[Column]:
    return [
        F.array_min(
            F.transform(sh, lambda s: hash60(F.concat(F.lit(f"{j}:"), s)))
        ).alias(f"mh{j}")
        for j in range(k)
    ]


def _duck_minhash(j: int) -> str:
    h = duck_hash60(f"'{j}:' || s")
    return f"list_aggregate(list_transform({_D_SHINGLES}, s -> {h}), 'min')"


@register(
    "dedup_minhash_signatures",
    oracle="SELECT doc_id, "
    + ", ".join(f"{_duck_minhash(j)} AS mh{j}" for j in range(MINHASH_K))
    + " FROM documents",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_shingled(spark, sf_dir)
    return docs.select("doc_id", *_minhash_sig(F.col("sh")))


# ---------------------------------------------------------------------------
# MinHash + banded LSH near-dup pairs: bucket-join candidates on banded
# signatures, verify exact Jaccard on candidates only.
#
# Banding: r=2 rows/band, b=4 bands. Candidates = pairs agreeing on a
# whole band (both min-hashes). On a corpus with a shared vocabulary,
# r=1 floods the candidate set (any single shared min-hash — measured
# 86 s at sf0.1); r=2 squares the collision probability for dissimilar
# pairs while P(miss) for a true near-dup at the fixture's j≈0.98 stays
# ≈ (1−j²)⁴ ~ 2e-6. Oracle = the brute-force Jaccard query: the output
# equals it exactly on this data (verified at the driver's sf0.01).
# ---------------------------------------------------------------------------
LSH_ROWS_PER_BAND = 2


def _band_frame(sig: DataFrame, *keep: str) -> DataFrame:
    """Explode a frame carrying a ``sig`` minhash-array column into one
    row per (``*keep``, band, key) — the LSH bucket join key."""
    r = LSH_ROWS_PER_BAND
    n_bands = MINHASH_K // r
    return sig.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.concat_ws(
                            ",", *[F.col("sig")[i * r + j] for j in range(r)]
                        ).alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(*keep, "bk.band", "bk.key")


@register("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrays, _ = _shingle_index(spark, sf_dir)
    sig = arrays.select(
        "doc_id", F.array(*_minhash_sig(F.col("sh"))).alias("sig")
    )
    bands = _band_frame(sig, "doc_id")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_jaccard(cand, arrays)


# ---------------------------------------------------------------------------
# Incremental dedup — a NEW batch against the EXISTING corpus, the shape
# a production ingest actually runs (daily crawl vs historical index):
# nothing re-deduplicates the corpus against itself; each new document
# is checked at two levels and tagged, never silently dropped —
#
#   * exact   — content hash anti-probe into the corpus's hash set
#               (hash-partitioned left join; map-side distinct on the
#               corpus side, no driver involvement);
#   * near    — cross-side banded MinHash LSH: new-batch band keys join
#               corpus band keys (candidates only where a whole band
#               agrees), then exact-Jaccard verification — the corpus is
#               never self-joined, so join volume scales with the BATCH,
#               not the corpus.
#
# The fixture's batch/corpus split is `source = 'src0'` vs the rest. At
# 100 TB the corpus band index and hash set are materialized tables
# partitioned by (band, key) / hash — the per-batch cost is one bucket
# join + one hash probe against them; the cached shingle index here
# carries `source` for exactly that reason (one index, both sides).
# Absent from the reference (single-record scope, math.c:322-353).
# ---------------------------------------------------------------------------
NEW_BATCH_SOURCE = "src0"


# Shared by dedup_incremental and dedup_incremental_persisted: the
# persisted band index materializes EXACTLY the signatures/bands/hashes
# the in-flight variant computes, so both reduce to the same brute-force
# batch-vs-corpus SQL.
_INCREMENTAL_ORACLE = f"""
    WITH newdocs AS (
      SELECT doc_id, text FROM documents WHERE source = '{NEW_BATCH_SOURCE}'
    ),
    corpus_hashes AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE source <> '{NEW_BATCH_SOURCE}'
    ),
    sh AS (
      SELECT doc_id, source, unnest({_D_SHINGLES}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s
       AND a.source = '{NEW_BATCH_SOURCE}'
       AND b.source <> '{NEW_BATCH_SOURCE}'
      GROUP BY 1, 2
    ),
    near AS (
      SELECT doc_a AS doc_id, COUNT(*) AS n
      FROM pairs
      JOIN sizes sa ON pairs.doc_a = sa.doc_id
      JOIN sizes sb ON pairs.doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)
                >= {JACCARD_THRESHOLD}
      GROUP BY doc_a
    )
    SELECT d.doc_id,
           CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END AS is_exact_dup,
           CAST(COALESCE(near.n, 0) AS BIGINT) AS n_near_dups,
           CASE WHEN ch.h IS NULL AND COALESCE(near.n, 0) = 0
                THEN 1 ELSE 0 END AS keep
    FROM newdocs d
    LEFT JOIN corpus_hashes ch ON md5(d.text) = ch.h
    LEFT JOIN near ON near.doc_id = d.doc_id
    """


@register("dedup_incremental", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    new_h = docs.filter(F.col("source") == NEW_BATCH_SOURCE).select(
        "doc_id", F.md5("text").alias("h")
    )
    corp_h = (
        docs.filter(F.col("source") != NEW_BATCH_SOURCE)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("exact_hit", F.lit(1))
    )
    exact = new_h.join(corp_h, "h", "left").select(
        "doc_id", F.coalesce("exact_hit", F.lit(0)).alias("is_exact_dup")
    )

    arrays, _ = _shingle_index(spark, sf_dir)
    sig = arrays.select(
        "doc_id", "source", F.array(*_minhash_sig(F.col("sh"))).alias("sig")
    )
    bands = _band_frame(sig, "doc_id", "source")
    nb = bands.filter(F.col("source") == NEW_BATCH_SOURCE).alias("a")
    cb = bands.filter(F.col("source") != NEW_BATCH_SOURCE).alias("b")
    cand = (
        nb.join(
            cb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    near = (
        _verify_jaccard(cand, arrays)
        .groupBy("doc_a")
        .agg(F.count("*").alias("n_near_dups"))
        .withColumnRenamed("doc_a", "doc_id")
    )
    out = exact.join(near, "doc_id", "left").select(
        "doc_id",
        "is_exact_dup",
        F.coalesce(F.col("n_near_dups"), F.lit(0)).alias("n_near_dups"),
    )
    return out.withColumn(
        "keep",
        ((F.col("is_exact_dup") == 0) & (F.col("n_near_dups") == 0)).cast(
            "int"
        ),
    )


# ---------------------------------------------------------------------------
# PERSISTED MinHash-LSH band index (VERDICT r14 #1) — the corpus-side
# twin of sim_ann_persisted: dedup_incremental above still recomputes
# the corpus's signatures and bands on every run, the one cost that
# scales with CORPUS size instead of batch size at 100 TB. Here the
# corpus index lives as three commit-log tables:
#
#   bands  — (band, key, doc_id) postings, range-partitioned on
#            (band, key) so every add action carries tight per-file
#            band stats; a band's probe scan FILE-PRUNES via the
#            in-log stats (the partitionBy(band) layout a 100 TB
#            deployment runs — 1/n_bands of the postings per scan);
#   hashes — the corpus's distinct content hashes (the exact-dup
#            anti-probe set);
#   arrays — per-doc shingle arrays, range-partitioned on doc_id
#            (what exact-Jaccard verification of candidates needs —
#            persisted so verification never re-shingles the corpus).
#
# The PROBE path touches tf_read/tf_scan frames exclusively on the
# corpus side (pinned structurally: `documents` is only read under
# the batch's pushed source filter) — the corpus table is NEVER
# rescanned on probe. Index MAINTENANCE appends the deduped batch's
# own bands/hashes/arrays as one commit per table, cost ∝ batch and
# pinned ≤ n_bands files added / 0 removed. The probe reads the
# snapshot pinned at creation time, so the maintenance commit cannot
# leak the batch into its own candidate set (snapshot isolation by
# explicit version, the sim_ann_persisted discipline).
# ---------------------------------------------------------------------------


_LSH_N_BANDS = MINHASH_K // LSH_ROWS_PER_BAND


def _lsh_doc_arrays(spark: SparkSession, side: DataFrame) -> DataFrame:
    """Per-doc shingle arrays for one side (the heavy projection,
    repartitioned first — the _docs_shingled discipline)."""
    return (
        side.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", _shingles(F.col("toks")).alias("sh"))
        .filter(F.size("sh") > 0)
    )


def _lsh_band_keys(arrays: DataFrame) -> DataFrame:
    sig = arrays.select(
        "doc_id", F.array(*_minhash_sig(F.col("sh"))).alias("sig")
    )
    return _band_frame(sig, "doc_id")


def _lsh_index_create(spark: SparkSession, sf_dir: str, tag: str):
    """Create the persisted MinHash-LSH corpus index: bands / hashes /
    shingle-arrays as three commit-log tables. The corpus is scanned
    ONCE, here; the session's cached shingle index supplies the corpus
    arrays (the cache IS that one corpus scan, materialized); creation
    writes execute eagerly, so nothing of this reaches any probe plan.
    Returns (paths, creation versions) as two dicts keyed
    bands/hashes/arrays."""
    import os

    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources.table_format import (
        latest_version,
        tf_append,
    )

    base = scratch_dir(tag)
    paths = {
        k: os.path.join(base, k) for k in ("bands", "hashes", "arrays")
    }
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != NEW_BATCH_SOURCE)
    corpus_arrays = (
        _shingle_index(spark, sf_dir)[0]
        .filter(F.col("source") != NEW_BATCH_SOURCE)
        .select("doc_id", "sh")
    )
    # materialize the banded minhash ONCE: repartitionByRange's range-
    # sampling pass otherwise re-runs the whole k-minhash computation a
    # second time before the exchange (guide §2.4 — remove redundant
    # passes; measured r16). The persist is released as soon as the
    # append lands; file layout is unchanged (same sampler, same data).
    # The three creation appends land on three DISTINCT tables with no
    # dependency on each other, so they overlap (guide §2.6; measured:
    # creation min 4.9 -> 2.5 s at sf0.1) — each table still gets
    # exactly its one serial commit.
    corpus_bands = _lsh_band_keys(corpus_arrays).persist()
    try:
        overlap(
            lambda: tf_append(
                corpus_bands.repartitionByRange(
                    _LSH_N_BANDS, "band", "key"
                ),
                paths["bands"],
            ),
            lambda: tf_append(
                corpus.select(F.md5("text").alias("h"))
                .distinct()
                .coalesce(1),
                paths["hashes"],
            ),
            lambda: tf_append(
                corpus_arrays.repartitionByRange(_LSH_N_BANDS, "doc_id"),
                paths["arrays"],
            ),
        )
    finally:
        corpus_bands.unpersist()
    versions = {k: latest_version(p) for k, p in paths.items()}
    return paths, versions


def _lsh_probe(
    spark: SparkSession,
    paths: dict,
    versions: dict,
    batch_arrays: DataFrame,
    batch_bands: DataFrame,
    batch_h: DataFrame,
) -> DataFrame:
    """Probe one batch against the PINNED index snapshot (corpus side =
    index tables only; per-band scans ride the in-log file pruning).
    Returns the per-doc verdict frame (doc_id, is_exact_dup,
    n_near_dups, keep)."""
    from fluent_bit_filter_math_spark.operators.similarity import (
        _probe_cell_scans,
    )
    from fluent_bit_filter_math_spark.sources.table_format import tf_read

    corp_bands = _probe_cell_scans(
        spark,
        paths["bands"],
        list(range(_LSH_N_BANDS)),
        col="band",
        version=versions["bands"],
    )
    a = batch_bands.alias("a")
    b = corp_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    near = (
        _verify_jaccard(
            cand,
            batch_arrays,
            tf_read(spark, paths["arrays"], versions["arrays"]),
        )
        .groupBy("doc_a")
        .agg(F.count("*").alias("n_near_dups"))
        .withColumnRenamed("doc_a", "doc_id")
    )
    corp_h = tf_read(
        spark, paths["hashes"], versions["hashes"]
    ).withColumn("exact_hit", F.lit(1))
    exact = batch_h.join(corp_h, "h", "left").select(
        "doc_id", F.coalesce("exact_hit", F.lit(0)).alias("is_exact_dup")
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "is_exact_dup",
            F.coalesce(F.col("n_near_dups"), F.lit(0)).alias(
                "n_near_dups"
            ),
        )
        .withColumn(
            "keep",
            (
                (F.col("is_exact_dup") == 0)
                & (F.col("n_near_dups") == 0)
            ).cast("int"),
        )
    )


@register("dedup_incremental_persisted", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fluent_bit_filter_math_spark.sources.table_format import (
        latest_version,
        tf_append,
        tf_history,
    )

    paths, versions = _lsh_index_create(spark, sf_dir, "lsh-band-index")
    docs = table(spark, sf_dir, "documents")

    # ---- batch-side frames: the ONLY `documents` reads on the probe
    # path, all under the pushed source = NEW_BATCH_SOURCE filter ----
    batch = docs.filter(F.col("source") == NEW_BATCH_SOURCE)
    # the batch's shingle arrays and band keys feed the probe AND the
    # maintenance appends below — materialize each once (r16; the lazy
    # frames re-ran tokenize+shingle+minhash per consuming job). The
    # batch is ingest-bounded by design, so the checkpoint is too; the
    # exact-dup side (batch_h) stays lazy so the probe plan keeps its
    # pushed-filter documents scan (the test_round15 corpus-rescan pin).
    batch_arrays = _lsh_doc_arrays(spark, batch).localCheckpoint(
        eager=True
    )
    batch_bands = _lsh_band_keys(batch_arrays).localCheckpoint(
        eager=True
    )
    batch_h = batch.select("doc_id", F.md5("text").alias("h"))

    out = _lsh_probe(
        spark, paths, versions, batch_arrays, batch_bands, batch_h
    )

    # ---- INCREMENTAL MAINTENANCE: the batch joins the index — one
    # commit per table, cost ∝ batch, never a corpus rewrite. The
    # three appends land on three DISTINCT tables (guide §2.6), so
    # they overlap; the batch-bounded pin reads the bands head after
    # all three have settled (each table still gets one commit). A
    # guard failure after the overlap leaves hashes/arrays commits the
    # old serial order withheld (ADVICE r16) — deliberate: the guard
    # raising IS fatal corruption of this query's scratch index, which
    # is torn down whole, never probed again. ----
    overlap(
        lambda: tf_append(
            batch_bands.repartitionByRange(_LSH_N_BANDS, "band", "key"),
            paths["bands"],
        ),
        lambda: tf_append(
            batch_h.select("h").distinct().coalesce(1), paths["hashes"]
        ),
        lambda: tf_append(
            batch_arrays.repartitionByRange(_LSH_N_BANDS, "doc_id"),
            paths["arrays"],
        ),
    )
    head = tf_history(paths["bands"])[0]
    if head["n_removed"] != 0 or head["n_added"] > _LSH_N_BANDS:
        raise RuntimeError(
            "band-index maintenance not batch-bounded: "
            f"{head['n_added']} added, {head['n_removed']} removed"
        )
    if latest_version(paths["bands"]) != versions["bands"] + 1:
        raise RuntimeError("band-index log shape unexpected")
    return out


# ---------------------------------------------------------------------------
# STREAMING DEDUP INGEST against the persisted band index — the dedup
# twin of stream_ann_ingest, closing the symmetric lifecycle story:
# BOTH persisted indexes (vectors and text) now take their batches
# from streams exactly-once. Each micro-batch of new documents
#   1. probes the CREATION-version index snapshot (batch-vs-corpus
#      only — epochs never match each other, so the verdict set is
#      split-invariant and equals dedup_incremental's oracle exactly),
#   2. lands its verdicts in a results table with the epoch id as the
#      txn (replay = version-preserving no-op),
#   3. appends its own bands/hashes/arrays to the index under the SAME
#      epoch txn id per table — index maintenance is exactly-once too.
# Replay idempotence across all four tables is pinned in-query.
# ---------------------------------------------------------------------------


@register("stream_dedup_ingest", oracle=_INCREMENTAL_ORACLE)
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources.table_format import (
        latest_version,
        tf_append_batch,
        tf_read,
    )

    paths, versions = _lsh_index_create(
        spark, sf_dir, "lsh-stream-ingest"
    )
    results_path = os.path.join(
        os.path.dirname(paths["bands"]), "results"
    )

    # ---- the batch arrives as a STREAM: 2 source files → 2 epochs
    # (enough to prove cross-epoch exactly-once; each epoch runs a
    # full probe + 4 commits, so epoch count is the cost knob) ----
    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == NEW_BATCH_SOURCE)
    base = scratch_dir("lsh-stream-src")
    src = os.path.join(base, "src")
    batch.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    epoch_ids: list[int] = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # epoch-scoped materialization (r16): arrays/bands feed the
        # probe and two of the four exactly-once appends — lazy frames
        # re-ran the shingle+minhash pipeline per consuming job, and
        # each range-append added a sampling pass on top (guide §2.4)
        arrays = _lsh_doc_arrays(spark, batch_df).localCheckpoint(
            eager=True
        )
        bands = _lsh_band_keys(arrays).localCheckpoint(eager=True)
        h = batch_df.select("doc_id", F.md5("text").alias("h"))
        verdicts = _lsh_probe(
            spark, paths, versions, arrays, bands, h
        )
        # verdicts + index maintenance: four exactly-once commits on
        # four DISTINCT tables, one per table per epoch — overlapped
        # (guide §2.6). The probe inside the verdicts append reads the
        # CREATION-version snapshot (pinned file lists; appends never
        # remove files), so racing it with this epoch's own appends
        # cannot change what it sees.
        overlap(
            lambda: tf_append_batch(verdicts, results_path, batch_id),
            lambda: tf_append_batch(
                bands.repartitionByRange(_LSH_N_BANDS, "band", "key"),
                paths["bands"],
                batch_id,
            ),
            lambda: tf_append_batch(
                h.select("h").distinct().coalesce(1),
                paths["hashes"],
                batch_id,
            ),
            lambda: tf_append_batch(
                arrays.repartitionByRange(_LSH_N_BANDS, "doc_id"),
                paths["arrays"],
                batch_id,
            ),
        )
        # the epoch's commits were the snapshots' last readers — free
        # their blocks before the next epoch (ADVICE r12 discipline)
        from fluent_bit_filter_math_spark.ckpt import (
            release_local_checkpoint,
        )

        release_local_checkpoint(bands)
        release_local_checkpoint(arrays)
        epoch_ids.append(int(batch_id))

    (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if not epoch_ids:
        raise RuntimeError("the ingest stream produced no epochs")

    # ---- replay-idempotence pin: re-running the last epoch must not
    # move ANY of the four tables (the frames are never evaluated —
    # the txn id short-circuits first) ----
    heads = {
        k: latest_version(p)
        for k, p in {**paths, "results": results_path}.items()
    }
    noop = spark.createDataFrame([], "doc_id long")
    for tpath in (results_path, *paths.values()):
        if tf_append_batch(noop, tpath, epoch_ids[-1]) is not None:
            raise RuntimeError("replayed epoch appended twice")
    for k, p in {**paths, "results": results_path}.items():
        if latest_version(p) != heads[k]:
            raise RuntimeError(f"replay moved the {k} table head")
    return tf_read(spark, results_path).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CROSS-EPOCH streaming dedup ingest (VERDICT r15 #2) — the production
# variant of stream_dedup_ingest: that query probes the CREATION-version
# snapshot only, so two copies of the same new document arriving in two
# different micro-batches both pass. Here each epoch probes the index
# HEAD at epoch start = creation snapshot ∪ every earlier epoch's
# appended bands/hashes/arrays (the version the previous epoch's
# maintenance commit published), so an intra-stream duplicate is caught
# in whichever epoch arrives SECOND — exactly once.
#
# The fixture has no duplicate pair inside the src0 batch at sf0.01, so
# the straddling pair is CONSTRUCTED deterministically from fixture
# data: epoch 0 is the src0 batch verbatim (all even doc_ids), epoch 1
# is the same texts re-keyed to doc_id + _XE_OFFSET (odd, and far past
# every fixture id so twin ids can never collide with a CORPUS doc_id
# in the oracle's shared size table) — every
# epoch-1 doc is an exact duplicate of its epoch-0 twin and a Jaccard-1
# near-dup of it, none of which the creation snapshot contains. The
# oracle is closed-form: even docs score against the corpus (the plain
# incremental oracle); odd docs score against corpus ∪ the even batch.
# Epoch order is pinned in-sink (epoch parity must match doc_id
# parity — the query raises rather than silently drifting off the
# oracle), and the twin-caught-exactly-once + replay-idempotence pins
# run in-query. Replay safety holds even though the probe version is
# the live head: tf_append_batch short-circuits on a committed epoch id
# BEFORE the verdict frame is ever evaluated, so a replayed epoch can
# never score against (or re-append) its own commits.
# ---------------------------------------------------------------------------

# odd (keeps the parity pin: twins land in epoch 1) and far beyond any
# fixture doc_id at every SF, so the oracle's unioned size table never
# mixes a twin's shingle count with a real corpus doc's
_XE_OFFSET = 100_000_001

_XEPOCH_ORACLE = f"""
    WITH newdocs AS (
      SELECT doc_id, text FROM documents WHERE source = '{NEW_BATCH_SOURCE}'
    ),
    ep2 AS (SELECT doc_id + {_XE_OFFSET} AS doc_id, text FROM newdocs),
    corpus_hashes AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE source <> '{NEW_BATCH_SOURCE}'
    ),
    sh_corpus AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS s FROM documents
      WHERE source <> '{NEW_BATCH_SOURCE}'
    ),
    sh_ep1 AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS s FROM documents
      WHERE source = '{NEW_BATCH_SOURCE}'
    ),
    sh_ep2 AS (SELECT doc_id + {_XE_OFFSET} AS doc_id, s FROM sh_ep1),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM (
        SELECT * FROM sh_corpus UNION ALL
        SELECT * FROM sh_ep1 UNION ALL SELECT * FROM sh_ep2
      ) GROUP BY doc_id
    ),
    pairs AS (
      -- epoch 0 probes the corpus; epoch 1 probes corpus ∪ epoch 0
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh_ep1 a JOIN sh_corpus b ON a.s = b.s GROUP BY 1, 2
      UNION ALL
      SELECT a.doc_id, b.doc_id, COUNT(*)
      FROM sh_ep2 a
      JOIN (SELECT * FROM sh_corpus UNION ALL SELECT * FROM sh_ep1) b
        ON a.s = b.s
      GROUP BY 1, 2
    ),
    near AS (
      SELECT doc_a AS doc_id, COUNT(*) AS n
      FROM pairs
      JOIN sizes sa ON pairs.doc_a = sa.doc_id
      JOIN sizes sb ON pairs.doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)
                >= {JACCARD_THRESHOLD}
      GROUP BY doc_a
    ),
    verdict_base AS (
      SELECT d.doc_id,
             CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END AS is_exact_dup
      FROM newdocs d
      LEFT JOIN corpus_hashes ch ON md5(d.text) = ch.h
      UNION ALL
      -- every odd doc's text is already in the index via its twin
      SELECT d.doc_id, 1 AS is_exact_dup FROM ep2 d
    )
    SELECT v.doc_id,
           v.is_exact_dup,
           CAST(COALESCE(near.n, 0) AS BIGINT) AS n_near_dups,
           CASE WHEN v.is_exact_dup = 0 AND COALESCE(near.n, 0) = 0
                THEN 1 ELSE 0 END AS keep
    FROM verdict_base v
    LEFT JOIN near ON near.doc_id = v.doc_id
    """


@register("stream_dedup_ingest_xepoch", oracle=_XEPOCH_ORACLE)
def stream_dedup_ingest_xepoch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import time

    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources.table_format import (
        latest_version,
        tf_append_batch,
        tf_read,
    )

    paths, _ = _lsh_index_create(spark, sf_dir, "lsh-xepoch-ingest")
    results_path = os.path.join(
        os.path.dirname(paths["bands"]), "results"
    )

    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == NEW_BATCH_SOURCE)
    twin = batch.select(
        (F.col("doc_id") + _XE_OFFSET).alias("doc_id"),
        *[c for c in batch.columns if c != "doc_id"],
    ).select(*batch.columns)
    base = scratch_dir("lsh-xepoch-src")
    src = os.path.join(base, "src")
    os.makedirs(src)
    # one flat file per epoch with PINNED mtimes: the file stream
    # admits files in mtime order, so b0 (even ids) is epoch 0 and b1
    # (odd twins) epoch 1 — the split the oracle encodes
    now = time.time()
    for name, df_ep, age in (("b0", batch, 60.0), ("b1", twin, 0.0)):
        stage = os.path.join(base, f"stage-{name}")
        df_ep.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        dest = os.path.join(src, f"{name}.parquet")
        os.rename(os.path.join(stage, part), dest)
        os.utime(dest, (now - age, now - age))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    epoch_ids: list[int] = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        parities = sorted(
            r[0]
            for r in batch_df.select(
                (F.col("doc_id") % 2).alias("p")
            )
            .distinct()
            .collect()
        )
        if parities != [batch_id % 2]:
            raise RuntimeError(
                f"epoch {batch_id} carries doc parities {parities}: "
                "the file-stream order drifted off the oracle's split"
            )
        # probe the index HEAD at epoch start: creation ∪ every
        # earlier epoch's maintenance commits — the cross-epoch read
        vnow = {k: latest_version(p) for k, p in paths.items()}
        # epoch-scoped materialization, same rationale as
        # stream_dedup_ingest's sink (r16)
        arrays = _lsh_doc_arrays(spark, batch_df).localCheckpoint(
            eager=True
        )
        bands = _lsh_band_keys(arrays).localCheckpoint(eager=True)
        h = batch_df.select("doc_id", F.md5("text").alias("h"))
        verdicts = _lsh_probe(spark, paths, vnow, arrays, bands, h)
        # four distinct-table exactly-once commits per epoch,
        # overlapped (guide §2.6). The cross-epoch contract is
        # untouched: vnow was sampled at EPOCH START above, the probe's
        # reads are pinned to it (file lists resolve from the log entry
        # and appends never remove files), and foreachBatch serializes
        # epochs, so epoch N+1's vnow still sees every commit below.
        overlap(
            lambda: tf_append_batch(verdicts, results_path, batch_id),
            lambda: tf_append_batch(
                bands.repartitionByRange(_LSH_N_BANDS, "band", "key"),
                paths["bands"],
                batch_id,
            ),
            lambda: tf_append_batch(
                h.select("h").distinct().coalesce(1),
                paths["hashes"],
                batch_id,
            ),
            lambda: tf_append_batch(
                arrays.repartitionByRange(_LSH_N_BANDS, "doc_id"),
                paths["arrays"],
                batch_id,
            ),
        )
        # the epoch's commits were the snapshots' last readers — free
        # their blocks before the next epoch (ADVICE r12 discipline)
        from fluent_bit_filter_math_spark.ckpt import (
            release_local_checkpoint,
        )

        release_local_checkpoint(bands)
        release_local_checkpoint(arrays)
        epoch_ids.append(int(batch_id))

    (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if len(epoch_ids) != 2:
        raise RuntimeError(
            f"expected 2 ingest epochs, saw {epoch_ids}"
        )

    out = tf_read(spark, results_path)
    # the straddling-duplicate pin: every odd (second-epoch) doc must
    # be flagged exactly once — as an exact dup of its earlier twin —
    # which the creation-snapshot-only variant can NEVER produce when
    # its text is absent from the corpus
    odd = F.col("doc_id") % 2 == 1
    pin = out.agg(
        F.sum(odd.cast("long")).alias("n_odd"),
        F.sum((odd & (F.col("is_exact_dup") == 1)).cast("long")).alias(
            "n_odd_caught"
        ),
    ).collect()[0]
    n_odd = int(pin["n_odd"] or 0)
    n_odd_caught = int(pin["n_odd_caught"] or 0)
    if n_odd == 0 or n_odd_caught != n_odd:
        raise RuntimeError(
            f"cross-epoch duplicates not caught: {n_odd_caught}/{n_odd}"
        )

    # replay-idempotence pin across all four tables (the epoch id
    # short-circuits before any frame evaluation)
    heads = {
        k: latest_version(p)
        for k, p in {**paths, "results": results_path}.items()
    }
    noop = spark.createDataFrame([], "doc_id long")
    for tpath in (results_path, *paths.values()):
        if tf_append_batch(noop, tpath, epoch_ids[-1]) is not None:
            raise RuntimeError("replayed epoch appended twice")
    for k, p in {**paths, "results": results_path}.items():
        if latest_version(p) != heads[k]:
            raise RuntimeError(f"replay moved the {k} table head")
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# INDEX-TABLE MAINTENANCE on the LSH band index itself (VERDICT r15
# #4): the persisted postings grow one commit per ingested batch
# forever, so a real deployment periodically compacts them — and until
# now nothing proved a probe SURVIVES that. This query walks the full
# lifecycle ON the index tables: create → probe → compact (sort-
# clustered on the probe key, so the rewrite RESTORES the per-band
# file pruning) → vacuum (creation files physically reclaimed) →
# checkpoint → probe again at the compacted head. Pins, all in-query:
#   * the compacted bands table still FILE-PRUNES every probed band
#     (kept < total via the in-log stats — the whole point of
#     clustering the rewrite on (band, key));
#   * vacuum physically removed at least one pre-compact file, and
#     the post-vacuum probe never touches a reclaimed path;
#   * the post-maintenance probe is ROW-IDENTICAL to the pre-compact
#     probe (compaction is pure layout — verified with a two-sided
#     exceptAll over the bounded verdict frames);
#   * maintenance appends stay batch-bounded AFTER the compaction.
# ---------------------------------------------------------------------------


@register("dedup_index_maintenance", oracle=_INCREMENTAL_ORACLE)
def dedup_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fluent_bit_filter_math_spark.sources.table_format import (
        latest_version,
        tf_compact,
        tf_history,
        tf_pruned_counts,
        tf_vacuum,
    )

    paths, versions = _lsh_index_create(
        spark, sf_dir, "lsh-index-maint"
    )
    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == NEW_BATCH_SOURCE)
    batch_arrays = _lsh_doc_arrays(spark, batch).localCheckpoint(
        eager=True
    )
    # bands feed BOTH probes and the post-compact maintenance append
    # (whose range sampling would re-run the minhash) — once, not 4x
    batch_bands = _lsh_band_keys(batch_arrays).localCheckpoint(
        eager=True
    )
    batch_h = batch.select("doc_id", F.md5("text").alias("h"))

    before = (
        _lsh_probe(
            spark, paths, versions, batch_arrays, batch_bands, batch_h
        )
        .localCheckpoint(eager=True)
    )

    # ---- COMPACT each index table, clustered on its probe key so the
    # rewrite keeps (restores) the pruning layout. Three distinct
    # tables, three independent rewrites — overlapped (guide §2.6) ----
    overlap(
        lambda: tf_compact(
            spark, paths["bands"], cluster_by=("band", "key"),
            n_files=_LSH_N_BANDS,
        ),
        lambda: tf_compact(spark, paths["hashes"], n_files=1),
        lambda: tf_compact(
            spark, paths["arrays"], cluster_by=("doc_id",),
            n_files=_LSH_N_BANDS,
        ),
    )

    # ---- VACUUM: creation-era files are dead post-compact; reclaim
    # them and pin that something was actually deleted (per-table
    # vacuums are independent metadata+unlink walks — overlapped) ----
    removed = sum(
        len(r)
        for r in overlap(
            *[
                (lambda p=p: tf_vacuum(p, latest_version(p)))
                for p in paths.values()
            ]
        )
    )
    if removed == 0:
        raise RuntimeError(
            "vacuum after compaction reclaimed nothing — the walk "
            "did not exercise file deletion"
        )

    # ---- probe pruning survives the rewrite: every probed band keeps
    # a strict subset of the compacted files ----
    vnow = {k: latest_version(p) for k, p in paths.items()}
    # one metadata resolve for all bands (r17; the per-band
    # tf_pruned_files loop replayed the snapshot log once per band)
    counts, total = tf_pruned_counts(
        paths["bands"], "band", range(_LSH_N_BANDS),
        version=vnow["bands"],
    )
    for band, n_kept in counts.items():
        if total > 1 and n_kept >= total:
            raise RuntimeError(
                f"band {band} probe does not file-prune after "
                f"compaction ({n_kept}/{total} files kept)"
            )

    after = _lsh_probe(
        spark, paths, vnow, batch_arrays, batch_bands, batch_h
    ).localCheckpoint(eager=True)
    # compaction is pure layout: byte-identical verdicts. The two
    # symmetric-difference counts read only the two checkpointed
    # frames — independent actions, overlapped.
    if any(
        n != 0
        for n in overlap(
            lambda: before.exceptAll(after).count(),
            lambda: after.exceptAll(before).count(),
        )
    ):
        raise RuntimeError(
            "probe output changed across compact+vacuum"
        )

    # ---- maintenance stays batch-bounded on the compacted table ----
    from fluent_bit_filter_math_spark.sources.table_format import (
        tf_append,
    )

    tf_append(
        batch_bands.repartitionByRange(_LSH_N_BANDS, "band", "key"),
        paths["bands"],
    )
    head = tf_history(paths["bands"])[0]
    if head["n_removed"] != 0 or head["n_added"] > _LSH_N_BANDS:
        raise RuntimeError(
            "post-compact maintenance not batch-bounded: "
            f"{head['n_added']} added, {head['n_removed']} removed"
        )
    # the returned frame (`after`) is its own eager checkpoint; the
    # walk's other snapshots have no readers left — free their blocks
    # now instead of pinning them for the session (ADVICE r12
    # discipline; a bench pass runs 375 other queries in this session)
    from fluent_bit_filter_math_spark.ckpt import release_local_checkpoint

    for df in (before, batch_bands, batch_arrays):
        release_local_checkpoint(df)
    return after


# ---------------------------------------------------------------------------
# SimHash — 16-bit signature from per-token hash bit-planes.
# ---------------------------------------------------------------------------
_SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {duck_hash60('t')} AS h
      FROM (SELECT doc_id, unnest(list_distinct({_D_TOKENS})) AS t
            FROM documents)
    )
    SELECT doc_id,
           CAST({' + '.join(
               f"(CASE WHEN SUM(((h >> {i}) & 1) * 2 - 1) > 0"
               f" THEN {1 << i} ELSE 0 END)"
               for i in range(_SIMHASH_BITS)
           )} AS BIGINT) AS simhash
    FROM tok
    GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("t"),
    ).select("doc_id", hash60(F.col("t")).alias("h"))
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{i}")
        for i in range(_SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return agg.select("doc_id", simhash.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs — distributed block-pair GEMM, fully
# executor-side. (Round 1 collected the whole corpus to the driver with
# toPandas() and broadcast it — a driver-OOM scale-killer at 100 TB;
# VERDICT r1 "What's wrong" #1. No toPandas / collect survives here.)
#
# Exact all-pairs is inherently O(n²) similarity work; what CAN scale is
# its distribution: split the corpus into P hash blocks and evaluate
# every unordered block pair (i ≤ j) as an independent task. Each vector
# is routed (explode, map-side) to the P block-pairs it participates in,
# then groupBy(pair).applyInPandas runs one float64 GEMM per pair over
# two ~n/P-row matrices (BLAS), chunked so the cosine tile stays bounded.
# Per-task memory is O((n/P)·d) regardless of corpus size, the shuffle
# is n·P rows (choose P ≈ √(2·cores) so #tasks ≈ cluster width), and the
# driver never touches a vector. On a recall-tolerant production corpus
# you first shrink the candidate space with sign-bucket LSH
# (similarity._bucket_expr) or cluster blocking and run this same GEMM
# kernel per bucket; the oracle here demands EXACT all-pairs, so the
# blocking must be exhaustive, not approximate.
# Integer-only output: BLAS reassociation noise (~1e-13) never crosses
# the τ-gap in the data (≥ 2e-3), and the driver's hash sees only ids.
# ---------------------------------------------------------------------------
@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import numpy as np
    import pandas as pd

    n_blocks = max(2, math.isqrt(2 * spark.sparkContext.defaultParallelism))

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    blk = F.pmod(F.hash("vec_id"), F.lit(n_blocks))
    # Route each vector to every block pair it belongs to: block b is the
    # LEFT side of pairs (b, j) for j ≥ b and the RIGHT side of (i, b)
    # for i < b — each row fans out P times, map-side, no driver.
    routed = (
        emb.withColumn("blk", blk)
        .select(
            "vec_id",
            "embedding",
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
        )
        .select(
            "vec_id",
            "embedding",
            F.least("blk", "other").alias("pi"),
            F.greatest("blk", "other").alias("pj"),
            (F.col("blk") <= F.col("other")).alias("is_left"),
        )
    )

    def gemm_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        diagonal = pdf["pi"].iat[0] == pdf["pj"].iat[0]
        left = pdf if diagonal else pdf[pdf["is_left"]]
        right = pdf if diagonal else pdf[~pdf["is_left"]]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        a_ids = left["vec_id"].to_numpy(dtype=np.int64)
        b_ids = right["vec_id"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(left["embedding"]), dtype=np.float64)
        b_mat = np.array(list(right["embedding"]), dtype=np.float64)
        # Zero-norm guard: an all-zero embedding must score cosine 0,
        # not NaN (which would silently diverge from the oracle).
        a_n = np.linalg.norm(a_mat, axis=1, keepdims=True)
        b_n = np.linalg.norm(b_mat, axis=1, keepdims=True)
        a_mat /= np.where(a_n == 0.0, 1.0, a_n)
        b_mat /= np.where(b_n == 0.0, 1.0, b_n)
        out = []
        # Chunk the GEMM so the cosine tile stays ~chunk×|right|, bounding
        # peak memory regardless of block size.
        for lo in range(0, len(a_ids), 1024):
            cos = a_mat[lo : lo + 1024] @ b_mat.T
            ai, bi = np.nonzero(cos >= COSINE_THRESHOLD)
            ida, idb = a_ids[lo + ai], b_ids[bi]
            if diagonal:
                # Each unordered pair shows up twice (and self once);
                # keep the ordered half.
                keep = ida < idb
                ida, idb = ida[keep], idb[keep]
            else:
                # Each unordered pair shows up exactly once, with side
                # assignment decided by the hash — normalize to (lo, hi).
                ida, idb = np.minimum(ida, idb), np.maximum(ida, idb)
            out.append(pd.DataFrame({"id_a": ida, "id_b": idb}))
        return pd.concat(out, ignore_index=True)

    return routed.groupBy("pi", "pj").applyInPandas(
        gemm_pair, schema="id_a long, id_b long"
    )


# ---------------------------------------------------------------------------
# duplicate-cluster assignment — connected components over the verified
# near-dup pair graph, the step that turns pairwise dedup output into an
# actionable keep/drop decision: every document gets a cluster_id (the
# component's minimum doc_id — its canonical representative) and the
# cluster's size. Pairs come from the SAME banded-LSH + exact-verify
# pipeline as `dedup_minhash_lsh`, so this is the composed end-to-end
# dedup flow: shingle → minhash → LSH buckets → verify → cluster.
#
# Components run as the ALTERNATING algorithm (large-star / small-star;
# Kiveris et al., "Connected Components in MapReduce and Beyond",
# SoCC'14): each round is two shuffle stages over the edge list only
# (never the documents), and the edge list monotonically contracts
# toward depth-1 stars rooted at each component's minimum. Convergence
# is O(log² n) rounds on adversarial graphs — near-dup graphs in
# practice are unions of small dense cliques, which collapse in 2-3
# rounds. Each round ends in localCheckpoint(): iterative DataFrame
# algorithms otherwise re-derive the full lineage every action and the
# plan grows exponentially. The driver-side loop moves only two scalars
# (edge count + delta) per round — no row data.
#
# The DuckDB oracle computes the same fixpoint declaratively with a
# recursive CTE over the brute-force Jaccard pairs (LSH output ≡ brute
# force on this corpus, see dedup_minhash_lsh).
# ---------------------------------------------------------------------------
_CC_PAIRS = f"""
    sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS s FROM documents
    ), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rawp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jacp AS (
      SELECT doc_a, doc_b FROM rawp
      JOIN sizes sa ON rawp.doc_a = sa.doc_id
      JOIN sizes sb ON rawp.doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)
            >= {JACCARD_THRESHOLD}
    )
"""


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every strictly-larger neighbor of u is
    re-attached to min(Γ(u) ∪ {{u}}). Input/output: undirected edge set
    as (u, v) rows, both orientations present after _sym()."""
    s = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = s.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        s.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge large→small; every
    smaller neighbor of u (and u itself) attaches to the minimum."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    out = d.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    out = out.union(m.select("u", F.col("m").alias("v")))
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Component labels for an undirected graph given as (u, v) pairs.

    Returns (u, v=root) star edges: every non-root node mapped to its
    component's minimum node id. Nodes absent from `edges` are their own
    roots (callers left-join and coalesce).
    """
    from fluent_bit_filter_math_spark.ckpt import release_local_checkpoint

    e = edges.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(e)).localCheckpoint()
        # Fixpoint iff a full round changes nothing. Both sides are
        # distinct sets, so set equality ⇔ empty symmetric difference —
        # ONE Spark action (isEmpty short-circuits at the first row)
        # instead of the former count+count+subtract-count triple, which
        # re-read both checkpointed edge sets three times per round.
        converged = nxt.subtract(e).union(e.subtract(nxt)).isEmpty()
        # the symmetric-difference check was the superseded snapshot's
        # LAST reader: free its blocks now instead of pinning every
        # round's edge set in executor storage for the frame's lifetime
        # (the graph-family r16 discipline; at 100 TB a round snapshot
        # is data-sized, so reclaim must be deterministic)
        release_local_checkpoint(e)
        e = nxt
        if converged:
            return nxt
    raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")


@register(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE {_CC_PAIRS},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jacp
      UNION
      SELECT doc_b, doc_a FROM jacp
    ),
    reach(src, dst) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    comp AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM comp
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    comp = cluster_map(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("long").alias("cluster_size"),
    )


# The (doc_id → cluster_id) map is the pipeline's reusable artifact: the
# CC fixpoint loop runs real driver-coordinated rounds, and every
# downstream consumer (the cluster query itself, the composed curation
# pipeline, any keep/drop materialization) needs the same assignment —
# a production pipeline materializes it once per corpus snapshot. Same
# lifecycle discipline as the shingle index: memo-held, explicit release.


def cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document; cached per session+dir."""

    def build() -> DataFrame:
        pairs = dedup_minhash_lsh(spark, sf_dir).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        stars = connected_components(pairs).select(
            F.col("u").alias("doc_id"), F.col("v").alias("root")
        )
        docs = table(spark, sf_dir, "documents").select("doc_id")
        comp = docs.join(stars, "doc_id", "left").select(
            "doc_id", F.coalesce("root", "doc_id").alias("cluster_id")
        )
        return comp.cache()

    return memo.get(spark, "cluster_map", sf_dir, build)


def release_cluster_map(
    spark: SparkSession, sf_dir: str | None = None
) -> None:
    """Unpersist and evict the cached cluster map for *spark*."""
    memo.release(spark, "cluster_map", sf_dir)


# ---------------------------------------------------------------------------
# URL-canonicalization dedup — the CommonCrawl-style crawl-dedup stage
# that precedes any content dedup: normalize each document's source URL
# (lowercase host, strip tracking query params, trim trailing slash)
# and keep the lowest doc_id per canonical URL. The fixture's `source`
# column is not URL-shaped, so URLs are synthesized DETERMINISTICALLY
# from doc_id with deliberate collisions (same page reached via
# different hosts-case and utm params — the exact noise canonicalization
# exists to remove); both engines build the identical strings, so the
# canonical grouping is fully oracle-checked. One hash aggregate, one
# shuffle on the canonical key.
# ---------------------------------------------------------------------------
@register(
    "dedup_url_canonical",
    oracle="""
    WITH crawled AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'https://Site' ELSE 'https://site' END
               || CAST(doc_id % 250 AS VARCHAR)
               || '.example.com/page/' || CAST(doc_id % 50 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                       THEN '?utm_source=feed&utm_campaign=' || CAST(doc_id AS VARCHAR)
                       ELSE '' END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^https://([^/]+)/', 1))
               || regexp_replace(regexp_extract(url, '^https://[^/]+(/[^?]*)', 1),
                                 '/$', '') AS curl
      FROM crawled
    )
    SELECT curl, MIN(doc_id) AS keep_id, COUNT(*) AS n_variants
    FROM canon
    GROUP BY curl
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://Site")).otherwise(
            F.lit("https://site")
        ),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign="),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    crawled = docs.select("doc_id", url.alias("url"))
    curl = F.concat(
        F.lower(F.parse_url("url", F.lit("HOST"))),
        F.regexp_replace(F.parse_url("url", F.lit("PATH")), "/$", ""),
    )
    return (
        crawled.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# blocked record linkage (entity resolution) — fuzzy-match candidate
# pairs via edit distance INSIDE blocking buckets: pairs only form
# within a (p_brand, p_size) block, so the join volume is Σ|block|²,
# never |table|² — the classic linkage blocking strategy (same shape as
# the LSH banding above, with a domain blocking key instead of a hash).
# levenshtein() is integer-exact in both engines; the canonical pair
# orientation (a.key < b.key) halves the candidates and makes output
# deterministic. At 100 TB: block-size skew is the risk — a df-cap on
# block cardinality (as in dedup_ngram_jaccard's hot-shingle cap)
# bounds the worst block.
# ---------------------------------------------------------------------------
@register(
    "er_fuzzy_match_parts",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    ORDER BY id_a, id_b
    """,
)
def er_fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
    )
    return (
        a.join(b, ["brand", "size"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b").cast("long"),
        )
        .filter(F.col("edit_dist") <= 4)
        .select("id_a", "id_b", "name_a", "name_b", "edit_dist")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup by cluster-then-compare (Abbas et al.,
# arXiv:2303.09540): k-means-assign every embedding to its nearest
# centroid, then search for near-duplicate pairs ONLY within each
# cluster. This is the third blocking strategy in the dedup family —
# LSH buckets (dedup_embedding_cosine) and (brand,size) blocks
# (er_fuzzy_match_parts) bound the pair volume structurally; SemDeDup
# bounds it SEMANTICALLY, which is why it scales to web-corpus
# embedding dedup: Σ|cluster|² pairs with k chosen so clusters stay
# small (production uses k ~ 10⁴-10⁵; the fixture uses the shared
# KM_K=8 seeds so the oracle can replay the assignment exactly).
#
# Reuses similarity._km_assign: centroids ship as ONE broadcast row,
# assignment is map-side; the only shuffle is the per-cluster
# self-join. Determinism: assignment argmin ties break by cluster id
# (both engines), the cosine threshold sits ≥2e-3 from every fixture
# pair (the dedup_embedding_cosine τ-gap argument), and output is
# integer ids only.
# ---------------------------------------------------------------------------
@register(
    "semdedup_cluster_prune",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cluster, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < 8
    ),
    s AS (
      SELECT e.vec_id, c0.cluster,
             list_aggregate(list_transform(range(1, 65),
                 i -> (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i])), 'sum') AS d
      FROM emb e, c0
    ),
    a AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster)
                   AS rn
        FROM s
      ) WHERE rn = 1
    )
    SELECT x.cluster AS cluster, x.vec_id AS id_a, y.vec_id AS id_b
    FROM a x
    JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    JOIN emb ea ON ea.vec_id = x.vec_id
    JOIN emb eb ON eb.vec_id = y.vec_id
    WHERE list_cosine_similarity(ea.v, eb.v) >= {COSINE_THRESHOLD}
    ORDER BY x.cluster, id_a, id_b
    """,
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.operators.similarity import _km_assign

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    cents = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cluster"),
            F.transform("embedding", lambda x: x.cast("double")).alias("c"),
        )
    )
    import numpy as np
    import pandas as pd

    a = _km_assign(emb, cents)

    # Per-cluster pairwise scoring as ONE BLAS GEMM per cluster (the
    # dedup_embedding_cosine kernel, keyed by semantic cluster instead
    # of hash block): the expression-fold form costs |cluster|²·d
    # interpreted ops and went 6.3× on 10× vectors; the GEMM is a
    # single vectorized call. BLAS reassociation noise (~1e-13) never
    # crosses the τ-gap (≥2e-3 in the fixture, module docstring).
    def gemm_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat /= np.where(nrm == 0.0, 1.0, nrm)  # zero-norm → cosine 0, not NaN
        out = []
        cluster = int(pdf["cluster"].iat[0])
        # Chunk rows so the cosine tile stays bounded whatever the
        # cluster size.
        for lo in range(0, len(ids), 1024):
            cos = mat[lo : lo + 1024] @ mat.T
            ai, bi = np.nonzero(cos >= COSINE_THRESHOLD)
            ida, idb = ids[lo + ai], ids[bi]
            keep = ida < idb
            out.append(
                pd.DataFrame(
                    {
                        "cluster": cluster,
                        "id_a": ida[keep],
                        "id_b": idb[keep],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return (
        a.groupBy("cluster")
        .applyInPandas(gemm_cluster, schema="cluster long, id_a long, id_b long")
        .orderBy("cluster", "id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Intra-corpus exact SPAN dedup — the C4 / RefinedWeb cleaning step the
# family above doesn't cover: C4 removes any 3-sentence span occurring
# more than once in the corpus (Raffel et al. 2020 §2.2); RefinedWeb
# does the same at line level. This corpus has single-line documents,
# so the span unit is the overlapping word-8-gram, and the operator
# reports, per document, how many of its spans are corpus-duplicated
# (occur ≥2 times anywhere, same doc included — C4's count is global
# occurrences, not distinct documents) plus the resulting keep/drop
# verdict at a 25% duplicated-span budget.
#
# Shape — the honest C4 shape, two hash shuffles keyed by the span:
# explode → γ(gram → occurrence count) → shuffle-join the counts back
# onto the span stream → γ(doc). The gram table is corpus-sized, NOT
# broadcastable at 100 TB; both sides hash-partition on gram, and the
# join reuses the aggregate's exchange on the build side. Skew risk is
# hyper-common spans (boilerplate); production adds a df-cap (drop
# grams in > N docs before the join — they are boilerplate by
# definition and force the drop verdict anyway), the same mitigation
# measured for dedup_ngram_jaccard's shingle index.
# ---------------------------------------------------------------------------
_SPAN_K = 8  # words per span (C4 uses 3 sentences; 8 words ≈ one clause)


@register(
    "dedup_span_corpus",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_D_TOKENS} AS t FROM documents
    ),
    sp AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - {_SPAN_K - 2}),
                 i -> array_to_string(t[i:i+{_SPAN_K - 1}], ' '))) AS gram
      FROM t WHERE len(t) >= {_SPAN_K}
    ),
    occ AS (
      SELECT gram, COUNT(*) AS occ FROM sp GROUP BY gram
    )
    SELECT sp.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN occ.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           CAST(SUM(CASE WHEN occ.occ >= 2 THEN 1 ELSE 0 END) * 4
                < COUNT(*) AS BOOLEAN) AS keep
    FROM sp JOIN occ USING (gram)
    GROUP BY sp.doc_id
    ORDER BY sp.doc_id
    """,
)
def dedup_span_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _SPAN_K
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    # Overlapping spans at every position; sequence() counts DOWN when
    # stop < start, so short docs are guarded to an empty array (explode
    # then drops them, matching the oracle's len(t) >= K filter).
    grams = F.when(
        F.size("t") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice("t", i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = toks.select("doc_id", F.explode(grams).alias("gram"))
    occ = spans.groupBy("gram").agg(F.count("*").alias("occ"))
    return (
        spans.join(occ, "gram")  # shuffle join on gram; exchange reused
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(
                F.when(F.col("occ") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
        .withColumn("keep", F.col("n_dup_spans") * 4 < F.col("n_spans"))
    )


# ---------------------------------------------------------------------------
# Asymmetric CONTAINMENT near-dup pairs — C(a→b) = |a∩b| / |a|, the
# boilerplate/quote detector Jaccard cannot express: a short document
# wholly embedded in a long one scores containment ≈ 1 while its
# Jaccard ≈ |a|/|b| falls below any sane symmetric threshold. This is
# the signal RefinedWeb-style pipelines use to strip quoted/templated
# content and to catch train-on-test leakage where the test doc rides
# inside a larger page.
#
# Exact, via one-sided prefix filtering: C(a→b) ≥ τ forces
# inter ≥ ⌈τ·|a|⌉, so a's RAREST |a| − ⌈τ·|a|⌉ + 1 shingles (df asc —
# the same total order as dedup_ngram_jaccard) must contain a shared
# shingle — only the CONTAINED side has a prefix bound; the container
# side joins its full shingle set (|b| is unbounded by design: that is
# what asymmetric means). Candidate volume is Σ_s df_prefix(s)·df(s),
# governed by rare shingles on the prefix side; at 100 TB the hot-
# shingle df-cap transfers verbatim (drop shingles in > N docs from
# PREFIXES only, relax τ by the dropped fraction, verify at true τ —
# same superset proof as dedup_ngram_jaccard's). Verification scores
# the full arrays: the integer pre-test inter·denominator ≥ τ·|a| is
# applied as 5·inter ≥ 4·|a| (τ = 4/5 exact rational), so the float
# containment column is reporting, never the decision.
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8  # τ = 4/5, applied as the exact rational


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(inter AS DOUBLE) / sa.n AS containment
    FROM pairs
    JOIN sizes sa ON pairs.doc_a = sa.doc_id
    WHERE 5 * inter >= 4 * sa.n
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    arrays, sh = _shingle_index(spark, sf_dir)
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    ranked = sh.join(dfreq, "s")
    w_doc = Window.partitionBy("doc_id")
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    n = F.count("*").over(w_doc)
    # ⌈τ·n⌉ with τ = 4/5 as EXACT integers — ⌈4n/5⌉ = ⌊(4n+4)/5⌋.
    # float ceil(0.8·n) is only half-ulp-safe up to n ≈ 1.3e6 shingles;
    # a giant document must not silently lose prefix recall.
    prefix_len = n - F.floor((n * 4 + 4) / 5).cast("long") + 1
    a_prefix = (
        ranked.select(
            "doc_id",
            "s",
            F.row_number().over(w).alias("rn"),
            prefix_len.alias("plen"),
        )
        .filter(F.col("rn") <= F.col("plen"))
        .select(F.col("doc_id").alias("doc_a"), "s")
    )
    b_all = sh.select(F.col("doc_id").alias("doc_b"), "s")
    cand = (
        a_prefix.join(b_all, "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            F.size("sh_a").cast("long").alias("n_a"),
            (inter.cast("double") / F.size("sh_a")).alias("containment"),
        )
        .filter(F.lit(5) * F.col("inter") >= F.lit(4) * F.col("n_a"))
    )


# ---------------------------------------------------------------------------
# Threshold-calibration sweep — the question every semantic-dedup
# rollout answers BEFORE picking COSINE_THRESHOLD: how many pairs
# would each candidate threshold mark duplicate? One pass computes
# every pair's cosine, quantizes it to an integer percent bucket, and
# a ≤200-row bucket histogram answers ALL thresholds at once via a
# broadcast range join — the sweep costs one pair scan, not one scan
# per candidate threshold. (The production version replaces the
# all-pairs scorer with the banded-LSH candidate stream; the sweep
# arithmetic on the bucket histogram is unchanged.)
#
# Determinism: the bucket is floor(cos·100) on the SAME double cosine
# expression both engines evaluate; candidate thresholds are exact
# integers, so every count is an integer fold over identical buckets.
#
# Sampling: the sweep scores the deterministic 1/8 vector subsample
# (vec_id % 8 == 0 on both sides → 1/64 of the pairs) — exactly how a
# production calibration runs: the threshold decision needs the SHAPE
# of the pair-similarity distribution, not every pair, and the full
# all-pairs fold at sf0.1 measured 100 s (the per-pair sequential-fold
# cosine both engines must share for bitwise bucket parity is 8 µs —
# the GEMM kernel dedup_embedding_cosine uses is 100× faster but its
# pairwise-summed dots cannot guarantee identical floor(cos·100)
# buckets against DuckDB's sequential fold).
# ---------------------------------------------------------------------------
_SWEEP_PCTS = tuple(range(40, 95, 5))  # 40%, 45%, ..., 90%
_SWEEP_MOD = 8  # vec_id % MOD == 0 → in the calibration sample


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH p AS (
      SELECT CAST(floor(list_cosine_similarity(
                 a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 100)
             AS BIGINT) AS bkt
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND a.vec_id % {_SWEEP_MOD} = 0 AND b.vec_id % {_SWEEP_MOD} = 0
    ),
    t AS (SELECT unnest({list(_SWEEP_PCTS)}) AS t_pct)
    SELECT CAST(t_pct AS BIGINT) AS t_pct,
           CAST(COUNT(p.bkt) AS BIGINT) AS n_dup_pairs
    FROM t LEFT JOIN p ON p.bkt >= t.t_pct
    GROUP BY t_pct
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.functions import dot, norm

    base = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _SWEEP_MOD == 0)
        .select("vec_id", "embedding")
    )
    # The streamed side of the pair join does ~n_sample/2 sequential-fold
    # cosines PER ROW over a one-row-group local scan (guide §2.5: work ≫
    # shuffle bytes); the broadcast side stays on the bare scan so the
    # build pays no exchange.
    a = base.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        norm(F.col("embedding")).alias("nb"),
    )
    # dot/(na·nb) is cosine()'s exact IEEE expression with the two norms
    # evaluated once per VECTOR instead of once per PAIR (guide §2.3).
    # The sentinel coalesce makes bkt provably non-null: without it the
    # outer bkt >= t_pct join infers isnotnull(bkt) and pushes the whole
    # cosine into the pair-join CONDITION, evaluating it a second time
    # for every ordered pair (plan: the before-file's BNLJ node 9 carries
    # the full aggregate(zip_with(...)) expression; cosine is never null
    # here — embeddings are non-null — so -101 never occurs and no
    # threshold matches it).
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    buckets = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select(
            F.coalesce(
                F.floor(cos * 100).cast("long"), F.lit(-101)
            ).alias("bkt")
        )
        .groupBy("bkt")
        .agg(F.count("*").alias("n"))
    )
    # spark.range is a pure-JVM scan; createDataFrame would plan the
    # 11-row thresholds table as a Python-RDD scan whose 32 tasks each
    # round-trip a Python worker (guide §4 — keep the boundary out of
    # query paths). range(40, 95, 5) enumerates _SWEEP_PCTS exactly.
    thresholds = spark.range(
        _SWEEP_PCTS[0], _SWEEP_PCTS[-1] + 1, _SWEEP_PCTS[1] - _SWEEP_PCTS[0]
    ).select(F.col("id").alias("t_pct"))
    return (
        thresholds.join(
            F.broadcast(buckets), F.col("bkt") >= F.col("t_pct"), "left"
        )
        .groupBy("t_pct")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# MINHASH ESTIMATOR ERROR AUDIT — the fuzzy-dedup quality control every
# production pipeline owes its threshold choice to: for every LSH
# candidate pair (whole-band agreement, the dedup_minhash_lsh
# generator, NO threshold filter — false positives are exactly what
# the audit must see), report the signature estimate ĵ = matches/K
# side-by-side with the true n-gram Jaccard and the absolute error.
# This is the MinHash twin of sim_recall_audit (which certifies the
# ANN index the same way). All quantities are exact integers until two
# final divisions: matches and K (=8), intersection and union sizes;
# est − jac is one IEEE subtraction of two correctly-rounded divisions
# on identical operands, so the error column is bit-identical
# cross-engine.
#
# Scale: candidate volume is the banded-LSH Σ|bucket|² bound (measured
# sub-linear, SCALING.md); verification touches candidate pairs only.
# The audit is the sampling-free form; at 100 TB you'd run it on a
# stratified pair sample (sample_stratified composes).
# ---------------------------------------------------------------------------
_MH_BANDS_SQL = "\n      UNION ALL\n".join(
    f"""      SELECT doc_id, {i} AS band,
             CAST(mh{2 * i} AS VARCHAR) || ',' ||
             CAST(mh{2 * i + 1} AS VARCHAR) AS key FROM sigs"""
    for i in range(MINHASH_K // LSH_ROWS_PER_BAND)
)


@register(
    "dedup_minhash_error_audit",
    oracle=f"""
    WITH sigs AS (
      SELECT doc_id,
             {", ".join(f"{_duck_minhash(j)} AS mh{j}" for j in range(MINHASH_K))},
             {_D_SHINGLES} AS sh
      FROM documents
    ),
    bands AS (
{_MH_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.key = b.key
                   AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             {" + ".join(f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)" for j in range(MINHASH_K))}
                 AS n_match,
             len(list_intersect(sa.sh, sb.sh)) AS inter,
             len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                 AS uni
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_match AS BIGINT) AS n_match,
           CAST(inter AS BIGINT) AS inter_size,
           CAST(uni AS BIGINT) AS union_size,
           CAST(n_match AS DOUBLE) / {MINHASH_K} AS minhash_est,
           CAST(inter AS DOUBLE) / uni AS jaccard,
           abs(CAST(n_match AS DOUBLE) / {MINHASH_K}
               - CAST(inter AS DOUBLE) / uni) AS abs_err
    FROM scored
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrays, _ = _shingle_index(spark, sf_dir)
    sig = arrays.select(
        "doc_id", F.array(*_minhash_sig(F.col("sh"))).alias("sig")
    )
    bands = _band_frame(sig, "doc_id")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    full = arrays.select("doc_id", "sh").join(sig, "doc_id")
    fa = full.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    fb = full.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    n_match = sum(
        (F.col("sig_a")[j] == F.col("sig_b")[j]).cast("long")
        for j in range(MINHASH_K)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    uni = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    est = F.col("n_match").cast("double") / F.lit(MINHASH_K)
    jac = F.col("inter_size").cast("double") / F.col("union_size")
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            inter.alias("inter_size"),
            uni.alias("union_size"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            "inter_size",
            "union_size",
            est.alias("minhash_est"),
            jac.alias("jaccard"),
            F.abs(est - jac).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# CONTENT-DEFINED CHUNKING DEDUP — the rolling-window cut-point
# primitive behind rsync/LBFS/venti-style storage dedup (Muthitacharoen
# et al., SOSP'01), and the file-level near-identical dedup a training-
# data pipeline runs on raw crawl payloads BEFORE tokenization: cut
# points are chosen by CONTENT (hash of the trailing CDC_W-byte window
# ≡ 0 mod CDC_D), so an insertion early in a document shifts only the
# chunks it touches — unlike fixed-size blocking, where every
# downstream block changes. Implemented in the STATELESS fixed-window
# (winnowing) form: every position's window hash is independent, so
# cut-point selection is one map-side array transform — no sequential
# scan state, no recursion, embarrassingly parallel (production CDC
# adds min/max chunk bounds, which need the sequential form; this
# variant trades that for exact distributability).
#
# Output: the top duplicated chunk fingerprints (count ≥ 2) — the
# dedup opportunity table a storage layer acts on.
#
# Determinism: cut points come from the portable md5 (hash60 — the
# DuckDB-identical spelling); chunking is pure substring arithmetic on
# 1-based offsets; counts are exact.
# ---------------------------------------------------------------------------
CDC_W = 8    # rolling window bytes
CDC_D = 64   # cut when window-hash % CDC_D == 0 (expected chunk ~64B)
CDC_TOPK = 15


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH cutlists AS (
      SELECT doc_id, text, length(text) AS n,
             list_filter(range({CDC_W}, length(text)),
                         p -> ({duck_hash60(f"substr(text, p - {CDC_W} + 1, {CDC_W})")})
                              % {CDC_D} = 0) AS cuts
      FROM documents
    ),
    chunked AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(cuts) + 2),
               i -> substr(text,
                           (CASE WHEN i = 1 THEN 0 ELSE cuts[i - 1] END) + 1,
                           (CASE WHEN i = len(cuts) + 1 THEN n
                                 ELSE cuts[i] END)
                           - (CASE WHEN i = 1 THEN 0
                                   ELSE cuts[i - 1] END)))) AS chunk
      FROM cutlists
    )
    SELECT {duck_hash60("chunk")} AS chunk_fp,
           CAST(length(MIN(chunk)) AS BIGINT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM chunked
    WHERE length(chunk) > 0
    GROUP BY 1
    HAVING COUNT(*) >= 2
    ORDER BY n_occurrences DESC, chunk_fp
    LIMIT {CDC_TOPK}
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repartition BEFORE the rolling-hash projection (guide §2.5 input
    # skew; the _docs_shingled discipline at the top of this file):
    # documents.parquet is one row group ⇒ a 1-partition scan, and the
    # cut-position filter evaluates one md5 per BYTE of every document
    # — all of it on a single core without this (3.68 s warm baseline).
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    n = F.length("text")
    # Cut positions: 1-based offset p means "cut after byte p"; the
    # window is text[p-W+1 .. p]. range is empty when the doc is
    # shorter than the window (sequence would flip to DESCENDING for
    # stop < start — guard with the when()).
    cuts = F.when(
        n > CDC_W,
        F.filter(
            F.sequence(F.lit(CDC_W), n - 1),
            lambda p: F.pmod(
                hash60(F.expr("text").substr(p - CDC_W + 1, F.lit(CDC_W))),
                F.lit(CDC_D),
            )
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    cutlists = docs.select("doc_id", "text", n.alias("n"),
                           cuts.alias("cuts"))
    c = F.col("cuts")
    prev = lambda i: F.when(i == 1, F.lit(0)).otherwise(  # noqa: E731
        F.element_at(c, (i - 1).cast("int"))
    )
    upto = lambda i: F.when(  # noqa: E731
        i == F.size(c) + 1, F.col("n")
    ).otherwise(F.element_at(c, i.cast("int")))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(c) + 1),
        lambda i: F.expr("text").substr(
            prev(i) + 1, (upto(i) - prev(i)).cast("int")
        ),
    )
    chunked = cutlists.select(
        "doc_id", F.explode(chunks).alias("chunk")
    ).filter(F.length("chunk") > 0)
    return (
        chunked.groupBy(hash60(F.col("chunk")).alias("chunk_fp"))
        .agg(
            F.length(F.min("chunk")).cast("long").alias("chunk_len"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("chunk_fp"))
        .limit(CDC_TOPK)
    )


# ---------------------------------------------------------------------------
# SUBSTRING-level dedup WITH TRIMMING (VERDICT r13 #3; the Lee et al.
# 2022 "Deduplicating Training Data Makes Language Models Better"
# ExactSubstr shape): instead of flagging whole documents, find every
# duplicated token run of >= K tokens across the corpus and emit the
# documents with those runs REMOVED — the curation step that keeps a
# mostly-unique document while cutting its boilerplate/quoted spans.
#
# Rule (deterministic, both engines): a K-token gram occurring >= 2
# times in the corpus marks all K positions of each occurrence as
# covered; a document's trimmed text is its uncovered tokens in
# original order. (Lee et al. keep one canonical occurrence; removing
# every occurrence is the stricter published variant — fully
# order-independent, so it needs no tie-break between documents and
# distributes without coordination.)
#
# Scale shape: gram -> occurrence-count is a word-count aggregate
# (map-side combinable); coverage is one shuffle join of gram
# occurrences against the duplicated-gram set (volume = duplicated
# occurrences x K, bounded by the corpus's duplication rate, never
# n^2); the trim is a per-doc sort-and-concat. The hot-shingle df-cap
# from dedup_ngram_jaccard transfers verbatim: grams in > N docs can
# be dropped from the OCCURRENCE side only when N >= 2 keeps the
# decision identical (every such gram is already duplicated).
# The output hashes the trimmed text (md5, DuckDB-parity) so the
# oracle gate covers the reconstruction byte for byte, not just the
# counts.
# ---------------------------------------------------------------------------
_TRIM_K = _SPAN_K  # 8-token runs, the span-flagging threshold reused


@register(
    "dedup_substring_trim",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_D_TOKENS} AS t FROM documents
    ),
    w AS (
      SELECT doc_id, i AS pos, t[i] AS w
      FROM t, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) u
    ),
    g AS (
      SELECT doc_id, i AS s,
             array_to_string(t[i:i + {_TRIM_K - 1}], ' ') AS gram
      FROM t, LATERAL (
        SELECT unnest(range(1, len(t) - {_TRIM_K - 2})) AS i
      ) u
      WHERE len(t) >= {_TRIM_K}
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, s + j AS pos
      FROM g JOIN dup USING (gram),
           LATERAL (SELECT unnest(range(0, {_TRIM_K})) AS j) u
    ),
    kept AS (
      SELECT w.doc_id, w.pos, w.w
      FROM w ANTI JOIN cov USING (doc_id, pos)
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(w, ' ' ORDER BY pos) AS trimmed
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(agg.trimmed, '')) AS trimmed_hash
    FROM t LEFT JOIN agg USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def dedup_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _TRIM_K
    # Repartition before tokenization (guide §2.5; _docs_shingled
    # discipline): the 1-partition documents scan feeds TWO duplicated
    # consumers (positions and grams), each building O(tokens·K) gram
    # strings — single-core without this.
    toks = (
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    words = toks.select(
        "doc_id", F.posexplode("t").alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    # grams with their 1-based start positions (the span_corpus gram
    # builder, keeping the offset the trim arithmetic needs)
    gram_arr = F.when(
        F.size("t") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (k - 1)),
            lambda i: F.struct(
                i.alias("s"),
                F.concat_ws(" ", F.slice("t", i, k)).alias("gram"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<s:int,gram:string>>")
    )
    grams = toks.select(
        "doc_id", F.explode(gram_arr).alias("g")
    ).select("doc_id", F.col("g.s").alias("s"), F.col("g.gram").alias("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("gram")
    )
    cov = (
        grams.join(dup, "gram")  # shuffle join on gram; exchange reused
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + (k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = words.join(cov, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "w"))
                ),
                lambda x: x["w"],
            ),
        ).alias("trimmed"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.md5(
                F.encode(F.coalesce(F.col("trimmed"), F.lit("")), "utf-8")
            ).alias("trimmed_hash"),
        )
    )
