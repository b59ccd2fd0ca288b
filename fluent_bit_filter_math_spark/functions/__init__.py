"""Shared expression helpers used by the extension operators.

Everything here returns native Column expressions (JVM-side, inside
whole-stage codegen). The one design constraint beyond speed is
**cross-engine determinism**: the driver hash-compares our results
against DuckDB, so every derived value must be computable bit-for-bit
in both engines.

* Hashing goes through md5 (both engines implement RFC 1321) rather
  than xxhash64/murmur (whose seeds/implementations differ across
  engines). ``hash60`` takes the first 15 hex chars → a non-negative
  60-bit BIGINT both engines agree on. At 100 TB you would swap the
  md5 for ``F.xxhash64`` (one line, no oracle then) — the operator
  shapes are hash-agnostic.
* Tokenization is a plain single-space split (the fixture corpus is
  single-spaced); both engines' split functions agree on it.
* Vector math is sequential left-fold ``F.aggregate`` over the array
  — same evaluation order as DuckDB's list functions, so double
  results are bit-identical.
"""

from __future__ import annotations

from typing import Callable

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo

# ---------------------------------------------------------------------------
# Cross-engine 60-bit hash.
# ---------------------------------------------------------------------------


def hash60(col: Column) -> Column:
    """Non-negative 60-bit hash of a string column, identical in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def duck_hash60(expr: str) -> str:
    """DuckDB SQL spelling of :func:`hash60`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------------------
# Engine-independent fixed-point rounding.
#
# Neither engine's native ``round()`` on DOUBLE is portable: Spark rounds
# the shortest-decimal *rendering* of the double (via BigDecimal.valueOf)
# while DuckDB rounds the *binary* value, so halfway-adjacent doubles
# diverge — which rows flip depends on the exact fixture bytes (the six
# CORRECTNESS_r05 hash-fails, all ``round(value*100)`` cents or 9-dp
# transcendentals). ``floor(x*scale + 0.5)`` avoids rendering entirely:
# IEEE multiply + add + floor is computed identically by both engines on
# the same input double. Every driver-visible rounded output must route
# through these helpers (or DECIMAL), never engine-native round(DOUBLE).
# ---------------------------------------------------------------------------


def fixed_point(col: Column, scale: int) -> Column:
    """Half-up fixed-point of a double: floor(x*scale + 0.5) as BIGINT.

    Exact for |x*scale| < 2^53 (all fixture columns are ≤ ~1e14 at
    scale 1e9). Spark's floor(DOUBLE) already returns LONG; the cast is
    a no-op kept for schema clarity.
    """
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def exact_cents(col: Column) -> Column:
    """value → integer cents, bit-identical in Spark and DuckDB."""
    return fixed_point(col, 100)


def fixed_round(col: Column, dp: int) -> Column:
    """Portable round(x, dp) as DOUBLE: floor(x*10^dp + 0.5) / 10^dp.

    The integer floor result converts exactly to double (< 2^53) and the
    final division is one IEEE op on identical operands in both engines.
    """
    s = float(10**dp)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)


# ---------------------------------------------------------------------------
# Tokenization.
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a")  # the fixture corpus's function words


def tokens(col: Column) -> Column:
    """Whitespace tokens; fixture text is single-space separated."""
    return F.split(col, " ")


# ---------------------------------------------------------------------------
# Vector math over array<float>/array<double> columns.
# ---------------------------------------------------------------------------


# Building one higher-order-function Column costs ~10 py4j round trips
# (~20-60 ms per dot/norm/cosine on this box — the r17 driver profile
# charged 0.77 s of sim_ann_retrain's 7.8 s wall to HOF construction
# alone). The UNRESOLVED expression tree is immutable and name-scoped,
# so identical (helper, operand-text) builds are interchangeable across
# plans — cache them in the context-scoped memo (a Column is bound to
# its SparkContext's JVM, so another context must never get it; ADVICE
# r17). Lambda variables created by earlier builds carry session-unique
# names (x_0, x_1, ...), so an operand that embeds one (a helper called
# inside another lambda) produces a unique key and simply never
# shares — safe by construction. Keys come from the JVM expression text
# (one cheap py4j call) or the bare string for str operands.
def _vec_cached(kind: str, build: Callable[[], Column], *cols) -> Column:
    parts = []
    for c in cols:
        if isinstance(c, str):
            parts.append(c)
        else:
            try:
                parts.append(c._jc.toString())
            except Exception:  # noqa: BLE001 — cache is optional
                return build()
    return memo.get(
        SparkContext._active_spark_context, "vec", None, build, kind, *parts
    )


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision."""

    def build() -> Column:
        return F.aggregate(
            F.zip_with(
                _as_col(a),
                _as_col(b),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return _vec_cached("dot", build, a, b)


def norm(a: Column | str) -> Column:
    def build() -> Column:
        return F.sqrt(
            F.aggregate(
                _as_col(a),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )

    return _vec_cached("norm", build, a)


def cosine(a: Column | str, b: Column | str) -> Column:
    return _vec_cached(
        "cosine", lambda: dot(a, b) / (norm(a) * norm(b)), a, b
    )
