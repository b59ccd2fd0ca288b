"""Compile a MathSpec into a native Catalyst Column expression.

The reference evaluates the fold per record with function-pointer
dispatch (map_operate_fn, /root/reference/filter_math/math.c:167-195;
kernels math.c:197-215). Here the fold is *plan-time* expression
construction: the first operand seeds the accumulator (math.c:186-188)
and each subsequent operand is folded left-to-right (math.c:190). The
result is one Column — Catalyst constant-folds literal prefixes and
Tungsten runs it in whole-stage codegen. A spec list compiles into one
projection (:func:`project_specs`): the input's columns are read once,
each JSON column is parsed once (math.c:322) into a hidden column, and
every spec's output is one entry of a single ``withColumns``. No UDFs,
no shuffle: the entire reference surface is a narrow, element-wise
stage.

Division (math.c:212-215) is plain C double division in the reference,
i.e. IEEE-754: x/0 → ±inf, 0/0 → NaN. Spark and DuckDB both yield NULL
instead (with ANSI off / try_divide). ``div_mode`` picks:

* ``"null"`` (default): ``try_divide`` — NULL on zero divisor. Agrees
  with the DuckDB oracle bit-for-bit.
* ``"ieee"``: an explicit when-guard reproducing ±inf/NaN, matching the
  reference's C semantics (SURVEY.md §7.3 decision).
"""

from __future__ import annotations

import math as _math
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark.coerce import OperandTable
from fluent_bit_filter_math_spark.spec import (
    ConstOperand,
    FieldOperand,
    MathSpec,
    Operation,
)

_INF = float("inf")
_NAN = float("nan")


def _ieee_div(acc: Column, v: Column) -> Column:
    """C double division semantics: x/0 → ±inf, 0/0 → NaN (math.c:212-215)."""
    return (
        F.when(
            v == F.lit(0.0),
            F.when(acc > F.lit(0.0), F.lit(_INF))
            .when(acc < F.lit(0.0), F.lit(-_INF))
            .otherwise(F.lit(_NAN)),
        )
        .otherwise(F.try_divide(acc, v))
    )


_FOLDS = {
    Operation.SUM: lambda a, b: a + b,  # apply_sum, math.c:197-200
    Operation.SUB: lambda a, b: a - b,  # apply_sub, math.c:202-205
    Operation.MUL: lambda a, b: a * b,  # apply_mul, math.c:207-210
    # DIV handled per div_mode (apply_div, math.c:212-215)
}


def operand_expr(operand, operands: OperandTable) -> Column:
    if isinstance(operand, ConstOperand):
        # Config-time literal already int-truncated (math.c:181-182).
        return F.lit(float(operand.value))
    if isinstance(operand, FieldOperand):
        return operands.field(operand.name)
    raise TypeError(f"unknown operand {operand!r}")


def compile_spec(spec: MathSpec, operands: OperandTable) -> Column:
    """spec → one Column implementing the ordered left fold."""
    exprs = [operand_expr(op, operands) for op in spec.operands]
    if spec.operation is Operation.DIV:
        fold = _ieee_div if spec.div_mode == "ieee" else F.try_divide
    else:
        fold = _FOLDS[spec.operation]
    result = reduce(fold, exprs)
    if spec.cast_to_int:
        # double → integral truncates toward zero in Spark, matching the C
        # (int) cast (math.c:258-259); we widen int → long for 100 TB sanity.
        result = result.cast("long")
    return result


def project_specs(
    df: DataFrame,
    specs: Sequence[MathSpec],
    json_cols=("props",),
    columns: Sequence[str] | None = None,
    guard_col: str | None = None,
) -> DataFrame:
    """Every spec's output appended to ``df`` in one projection.

    ``columns`` are ``df.columns`` when the caller has read them already.
    Each output overwrites a column of the same name, case-insensitively
    (documented divergence from the reference's duplicate-key quirk,
    math.c:245-262), and a later spec reads what an earlier one wrote.
    With ``guard_col``, a record whose ``guard_col`` holds a non-NULL
    value that does not parse as a JSON object gets NULL outputs (see
    :func:`pipeline.apply_specs_passthrough`).
    """
    operands = OperandTable(
        df.columns if columns is None else columns,
        json_cols,
        reserved=[s.output_field for s in specs],
    )
    outputs: dict[str, tuple[str, Column]] = {}
    for spec in specs:
        out = compile_spec(spec, operands)
        if guard_col is not None:
            out = F.when(operands.well_formed(guard_col), out).cast(
                "long" if spec.cast_to_int else "double"
            )
        operands.set(spec.output_field, out)
        # Keyed case-insensitively: the slot of the first write, the
        # name and value of the last, as chained withColumn calls give.
        outputs[spec.output_field.lower()] = (spec.output_field, out)
    parsed = operands.parsed
    if parsed:
        df = df.select("*", *(p.alias(h) for h, p in parsed.items()))
    df = df.withColumns(dict(outputs.values()))
    return df.drop(*parsed) if parsed else df


def apply_spec(df: DataFrame, spec: MathSpec, json_cols=("props",)) -> DataFrame:
    """Append the result column (overwrite on name collision — documented
    divergence from the reference's duplicate-key quirk, math.c:245-262)."""
    return project_specs(df, [spec], json_cols)
