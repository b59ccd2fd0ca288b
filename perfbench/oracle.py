"""Output checks against independent references.

* Registered queries are compared with their ``oracle_sql()`` text run by
  DuckDB over the same generated parquet: same row count, same columns,
  same dtype class per column, and equal values after sorting rows
  (doubles bit-for-bit, NaN equal to NaN).
* The fold workload is compared with a NumPy fold computed from the
  generator's own model of each row (``perfbench.gen.Events``), never
  from what Spark parsed.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from gen import MALFORMED_KINDS, Events

ORACLE_TABLES = ("events", "documents", "lineitem")


def duckdb_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ORACLE_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
    return con


def _dtype_class(dt) -> str:
    from pandas.api import types as pt

    if pt.is_datetime64_any_dtype(dt):
        return "datetime"
    if pt.is_bool_dtype(dt):
        return "bool"
    if pt.is_integer_dtype(dt):
        return f"int{dt.itemsize * 8}"
    if pt.is_float_dtype(dt):
        return f"float{dt.itemsize * 8}"
    return str(dt)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype) == "object":
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _same(x, y) -> bool:
    if x == y:
        return True
    if isinstance(x, float) and isinstance(y, float):
        return math.isnan(x) and math.isnan(y)
    return bool(pd.isna(x) and pd.isna(y))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing *got* with *want*; empty when they match."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} vs {len(want)}"]
    problems = []
    for c in got.columns:
        a, b = _dtype_class(got[c].dtype), _dtype_class(want[c].dtype)
        if a != b:
            problems.append(f"col {c} dtype {a} vs {b}")
    if problems:
        return problems
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _same(x, y):
                problems.append(f"col {c} row {i}: {x!r} != {y!r}")
                break
    return problems


def check_query(con, sql: str, got: pd.DataFrame) -> list[str]:
    return compare_frames(got, con.execute(sql).fetchdf())


# ---------------------------------------------------------------------------
# the reference fold (test.sh's four specs over value and props.k)
# ---------------------------------------------------------------------------
def fold_reference(ev: Events, passthrough: bool = False) -> dict[str, np.ndarray]:
    """Expected outputs of the four-spec chain, NaN where the engine emits
    NULL: ``sum`` cast to int, ``sub``, ``mul`` and ``div`` (NULL on a zero
    divisor). With *passthrough*, rows whose payload is not a JSON object
    get NULL in every output."""
    v, k = ev.value, ev.k_operand()
    with np.errstate(divide="ignore", invalid="ignore"):
        out = {
            "used_plus_total": np.trunc(v + k),
            "used_minus_total": v - k,
            "used_times_total": v * k,
            "used_div_total": np.where(k == 0.0, np.nan, v / np.where(k == 0.0, 1.0, k)),
        }
    if passthrough:
        bad = np.isin(ev.kind, MALFORMED_KINDS)
        out = {name: np.where(bad, np.nan, col) for name, col in out.items()}
    return out


def check_fold(ev: Events, got: pd.DataFrame, passthrough: bool = False) -> list[str]:
    """Compare a fold result (``event_id`` + the four outputs) with
    :func:`fold_reference`, bit-for-bit with NULL read as NaN."""
    if len(got) != len(ev.event_id):
        return [f"row count {len(got)} vs {len(ev.event_id)}"]
    got = got.sort_values("event_id").reset_index(drop=True)
    if not np.array_equal(got["event_id"].to_numpy(), ev.event_id):
        return ["event ids differ"]
    problems = []
    for name, want in fold_reference(ev, passthrough).items():
        have = got[name].to_numpy(dtype=np.float64, na_value=np.nan)
        bad = ~((have == want) | (np.isnan(have) & np.isnan(want)))
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"{name} row {i}: {have[i]!r} != {want[i]!r}")
    return problems
