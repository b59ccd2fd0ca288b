"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet, so two runs of one seed see the same inputs and a
change to the program never changes what it is fed. The library under test
only ever sees the files written here.

Tables mirror the fixture schemas the registered queries expect
(``events``, ``documents``, ``lineitem``; see FIXTURES.md), written as a
directory of several parquet files per table so scans have more than one
split.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in epoch µs

# props kinds: how the dynamic JSON payload of one event is spelled.
K_INT, K_FLOAT, K_UPPER, K_TEXT, K_MISSING, K_NULL, K_BROKEN, K_ARRAY = range(8)
# Share of each kind. These shares are chosen, not observed: no trace of
# real traffic stands behind them. Numeric keys are made the majority and
# every edge case gets a few percent so each coercion path runs in every
# pass; a change that speeds up one kind is weighted by these shares.
_KIND_P = np.array([0.70, 0.08, 0.05, 0.04, 0.05, 0.03, 0.03, 0.02])
# kinds whose payload is not a JSON object: passthrough leaves them alone
MALFORMED_KINDS = (K_BROKEN, K_ARRAY)
# Chosen sizes, like the shares above: events spread over 30 days and
# 5000 users; line items over 2000 parts and 100 suppliers.
DAYS = 30
USERS = 5000
PARTS = 2000
SUPPLIERS = 100


@dataclass
class Events:
    """Column arrays of one generated ``events`` table plus the generator's
    own model of each row's ``k`` operand (kind + numeric value)."""

    event_id: np.ndarray
    ts_us: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray
    value: np.ndarray
    kind: np.ndarray
    k: np.ndarray

    def k_operand(self) -> np.ndarray:
        """The fold operand ``k`` as the reference coerces it: the number
        when the payload carries a numeric ``k`` (any key case), else 0."""
        numeric = np.isin(self.kind, (K_INT, K_FLOAT, K_UPPER))
        return np.where(numeric, self.k, 0.0)


def make_events(seed: int, n: int) -> Events:
    rng = np.random.default_rng([seed, 1])
    gaps = rng.exponential(DAYS * 86_400e6 / n, n)
    ts = T0_US + np.cumsum(gaps).astype(np.int64)
    kind = rng.choice(len(_KIND_P), n, p=_KIND_P)
    k = rng.integers(0, 100, n).astype(np.float64)
    k = np.where(kind == K_FLOAT, k + rng.integers(1, 100, n) / 100.0, k)
    return Events(
        event_id=np.arange(n, dtype=np.int64),
        ts_us=ts,
        user_id=rng.integers(0, USERS, n).astype(np.int64),
        event_type=EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        value=np.round(rng.lognormal(3.4, 0.9, n), 2).clip(0.01, None),
        kind=kind,
        k=k,
    )


def _props(ev: Events) -> list:
    out = []
    for kind, k in zip(ev.kind.tolist(), ev.k.tolist()):
        if kind == K_INT:
            out.append('{"k": %d}' % k)
        elif kind == K_FLOAT:
            out.append('{"k": %r}' % k)
        elif kind == K_UPPER:
            out.append('{"K": %d, "src": "edge"}' % k)
        elif kind == K_TEXT:
            out.append('{"k": "n/a"}')
        elif kind == K_MISSING:
            out.append('{"mem": %d}' % k)
        elif kind == K_NULL:
            out.append(None)
        elif kind == K_BROKEN:
            out.append('{"k": %d' % k)
        else:
            out.append("[%d, 2]" % k)
    return out


def events_table(ev: Events) -> pa.Table:
    return pa.table(
        {
            "event_id": ev.event_id,
            "ts": pa.array(ev.ts_us, pa.timestamp("us")),
            "user_id": ev.user_id,
            "event_type": ev.event_type.astype(object),
            "value": ev.value,
            "props": pa.array(_props(ev), pa.string()),
        }
    )


_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def documents_table(seed: int, n: int) -> pa.Table:
    """Bag-of-words documents; about one in twenty is a near-duplicate of
    an earlier one (its text plus a marker word), so dedup has work. The
    share is chosen, not observed."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words.tolist()))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), n)].astype(object),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def lineitem_table(seed: int, n: int) -> pa.Table:
    """TPC-H-shaped line items; the graph operators read the
    (part, supplier) pairs as a bipartite edge list."""
    rng = np.random.default_rng([seed, 4])
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": np.arange(n, dtype=np.int64) // 4 + 1,
            "l_partkey": rng.integers(1, PARTS + 1, n).astype(np.int64),
            "l_suppkey": rng.integers(1, SUPPLIERS + 1, n).astype(np.int64),
            "l_linenumber": (np.arange(n) % 4 + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)].astype(object),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)].astype(object),
            "l_shipdate": pa.array(
                T0_US - 86_400_000_000 * rng.integers(0, 2000, n), pa.timestamp("us")
            ),
        }
    )


def write_table(table: pa.Table, path: str, files: int) -> None:
    """Write *table* as ``files`` parquet parts under directory *path*."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
