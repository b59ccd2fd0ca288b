"""Avro Object Container File connector — the binary encoding AND the
container implemented from scratch (Apache Avro 1.11 spec), because the
sandbox has no spark-avro jar: the point is the same as the Kafka wire
twin (sources/kafka_wire.py) — the FORMAT is engine logic and fully
testable; only the vendor artifact is environmental.

Spec surface implemented (all of it exercised by the round-trip):
* primitives — ``long``/``int`` as ZIGZAG VARINTS (the encoding's
  signature quirk: (n << 1) ^ (n >> 63), little-endian 7-bit groups,
  high bit = continuation), ``double`` as 8-byte IEEE LE, ``string``
  as varint byte-length + UTF-8;
* records — fields concatenated in schema order, no tags;
* the CONTAINER — magic ``Obj\\x01``, a metadata map (avro.schema JSON
  + avro.codec) encoded as the spec's block-form map, a random 16-byte
  sync marker, then data blocks of (row count varint, byte size
  varint, payload, sync) — the sync marker after EVERY block is what
  makes OCF splittable, and the reader verifies each one;
* ``deflate`` codec — raw DEFLATE (zlib wbits=-15, no zlib header —
  a real-world interop trap) and ``null`` passthrough.

Writer: executor-side ``foreachPartition`` — each task writes one
shard OCF; nothing but paths touches the driver. Reader: a Python
DataSource with one InputPartition per shard.

Schema RESOLUTION (spec §"Schema Resolution") is implemented for flat
records: reader≠writer schemas reconcile per file via name/alias
matching, reader-field defaults, and the primitive promotion lattice
(int→long/float/double, long→float/double, float→double,
string↔bytes) — see :func:`resolve_schemas` and the
``io_avro_schema_evolution`` query.

LOGICAL TYPES (spec §Logical Types) ride the base wire format: date
(int days), timestamp-millis/micros (long), decimal over bytes
(big-endian two's-complement unscaled int) — see ``io_avro_logical_
types``; resolution matches on BASE types per spec.

UNIONS (spec §Unions) decode generally (varint branch index + branch
payload) and encode for the ubiquitous nullable form ``["null", T]``;
resolution matches per branch, and a writer branch no reader branch
accepts errors only when a value actually uses it — see
``io_avro_nullable``.

ARRAYS (spec §Arrays) encode/decode in block form (item-count varint
per block, negative-count byte-size skip hints honored, 0 terminator)
with recursive item resolution — see ``io_avro_array`` (embedding
vectors as array<float> columns).

MAPS (spec §Maps) use the same block form with string keys; ENUMS are
a zigzag-varint index into the schema's symbol list, resolved by
symbol NAME against the reader's symbols with the spec's reader
``default`` fallback; FIXED is exactly ``size`` raw bytes (reader
size must match); NESTED RECORDS recurse through the same
field-resolution machinery as the top level (defaults, promotions,
aliases apply at every depth) — see ``io_avro_map`` and
``io_avro_nested``. Named types (enum/fixed/record) match on name or
reader alias per spec §Schema Resolution.

NAMED-TYPE REFERENCES (spec §Names) resolve through a one-pass
inliner: a string type that is not a primitive looks up the
previously defined record/enum/fixed of that name and shares its
definition object, so reuse costs nothing and RECURSIVE types (a
record referencing itself, e.g. a linked list) decode through
memoized, lazily-bound decoders. Recursive types cannot surface as
Spark columns (no recursive struct type) — the column mapper rejects
them loudly; the file-level API handles them fully.

UNION ENCODING is general since late r13: a TYPE WITNESS on the
Python value picks the first union branch (in union order) whose
encoding accepts the value's runtime type — bool before int, logical
annotations claiming date/datetime/Decimal, records by field-name
coverage before maps — so multi-non-null unions round-trip; see
:func:`_branch_accepts`. The ``snappy`` codec is implemented from
scratch too (sources/snappy_codec.py — the public wire format, with
Avro's big-endian-CRC32-of-uncompressed framing); see
``io_avro_snappy``.

Limits, honestly: no zstandard/bzip2/xz codecs (genuinely
library-bound), and like every Python DataSource, no filter pushdown
into the source — at scale you convert to parquet for queryable
storage (the arrow_ipc note).
"""

from __future__ import annotations

import glob
import io
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

from fluent_bit_filter_math_spark.registry import register
from fluent_bit_filter_math_spark.sources import snappy_codec

_MAGIC = b"Obj\x01"

# the fixture schema this connector ships (field order is the wire
# format — records carry no tags)
_FIELDS = (
    ("event_id", "long"),
    ("user_id", "long"),
    ("event_type", "string"),
    ("cents", "long"),
)
_SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "Event",
        "fields": [{"name": n, "type": t} for n, t in _FIELDS],
    }
)


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    z = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")
    return (z >> 1) ^ -(z & 1), pos


def _enc_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zigzag_encode(len(b)) + b


def _enc_value(typ: str, v) -> bytes:
    if typ in ("long", "int"):
        return _zigzag_encode(int(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "float":
        return struct.pack("<f", float(v))
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    if typ == "null":
        return b""
    if typ == "bytes":
        b = bytes(v)
        return _zigzag_encode(len(b)) + b
    if typ == "string":
        return _enc_string(str(v))
    raise ValueError(f"unsupported Avro type {typ!r}")


def _dec_value(typ: str, buf: bytes, pos: int) -> tuple:
    if typ in ("long", "int"):
        return _zigzag_decode(buf, pos)
    if typ == "double":
        (v,) = struct.unpack_from("<d", buf, pos)
        return v, pos + 8
    if typ == "float":
        (v,) = struct.unpack_from("<f", buf, pos)
        return v, pos + 4
    if typ == "boolean":
        return buf[pos] == 1, pos + 1
    if typ == "null":
        return None, pos
    if typ in ("bytes", "string"):
        n, pos = _zigzag_decode(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("bad length prefix")
        raw = buf[pos : pos + n]
        return (raw.decode("utf-8") if typ == "string" else bytes(raw)), pos + n
    raise ValueError(f"unsupported Avro type {typ!r}")


def _schema_fields(schema: dict) -> list[tuple[str, str]]:
    return [(f["name"], f["type"]) for f in schema["fields"]]


_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string")
)


def inline_named_types(schema):
    """Resolve NAMED-TYPE REFERENCES (spec §Names): a string type that
    is not a primitive refers to the record/enum/fixed previously
    DEFINED under that name; the reference is replaced by the shared
    definition object. Registration happens before a record's fields
    are walked, so recursive types (a record referencing itself) come
    out as cyclic shared structures — encode handles them naturally
    (data is finite) and decode through the memoized decoder cache.
    Duplicate definitions and unknown references raise (spec)."""
    env: dict[str, dict] = {}

    def walk(t):
        if isinstance(t, list):
            return [walk(b) for b in t]
        if isinstance(t, str):
            if t in _PRIMITIVES:
                return t
            if t in env:
                return env[t]
            raise ValueError(f"unknown type reference {t!r}")
        base = t.get("type")
        if base in ("record", "enum", "fixed"):
            name = t["name"]
            if env.get(name) is t:
                return t  # re-visit of a shared/cyclic definition
            if name in env:
                raise ValueError(f"type {name!r} defined twice")
            env[name] = t  # register BEFORE fields: recursion support
            if base == "record":
                for f in t["fields"]:
                    f["type"] = walk(f["type"])
            return t
        if base == "array":
            t["items"] = walk(t["items"])
            return t
        if base == "map":
            t["values"] = walk(t["values"])
            return t
        return t  # logical-annotated primitives

    return walk(schema)


# ---------------------------------------------------------------------------
# LOGICAL TYPES (Avro spec §Logical Types): annotations over a base
# type — the WIRE format is always the base type's; the logical layer
# converts to/from richer Python values. Implemented: ``date`` (int =
# days since epoch), ``timestamp-millis``/``timestamp-micros`` (long),
# and ``decimal`` over bytes (big-endian two's-complement unscaled
# integer, minimal length — the interop-trap encoding). Schema
# RESOLUTION matches/promotes on the BASE types per spec (an unknown
# logicalType must be ignored, not an error); the reader's logical
# annotation decides the decoded Python type.
# ---------------------------------------------------------------------------
def _base_type(typ) -> str:
    return typ["type"] if isinstance(typ, dict) else typ


def _logical(typ):
    return typ.get("logicalType") if isinstance(typ, dict) else None


def _enc_logical(typ, v) -> int | bytes:
    """Convert a rich Python value to the base-type wire value.
    Plain ints/bytes pass through (writers may carry pre-converted
    columns), so the logical layer never blocks a raw pipeline."""
    import datetime
    import decimal

    lt = _logical(typ)
    if lt == "date" and isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if lt in ("timestamp-millis", "timestamp-micros") and isinstance(
        v, datetime.datetime
    ):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        # exact integer composition, never float total_seconds()
        delta = v - datetime.datetime(1970, 1, 1)
        us = (
            delta.days * 86_400_000_000
            + delta.seconds * 1_000_000
            + delta.microseconds
        )
        return us // 1000 if lt == "timestamp-millis" else us
    if lt == "decimal":
        scale = typ.get("scale", 0)
        if isinstance(v, decimal.Decimal):
            unscaled = int(
                v.scaleb(scale).to_integral_value(
                    rounding=decimal.ROUND_HALF_UP
                )
            )
        else:
            unscaled = int(v)
        n = max(1, (unscaled.bit_length() + 8) // 8)  # sign bit room
        return unscaled.to_bytes(n, "big", signed=True)
    return v


def _dec_logical(typ, v):
    """Convert a decoded base-type value to the logical Python type."""
    import datetime
    import decimal

    lt = _logical(typ)
    if lt == "date":
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
    if lt == "timestamp-millis":
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            milliseconds=v
        )
    if lt == "timestamp-micros":
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=v
        )
    if lt == "decimal":
        unscaled = int.from_bytes(v, "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-typ.get("scale", 0))
    return v


# ---------------------------------------------------------------------------
# UNIONS (spec §Unions): a JSON LIST of branch schemas; on the wire a
# union value is the zigzag-varint BRANCH INDEX followed by the
# branch's encoding. The ubiquitous real-world case is the nullable
# field ``["null", T]`` — None encodes as the null branch's index and
# zero bytes of payload. Decoding handles any branch count; encoding
# selects the branch by a TYPE WITNESS on the Python value (the spec
# leaves the writer's branch choice free; we pick the FIRST branch in
# union order that accepts the value's runtime type — deterministic,
# so task retries re-produce identical bytes). A value no branch
# accepts raises; numeric coercion across branches (int offered to a
# double-only union) is deliberately NOT performed — a writer that
# wants the double branch passes a float.
# ---------------------------------------------------------------------------


def _branch_accepts(branch, v) -> bool:
    """Type witness: does *branch*'s encoding accept this Python
    value? bool is checked before int (bool ⊂ int in Python); dicts
    match a record branch only when their keys cover the record's
    field names, else a map branch; logical annotations claim their
    dedicated Python types (date/datetime/Decimal)."""
    base = _base_type(branch)
    if base == "null":
        return v is None
    if v is None:
        return False
    if base == "boolean":
        return isinstance(v, bool)
    if isinstance(v, bool):
        return False  # a bool must never ride an int/long branch
    import datetime
    import decimal

    lt = _logical(branch)
    if lt == "date":
        return isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        )
    if lt in ("timestamp-millis", "timestamp-micros"):
        return isinstance(v, datetime.datetime)
    if lt == "decimal":
        return isinstance(v, decimal.Decimal)
    if base in ("int", "long"):
        return isinstance(v, int)
    if base in ("float", "double"):
        return isinstance(v, float)
    if base == "string":
        return isinstance(v, str)
    if base == "enum":
        return isinstance(v, str) and v in branch["symbols"]
    if base == "fixed":
        return (
            isinstance(v, (bytes, bytearray))
            and len(v) == branch["size"]
        )
    if base == "bytes":
        return isinstance(v, (bytes, bytearray))
    if base == "array":
        return isinstance(v, (list, tuple))
    if base == "record":
        try:
            for f in branch["fields"]:
                v[f["name"]]  # dict or pyspark Row: index by name
        except (KeyError, TypeError, IndexError):
            return False
        return True
    if base == "map":
        return isinstance(v, dict)
    return False


def _enc_any(typ, v) -> bytes:
    if isinstance(typ, list):
        # The type witness is a shallow test: a dict can match a MAP
        # branch by type yet fail inside (string map values offered a
        # long-valued map) while a later RECORD branch would encode it
        # fine. Try the next accepting branch when the chosen one's
        # encode raises (ADVICE r13 #4) — still deterministic: the
        # FIRST branch that accepts AND encodes wins, so task retries
        # re-produce identical bytes.
        first_err: Exception | None = None
        for idx, branch in enumerate(typ):
            if _branch_accepts(branch, v):
                if _base_type(branch) == "null":
                    return _zigzag_encode(idx)
                try:
                    return _zigzag_encode(idx) + _enc_any(branch, v)
                except (ValueError, TypeError, KeyError, OverflowError,
                        struct.error) as exc:
                    if first_err is None:
                        first_err = exc
        if first_err is not None:
            raise ValueError(
                f"every accepting union branch of {typ!r} failed to "
                f"encode {type(v).__name__} value {v!r}"
            ) from first_err
        raise ValueError(
            f"no union branch of {typ!r} accepts "
            f"{type(v).__name__} value {v!r}"
        )
    wbase = _base_type(typ)
    if wbase == "array":
        # spec block form: one block of N items, then the 0 terminator
        items = typ["items"]
        vs = list(v)
        out = bytearray()
        if vs:
            out += _zigzag_encode(len(vs))
            for x in vs:
                out += _enc_any(items, x)
        out += _zigzag_encode(0)
        return bytes(out)
    if wbase == "map":
        # same block form, string keys; keys sorted so a task retry
        # re-produces byte-identical shards (dict order is arrival
        # order on the Spark side)
        vals = typ["values"]
        items = sorted(v.items())
        out = bytearray()
        if items:
            out += _zigzag_encode(len(items))
            for k, x in items:
                out += _enc_string(str(k))
                out += _enc_any(vals, x)
        out += _zigzag_encode(0)
        return bytes(out)
    if wbase == "enum":
        try:
            idx = typ["symbols"].index(v)
        except ValueError:
            raise ValueError(
                f"{v!r} is not a symbol of enum {typ.get('name')!r}"
            )
        return _zigzag_encode(idx)
    if wbase == "fixed":
        b = bytes(v)
        if len(b) != typ["size"]:
            raise ValueError(
                f"fixed {typ.get('name')!r} wants {typ['size']} bytes, "
                f"got {len(b)}"
            )
        return b
    if wbase == "record":
        # nested record: fields concatenated in schema order, no tags
        # (v is a dict or a pyspark Row — both index by name)
        out = bytearray()
        for f in typ["fields"]:
            out += _enc_any(f["type"], v[f["name"]])
        return bytes(out)
    return _enc_value(wbase, _enc_logical(typ, v))


def _enc_row(row, fields=_FIELDS) -> bytes:
    out = bytearray()
    for name, typ in fields:
        out += _enc_any(typ, row[name])
    return bytes(out)


# ---------------------------------------------------------------------------
# SCHEMA RESOLUTION (Avro 1.11 spec §"Schema Resolution"): a reader
# whose schema differs from the file's writer schema still decodes —
# fields match by NAME (or by a reader-declared alias of the writer's
# old name), writer-only fields are decoded-and-discarded, reader-only
# fields take their declared ``default``, and the spec's primitive
# PROMOTIONS widen on the fly (int→long/float/double, long→float/
# double, float→double, string↔bytes). Resolution happens PER FILE
# against that file's own embedded writer schema — which is exactly the
# evolution story: a directory holding shards from three generations of
# a producer reads under today's schema in one scan.
# ---------------------------------------------------------------------------

_PROMOTIONS: dict[tuple[str, str], object] = {
    ("int", "long"): int,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): float,
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8"),
}


def _default_value(typ: str, d):
    """Decode a reader field's JSON ``default`` per the spec's table —
    the bytes rule (a JSON string whose code points ARE the bytes,
    i.e. latin-1) is the interop trap worth pinning."""
    if typ == "null":
        return None
    if typ == "boolean":
        return bool(d)
    if typ in ("int", "long"):
        return int(d)
    if typ in ("float", "double"):
        return float(d)
    if typ == "string":
        return str(d)
    if typ == "bytes":
        return str(d).encode("iso-8859-1")
    raise ValueError(f"unsupported default for type {typ!r}")


def resolve_schemas(
    writer: dict, reader: dict, memo: dict | None = None
) -> tuple[list, list]:
    """Build a decode plan: (steps, template).

    ``steps`` — one entry per WRITER field in wire order:
    ``(writer type, reader slot | None, convert fn | None)``; a None
    slot means decode-and-discard. ``template`` — the reader-ordered
    row of defaults that each decoded record starts from (reader-only
    fields keep their default; matched slots get overwritten).
    ``memo`` threads the decoder cache through nested/recursive named
    types."""
    if memo is None:
        memo = {}
    rfields = reader["fields"]
    by_name: dict[str, int] = {}
    for i, f in enumerate(rfields):
        by_name[f["name"]] = i
        for alias in f.get("aliases", []):
            by_name.setdefault(alias, i)
    steps: list = []
    matched: set[int] = set()
    for wf in writer["fields"]:
        wtyp = wf["type"]
        slot = by_name.get(wf["name"])
        if slot is None:
            steps.append((_make_field_decoder(wtyp, None, memo), None))
            continue
        rtyp = rfields[slot]["type"]
        matched.add(slot)
        try:
            dec = _make_field_decoder(wtyp, rtyp, memo)
        except ValueError as exc:
            raise ValueError(f"field {wf['name']!r}: {exc}") from exc
        steps.append((dec, slot))
    template: list = [None] * len(rfields)
    for i, f in enumerate(rfields):
        if i in matched:
            continue
        if "default" not in f:
            raise ValueError(
                f"reader field {f['name']!r} absent from writer schema "
                "and has no default"
            )
        # logical defaults are declared in BASE representation; a
        # union field's default applies to its FIRST branch (spec)
        ftyp = f["type"]
        first = ftyp[0] if isinstance(ftyp, list) else ftyp
        d = f["default"]
        template[i] = (
            None
            if _base_type(first) == "null"
            else _dec_logical(first, _default_value(_base_type(first), d))
        )
    return steps, template


def _array_decoder(item_dec):
    """Block-form array reader (count varint per block — negative
    count means a block byte-size follows, a skip hint this reader
    ignores — until the 0 terminator)."""

    def dec(buf: bytes, pos: int):
        out = []
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = _zigzag_decode(buf, pos)  # block size hint
                n = -n
            for _ in range(n):
                v, pos = item_dec(buf, pos)
                out.append(v)

    return dec


def _map_decoder(val_dec):
    """Block-form map reader — string keys, same negative-count
    byte-size skip hints as arrays."""

    def dec(buf: bytes, pos: int):
        out = {}
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = _zigzag_decode(buf, pos)  # block size hint
                n = -n
            for _ in range(n):
                k, pos = _dec_value("string", buf, pos)
                v, pos = val_dec(buf, pos)
                out[k] = v

    return dec


def _check_name_match(wtyp: dict, rtyp: dict) -> None:
    """Named types (enum/fixed/record) resolve only when the reader's
    name equals the writer's, or the writer's old name appears in the
    reader's aliases (spec §Schema Resolution)."""
    wname = wtyp.get("name")
    if rtyp.get("name") == wname:
        return
    if wname in rtyp.get("aliases", []):
        return
    raise ValueError(
        f"named type {wname!r} does not match reader "
        f"{rtyp.get('name')!r} (no alias)"
    )


def _make_field_decoder(wtyp, rtyp, memo: dict | None = None):
    """Build a ``fn(buf, pos) -> (reader-typed value, pos)`` for one
    writer type (memoized on the (writer, reader) object pair so
    RECURSIVE named types — cyclic after :func:`inline_named_types` —
    terminate: a self-reference gets a lazily-bound forward decoder).
    See :func:`_build_field_decoder` for the resolution rules."""
    if memo is None:
        memo = {}
    key = (id(wtyp), id(rtyp))
    if key in memo:
        return memo[key]
    cell: list = [None]

    def _fwd(buf: bytes, pos: int):
        return cell[0](buf, pos)

    memo[key] = _fwd  # visible to recursive self-references
    try:
        dec = _build_field_decoder(wtyp, rtyp, memo)
    except ValueError:
        memo.pop(key, None)  # never leave a dangling forward cell
        raise
    cell[0] = dec
    memo[key] = dec
    return dec


def _build_field_decoder(wtyp, rtyp, memo: dict):
    """``rtyp=None`` means decode-and-discard. Fully recursive over
    unions, arrays, maps and records: each writer union branch
    resolves against the reader side independently (a branch nothing
    accepts errors at DECODE time if and only if a value uses it —
    the spec's union rule), containers resolve their element types,
    records recurse the full field machinery, and scalars
    match/promote on base types with the reader's logical annotation
    applied last."""
    # writer union: one sub-decoder per branch
    if isinstance(wtyp, list):
        subs = []
        for wb in wtyp:
            try:
                subs.append(_make_field_decoder(wb, rtyp, memo))
            except ValueError:
                subs.append(None)
        if rtyp is not None and all(s is None for s in subs):
            raise ValueError(
                f"writer {wtyp!r} does not resolve to reader {rtyp!r}"
            )

        def dec_union(buf: bytes, pos: int):
            idx, pos = _zigzag_decode(buf, pos)
            if not 0 <= idx < len(subs):
                raise ValueError(f"union branch index {idx} out of range")
            sub = subs[idx]
            if sub is None:
                raise ValueError(
                    f"value uses writer branch {wtyp[idx]!r}, which "
                    f"does not resolve to reader {rtyp!r}"
                )
            return sub(buf, pos)

        return dec_union
    # writer non-union against a reader union: first accepting branch
    if rtyp is not None and isinstance(rtyp, list):
        last: ValueError | None = None
        for rb in rtyp:
            try:
                return _make_field_decoder(wtyp, rb, memo)
            except ValueError as exc:
                last = exc
        raise last or ValueError(
            f"writer {wtyp!r} does not resolve to reader {rtyp!r}"
        )
    wbase = _base_type(wtyp)
    # arrays: resolve item types recursively
    if wbase == "array":
        if rtyp is not None and _base_type(rtyp) != "array":
            raise ValueError(
                f"writer array does not resolve to reader {rtyp!r}"
            )
        item_dec = _make_field_decoder(
            wtyp["items"], None if rtyp is None else rtyp["items"], memo
        )
        return _array_decoder(item_dec)
    if rtyp is not None and _base_type(rtyp) == "array":
        raise ValueError(
            f"writer {wtyp!r} does not resolve to reader array"
        )
    # maps: resolve value types recursively (keys are always string)
    if wbase == "map":
        if rtyp is not None and _base_type(rtyp) != "map":
            raise ValueError(
                f"writer map does not resolve to reader {rtyp!r}"
            )
        val_dec = _make_field_decoder(
            wtyp["values"], None if rtyp is None else rtyp["values"], memo
        )
        return _map_decoder(val_dec)
    # enums: varint symbol index; resolution maps writer symbols to
    # reader symbols by NAME, falling back to the reader's ``default``
    # symbol; a writer symbol with neither errors only when a value
    # actually uses it (mirrors the union rule)
    if wbase == "enum":
        wsyms = wtyp["symbols"]
        if rtyp is None:
            table: list = list(wsyms)
        else:
            if _base_type(rtyp) != "enum":
                raise ValueError(
                    f"writer enum does not resolve to reader {rtyp!r}"
                )
            _check_name_match(wtyp, rtyp)
            rsyms = set(rtyp["symbols"])
            rdefault = rtyp.get("default")
            table = [
                s if s in rsyms else rdefault for s in wsyms
            ]

        def dec_enum(buf: bytes, pos: int):
            idx, pos = _zigzag_decode(buf, pos)
            if not 0 <= idx < len(table):
                raise ValueError(f"enum index {idx} out of range")
            s = table[idx]
            if s is None:
                raise ValueError(
                    f"writer enum symbol {wsyms[idx]!r} is not a "
                    "reader symbol and the reader declares no default"
                )
            return s, pos

        return dec_enum
    # fixed: exactly ``size`` raw bytes; reader size must match (spec)
    if wbase == "fixed":
        size = wtyp["size"]
        if rtyp is not None:
            if _base_type(rtyp) != "fixed":
                raise ValueError(
                    f"writer fixed does not resolve to reader {rtyp!r}"
                )
            _check_name_match(wtyp, rtyp)
            if rtyp["size"] != size:
                raise ValueError(
                    f"fixed size mismatch: writer {size}, "
                    f"reader {rtyp['size']}"
                )

        def dec_fixed(buf: bytes, pos: int):
            if pos + size > len(buf):
                raise ValueError("truncated fixed")
            return bytes(buf[pos : pos + size]), pos + size

        return dec_fixed
    # nested records: the top level's resolution machinery, recursed —
    # defaults, promotions and aliases apply at every depth; decoded
    # rows surface as tuples (Spark struct values)
    if wbase == "record":
        if rtyp is not None:
            if _base_type(rtyp) != "record":
                raise ValueError(
                    f"writer record does not resolve to reader {rtyp!r}"
                )
            _check_name_match(wtyp, rtyp)
        steps, template = resolve_schemas(
            wtyp, wtyp if rtyp is None else rtyp, memo
        )

        def dec_record(buf: bytes, pos: int):
            return _dec_row_resolved(buf, pos, steps, template)

        return dec_record
    if rtyp is not None and _base_type(rtyp) in (
        "map",
        "enum",
        "fixed",
        "record",
    ):
        raise ValueError(
            f"writer {wtyp!r} does not resolve to reader "
            f"{_base_type(rtyp)}"
        )
    # scalars
    if rtyp is None:
        return lambda buf, pos: _dec_value(wbase, buf, pos)
    rbase = _base_type(rtyp)
    if wbase == rbase:
        conv = None
    elif (wbase, rbase) in _PROMOTIONS:
        conv = _PROMOTIONS[(wbase, rbase)]
    else:
        raise ValueError(
            f"writer {wbase!r} does not resolve to reader {rbase!r}"
        )

    def dec_scalar(buf: bytes, pos: int):
        v, pos = _dec_value(wbase, buf, pos)
        if conv is not None and v is not None:
            v = conv(v)
        return (v if v is None else _dec_logical(rtyp, v)), pos

    return dec_scalar


def _dec_row_resolved(
    buf: bytes, pos: int, steps: list, template: list
) -> tuple[tuple, int]:
    vals = list(template)
    for dec, slot in steps:
        v, pos = dec(buf, pos)
        if slot is not None:
            vals[slot] = v
    return tuple(vals), pos


def _enc_meta_map(meta: dict) -> bytes:
    # spec block-form map: one block of N entries, then the 0 terminator
    out = bytearray(_zigzag_encode(len(meta)))
    for k, v in meta.items():
        out += _enc_string(k)
        out += _zigzag_encode(len(v)) + v
    out += _zigzag_encode(0)
    return bytes(out)


def _dec_meta_map(buf: bytes, pos: int) -> tuple[dict, int]:
    meta = {}
    while True:
        n, pos = _zigzag_decode(buf, pos)
        if n == 0:
            return meta, pos
        if n < 0:  # negative block count: size follows (spec)
            _, pos = _zigzag_decode(buf, pos)
            n = -n
        for _ in range(n):
            klen, pos = _zigzag_decode(buf, pos)
            k = buf[pos : pos + klen].decode("utf-8")
            pos += klen
            vlen, pos = _zigzag_decode(buf, pos)
            meta[k] = buf[pos : pos + vlen]
            pos += vlen


def write_ocf_shard(
    path: str,
    rows: list,
    codec: str = "deflate",
    rows_per_block: int = 1000,
    schema_json: str = _SCHEMA_JSON,
) -> None:
    """One spec-valid OCF file from already-encoded row dicts, written
    under *schema_json* (the WRITER schema embedded in the header)."""
    import hashlib

    fields = _schema_fields(inline_named_types(json.loads(schema_json)))
    # deterministic per path (re-runnable writes produce identical
    # bytes — task-retry friendly); the marker only needs to be
    # consistent within one file, the reader learns it from the header
    sync = hashlib.md5(path.encode()).digest()
    with open(path, "wb") as f:
        f.write(_MAGIC)
        f.write(
            _enc_meta_map(
                {
                    "avro.schema": schema_json.encode(),
                    "avro.codec": codec.encode(),
                }
            )
        )
        f.write(sync)
        for lo in range(0, len(rows), rows_per_block):
            chunk = rows[lo : lo + rows_per_block]
            payload = b"".join(_enc_row(r, fields) for r in chunk)
            if codec == "deflate":
                payload = zlib.compress(payload, 6)[2:-4]  # raw: strip
                # zlib header+adler — the OCF deflate interop rule
            elif codec == "snappy":
                # Avro spec "Required Codecs": snappy block followed
                # by the 4-byte BIG-ENDIAN CRC32 of the UNCOMPRESSED
                # data (from-scratch codec: sources/snappy_codec.py)
                payload = snappy_codec.compress(payload) + (
                    zlib.crc32(payload) & 0xFFFFFFFF
                ).to_bytes(4, "big")
            elif codec != "null":
                raise ValueError(f"unsupported codec {codec!r}")
            f.write(_zigzag_encode(len(chunk)))
            f.write(_zigzag_encode(len(payload)))
            f.write(payload)
            f.write(sync)


def read_ocf_file(path: str, reader_schema: dict | None = None):
    """Yield decoded row tuples from one OCF file, verifying magic,
    metadata, codec, and EVERY block's sync marker. With a
    *reader_schema*, the file's own writer schema is RESOLVED against
    it (defaults, promotions, aliases) and rows come out in READER
    field order; without one, the writer schema reads as-is."""
    buf = open(path, "rb").read()
    if buf[:4] != _MAGIC:
        raise ValueError("not an Avro OCF: bad magic")
    meta, pos = _dec_meta_map(buf, 4)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"unsupported codec {codec!r}")
    writer = inline_named_types(json.loads(meta["avro.schema"].decode()))
    steps, template = resolve_schemas(
        writer,
        writer
        if reader_schema is None
        else inline_named_types(reader_schema),
    )
    sync = buf[pos : pos + 16]
    pos += 16
    while pos < len(buf):
        count, pos = _zigzag_decode(buf, pos)
        size, pos = _zigzag_decode(buf, pos)
        payload = buf[pos : pos + size]
        if len(payload) != size:
            raise ValueError("truncated block")
        pos += size
        if buf[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
        pos += 16
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        elif codec == "snappy":
            if len(payload) < 4:
                raise ValueError("snappy block too short for its CRC")
            body, crc = payload[:-4], payload[-4:]
            payload = snappy_codec.decompress(body)
            if (zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(
                4, "big"
            ) != crc:
                raise ValueError(
                    "snappy block CRC mismatch (corrupt block)"
                )
        p = 0
        for _ in range(count):
            row, p = _dec_row_resolved(payload, p, steps, template)
            yield row
        if p != len(payload):
            raise ValueError("block decoded to wrong byte count")


class _OcfShard(InputPartition):
    def __init__(self, path: str):
        self.path = path


class AvroOCFReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro_ocf requires option 'path'")
        rs = options.get("readerschema")
        self.reader_schema = (
            inline_named_types(json.loads(rs)) if rs else None
        )

    def partitions(self):
        files = sorted(glob.glob(os.path.join(self.path, "*.avro")))
        if not files:
            raise FileNotFoundError(f"no .avro shards under {self.path}")
        return [_OcfShard(f) for f in files]

    def read(self, partition: _OcfShard):
        yield from read_ocf_file(partition.path, self.reader_schema)


_AVRO_TO_SPARK = {
    "long": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "bytes": "binary",
    "boolean": "boolean",
}


def _avro_to_spark_type(typ, _stack: frozenset = frozenset()) -> str:
    if isinstance(typ, dict) and id(typ) in _stack:
        # a type reaching itself: Spark has no recursive struct type —
        # such columns only exist through the file-level API
        raise ValueError(
            f"recursive type {typ.get('name')!r} cannot map to a "
            "Spark column"
        )
    if isinstance(typ, dict):
        _stack = _stack | {id(typ)}
    if isinstance(typ, dict) and _base_type(typ) == "array":
        return f"array<{_avro_to_spark_type(typ['items'], _stack)}>"
    if isinstance(typ, dict) and _base_type(typ) == "map":
        return f"map<string,{_avro_to_spark_type(typ['values'], _stack)}>"
    if isinstance(typ, dict) and _base_type(typ) == "enum":
        return "string"  # decoded enum values are symbol strings
    if isinstance(typ, dict) and _base_type(typ) == "fixed":
        return "binary"
    if isinstance(typ, dict) and _base_type(typ) == "record":
        inner = ",".join(
            f"{f['name']}:{_avro_to_spark_type(f['type'], _stack)}"
            for f in typ["fields"]
        )
        return f"struct<{inner}>"
    if isinstance(typ, list):  # union: nullable wrapper of the non-null
        non_null = [b for b in typ if _base_type(b) != "null"]
        if len(non_null) != 1:
            raise ValueError("Spark mapping needs exactly one non-null branch")
        return _avro_to_spark_type(non_null[0], _stack)
    lt = _logical(typ)
    if lt == "date":
        return "date"
    if lt in ("timestamp-millis", "timestamp-micros"):
        # decoded values are NAIVE datetimes (epoch arithmetic, no tz):
        # timestamp_ntz keeps collect() free of session-timezone shifts
        return "timestamp_ntz"
    if lt == "decimal":
        return (
            f"decimal({typ.get('precision', 38)},{typ.get('scale', 0)})"
        )
    return _AVRO_TO_SPARK[_base_type(typ)]


class AvroOCFDataSource(DataSource):
    """``spark.read.format("avro_ocf").option("path", dir)``; an
    optional ``readerschema`` option (Avro record JSON) reads every
    shard RESOLVED against that schema — shards written by older
    producers fill defaults / widen promotions per file."""

    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def schema(self):
        rs = self.options.get("readerschema")
        if not rs:
            return (
                "event_id long, user_id long, event_type string, "
                "cents long"
            )
        fields = _schema_fields(inline_named_types(json.loads(rs)))
        return ", ".join(
            f"{n} {_avro_to_spark_type(t)}" for n, t in fields
        )

    def reader(self, schema):
        return AvroOCFReader(self.options)


def register_avro_ocf(spark: SparkSession) -> None:
    spark.dataSource.register(AvroOCFDataSource)


def write_ocf(
    df: DataFrame,
    out_dir: str,
    codec: str = "deflate",
    schema_json: str = _SCHEMA_JSON,
    prefix: str = "",
) -> None:
    """Executor-side sharded OCF write: each partition streams its rows
    into one container file (foreachPartition — no data to the
    driver)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(rows) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        chunk = [r.asDict() for r in rows]
        if not chunk:
            return
        write_ocf_shard(
            os.path.join(out_dir, f"{prefix}part-{pid:05d}.avro"),
            chunk,
            codec,
            schema_json=schema_json,
        )

    df.foreachPartition(_write)


@register(
    "io_avro_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events
    WHERE event_id % 6 = 3
    GROUP BY event_type ORDER BY event_type
    """,
)
def io_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-invisible Avro OCF round-trip under the oracle gate: an
    events subset is encoded to deflate OCF shards by the executors,
    read back through the from-scratch container reader (zigzag
    varints, block+sync walk, raw-DEFLATE), and aggregated — the SQL
    sees only the original table, so any codec bug breaks the hash.
    Reference analogue: input plugins beyond `mem` (test.sh:15)."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 6 == 3)
        .select(
            "event_id",
            "user_id",
            "event_type",
            exact_cents(F.col("value")).alias("cents"),
        )
        .repartition(4)
    )
    out = os.path.join(scratch_dir("avro-ocf"), "shards")
    write_ocf(ev, out, codec="deflate")
    back = spark.read.format("avro_ocf").option("path", out).load()
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.sum("user_id").cast("long").alias("uid_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "io_avro_snappy",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events
    WHERE event_id % 6 = 1
    GROUP BY event_type ORDER BY event_type
    """,
)
def io_avro_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SNAPPY codec under the oracle gate — implemented from
    scratch (sources/snappy_codec.py: the public format_description
    wire format, greedy 64 KiB-block matcher, strict decoder) with the
    Avro-spec framing (compressed block + 4-byte BIG-ENDIAN CRC32 of
    the uncompressed data). Same value-invisible shape as
    ``io_avro_roundtrip``: executors encode an events subset to snappy
    OCF shards, the registered DataSource reads them back, and the SQL
    sees only the original table — any codec bug (a bad copy offset, a
    missed overlap, a CRC slip) breaks the hash. The in-query pin
    raises if the shards silently carry a different codec."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 6 == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            exact_cents(F.col("value")).alias("cents"),
        )
        .repartition(4)
    )
    out = os.path.join(scratch_dir("avro-snappy"), "shards")
    write_ocf(ev, out, codec="snappy")
    shards = sorted(glob.glob(os.path.join(out, "*.avro")))
    with open(shards[0], "rb") as fh:
        meta, _ = _dec_meta_map(fh.read(), 4)
    if meta.get("avro.codec") != b"snappy":
        raise AssertionError(
            f"shards carry codec {meta.get('avro.codec')!r}, "
            "not the from-scratch snappy path"
        )
    back = spark.read.format("avro_ocf").option("path", out).load()
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.sum("user_id").cast("long").alias("uid_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "io_avro_schema_evolution",
    oracle="""
    WITH src AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0 THEN -1 ELSE user_id END
               AS user_id,
             event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             'unknown' AS region
      FROM events WHERE event_id % 7 = 2
    )
    SELECT event_type, region,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum,
           CAST(SUM(CASE WHEN user_id = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_defaulted
    FROM src GROUP BY event_type, region ORDER BY event_type
    """,
)
def io_avro_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema RESOLUTION under the oracle gate: one directory holds
    shards from two producer generations — gen-1 wrote
    ``{event_id long, etype string, cents int}`` (old field name, no
    user_id, narrow cents), gen-2 wrote the current schema plus a
    ``debug`` field — and ONE scan under today's reader schema decodes
    both: the alias maps ``etype``→``event_type``, gen-1's missing
    ``user_id`` takes its default (-1), ``cents`` int→long promotes on
    the wire, ``region`` defaults everywhere, and gen-2's ``debug`` is
    decoded-and-discarded. The SQL twin reconstructs the same view from
    the raw table, so any resolution bug breaks the hash.
    Reference analogue: none (the filter is schemaless msgpack); this
    is the Avro 1.11 §Schema Resolution spec, the documented r12 gap."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 2)
    gen1_schema = json.dumps(
        {
            "type": "record",
            "name": "Event",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "etype", "type": "string"},
                {"name": "cents", "type": "int"},
            ],
        }
    )
    gen2_schema = json.dumps(
        {
            "type": "record",
            "name": "Event",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "user_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "cents", "type": "long"},
                {"name": "debug", "type": "string"},
            ],
        }
    )
    reader_schema = json.dumps(
        {
            "type": "record",
            "name": "Event",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "user_id", "type": "long", "default": -1},
                {
                    "name": "event_type",
                    "type": "string",
                    "aliases": ["etype"],
                },
                {"name": "cents", "type": "long"},
                {"name": "region", "type": "string", "default": "unknown"},
            ],
        }
    )
    out = os.path.join(scratch_dir("avro-evolve"), "shards")
    write_ocf(
        ev.filter(F.col("event_id") % 2 == 0)
        .select(
            "event_id",
            F.col("event_type").alias("etype"),
            exact_cents(F.col("value")).alias("cents"),
        )
        .repartition(2),
        out,
        schema_json=gen1_schema,
        prefix="gen1-",
    )
    write_ocf(
        ev.filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            exact_cents(F.col("value")).alias("cents"),
            F.concat(F.lit("trace-"), F.col("event_id")).alias("debug"),
        )
        .repartition(2),
        out,
        schema_json=gen2_schema,
        prefix="gen2-",
    )
    back = (
        spark.read.format("avro_ocf")
        .option("path", out)
        .option("readerschema", reader_schema)
        .load()
    )
    return (
        back.groupBy("event_type", "region")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.sum("user_id").cast("long").alias("uid_sum"),
            F.sum((F.col("user_id") == -1).cast("long"))
            .cast("long")
            .alias("n_defaulted"),
        )
        .orderBy("event_type")
    )


@register(
    "io_avro_logical_types",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS amount_cents,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
    FROM events
    WHERE event_id % 8 = 5
    GROUP BY day ORDER BY day
    """,
)
def io_avro_logical_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro LOGICAL TYPES end-to-end: an events subset writes to OCF
    with ``date`` (int days), ``timestamp-micros`` (long) and
    ``decimal(12,2)`` (bytes: big-endian two's-complement unscaled
    int, minimal length) fields — the writer ships raw ints/naive
    datetimes, the wire carries the BASE types, and the reader decodes
    genuine date/datetime/Decimal Python values that surface as Spark
    date/timestamp_ntz/decimal columns via the readerschema-derived
    DataSource schema. The per-day rollup must match the closed form
    over the raw table bitwise (cents exactness via the decimal's own
    scale-2 integer arithmetic).
    Reference analogue: none; Avro 1.11 §Logical Types."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "EventLogical",
            "fields": [
                {"name": "event_id", "type": "long"},
                {
                    "name": "ts",
                    "type": {
                        "type": "long",
                        "logicalType": "timestamp-micros",
                    },
                },
                {
                    "name": "d",
                    "type": {"type": "int", "logicalType": "date"},
                },
                {
                    "name": "amount",
                    "type": {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 12,
                        "scale": 2,
                    },
                },
            ],
        }
    )
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 8 == 5)
        .select(
            "event_id",
            "ts",  # naive datetimes -> timestamp-micros
            F.to_date("ts").alias("d"),  # python dates -> date
            exact_cents(F.col("value")).alias("amount"),  # unscaled int
        )
        .repartition(3)
    )
    out = os.path.join(scratch_dir("avro-logical"), "shards")
    write_ocf(ev, out, schema_json=schema_json)
    back = (
        spark.read.format("avro_ocf")
        .option("path", out)
        .option("readerschema", schema_json)
        .load()
    )
    return (
        back.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            (F.sum("amount") * 100).cast("long").alias("amount_cents"),
            F.date_format(
                F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("max_ts"),
        )
        .orderBy("day")
    )


@register(
    "io_avro_nullable",
    oracle="""
    WITH src AS (
      SELECT CASE WHEN event_id % 7 = 3 THEN NULL
                  ELSE event_type END AS et,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v,
             CASE WHEN user_id % 4 = 1 THEN NULL
                  ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                  END AS cents
      FROM events WHERE event_id % 11 = 6
    )
    SELECT COALESCE(et, '__null__') AS etype,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS n_v,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cents_null
    FROM src GROUP BY etype ORDER BY etype
    """,
)
def io_avro_nullable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro UNIONS in their ubiquitous form — nullable fields: three
    ``["null", T]`` columns (string, double, long) round-trip through
    the union wire encoding (zigzag branch index + branch payload;
    None is the null branch with zero payload bytes), surface as
    nullable Spark columns, and the null-aware aggregate (COUNT(col)
    skips nulls, SUM ignores nulls, the all-null group sums to NULL)
    must match the closed form bitwise.
    Reference analogue: the filter's missing-field tolerance
    (math.c:343-352), upgraded to a typed nullable wire contract."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "NullableEvent",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "et", "type": ["null", "string"]},
                {"name": "v", "type": ["null", "double"]},
                {"name": "cents", "type": ["null", "long"]},
            ],
        }
    )
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 6)
        .select(
            "event_id",
            F.when(F.col("event_id") % 7 == 3, None)
            .otherwise(F.col("event_type"))
            .alias("et"),
            F.when(F.col("event_id") % 5 == 0, None)
            .otherwise(F.col("value"))
            .alias("v"),
            F.when(F.col("user_id") % 4 == 1, None)
            .otherwise(exact_cents(F.col("value")))
            .alias("cents"),
        )
        .repartition(3)
    )
    out = os.path.join(scratch_dir("avro-nullable"), "shards")
    write_ocf(ev, out, schema_json=schema_json)
    back = (
        spark.read.format("avro_ocf")
        .option("path", out)
        .option("readerschema", schema_json)
        .load()
    )
    return (
        back.groupBy(
            F.coalesce(F.col("et"), F.lit("__null__")).alias("etype")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count("v").cast("long").alias("n_v"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.sum(F.col("cents").isNull().cast("long"))
            .cast("long")
            .alias("n_cents_null"),
        )
        .orderBy("etype")
    )


@register(
    "io_avro_array",
    oracle="""
    WITH ex AS (
      SELECT label, vec_id,
             unnest(list_transform(range(1, len(embedding) + 1),
                    j -> {'i': j, 'x': embedding[j]})) AS u
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_elems,
           CAST(SUM(CAST(floor(CAST(u.x AS DOUBLE) * 1000000.0)
                AS BIGINT)) AS BIGINT) AS fp_sum,
           CAST(SUM(u.i * CAST(floor(CAST(u.x AS DOUBLE) * 1000000.0)
                AS BIGINT)) AS BIGINT) AS fp_checksum
    FROM ex GROUP BY label ORDER BY label
    """,
)
def io_avro_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro ARRAYS (spec block form: item-count varint per block, 0
    terminator) carrying the embeddings table's float vectors: each
    64-dim array<float> round-trips element-exactly (float32 widens to
    double losslessly on both engines), surfaces as a Spark
    array<float> column, and a positional fixed-point checksum over
    every element must match the closed form bitwise — the multimodal
    column shape (embedding vectors as typed payloads) on the Avro
    wire. Reference analogue: none; Avro 1.11 §Arrays / §Data
    Serialization."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "EmbeddingRow",
            "fields": [
                {"name": "vec_id", "type": "long"},
                {
                    "name": "embedding",
                    "type": {"type": "array", "items": "float"},
                },
                {"name": "label", "type": "int"},
            ],
        }
    )
    emb = table(spark, sf_dir, "embeddings").repartition(4)
    out = os.path.join(scratch_dir("avro-array"), "shards")
    write_ocf(emb, out, schema_json=schema_json)
    back = (
        spark.read.format("avro_ocf")
        .option("path", out)
        .option("readerschema", schema_json)
        .load()
    )
    ex = back.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x")
    )
    fp = F.floor(F.col("x").cast("double") * 1000000.0).cast("long")
    return (
        ex.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.countDistinct("vec_id").cast("long").alias("n_vecs"),
            F.count("*").cast("long").alias("n_elems"),
            F.sum(fp).cast("long").alias("fp_sum"),
            F.sum((F.col("i") + 1) * fp).cast("long").alias("fp_checksum"),
        )
        .orderBy("label")
    )


@register(
    "io_avro_map",
    oracle="""
    WITH src AS (
      SELECT event_id, user_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_id % 9 = 4
    ), kv AS (
      SELECT 'uid' AS k, user_id AS v FROM src
      UNION ALL SELECT 'cents' AS k, cents AS v FROM src
      UNION ALL SELECT 'flag' AS k, event_id % 10 AS v FROM src
        WHERE event_id % 2 = 0
    )
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(SUM(v) AS BIGINT) AS v_sum
    FROM kv GROUP BY k ORDER BY k
    """,
)
def io_avro_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro MAPS (spec block form, string keys) carrying a
    variable-key-set attribute map per event — two keys always, a
    third on every even-event_id row, so block counts differ across
    rows — round-tripped to a Spark ``map<string,long>`` column,
    exploded, and aggregated per key; the per-key entry counts and sums
    must match the closed form over the raw table bitwise.
    Reference analogue: the filter's schemaless msgpack records
    (math.c:239-265) upgraded to a typed map wire contract."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.functions import exact_cents
    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "MapEvent",
            "fields": [
                {"name": "event_id", "type": "long"},
                {
                    "name": "attrs",
                    "type": {"type": "map", "values": "long"},
                },
            ],
        }
    )
    base = F.create_map(
        F.lit("uid"),
        F.col("user_id"),
        F.lit("cents"),
        exact_cents(F.col("value")),
    )
    full = F.map_concat(
        base, F.create_map(F.lit("flag"), F.col("event_id") % 10)
    )
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 9 == 4)
        .select(
            "event_id",
            F.when(F.col("event_id") % 2 == 0, full)
            .otherwise(base)
            .alias("attrs"),
        )
        .repartition(3)
    )
    out = os.path.join(scratch_dir("avro-map"), "shards")
    write_ocf(ev, out, schema_json=schema_json)
    back = (
        spark.read.format("avro_ocf")
        .option("path", out)
        .option("readerschema", schema_json)
        .load()
    )
    kv = back.select(F.explode("attrs").alias("k", "v"))
    return (
        kv.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_entries"),
            F.sum("v").cast("long").alias("v_sum"),
        )
        .orderBy("k")
    )


@register(
    "io_avro_nested",
    oracle="""
    SELECT event_type AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum,
           CAST(SUM(event_id) AS BIGINT) AS tag_sum,
           CAST(SUM(0) AS BIGINT) AS score_sum
    FROM events WHERE event_id % 9 = 7
    GROUP BY seg ORDER BY seg
    """,
)
def io_avro_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last three Avro named types in one wire round-trip: a NESTED
    RECORD (``who {uid, seg}`` — fields concatenated at depth, no
    tags), an ENUM (``seg``: varint symbol index over the five event
    types), and a FIXED(4) tag holding the event_id as 4 big-endian
    raw bytes. The reader schema adds ``who.score`` with a default —
    proving field resolution recurses into nested records — and the
    decode surfaces a real Spark ``struct`` column. The per-segment
    rollup (including the tag bytes decoded back to integers) must
    match the closed form over the raw table bitwise.
    Reference analogue: none; Avro 1.11 §Complex Types + §Schema
    Resolution at depth."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.scratch import scratch_dir
    from fluent_bit_filter_math_spark.sources import table

    register_avro_ocf(spark)
    seg_enum = {
        "type": "enum",
        "name": "Seg",
        "symbols": ["click", "error", "purchase", "signup", "view"],
    }
    writer_schema = json.dumps(
        {
            "type": "record",
            "name": "NestedEvent",
            "fields": [
                {"name": "event_id", "type": "long"},
                {
                    "name": "who",
                    "type": {
                        "type": "record",
                        "name": "User",
                        "fields": [
                            {"name": "uid", "type": "long"},
                            {"name": "seg", "type": seg_enum},
                        ],
                    },
                },
                {
                    "name": "tag",
                    "type": {"type": "fixed", "name": "Tag", "size": 4},
                },
            ],
        }
    )
    reader_schema = json.dumps(
        {
            "type": "record",
            "name": "NestedEvent",
            "fields": [
                {"name": "event_id", "type": "long"},
                {
                    "name": "who",
                    "type": {
                        "type": "record",
                        "name": "User",
                        "fields": [
                            {"name": "uid", "type": "long"},
                            {"name": "seg", "type": seg_enum},
                            # resolution at DEPTH: reader-only nested
                            # field takes its default
                            {
                                "name": "score",
                                "type": "long",
                                "default": 0,
                            },
                        ],
                    },
                },
                {
                    "name": "tag",
                    "type": {"type": "fixed", "name": "Tag", "size": 4},
                },
            ],
        }
    )
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 9 == 7)
        .select(
            "event_id",
            F.struct(
                F.col("user_id").alias("uid"),
                F.col("event_type").alias("seg"),
            ).alias("who"),
            F.unhex(F.lpad(F.hex(F.col("event_id")), 8, "0")).alias(
                "tag"
            ),
        )
        .repartition(3)
    )
    out = os.path.join(scratch_dir("avro-nested"), "shards")
    write_ocf(ev, out, schema_json=writer_schema)
    back = (
        spark.read.format("avro_ocf")
        .option("path", out)
        .option("readerschema", reader_schema)
        .load()
    )
    tag_int = F.conv(F.hex(F.col("tag")), 16, 10).cast("long")
    return (
        back.groupBy(F.col("who.seg").alias("seg"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("who.uid").cast("long").alias("uid_sum"),
            F.sum(tag_int).cast("long").alias("tag_sum"),
            F.sum("who.score").cast("long").alias("score_sum"),
        )
        .orderBy("seg")
    )
