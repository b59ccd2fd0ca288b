"""Dynamic field access + numeric coercion — Spark form of find_operand_val.

The reference scans the record map for a case-insensitive key match and
coerces u64/i64/f32/f64 to double; a missing key or a non-numeric value
contributes 0.0 (/root/reference/filter_math/math.c:146-165). It unpacks
each record once (math.c:322) and looks every operand up in that one
unpacked map.

Our data model splits a record into (a) typed top-level columns and (b) an
optional JSON "props"-style column carrying the truly dynamic fields. A
spec list resolves its operands against one :class:`OperandTable`, a
name → Column table built from the input's column names (read once). The
resolution order for an operand named ``f`` is:

1. a table entry whose name matches ``f`` case-insensitively →
   ``try_cast`` to double (non-numeric string/array/… → NULL). The
   entries are the input's columns, and an earlier spec's output
   replaces the entry for its name, so a chained spec sees the value
   the spec before it wrote;
2. else each configured JSON column, parsed to ``map<string,string>`` →
   ``try_element_at(m, lower(f))`` → try_cast. The parse happens once
   per JSON column per spec list: it is projected into a hidden column
   under the specs' projection (:attr:`OperandTable.parsed`) and every
   operand reads that column — the math.c:322 unpack. Case-insensitivity
   comes from lowercasing the raw JSON *string* before parsing — that
   lowers keys without a higher-order function (``transform_keys`` +
   Python lambda costs seconds of codegen per query; ``lower`` is free),
   and only numeric values matter downstream, which ``lower`` can't
   change. A key that lowering duplicates keeps both entries, and
   ``try_element_at`` returns the first;
3. whatever survives is wrapped in ``coalesce(..., 0.0)`` so missing and
   non-numeric both coerce to 0.0, exactly like the reference.

Everything is a native Column expression inside whole-stage codegen.
``try_cast`` / ``try_element_at`` (not ``cast`` / ``element_at``) keep
the semantics identical whether or not the session runs in ANSI mode
(Spark 4 defaults ANSI on — and the verification driver owns the session).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DYNAMIC_MAP_TYPE = T.MapType(T.StringType(), T.StringType())


def lowered_json_map(json_col: Column) -> Column:
    """Parse a flat JSON object column into map<lower(key) -> string value>.

    NULL for a payload that is not a JSON object (malformed, an array, a
    scalar) — the passthrough guard relies on it."""
    return F.from_json(F.lower(json_col), _DYNAMIC_MAP_TYPE)


class OperandTable:
    """The name → Column table one spec list resolves its operands against.

    ``columns`` are the input's column names; ``reserved`` are names the
    specs will write. Hidden parse columns get a name clashing with
    neither. After compiling, project :attr:`parsed` (hidden name →
    parse) under the specs' outputs and drop it again.
    """

    def __init__(
        self,
        columns: Sequence[str],
        json_cols: Sequence[str],
        reserved: Iterable[str] = (),
    ) -> None:
        # lower(name) → the input column's name, or the value a spec
        # wrote; a later case variant wins, as each operand's own name
        # lookup did before. Column objects are made on first use.
        self._values: dict[str, str | Column] = {c.lower(): c for c in columns}
        self._taken = set(self._values) | {r.lower() for r in reserved}
        self._json = [jc.lower() for jc in json_cols]
        self._maps: dict[str, Column] = {}
        self.parsed: dict[str, Column] = {}
        # Resolved operands and guards, reused until a spec rewrites what
        # they read: every Column built costs a py4j round trip.
        self._fields: dict[str, Column] = {}
        self._guards: dict[str, Column] = {}
        self._zero = F.lit(0.0)

    def value(self, name: str) -> Column:
        """The current value of column ``name`` (KeyError if none)."""
        v = self._values[name.lower()]
        return F.col(v) if isinstance(v, str) else v

    def set(self, name: str, value: Column) -> None:
        """A spec wrote ``value`` to ``name``: later operands read it."""
        lowered = name.lower()
        self._values[lowered] = value
        self._guards.pop(lowered, None)
        if lowered in self._json:
            self._fields.clear()  # keys were looked up in the old value
        else:
            self._fields.pop(lowered, None)

    def json_map(self, json_col: str) -> Column | None:
        """The parsed, lowered map of ``json_col``; None if no such column.

        An input column is parsed once, into a hidden column. A JSON
        column a spec overwrote is parsed from its new value in place,
        as the sequential chain did (a number never parses to a map)."""
        jc = json_col.lower()
        if jc not in self._values:
            return None
        if not isinstance(self._values[jc], str):
            return lowered_json_map(self._values[jc])
        if jc not in self._maps:
            hidden = self._hidden_name()
            self.parsed[hidden] = lowered_json_map(self.value(jc))
            self._maps[jc] = F.col(hidden)
        return self._maps[jc]

    def _hidden_name(self) -> str:
        i = 0
        while f"__fbm_json_{i}" in self._taken:
            i += 1
        self._taken.add(f"__fbm_json_{i}")
        return f"__fbm_json_{i}"

    def well_formed(self, json_col: str) -> Column:
        """True where ``json_col`` is NULL or parses to a JSON object."""
        jc = json_col.lower()
        if jc not in self._guards:
            self._guards[jc] = self.value(jc).isNull() | self.json_map(jc).isNotNull()
        return self._guards[jc]

    def field(self, name: str) -> Column:
        """Operand value for field ``name`` with coerce-to-zero semantics."""
        lowered = name.lower()
        if lowered not in self._fields:
            if lowered in self._values:
                candidates = [self.value(lowered).try_cast("double")]
            else:
                maps = (self.json_map(jc) for jc in self._json)
                candidates = [
                    F.try_element_at(m, F.lit(lowered)).try_cast("double")
                    for m in maps
                    if m is not None
                ]
            self._fields[lowered] = F.coalesce(*candidates, self._zero)
        return self._fields[lowered]
