"""Build-once artefacts, scoped to their SparkContext.

Several builders make something once and reuse it for every later call
in the same Spark application: cached or localCheckpointed DataFrames
(the shingle index, edge index, triangle graph, PPR ranks, cluster
map), prepared on-disk copies of a fixture (partitioned, z-ordered,
ORC, replay splits, the CDF bronze log) and unresolved Column trees
(the vector-math helpers). This module owns all of them.

* **Key** — ``(applicationId, kind, abspath(sf_dir), *extra)``. The
  applicationId, not ``id(spark)``: a dead session's id can be reused
  by a new one after GC and would hand out frames bound to a dead
  context (ADVICE r1). It is read once per SparkContext object, so a
  lookup makes no py4j round trip.
* **Scope** — an entry lives as long as its SparkContext. A process
  runs one context at a time, so the first call from another context
  drops every entry of the old one.
* **Revalidation** — an entry whose directory is gone (a scratch
  generation rotated, a tmp cleaner ran) is rebuilt; a builder can
  pass a stricter ``valid`` check.
* **Release** — one path for every value: a DataFrame's
  localCheckpoint blocks are freed (``df.unpersist()`` is a no-op for
  them, see :mod:`ckpt`), else it is unpersisted; a directory is
  removed; a tuple releases each member; anything else (a Column) is
  just forgotten. A released DataFrame is unreadable afterwards, so
  release an entry only once no reader of it is still running.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame

from fluent_bit_filter_math_spark.ckpt import release_local_checkpoint

_ENTRIES: dict[tuple, Any] = {}
# (SparkContext object, its applicationId) of the last caller; holding
# the object keeps its id from being reused while it is compared.
_CONTEXT: tuple[Any, str] | None = None
# Builders run inside overlap() threads: every read-modify-write of the
# two globals above holds the lock. Builds run outside it (a build may
# itself call get(), from this thread or from threads of its own).
_LOCK = threading.Lock()


def _release(value: Any) -> None:
    if isinstance(value, tuple):
        for v in value:
            _release(v)
    elif isinstance(value, DataFrame):
        if not release_local_checkpoint(value):
            try:
                value.unpersist()
            except Exception:  # noqa: BLE001 — context already stopped
                pass
    elif isinstance(value, str) and os.path.isdir(value):
        shutil.rmtree(value, ignore_errors=True)


def _alive(value: Any) -> bool:
    if isinstance(value, tuple):
        return all(_alive(v) for v in value)
    return not isinstance(value, str) or os.path.isdir(value)


def _app_id(spark: Any) -> str:
    """applicationId of *spark* (a SparkSession or SparkContext); on a
    change of context, drop every entry of the previous one."""
    global _CONTEXT
    sc = getattr(spark, "sparkContext", spark)
    ctx = _CONTEXT
    if ctx is not None and ctx[0] is sc:
        return ctx[1]
    app = sc.applicationId
    with _LOCK:
        _CONTEXT = (sc, app)
        stale = [_ENTRIES.pop(k) for k in list(_ENTRIES) if k[0] != app]
    for value in stale:
        _release(value)
    return app


def _abspath(sf_dir: str | None) -> str | None:
    return None if sf_dir is None else os.path.abspath(sf_dir)


def get(
    spark: Any,
    kind: str,
    sf_dir: str | None,
    build: Callable[[], Any],
    *extra: Any,
    valid: Callable[[Any], bool] | None = None,
) -> Any:
    """The entry for ``(spark's context, kind, sf_dir, *extra)``,
    built by ``build()`` on a miss. An entry whose directory is gone,
    or that fails ``valid``, is released and rebuilt."""
    key = (_app_id(spark), kind, _abspath(sf_dir), *extra)
    value = _ENTRIES.get(key)
    if value is not None:
        if _alive(value) and (valid is None or valid(value)):
            return value
        with _LOCK:
            if _ENTRIES.get(key) is value:
                del _ENTRIES[key]
        _release(value)
    value = build()
    with _LOCK:
        kept = _ENTRIES.setdefault(key, value)
    if kept is not value:  # another thread built it first
        _release(value)
    return kept


def release(
    spark: Any,
    kind: str | tuple[str, ...] | None = None,
    sf_dir: str | None = None,
) -> None:
    """Release the entries of *spark*'s context, narrowed to one kind
    (or a tuple of kinds) and one sf_dir when given."""
    app = _app_id(spark)
    kinds = (kind,) if isinstance(kind, str) else kind
    path = _abspath(sf_dir)
    with _LOCK:
        gone = [
            _ENTRIES.pop(k)
            for k in list(_ENTRIES)
            if k[0] == app
            and (kinds is None or k[1] in kinds)
            and (path is None or k[2] == path)
        ]
    for value in gone:
        _release(value)


def release_all(spark: Any) -> None:
    """Release every entry of *spark*'s context."""
    release(spark)


def private_dir(tag: str) -> str:
    """A fresh mode-0700 ``mkdtemp`` dir for a prepared layout, swept
    at exit if no release removed it first. Never a predictable path:
    a same-named dir left by another user would be read as ours (the
    failure :mod:`scratch` describes)."""
    out = tempfile.mkdtemp(prefix=f"fbm-{tag}-")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out
