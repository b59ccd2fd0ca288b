"""Per-process scratch directories for sink round-trip queries.

Several queries materialize through a filesystem sink (parquet stream
sink, custom JSON-line Python sink, Arrow-IPC foreachBatch sink) and
read the result back. They need a scratch dir that is

* **private** — earlier revisions used predictable pid-derived paths
  (``/tmp/fbm-json-sink-<pid>``) with ``makedirs(exist_ok=True)``
  after an ``ignore_errors`` rmtree; if a stale same-named dir owned
  by another user existed, the rmtree silently no-opped and the query
  read foreign files mixed into its own output (r7 ADVICE, medium).
  ``tempfile.mkdtemp`` creates a fresh mode-0700 dir we own, with an
  unpredictable suffix, so that failure mode cannot occur.
* **bounded** — a bench run re-invokes each query REPS times; one new
  mkdtemp per invocation grows disk by REPS × |output| before any
  atexit sweep fires. We therefore create ONE base dir per
  (process, tag) and keep exactly one *generation* subdirectory alive
  inside it, so at most a single copy of each sink's output exists at
  any time.
* **loudly invalidating** — re-invoking a sink query INVALIDATES any
  DataFrame a previous invocation returned (those read lazily from
  the sink path). Each call returns a fresh ``gen-N`` subdirectory
  and deletes ``gen-(N-1)``, so a held stale DataFrame fails at scan
  time with a missing-path error instead of silently reading the new
  invocation's files (r8 ADVICE: the old wipe-in-place reuse made
  stale reads succeed on wrong data).

:func:`write_replay_split` writes the multi-file replay sources the
stream queries' split builders keep in such a dir.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import tempfile
import time
from typing import Sequence

_BASES: dict[str, str] = {}
_GENS: dict[str, int] = {}


def dir_key(path: str) -> str:
    """Short filesystem-safe tag component unique to an absolute path.

    Split builders that memoize prepared replay files per ``sf_dir``
    must put this in their scratch tag: a tag shared across sf_dirs
    means a cache miss for a SECOND sf_dir rotates the generation and
    deletes the FIRST sf_dir's still-cached split, so alternating
    sf_dirs (scaling sweeps, sf-parameterized tests) silently rebuild
    on every switch (r9 ADVICE). Basename alone can collide across
    parents, hence the hash suffix.
    """
    ap = os.path.abspath(path)
    h = hashlib.md5(ap.encode()).hexdigest()[:6]
    return f"{os.path.basename(ap) or 'root'}-{h}"


def scratch_dir(tag: str) -> str:
    """Return an empty private scratch dir for one sink invocation.

    The returned path is a fresh ``gen-N`` subdirectory of a
    per-(process, tag) ``mkdtemp`` base; the previous generation is
    removed first (raises on failure — never risk a dirty or
    half-shared scratch). Consequence callers rely on: a DataFrame
    returned by a PREVIOUS invocation of the same query becomes
    invalid here and will raise on its next action rather than read
    this invocation's output.
    """
    base = _BASES.get(tag)
    if base is None or not os.path.isdir(base):
        base = tempfile.mkdtemp(prefix=f"fbm-{tag}-")
        _BASES[tag] = base
        _GENS[tag] = -1
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    gen = _GENS[tag] = _GENS[tag] + 1
    if gen:
        prev = os.path.join(base, f"gen-{gen - 1}")
        if os.path.isdir(prev):
            shutil.rmtree(prev)  # raises on failure: keep disk bounded
    d = os.path.join(base, f"gen-{gen}")
    os.makedirs(d)
    return d


def write_replay_split(src: str, slices: Sequence) -> None:
    """Write each DataFrame of ``slices`` as ONE parquet file under
    ``src/f<i>`` and order their mtimes by ``i``, so a file stream over
    ``src/f*`` with ``maxFilesPerTrigger=1`` replays them one
    micro-batch each, in list order (FileStreamSource orders files by
    modification time). Raises unless every slice wrote exactly one
    data file — the replay's closed form depends on it."""
    for i, part in enumerate(slices):
        part.coalesce(1).write.parquet(os.path.join(src, f"f{i}"))
    files = [
        glob.glob(os.path.join(src, f"f{i}", "part-*.parquet"))
        for i in range(len(slices))
    ]
    if any(len(f) != 1 for f in files):  # not assert: must hold under -O
        raise RuntimeError(
            f"{len(slices)}-file replay contract violated: data files per"
            f" slice {[len(f) for f in files]}"
        )
    now = time.time()
    for i, (f,) in enumerate(files):
        os.utime(f, (now + i, now + i))
