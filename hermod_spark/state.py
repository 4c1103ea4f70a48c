"""Versioned-generation persisted state: the shared commit machinery.

Two persisted artifacts in this repo are MAINTAINED rather than
recomputed — the streaming rollup state (``streaming/rollup.py``) and
the inverted text index (``operators/textindex.py``) — and both need
the same thing from the filesystem: immutable generation directories
plus ONE atomically-replaced JSON meta file naming the committed
state. This module is that idiom, factored once:

- ``write_meta`` replaces the meta via rename-aside + rename-in (HDFS
  has no atomic overwrite). A crash inside the two-rename window
  leaves ``.old-<meta>-<pid>`` behind and ``read_meta`` raises with
  the recovery rename instead of silently treating committed state as
  empty.
- ``read_meta`` returns the caller's ``empty`` dict only when the
  state root is genuinely virgin — meta missing but generations (or a
  recovery aside) present is a crashed swap and REFUSES, because
  restarting from empty over committed data re-applies every replayed
  mutation.
- ``prune_generations`` deletes generations beyond a keep window,
  sorted by the PARSED integer suffix (a lexicographic sort mis-orders
  once an id outgrows its zero padding — ADVICE r12).

All paths go through the Hadoop FileSystem API resolved from the state
root, so the same code maintains local, HDFS, or s3a:// state (on
object stores renames are copies — slower, and the meta-swap window
widens accordingly). SINGLE WRITER per state root — the standard
contract for table maintenance; readers are never blocked because
committed generations are immutable.
"""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import SparkSession

from hermod_spark.operators.dedup import _hadoop_fs

GEN_PREFIX = "gen-"


class IndexCache:
    """Process-lifetime memo of build-once artifacts: persisted index
    paths, maintenance-state dirs, small trained models. Building once
    and serving every later call from the same artifact is the
    train-once/serve-many shape these indexes exist for; rebuilding per
    call would time the corpus pass into every serve.

    ``get(key, build)``: a hit is one plain dict read and takes no lock.
    A miss takes a per-key lock, checks again, and runs ``build()`` —
    so eight threads missing one key build it once, and a hit on one
    key never waits behind another key's (possibly minutes-long)
    build. The value is stored only if ``build()`` returns; a raise
    stores nothing and the next ``get`` builds again. Keys are
    ``(kind, key)`` tuples so callers of different kinds cannot
    collide. A ``build`` must not ``get`` its own key.

    STALENESS CONTRACT: a key names an input by identity (an sf dir
    path or a probe tag), and the input behind it is immutable for the
    process lifetime. A hit never re-checks the input, so a harness
    that regenerated parquet in place mid-process would be served the
    old artifact; regeneration happens between processes, and anything
    else must use a fresh key."""

    def __init__(self) -> None:
        self._values: dict[Hashable, Any] = {}
        self._locks: dict[Hashable, threading.Lock] = {}
        self._locks_guard = threading.Lock()

    def get(self, key: Hashable, build: Callable[[], Any]) -> Any:
        try:
            return self._values[key]
        except KeyError:
            pass
        with self._locks_guard:
            lock = self._locks.setdefault(key, threading.Lock())
        with lock:
            if key not in self._values:
                self._values[key] = build()
            return self._values[key]


def jpath(jvm, parent, name: str):
    return jvm.org.apache.hadoop.fs.Path(parent, name)


def gen_name(seq: int) -> str:
    """Zero-padded for human-sorted listings; all CODE paths sort by
    the parsed integer, so overflow past 9 digits is cosmetic only."""
    return f"{GEN_PREFIX}{seq:09d}"


def gen_seq(name: str) -> int:
    return int(name[len(GEN_PREFIX):])


def read_meta(
    spark: SparkSession, root: str, meta_name: str, ctx: str, empty: dict
) -> dict:
    """The committed meta dict, or ``empty`` for a virgin root.

    Missing meta over existing generations (or a ``.old-…`` aside)
    means a crashed meta swap — raise with the recovery path rather
    than restarting from empty state over committed data."""
    fs, jroot, jvm = _hadoop_fs(spark, root)
    meta_path = jpath(jvm, jroot, meta_name)
    if fs.exists(meta_path):
        stream = fs.open(meta_path)
        try:
            raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(raw)
    if fs.exists(jroot):
        statuses = list(fs.listStatus(jroot))
        leftovers = [str(s.getPath().getName()) for s in statuses]
        # newest aside by modification time: asides from DIFFERENT
        # crashed swaps can coexist, and only the most recent one holds
        # the last committed meta (ADVICE r13)
        asides = sorted(
            (
                (s.getModificationTime(), str(s.getPath().getName()))
                for s in statuses
                if str(s.getPath().getName()).startswith(f".old-{meta_name}-")
            ),
            reverse=True,
        )
        gens = [n for n in leftovers if n.startswith(GEN_PREFIX)]
        if asides:
            raise IOError(
                f"{ctx} at {root!r} has no {meta_name} but a crashed swap "
                f"left {asides[0][1]!r} — rename it back to {meta_name!r} "
                f"to recover the committed state"
            )
        if gens:
            raise IOError(
                f"{ctx} at {root!r} has generations {gens} but no "
                f"{meta_name} and no recovery aside — refusing to restart "
                f"from empty state over committed data"
            )
    return dict(empty)


def write_meta(
    spark: SparkSession, root: str, meta_name: str, meta: dict
) -> None:
    """Rename-aside meta replace: new content lands under a staging
    name, the live meta moves aside, staging renames in, aside
    deletes. Crash between the renames is recoverable via the
    ``.old-…`` file ``read_meta`` points at."""
    fs, jroot, jvm = _hadoop_fs(spark, root)
    fs.mkdirs(jroot)
    pid = os.getpid()
    # sweep dead staging files from crashed prior writers — under the
    # SINGLE-WRITER contract any pre-existing stage is an orphan (a
    # live writer's stage only exists between its create and rename,
    # and there is exactly one writer: this one)
    for status in fs.listStatus(jroot):
        nm = str(status.getPath().getName())
        if nm.startswith(f".stage-{meta_name}-"):
            fs.delete(status.getPath(), False)
    stage = jpath(jvm, jroot, f".stage-{meta_name}-{pid}")
    out = fs.create(stage, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    live = jpath(jvm, jroot, meta_name)
    old = jpath(jvm, jroot, f".old-{meta_name}-{pid}")
    if fs.exists(live):
        if not fs.rename(live, old):
            raise IOError(f"meta rename-aside failed in {root!r}")
    if not fs.rename(stage, live):
        raise IOError(
            f"meta swap-in failed in {root!r}; previous meta preserved at "
            f"{old.toString()!r} — rename it back to recover"
        )
    # after a successful swap, sweep ALL asides for this meta — not
    # just this pid's. A crash after a prior swap-in but before its
    # aside delete leaves a stale .old-<otherpid> that would otherwise
    # never be collected and could shadow a later genuine crashed swap
    # in read_meta's recovery message (ADVICE r13).
    for status in fs.listStatus(jroot):
        nm = str(status.getPath().getName())
        if nm.startswith(f".old-{meta_name}-"):
            fs.delete(status.getPath(), False)


def prune_generations(
    spark: SparkSession, root: str, keep: int, *, protect: set[str] = frozenset()
) -> None:
    """Delete generation dirs beyond the ``keep`` newest (by parsed
    integer id — never lexicographic), skipping any in ``protect``."""
    fs, jroot, jvm = _hadoop_fs(spark, root)
    gens = sorted(
        (
            str(s.getPath().getName())
            for s in fs.listStatus(jroot)
            if str(s.getPath().getName()).startswith(GEN_PREFIX)
        ),
        key=gen_seq,
        reverse=True,
    )
    for stale in gens[keep:]:
        if stale not in protect:
            fs.delete(jpath(jvm, jroot, stale), True)
