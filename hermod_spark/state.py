"""Versioned-generation persisted state: the shared commit machinery.

The persisted artifacts in this repo that are MAINTAINED rather than
recomputed — the streaming rollup state (``streaming/rollup.py``) and
the text, fingerprint and ANN indexes (``operators/textindex.py``,
``fpindex.py``, ``similarity.py``) — all need the same thing from the
filesystem: immutable generation directories plus ONE
atomically-replaced JSON meta file naming the committed state. This
module is that idiom, factored once; :class:`GenerationStore` adds
the delta-chain lifecycle (create / load / append / compact / sink)
the three indexes share:

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

from pyspark.sql import DataFrame, SparkSession

GEN_PREFIX = "gen-"
_EMPTY_CHAIN = {"generations": [], "seq": -1}


class IndexCache:
    """Process-lifetime memo of build-once artifacts: loaded index
    handles, persisted index paths, maintenance-state dirs, small
    trained models. Building once
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
    else must use a fresh key. A cached DataFrame (a loaded index
    handle) is bound to the SparkContext that built it, so a process
    that stops its context must not serve such a key again."""

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


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for ``path`` via the session's Hadoop
    conf — directory maintenance must use the SAME filesystem Spark
    writes to (driver-local os.* silently targets the wrong FS on a
    cluster)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(jpath), jvm


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
    fs, jroot, jvm = hadoop_fs(spark, root)
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
    fs, jroot, jvm = hadoop_fs(spark, root)
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
    fs, jroot, jvm = hadoop_fs(spark, root)
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


class GenerationStore:
    """A persisted index kept as a chain of immutable delta generations
    under one root, committed by one meta file::

        <root>/<meta_name>                 # {"generations": [...], "seq": n,
                                           #  + the family's meta keys}
        <root>/gen-NNNNNNNNN/<component>/  # one parquet dir per component

    The text, fingerprint and ANN indexes are instances. ``components``
    maps each component name, in write order, to its clustering
    columns: a clustered component is repartitioned on them and sorted
    within partitions, so a serve-side predicate or equi-join on those
    columns prunes parquet row groups.

    The contract every instance relies on:

    - **Id-disjoint deltas.** A family admits only ids its index lacks
      (an anti-join on its id component), so the logical index is a
      plain multi-path parquet read of the chain — no merge on the
      serve path, and an extend costs O(snapshot).
    - **Idempotent admit.** A redelivered batch admits nothing and the
      family commits nothing (``append`` is never called with an empty
      delta); a crash between a generation write and its meta commit
      leaves an unreferenced orphan that the re-run overwrites. So
      :meth:`maintenance_sink` turns at-least-once ``foreachBatch``
      delivery into exactly-once without a batch-id ledger.
    - **Init meta first.** :meth:`create` commits an empty chain before
      writing gen-0, so a first-build crash replays instead of tripping
      :func:`read_meta`'s vanished-meta refusal.
    - **Single writer per root.** Admits and compactions run in one
      maintenance process, one at a time (the sink compacts between
      admits); readers are never blocked, because committed
      generations are immutable and the meta swap is atomic.
    - **Reader-staleness window.** A reader that loaded before a
      compaction's meta swap holds frames over the old generations;
      ``retain`` keeps that many of the newest old generations on disk
      past the swap, and the next compaction collects them. The
      default 0 is safe for single-process readers.

    ``on_before_commit(seq)`` runs between a generation write and its
    meta commit — the crash-window test seam."""

    def __init__(
        self, meta_name: str, ctx: str, components: dict[str, tuple[str, ...]]
    ) -> None:
        self.meta_name = meta_name
        self.ctx = ctx
        self.components = components

    def meta(self, spark: SparkSession, root: str) -> dict:
        """The committed meta, or the empty chain for a virgin root."""
        return read_meta(spark, root, self.meta_name, self.ctx, _EMPTY_CHAIN)

    def load(self, spark: SparkSession, root: str) -> dict:
        """``{<component>: DataFrame, ..., "meta", "path"}`` over the
        committed chain: one meta read, then one multi-path parquet
        read per component."""
        meta = self.meta(spark, root)
        gens = meta["generations"]
        if not gens:
            raise IOError(f"{self.ctx} at {root!r} has no committed data")
        index = {
            name: spark.read.parquet(*(os.path.join(root, g, name) for g in gens))
            for name in self.components
        }
        return {**index, "meta": meta, "path": root}

    def create(
        self, spark: SparkSession, root: str, identity: dict,
        build: Callable[[], dict[str, DataFrame]], *,
        stats: Callable[[dict[str, DataFrame], str], dict] | None = None,
        on_before_commit: Callable[[int], None] | None = None,
    ) -> None:
        """Commit gen-0 at a root with no committed generations.
        ``build()`` runs after the init meta and returns gen-0's
        components; ``stats(components, gen_dir)`` runs after their
        write and returns meta keys to commit with them. ``identity``
        keys ride both metas."""
        committed = self.meta(spark, root)["generations"]
        if committed:
            raise IOError(
                f"{self.ctx} at {root!r} already has committed generations "
                f"{committed} — extend the index to admit more"
            )
        init = {**identity, **_EMPTY_CHAIN}
        write_meta(spark, root, self.meta_name, init)
        self._advance(spark, root, init, build(), [], stats, on_before_commit)

    def append(
        self, spark: SparkSession, index: dict, delta: dict[str, DataFrame],
        *, extra: dict | None = None,
        on_before_commit: Callable[[int], None] | None = None,
    ) -> None:
        """Commit a non-empty, id-disjoint ``delta`` as the next
        generation of the loaded ``index``, with ``extra`` meta keys."""
        meta = index["meta"]
        self._advance(
            spark, index["path"], meta, delta, meta["generations"],
            lambda *_: extra or {}, on_before_commit,
        )

    def compact(
        self, spark: SparkSession, index: dict, *, retain: int = 0,
        fold: dict[str, DataFrame] | None = None, extra: dict | None = None,
        on_before_commit: Callable[[int], None] | None = None,
    ) -> int:
        """Fold the loaded ``index``'s chain into one generation, commit
        it with ``extra`` meta keys, then prune all but ``retain`` old
        generations. ``fold`` replaces components in the folded
        generation and forces a fold even of a single generation.
        Returns the number of generations folded (0: nothing to do)."""
        meta, root = index["meta"], index["path"]
        gens = meta["generations"]
        keep = 1 + max(0, retain)
        if len(gens) <= 1 and fold is None:
            # no fold, but still collect generations an earlier
            # retain>0 compaction left behind (they are unreferenced)
            prune_generations(spark, root, keep, protect=set(gens))
            return 0
        folded = {name: index[name] for name in self.components}
        folded.update(fold or {})
        gen = self._advance(
            spark, root, meta, folded, [], lambda *_: extra or {},
            on_before_commit,
        )
        prune_generations(spark, root, keep, protect={gen})
        return len(gens)

    def maintenance_sink(
        self, root: str, *, id_col: str,
        create: Callable[[DataFrame], Any], extend: Callable[[DataFrame], Any],
        compact: Callable[[SparkSession], Any], compact_every: int | None,
        cols: list[str] | None = None,
    ) -> Callable[[DataFrame, int], None]:
        """foreachBatch function maintaining the index at ``root``. Each
        micro-batch keeps ``cols`` (all when None) and collapses
        duplicate ids keep-any. An empty batch is skipped, so a virgin
        root stays virgin until the first row; the first non-empty
        batch runs ``create``, later ones ``extend``. After every
        ``compact_every``-th batch ``compact`` folds the chain; a crash
        between admit and fold just defers the fold."""

        def _fn(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            batch = batch_df.select(*cols) if cols else batch_df
            batch = batch.dropDuplicates([id_col])
            if batch.isEmpty():
                return
            if self.meta(spark, root)["generations"]:
                extend(batch)
            else:
                create(batch)
            if compact_every and (batch_id + 1) % compact_every == 0:
                compact(spark)

        return _fn

    def _advance(
        self, spark, root, meta, components, kept, stats, on_before_commit
    ) -> str:
        """Write generation ``seq+1`` and commit the chain ``kept + [it]``
        with the meta keys ``stats`` returns."""
        seq = meta["seq"] + 1
        gen = gen_name(seq)
        gdir = os.path.join(root, gen)
        for name, cluster in self.components.items():
            df = components[name]
            if cluster:
                df = df.repartition(*cluster).sortWithinPartitions(*cluster)
            # overwrite: a crashed earlier attempt at this seq may have
            # left an unreferenced orphan here
            df.write.mode("overwrite").parquet(os.path.join(gdir, name))
        extra = stats(components, gdir) if stats is not None else {}
        if on_before_commit is not None:
            on_before_commit(seq)
        write_meta(
            spark, root, self.meta_name,
            {**meta, **extra, "generations": kept + [gen], "seq": seq},
        )
        return gen
