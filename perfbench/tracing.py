"""Tracing for the ``--trace 1`` run.

Spans are kept in memory and written out once, when the run ends. The
benchmark opens them around its own calls into each layer and, for
calls the engine makes internally (the per-table append, the route
plan), by wrapping the layer's method for the length of the run.
Spark-side counts come from public surfaces only: job groups through
``statusTracker``, SQL metrics on the final ``executedPlan``, and
``StreamingQueryProgress``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Record a span around every call of ``owner.attr`` until
        :meth:`unwrap_all`. ``attrs_of(args)`` adds span attributes."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            extra = attrs_of(args) if attrs_of else {}
            with self.span(name, **extra):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def keep_batches(self, batch_ids) -> None:
        """Keep only the spans under a root span of one of ``batch_ids``."""
        by_id = {s["id"]: s for s in self.spans}

        def root(span):
            while span["parent"] in by_id:
                span = by_id[span["parent"]]
            return span

        self.spans = [s for s in self.spans if root(s).get("batch") in batch_ids]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def wrap_ingest_layers(tracer: Tracer) -> None:
    """Spans inside the engine's micro-batch handler: route planning
    (``engine.plan``), each per-table append (``sinks.append``) and,
    under exactly-once, the whole batch (``sinks.batch``). Only
    odd-numbered micro-batches are traced, so the even ones, run in the
    same stream at the same time, measure the tracing overhead."""
    from hermod_spark.engine import Engine
    from hermod_spark.sinks.writer import MultiTableWriter

    tracer.wrap(Engine, "plan_cached", "engine.plan")
    tracer.wrap(
        MultiTableWriter, "_write_one", "sinks.append",
        attrs_of=lambda args: {"table": args[1]},
    )
    original = MultiTableWriter.idempotent_foreach_batch

    def traced_factory(self, branches_of, commit_dir):
        inner = original(self, branches_of, commit_dir)

        def batch(batch_df, batch_id):
            tracer.enabled = batch_id % 2 == 1
            with tracer.span("sinks.batch", batch=batch_id):
                inner(batch_df, batch_id)

        return batch

    MultiTableWriter.idempotent_foreach_batch = traced_factory
    tracer._restore.append((MultiTableWriter, "idempotent_foreach_batch", original))


# ------------------------------------------------------ Spark-side counts


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, stages that ran a task) for one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            sinfo = st.getStageInfo(s)
            stages += bool(sinfo and sinfo.numCompletedTasks > 0)
    return len(jobs), stages


def _children(node) -> list:
    seq = node.children()
    kids = [seq.apply(i) for i in range(seq.length())]
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        kids.append(node.plan())
    return kids


def plan_metrics(plan) -> dict[str, float]:
    """Shuffle bytes, spill bytes and Python time summed over the SQL
    metrics of an executed physical plan (AQE stages included)."""
    out = {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "python_eval_s": 0.0}
    todo = [plan]
    while todo:
        node = todo.pop()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, value = kv._1(), kv._2().value()
            if key == "shuffleBytesWritten":
                out["shuffle_write_bytes"] += value
            elif key == "spillSize":
                out["spill_bytes"] += value
            elif key == "pythonTotalTime":
                out["python_eval_s"] += value / 1000.0
        todo.extend(_children(node))
    return out


def storage_ids(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def storage_bytes_since(spark, before: set[int]) -> int:
    """Bytes held by RDD blocks created since ``before`` was taken —
    the eager checkpoints a query builder materialized."""
    return sum(
        r.memSize() + r.diskSize()
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if r.id() not in before
    )
