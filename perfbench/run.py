"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, starts Spark through ``hermod_spark.session.get_spark``, sets up
(billed to ``setup_s``), measures for S seconds, checks every output and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run (spans go to
``.bench_work/spans-<workload>-<seed>.jsonl``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import harness as H

WORKLOADS = ("ingest_live", "operators_batch")

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

_OPERATOR_METRICS = {
    "construct_s": "s", "execute_s": "s", "jobs": "count", "stages": "count",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "python_eval_s": "s",
    "checkpoint_bytes": "bytes",
}
LIVE_TABLES = ("temperature", "sensors", "alerts", "iot_raw")
QUARANTINE_REASONS = ("bad_json", "null_payload")


def per_layer_units() -> dict[str, str]:
    from batch import QUERIES

    units = {
        "sources.latest_offset_ms.p50": "ms",
        "sources.get_batch_ms.p50": "ms",
        "sources.replay_read_s": "s",
        "sources.rows_read": "count",
        "engine.trigger_ms.p50": "ms",
        "engine.trigger_ms.p99": "ms",
        "engine.add_batch_ms.p50": "ms",
        "engine.plan_ms.p50": "ms",
        "engine.wal_commit_ms.p50": "ms",
        "engine.batches": "count",
        "engine.batch_rows.p50": "count",
        "sinks.write_ms.p50": "ms",
        "sinks.jobs_per_batch": "count",
        "sinks.write_s": "s",
        "sinks.files_written": "count",
        "sinks.bytes_written": "bytes",
    }
    units.update({f"plans.routed_rows.{t}": "count" for t in LIVE_TABLES})
    units.update({f"plans.quarantined_rows.{r}": "count" for r in QUARANTINE_REASONS})
    units["plans.useful_frac"] = "ratio"
    for q in QUERIES:
        units.update({f"operators.{q}.{k}": u for k, u in _OPERATOR_METRICS.items()})
    units["operators.ann_index_build_s"] = "s"
    units.update({
        "wall.op_s": "s", "wall.latency_p50_s": "s", "wall.latency_p99_s": "s", "jvm.jit_cpu_s": "s",
    })
    units["gen.late_max_ms"] = "ms"
    units["trace.overhead_frac"] = "ratio"
    return units


def _program_present() -> bool:
    return all(
        os.path.exists(os.path.join(H.ROOT, p))
        for p in ("hermod_spark/__init__.py", "__spark_entry__.py", "scripts/check_correctness.py")
    )


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = H.make_workdir(workload, seed)
    try:
        return _run_in(work, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_in(work: str, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import batch
    import ingest
    from tracing import Tracer, wrap_ingest_layers

    H.prepare_env(work)
    tracer = Tracer(f"{workload}-{seed}", enabled=trace)
    # inputs and oracle results: the benchmark's own work, untimed
    if workload == "operators_batch":
        prepared = batch.prepare(work, seed)
    with H.Timer() as session:
        spark = H.start_session(work)
    try:
        with H.RssSampler(spark) as rss:
            if workload == "ingest_live":
                if trace:
                    wrap_ingest_layers(tracer)
                setup_s, res = ingest.run(spark, work, seed, seconds, tracer, trace)
            else:
                setup_s, res = batch.run(spark, prepared, seconds, tracer, trace)
    finally:
        tracer.unwrap_all()
        H.stop_session(spark)
    H.log(f"session {session.s:.2f}s, set-up {setup_s:.2f}s, {res['op_cpu_s']:.2f} CPU s per op")
    for p in res["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    if trace:
        tracer.dump(os.path.join(H.ROOT, ".bench_work", f"spans-{workload}-{seed}.jsonl"))
        layers = res["layers"]
        metrics = {
            name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in per_layer_units().items()
        }
    else:
        values = {**res, "setup_s": session.s + setup_s, "peak_rss_mb": rss.peak_mb}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": res["failed"] == 0 and not res["problems"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"no hermod_spark checkout at {H.ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
