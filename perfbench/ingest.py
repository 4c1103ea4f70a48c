"""The ``ingest_live`` workload: the Hermod path from a live message
source to its tables, in an open loop.

A separate publisher process sends seeded messages at ``LIVE_RATE`` to
the file broker double (``hermod_spark.sources.mqtt_testing``), each
due at a fixed time whether or not the engine keeps up. The live
``mqtt`` source feeds ``Engine.run_stream`` with quarantine and
exactly-once commit markers. A message's latency runs from the time the
publisher was due to send it to the commit marker of the micro-batch
that holds it; that micro-batch is found by mapping the progress
offsets of each batch to spool indexes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import harness as H
import inputs

# Messages per second, open loop. The rate leaves headroom: a micro-batch
# holds about 500 rows and costs about 2 s on 4 cores, mostly per-batch
# fixed cost, so a slowed host lengthens batches without pushing the loop
# toward saturation (at 500 msg/s, batches of about 1,000 rows grew
# further whenever the host slowed).
LIVE_RATE = 250
LIVE_ROUTES = [
    ("sensors/+/temperature", "temperature"),
    ("sensors/#", "sensors"),
    ("alerts/#", "alerts"),
]
# Replay reader options, fixed so both sides of an A/B read the same
# ranges. The live reader keeps its defaults (no per-trigger cap,
# 1000-message partition splits), so the engine, not a cap, sets the
# batch size.
REPLAY_READER = {"numPartitions": "4"}
# Set-up traffic: PRIME messages published from the benchmark process
# start the stream, then WARMUP_S seconds at LIVE_RATE from the publisher
# warm the JVM. Measured on 4 vCPUs: with the JIT compiler's own threads
# left out, CPU per micro-batch falls by about a quarter over the first
# eight batches (about 15 s of traffic) and slowly after that.
PRIME = 50
WARMUP_S = 15
TEMPERATURE_SCHEMA = {
    "temperature": {
        "time": "timestamptz",
        "topic": "text",
        "seq": "bigint",
        "device": "text",
        "celsius": "double precision",
        "fahrenheit": "double precision",
    }
}
DRAIN_TIMEOUT_S = 60


def c2f(df):
    """The registered transform behind the ``temperature`` route."""
    from pyspark.sql import functions as F

    celsius = F.get_json_object("payload", "$.value").cast("double")
    return df.select(
        "time",
        "topic",
        F.get_json_object("payload", "$.seq").cast("long").alias("seq"),
        F.get_json_object("payload", "$.device").alias("device"),
        celsius.alias("celsius"),
        (celsius * 9 / 5 + 32).alias("fahrenheit"),
    )


def _engine():
    import hermod_spark.config as C
    from hermod_spark.engine import Engine
    from hermod_spark.plans.schema import Schema

    toml = "".join(
        f'[[routes]]\nfilter = "{f}"\ntable = "{t}"\n'
        + ('script = "c2f"\n' if t == "temperature" else "")
        for f, t in LIVE_ROUTES
    )
    return Engine(
        C.loads(toml),
        transforms={"c2f": c2f},
        schemas={"c2f": Schema.declare(TEMPERATURE_SCHEMA)},
    )


# ------------------------------------------------------------- read-back


def _seqs(table, col: str) -> list:
    if col == "seq":
        return table.column("seq").to_pylist()
    out = []
    for raw in table.column(col).to_pylist():
        m = inputs.SEQ_RE.search(raw or "")
        out.append(int(m.group(1)) if m else None)
    return out


def check_tables(base: str, expected: dict[str, int]) -> tuple[dict, int, list[str]]:
    """Compare written tables with the generator's expectation: rows per
    table, dead letters per reason, and no sequence number twice.
    Returns (rows per table, missing, surplus or duplicate rows, problems)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    got: dict[str, int] = {}
    problems: list[str] = []
    dupes = 0
    for name in sorted(os.listdir(base)):
        path = os.path.join(base, name)
        if name.startswith((".", "_c")) or not os.path.isdir(path):
            continue
        t = ds.dataset(path, format="parquet").to_table()
        if name == "_quarantine":
            vc = pc.value_counts(t.column("reason"))
            for reason, n in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()):
                got[f"_quarantine.{reason}"] = n
            seqs = [s for s in _seqs(t, "payload") if s is not None]
        else:
            got[name] = t.num_rows
            seqs = _seqs(t, "seq" if "seq" in t.column_names else "raw")
        dupes += len(seqs) - len(set(seqs))
    miss = sum(abs(got.get(k, 0) - expected.get(k, 0)) for k in set(got) | set(expected))
    if miss:
        problems.append(f"row counts differ: got {got} expected {expected}")
    if dupes:
        problems.append(f"{dupes} duplicate sequence numbers")
    return got, miss + dupes, problems


def sink_files(base: str) -> tuple[int, int]:
    """(parquet files, bytes) under a sink root."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(base):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ------------------------------------------------------------------ run


def _start_live(spark, base: str):
    from hermod_spark.sources.mqtt_testing import FileBrokerHandle

    broker = os.path.join(base, "broker")
    handle = FileBrokerHandle(broker)
    stream = (
        spark.readStream.format("mqtt")
        .option("spool", os.path.join(base, "spool.jsonl"))
        .option("clientFactory", "hermod_spark.sources.mqtt_testing:file_client_factory")
        .option("brokerDir", broker)
        .load()
    )
    q = _engine().run_stream(
        stream,
        base_path=os.path.join(base, "tables"),
        checkpoint=os.path.join(base, "_checkpoint"),
        trigger_once=False,
        exactly_once_commit_dir=os.path.join(base, "_commits"),
        quarantine=True,
    )
    return q, broker, handle


def _publish(broker: str, seed: int, first: int, count: int, report: str):
    """Start the open-loop publisher process."""
    here = os.path.dirname(os.path.abspath(__file__))
    return subprocess.Popen(
        [sys.executable, os.path.join(here, "publisher.py"), broker, str(seed), str(first),
         str(count), str(LIVE_RATE), report]
    )


def _await_publisher(proc, timeout: float) -> None:
    try:
        proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"publisher exited with code {proc.returncode}")


def _offset(value) -> int:
    """The live source's ``{"index": N}`` offset, as progress reports it
    (a JSON or Python rendering of the dict, or nothing before the
    first batch)."""
    m = re.search(r"index\W+(\d+)", str(value))
    return int(m.group(1)) if m else 0


def _wait_committed(q, n: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        p = q.lastProgress
        if p and p["sources"] and _offset(p["sources"][0]["endOffset"]) >= n \
                and not q.status["isTriggerActive"]:
            return
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        time.sleep(0.05)
    raise TimeoutError(f"live stream did not commit {n} messages in {timeout}s")


class _BatchCpu:
    """CPU seconds (``harness.cpu_seconds``) at the end of each
    micro-batch, sampled from the public ``StreamingQueryListener``
    progress event."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        marks = self.marks = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                marks[event.progress.batchId] = (H.cpu_seconds(spark), H.jit_cpu_seconds(spark))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def per_batch(self, batch_ids) -> tuple[list[float], list[float]]:
        """(CPU, JIT compiler CPU) of each batch: the change since the
        previous batch's progress event."""
        cpu, jit = [], []
        for b in batch_ids:
            if b in self.marks and b - 1 in self.marks:
                (c1, j1), (c0, j0) = self.marks[b], self.marks[b - 1]
                cpu.append(c1 - c0)
                jit.append(j1 - j0)
        return cpu, jit


def run(spark, work: str, seed: int, seconds: float, tracer, trace: bool) -> tuple[float, dict]:
    """(set-up seconds, measurement). Set-up registers the sources,
    starts the stream, pushes ``PRIME`` messages, published from this
    process, through it (the planning worker's spawn and the first
    micro-batch's compile), then runs ``WARMUP_S`` seconds of open-loop
    traffic. The same publisher process goes on for ``seconds`` of
    measured traffic; once all is committed the tables are checked.
    Micro-batches that hold a warm-up message are not measured. A
    traced run traces every other micro-batch (see
    ``tracing.wrap_ingest_layers``)."""
    from hermod_spark.sources import mqtt

    first = PRIME + int(LIVE_RATE * WARMUP_S)  # spool index of the first measured message
    n = int(LIVE_RATE * seconds)
    base = os.path.join(work, "live")
    expected = inputs.live_expected(inputs.live_messages(seed, first + n), LIVE_ROUTES)
    report = os.path.join(base, "pub.json")
    cpu_marks = _BatchCpu(spark)
    try:
        with H.Timer() as prime:
            mqtt.register(spark)
            q, broker, handle = _start_live(spark, base)
            try:
                for topic, payload, _kind in inputs.live_messages(seed, PRIME):
                    handle.publish(topic, payload)
                _wait_committed(q, PRIME, DRAIN_TIMEOUT_S)
            except BaseException:
                q.stop()
                raise
        primed_at = time.time()
        try:
            publisher = _publish(broker, seed, PRIME, first + n - PRIME, report)
            _await_publisher(publisher, WARMUP_S + seconds + 30)
            _wait_committed(q, first + n, DRAIN_TIMEOUT_S)
        finally:
            q.stop()
    finally:
        cpu_marks.close()
    with open(report, encoding="utf-8") as fh:
        pub = json.load(fh)
    measured_from = pub["t0"] + (first - PRIME) / LIVE_RATE
    batches = [
        p for p in q.recentProgress
        if p["numInputRows"] and _offset(p["sources"][0]["startOffset"]) >= first
    ]
    commits = _commit_times(base)
    latencies = _latencies(commits, q.recentProgress, pub, first)
    got, miss, problems = check_tables(os.path.join(base, "tables"), expected)
    if len(latencies) != n:
        problems.append(f"{n - len(latencies)} messages without a committed batch")
    cpu, jit = cpu_marks.per_batch([p["batchId"] for p in batches])
    if not cpu:
        problems.append("no micro-batch held measured messages only")
    H.log(f"measured micro-batches: {[p['durationMs']['triggerExecution'] for p in batches]} ms, "
          f"CPU {[round(c, 2) for c in cpu]} s")
    result = {
        "attempted": n,
        "failed": min(n, max(miss, n - len(latencies))),
        "problems": problems,
        "op_cpu_s": H.median(cpu),
    }
    if trace:
        tracer.keep_batches({p["batchId"] for p in batches})
        result["layers"] = _layers(spark, q, base, tracer, pub, batches, got)
        result["layers"].update({
            "wall.op_s": H.median([p["durationMs"]["triggerExecution"] for p in batches]) / 1000.0,
            "wall.latency_p50_s": H.percentile(latencies, 50),
            "wall.latency_p99_s": H.percentile(latencies, 99),
            "jvm.jit_cpu_s": H.median(jit),
        })
    return prime.s + (measured_from - primed_at), result


def _layers(spark, q, base, tracer, pub, batches, got) -> dict[str, float]:
    durations = [p["durationMs"] for p in batches]
    files, nbytes = sink_files(os.path.join(base, "tables"))
    layers = {
        **_trigger_layers(durations),
        **_route_layers(got, sum(got.values())),
        "sources.rows_read": sum(p["numInputRows"] for p in batches),
        "sources.replay_read_s": _replay_read_s(spark, os.path.join(base, "spool.jsonl")),
        "engine.batches": len(batches),
        "engine.batch_rows.p50": H.median([p["numInputRows"] for p in batches]),
        "engine.plan_ms.p50": 1000.0 * H.median(tracer.durations("engine.plan")),
        "sinks.write_ms.p50": 1000.0 * H.median(tracer.durations("sinks.append")),
        "sinks.write_s": sum(tracer.durations("sinks.append")),
        "sinks.jobs_per_batch": _jobs_per_batch(spark, q),
        "sinks.files_written": files,
        "sinks.bytes_written": nbytes,
        "gen.late_max_ms": pub["late_max_ms"],
    }
    traced: dict[bool, list[float]] = {True: [], False: []}
    for p in batches:
        traced[p["batchId"] % 2 == 1].append(p["durationMs"]["triggerExecution"])
    if traced[True] and traced[False]:
        layers["trace.overhead_frac"] = H.median(traced[True]) / H.median(traced[False]) - 1.0
    return layers


def _trigger_layers(durations: list[dict]) -> dict[str, float]:
    """Per-phase micro-batch durations from StreamingQueryProgress."""
    def p50(key):
        return H.median([d.get(key, 0) for d in durations])

    return {
        "sources.latest_offset_ms.p50": p50("latestOffset"),
        "sources.get_batch_ms.p50": p50("getBatch"),
        "engine.trigger_ms.p50": p50("triggerExecution"),
        "engine.trigger_ms.p99": H.percentile([d["triggerExecution"] for d in durations], 99),
        "engine.add_batch_ms.p50": p50("addBatch"),
        "engine.wal_commit_ms.p50": p50("walCommit"),
    }


def _route_layers(got: dict[str, int], total: int) -> dict[str, float]:
    """Rows per routed table and per dead-letter reason, and the share
    of rows that reached a table other than ``_quarantine``."""
    out = {}
    routed = 0
    for key, n in got.items():
        if key.startswith("_quarantine."):
            out[f"plans.quarantined_rows.{key.split('.', 1)[1]}"] = n
        else:
            out[f"plans.routed_rows.{key}"] = n
            routed += n
    out["plans.useful_frac"] = routed / max(1, total)
    return out


def _replay_read_s(spark, spool: str) -> float:
    """The ``mqtt_replay`` batch reader over the live spool, to a noop
    sink: the source's parse cost without the engine around it."""
    df = spark.read.format("mqtt_replay").option("path", spool).options(**REPLAY_READER).load()
    with H.Timer() as t:
        df.write.format("noop").mode("overwrite").save()
    return t.s


def _commit_times(base: str) -> dict[int, float]:
    """Batch id -> time its exactly-once commit marker was written."""
    commits = os.path.join(base, "_commits")
    out = {}
    for name in os.listdir(commits):
        if name.startswith("batch-") and "." not in name:
            out[int(name[len("batch-"):])] = os.stat(os.path.join(commits, name)).st_mtime
    return out


def _latencies(commits: dict[int, float], batches, pub: dict, first: int) -> list[float]:
    """Due-to-commit latency of each message from spool index ``first``
    on. The live spool holds messages in arrival order, so spool index i
    is the publisher's i-th message; each batch's progress offsets give
    the index range it committed."""
    out = []
    for p in batches:
        src = p["sources"][0]
        lo = max(_offset(src["startOffset"]), first)
        hi = _offset(src["endOffset"])
        done = commits.get(p["batchId"])
        if done is None:
            continue
        out.extend(done - (pub["t0"] + (i - pub["first"]) / pub["rate"]) for i in range(lo, hi))
    return out


def _jobs_per_batch(spark, q) -> float:
    """Spark jobs per data-carrying micro-batch: a streaming query runs
    its jobs under a job group named after its run id."""
    from tracing import job_counts

    jobs, _stages = job_counts(spark, str(q.runId))
    return jobs / max(1, sum(1 for p in q.recentProgress if p["numInputRows"]))
