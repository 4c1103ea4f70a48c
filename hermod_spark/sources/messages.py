"""Message sources: the canonical message frame and its stream form.

The reference's unit of input is an MQTT Message{topic, payload, qos,
retain, time} (internal/router/router.go:23-30). The engine is
source-agnostic: anything that yields that five-column frame plugs into
the route planner. Provided here:

- ``message_frame`` — batch stand-in built from the ``events`` table
  (topic synthesized from event_type/user_id, payload = the JSON
  props), used by tests and the oracle;
- ``message_stream`` — the same shape as a Structured Streaming
  source (file/rate for tests; a Kafka reader maps 1:1 — Kafka rows
  already carry topic/value/timestamp).

Live MQTT and recorded-log replay are the Python DataSources in
:mod:`hermod_spark.sources.mqtt`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hermod_spark import data

MESSAGE_COLUMNS = ("time", "topic", "qos", "retain", "payload")


def message_frame(spark: SparkSession, sf_dir: str, keep: list[str] | None = None) -> DataFrame:
    """events → canonical message frame.

    topic = 'sensors/<event_type>/<user_id>' (the reference's
    'sensors/+/...' examples); payload = a JSON object combining the
    event's value and props — so routed transforms have real JSON to
    decode, like an MQTT sensor payload."""
    return message_frame_of(data.table(spark, sf_dir, "events"), keep)


def message_frame_of(ev: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """The message-frame projection over an arbitrary events-shaped
    frame — lets synthesized (e.g. 10×/skewed) event frames flow
    through the identical routing surface the sf tables use."""
    return ev.select(
        *[F.col(c) for c in (keep or [])],
        F.col("ts").alias("time"),
        F.concat(
            F.lit("sensors/"), F.col("event_type"), F.lit("/"), F.col("user_id").cast("string")
        ).alias("topic"),
        F.lit(0).alias("qos"),
        F.lit(False).alias("retain"),
        F.concat(
            F.lit('{"temperature": '),
            F.col("value").cast("string"),
            F.lit(', "k": '),
            F.coalesce(F.get_json_object("props", "$.k"), F.lit("null")),
            F.lit("}"),
        ).alias("payload"),
    )


def message_stream(
    spark: SparkSession, path: str, schema=None, max_files: int = 1
) -> DataFrame:
    """File-based streaming source with the message schema — the test
    double for the MQTT/Kafka path; identical downstream plans."""
    reader = spark.readStream.option("maxFilesPerTrigger", max_files)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def render_replay_spool(spark: SparkSession, sf_dir: str, path: str) -> int:
    """Render the events table as a recorded-message JSONL spool for
    the ``mqtt_replay`` source (one JSON object per line: time as a
    unix-seconds float, topic, qos, retain, payload) and return the
    line count.

    This is the backfill-shaped setup step: at 100 TB the spool is an
    archived message log that already exists; here it's derived from
    the synthetic events once and cached (the ingest bench and e2e
    tests re-use it). The render is distributed (to_json over the
    message frame); only the final concatenation to one local file is
    driver-side, because the replay source's offset model indexes a
    single ordered log — exactly the shape a broker spool has."""
    import glob
    import os
    import shutil
    import tempfile

    rendered = _rendered_lines(message_frame(spark, sf_dir))
    tmp = tempfile.mkdtemp(prefix="hermod_spool_")
    path = os.path.abspath(path)
    # a kill -9 between move and replace strands a spool-sized
    # ".render-<pid>" orphan; sweep the previous run's before starting
    for stale in glob.glob(path + ".render-*"):
        try:
            os.remove(stale)
        except OSError:
            pass
    try:
        rendered.coalesce(1).write.mode("overwrite").text(tmp)
        part = next(iter(glob.glob(os.path.join(tmp, "part-*"))))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # land next to the target first, then atomic-rename into place
        # (the straight move from /tmp may cross filesystems — a
        # non-atomic copy whose crash leaves a silently truncated
        # spool; same discipline as the sharded render)
        stage = path + f".render-{os.getpid()}"
        try:
            shutil.move(part, stage)
            os.replace(stage, path)
        finally:
            # a crash between move and replace must not strand a
            # spool-sized orphan next to the target
            if os.path.exists(stage):
                os.remove(stage)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # sidecar offset index: partitioned range reads seek instead of
    # scanning from byte 0, and offset queries become O(1)
    from hermod_spark.sources.mqtt import write_spool_index

    return write_spool_index(path)


def _rendered_lines(frame: DataFrame) -> DataFrame:
    """message frame → one JSON line per message (the spool format)."""
    return frame.select(
        F.to_json(
            F.struct(
                # events ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP
                # (UTC session tz makes the cast an identity)
                (
                    F.unix_micros(F.col("time").cast("timestamp"))
                    / F.lit(1000000.0)
                ).alias("time"),
                F.col("topic"),
                F.col("qos"),
                F.col("retain"),
                F.col("payload"),
            )
        ).alias("line")
    )


def render_replay_spool_sharded(
    spark: SparkSession,
    sf_dir: str,
    dir_path: str,
    shards: int = 4,
    compress: bool = False,
) -> int:
    """Render the events table as an N-SHARD spool directory
    (``shard-0000.jsonl`` … each with its own ``.idx`` sidecar; with
    ``compress=True``, deterministic ``shard-0000.jsonl.gz`` shards
    with no sidecar — the archived-backfill form the reader
    chunk-decompresses) and return the total line count.

    The single-file render funnels the whole corpus through one
    ``coalesce(1)`` task and leaves the reader one seekable log; at
    backfill scale a spool is naturally MANY logs (one per broker
    partition / archive chunk). Each shard here is an independent
    ordered log written by its own task — no driver-side
    concatenation, no single-task bottleneck — and the replay source
    plans one range-partition set PER SHARD, so source parallelism is
    shards × ranges (VERDICT r9 #7).

    The render is ATOMIC (VERDICT r10 #9): shards + sidecar indexes
    are fully assembled in a sibling temp directory and renamed into
    place LAST, so a crashed render can never leave a half-shard
    directory that ``_spool_files`` would silently serve as a
    truncated corpus."""
    import glob
    import os
    import shutil
    import tempfile

    from hermod_spark.sources.mqtt import write_spool_index

    rendered = _rendered_lines(message_frame(spark, sf_dir))
    tmp = tempfile.mkdtemp(prefix="hermod_spool_")
    dir_path = os.path.abspath(dir_path)
    os.makedirs(os.path.dirname(dir_path), exist_ok=True)
    # sweep orphans a killed previous render may have stranded —
    # BEFORE creating this run's stage, which matches the same glob
    for stale in glob.glob(dir_path + ".render-*") + glob.glob(
        dir_path + ".old-*"
    ):
        shutil.rmtree(stale, ignore_errors=True)
    # staging dir on the SAME filesystem as the target so the final
    # rename is an atomic directory swap, not a copy
    stage = tempfile.mkdtemp(
        prefix=os.path.basename(dir_path) + ".render-",
        dir=os.path.dirname(dir_path),
    )
    total = 0
    old = dir_path + f".old-{os.getpid()}"
    try:
        rendered.repartition(shards).write.mode("overwrite").text(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        for i, part in enumerate(parts):
            if compress:
                # archived-backfill form: `.jsonl.gz` shards, no
                # sidecar index (gz shards stream whole-file and are
                # chunk-decompressed by the reader). mtime=0 + no
                # embedded name keeps the bytes deterministic.
                import gzip as _gzip

                dst = os.path.join(stage, f"shard-{i:04d}.jsonl.gz")
                with open(part, "rb") as fin, open(dst, "wb") as fraw:
                    with _gzip.GzipFile(
                        fileobj=fraw, mode="wb", mtime=0
                    ) as fout:
                        for line in fin:
                            fout.write(line)
                            total += 1
            else:
                dst = os.path.join(stage, f"shard-{i:04d}.jsonl")
                shutil.move(part, dst)
                total += write_spool_index(dst)
        # mkdtemp creates 0700; the spool must be listable by whoever
        # runs the executors
        os.chmod(stage, 0o755)
        # swap via two renames, never rmtree-then-rename: a crash in
        # the window leaves the PREVIOUS complete spool parked at
        # ``.old-<pid>`` (recoverable), not destroyed
        if os.path.isdir(dir_path):
            os.rename(dir_path, old)
        os.rename(stage, dir_path)
        shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
    return total
