"""The ``operators_batch`` workload: ``__spark_entry__.queries()``
builders timed to full materialization (``write.format("noop")``) and
checked against the DuckDB oracle result from
``__spark_entry__.oracle_sql()`` through the repository's own
order-independent compare (``scripts/check_correctness.py``).

``cur_pipeline_v3`` runs the curation operators (quality filter, exact
dedup, semantic decontamination through the ANN index, image near-dup,
BPE token counts, packing), their Arrow UDFs and eager
``localCheckpoint``s. It is the only query: with a cold Spark session
per run, each further query costs a cold and a warm run plus its oracle,
and the run has to stay near a minute.
"""

from __future__ import annotations

import os
import time

import harness as H
import inputs
import tracing

QUERIES = ("cur_pipeline_v3",)
TABLES = ("documents", "embeddings")


def _entry():
    import __spark_entry__ as E

    return E


def prepare(work: str, seed: int) -> tuple[str, dict]:
    """Write the tables; return their directory and the oracle results."""
    sf = os.path.join(work, "tables")
    os.makedirs(sf)
    inputs.corpus_tables(seed, sf)
    return sf, oracle_frames(sf)


def oracle_frames(sf: str) -> dict:
    import duckdb

    oracles = _entry().oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"SET threads={H.ncpus()}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        return {q: con.execute(oracles[q]).df() for q in QUERIES}
    finally:
        con.close()


# --------------------------------------------------------------- measure


def run(spark, prepared, seconds: float, tracer, trace: bool) -> tuple[float, dict]:
    """(set-up seconds, measurement). Set-up runs every query twice to
    the noop sink: cold, which also builds the process-level ANN index
    the curation pipeline serves from, then warm (compile and
    Python-worker warm-up). After the measurement the result of each
    query's last timed run is collected and compared with the oracle,
    untimed."""
    from check_correctness import compare_frames

    sf, expected = prepared
    E = _entry()
    if trace:
        tracer.wrap(E, "ensure_ann_index", "operators.ann_index_build")
    builders = E.queries()
    with H.Timer() as setup:
        for q in QUERIES:
            for label in ("cold", "warm"):
                c0 = H.cpu_seconds(spark)
                with H.Timer() as t:
                    builders[q](spark, sf).write.format("noop").mode("overwrite").save()
                H.log(f"{q} {label}: {t.s:.2f}s, {H.cpu_seconds(spark) - c0:.2f} CPU s")
                H.quiesce(spark)
    ann_s = tracer.durations("operators.ann_index_build")[:1]
    res, last = measure(spark, sf, seconds, tracer, trace)
    failed, problems = 0, []
    for q, df in last.items():
        diff = compare_frames(df.schema, df.toPandas(), expected[q])
        if diff:
            failed += 1
            problems.extend(f"{q}: {d}" for d in diff)
    res.update(attempted=len(QUERIES), failed=failed, problems=problems)
    if trace:
        res["layers"]["operators.ann_index_build_s"] = ann_s[0] if ann_s else 0.0
    return setup.s, res


def measure(spark, sf: str, seconds: float, tracer, trace: bool) -> tuple[dict, dict]:
    """Passes over the queries, each query built and written to the noop
    sink: at least two untraced passes, then more while another pass of
    the last one's length still ends within ``seconds``. A traced run
    alternates untraced and traced passes, at least three; traced passes
    record per-query spans and Spark-side counts. Returns the figures
    and each query's last untraced DataFrame."""
    builders = _entry().queries()
    passes: dict[bool, list[float]] = {False: [], True: []}
    wall: list[float] = []
    cpu: list[float] = []
    jit: list[float] = []
    layer: dict[str, dict[str, list[float]]] = {}
    last = {}
    deadline = time.perf_counter() + seconds
    n = 0
    pass_s = 0.0
    while n < (3 if trace else 2) or time.perf_counter() + pass_s <= deadline:
        traced = trace and n % 2 == 1
        pass_s = 0.0
        for q in QUERIES:
            H.quiesce(spark)
            if traced:
                t, rec = _traced_query(spark, builders[q], q, sf, n, tracer)
                for k, v in rec.items():
                    layer.setdefault(q, {}).setdefault(k, []).append(v)
            else:
                c0, j0 = H.cpu_seconds(spark), H.jit_cpu_seconds(spark)
                with H.Timer() as timer:
                    df = builders[q](spark, sf)
                    df.write.format("noop").mode("overwrite").save()
                t = timer.s
                cpu.append(H.cpu_seconds(spark) - c0)
                jit.append(H.jit_cpu_seconds(spark) - j0)
                wall.append(t)
                last[q] = df
            pass_s += t
        passes[traced].append(pass_s)
        n += 1
    H.log(f"query runs: wall {[round(x, 2) for x in wall]} s, CPU {[round(x, 2) for x in cpu]} s")
    out = {"op_cpu_s": H.median(cpu)}
    if trace:
        out["layers"] = {
            f"operators.{q}.{k}": H.median(v) for q, rec in layer.items() for k, v in rec.items()
        }
        out["layers"].update({
            "wall.op_s": H.median(wall),
            "wall.latency_p50_s": H.median(wall),
            "wall.latency_p99_s": H.percentile(wall, 99),
            "jvm.jit_cpu_s": H.median(jit),
            "trace.overhead_frac": H.median(passes[True]) / H.median(passes[False]) - 1.0,
        })
    return out, last


def _traced_query(spark, builder, q: str, sf: str, n: int, tracer) -> tuple[float, dict]:
    """Construct under one job group, execute the final plan under
    another, then read jobs, stages and plan metrics."""
    sc = spark.sparkContext
    before = tracing.storage_ids(spark)
    group = f"perfbench-{q}-{n}"
    with tracer.span(f"operators.{q}", batch=n) as whole:
        sc.setJobGroup(group + "-construct", q)
        with tracer.span(f"operators.{q}.construct") as c:
            df = builder(spark, sf)
        sc.setJobGroup(group + "-execute", q)
        with tracer.span(f"operators.{q}.execute") as x:
            qe = df._jdf.queryExecution()
            qe.toRdd().count()
        sc.setJobGroup("perfbench", "untimed")
    rec = {
        "construct_s": c["end"] - c["start"],
        "execute_s": x["end"] - x["start"],
        "checkpoint_bytes": tracing.storage_bytes_since(spark, before),
        **tracing.plan_metrics(qe.executedPlan()),
    }
    jobs = stages = 0
    for part in ("-construct", "-execute"):
        j, s = tracing.job_counts(spark, group + part)
        jobs, stages = jobs + j, stages + s
    rec["jobs"], rec["stages"] = jobs, stages
    return whole["end"] - whole["start"], rec
