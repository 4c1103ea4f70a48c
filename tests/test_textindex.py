"""Persisted inverted-text index: build / extend / compact / serve.

The gate from VERDICT r12 next-round #1: index-served BM25 equals the
direct recompute bit-for-bit, extend survives the worst-case crash
window (poisoned commit + redelivery), and the serve plan never scans
the corpus table.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hermod_spark.operators.textindex import (
    bm25_topk_indexed,
    build_text_index,
    compact_text_index,
    extend_text_index,
    load_text_index,
)
from hermod_spark.operators.textops import bm25_topk

SF = "/root/testdata/sf0.001"

PANEL = [
    (1, "spark hash join"),
    (2, "stream window agg"),
    (3, "fast vector scan"),
]


def _docs(spark):
    df = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    # one all-whitespace doc: must count in N/avgdl but emit no
    # postings, exactly as the direct corpus agg treats it
    extra = spark.createDataFrame(
        [(10_000_001, " \n\t ")], "doc_id long, text string"
    )
    return df.select("doc_id", "text").unionByName(extra)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_build_serve_matches_direct_bitwise(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_text_index(docs, path)
    idx = load_text_index(spark, path)
    got = _rows(bm25_topk_indexed(idx, PANEL, k=10))
    want = _rows(bm25_topk(docs, PANEL, k=10))
    assert got == want and len(want) > 0
    # non-default serve-time parameters need no rebuild
    got2 = _rows(bm25_topk_indexed(idx, PANEL, k=5, k1=0.9, b=0.4))
    want2 = _rows(bm25_topk(docs, PANEL, k=5, k1=0.9, b=0.4))
    assert got2 == want2


def test_extend_equals_full_build_and_is_idempotent(spark, tmp_path):
    docs = _docs(spark)
    first = docs.filter(F.col("doc_id") % 3 != 2)
    snap = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "idx")
    build_text_index(first, path)
    n = extend_text_index(snap, path)
    assert n == snap.count()
    idx = load_text_index(spark, path)
    assert len(idx["meta"]["generations"]) == 2
    want = _rows(bm25_topk(docs, PANEL, k=10))
    assert _rows(bm25_topk_indexed(idx, PANEL, k=10)) == want
    # redelivered snapshot: anti-join admits nothing, index unchanged
    assert extend_text_index(snap, path) == 0
    idx2 = load_text_index(spark, path)
    assert _rows(bm25_topk_indexed(idx2, PANEL, k=10)) == want


def test_serve_plan_never_scans_corpus(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    path = str(tmp_path / "idx")
    build_text_index(docs, path)
    idx = load_text_index(spark, path)
    served = bm25_topk_indexed(idx, PANEL, k=10)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan  # zero corpus FileScan
    # the literal IN-predicate reaches the postings parquet scan
    assert "PushedFilters" in plan and "In(tok" in plan


def test_extend_crash_window_and_meta_guards(spark, tmp_path):
    docs = _docs(spark)
    first = docs.filter(F.col("doc_id") % 3 != 2)
    snap = docs.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "idx")
    build_text_index(first, path)
    before = _rows(
        bm25_topk_indexed(load_text_index(spark, path), PANEL, k=10)
    )

    # crash BETWEEN generation write and meta commit: the orphan
    # generation is unreferenced, the index still serves the old state
    with pytest.raises(RuntimeError, match="boom"):
        extend_text_index(
            snap, path,
            on_before_commit=lambda seq: (_ for _ in ()).throw(
                RuntimeError("boom")
            ),
        )
    idx = load_text_index(spark, path)
    assert idx["meta"]["generations"] == ["gen-000000000"]
    assert _rows(bm25_topk_indexed(idx, PANEL, k=10)) == before

    # redelivery after the crash: full snapshot admits, final state
    # equals the never-crashed extend
    assert extend_text_index(snap, path) == snap.count()
    idx = load_text_index(spark, path)
    assert _rows(bm25_topk_indexed(idx, PANEL, k=10)) == _rows(
        bm25_topk(docs, PANEL, k=10)
    )

    # build over a committed index refuses
    with pytest.raises(IOError, match="already has committed"):
        build_text_index(docs, path)

    # vanished meta over committed generations refuses to serve empty
    os.remove(os.path.join(path, "_text_index_meta.json"))
    with pytest.raises(IOError, match="refusing to restart"):
        load_text_index(spark, path)


def test_compact_folds_chain_and_preserves_results(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_text_index(docs.filter(F.col("doc_id") % 3 == 0), path)
    extend_text_index(docs.filter(F.col("doc_id") % 3 == 1), path)
    extend_text_index(docs.filter(F.col("doc_id") % 3 == 2), path)
    want = _rows(
        bm25_topk_indexed(load_text_index(spark, path), PANEL, k=10)
    )
    assert compact_text_index(path, spark) == 3
    idx = load_text_index(spark, path)
    assert idx["meta"]["generations"] == ["gen-000000003"]
    on_disk = sorted(n for n in os.listdir(path) if n.startswith("gen-"))
    assert on_disk == ["gen-000000003"]  # old chain pruned
    assert _rows(bm25_topk_indexed(idx, PANEL, k=10)) == want
    assert compact_text_index(path, spark) == 0  # single gen: no-op


def test_stream_maintenance_sink_exactly_once(spark, tmp_path):
    """foreachBatch maintenance: 3 micro-batches with batch 1
    REDELIVERED and a poisoned commit mid-stream — the served BM25
    equals the from-scratch direct recompute over all docs (extend's
    id-idempotency makes at-least-once delivery exactly-once without
    a batch ledger), intra-batch duplicate ids collapse, and an empty
    micro-batch leaves a virgin root virgin (no empty gen-0)."""
    from hermod_spark.operators.textindex import (
        text_index_maintenance_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    fn = text_index_maintenance_sink(path)
    fn(docs.limit(0), 0)  # empty micro-batch: nothing committed
    with pytest.raises(IOError, match="no committed data"):
        load_text_index(spark, path)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    fn(b0.unionByName(b0.limit(5)), 0)  # intra-batch dup ids collapse
    fn(docs.filter(F.col("doc_id") % 3 == 1), 1)
    fn(docs.filter(F.col("doc_id") % 3 == 1), 1)  # redelivery: no-op
    # poisoned commit on batch 2, then clean replay
    boom = text_index_maintenance_sink(
        path, on_before_commit=lambda seq: (_ for _ in ()).throw(
            RuntimeError("boom")
        ),
    )
    with pytest.raises(RuntimeError, match="boom"):
        boom(docs.filter(F.col("doc_id") % 3 == 2), 2)
    fn(docs.filter(F.col("doc_id") % 3 == 2), 2)
    idx = load_text_index(spark, path)
    assert len(idx["meta"]["generations"]) == 3
    assert idx["doclens"].count() == docs.count()  # no dup admits
    got = _rows(bm25_topk_indexed(idx, PANEL, k=10))
    assert got == _rows(bm25_topk(docs, PANEL, k=10))


def test_stream_maintenance_real_readstream(spark, tmp_path):
    """A real readStream → foreachBatch run over a json file source
    maintains the index; serve equals direct."""
    import json as _json
    import os as _os

    from hermod_spark.operators.textindex import (
        text_index_maintenance_sink,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(60)
    src = str(tmp_path / "src")
    _os.makedirs(src)
    rows = docs.collect()
    for i in range(3):
        with open(f"{src}/part{i}.json", "w") as fh:
            for r in rows[i * 20 : (i + 1) * 20]:
                fh.write(_json.dumps(
                    {"doc_id": r["doc_id"], "text": r["text"]}
                ) + "\n")
    path = str(tmp_path / "idx")
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(text_index_maintenance_sink(path))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    idx = load_text_index(spark, path)
    assert idx["doclens"].count() == 60
    assert _rows(bm25_topk_indexed(idx, PANEL, k=10)) == _rows(
        bm25_topk(docs, PANEL, k=10)
    )


def test_first_build_crash_is_replayable(spark, tmp_path):
    """r13 review: a crash between the FIRST generation write and the
    first meta commit must REPLAY, not permanently trip the
    vanished-meta refusal (the init meta makes gen-0 an overwritable
    orphan like every later generation)."""
    from hermod_spark.operators.textindex import (
        text_index_maintenance_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="boom"):
        build_text_index(
            docs, path,
            on_before_commit=lambda seq: (_ for _ in ()).throw(
                RuntimeError("boom")
            ),
        )
    # the root is NOT bricked: a committed-empty meta + an orphan gen
    with pytest.raises(IOError, match="no committed data"):
        load_text_index(spark, path)
    build_text_index(docs, path)  # replay succeeds (overwrites orphan)
    got = _rows(bm25_topk_indexed(load_text_index(spark, path), PANEL, k=10))
    assert got == _rows(bm25_topk(docs, PANEL, k=10))

    # same window through the STREAMING sink's batch-0 branch
    path2 = str(tmp_path / "idx2")
    boom = text_index_maintenance_sink(
        path2, on_before_commit=lambda seq: (_ for _ in ()).throw(
            RuntimeError("boom")
        ),
    )
    with pytest.raises(RuntimeError, match="boom"):
        boom(docs, 0)
    fn = text_index_maintenance_sink(path2)
    fn(docs, 0)  # the stream's batch-0 replay must not wedge
    got2 = _rows(
        bm25_topk_indexed(load_text_index(spark, path2), PANEL, k=10)
    )
    assert got2 == got


def test_sink_self_maintaining_compacts(spark, tmp_path):
    """compact_every folds the stream's own generation chain between
    admits (the self-maintaining-sink rule shared by all three index
    sinks); serve unchanged."""
    from hermod_spark.operators.textindex import (
        text_index_maintenance_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    fn = text_index_maintenance_sink(path, compact_every=2)
    for i in range(4):
        fn(docs.filter(F.col("doc_id") % 4 == i), i)
    idx = load_text_index(spark, path)
    assert len(idx["meta"]["generations"]) == 1  # folded at batch 3
    assert idx["doclens"].count() == docs.count()
    got = _rows(bm25_topk_indexed(idx, PANEL, k=10))
    assert got == _rows(bm25_topk(docs, PANEL, k=10))
