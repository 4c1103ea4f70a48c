"""Persisted ANN band index: save / extend / incremental KNN serve.

The gate from VERDICT r12 next-round #2: the incremental serve equals
the full knn_join rebuild on (corpus ∪ snapshot) bit-for-bit, extend
is crash-safe and idempotent, and the serve never re-bands the corpus.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hermod_spark.operators.similarity import (
    extend_ann_index,
    knn_join,
    knn_join_incremental,
    load_ann_index,
    save_ann_index,
)

SF = "/root/testdata/sf0.001"
DIM = 64


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _full_filtered(emb, snap_pred, **kw):
    return _rows(
        knn_join(emb, k=5, n_planes=4, n_bands=4, dim=DIM, **kw).filter(
            snap_pred
        )
    )


def test_incremental_equals_full_rebuild(spark, tmp_path):
    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    save_ann_index(corpus, path, n_planes=4, n_bands=4, dim=DIM)
    idx = load_ann_index(spark, path)
    got = _rows(knn_join_incremental(snap, idx, k=5))
    want = _full_filtered(emb, F.col("query_id") % 10 == 7)
    assert got == want and len(want) > 0

    # max_bucket counts over the UNION band table, like knn_join
    got_c = _rows(knn_join_incremental(snap, idx, k=5, max_bucket=40))
    want_c = _full_filtered(
        emb, F.col("query_id") % 10 == 7, max_bucket=40
    )
    assert got_c == want_c
    assert got_c != got  # the cap actually bit on this corpus


def test_extend_then_serve_and_idempotency(spark, tmp_path):
    emb = _emb(spark)
    part_a = emb.filter(F.col("vec_id") % 10 < 5)
    part_b = emb.filter((F.col("vec_id") % 10 >= 5) & (F.col("vec_id") % 10 != 7))
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    save_ann_index(part_a, path, n_planes=4, n_bands=4, dim=DIM)
    n = extend_ann_index(part_b, path)
    assert n == part_b.count()
    # redelivery admits nothing
    assert extend_ann_index(part_b, path) == 0
    idx = load_ann_index(spark, path)
    assert len(idx["meta"]["generations"]) == 2
    got = _rows(knn_join_incremental(snap, idx, k=5))
    assert got == _full_filtered(emb, F.col("query_id") % 10 == 7)
    # serve drops snapshot rows already indexed (corpus redelivery)
    got2 = _rows(knn_join_incremental(snap.unionByName(part_a), idx, k=5))
    assert got2 == got


def test_extend_crash_window(spark, tmp_path):
    emb = _emb(spark)
    part_a = emb.filter(F.col("vec_id") % 10 < 5)
    part_b = emb.filter((F.col("vec_id") % 10 >= 5) & (F.col("vec_id") % 10 != 7))
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    save_ann_index(part_a, path, n_planes=4, n_bands=4, dim=DIM)
    before = _rows(
        knn_join_incremental(snap, load_ann_index(spark, path), k=5)
    )
    with pytest.raises(RuntimeError, match="boom"):
        extend_ann_index(
            part_b, path,
            on_before_commit=lambda seq: (_ for _ in ()).throw(
                RuntimeError("boom")
            ),
        )
    idx = load_ann_index(spark, path)
    assert idx["meta"]["generations"] == ["gen-000000000"]
    assert _rows(knn_join_incremental(snap, idx, k=5)) == before
    # redelivery heals: full snapshot admits, final state = never-crashed
    assert extend_ann_index(part_b, path) == part_b.count()
    got = _rows(
        knn_join_incremental(snap, load_ann_index(spark, path), k=5)
    )
    assert got == _full_filtered(emb, F.col("query_id") % 10 == 7)
    # build over a committed index refuses
    with pytest.raises(IOError, match="already has committed"):
        save_ann_index(part_a, path, n_planes=4, n_bands=4, dim=DIM)
    # vanished meta over committed generations refuses
    os.remove(os.path.join(path, "_ann_index_meta.json"))
    with pytest.raises(IOError, match="refusing to restart"):
        load_ann_index(spark, path)


def test_serve_never_rebands_corpus(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ann")
    save_ann_index(
        emb.filter(F.col("vec_id") % 10 != 7), path,
        n_planes=4, n_bands=4, dim=DIM,
    )
    idx = load_ann_index(spark, path)
    # snapshot from a LOCAL relation: any 'embeddings' scan in the
    # serve plan would be a corpus re-band
    snap = spark.createDataFrame(
        [(10_000_001, [0.1] * DIM), (10_000_002, [-0.2] * DIM)],
        "vec_id long, embedding array<float>",
    )
    served = knn_join_incremental(snap, idx, k=5)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "embeddings" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert served.count() > 0


def test_banded_buckets_matches_python_construction(spark):
    """The one-parsed-expression banding (r13 driver-overhead fix) is
    value-identical to the per-plane Python construction it replaced."""
    from hermod_spark.operators.similarity import (
        band_hyperplanes,
        banded_buckets,
        lsh_bucket,
    )

    bands = band_hyperplanes(DIM, 4, 8, seed=42)
    emb = _emb(spark).limit(200)
    old = [
        r["b"]
        for r in emb.select(
            F.array(*[lsh_bucket("embedding", p) for p in bands]).alias("b")
        ).collect()
    ]
    new = [
        r["b"]
        for r in emb.select(banded_buckets("embedding", bands).alias("b")).collect()
    ]
    assert old == new


def test_compact_folds_chain_and_preserves_serve(spark, tmp_path):
    from hermod_spark.operators.similarity import compact_ann_index

    emb = _emb(spark)
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    save_ann_index(
        emb.filter(F.col("vec_id") % 10 == 0), path,
        n_planes=4, n_bands=4, dim=DIM,
    )
    extend_ann_index(emb.filter(F.col("vec_id") % 10 == 1), path)
    extend_ann_index(
        emb.filter((F.col("vec_id") % 10 > 1) & (F.col("vec_id") % 10 != 7)),
        path,
    )
    want = _rows(knn_join_incremental(snap, load_ann_index(spark, path), k=5))
    assert compact_ann_index(path, spark) == 3
    idx = load_ann_index(spark, path)
    assert idx["meta"]["generations"] == ["gen-000000003"]
    assert idx["meta"]["n_planes"] == 4  # banding identity survives
    on_disk = sorted(n for n in os.listdir(path) if n.startswith("gen-"))
    assert on_disk == ["gen-000000003"]
    assert _rows(knn_join_incremental(snap, idx, k=5)) == want
    assert compact_ann_index(path, spark) == 0


def test_semantic_decontaminate_flags_probe_duplicates(spark, tmp_path):
    """Exact duplicates of a probe collide in EVERY sign-LSH bucket
    (recall 1 for the pairs decontamination cares about): corpus
    vectors equal to a probe are flagged at max_sim 1.0; near-copies
    pass the threshold; orthogonal vectors are not flagged; and the
    anti-join filter form removes exactly the flagged ids."""
    from hermod_spark.operators.similarity import semantic_decontaminate

    base = [float(i % 5 - 2) for i in range(DIM)]
    near = list(base)
    near[0] += 0.05
    ortho = [0.0] * DIM
    ortho[1] = 3.0  # base[1] == -1 -> negative cosine
    corpus = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho), (4, [0.5] * DIM)],
        "vec_id long, embedding array<float>",
    )
    probes = spark.createDataFrame(
        [(100, base)], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "ann")
    save_ann_index(corpus, path, n_planes=4, n_bands=4, dim=DIM)
    idx = load_ann_index(spark, path)
    got = {
        r["corpus_id"]: (r["n_probes"], r["max_sim"])
        for r in semantic_decontaminate(
            probes, idx, threshold=0.9
        ).collect()
    }
    assert got[1] == (1, 1.0)
    assert 1 in got and 2 in got and 3 not in got
    # filter form: anti-join removes exactly the flagged ids
    flagged = semantic_decontaminate(probes, idx, threshold=0.9).select(
        F.col("corpus_id").alias("vec_id")
    )
    kept = sorted(
        r["vec_id"]
        for r in corpus.join(flagged, "vec_id", "left_anti").collect()
    )
    assert kept == sorted(set([1, 2, 3, 4]) - set(got))
    with pytest.raises(ValueError, match="threshold"):
        semantic_decontaminate(probes, idx, threshold=0.0)


def test_first_build_crash_is_replayable(spark, tmp_path):
    """r13 review: same first-build crash window as the text index —
    the init meta keeps the root replayable."""
    emb = _emb(spark)
    path = str(tmp_path / "ann")
    with pytest.raises(RuntimeError, match="boom"):
        save_ann_index(
            emb, path, n_planes=4, n_bands=4, dim=DIM,
            on_before_commit=lambda seq: (_ for _ in ()).throw(
                RuntimeError("boom")
            ),
        )
    with pytest.raises(IOError, match="no committed data"):
        load_ann_index(spark, path)
    save_ann_index(emb, path, n_planes=4, n_bands=4, dim=DIM)
    assert load_ann_index(spark, path)["meta"]["generations"] == [
        "gen-000000000"
    ]


def test_dimension_guard_refuses_wrong_dim(spark, tmp_path):
    """r13 review: a wrong-dimension snapshot must REFUSE, not band
    silently into bucket 0 and persist a corrupted generation. The
    guard is a per-row CASE riding the existing checkpoints; its
    refusal names the operator and chains the Spark failure."""
    emb = _emb(spark)
    path = str(tmp_path / "ann")
    save_ann_index(
        emb.filter(F.col("vec_id") % 10 != 7), path,
        n_planes=4, n_bands=4, dim=DIM,
    )
    for n in (DIM // 2, DIM + 1):
        bad = spark.createDataFrame(
            [(9_000_001, [0.5] * n)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(
            ValueError, match="^extend_ann_index: vector dimension mismatch"
        ) as err:
            extend_ann_index(bad, path)
        assert "vector dimension" in str(err.value.__cause__)
    idx = load_ann_index(spark, path)
    assert len(idx["meta"]["generations"]) == 1  # nothing persisted
    with pytest.raises(
        ValueError, match="^knn_join_incremental: vector dimension mismatch"
    ):
        knn_join_incremental(bad, idx, k=5)
    # and the index itself still serves correctly
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    assert len(_rows(knn_join_incremental(snap, idx, k=5))) > 0


def test_planes_for_occupancy_formula():
    from hermod_spark.operators.similarity import planes_for_occupancy

    import pytest as _pt

    assert planes_for_occupancy(256, 1.0) == 8   # 256/2^8 = 1
    assert planes_for_occupancy(257, 1.0) == 9   # ceiling, not floor
    assert planes_for_occupancy(450, 2.0) == 8   # ceil(log2 225)
    assert planes_for_occupancy(1, 100.0) == 1   # floor of 1 plane
    assert planes_for_occupancy(10**12, 1e-9) == 30  # int-range cap
    with _pt.raises(ValueError, match="max_occupancy"):
        planes_for_occupancy(100, 0.0)


def test_compact_rebands_on_occupancy_and_serve_stays_exact(spark, tmp_path):
    """The r13 verdict's lead gate: occupancy-triggered re-banding
    inside compaction rotates the banding identity atomically, and the
    incremental serve over the re-banded index equals the full
    knn_join rebuild at the NEW plane count — then a post-re-band
    extend admits under the new identity and stays equal."""
    from hermod_spark.operators.similarity import (
        ann_occupancy,
        compact_ann_index,
        planes_for_occupancy,
    )

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") % 10 < 6)
    later = emb.filter((F.col("vec_id") % 10 >= 6) & (F.col("vec_id") % 10 != 7))
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    save_ann_index(corpus, path, n_planes=4, n_bands=4, dim=DIM)
    idx0 = load_ann_index(spark, path)
    n_corpus = corpus.count()
    assert idx0["meta"]["n_vectors"] == n_corpus
    occ0 = ann_occupancy(idx0)
    assert occ0["mean"] > 2.0  # 4 planes over ~300 vectors: saturated

    # force the re-band: target occupancy 2 ⇒ ceil(log2(n/2)) planes
    want_planes = planes_for_occupancy(n_corpus, 2.0)
    assert want_planes > 4
    assert compact_ann_index(path, spark, max_occupancy=2.0) == 1
    idx1 = load_ann_index(spark, path)
    assert idx1["meta"]["n_planes"] == want_planes
    assert idx1["meta"]["n_vectors"] == n_corpus
    assert idx1["meta"]["occupancy"]["measured_at_n"] == n_corpus
    assert idx1["meta"]["occupancy"]["n_planes"] == 4  # pre-reband stats

    # serve through the re-banded index == full rebuild at NEW planes
    got = _rows(knn_join_incremental(snap.unionByName(later), idx1, k=5))
    want = _rows(
        knn_join(emb, k=5, n_planes=want_planes, n_bands=4, dim=DIM).filter(
            (F.col("query_id") % 10 >= 6)
        )
    )
    assert got == want and len(want) > 0

    # extends after the rotation band under the NEW identity
    assert extend_ann_index(later, path) == later.count()
    idx2 = load_ann_index(spark, path)
    assert idx2["meta"]["n_planes"] == want_planes
    assert idx2["meta"]["n_vectors"] == n_corpus + later.count()
    got2 = _rows(knn_join_incremental(snap, idx2, k=5))
    want2 = _rows(
        knn_join(emb, k=5, n_planes=want_planes, n_bands=4, dim=DIM).filter(
            F.col("query_id") % 10 == 7
        )
    )
    assert got2 == want2 and len(want2) > 0

    # under-target compaction never re-bands (fold-only), still
    # records the measured stats
    assert compact_ann_index(path, spark, max_occupancy=1e9) == 2
    idx3 = load_ann_index(spark, path)
    assert idx3["meta"]["n_planes"] == want_planes
    assert idx3["meta"]["occupancy"]["measured_at_n"] == n_corpus + later.count()
    assert _rows(knn_join_incremental(snap, idx3, k=5)) == got2


def test_compact_reband_crash_window_replays(spark, tmp_path):
    """Crash between the re-banded generation write and the meta
    commit: the OLD identity and chain still serve (the orphan is
    unreferenced), and re-running the compaction heals to the exact
    never-crashed state."""
    from hermod_spark.operators.similarity import compact_ann_index

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    save_ann_index(corpus, path, n_planes=4, n_bands=4, dim=DIM)
    before = _rows(knn_join_incremental(snap, load_ann_index(spark, path), k=5))
    with pytest.raises(RuntimeError, match="boom"):
        compact_ann_index(
            path, spark, max_occupancy=2.0,
            on_before_commit=lambda seq: (_ for _ in ()).throw(
                RuntimeError("boom")
            ),
        )
    idx = load_ann_index(spark, path)
    assert idx["meta"]["n_planes"] == 4  # identity never rotated
    assert idx["meta"]["generations"] == ["gen-000000000"]
    assert _rows(knn_join_incremental(snap, idx, k=5)) == before
    # replay heals: one atomic swap rotates identity + data together
    assert compact_ann_index(path, spark, max_occupancy=2.0) == 1
    idx2 = load_ann_index(spark, path)
    assert idx2["meta"]["n_planes"] > 4
    got = _rows(knn_join_incremental(snap, idx2, k=5))
    want = _rows(
        knn_join(
            emb, k=5, n_planes=idx2["meta"]["n_planes"], n_bands=4, dim=DIM
        ).filter(F.col("query_id") % 10 == 7)
    )
    assert got == want and len(want) > 0


def test_ann_stream_maintenance_sink_exactly_once(spark, tmp_path):
    """foreachBatch ANN maintenance (VERDICT r13 #2): 3 micro-batches
    with batch 1 REDELIVERED and a poisoned commit mid-stream — the
    incremental serve over the streamed index equals the full
    knn_join rebuild (extend's id-idempotency makes at-least-once
    delivery exactly-once without a batch ledger), and intra-batch
    duplicate ids collapse."""
    from hermod_spark.operators.similarity import (
        ann_index_maintenance_sink,
    )

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    fn = ann_index_maintenance_sink(
        path, n_planes=4, n_bands=4, dim=DIM
    )
    b0 = corpus.filter(F.col("vec_id") % 3 == 0)
    fn(b0.unionByName(b0.limit(5)), 0)  # intra-batch dup ids collapse
    fn(corpus.filter(F.col("vec_id") % 3 == 1), 1)
    fn(corpus.filter(F.col("vec_id") % 3 == 1), 1)  # redelivery: no-op
    boom = ann_index_maintenance_sink(
        path, n_planes=4, n_bands=4, dim=DIM,
        on_before_commit=lambda seq: (_ for _ in ()).throw(
            RuntimeError("boom")
        ),
    )
    with pytest.raises(RuntimeError, match="boom"):
        boom(corpus.filter(F.col("vec_id") % 3 == 2), 2)
    fn(corpus.filter(F.col("vec_id") % 3 == 2), 2)
    idx = load_ann_index(spark, path)
    assert len(idx["meta"]["generations"]) == 3
    assert idx["meta"]["n_vectors"] == corpus.count()
    assert idx["vectors"].count() == corpus.count()  # no dup admits
    got = _rows(knn_join_incremental(snap, idx, k=5))
    assert got == _full_filtered(emb, F.col("query_id") % 10 == 7)


def test_ann_stream_maintenance_real_readstream(spark, tmp_path):
    """A real readStream → foreachBatch run over a json file source
    maintains the ANN index; the streamed index serves exactly."""
    import json as _json
    import os as _os

    from hermod_spark.operators.similarity import (
        ann_index_maintenance_sink,
    )

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    rows = corpus.collect()
    src = str(tmp_path / "src")
    _os.makedirs(src)
    per = (len(rows) + 2) // 3
    for i in range(3):
        with open(f"{src}/part{i}.json", "w") as fh:
            for r in rows[i * per : (i + 1) * per]:
                fh.write(_json.dumps(
                    {"vec_id": r["vec_id"],
                     "embedding": list(map(float, r["embedding"]))}
                ) + "\n")
    path = str(tmp_path / "ann")
    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            ann_index_maintenance_sink(path, n_planes=4, n_bands=4, dim=DIM)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    idx = load_ann_index(spark, path)
    assert idx["vectors"].count() == len(rows)
    got = _rows(knn_join_incremental(snap, idx, k=5))
    assert got == _full_filtered(emb, F.col("query_id") % 10 == 7)


def test_ann_sink_first_batch_crash_is_replayable(spark, tmp_path):
    """Batch-0 crash between gen-0 write and the first commit replays
    through the init meta (r13 first-build discipline, now exercised
    through the SINK path)."""
    from hermod_spark.operators.similarity import (
        ann_index_maintenance_sink,
    )

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    boom = ann_index_maintenance_sink(
        path, n_planes=4, n_bands=4, dim=DIM,
        on_before_commit=lambda seq: (_ for _ in ()).throw(
            RuntimeError("boom")
        ),
    )
    with pytest.raises(RuntimeError, match="boom"):
        boom(corpus, 0)
    with pytest.raises(IOError, match="no committed data"):
        load_ann_index(spark, path)
    fn = ann_index_maintenance_sink(path, n_planes=4, n_bands=4, dim=DIM)
    fn(corpus, 0)  # replay heals
    idx = load_ann_index(spark, path)
    got = _rows(knn_join_incremental(snap, idx, k=5))
    assert got == _full_filtered(emb, F.col("query_id") % 10 == 7)


def test_ann_sink_self_maintaining_compacts_and_rebands(spark, tmp_path):
    """compact_every + max_occupancy make the sink fully
    self-maintaining: the stream folds its own generation chain and
    rotates the banding identity mid-stream when occupancy outgrows
    it — later batches admit under the NEW identity and the final
    serve equals the full rebuild at the rotated plane count."""
    from hermod_spark.operators.similarity import (
        ann_index_maintenance_sink,
        planes_for_occupancy,
    )

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    snap = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ann")
    # compact after every 2nd batch; occupancy target low enough that
    # the first compaction must re-band
    fn = ann_index_maintenance_sink(
        path, n_planes=4, n_bands=4, dim=DIM,
        compact_every=2, max_occupancy=2.0,
    )
    for i in range(4):
        fn(corpus.filter(F.col("vec_id") % 4 == i), i)
    idx = load_ann_index(spark, path)
    n = corpus.count()
    # chain folded by the batch-3 compaction (batches 2,3 admitted
    # after the batch-1 fold -> fold again leaves ONE generation)
    assert len(idx["meta"]["generations"]) == 1
    assert idx["meta"]["n_vectors"] == n
    # identity rotated mid-stream; final planes match the formula for
    # the corpus size the LAST compaction measured (all 4 batches in)
    assert idx["meta"]["n_planes"] >= planes_for_occupancy(n // 2, 2.0)
    want_planes = idx["meta"]["n_planes"]
    got = _rows(knn_join_incremental(snap, idx, k=5))
    want = _rows(
        knn_join(emb, k=5, n_planes=want_planes, n_bands=4, dim=DIM).filter(
            F.col("query_id") % 10 == 7
        )
    )
    assert got == want and len(want) > 0
