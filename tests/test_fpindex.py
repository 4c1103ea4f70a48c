"""Persisted multimodal fingerprint index (VERDICT r13 #5).

The gate: the incremental near-dup serve equals the full
``ahash_neardup`` rebuild on (corpus ∪ snapshot) restricted to pairs
touching the snapshot — EXACTLY (pigeonhole banding is complete for
the ≤ d ball), extend is crash-safe and idempotent, the sink is
exactly-once, and the serve never re-hashes or re-bands the corpus.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from hermod_spark.operators.fpindex import (
    compact_fp_index,
    extend_fp_index,
    fp_index_maintenance_sink,
    load_fp_index,
    neardup_pairs_incremental,
    save_fp_index,
)
from hermod_spark.operators.multimodal import ahash_neardup

BITS = 64
D = 4


def _hashes(spark, n=120, seed=7):
    """(doc_id, ahash, decode_ok) with planted near-dup structure:
    ids 3k/3k+1 differ in ≤4 bits (pairs), 3k+2 is random; a decode
    failure is planted to exercise the silent-drop contract (a
    wrong-LENGTH non-null hash is a loud ValueError instead — see
    test_wrong_length_hash_is_loud)."""
    rng = random.Random(seed)
    rows = []
    for k in range(n // 3):
        base = [rng.choice("01") for _ in range(BITS)]
        rows.append((3 * k, "".join(base), True))
        near = list(base)
        for p in rng.sample(range(BITS), rng.randint(0, D)):
            near[p] = "1" if near[p] == "0" else "0"
        rows.append((3 * k + 1, "".join(near), True))
        rows.append(
            (3 * k + 2, "".join(rng.choice("01") for _ in range(BITS)), True)
        )
    rows.append((9_000_001, None, False))        # decode failure: drops
    return spark.createDataFrame(
        rows, "doc_id long, ahash string, decode_ok boolean"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _full_touching(all_hashed, snap_ids, d=D):
    full = ahash_neardup(all_hashed, max_hamming=d, hash_bits=BITS)
    return _rows(
        full.filter(
            F.col("doc_a").isin(snap_ids) | F.col("doc_b").isin(snap_ids)
        )
    )


def test_incremental_equals_full_rebuild_exactly(spark, tmp_path):
    h = _hashes(spark)
    corpus = h.filter(F.col("doc_id") % 10 != 7)
    snap = h.filter(F.col("doc_id") % 10 == 7)
    snap_ids = [r["doc_id"] for r in snap.collect()]
    path = str(tmp_path / "fp")
    save_fp_index(corpus, path, hash_bits=BITS, max_hamming=D)
    idx = load_fp_index(spark, path)
    assert idx["meta"]["n_rows"] == corpus.filter(
        F.col("decode_ok")
    ).count()
    got = _rows(neardup_pairs_incremental(snap, idx))
    want = _full_touching(h, snap_ids)
    assert got == want and len(want) > 0
    # narrower radius serves (subset ball); wider refused
    got2 = _rows(neardup_pairs_incremental(snap, idx, max_hamming=2))
    want2 = [p for p in want if p[2] <= 2]
    assert got2 == want2
    with pytest.raises(ValueError, match="built radius"):
        neardup_pairs_incremental(snap, idx, max_hamming=D + 1)
    # snapshot ids already indexed drop (corpus redelivery on the
    # serve side must not duplicate pairs)
    got3 = _rows(neardup_pairs_incremental(snap.unionByName(corpus), idx))
    assert got3 == got


def test_extend_crash_window_and_idempotency(spark, tmp_path):
    h = _hashes(spark)
    part_a = h.filter(F.col("doc_id") % 3 == 0)
    part_b = h.filter((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 10 != 7))
    snap = h.filter((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 10 == 7))
    path = str(tmp_path / "fp")
    save_fp_index(part_a, path, hash_bits=BITS, max_hamming=D)
    with pytest.raises(RuntimeError, match="boom"):
        extend_fp_index(
            part_b, path,
            on_before_commit=lambda seq: (_ for _ in ()).throw(
                RuntimeError("boom")
            ),
        )
    idx = load_fp_index(spark, path)
    assert idx["meta"]["generations"] == ["gen-000000000"]
    # replay heals; redelivery admits nothing
    n = extend_fp_index(part_b, path)
    assert n == part_b.filter(
        F.col("decode_ok")
    ).count()
    assert extend_fp_index(part_b, path) == 0
    idx = load_fp_index(spark, path)
    assert len(idx["meta"]["generations"]) == 2
    union = part_a.unionByName(part_b).unionByName(snap)
    snap_ids = [r["doc_id"] for r in snap.collect()]
    got = _rows(neardup_pairs_incremental(snap, idx))
    assert got == _full_touching(union, snap_ids)
    # vanished meta over committed generations refuses
    os.remove(os.path.join(path, "_fp_index_meta.json"))
    with pytest.raises(IOError, match="refusing to restart"):
        load_fp_index(spark, path)


def test_sink_exactly_once_and_compact(spark, tmp_path):
    from hermod_spark.operators.multimodal import ahash_dedup

    h = _hashes(spark)
    corpus = h.filter(F.col("doc_id") % 10 != 7)
    snap = h.filter(F.col("doc_id") % 10 == 7)
    snap_ids = [r["doc_id"] for r in snap.collect()]
    path = str(tmp_path / "fp")
    fn = fp_index_maintenance_sink(path, hash_bits=BITS, max_hamming=D)
    b0 = corpus.filter(F.col("doc_id") % 3 == 0)
    fn(b0.unionByName(b0.limit(5)), 0)  # intra-batch dups collapse
    fn(corpus.filter(F.col("doc_id") % 3 == 1), 1)
    fn(corpus.filter(F.col("doc_id") % 3 == 1), 1)  # redelivery no-op
    boom = fp_index_maintenance_sink(
        path, hash_bits=BITS, max_hamming=D,
        on_before_commit=lambda seq: (_ for _ in ()).throw(
            RuntimeError("boom")
        ),
    )
    with pytest.raises(RuntimeError, match="boom"):
        boom(corpus.filter(F.col("doc_id") % 3 == 2), 2)
    fn(corpus.filter(F.col("doc_id") % 3 == 2), 2)
    idx = load_fp_index(spark, path)
    assert len(idx["meta"]["generations"]) == 3
    clean_n = corpus.filter(
        F.col("decode_ok")
    ).count()
    assert idx["meta"]["n_rows"] == clean_n
    assert idx["hashes"].count() == clean_n
    want = _full_touching(h, snap_ids)
    assert _rows(neardup_pairs_incremental(snap, idx)) == want
    # compaction folds; serve unchanged; retention collects next run
    assert compact_fp_index(path, spark, retain=1) == 3
    gens = [g for g in os.listdir(path) if g.startswith("gen-")]
    assert len(gens) == 2  # live + 1 retained
    idx2 = load_fp_index(spark, path)
    assert len(idx2["meta"]["generations"]) == 1
    assert _rows(neardup_pairs_incremental(snap, idx2)) == want
    assert compact_fp_index(path, spark) == 0
    gens = [g for g in os.listdir(path) if g.startswith("gen-")]
    assert len(gens) == 1
    # the hashes table composes with the shared dedup stage
    assert ahash_dedup(
        idx2["hashes"], hash_col="fp"
    ).count() == clean_n


def test_serve_plan_never_rehashes_corpus(spark, tmp_path):
    """The serve plan over a LOCAL pre-hashed snapshot must contain
    no Python stage (no blob decode — MapInPandas absent) and no
    cartesian product; the corpus contributes only parquet scans."""
    h = _hashes(spark)
    path = str(tmp_path / "fp")
    save_fp_index(
        h.filter(F.col("doc_id") % 10 != 7), path,
        hash_bits=BITS, max_hamming=D,
    )
    idx = load_fp_index(spark, path)
    snap = h.filter(F.col("doc_id") % 10 == 7)
    served = neardup_pairs_incremental(snap, idx)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_first_build_crash_is_replayable(spark, tmp_path):
    h = _hashes(spark)
    path = str(tmp_path / "fp")
    with pytest.raises(RuntimeError, match="boom"):
        save_fp_index(
            h, path, hash_bits=BITS, max_hamming=D,
            on_before_commit=lambda seq: (_ for _ in ()).throw(
                RuntimeError("boom")
            ),
        )
    with pytest.raises(IOError, match="no committed data"):
        load_fp_index(spark, path)
    # replay through the sink path heals (build ≡ extend on virgin)
    fn = fp_index_maintenance_sink(path, hash_bits=BITS, max_hamming=D)
    fn(h, 0)
    idx = load_fp_index(spark, path)
    assert idx["hashes"].count() > 0


def test_wrong_length_hash_is_loud(spark, tmp_path):
    """r14 review: a NON-null hash of the wrong length is a config
    mismatch (hashers emit null for corrupt blobs), and silently
    dropping it would commit an empty/stale index with no signal —
    save, extend, and serve all refuse with a ValueError that names
    the operator and chains the Spark failure; decode failures (null
    hash) still drop silently."""
    good = _hashes(spark, n=30)
    bad = spark.createDataFrame(
        [(8_000_001, "1" * 32, True)],
        "doc_id long, ahash string, decode_ok boolean",
    )
    path = str(tmp_path / "fp")
    with pytest.raises(
        ValueError, match="^save_fp_index: fingerprint length mismatch"
    ):
        save_fp_index(
            good.unionByName(bad), path, hash_bits=BITS, max_hamming=D
        )
    save_fp_index(good, path, hash_bits=BITS, max_hamming=D)
    with pytest.raises(
        ValueError, match="^extend_fp_index: fingerprint length mismatch"
    ) as err:
        extend_fp_index(bad, path)
    assert "fingerprint length" in str(err.value.__cause__)
    idx = load_fp_index(spark, path)
    assert len(idx["meta"]["generations"]) == 1  # nothing persisted
    with pytest.raises(
        ValueError, match="^neardup_pairs_incremental: fingerprint length"
    ):
        neardup_pairs_incremental(bad, idx).count()
    # a mixed frame whose wrong-length rows are decode FAILURES is
    # fine — null hashes drop before the guard
    nulls = spark.createDataFrame(
        [(8_000_002, None, False)],
        "doc_id long, ahash string, decode_ok boolean",
    )
    assert extend_fp_index(nulls, path) == 0


def test_fp_sink_skips_empty_batches(spark, tmp_path):
    """An empty micro-batch before the first data leaves the root
    virgin (no empty gen-0, no crash-loop) — the ANN sink rule."""
    path = str(tmp_path / "fp")
    fn = fp_index_maintenance_sink(path, hash_bits=BITS, max_hamming=D)
    empty = spark.createDataFrame(
        [], "doc_id long, ahash string, decode_ok boolean"
    )
    fn(empty, 0)
    with pytest.raises(IOError, match="no committed data"):
        load_fp_index(spark, path)
    h = _hashes(spark, n=30)
    fn(h, 1)
    assert load_fp_index(spark, path)["hashes"].count() == h.filter(
        F.col("decode_ok")
    ).count()


def test_fp_sink_self_maintaining_compacts(spark, tmp_path):
    from hermod_spark.operators.multimodal import ahash_neardup

    h = _hashes(spark)
    corpus = h.filter(F.col("doc_id") % 10 != 7)
    snap = h.filter(F.col("doc_id") % 10 == 7)
    snap_ids = [r["doc_id"] for r in snap.collect()]
    path = str(tmp_path / "fp")
    fn = fp_index_maintenance_sink(
        path, hash_bits=BITS, max_hamming=D, compact_every=2
    )
    for i in range(4):
        fn(corpus.filter(F.col("doc_id") % 4 == i), i)
    idx = load_fp_index(spark, path)
    assert len(idx["meta"]["generations"]) == 1
    assert idx["hashes"].count() == corpus.filter(F.col("decode_ok")).count()
    assert _rows(neardup_pairs_incremental(snap, idx)) == _full_touching(
        h, snap_ids
    )


def test_indexed_report_matches_blob_report_and_never_decodes(spark, tmp_path):
    """dedup_report_indexed serves the funnel metrics from persisted
    tables: values equal hash_dedup_metrics over the same hashes, and
    the serve plan contains zero Python stages (no blob decode)."""
    from hermod_spark.operators.fpindex import dedup_report_indexed
    from hermod_spark.operators.multimodal import hash_dedup_metrics

    h = _hashes(spark)
    path = str(tmp_path / "fp")
    save_fp_index(h, path, hash_bits=BITS, max_hamming=D)
    idx = load_fp_index(spark, path)
    report = dedup_report_indexed({"img": idx})
    got = {r["metric"]: r["value"] for r in report.collect()}
    legs = hash_dedup_metrics(h, "img", hash_col="ahash")
    want = {}
    for leg in legs:
        for r in leg.collect():
            want[r["metric"]] = r["value"]
    assert got["img_exact_removable"] == want["img_exact_removable"]
    assert got["img_near_pairs"] == want["img_near_pairs"]
    assert got["img_n_items"] == h.filter(F.col("decode_ok")).count()
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
