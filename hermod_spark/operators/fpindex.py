"""Persisted multimodal fingerprint index: near-dup serve without
re-hashing blobs.

``mm_image_neardup`` / ``mm_audio_neardup`` re-synthesize, re-decode,
and re-band every blob per run — fine for one ad-hoc audit, wrong at
100 TB where blob decode is the dominant cost and the FINGERPRINT is
the artifact (VERDICT r13 #3 gap: text and embedding near-dup already
serve from persisted indexes; the multimodal family did not). This
module persists the (id, fingerprint) table plus its pigeonhole band
table as delta generations under the shared atomic-meta machinery
(``hermod_spark.state`` — the text/ANN index layout), and serves
snapshot-vs-corpus near-dup pairs with only the SNAPSHOT hashed and
banded at serve time (the ``knn_join_incremental`` discipline).

Layout::

    <path>/_fp_index_meta.json    # generations, seq, identity:
                                  # (hash_bits, max_hamming), n_rows
    <path>/gen-NNNNNNNNN/hashes/  # (doc_id, fp)
    <path>/gen-NNNNNNNNN/bands/   # (doc_id, band, bits), clustered
                                  # by (band, bits)

Design notes, each a 100 TB posture:

- **The index stores fingerprints, never blobs.** A row is one id +
  ``hash_bits`` chars + (d+1) band rows of ~hash_bits/(d+1) chars —
  bytes per image/clip, so a billion-blob corpus indexes in GBs and
  the expensive Arrow decode runs exactly once per blob, at admit
  time.
- **EXACT serve, unlike the ANN index.** Pigeonhole banding is a
  complete filter for the ≤ d hamming ball (two hashes within d
  must agree on one of d+1 disjoint position groups), so the
  incremental serve equals the full ``ahash_neardup`` rebuild with no
  recall caveat — and there is no occupancy-triggered re-banding to
  automate: the band count is d+1 by the pigeonhole argument
  regardless of corpus size. (Bucket occupancy still grows with
  duplicate-heavy corpora; collapse exact-dup groups to
  representatives before admit — the ``ahash_dedup``-first funnel —
  exactly as the ad-hoc path recommends.)
- **Banding identity = (hash_bits, max_hamming).** Both live in the
  meta; a serve may ask for a SMALLER ``max_hamming`` (the ≤ d' ball
  is inside the ≤ d ball the bands are complete for) but never a
  larger one — refused, because pairs at hamming in (d, d'] can
  disagree on every persisted band.
- **Deltas, extends, crash windows, sink**: verbatim the
  ``textindex``/``similarity`` machinery — id-disjoint generations,
  anti-join admit (idempotent ⇒ the maintenance sink is exactly-once
  without a batch ledger), init-meta first-build discipline, single
  writer, retention for the reader-staleness window.

The banding and hamming expressions are imported from
``multimodal.pigeonhole_bands`` / ``multimodal.hamming_expr`` — one
body behind the ad-hoc join and the persisted index, pinned by a
parity test.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hermod_spark import state as S
from hermod_spark.data import checkpoint_guarded
from hermod_spark.operators.multimodal import hamming_expr, pigeonhole_bands

_META = "_fp_index_meta.json"
_CTX = "fingerprint index"
_EMPTY = {"generations": [], "seq": -1}


_FP_LEN_MARK = "fingerprint length"


def _clean(
    hashed: DataFrame, hash_bits: int, id_col: str, hash_col: str
) -> DataFrame:
    """(doc_id, fp) from a hasher output frame. Decode FAILURES
    (decode_ok false / null hash) drop silently — the hasher contract.
    A NON-null hash of the wrong length is a different thing entirely:
    hashers emit null for corrupt blobs, so a wrong length is always a
    configuration mismatch (e.g. a 32-bit audio fingerprint admitted
    into a 64-bit index) and silently dropping it would commit an
    empty/stale index with no signal (r14 review — the ANN dim-guard
    argument). Per-row raise_error CASE, riding the checkpoints the
    admit paths already perform."""
    h = (
        hashed.filter(F.col("decode_ok"))
        if "decode_ok" in hashed.columns
        else hashed
    )
    guarded = (
        F.when(F.length(hash_col) == hash_bits, F.col(hash_col))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"fp index: {_FP_LEN_MARK} "),
                    F.length(hash_col).cast("string"),
                    F.lit(f" != index hash_bits {hash_bits}"),
                )
            )
        )
    )
    return h.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), guarded.alias("fp")
    )


_FP_LEN_REFUSAL = (
    f"{_FP_LEN_MARK} mismatch — non-null hashes must match the index's "
    f"hash_bits (see the error cause for the offending length)"
)


def _components(clean: DataFrame, meta: dict) -> tuple[DataFrame, DataFrame]:
    """(bands, hashes) for one id-disjoint admitted batch."""
    bands = pigeonhole_bands(
        clean, meta["hash_bits"], meta["max_hamming"] + 1, "doc_id", "fp"
    ).select("doc_id", "band", "bits")
    return bands, clean


def _write_generation(
    spark: SparkSession, root: str, gen: str, bands: DataFrame,
    hashes: DataFrame,
) -> None:
    """One immutable generation dir; bands cluster by (band, bits) —
    the serve-side join key — so row-group stats prune a
    band-filtered read. mode=overwrite because a crashed prior
    attempt of the SAME seq may have left an unreferenced orphan."""
    gdir = os.path.join(root, gen)
    (
        bands.repartition(F.col("band"), F.col("bits"))
        .sortWithinPartitions("band", "bits")
        .write.mode("overwrite")
        .parquet(os.path.join(gdir, "bands"))
    )
    hashes.write.mode("overwrite").parquet(os.path.join(gdir, "hashes"))


def save_fp_index(
    hashed: DataFrame,
    path: str,
    *,
    hash_bits: int = 64,
    max_hamming: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
    on_before_commit: Callable[[int], None] | None = None,
) -> None:
    """Create the index at ``path`` from a hasher output frame (e.g.
    ``image_ahash`` / ``audio_fingerprint`` — any (id, hash,
    decode_ok) source; the index is hash-source agnostic like the
    banding it persists). Init meta, generation 0, meta commit — the
    init meta makes a first-build crash replayable. Refuses over an
    existing committed index (:func:`extend_fp_index` admits more)."""
    if hash_bits < max_hamming + 1:
        raise ValueError(
            f"fp index: hash_bits={hash_bits} < {max_hamming + 1} bands"
        )
    spark = hashed.sparkSession
    meta = S.read_meta(spark, path, _META, _CTX, _EMPTY)
    if meta["generations"]:
        raise IOError(
            f"fp index at {path!r} already has committed generations "
            f"{meta['generations']} — extend_fp_index admits new rows"
        )
    meta = {
        "generations": [S.gen_name(0)],
        "seq": 0,
        "hash_bits": hash_bits,
        "max_hamming": max_hamming,
    }
    S.write_meta(spark, path, _META, {**meta, "generations": [], "seq": -1})
    # checkpoint ONCE: the Arrow decode+hash chain upstream is the
    # expensive pass, and bands + hashes + count must come from one
    # materialization (the extend discipline; r14 review — without
    # this the build hashed every blob twice and a mutating source
    # could commit disagreeing components). The length guard fires
    # here as ValueError, before any generation write.
    clean = checkpoint_guarded(
        _clean(hashed, hash_bits, id_col, hash_col),
        "save_fp_index", (_FP_LEN_MARK,), _FP_LEN_REFUSAL,
    )
    bands, hashes = _components(clean, meta)
    _write_generation(spark, path, S.gen_name(0), bands, hashes)
    n0 = clean.count()
    if on_before_commit is not None:
        on_before_commit(0)
    S.write_meta(spark, path, _META, {**meta, "n_rows": int(n0)})


def load_fp_index(spark: SparkSession, path: str) -> dict:
    """{"bands", "hashes", "meta", "path"} over the committed
    generation chain (generations are id-disjoint; the union IS the
    index)."""
    meta = S.read_meta(spark, path, _META, _CTX, _EMPTY)
    if not meta["generations"]:
        raise IOError(f"fp index at {path!r} has no committed data")
    bdirs = [os.path.join(path, g, "bands") for g in meta["generations"]]
    hdirs = [os.path.join(path, g, "hashes") for g in meta["generations"]]
    return {
        "bands": spark.read.parquet(*bdirs),
        "hashes": spark.read.parquet(*hdirs),
        "meta": meta,
        "path": path,
    }


def extend_fp_index(
    new_hashed: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
    on_before_commit: Callable[[int], None] | None = None,
) -> int:
    """Admit a snapshot: hash rows NEW to the index band into one
    delta generation (anti-join on the index's id table — index-sized,
    never re-banding the corpus). Idempotent under crash-re-run and
    redelivery exactly like ``textindex.extend_text_index``; SINGLE
    WRITER per index. Returns the number of rows added. The cleaned
    anti-joined snapshot is checkpointed ONCE so the count and both
    generation writes share one materialization (the ADVICE r13
    discipline)."""
    spark = new_hashed.sparkSession
    idx = load_fp_index(spark, path)
    meta = idx["meta"]
    fresh = checkpoint_guarded(
        _clean(new_hashed, meta["hash_bits"], id_col, hash_col)
        .join(idx["hashes"].select("doc_id"), "doc_id", "left_anti"),
        "extend_fp_index", (_FP_LEN_MARK,), _FP_LEN_REFUSAL,
    )
    bands, hashes = _components(fresh, meta)
    n_added = fresh.count()
    if n_added == 0:
        return 0  # full redelivery: no empty generation, no commit
    seq = meta["seq"] + 1
    gen = S.gen_name(seq)
    _write_generation(spark, path, gen, bands, hashes)
    if on_before_commit is not None:
        on_before_commit(seq)
    n_before = meta.get("n_rows")
    if n_before is None:  # legacy meta: upgrade once
        n_before = idx["hashes"].count()
    S.write_meta(
        spark,
        path,
        _META,
        {
            **meta,
            "generations": meta["generations"] + [gen],
            "seq": seq,
            "n_rows": int(n_before) + int(n_added),
        },
    )
    return n_added


def fp_index_maintenance_sink(
    path: str,
    *,
    hash_bits: int = 64,
    max_hamming: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
    compact_every: int | None = None,
    retain: int = 0,
    on_before_commit: Callable[[int], None] | None = None,
):
    """foreachBatch function maintaining the fingerprint index as
    hashed rows STREAM in — exactly-once without a batch ledger via
    extend's id-idempotency (the ``text_index_maintenance_sink``
    argument verbatim). The first batch creates the index; the
    banding identity args apply only then. Intra-batch duplicate ids
    collapse keep-any. ``compact_every=N`` folds the chain after
    every Nth batch (the self-maintaining-sink rule shared by all
    three index sinks); ``retain`` is the fold's reader-staleness
    window."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([id_col])
        if batch.isEmpty():
            return  # stay virgin until the first row (the ANN sink rule)
        meta = S.read_meta(spark, path, _META, _CTX, _EMPTY)
        if not meta["generations"]:
            save_fp_index(
                batch, path, hash_bits=hash_bits, max_hamming=max_hamming,
                id_col=id_col, hash_col=hash_col,
                on_before_commit=on_before_commit,
            )
        else:
            extend_fp_index(
                batch, path, id_col=id_col, hash_col=hash_col,
                on_before_commit=on_before_commit,
            )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_fp_index(path, spark, retain=retain)

    return _fn


def compact_fp_index(
    path: str, spark: SparkSession, *, retain: int = 0
) -> int:
    """Fold the generation chain into one generation — the
    ``compact_text_index`` contract including the ``retain``
    reader-staleness window. No re-banding lever here: the band count
    is max_hamming+1 by the pigeonhole argument at every corpus size."""
    idx = load_fp_index(spark, path)
    meta = idx["meta"]
    if len(meta["generations"]) <= 1:
        S.prune_generations(
            spark, path, 1 + max(0, retain),
            protect=set(meta["generations"]),
        )
        return 0
    seq = meta["seq"] + 1
    gen = S.gen_name(seq)
    _write_generation(spark, path, gen, idx["bands"], idx["hashes"])
    S.write_meta(
        spark, path, _META, {**meta, "generations": [gen], "seq": seq}
    )
    S.prune_generations(spark, path, 1 + max(0, retain), protect={gen})
    return len(meta["generations"])


def distinct_hash_neardup_pairs(
    index: dict, *, max_hamming: int | None = None
) -> DataFrame:
    """(fp_a, fp_b, hamming) for every DISTINCT-hash pair within the
    indexed corpus at hamming ≤ d — computed from the persisted band
    and hash tables alone (zero hashing, zero banding at serve).

    Identical hashes band identically, so deduping the persisted band
    rows at the hash level gives exactly the pigeonhole banding of the
    distinct hashes — still a complete filter for the ≤ d ball. Each
    distinct-hash pair corresponds to exactly one pair of exact-dup
    group REPRESENTATIVES, which is the funnel semantics
    (``multimodal.hash_dedup_metrics``: collapse exact groups first,
    band the reps)."""
    meta = index["meta"]
    d = meta["max_hamming"] if max_hamming is None else max_hamming
    if d > meta["max_hamming"]:
        raise ValueError(
            f"distinct_hash_neardup_pairs: max_hamming={d} exceeds the "
            f"index's built radius {meta['max_hamming']}"
        )
    # checkpoint ONCE (the self-join would otherwise recompute the
    # join+distinct on BOTH sides), then force the expansion wide —
    # the ahash_neardup trap verbatim: on a small hash set AQE's
    # byte-based coalesce sees a tiny pre-join shuffle and serializes
    # the quadratic in-bucket expansion onto one task (measured here:
    # 7.5 s single-task vs 0.6 s at cores×8 on the 4.7k-hash sf0.1
    # corpus, whose padding-skewed buckets run to ~600 hashes)
    hb = (
        index["bands"]
        .join(index["hashes"], "doc_id")
        .select("fp", "band", "bits")
        .distinct()
        .localCheckpoint()
    )
    cores = hb.sparkSession.sparkContext.defaultParallelism
    n = hb.count()
    if n < cores * 4096:
        hb = hb.repartition(min(cores * 8, max(n, 1)), "band", "bits")
    pairs = (
        hb.alias("a")
        .join(
            hb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", hamming_expr("fp_a", "fp_b", meta["hash_bits"])
        )
        .filter(F.col("hamming") <= d)
    )


def dedup_report_indexed(indexes: dict) -> DataFrame:
    """(metric, value) corpus-health report computed ENTIRELY from
    persisted fingerprint indexes — ``{modality}_n_items`` (hashed
    rows), ``{modality}_exact_removable`` (rows minus distinct
    hashes — what exact collapse deletes), ``{modality}_near_pairs``
    (distinct-hash pairs at the built radius ≡ the funnel's
    rep-level pair count). ``indexes`` maps modality name →
    :func:`load_fp_index` result.

    The 100 TB point of the indexed report: ``mm_dedup_report``
    re-decodes and re-hashes every blob per run, which is the
    dominant cost of a multimodal corpus audit; this serves the same
    numbers from index-sized tables (id + hash_bits chars per row),
    so the daily corpus-health panel never touches a blob (plan-gated
    in tests: zero Python stages)."""
    legs = []
    for modality in sorted(indexes):
        idx = indexes[modality]
        h = idx["hashes"]
        legs.append(
            h.agg(F.count(F.lit(1)).cast("long").alias("value")).select(
                F.lit(f"{modality}_n_items").alias("metric"), "value"
            )
        )
        legs.append(
            h.agg(
                (F.count(F.lit(1)) - F.count_distinct("fp"))
                .cast("long")
                .alias("value")
            ).select(
                F.lit(f"{modality}_exact_removable").alias("metric"),
                "value",
            )
        )
        legs.append(
            distinct_hash_neardup_pairs(idx)
            .agg(F.count(F.lit(1)).cast("long").alias("value"))
            .select(
                F.lit(f"{modality}_near_pairs").alias("metric"), "value"
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def neardup_pairs_incremental(
    new_hashed: DataFrame,
    index: dict,
    *,
    max_hamming: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
) -> DataFrame:
    """Near-duplicate pairs TOUCHING the snapshot over (corpus ∪
    snapshot) through the persisted index — bit-identical to
    ``ahash_neardup(corpus ∪ snapshot)`` restricted to pairs with at
    least one snapshot id (EXACT, because pigeonhole banding is a
    complete filter for the ≤ d ball), but the only hashing and
    banding computed is the SNAPSHOT's:

    - the snapshot bands come from one scan-side projection over the
      checkpointed anti-joined snapshot (ids already indexed drop —
      they are the corpus; keeping them would duplicate band rows);
    - the corpus contributes its PERSISTED band rows (id + band +
      ~13-char bits) to the candidate equi-join and its hash rows to
      the verify join — index-sized scans, no blob is ever touched;
    - candidates dedup on BARE id pairs before the single hash
      rehydration join (the `knn_join_incremental` ids-only shuffle
      discipline), then the exact JVM hamming verifies each pair.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, hamming ≤ d.
    ``max_hamming`` may narrow the built radius, never widen it."""
    meta = index["meta"]
    d = meta["max_hamming"] if max_hamming is None else max_hamming
    if d > meta["max_hamming"]:
        raise ValueError(
            f"neardup_pairs_incremental: max_hamming={d} exceeds the "
            f"index's built radius {meta['max_hamming']} — persisted "
            f"bands are only a complete filter up to the built radius"
        )
    snap = checkpoint_guarded(
        _clean(new_hashed, meta["hash_bits"], id_col, hash_col)
        .join(index["hashes"].select("doc_id"), "doc_id", "left_anti"),
        "neardup_pairs_incremental", (_FP_LEN_MARK,), _FP_LEN_REFUSAL,
    )
    snap_bands = pigeonhole_bands(
        snap, meta["hash_bits"], meta["max_hamming"] + 1, "doc_id", "fp"
    ).select("doc_id", "band", "bits")
    all_bands = index["bands"].unionByName(snap_bands)
    pairs = (
        snap_bands.alias("a")
        .join(
            all_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    all_hashes = index["hashes"].unionByName(snap)
    ha = all_hashes.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("ha")
    )
    hb = all_hashes.select(
        F.col("doc_id").alias("doc_b"), F.col("fp").alias("hb")
    )
    return (
        pairs.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("hamming", hamming_expr("ha", "hb", meta["hash_bits"]))
        .filter(F.col("hamming") <= d)
        .select("doc_a", "doc_b", "hamming")
    )
