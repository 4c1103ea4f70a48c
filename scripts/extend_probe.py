"""sf1 probe of the index MAINTENANCE paths (VERDICT r13 #6) plus the
re-banded-serve shape (VERDICT r13 #1 close-out).

The r13 scale table measures index SERVES; nothing measured the
extends. The O(snapshot) claim on every extend is that admitting a
fixed-size snapshot costs the same against a 10× corpus index as
against a 1× one — the existing corpus contributes only index-sized
scans (anti-join ids / band tables), never re-tokenized, re-banded, or
re-hashed corpus content. Protocol per family:

- 1× side: build the index on the sf0.1 corpus slice (id % 10 != 7),
  then time ONE extend of the sf0.1 snapshot (id % 10 == 7). Extends
  are timed once (a second run is an idempotent no-op by design).
- 10× side: build on the sf1 corpus slice, extend the SAME sf0.1
  snapshot (sf1 contains copy-0, so snapshot ids are absent from both
  indexes and fully admitted on both sides).
- flat ratio = t10/t1 — the O(snapshot) claim is ratio ≈ 1; anything
  approaching 10 is corpus-shaped work hiding in the extend.

Re-band shape probe: build the ANN index on the sf1 corpus at the
FIXED 4-plane build identity (the documented occupancy quadratic),
serve the sf1 snapshot through it, then let compaction's
occupancy-triggered re-band rotate the identity (max_occupancy=90 ⇒
ceil(log2(18000/90)) = 8 planes — the knn_join 4→8 scale path) and
serve again. The re-banded serve must come back toward the ~1.27×/row
shape the r13 table measured for re-banded knn_join — here reported as
the fixed/re-banded serve-time ratio plus candidate-volume counts.

Usage: python scripts/extend_probe.py [sf10_dir]   (default /tmp/hermod-sf1)
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF1X = "/root/testdata/sf0.1"


def main() -> None:
    sf10 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/hermod-sf1"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hermod_spark.data import table
    from hermod_spark.operators import dedup as D
    from hermod_spark.operators import fpindex as FPI
    from hermod_spark.operators import multimodal as MM
    from hermod_spark.operators import similarity as S
    from hermod_spark.operators import textindex as TI

    import __spark_entry__ as E

    def docs(sf):
        return table(spark, sf, "documents")

    def emb(sf):
        return table(spark, sf, "embeddings")

    rows = []

    def probe(name, build_fn, extend_fn):
        ts = {}
        for label, sf in (("1x", SF1X), ("10x", sf10)):
            root = tempfile.mkdtemp(prefix=f"hermod-probe-{name}-")
            path = os.path.join(root, "index")
            build_fn(sf, path)
            t0 = time.perf_counter()
            n = extend_fn(path)
            ts[label] = time.perf_counter() - t0
            print(
                f"# {name} {label}: extend {ts[label]:.2f}s admitted {n}",
                file=sys.stderr,
            )
        rows.append((name, ts["1x"], ts["10x"], ts["10x"] / ts["1x"]))

    snap_docs = docs(SF1X).filter(F.col("doc_id") % 10 == 7)
    snap_emb = emb(SF1X).filter(F.col("vec_id") % 10 == 7)

    probe(
        "extend_text_index",
        lambda sf, p: TI.build_text_index(
            docs(sf).filter(F.col("doc_id") % 10 != 7), p
        ),
        lambda p: TI.extend_text_index(snap_docs, p),
    )
    probe(
        "extend_ann_index",
        lambda sf, p: S.save_ann_index(
            emb(sf).filter(F.col("vec_id") % 10 != 7), p,
            n_planes=4, n_bands=8, dim=E._EMB_DIM,
        ),
        lambda p: S.extend_ann_index(snap_emb, p),
    )
    probe(
        "extend_dedup_index",
        lambda sf, p: D.save_dedup_index(
            docs(sf).filter(F.col("doc_id") % 10 != 7), p
        ),
        lambda p: D.extend_dedup_index(snap_docs, p),
    )
    probe(
        "extend_fp_index",
        lambda sf, p: FPI.save_fp_index(
            MM.synth_media_hashes(
                docs(sf).filter(F.col("doc_id") % 10 != 7)
            ),
            p,
        ),
        lambda p: FPI.extend_fp_index(
            MM.synth_media_hashes(snap_docs), p
        ),
    )

    print("| extend | t(1x index) s | t(10x index) s | flat ratio |")
    print("|---|---|---|---|")
    for name, t1, t10, r in rows:
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {r:.2f} |")

    # ---- re-band shape probe (VERDICT r13 #1 close-out) ----
    root = tempfile.mkdtemp(prefix="hermod-probe-reband-")
    path = os.path.join(root, "index")
    corpus10 = emb(sf10).filter(F.col("vec_id") % 10 != 7)
    snap10 = emb(sf10).filter(F.col("vec_id") % 10 == 7)
    S.save_ann_index(corpus10, path, n_planes=4, n_bands=8, dim=E._EMB_DIM)

    def serve_time():
        idx = S.load_ann_index(spark, path)
        best = float("inf")
        n = None
        for _ in range(2):
            t0 = time.perf_counter()
            n = S.knn_join_incremental(snap10, idx, k=E._TOPK).count()
            best = min(best, time.perf_counter() - t0)
        occ = S.ann_occupancy(idx)
        return best, n, occ

    t_fixed, n_fixed, occ_fixed = serve_time()
    folded = S.compact_ann_index(path, spark, max_occupancy=90.0)
    meta = S.load_ann_index(spark, path)["meta"]
    t_reband, n_reband, occ_reband = serve_time()
    print(
        f"\n# re-band: folded={folded} planes "
        f"{occ_fixed['n_planes']}->{meta['n_planes']} mean occupancy "
        f"{occ_fixed['mean']:.1f}->{occ_reband['mean']:.1f}"
    )
    print("| sf1 ANN serve (10x corpus, 10x snapshot) | best-of-2 s | rows |")
    print("|---|---|---|")
    print(f"| fixed 4-plane build identity | {t_fixed:.2f} | {n_fixed} |")
    print(f"| after occupancy-triggered re-band | {t_reband:.2f} | {n_reband} |")
    print(f"# serve speedup {t_fixed / t_reband:.2f}x")


if __name__ == "__main__":
    main()
