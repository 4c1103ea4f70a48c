"""Deduplication operators over the ``documents`` table.

Four families, all shaped for 100 TB:

- **exact**: hash-key dedup. The key is either ``md5(text)`` (byte
  exact) or the canonical word-set fingerprint
  (hermod_spark.functions.text.fingerprint — whitespace/order/dup
  insensitive). One shuffle on the hash key; keys are uniform so no
  skew; `row_number` picks the deterministic survivor (min doc_id).
- **MinHash + LSH banding**: shingle → universal-hash min per seed →
  band keys → bucketed pair expansion. NEVER all-pairs: candidates
  come from grouping on (band_id, band_key). Hashes are
  (a_i·md5_32(x)+b_i) mod P with fixed-seed constants so every
  engine — and the DuckDB oracle — computes identical signatures.
- **SimHash**: 60-bit sign-sum fingerprint; hamming-close pairs are
  near-dups. Token hash = md5-prefix integer, bit sums as one native
  grouped aggregation (no Python), banding the 60 bits into 4
  15-bit keys gives the same bucket-join shape as MinHash.
- **n-gram Jaccard**: exact verification scorer for candidate pairs
  (runs AFTER LSH pruning, never on the cross product).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hermod_spark.data import ensure_min_partitions
from hermod_spark.functions.text import fingerprint, tokens
from hermod_spark.state import hadoop_fs


def exact_key(col: Column | str, *, canonical: bool = False) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return fingerprint(c) if canonical else F.md5(c)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    canonical: bool = False,
) -> DataFrame:
    """Keep one deterministic survivor (min id) per content key.

    `row_number` over (key, id) — one shuffle, map-side-combinable
    nothing (windows don't partial-agg) but the key space is ~|docs| so
    partitions stay balanced at any scale."""
    w = Window.partitionBy("_key").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_key", exact_key(text_col, canonical=canonical))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_key")
    )


def duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, canonical: bool = True
) -> DataFrame:
    """Groups with >1 member: (key, n_docs, min_doc_id). groupBy, so
    partial aggregation halves the shuffle at scale."""
    return (
        df.select(exact_key(text_col, canonical=canonical).alias("dup_key"), F.col(id_col))
        .groupBy("dup_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )
    # no trailing orderBy: a global sort of an O(groups) result is a
    # range shuffle that buys nothing — consumers sort if they need to


# ---------------------------------------------------------------- MinHash/LSH


def shingles(col: Column | str, w: int = 3) -> Column:
    """Word w-shingles as an array; docs shorter than w words get their
    whole token array as one shingle.

    The token array is bound ONCE via the single-element-array lambda
    trick (``transform(array(toks), t -> ...)``): Catalyst's projection
    collapse would otherwise re-inline the tokenizer (a regex split of
    the full document) into every per-shingle slice — measured ~50×
    redundant tokenization per document at w=3."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))

    def _from_tokens(t: Column) -> Column:
        return F.when(F.size(t) < w, F.array(F.concat_ws(" ", t))).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - w + 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, F.lit(w))),
            )
        )

    return F.flatten(F.transform(F.array(toks), _from_tokens))


# Universal-hash family h_i(x) = (a_i * base(x) + b_i) mod P over the
# 32-bit md5-prefix base hash. ONE md5 per shingle + num_hashes cheap
# long-affine transforms — vs num_hashes md5 calls, this cuts both the
# generated-code size (JIT-stable) and the agg to long mins. Constants
# are fixed-seed so every engine (and the DuckDB oracle) reproduces the
# signature exactly; products stay < 2^63 (a < 2^31, base < 2^32).
MINHASH_P = 4294967291  # largest prime < 2^32
_rng = __import__("random").Random(42)
MINHASH_A = [_rng.randrange(1, 1 << 31) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, 1 << 31) for _ in range(64)]


def _base_hash(col: Column) -> Column:
    """Shingle → uniform 32-bit integer: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _affine(h: Column, i: int) -> Column:
    return (F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)


def minhash_signature(col: Column | str, num_hashes: int = 16, w: int = 3) -> Column:
    """Array of ``num_hashes`` min-hash values (longs), one per
    universal-hash function.

    The hashed-shingle array is bound ONCE via the single-element-array
    lambda trick (same as `shingles`): referencing it directly from the
    ``num_hashes`` min folds lets projection collapse re-inline the
    whole tokenizer+md5 pipeline 16× — minutes of codegen and 16×
    per-row tokenization (the r8 dedup_lsh_incremental timeout)."""
    sh = shingles(col, w)
    hashed = F.transform(sh, _base_hash)

    def make(i: int):
        # single-arg lambda: PySpark passes the element index to a
        # second parameter, so a `lambda h, i=i` would be fed (h, idx)
        return lambda h: _affine(h, i)

    def _mins(h: Column) -> Column:
        return F.array(
            *[F.array_min(F.transform(h, make(i))) for i in range(num_hashes)]
        )

    return F.transform(F.array(hashed), _mins)[0]


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Band the signature: band key b_j = md5 of rows j*r..j*r+r-1.
    Equal band key ⇒ candidate pair."""
    keys = [
        F.md5(F.concat_ws("|", *[F.element_at(sig, j * rows + r + 1) for r in range(rows)]))
        for j in range(bands)
    ]
    return F.array(*keys)


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
) -> DataFrame:
    """(_id, band_id, band_key) rows via explode → N min-aggregates.

    Shape chosen for scale AND compile-time sanity: one explode of the
    shingle array, then ``num_hashes`` `min(md5(seed:shingle))` columns
    in a single groupBy — map-side partial aggregation halves the
    shuffle, and no expression tree is duplicated (the nested-transform
    alternative re-inlines the tokenizer 16× under projection collapse
    and takes minutes to codegen on even small inputs)."""
    # bands > num_hashes would make every band key md5('') — one
    # global bucket, a silent O(n²) pair explosion; a non-divisible
    # split would silently discard trailing signatures (recall change
    # with no diagnostic). Both are config bugs: refuse loudly.
    if num_hashes % bands != 0 or num_hashes < bands:
        raise ValueError(
            f"minhash_bands: num_hashes={num_hashes} must be a positive "
            f"multiple of bands={bands}"
        )
    mins = _minhash_mins(df, text_col, id_col, num_hashes=num_hashes, w=w)
    band_keys = _band_key_array(num_hashes, bands)
    return mins.select("_id", F.posexplode(band_keys)).toDF("_id", "band_id", "band_key")


def _minhash_mins(
    df: DataFrame, text_col: str, id_col: str, *, num_hashes: int, w: int
) -> DataFrame:
    """(_id, m0..m{N-1}) min-hash components — ONE explode of the
    shingle array into a single groupBy with map-side combine.

    explode_outer + null filter, NOT plain explode: explode adds an
    implicit size(arr)>0 filter whose predicate re-evaluates the whole
    shingle expression a second time per row (and can sink below
    exchanges) — see cdc_chunks. The null filter only sees the output
    column, so the array is computed once."""
    exploded = ensure_min_partitions(df).select(
        F.col(id_col).alias("_id"),
        F.explode_outer(shingles(text_col, w)).alias("_s"),
    ).filter(F.col("_s").isNotNull())
    return exploded.select("_id", _base_hash(F.col("_s")).alias("_h")).groupBy("_id").agg(
        *[F.min(_affine(F.col("_h"), i)).alias(f"m{i}") for i in range(num_hashes)]
    )


def _band_key_array(num_hashes: int, bands: int) -> Column:
    """Array of ``bands`` band keys over the m0..m{N-1} min columns —
    band j = md5 of its rows/band consecutive components."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"m{j * rows + r}") for r in range(rows)]))
            for j in range(bands)
        ]
    )


def near_dup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Plan shape: minhash_bands → groupBy (band_id, band_key) →
    in-bucket pair expansion → distinct. ONE pass over the minhash
    pipeline and one shuffle on the band key — the equivalent
    self-equi-join evaluates the whole signature pipeline twice
    (measured 2×: the broadcast build side cannot reuse the probe
    side's exchange) and shuffles twice.

    Skew: a bucket of n docs emits n(n-1)/2 pairs, so a flood of
    identical boilerplate is quadratic — that's inherent to LSH, not
    to this shape (the join form has the same blowup inside one hot
    key). ``max_bucket`` caps it: buckets larger than the cap are
    dropped, which at 100 TB is the standard remedy — such floods are
    byte-identical spam that exact_dedup already collapses, and the
    cap turns a quadratic hot key into a no-op.
    """
    banded = minhash_bands(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, w=w
    )
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    pairs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )
    # unsorted on purpose: the pair set is O(candidates) — at 100 TB a
    # trailing global sort would be a full range shuffle of every pair


def cross_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
) -> DataFrame:
    """Fuzzy benchmark decontamination: corpus documents whose shingle
    set is near-duplicate (exact Jaccard ≥ threshold) of ANY probe
    document — the LSH-recall upgrade of `contamination_check`'s exact
    n-gram membership (a paraphrased benchmark leaks past exact
    n-grams; it does not leak past MinHash).

    Cross-table shape: both sides run the same single-pass
    minhash_bands pipeline; the probe side (benchmark suites: thousands
    of rows, not billions) is BROADCAST, so the corpus never shuffles
    for the candidate join; exact Jaccard runs only on candidates.
    Returns (doc_id, n_probe_hits, max_jaccard)."""
    cb = minhash_bands(
        corpus, text_col, id_col, num_hashes=num_hashes, bands=bands, w=w
    )
    pb = minhash_bands(
        probes, text_col, id_col, num_hashes=num_hashes, bands=bands, w=w
    ).withColumnsRenamed({"_id": "_pid"})
    cand = (
        cb.join(F.broadcast(pb), ["band_id", "band_key"])
        .select("_id", "_pid")
        .distinct()
    )
    c_sh = corpus.select(F.col(id_col).alias("_id"), shingles(text_col, w).alias("_sc"))
    p_sh = probes.select(F.col(id_col).alias("_pid"), shingles(text_col, w).alias("_sp"))
    verified = (
        cand.join(c_sh, "_id")
        .join(F.broadcast(p_sh), "_pid")
        .withColumn("j", jaccard(F.col("_sc"), F.col("_sp")))
        .filter(F.col("j") >= threshold)
    )
    return verified.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_probe_hits"),
        F.round(F.max("j"), 6).alias("max_jaccard"),
    )


def jaccard(col_a: Column, col_b: Column) -> Column:
    """Exact Jaccard over two shingle/token arrays."""
    inter = F.size(F.array_intersect(col_a, col_b)).cast("double")
    union = F.size(F.array_union(col_a, col_b)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
    candidates: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard ≥ threshold.

    The expensive exact scorer touches only LSH survivors — the
    bucket join did the pruning, so verification cost is O(candidates),
    not O(n²). ``candidates=`` injects a precomputed candidate frame
    so a composed pipeline runs the LSH pass once. ``max_bucket``
    forwards the flooded-bucket cap to the candidate stage (ignored
    when ``candidates=`` is injected — cap where they're built)."""
    cands = candidates
    if cands is None:
        cands = near_dup_candidates(
            df, text_col, id_col, num_hashes=num_hashes, bands=bands, w=w,
            max_bucket=max_bucket,
        )
    sh = df.select(F.col(id_col).alias("_sid"), shingles(text_col, w).alias("_sh"))
    return (
        cands.join(sh.withColumnRenamed("_sid", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_sid", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )  # unsorted: O(pairs) output, same rationale as near_dup_candidates


# ------------------------------------------------------------------- SimHash


def star_contraction_components(
    pairs: DataFrame, max_rounds: int = 30
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) over an undirected edge list ``(id_a,
    id_b)``. Returns ``(labels, rounds)`` — labels is (node, label =
    min node id in the component) for every node appearing in
    ``pairs``, bit-identical to :func:`_driver_union_find`'s labels.

    Why star contraction (VERDICT r11 #1): min-label propagation
    needs O(component diameter) rounds — a chain-shaped near-dup
    component (crawl snapshots of one evolving page) of depth d needs
    d rounds. Star contraction converges in O(log d) rounds: each
    large-star hangs every larger-than-local-min neighbor directly
    off the local minimum, halving chain depth per alternation, so a
    10k-hop path closes in ~15 rounds where min-label would need 10k.

    Per half-round cost: ONE groupBy(u) min over the symmetrized edge
    list + ONE join back to re-emit edges + a distinct to keep the
    edge multiset bounded; no driver graph, no collect. Each
    half-round is eagerly checkpointed (the emitted edge set is
    node-bounded after the first contraction) and the convergence
    probe is a limit(1) count on the checkpointed frame — bounded
    regardless of graph size.

    large_star(u): emit (v, m) for every neighbor v > u, where
      m = min(Γ(u) ∪ {u}) — larger neighbors re-hang off the local min.
    small_star(u): with edges oriented larger→smaller, emit (v, m)
      for every smaller neighbor v != m plus (u, m), where m = the
      smallest neighbor — smaller siblings collapse onto the min.
    Both preserve connectivity and never emit self-loops; the fixpoint
    is a union of stars centered at each component's minimum id.
    """
    # lazy checkpoint: sym and nodes BOTH read pairs — without the cut
    # each would re-run the (possibly LSH-verify-shaped) upstream
    # pipeline; the first eager checkpoint below materializes it once
    pairs = pairs.localCheckpoint(eager=False)
    sym = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(
            pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Node universe fixed up front from the ORIGINAL pairs (self-loop
    # -only nodes drop out of the contraction but must still label
    # themselves, matching the driver union-find's node coverage).
    nodes = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select(F.col("id_b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = sym  # symmetric view; each half-round rebuilds it
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        # ---- large-star: neighbors v > u re-hang off m(u) ----------
        mins = edges.groupBy("u").agg(F.min("v").alias("_mn"))
        ls = (
            edges.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("big"),
                F.least(F.col("u"), F.col("_mn")).alias("small"),
                # an emitted edge differs from the original (u, v)
                # exactly when the local min beat u itself
                (F.least(F.col("u"), F.col("_mn")) != F.col("u")).alias(
                    "_chg"
                ),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star: smaller siblings collapse onto min(N) -----
        # ls edges are already oriented big→small, the orientation
        # small-star wants; group by the big endpoint.
        smin = ls.groupBy("big").agg(F.min("small").alias("_mn"))
        sib = (
            ls.join(smin, "big")
            .filter(F.col("small") != F.col("_mn"))
            .select(
                F.col("small").alias("big"),
                F.col("_mn").alias("small"),
                F.lit(True).alias("_chg"),
            )
        )
        own = smin.select(
            F.col("big"),
            F.col("_mn").alias("small"),
            F.lit(False).alias("_chg"),
        )
        ss = sib.unionByName(own).distinct().localCheckpoint(eager=True)
        # ONE convergence probe per round (r14: was one limit(1)
        # count per half-round — 2 extra jobs/round of pure scheduler
        # tax on small graphs): both frames are checkpointed, so the
        # union of their limit(1) change-flags is a single cheap job
        # and 0 rows iff BOTH half-rounds were no-ops, exactly the
        # old chg_ls == 0 and chg_ss == 0 test.
        changed = (
            ls.filter(F.col("_chg")).select(F.lit(1).alias("_one")).limit(1)
            .unionAll(
                ss.filter(F.col("_chg"))
                .select(F.lit(1).alias("_one"))
                .limit(1)
            )
            .count()
        )
        star = ss.drop("_chg")
        if changed == 0:
            converged = True
            edges = star
            break
        # rebuild the symmetric view for the next large-star
        edges = star.select(
            F.col("big").alias("u"), F.col("small").alias("v")
        ).union(
            star.select(
                F.col("small").alias("u"), F.col("big").alias("v")
            )
        ).distinct()
    if not converged:
        raise ValueError(
            f"star_contraction_components: not converged after "
            f"{max_rounds} rounds — with O(log d) convergence this "
            f"indicates a degenerate input, not a deep component"
        )
    # stars: every big hangs off its component min; mins label themselves;
    # nodes absent from the contraction (self-loop-only) also label
    # themselves via the left join.
    star_labels = edges.select(
        F.col("big").alias("node"), F.col("small").alias("label")
    ).union(
        edges.select(
            F.col("small").alias("node"), F.col("small").alias("label")
        )
    ).distinct()
    labels = nodes.join(star_labels, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )
    return labels, rounds


def _driver_union_find(edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(node, min-reachable-node) labels via union-find — bit-identical
    to :func:`star_contraction_components` (the component label IS the
    minimum node id either way)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the root is the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


# Above this many verified edges the CC runs as the distributed
# star-contraction loop; below it, a driver-side union-find (microseconds)
# replaces ~1.5 s of per-round shuffle/checkpoint/probe overhead.
# Edges are VERIFIED near-dup pairs — orders of magnitude fewer than
# docs. 200k (VERDICT r10 #5, down from 2M): 200k Row objects ≈ tens
# of MB of driver heap — safe at default driver sizing; 2M risked
# hundreds of MB collected + re-uploaded. Above it the distributed
# loop costs ~1.5 s of fixed overhead, noise at that edge volume.
CC_DRIVER_MAX_EDGES = 200_000


def connected_components(
    pairs: DataFrame, max_iterations: int = 20,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """(node, label) for every edge-connected node, label = min node
    id in the component. Hybrid execution (VERDICT r8 #9): bounded
    edge sets collect to a driver union-find (the train-small house
    pattern — the edge list is the 'model'); larger ones run the
    distributed :func:`star_contraction_components` loop (O(log d)
    rounds — VERDICT r11 #1 replaced the diameter-capped min-label
    loop here). Identical labels either way, pinned by the
    threshold=0 parity test and the path-graph cross-path test.

    ``max_iterations`` bounds the contraction rounds; with O(log d)
    convergence the default comfortably covers any real component
    (2^20-hop diameters do not occur in verified near-dup graphs)."""
    # lazy local checkpoint: the count() decides the execution path and
    # materializes the (possibly LSH-verify-shaped) edge pipeline ONCE;
    # the collect / contraction loop then reads the checkpoint instead of
    # re-running it
    pairs = pairs.localCheckpoint(eager=False)
    n = pairs.count()
    if n <= driver_max_edges:
        from pyspark.sql import types as _T

        spark = pairs.sparkSession
        # node/label type follows the edge id type (string doc ids
        # work identically on both paths — the hardcoded LONG here
        # used to make behavior diverge by data volume)
        id_type = pairs.schema["id_a"].dataType
        schema = _T.StructType(
            [
                _T.StructField("node", id_type),
                _T.StructField("label", id_type),
            ]
        )
        edges = [
            (r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()
        ]
        labels = _driver_union_find(edges)
        if not labels:
            return spark.createDataFrame([], schema)
        # parallelize, don't createDataFrame(list): a pickled local
        # relation embeds every label tuple in the PLAN payload (at
        # the 200k cap that is tens of MB shipped with every task);
        # parallelize distributes the same bytes as ordinary RDD
        # partitions instead (VERDICT r10 #5)
        sc = spark.sparkContext
        n_slices = max(2, min(32, len(labels) // 25_000 + 1))
        return spark.createDataFrame(
            sc.parallelize(labels, n_slices), schema
        )
    labels, _rounds = star_contraction_components(pairs, max_rounds=max_iterations)
    return labels


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
    max_iterations: int = 20,
    pairs: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Connected components over the verified near-dup graph: every
    document labeled with the min doc id reachable through near-dup
    edges (its cluster id; isolated docs label themselves). The keep-
    one-per-cluster dedup is then ``filter(doc_id == cluster_id)``.

    Labels come from :func:`connected_components` — a driver
    union-find for bounded edge sets, distributed star contraction
    (O(log diameter) rounds, no driver-side graph) beyond them.

    ``pairs=`` injects a precomputed verified-edge frame (id_a, id_b)
    so a pipeline deriving clusters, keep-best survivors, AND the
    redundancy profile from one corpus pays the MinHash/LSH signature
    computation once (see `dedup_report`).
    """
    if pairs is None:
        pairs = near_dup_pairs(
            df, text_col, id_col, threshold=threshold,
            num_hashes=num_hashes, bands=bands, w=w,
            max_bucket=max_bucket,
        )
    pairs = pairs.select("id_a", "id_b")
    labels = connected_components(pairs, max_iterations=max_iterations)
    connected = labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
    return (
        df.select(id_col)
        .join(connected, id_col, "left")
        .select(id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
    )


SIMHASH_BITS = 60  # 15 md5 hex chars -> fits signed 64-bit in any engine


def simhash_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(_id, _sh): 60-bit SimHash per document, fully native.

    Token hash = first 15 md5 hex chars as a 60-bit integer; bit b of
    the fingerprint is the sign of Σ_tokens (±1 by token-hash bit b).
    Shape: token explode → ONE groupBy with 60 conditional sums
    (map-side combined) → sign recombination — the same single-pass
    aggregation spine as MinHash, zero Python, and exactly
    reproducible in the DuckDB oracle (which the former Arrow-UDF
    token loop was not). Tokenless docs keep fingerprint 0."""
    # explode_outer + null filter: avoids the implicit size>0 filter
    # re-evaluating the tokenizer (see the shingle explode above)
    exploded = ensure_min_partitions(df).select(
        F.col(id_col).alias("_id"),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).filter(F.col("_t").isNotNull())
    h = F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("bigint")
    staged = exploded.select("_id", h.alias("_h"))
    sums = staged.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned("_h", b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sh: Column = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        sh = sh + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    fingerprints = sums.select("_id", sh.alias("_sh"))
    ids = df.select(F.col(id_col).alias("_id")).distinct()
    return ids.join(fingerprints, "_id", "left").select(
        "_id", F.coalesce("_sh", F.lit(0)).alias("_sh")
    )


def simhash_near_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation bands the 60 bits into 4×15-bit keys (any pair
    within hamming 3 shares at least one intact band) — same bucketed
    self-join shape as MinHash LSH, no cross product."""
    sh = simhash_frame(df, text_col, id_col)
    bandkeys = F.array(
        *[F.shiftrightunsigned(F.col("_sh"), 15 * j).bitwiseAND(F.lit(0x7FFF)) for j in range(4)]
    )
    banded = sh.select("_id", "_sh", F.posexplode(bandkeys)).toDF(
        "_id", "_sh", "band_id", "band_key"
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .distinct()
    )
    # unsorted: O(pairs) output, same rationale as near_dup_candidates
    return pairs.filter(F.col("hamming") <= max_hamming)


def minhash_estimate_audit(
    df: DataFrame,
    num_hashes: int = 16,
    w: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash accuracy audit over adjacent doc pairs: the signature's
    Jaccard ESTIMATE (matching components / num_hashes — the statistic
    the LSH banding thresholds on) next to the exact shingle-set
    Jaccard, with the absolute error. This is the measurement that
    justifies the banding parameters: E[est] = J, so |est − J| tracks
    the 1/√num_hashes sketch noise.

    Scale shape: signatures are scan-side; the audit join is the
    adjacent-id equi-join (a stand-in for the LSH candidate set —
    auditing ALL pairs would be quadratic and is exactly what MinHash
    exists to avoid)."""
    sig = minhash_signature(text_col, num_hashes, w)
    sh = shingles(text_col, w)
    a = df.select(
        F.col(id_col).alias("id_a"), sig.alias("sig_a"), sh.alias("sh_a")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), sig.alias("sig_b"), sh.alias("sh_b")
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(float(num_hashes))
    exact = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-DATASET near-duplicate overlap matrix: banded candidate
    pairs rolled up per unordered (source_a, source_b) — the
    mixing-table diagnostic a pipeline reads before weighting sources
    (two crawls sharing half their near-dups should not both get full
    weight; the r9 sibling of `split_leakage`, which asks the same
    question about the train/val boundary).

    Scale shape: the single-pass banded candidate generator (never
    all-pairs), then two id-equi-joins attaching each endpoint's
    source label — the joins carry only the candidate pair list, and
    the rollup is ≤ |sources|² rows. `is_cross` marks inter-dataset
    rows (the redundancy double-count a mixture must discount)."""
    pairs = near_dup_candidates(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, w=w,
        max_bucket=max_bucket,
    )
    labels = df.select(F.col(id_col), F.col(source_col))
    a = labels.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("_ca")
    )
    b = labels.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("_cb")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("_ca", "_cb").alias("source_a"),
            F.greatest("_ca", "_cb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_cross", F.col("source_a") != F.col("source_b"))
    )


def redundancy_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
    pairs: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Corpus redundancy profile: the histogram of near-dup DEGREES —
    for each document, how many LSH candidate partners it has; rolled
    up to (degree, n_docs). Degree 0 is the unique mass; a heavy tail
    is the redundancy a dedup pass will reclaim. This is the one-line
    diagnostic a curation run reads before deciding dedup thresholds.

    Scale shape: reuses the single-pass banded candidate generator
    (never all-pairs); degrees are one groupBy over pair endpoints and
    the histogram is a second count agg over ≤ max-degree rows. The
    degree-0 row comes from an exact total-count minus join — no
    full-corpus anti-join. ``pairs=`` injects a precomputed candidate
    frame so a composed report shares one LSH pass."""
    if pairs is None:
        pairs = near_dup_candidates(
            df, text_col, id_col, num_hashes=num_hashes, bands=bands, w=w,
            max_bucket=max_bucket,
        )
    pairs = pairs.localCheckpoint(eager=False)  # computed once though referenced
    # by both the histogram and the degree-0 subtree; lazy so building
    # the query stays action-free
    ends = pairs.select(F.col("id_a").alias("_id")).unionAll(
        pairs.select(F.col("id_b").alias("_id"))
    )
    degrees = ends.groupBy("_id").agg(F.count(F.lit(1)).alias("degree"))
    hist = degrees.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # degree-0 row as a LAZY plan: two scalar aggs cross-joined — no
    # eager driver counts at build time, and the whole profile stays
    # one job
    zero = (
        df.agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(degrees.agg(F.count(F.lit(1)).alias("_m")))
        .select(
            F.lit(0).alias("degree"),
            (F.col("_n") - F.col("_m")).alias("n_docs"),
        )
    )
    return hist.select(
        F.col("degree").cast("int").alias("degree"), "n_docs"
    ).unionByName(zero)


def cluster_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
    clusters: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup dedup with a quality-aware survivor: label clusters via
    `near_dup_clusters` (LSH candidates → exact-Jaccard verify →
    connected components), then keep the HIGHEST `quality_score`
    member of each cluster (doc_id breaks ties) instead of the min-id
    convention.
    Complements `curation.dedup_keep_best` (exact-dup groups) at the
    near-dup level — the form a curation pipeline actually wants, since
    near-dup cluster members genuinely differ in quality.

    Cost over plain clustering: one id-keyed join of (doc, quality)
    against labels plus one window shuffle on cluster_id. Cluster ids
    are min-doc-ids (high cardinality, hash-spread) and cluster sizes
    are small by construction (near-dup chains are short), so the
    window state stays O(cluster) at any corpus size.

    ``clusters=`` injects a precomputed `near_dup_clusters` frame
    (doc_id, cluster_id) so a composed pipeline labels clusters once.
    """
    from pyspark.sql import Window

    from hermod_spark.functions.text import quality_score

    if clusters is None:
        clusters = near_dup_clusters(
            df, text_col, id_col,
            threshold=threshold, num_hashes=num_hashes, bands=bands, w=w,
            max_bucket=max_bucket,
        )
    scored = df.select(id_col, quality_score(text_col).alias("_q")).join(
        clusters, id_col
    )
    win = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            "cluster_id",
            F.round("_q", 6).alias("quality"),
            "cluster_size",
        )
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 8,
    min_count: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Exact duplicated-SPAN detection — the suffix-array dedup modality
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022) re-expressed as its shuffle-native equivalent: instead of
    one corpus-wide suffix array, shuffle token ``n``-grams by content
    hash, mark every n-gram occurring ≥ ``min_count`` times CORPUS-WIDE
    (within-doc repeats count, same as a suffix array's), and merge each
    doc's duplicated n-gram start positions into maximal token spans.

    Returns one row per maximal duplicated span:
    ``(doc_id, span_start, span_end, span_len)`` with 1-based inclusive
    token positions. Two overlapping or adjacent duplicated n-grams
    merge into one span (equal-length intervals sorted by start merge
    iff ``p ≤ prev_p + n``), so spans per doc are disjoint and
    non-adjacent — span_len sums are exact covered-token counts.

    Scale shape (100 TB): the one inherent cost is a shuffle of O(total
    tokens) (p, hash) rows keyed by n-gram hash — the distributed
    analogue of the suffix-array sort, and strictly cheaper than
    building one (no global order, partial-aggregable counts). No
    all-pairs join anywhere; the only other exchanges are per-doc
    windows keyed by doc_id. Hash-key skew = a single n-gram repeated
    millions of times (site boilerplate) — bounded by AQE skew
    handling, and those rows are exactly the ones the operator exists
    to find. The token array is let-bound through the
    single-element-array transform (the `shingles` lesson) so the
    regex tokenizer runs once per doc, not once per n-gram; Spark's
    ``sequence(1, 0)`` counts DOWN, so the empty case is gated with an
    explicit ``when(size ≥ n)``.
    """
    from hermod_spark.functions.text import tokens

    grams = _ngram_positions(df, text_col, id_col, n)

    # corpus-wide occurrence count per n-gram: one exchange keyed by h
    # (count-over-partition, no self-join). keep_first additionally
    # ranks occurrences by (doc_id, p) — same exchange, one extra
    # in-partition sort — and drops each hash's corpus-FIRST occurrence
    # from the duplicated-start set, so the spans built from what
    # remains are exactly the REMOVABLE copies (keep-one-copy policy:
    # the survivor is the lowest (doc_id, position) occurrence,
    # deterministic in any engine).
    wh = Window.partitionBy("h")
    marked = grams.withColumn("_cnt", F.count(F.lit(1)).over(wh))
    if keep_first:
        marked = marked.withColumn(
            "_rn", F.row_number().over(wh.orderBy(id_col, "p"))
        ).filter(F.col("_rn") > 1)
    starts = marked.filter(F.col("_cnt") >= min_count).select(id_col, "p")
    return _merge_start_runs(starts, id_col, n)


def _ngram_positions(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, p, h) frame of 1-based token n-gram start positions and
    md5 hashes — the scan-side front end shared by exact-span dedup and
    n-gram decontamination. Token array let-bound once; `sequence(1,0)`
    counts DOWN in Spark, so the short-doc case is when-gated."""
    toks = tokens(F.lower(F.col(text_col)))

    def _grams(w: Column) -> Column:
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1),
                lambda i: F.struct(
                    i.alias("p"),
                    F.md5(F.concat_ws(" ", F.slice(w, i, F.lit(n)))).alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<p:int,h:string>>"))

    return df.select(
        id_col,
        F.explode(F.flatten(F.transform(F.array(toks), _grams))).alias("g"),
    ).select(id_col, F.col("g.p").alias("p"), F.col("g.h").alias("h"))


def ngram_hash_array(text_col: str, n: int) -> Column:
    """Scan-side ARRAY of a doc's token n-gram md5 hashes (no explode,
    no positions) — the form a STATELESS streaming stage can consume:
    membership tests over it are per-row higher-order functions, zero
    shuffle. Token array let-bound once; short docs yield []."""
    from hermod_spark.functions.text import tokens

    toks = tokens(F.lower(F.col(text_col)))

    def _hashes(w: Column) -> Column:
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(w, i, F.lit(n)))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.flatten(F.transform(F.array(toks), _hashes))


def _merge_start_runs(starts: DataFrame, id_col: str, n: int) -> DataFrame:
    """Merge sorted equal-length-n interval starts into maximal per-doc
    spans (merge iff p ≤ prev + n): two windows keyed by id, one
    exchange; output (id, span_start, span_end, span_len)."""
    wd = Window.partitionBy(id_col).orderBy("p")
    runs = starts.withColumn(
        "_new",
        F.when(
            F.col("p") - F.lag("p").over(wd) > n, 1
        ).otherwise(F.when(F.lag("p").over(wd).isNull(), 1).otherwise(0)),
    ).withColumn(
        "_rid",
        F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return runs.groupBy(id_col, "_rid").agg(
        F.min("p").cast("long").alias("span_start"),
        (F.max("p") + n - 1).cast("long").alias("span_end"),
        (F.max("p") + n - F.min("p")).cast("long").alias("span_len"),
    ).drop("_rid")


def contamination_spans(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 13,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Exact n-gram decontamination, the GPT-3/PaLM "13-gram overlap"
    modality: every maximal run of overlapping/adjacent MATCHED n-grams
    in the corpus (start positions within ``n`` tokens of each other are
    merged), as (doc_id, span_start, span_end, span_len). Interior
    n-grams of a merged span need not each appear in the probe set —
    the span is the union of matched n-gram extents, which is the
    removal granularity decontamination wants.
    Complements `cross_contamination` (fuzzy LSH doc-level) and
    `sketches.bloom_decontaminate` (exact whole-doc): this is substring
    granularity with exact semantics — the form eval-suite hygiene
    actually specifies. Feed the output into
    `remove_duplicated_spans(spans=...)` to surgically cut benchmark
    text out of training documents instead of dropping whole docs.

    Scale: with ``broadcast_probes=True`` (benchmark-sized probe sets,
    the decontamination case) the probes' DISTINCT n-gram hash set is
    broadcast into a semi-join against the scan-side corpus n-gram
    stream, so the corpus is never shuffled for the match; the only
    exchange is the per-doc run merge over matched STARTS (≪ tokens).
    ``broadcast_probes=False`` is the INCREMENTAL-CRAWL case — "which
    spans of the NEW crawl already exist in the stored corpus" — where
    the probe side is itself corpus-sized: the semi-join becomes a
    hash-shuffle on the n-gram key (the same inherent exchange as
    `duplicated_spans`), never a broadcast OOM."""
    probe_hashes = (
        _ngram_positions(probes, text_col, id_col, n).select("h").distinct()
    )
    if broadcast_probes:
        probe_hashes = F.broadcast(probe_hashes)
    hits = (
        _ngram_positions(corpus, text_col, id_col, n)
        .join(probe_hashes, "h", "leftsemi")
        .select(id_col, "p")
    )
    return _merge_start_runs(hits, id_col, n)


def contamination_profile(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 13,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Per contaminated doc: span count, overlapping tokens, and the
    contaminated-token fraction — the report a decontamination pass
    acts on (drop above a threshold, surgically cut below it)."""
    from hermod_spark.functions.text import tokens as _tokens

    spans = contamination_spans(
        corpus, probes, text_col, id_col, n=n,
        broadcast_probes=broadcast_probes,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("overlap_tokens"),
    )
    base = corpus.select(
        id_col,
        F.size(_tokens(F.lower(F.col(text_col)))).cast("long").alias("n_tokens"),
    )
    return base.join(per_doc, id_col).select(
        id_col,
        "n_tokens",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("overlap_tokens").cast("long").alias("overlap_tokens"),
        F.round(F.col("overlap_tokens") / F.col("n_tokens"), 6).alias(
            "overlap_frac"
        ),
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 8,
    min_count: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span profile over ALL docs (zero rows for
    clean docs): ``(doc_id, n_tokens, n_spans, dup_tokens, dup_frac)``.
    ``dup_frac`` is the fraction of the doc's tokens inside some exact
    duplicated span — the removal budget an exact-span dedup pass would
    reclaim, and the per-doc signal a curation pipeline thresholds on.

    ``spans=`` injects a precomputed `duplicated_spans` frame so a
    pipeline computing both the span list and the profile pays the
    n-gram shuffle once.

    Scale: the span list aggregates to ≤ one row per doc before the
    id-keyed left join back to the corpus — the join's right side is
    doc-count-sized, never token-sized."""
    from hermod_spark.functions.text import tokens

    if spans is None:
        spans = duplicated_spans(
            df, text_col, id_col, n=n, min_count=min_count
        )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_tokens"),
    )
    base = df.select(
        id_col, F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("n_tokens")
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("dup_tokens", F.lit(0).cast("long"))
                / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_frac"),
    )


def dedup_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """One-pass dedup REPORT: candidates, verified pairs, clusters, and
    survivor counts derived from a SINGLE MinHash/LSH computation — the
    composed form a real curation run uses, vs. running
    `near_dup_candidates`, `near_dup_clusters`, `cluster_keep_best`,
    and `redundancy_profile` as four standalone jobs that each rebuild
    signatures from scratch.

    The candidate frame is localCheckpointed (lazily) and injected into
    every downstream stage via the ``candidates=``/``pairs=``/
    ``clusters=`` parameters, so the plan contains exactly ONE
    signature/banding subtree. Returns a (metric, value) frame:
    n_docs, n_candidate_pairs, n_verified_pairs, n_clusters,
    n_removable, max_degree.

    Scale: every metric is a count over frames the pipeline already
    materializes; the only additions over `near_dup_clusters` alone
    are O(pairs) aggregations."""
    cand = near_dup_candidates(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, w=w,
        max_bucket=max_bucket,
    ).localCheckpoint(eager=False)
    ver = near_dup_pairs(
        df, text_col, id_col, threshold=threshold, w=w, candidates=cand
    ).localCheckpoint(eager=False)
    clusters = near_dup_clusters(df, text_col, id_col, pairs=ver)

    def _m(name: str, frame: DataFrame, expr) -> DataFrame:
        return frame.agg(expr.cast("long").alias("value")).select(
            F.lit(name).alias("metric"), "value"
        )

    degrees = (
        cand.select(F.col("id_a").alias("_id"))
        .unionAll(cand.select(F.col("id_b").alias("_id")))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_docs = _m("n_docs", df, F.count(F.lit(1)))
    parts = [
        n_docs,
        _m("n_candidate_pairs", cand, F.count(F.lit(1))),
        _m("n_verified_pairs", ver, F.count(F.lit(1))),
        _m("n_clusters", clusters, F.countDistinct("cluster_id")),
        # removable = docs minus clusters: lazy scalar cross-join, no
        # eager counts at build time
        df.agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(clusters.agg(F.countDistinct("cluster_id").alias("_c")))
        .select(
            F.lit("n_removable").alias("metric"),
            (F.col("_n") - F.col("_c")).cast("long").alias("value"),
        ),
        _m("max_degree", degrees, F.coalesce(F.max("d"), F.lit(0))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 8,
    min_count: int = 2,
    keep_first: bool = False,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The actionable output of exact-span dedup: per-doc CLEANED text
    with every token covered by a corpus-duplicated span removed
    (plus removal accounting). Tokens are the original-case whitespace
    tokens — span positions detected on the lowercased stream apply
    1:1 because whitespace tokenization is case-stable.

    Policy: ``keep_first=False`` is aggressive removal (every covered
    occurrence goes); ``keep_first=True`` is keep-one-copy — each
    duplicated n-gram's corpus-FIRST occurrence (lowest (doc_id,
    position)) is exempt from span-building, so one copy survives the
    cut. Keep-one is the "Deduplicating Training Data" production
    policy; note a surviving first occurrence can still lose NEIGHBOR
    tokens to some other hash's removable span — inherent to any
    span-level cut, not to this implementation.

    Scale: the span list aggregates to one array per AFFECTED doc
    (spans per doc are few and merged-disjoint) before an id-keyed
    left join back to the corpus; the token filter is a scan-side
    higher-order function, O(tokens × spans_per_doc) per row, no
    extra shuffle beyond `duplicated_spans` itself + the id join."""
    from hermod_spark.functions.text import tokens

    if spans is None:
        spans = duplicated_spans(
            df, text_col, id_col, n=n, min_count=min_count,
            keep_first=keep_first,
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = tokens(F.col(text_col))
    joined = df.join(per_doc, id_col, "left").withColumn(
        "_spans",
        F.coalesce(
            "_spans",
            F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
        ),
    )

    def _covered(i: Column) -> Column:
        # i is the 0-based lambda index; span positions are 1-based
        return F.exists(
            F.col("_spans"),
            lambda s: (i + 1 >= s.getField("span_start"))
            & (i + 1 <= s.getField("span_end")),
        )

    # nested let-binding (single-element-array transform, the shingles
    # discipline): `toks` and the filtered `kept` are each bound ONCE.
    # Referencing them directly from the three output columns would
    # re-inline the tokenizer up to 3× and — worse — run the
    # O(tokens × spans) exists-filter TWICE per row (subexpression
    # elimination skips lambda-bearing expressions).
    def _result(t: Column) -> Column:
        k_arr = F.filter(t, lambda tok, i: ~_covered(i))
        return F.transform(
            F.array(k_arr),
            lambda k: F.struct(
                F.size(t).cast("long").alias("n_tokens"),
                (F.size(t) - F.size(k)).cast("long").alias("n_removed"),
                F.concat_ws(" ", k).alias("clean_text"),
            ),
        )[0]

    res = F.transform(F.array(toks), _result)[0]
    return joined.select(id_col, res.alias("_r")).select(
        id_col,
        F.col("_r.n_tokens").alias("n_tokens"),
        F.col("_r.n_removed").alias("n_removed"),
        F.col("_r.clean_text").alias("clean_text"),
    )


def blocked_linkage(
    df: DataFrame,
    *,
    id_col: str = "c_custkey",
    name_col: str = "c_name",
    block_len: int = 16,
    max_dist: int = 1,
    max_block: int = 500,
) -> DataFrame:
    """Entity-resolution record linkage: candidate identity pairs whose
    names agree on a blocking key (length + ``block_len``-char prefix)
    and sit within Levenshtein distance ``max_dist``. The structured-
    metadata counterpart of the text near-dup family — the operator a
    curation run uses to collapse author/source/site identities before
    per-entity quotas or dedup-by-provenance.

    Scale shape: the classic ER blocking pattern — the only shuffle is
    the self-join on the block key, and the quadratic in-block pair
    expansion is bounded by ``max_block`` exactly like the LSH
    ``max_bucket`` cap (hot blocks — empty names, template names — are
    dropped whole; size the cap from a block histogram the same way the
    LSH path does). Levenshtein runs JVM-native (``F.levenshtein``),
    only on in-block pairs, never all-pairs.
    """
    block = F.concat_ws(
        "|",
        F.length(F.col(name_col)).cast("string"),
        F.substring(F.col(name_col), 1, block_len),
    )
    keyed = df.select(
        F.col(id_col).alias("id"), F.col(name_col).alias("name"),
        block.alias("blk"),
    )
    # Explicit-width repartition on the block key: the join's work is
    # quadratic in block size, so partition count must follow expansion
    # work, not input bytes — with ENSURE_REQUIREMENTS AQE sees a tiny
    # pre-join shuffle and coalesces the whole expansion onto one task.
    # REPARTITION_BY_NUM is exempt from AQE coalescing. Width follows
    # the LARGER of core count and input partitions (VERDICT r11 #5:
    # a width that is right at 1× under-partitions at 10× — scaling by
    # input partitions keeps per-task block volume bounded as the
    # corpus grows; the isolated 10× probe reads 0.36×/row either way
    # at bench scale, this is the 100 TB guard).
    width = max(
        df.sparkSession.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions(),
    )
    sized = (
        keyed.repartition(width, "blk")
        .withColumn(
            "n_block", F.count(F.lit(1)).over(Window.partitionBy("blk"))
        )
        .filter(F.col("n_block") <= max_block)
    )
    a = sized.select(
        F.col("blk"), F.col("id").alias("id_a"), F.col("name").alias("name_a")
    )
    b = sized.select(
        F.col("blk"), F.col("id").alias("id_b"), F.col("name").alias("name_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= max_dist)
        .select("id_a", "id_b", "name_a", "name_b", "distance")
    )


# ---------------------------------------------------------------------------
# Persisted LSH corpus index: build once over the existing corpus, serve
# every incoming crawl snapshot against it without re-banding the corpus.
# At 100 TB the corpus-side minhash pass is the dominant cost of near-dup
# dedup; a re-crawl pipeline that pays it per snapshot is quadratic over
# the corpus's lifetime. The index persists (band buckets + signatures)
# as parquet; serving shuffles only the snapshot side.

DEDUP_INDEX_VERSION = 1


def save_dedup_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    w: int = 3,
) -> None:
    """Persist the LSH index of ``df`` under ``path`` (overwrite):

    - ``bands/``: (corpus_id, band_id, band_key, n_bucket) — one row
      per (doc, band). ``n_bucket`` is the bucket's membership count,
      computed at BUILD time so a serve-time ``max_bucket`` cap is a
      plain scan predicate (parquet pushdown) instead of a full
      count-pass over the index per snapshot. Signatures are NOT
      duplicated into this (bands× larger) component.
    - ``sigs/``: (corpus_id, sig array<bigint>) — the full min-hash
      signature, once per doc, for the serve-side similarity estimate
      (the corpus TEXT is deliberately not in the index).
    - ``meta/``: one row (version, num_hashes, bands, w, n_docs).
      Written LAST: a crashed build leaves no meta and
      :func:`load_dedup_index` refuses the partial directory.

    Hash config lives in meta and drives the serve side — config drift
    between build and serve silently destroys recall, so serving never
    takes its own num_hashes/bands/w.
    """
    if num_hashes % bands != 0 or num_hashes < bands:
        raise ValueError(
            f"save_dedup_index: num_hashes={num_hashes} must be a positive "
            f"multiple of bands={bands}"
        )
    spark = df.sparkSession
    mins = _minhash_mins(df, text_col, id_col, num_hashes=num_hashes, w=w)
    sig = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    # ONE minhash pass feeds both components: localCheckpoint at the
    # per-doc level cuts the lineage so neither projection re-runs the
    # shingle pipeline (the dedup_report pattern).
    docs = mins.select(F.col("_id").alias("corpus_id"), sig.alias("sig"))
    docs = docs.localCheckpoint()
    _write_index_components(spark, docs, path, num_hashes, bands, w)


def _write_index_components(
    spark, docs: DataFrame, path: str, num_hashes: int, bands: int, w: int
) -> int:
    """Write bands/ + sigs/ + meta/ under ``path`` from a materialized
    (corpus_id, sig) frame; returns n_docs. Shared by save and extend
    (extend points it at a staging dir)."""
    banded = docs.select(
        "corpus_id",
        F.posexplode(_band_key_array_from_sig(num_hashes, bands)).alias(
            "band_id", "band_key"
        ),
    )
    n_bucket = F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_key"))
    banded.withColumn("n_bucket", n_bucket).write.parquet(
        f"{path}/bands", mode="overwrite"
    )
    docs.write.parquet(f"{path}/sigs", mode="overwrite")
    n_docs = docs.count()
    spark.createDataFrame(
        [(DEDUP_INDEX_VERSION, num_hashes, bands, w, n_docs)],
        "version int, num_hashes int, bands int, w int, n_docs bigint",
    ).coalesce(1).write.parquet(f"{path}/meta", mode="overwrite")
    return n_docs


def _band_key_array_from_sig(num_hashes: int, bands: int) -> Column:
    """Band keys computed from the ``sig`` array column (vs the m0..mN
    min columns `_band_key_array` reads) — same md5-of-components."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at("sig", j * rows + r + 1)
                        for r in range(rows)
                    ],
                )
            )
            for j in range(bands)
        ]
    )


def load_dedup_index(spark, path: str) -> dict:
    """Open a :func:`save_dedup_index` artifact: {'meta': dict,
    'bands': DataFrame, 'sigs': DataFrame}. Raises on a missing or
    foreign meta (a partial build must not serve). Only
    path-missing/corrupt errors are rebranded — transient IO or
    permission failures propagate as themselves, so an outage is
    never misdiagnosed as a partial index needing a rebuild."""
    from pyspark.errors import AnalysisException

    try:
        meta_rows = spark.read.parquet(f"{path}/meta").collect()
    except AnalysisException as exc:
        hint = ""
        recovery = _index_recovery_candidates(spark, path)
        if recovery:
            hint = (
                " A crashed extend left the previous index at "
                f"{recovery} — rename it back to {path!r} to recover."
            )
        raise ValueError(
            f"load_dedup_index: no readable meta under {path!r} "
            f"(partial or foreign directory?): {exc}{hint}"
        ) from None
    if len(meta_rows) != 1:
        raise ValueError(
            f"load_dedup_index: expected exactly 1 meta row, got {len(meta_rows)}"
        )
    meta = meta_rows[0].asDict()
    if meta.get("version") != DEDUP_INDEX_VERSION:
        raise ValueError(
            f"load_dedup_index: version {meta.get('version')!r} != "
            f"{DEDUP_INDEX_VERSION} (rebuild the index)"
        )
    return {
        "meta": meta,
        "bands": spark.read.parquet(f"{path}/bands"),
        "sigs": spark.read.parquet(f"{path}/sigs"),
    }


def incremental_near_dups(
    new_df: DataFrame,
    index: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup matches of an incoming snapshot against a persisted
    corpus index: (new_id, corpus_id, n_match, est_jaccard), where
    est_jaccard = matching-signature-component fraction (the unbiased
    MinHash Jaccard estimator) and n_match its integer numerator.

    Plan shape (the snapshot is the ONLY side that pays a minhash
    pass): one explode→groupBy over the snapshot producing (sig, band
    keys) in a single projection, an equi-join against the index's
    band buckets on (band_id, band_key), pair dedup, then one join
    against the index signatures for the estimate. ``max_bucket``
    filters the index's precomputed n_bucket scan-side (parquet
    pushdown) — a viral boilerplate bucket never reaches the join.

    Verification is signature-based, not exact-text Jaccard, by
    design: the index carries no corpus text, and at 16+ hashes the
    estimator's error is below any sane dedup threshold's margin.
    """
    meta = index["meta"]
    num_hashes, bands, w = meta["num_hashes"], meta["bands"], meta["w"]
    mins = _minhash_mins(new_df, text_col, id_col, num_hashes=num_hashes, w=w)
    sig = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    new_bands = mins.select(
        F.col("_id").alias("new_id"),
        sig.alias("_new_sig"),
        F.posexplode(_band_key_array(num_hashes, bands)).alias(
            "band_id", "band_key"
        ),
    )
    idx_bands = index["bands"]
    if max_bucket is not None:
        idx_bands = idx_bands.filter(F.col("n_bucket") <= max_bucket)
    cand = (
        new_bands.join(idx_bands, ["band_id", "band_key"])
        .select("new_id", "_new_sig", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    n_match = F.size(
        F.filter(
            F.zip_with("_new_sig", "sig", lambda a, b: a == b), lambda x: x
        )
    )
    return (
        cand.join(index["sigs"], "corpus_id")
        .withColumn("n_match", n_match)
        .withColumn(
            "est_jaccard", F.col("n_match") / F.lit(float(num_hashes))
        )
        .filter(F.col("est_jaccard") >= F.lit(float(threshold)))
        .select("new_id", "corpus_id", "n_match", "est_jaccard")
    )


def dedup_against_corpus(
    new_df: DataFrame,
    index: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """The actionable filter form: snapshot rows that near-dup NOTHING
    in the corpus index survive (the docs worth adding). One anti-join
    on the matched new-ids over :func:`incremental_near_dups`."""
    matches = incremental_near_dups(
        new_df,
        index,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        max_bucket=max_bucket,
    ).select(F.col("new_id").alias(id_col))
    return new_df.join(matches, id_col, "left_anti")


def _snapshot_band_rows(
    new_df: DataFrame, meta: dict, text_col: str, id_col: str
) -> DataFrame:
    """(new_id, _new_sig, band_id, band_key) computed entirely
    SCAN-SIDE (per-row nested fold, no aggregation) with the index's
    hash config — the form a streaming snapshot can run, since a
    micro-batch cannot host the explode→groupBy signature shape
    without an aggregation output mode."""
    num_hashes, bands, w = meta["num_hashes"], meta["bands"], meta["w"]
    sig = minhash_signature(text_col, num_hashes=num_hashes, w=w)
    rows = num_hashes // bands
    return new_df.select(
        F.col(id_col).alias("new_id"), sig.alias("_new_sig")
    ).select(
        "new_id",
        "_new_sig",
        F.posexplode(
            lsh_band_keys(F.col("_new_sig"), bands, rows)
        ).alias("band_id", "band_key"),
    )


def incremental_near_dups_scan(
    new_df: DataFrame,
    index: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """:func:`incremental_near_dups` with the snapshot's signatures
    computed scan-side (per-row fold) instead of explode→groupBy —
    identical output (the two signature forms are the same min over
    the same affine hashes), but the plan has NO aggregation, so it
    runs unchanged on a STREAMING snapshot: band join and signature
    join become stream-static joins, and the pair dedup is
    dropDuplicates keyed on (new_id, corpus_id).

    Streaming state note: the dropDuplicates state is O(matches) for
    the life of the stream — scope one stream per crawl snapshot (the
    workload's natural unit) or swap in dropDuplicatesWithinWatermark
    when the snapshot carries event time.

    Batch trade-off vs the agg form: the per-row fold re-hashes every
    shingle num_hashes times inside one projection (no shuffle),
    where the agg form hashes once and shuffles — prefer this form
    for streams and thin snapshots, the agg form for bulk batch.
    """
    meta = index["meta"]
    num_hashes = meta["num_hashes"]
    new_bands = _snapshot_band_rows(new_df, meta, text_col, id_col)
    idx_bands = index["bands"]
    if max_bucket is not None:
        idx_bands = idx_bands.filter(F.col("n_bucket") <= max_bucket)
    cand = (
        new_bands.join(idx_bands, ["band_id", "band_key"])
        .select("new_id", "_new_sig", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    n_match = F.size(
        F.filter(
            F.zip_with("_new_sig", "sig", lambda a, b: a == b), lambda x: x
        )
    )
    return (
        cand.join(index["sigs"], "corpus_id")
        .withColumn("n_match", n_match)
        .withColumn(
            "est_jaccard", F.col("n_match") / F.lit(float(num_hashes))
        )
        .filter(F.col("est_jaccard") >= F.lit(float(threshold)))
        .select("new_id", "corpus_id", "n_match", "est_jaccard")
    )


def extend_dedup_index(
    new_df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Admit ``new_df`` into the persisted index at ``path`` — the
    workflow step after :func:`dedup_against_corpus` accepts a
    snapshot's survivors. Returns the number of docs added.

    Only the ADMITTED docs' text is minhashed; the existing corpus
    contributes its already-persisted bands/sigs columns. n_bucket is
    recomputed globally over the merged bands (one window over ~4
    rows/doc of longs+strings — index-sized, never corpus-text-sized)
    so the serve-side cap predicate stays current, not build-time
    stale.

    Idempotent: ids already present in the index are skipped, so
    re-running a crashed or duplicated extend cannot double-insert.
    SINGLE WRITER: run one extend at a time per index (the standard
    contract for table maintenance); concurrent extends race the
    directory swap. All directory manipulation goes through the
    Hadoop FileSystem API resolved from the index path, so the same
    code maintains a local, HDFS, or s3a:// index (object-store
    renames are copies — slower, and the swap window below widens).

    Crash behavior: the merged index is written to a staging
    directory, then swapped in via rename-aside + rename-in. The live
    index stays readable until the first rename; a crash INSIDE the
    two-rename window leaves the previous index intact under
    ``.old-<name>-<pid>`` and :func:`load_dedup_index` names it in
    its error for one-rename recovery. Orphans (``.extend-*`` /
    ``.old-*``) older than one hour are swept at the start of the
    next extend — the age gate keeps a sweep from destroying a
    concurrent extend's live staging directory.

    READER-VISIBLE OUTAGE (ADVICE r11): between the two renames the
    index path does not exist, so a concurrent
    :func:`load_dedup_index` — or an in-flight serve lazily re-reading
    the parquet — fails for that instant (seconds on HDFS, longer on
    object stores where rename is a copy). Schedule extends off the
    serve path, or retry loads once on failure; a serve fleet that
    cannot tolerate the blip should read through a versioned-pointer
    layout instead (see ``streaming/rollup.py`` for that pattern —
    generations + an atomic meta pointer keep the previous snapshot
    readable through every commit).
    """
    spark = new_df.sparkSession
    index = load_dedup_index(spark, path)
    meta = index["meta"]
    num_hashes, bands, w = meta["num_hashes"], meta["bands"], meta["w"]

    fs, jpath, jvm = hadoop_fs(spark, path)
    name = jpath.getName()
    parent = jpath.getParent()
    now_ms = spark._jvm.java.lang.System.currentTimeMillis()
    for status in fs.listStatus(parent):
        entry = status.getPath().getName()
        if entry.startswith((f".extend-{name}-", f".old-{name}-")):
            if now_ms - status.getModificationTime() > 3_600_000:
                fs.delete(status.getPath(), True)

    fresh = new_df.join(
        index["sigs"].select(F.col("corpus_id").alias(id_col)), id_col, "left_anti"
    )
    mins = _minhash_mins(fresh, text_col, id_col, num_hashes=num_hashes, w=w)
    sig = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    added = mins.select(
        F.col("_id").alias("corpus_id"), sig.alias("sig")
    ).localCheckpoint()
    n_added = added.count()

    import os

    stage_name = f".extend-{name}-{os.getpid()}"
    stage = jvm.org.apache.hadoop.fs.Path(parent, stage_name)
    merged = index["sigs"].unionByName(added)
    _write_index_components(
        spark, merged, str(stage.toString()), num_hashes, bands, w
    )

    old = jvm.org.apache.hadoop.fs.Path(parent, f".old-{name}-{os.getpid()}")
    if not fs.rename(jpath, old):
        raise IOError(f"extend_dedup_index: rename-aside of {path!r} failed")
    if not fs.rename(stage, jpath):
        raise IOError(
            f"extend_dedup_index: swap-in failed; previous index preserved "
            f"at {old.toString()!r} — rename it back to recover"
        )
    fs.delete(old, True)
    return n_added


def _index_recovery_candidates(spark, path: str) -> list[str]:
    """`.old-<name>-*` siblings of a missing index — the previous
    index a crashed extend swap left aside (see extend_dedup_index)."""
    try:
        fs, jpath, _ = hadoop_fs(spark, path)
        name = jpath.getName()
        parent = jpath.getParent()
        if parent is None or not fs.exists(parent):
            return []
        return [
            str(s.getPath().toString())
            for s in fs.listStatus(parent)
            if s.getPath().getName().startswith(f".old-{name}-")
        ]
    except Exception:  # recovery hinting must never mask the real error
        return []
