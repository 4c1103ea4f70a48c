"""Similarity search over the ``embeddings`` table (array<float>).

Two paths, per the scale contract:

- **brute-force cosine top-k** — the exactness baseline. The query set
  is broadcast (it's small by construction); each executor scans its
  slice of the corpus once, scores with a JVM-side `aggregate`/
  `zip_with` dot product (no Python in the hot loop), and a window
  keeps top-k. Cost is O(|corpus|·|queries|) but embarrassingly
  parallel with NO shuffle of the corpus — only the tiny top-k result
  shuffles. This is the right *oracle* but the wrong default at 100 TB.
- **sign-LSH (random hyperplane) bucketed top-k** — the scale path.
  K seeded hyperplanes give a 2^K-bucket partition; queries only score
  against corpus vectors in the same bucket, cutting the scan by ~2^K
  at a recall cost set by K. Hyperplanes are generated from a fixed
  seed and inlined as literal arrays, so the plan is deterministic and
  the DuckDB oracle can replay it exactly.

Vectors stay `array<float>` end-to-end — no Python round-trip, no ml
Vector conversion in the hot path.
"""

from __future__ import annotations

import os
import re

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hermod_spark.data import checkpoint_guarded, ensure_min_partitions
from hermod_spark.state import GenerationStore

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _ident_sql(name: str) -> str:
    """Backticked SQL reference for a vector column name, refused
    unless it is a plain identifier (the layout.py ``_IDENT``
    discipline — ADVICE r13): these names are interpolated into
    ``F.expr`` strings, where an embedded backtick breaks parsing and
    a dotted name silently changes resolution semantics versus the
    ``F.col`` path."""
    if not _IDENT.match(name):
        raise ValueError(
            f"vector column name {name!r} must be a plain identifier "
            f"(letters, digits, underscore) for the SQL-string LSH path"
        )
    return f"`{name}`"


def _vec(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product, JVM-side: zip_with multiply +
    aggregate sum (left-to-right, same order DuckDB's list_dot_product
    uses — verified bit-identical)."""
    prod = F.zip_with(
        _vec(a), _vec(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prod, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def l2_dist2(a: Column | str, b: Column | str) -> Column:
    """Exact squared L2 distance, JVM-side — the shared fold behind
    l2_brute_force_topk's ground truth AND ivfpq_rerank_topk's exact
    re-score (one definition so the two legs of a recall comparison
    can never drift in fold order)."""
    return F.aggregate(
        F.zip_with(
            _vec(a),
            _vec(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of the first ``n_queries`` vectors against the
    whole corpus (excluding self). The query side is broadcast — the
    'join' is a broadcast nested loop over a small constant set, i.e. a
    single corpus scan, not a shuffle."""
    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_min_partitions(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rnk")
        .orderBy("query_id", "rnk")
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed ⇒ reproducible plan
    and oracle)."""
    rs = np.random.RandomState(seed)
    return [[float(x) for x in rs.standard_normal(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit j = sign(vec · plane_j). Planes are
    literal arrays → constant-folded; per-row work is n_planes JVM dot
    products.

    Each plane is ONE ``F.lit(list)`` array literal, not an
    ``F.array`` of per-element lits: the per-element form cost 64
    py4j round-trips per plane, and at 8 bands × 4 planes the DRIVER
    spent ~3 s just constructing the expression tree on every plan
    build (measured r13 — the dominant cost of the incremental-KNN
    serve, whose data side is snapshot-sized). The literal value, the
    optimized plan, and the oracle arithmetic are identical."""
    if isinstance(vec, str):
        # ONE parsed expression (see _dot_literal_sql): py4j latency on
        # a busy driver is ~1 ms/call, and the per-plane Python
        # construction costs ~50 ms per dot — material on every
        # LSH-family plan build
        return F.expr(_bucket_literal_sql(_ident_sql(vec), planes))
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        plane = F.lit([float(x) for x in p])
        bucket = bucket + F.when(dot(vec, plane) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Bucketed approximate top-k: score only same-bucket pairs.

    The corpus is hashed once; the join key is the bucket id, so the
    physical plan is a broadcast hash join on a small int key — at
    100 TB the corpus side still never shuffles (bucket id is computed
    in the scan projection) and the per-query candidate set shrinks
    ~2^n_planes-fold. Recall < 1 by design; raise n_planes bands or
    multi-probe for production recall targets.

    Pass ``dim`` (the embedding dimensionality, from table metadata)
    so plan construction stays lazy; omitting it falls back to a
    one-row ``.first()`` probe — an eager driver-side job per plan
    build, fine interactively, wrong inside a pipeline."""
    dim = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    hashed = ensure_min_partitions(embeddings).select(
        F.col(id_col), F.col(vec_col), lsh_bucket(vec_col, planes).alias("bucket")
    )
    q = hashed.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), F.col("bucket")
    )
    c = hashed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), F.col("bucket")
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rnk")
        .orderBy("query_id", "rnk")
    )


def _recall_per_query(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_truth, n_hits, recall) of an approximate top-k
    against its exact truth: per query, the truth size, how many truth
    neighbors the approximate side found, and their ratio rounded to
    6 places. Both inputs are (query_id, neighbor_id[, …]) frames of
    n_queries×k rows — the one recall measurement every *_recall_check
    audit runs."""
    hits = truth.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            "n_truth",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(F.col("n_hits") / F.col("n_truth"), 6).alias("recall"),
        )
    )


def ivf_recall_check(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    n_probe: int = 4,
    min_recall: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Recall@k of the TRAINED IVF path against exact brute-force
    truth, as a hash-checkable claim: per query, ``n_truth`` (the
    exact top-k size, which a cross-engine oracle reproduces) and
    ``recall_ok`` (IVF found ≥ min_recall of the truth — a boolean the
    oracle asserts TRUE, so a recall regression reds the row).

    The whole pipeline is deterministic (hash-ordered k-means sample,
    seeded init, tie-broken rankings), so the booleans are stable for
    fixed data. Both inputs are n_queries×k rows — the verification
    join is driver-trivial regardless of corpus size."""
    ivf = ivf_topk(
        embeddings, k, n_queries, n_centroids, n_probe, id_col, vec_col,
        centroids=centroids,
    )
    bf = brute_force_topk(embeddings, k, n_queries, id_col, vec_col)
    return _recall_per_query(bf, ivf).select(
        "query_id",
        "n_truth",
        (F.col("n_hits") / F.col("n_truth") >= F.lit(min_recall)).alias(
            "recall_ok"
        ),
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector affine int8 quantization: q_i = floor((x_i - min) /
    scale + 0.5) with scale = (max - min)/255 — 4× smaller embedding
    storage with bounded error, the standard compression for 100 TB
    vector corpora. Pure array exprs; degenerate constant vectors get
    scale 0 and all-zero codes. floor(+0.5) rounding is explicit so
    every engine reproduces the codes bit-for-bit."""
    v = F.col(vec_col)
    lo = F.array_min(v).cast("double")
    hi = F.array_max(v).cast("double")
    scale = (hi - lo) / F.lit(255.0)
    codes = F.when(scale == 0, F.transform(v, lambda _: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.floor((x.cast("double") - lo) / scale + 0.5).cast("int")
        )
    )
    return embeddings.select(
        F.col(id_col),
        F.round(lo, 6).alias("zero_point"),
        F.round(scale, 6).alias("scale"),
        codes.alias("codes"),
    )


def normalize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2 normalization to unit vectors — the standard pre-step that
    turns cosine search into plain inner product (so IVF-IP and dot
    scoring are exact cosine). Pure array exprs, shuffle-free; the
    norm uses the same left-to-right `aggregate` fold as DuckDB's
    list_dot_product (bit-identical). Zero vectors pass through as
    zeros (norm 0 guard)."""
    v = F.col(vec_col)
    n = norm(v)
    unit = F.when(n == 0, F.transform(v, lambda _: F.lit(0.0))).otherwise(
        F.transform(v, lambda x: F.round(x.cast("double") / n, 6))
    )
    return embeddings.select(
        F.col(id_col), F.round(n, 6).alias("l2_norm"), unit.alias("unit")
    )


def centroids_of(
    embeddings: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """CONFORMANCE-ONLY coarse centroids: the first ``n_centroids``
    vectors by id — a derivation DuckDB can replay verbatim
    (``WHERE vec_id < n``), which is what keeps the `sim_ivf_*`
    cross-engine oracle pairs exact. Production recall comes from
    :func:`train_centroids_kmeans`; both produce the same model shape
    (literal arrays), so everything downstream is shared."""
    rows = (
        embeddings.filter(F.col(id_col) < n_centroids)
        .orderBy(id_col)
        .select(vec_col)
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def train_centroids_kmeans(
    embeddings: DataFrame,
    n_centroids: int = 8,
    sample_size: int = 2048,
    n_iter: int = 20,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means trainer for the IVF coarse quantizer
    (VERDICT r3 #4 — replaces the first-n-by-id stand-in for
    production recall).

    Scale shape: ONE TakeOrdered pass draws a deterministic
    hash-ordered sample of ``sample_size`` vectors (no full sort, no
    full collect — at 100 TB this still moves only sample_size × dim
    floats to the driver), then Lloyd iterations run in numpy on the
    driver. The resulting model is tiny (n_centroids × dim) and is
    inlined as literal arrays, so assignment stays a 0-shuffle
    map-side expression exactly like the stand-in.

    Deterministic end-to-end: the sample is hash-ordered (not
    ``.sample()``, whose output depends on partitioning), init is
    k-means++ from a seeded RNG, and iteration count is fixed.
    Spherical (unit-normalized) k-means so max-inner-product
    assignment in :func:`ivf_assign` is exactly nearest-centroid for
    cosine retrieval. Empty clusters reseed to the point farthest
    from its centroid (deterministic argmax)."""
    from hermod_spark.operators.sketches import uniform_hash

    rows = (
        embeddings.select(
            uniform_hash(F.col(id_col).cast("string")).alias("_h"),
            F.col(vec_col).alias("_v"),
        )
        .orderBy("_h")
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    n = len(X)
    if n == 0:
        raise ValueError("cannot train centroids on an empty/zero sample")
    k = min(n_centroids, n)
    rng = np.random.RandomState(seed)
    # k-means++ init on the unit sphere (distance = 1 - cosine)
    centers = [X[rng.randint(n)]]
    for _ in range(1, k):
        d2 = np.min(
            [np.maximum(0.0, 1.0 - X @ c) for c in centers], axis=0
        )
        total = d2.sum()
        if total == 0:
            centers.append(X[rng.randint(n)])
            continue
        centers.append(X[np.searchsorted(np.cumsum(d2), rng.rand() * total)])
    C = np.asarray(centers)
    for _ in range(n_iter):
        sims = X @ C.T
        assign = np.argmax(sims, axis=1)
        newC = np.zeros_like(C)
        # worst-served sample points, worst first: when SEVERAL
        # clusters empty in the same iteration each takes the NEXT
        # point off this list — a shared argmin would reseed them all
        # to the same point, and the tie-broken reassignment would
        # empty the duplicates again forever (a permanently collapsed
        # model)
        worst_order = iter(np.argsort(np.max(sims, axis=1)))
        for j in range(k):
            members = X[assign == j]
            if len(members) == 0:
                # reseed: the next-worst-served sample point
                newC[j] = X[next(worst_order)]
            else:
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                newC[j] = m / nm if nm > 0 else C[j]
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC
    # round for stable, compact literals; re-rounding keeps them unit
    # to ~1e-6 which is irrelevant for argmax assignment
    return [[round(float(x), 6) for x in c] for c in C]


def ivf_assign(vec: Column | str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id (max inner product; ties → lowest id) as a
    pure map-side expression: centroid vectors are LITERAL arrays, so
    assignment costs n_centroids JVM dot products per row — no join,
    no shuffle, exactly like lsh_bucket.

    Inner product (the IVF-IP coarse quantizer) rather than cosine:
    normalizing by ||v|| cannot change a row's argmax, and dropping
    the norms cuts 2×n_centroids aggregate folds per row to zero —
    only the raw dots remain, identical in any engine.

    Built as one SQL string (see the PQ note above `_sql_darr`): the
    Python Column API pays a py4j round-trip per literal — ~2 s of
    plan-build for 8×64 centroid floats; F.expr parses in ms with the
    identical tree (same zip_with/aggregate fold, same values)."""
    vec_sql = vec if isinstance(vec, str) else None
    if vec_sql is None:
        raise TypeError("ivf_assign requires a column NAME for SQL building")
    sims = _ivf_sims_sql(vec_sql, centroids)
    # array_position is 1-based and returns the FIRST max → lowest id
    return F.expr(
        f"CAST(array_position({sims}, array_max({sims})) - 1 AS INT)"
    )


def _ivf_dot_sql(vec_sql: str, c: list[float]) -> str:
    return (
        f"aggregate(zip_with({vec_sql}, {_sql_darr(c)}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
    )


def _ivf_sims_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    return "array(" + ", ".join(_ivf_dot_sql(vec_sql, c) for c in centroids) + ")"


def ivf_probe_lists(
    vec: Column | str, centroids: list[list[float]], n_probe: int
) -> Column:
    """Top-``n_probe`` centroid ids by inner product (ties → lowest
    id), as an array — the lists a query probes. Same literal-array
    map-side shape (and same SQL-string construction) as ivf_assign."""
    if not isinstance(vec, str):
        raise TypeError("ivf_probe_lists requires a column NAME")
    sims = _ivf_sims_sql(vec, centroids)
    # rank (sim desc, index asc) without a shuffle: pair each sim with
    # its index, sort pairs descending by (sim, -index) via struct sort
    return F.expr(
        f"transform(slice(reverse(array_sort(transform({sims}, "
        f"(s, i) -> named_struct('s', s, 'ni', -i)))), 1, {n_probe}), "
        f"p -> CAST(-p.ni AS INT))"
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest coarse
    centroid (inverted lists), then score queries only against their
    ``n_probe`` nearest lists. Same probe shape as lsh_topk —
    broadcast the small query side, join on the int list id — but the
    partitioning is data-driven (centroids) instead of data-oblivious
    (hyperplanes), which is what production ANN uses when recall
    matters; raising n_probe trades candidate volume for recall
    without touching the stored lists.

    ``centroids=None`` (the default) trains the coarse quantizer with
    :func:`train_centroids_kmeans`; pass an explicit model (e.g.
    :func:`centroids_of` for the cross-engine conformance queries) to
    pin the assignment."""
    cents = (
        centroids
        if centroids is not None
        else train_centroids_kmeans(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col
        )
    )
    assigned = ensure_min_partitions(embeddings).select(
        F.col(id_col), F.col(vec_col), ivf_assign(vec_col, cents).alias("list_id")
    )
    q = assigned.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(ivf_probe_lists(vec_col, cents, n_probe)).alias("list_id"),
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), F.col("list_id")
    )
    scored = (
        c.join(F.broadcast(q), on="list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rnk")
        .orderBy("query_id", "rnk")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: same-bucket self-join,
    cosine ≥ threshold. True near-dups (cosine→1) collide in every
    sign-LSH bucket with overwhelming probability, so bucketing keeps
    recall high precisely for the pairs dedup cares about.

    ``dim`` as in :func:`lsh_topk` — pass it to keep plan construction
    lazy (no eager ``.first()`` probe)."""
    dim = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    hashed = ensure_min_partitions(embeddings).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    a, b = hashed.alias("a"), hashed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a._id") < F.col("b._id")))
        .withColumn("sim", cosine(F.col("a._v"), F.col("b._v")))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round("sim", 6).alias("sim"),
        )
    )  # unsorted: O(pairs) output — a trailing global sort is a full
    # range shuffle at 100 TB; the correctness canon sorts rows itself


def class_stats(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding diagnostics — the pre-training sanity pass
    over a labeled embedding corpus: vector count, mean L2 norm, and
    mean cosine of each vector to its label centroid (intra-class
    cohesion; collapsing or mislabeled classes show up as low
    cohesion / wild norms).

    Scale shape: the centroid model comes from
    :func:`curation.group_centroids` (posexplode → (label, pos)
    partial-aggregated sums — hot labels spread over dim× keys) and is
    #labels × dim — model-sized, broadcast back. The stats pass is one
    broadcast join + one map-side-combinable aggregation over exact
    DECIMAL(18,9) sums, so the result is independent of row order and
    partitioning — the property that lets the DuckDB oracle hash-match
    bit-for-bit."""
    from hermod_spark.operators.curation import group_centroids

    cents = group_centroids(embeddings, F.col(label_col).alias("grp"), vec_col)
    joined = embeddings.join(
        F.broadcast(cents), F.col(label_col) == F.col("grp")
    )
    # ONE O(dim) pass per row: the norms/dot fold into a struct in a
    # PROJECTION below the aggregate, and every agg column reads a
    # field of that struct. Referencing the folds from each agg column
    # directly would re-run them per column (aggregate expressions
    # don't share subtrees, and lambda-bearing expressions skip
    # subexpression elimination — measured ~2× on this query). The
    # zero-norm guard makes the cosine NULL explicitly: a zero
    # vector's 0/0 returns NULL in legacy mode but THROWS under ANSI
    # (Spark 4 default) — one zero vector would abort the whole pass.
    per_row = F.transform(
        F.array(
            F.struct(
                norm(F.col(vec_col)).alias("na"),
                norm(F.col("centroid")).alias("nb"),
                dot(F.col(vec_col), F.col("centroid")).alias("d"),
            )
        ),
        lambda s: F.struct(
            s.getField("na").cast("decimal(18,9)").alias("norm_d"),
            F.when(
                (s.getField("na") > 0) & (s.getField("nb") > 0),
                s.getField("d") / (s.getField("na") * s.getField("nb")),
            ).cast("decimal(18,9)").alias("cos_d"),
        ),
    )[0]
    pre = joined.select(F.col(label_col), per_row.alias("_r"))
    agg = pre.groupBy(F.col(label_col)).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("_r.norm_d").alias("_sn"),
        F.sum("_r.cos_d").alias("_sc"),
        # cosine is NULL for a zero vector (0/0): averaging over
        # n_vectors would silently bias cohesion downward for classes
        # containing zero vectors — divide by the DEFINED count
        F.count("_r.cos_d").alias("_nc"),
    )
    return agg.select(
        label_col,
        "n_vectors",
        F.round(F.col("_sn").cast("double") / F.col("n_vectors"), 6).alias(
            "avg_norm"
        ),
        F.round(F.col("_sc").cast("double") / F.col("_nc"), 6).alias(
            "avg_cos_centroid"
        ),
    )


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    n_iter: int = 15,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    vector into ``m`` subspaces, k-means each with ``n_codes``
    codewords. A vector then compresses to m small ints — at 100 TB
    this is what makes the candidate set memory-resident (64 floats →
    8 nibbles here), while IVF handles the candidate SELECTION.

    Same deterministic training shape as the IVF coarse quantizer:
    ONE hash-ordered TakeOrdered sample (sample_size × dim to the
    driver), seeded k-means++ per subspace in numpy, fixed iteration
    count, codewords rounded for stable literals. Returns
    m × n_codes × (dim/m) floats."""
    from hermod_spark.operators.sketches import uniform_hash

    rows = (
        embeddings.select(
            uniform_hash(F.col(id_col).cast("string")).alias("_h"),
            F.col(vec_col).alias("_v"),
        )
        .orderBy("_h")
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    if n == 0:
        raise ValueError("cannot train PQ codebooks on an empty sample")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for b in range(m):
        S = X[:, b * sub : (b + 1) * sub]
        k = min(n_codes, n)
        rng = np.random.RandomState(seed + b)
        # k-means++ init (L2)
        centers = [S[rng.randint(n)]]
        for _ in range(1, k):
            d2 = np.min(
                [((S - c) ** 2).sum(axis=1) for c in centers], axis=0
            )
            total = d2.sum()
            if total == 0:
                centers.append(S[rng.randint(n)])
                continue
            centers.append(S[np.searchsorted(np.cumsum(d2), rng.rand() * total)])
        C = np.asarray(centers)
        for _ in range(n_iter):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            newC = np.array(
                [
                    S[assign == j].mean(axis=0)
                    if (assign == j).any()
                    else S[np.argmax(np.min(d2, axis=1))]
                    for j in range(k)
                ]
            )
            if np.allclose(newC, C, atol=1e-12):
                C = newC
                break
            C = newC
        books.append([[round(float(x), 6) for x in c] for c in C])
    return books


# The PQ expressions are built as SQL STRINGS parsed once via F.expr:
# constructing m × n_codes literal-array folds through the Python
# Column API costs thousands of py4j round-trips (~6 s of plan-build
# per query at m=8, n_codes=16); one 30 KB SQL string parses JVM-side
# in milliseconds and yields the IDENTICAL expression tree (same
# zip_with/aggregate shapes, same left-to-right fold order, so results
# stay bit-identical to the DuckDB oracle).


def _sql_darr(vals: list[float]) -> str:
    return "array(" + ", ".join(f"{float(x)!r}D" for x in vals) + ")"


def _pq_dist2_sql(vec_sql: str, b: int, sub: int, codeword: list[float]) -> str:
    sv = f"slice({vec_sql}, {b * sub + 1}, {sub})"
    return (
        f"aggregate(zip_with({sv}, {_sql_darr(codeword)}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _pq_codes_sql(vec_sql: str, codebooks: list[list[list[float]]]) -> str:
    codes = []
    for b, book in enumerate(codebooks):
        sub = len(book[0])
        dists = (
            "array("
            + ", ".join(_pq_dist2_sql(vec_sql, b, sub, cw) for cw in book)
            + ")"
        )
        codes.append(
            "CAST(array_min(transform("
            + dists
            + ", (d, i) -> named_struct('d', d, 'i', i))).i AS INT)"
        )
    return "array(" + ", ".join(codes) + ")"


def _adc_sql(
    codebooks: list[list[list[float]]], q_sql: str, codes_sql: str
) -> str:
    """Asymmetric-distance SQL: Σ_b L2²(q subvector b, codeword of
    code b) — shared by `pq_topk` and `ivfpq_topk`."""
    sub = len(codebooks[0][0])
    terms = []
    for b, book in enumerate(codebooks):
        book_arr = "array(" + ", ".join(_sql_darr(c) for c in book) + ")"
        cw = f"element_at({book_arr}, element_at({codes_sql}, {b + 1}) + 1)"
        terms.append(
            f"aggregate(zip_with(slice({q_sql}, {b * sub + 1}, {sub}), {cw}, "
            f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            f"0.0D, (acc, v) -> acc + v)"
        )
    return " + ".join(terms)


def pq_encode(vec: str, codebooks: list[list[list[float]]]) -> Column:
    """Vector column (by NAME) → array of m codes (argmin-L2 codeword
    per subspace, ties → lowest code). Pure literal-array map-side
    math — the same 0-shuffle shape as ivf_assign, m × n_codes small
    dot folds per row."""
    return F.expr(_pq_codes_sql(vec, codebooks))


def pq_codes(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ-encode the corpus: (id, codes array, reconstruction error).
    The recon error (exact L2 between the vector and its codeword
    concatenation) is the compression-quality audit column."""
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(embeddings, m, n_codes, id_col=id_col, vec_col=vec_col)
    )
    codes = pq_encode(vec_col, books)
    # m*n_codes distance folds per row: spread a single-split input
    # (no-op on real multi-split tables)
    bound = ensure_min_partitions(embeddings).select(
        F.col(id_col), F.col(vec_col).alias("_v"), codes.alias("codes")
    )
    # the reconstruction error IS the asymmetric distance of a vector
    # to its own codes — reuse the shared ADC fold (hand-rebuilding it
    # here risked silently diverging recon_error from est_dist)
    recon = _adc_sql(books, "_v", "codes")
    return bound.select(
        id_col, "codes", F.expr(f"round(sqrt({recon}), 6)").alias("recon_error")
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ADC top-k (asymmetric distance): exact query vector vs PQ codes
    of the corpus — est L2 = Σ_m dist²(q_sub, codeword[code_m]).
    The corpus side carries only the codes (the compressed form);
    queries are broadcast; ranking shuffles scored candidates only.
    In production this runs inside each IVF probe list; here it's the
    whole (small) corpus so the DuckDB oracle can replay it exactly."""
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(embeddings, m, n_codes, id_col=id_col, vec_col=vec_col)
    )
    sub = len(books[0][0])
    coded = ensure_min_partitions(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode(vec_col, books).alias("codes"),
    )
    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    est = F.expr(_adc_sql(books, "q_vec", "codes"))
    # round BEFORE ranking (same convention as tfidf_top_terms): rank
    # order must not flap on a final-ulp double difference
    scored = (
        coded.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("est_dist", F.round(est, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("est_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "est_dist", "rnk")
        .orderBy("query_id", "rnk")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF + PQ composed — the PRODUCTION ANN index shape (FAISS
    IVFPQ): coarse-quantize the corpus into inverted lists, PQ-encode
    each vector, then answer queries by ADC-scoring only the codes in
    the query's ``n_probe`` nearest lists. This is the composition the
    `pq_topk` docstring promises ("in production ADC runs inside each
    IVF probe list").

    Scale shape: both models (centroids: n_centroids×dim; codebooks:
    m×n_codes×dim/m) are literals in the scan projection — assignment
    and encoding are 0-shuffle map-side math; the probe join broadcasts
    the exploded query side (n_queries × n_probe rows) against the
    coded corpus partitioned by list; candidates per query =
    corpus/n_centroids × n_probe — the 100 TB memory story, since only
    CODES (m bytes/vector, not dim floats) flow through the join and
    rank."""
    cents = (
        centroids
        if centroids is not None
        else train_centroids_kmeans(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col
        )
    )
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(
            embeddings, m, n_codes, id_col=id_col, vec_col=vec_col
        )
    )
    base = ensure_min_partitions(embeddings)
    coded = base.select(
        F.col(id_col).alias("neighbor_id"),
        ivf_assign(vec_col, cents).alias("list_id"),
        pq_encode(vec_col, books).alias("codes"),
    )
    q = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(ivf_probe_lists(vec_col, cents, n_probe)).alias("list_id"),
    )
    est = F.expr(_adc_sql(books, "q_vec", "codes"))
    scored = (
        coded.join(F.broadcast(q), on="list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("est_dist", F.round(est, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("est_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "est_dist", "rnk")
        .orderBy("query_id", "rnk")
    )


def ivfpq_rerank_topk(
    embeddings: DataFrame,
    k: int = 5,
    rerank: int = 4,
    n_queries: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVFPQ + exact re-rank — the standard ANN serving form (FAISS
    ``IndexRefineFlat``): ADC nominates ``k·rerank`` candidates per
    query in the compressed domain, then ONLY those candidates join
    back to the embedding table for exact L2² and the returned top-k
    is ranked by the exact score. Fixes ADC's quantization-error
    misorderings near the top without ever scoring full vectors for
    more than k′ = k·rerank rows per query.

    Scale shape: everything up to the candidate list is
    :func:`ivfpq_topk` (codes-only probe join); the re-rank legs are
    two BOUNDED broadcast joins — candidates (n_queries×k′ rows) and
    query vectors (n_queries rows) against one corpus scan — so full
    dim-float vectors cross the wire for k′ rows per query, never for
    whole probe lists. No new shuffle at any corpus size."""
    kprime = k * rerank
    cand = ivfpq_topk(
        embeddings,
        k=kprime,
        n_queries=n_queries,
        n_centroids=n_centroids,
        n_probe=n_probe,
        m=m,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        codebooks=codebooks,
    ).select("query_id", "neighbor_id")
    nb = ensure_min_partitions(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    qv = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    d2 = l2_dist2("q_vec", "c_vec")
    exact = (
        nb.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("dist2", F.round(d2, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("dist2"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "dist2", "rnk")
        .orderBy("query_id", "rnk")
    )


def ivfpq_rerank_recall_check(
    embeddings: DataFrame,
    k: int = 5,
    rerank: int = 4,
    n_queries: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Measured recall@k of the re-ranked IVFPQ path against exact L2
    truth — same MEASUREMENT shape as :func:`pq_recall_check` (both
    sides deterministic, oracle value-checks the recall). The re-rank
    recovers the ADC misorderings inside the candidate pool, so this
    is the number that justifies the extra bounded join: it must sit
    at or above the raw-ADC recall for the same models (pinned by
    tests/test_similarity.py)."""
    rr = ivfpq_rerank_topk(
        embeddings,
        k=k,
        rerank=rerank,
        n_queries=n_queries,
        n_centroids=n_centroids,
        n_probe=n_probe,
        m=m,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        codebooks=codebooks,
    )
    truth = l2_brute_force_topk(embeddings, k, n_queries, id_col, vec_col)
    return _recall_per_query(truth, rr)


def pq_random_codebooks(
    dim: int, m: int = 8, n_codes: int = 16, seed: int = 5
) -> list[list[list[float]]]:
    """Seeded data-INDEPENDENT codebooks (same role as `hyperplanes`
    for LSH): the cross-engine conformance model. Encoding and ADC are
    exact given ANY codebooks, so the oracle-checked queries pin the
    plumbing with these reproducible literals at every scale factor,
    while training quality is pinned separately by pytest
    (trained codebooks must beat these on reconstruction error)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    rng = np.random.RandomState(seed)
    sub = dim // m
    return [
        [
            [round(float(x), 6) for x in rng.normal(0.0, 0.5, sub)]
            for _ in range(n_codes)
        ]
        for _ in range(m)
    ]


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    embedding-cosine near-duplicate pairs (sign-LSH bucketed, never
    all-pairs) → connected components → every vector labeled with its
    cluster id (min reachable id) and a ``keep`` flag for the one
    survivor per cluster. ``filter(keep)`` is the dedup; the cluster
    sizes are the redundancy audit.

    Reuses the text pipeline's :func:`dedup.connected_components`
    (driver union-find for bounded edge sets; O(log diameter)
    star-contraction rounds beyond it) on the embedding near-dup edge
    list — the same scale story, swapping the shingle-LSH candidate
    generator for the sign-LSH one."""
    from hermod_spark.operators.dedup import connected_components

    pairs = embedding_near_dups(
        embeddings, threshold, n_planes, seed, id_col, vec_col, dim
    ).select("id_a", "id_b")
    labels = connected_components(pairs, max_iterations)
    connected = labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )
    return (
        embeddings.select(id_col)
        .join(connected, id_col, "left")
        .select(
            id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


def class_outliers(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-class embedding outlier detection — the mislabel/noise scan
    a curation pipeline runs before training on a labeled embedding
    corpus: each vector's L2 distance to its class centroid, z-scored
    within the class, flagged when z exceeds ``z_threshold``.

    Scale shape (the same three-stage pattern as :func:`class_stats`):
    (1) the centroid model via :func:`curation.group_centroids` —
    (label, pos) shuffle keys, #labels×dim model rows; (2) the per-class
    distance moments via one map-side-combinable groupBy over exact
    DECIMAL(18,9) sums (partition-order independent, the property the
    DuckDB oracle hash-match rides on); (3) a scan-side z pass with both
    small models broadcast. No all-pairs anything; the corpus is read
    twice, shuffled (as aggregates) never."""
    from hermod_spark.operators.curation import group_centroids

    # The centroid model feeds BOTH downstream passes (moments + z);
    # without a checkpoint the whole (label,pos) aggregation subtree is
    # duplicated under each consumer. The model is #labels×dim rows —
    # materializing it once is free, re-aggregating the corpus twice
    # is not.
    cents = group_centroids(
        embeddings, F.col(label_col).alias("grp"), vec_col
    ).localCheckpoint()
    diff2 = F.zip_with(
        F.col(vec_col),
        F.col("centroid"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dist = F.sqrt(
        F.aggregate(diff2, F.lit(0.0).cast("double"), lambda acc, v: acc + v)
    )
    with_d = embeddings.join(
        F.broadcast(cents), F.col(label_col) == F.col("grp")
    ).select(F.col(id_col), F.col(label_col), dist.alias("_d"))
    moments = with_d.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_d").cast("decimal(18,9)")).alias("_s1"),
        F.sum((F.col("_d") * F.col("_d")).cast("decimal(18,9)")).alias("_s2"),
    )
    mu = F.col("_s1").cast("double") / F.col("_n")
    var = F.col("_s2").cast("double") / F.col("_n") - mu * mu
    stats = moments.select(
        F.col(label_col).alias("_lbl"),
        mu.alias("_mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("_sigma"),
    )
    z = F.when(F.col("_sigma") == 0, F.lit(0.0)).otherwise(
        (F.col("_d") - F.col("_mu")) / F.col("_sigma")
    )
    return (
        with_d.join(F.broadcast(stats), F.col(label_col) == F.col("_lbl"))
        .select(
            id_col,
            label_col,
            F.round("_d", 6).alias("dist"),
            F.round(z, 6).alias("z"),
            (z > F.lit(z_threshold)).alias("is_outlier"),
        )
    )


def random_projection(dim: int, k: int = 8, seed: int = 7) -> list[list[float]]:
    """Seeded data-INDEPENDENT projection matrix (Johnson-Lindenstrauss
    shape): k orthonormalized Gaussian rows over ``dim`` — the
    cross-engine conformance model for dimensionality reduction, same
    role `pq_random_codebooks` plays for PQ. Projection is exact given
    ANY matrix, so the oracle-checked query pins the plumbing with
    reproducible literals at every scale factor; projection QUALITY is
    pinned separately by pytest (trained PCA must beat this on
    reconstruction error)."""
    rng = np.random.RandomState(seed)
    rows = rng.normal(0.0, 1.0, (k, dim))
    # Gram-Schmidt for stable conditioning; rounding keeps the literals
    # identical in both engines
    basis: list[np.ndarray] = []
    for r in rows:
        for b in basis:
            r = r - np.dot(r, b) * b
        r = r / np.linalg.norm(r)
        basis.append(r)
    return [[round(float(x), 6) for x in b] for b in basis]


def train_pca(
    embeddings: DataFrame,
    k: int = 8,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[float], list[list[float]]]:
    """PCA components from a bounded deterministic sample — the same
    train-small/serve-everywhere shape as the IVF coarse quantizer and
    the PQ codebooks: ONE hash-ordered TakeOrdered sample
    (sample_size × dim to the driver), numpy SVD, sign-normalized
    components (largest-|x| element made positive) so the model is
    bit-stable across runs. Returns (mean, components) as rounded
    literal lists ready for :func:`project_embeddings`."""
    from hermod_spark.operators.sketches import uniform_hash

    rows = (
        embeddings.select(
            uniform_hash(F.col(id_col).cast("string")).alias("_h"),
            F.col(vec_col).alias("_v"),
        )
        .orderBy("_h")
        .limit(sample_size)
        .collect()
    )
    x = np.array([list(map(float, r["_v"])) for r in rows])
    mean = x.mean(axis=0)
    _, _, vt = np.linalg.svd(x - mean, full_matrices=False)
    comps = []
    for row in vt[:k]:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row = -row
        comps.append([round(float(v), 6) for v in row])
    return [round(float(m), 6) for m in mean], comps


def project_embeddings(
    embeddings: DataFrame,
    components: list[list[float]],
    mean: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project each vector onto ``components`` (optionally centering by
    ``mean`` first): one scalar column p0..p{k-1} per component, rounded
    to 6dp. The matrix is literals, so the whole projection is
    shuffle-free scan-side math (the serving half of PCA / random
    projection).

    The centered vector is bound ONCE via the single-element-array
    lambda trick (``inline(transform(array(centered), c -> struct(
    dots)))``): an intermediate named projection does NOT survive —
    Catalyst's projection collapse substitutes it into every one of
    the k dot folds, recomputing the centering k× and blowing the
    expression tree up k-fold (the r7 emb_project regression, VERDICT
    r7 #6). A lambda variable can't be inlined through, and the
    ``inline`` generator expands the k dots to columns in one
    evaluation. An all-zero/absent mean skips the centering layer
    entirely — (x − 0.0) ≡ x bit-exactly in IEEE, so results are
    unchanged and the random-projection path keeps its r6 plan."""
    dim = len(components[0])
    mu = [float(m) for m in (mean if mean is not None else [0.0] * dim)]
    if any(m != 0.0 for m in mu):
        src = F.zip_with(
            F.col(vec_col),
            F.array(*[F.lit(m) for m in mu]),
            lambda x, m: x.cast("double") - m,
        )
    else:
        src = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def _dots(c: Column) -> Column:
        fields = []
        for j, comp in enumerate(components):
            prod = F.zip_with(
                c, F.array(*[F.lit(float(v)) for v in comp]), lambda x, v: x * v
            )
            fold = F.aggregate(
                prod, F.lit(0.0).cast("double"), lambda a, v: a + v
            )
            # + 0.0 collapses IEEE -0.0 (engines disagree on the sign
            # of a rounded tiny negative)
            fields.append((F.round(fold, 6) + F.lit(0.0)).alias(f"p{j}"))
        return F.struct(*fields)

    return ensure_min_partitions(embeddings).select(
        F.col(id_col), F.inline(F.transform(F.array(src), _dots))
    )


def pca_reconstruction_error(
    embeddings: DataFrame,
    components: list[list[float]],
    mean: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error of projecting onto
    ``components`` and mapping back — the audit number the train-vs-
    random pytest pins (orthonormal basis ⇒ error = E||c||² − E||p||²,
    computed distributed in one agg)."""
    dim = len(components[0])
    mu = mean if mean is not None else [0.0] * dim
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(m)) for m in mu]),
        lambda x, m: x.cast("double") - m,
    )
    bound = embeddings.select(centered.alias("_c"))
    norm2 = F.aggregate(
        F.transform(F.col("_c"), lambda x: x * x),
        F.lit(0.0).cast("double"),
        lambda a, v: a + v,
    )
    parts = []
    for comp in components:
        prod = F.zip_with(
            F.col("_c"),
            F.array(*[F.lit(float(c)) for c in comp]),
            lambda x, c: x * c,
        )
        fold = F.aggregate(prod, F.lit(0.0).cast("double"), lambda a, v: a + v)
        parts.append(fold * fold)
    proj2 = parts[0]
    for p in parts[1:]:
        proj2 = proj2 + p
    row = bound.select(
        F.avg(norm2 - proj2).alias("mse")
    ).first()
    return float(row["mse"])


def l2_brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact L2 top-k (ascending distance) — the ground truth the PQ
    recall audit compares against; same broadcast-queries/scan-corpus
    shape as the cosine brute force."""
    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_min_partitions(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    d2 = l2_dist2("q_vec", "c_vec")
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("dist2", F.round(d2, 6))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "dist2", "rnk")
    )


def pq_recall_check(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Measured recall@k of the PQ/ADC path against exact L2 truth —
    unlike :func:`ivf_recall_check`'s boolean CLAIM, this emits the
    MEASUREMENT (per query: n_truth, n_hits, recall), because with
    seeded data-independent codebooks both sides are SQL-replayable
    and the oracle value-checks the recall itself, not an assertion
    about it. Both inputs are n_queries×k rows, so the verification
    join is trivial at any corpus size."""
    pq = pq_topk(
        embeddings, k, n_queries, id_col=id_col, vec_col=vec_col,
        codebooks=codebooks,
    )
    truth = l2_brute_force_topk(embeddings, k, n_queries, id_col, vec_col)
    return _recall_per_query(truth, pq)


def lsh_recall_check(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Measured recall@k of the sign-LSH bucketed path against exact
    cosine truth — the number you tune ``n_planes`` by. Same shape as
    :func:`pq_recall_check`: both sides are deterministic (seeded
    hyperplanes), so the oracle value-checks the recall itself.

    A query whose bucket holds fewer than k neighbors returns fewer
    candidates; that recall loss is exactly what this audit surfaces
    (the production fix is multi-probe or fewer planes, and the fix is
    validated by re-running this same query). Both join inputs are
    n_queries×k rows — the audit costs one LSH pass + one brute-force
    pass, and the comparison itself is trivial at any corpus size."""
    approx = lsh_topk(
        embeddings, k, n_queries, n_planes=n_planes, seed=seed,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
    truth = brute_force_topk(embeddings, k, n_queries, id_col, vec_col)
    return _recall_per_query(truth, approx)


def ivf_recall_curve(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    probes: tuple = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Recall-vs-cost curve for the IVF probe knob: one row per
    ``n_probe`` with integer counters the oracle reproduces exactly —
    n_truth (exact top-k rows), n_hits (IVF∩truth), n_scanned
    (candidate pairs actually scored = the cost axis), n_corpus.
    recall@k = n_hits/n_truth; fraction scanned = n_scanned/
    (n_queries·(n_corpus−1)). This is THE operational ANN tradeoff:
    raising n_probe buys recall linearly in scan cost without touching
    the stored lists (VERDICT r7 #4).

    Plan shape: lists assigned once, candidates scored ONCE at the
    widest probe setting with their probe rank attached, then the
    probe sweep is a literal explode over the scored frame — per-p
    top-k via one window; no per-p rescan of the corpus. Queries
    broadcast; never a cartesian."""
    if list(probes) != sorted(set(probes)) or not probes:
        raise ValueError("probes must be sorted distinct and non-empty")
    max_p = max(probes)
    cents = (
        centroids
        if centroids is not None
        else train_centroids_kmeans(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col
        )
    )
    assigned = ensure_min_partitions(embeddings).select(
        F.col(id_col), F.col(vec_col), ivf_assign(vec_col, cents).alias("list_id")
    )
    q = assigned.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode(ivf_probe_lists(vec_col, cents, max_p)).alias(
            "probe_rank", "list_id"
        ),
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("list_id"),
    )
    scored = (
        c.join(F.broadcast(q), on="list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            cosine("q_vec", "c_vec").alias("sim"),
        )
        .localCheckpoint(eager=False)  # one scoring pass feeds every p
    )
    swept = scored.join(
        F.broadcast(
            embeddings.sparkSession.createDataFrame(
                [(int(p),) for p in probes], "n_probe INT"
            )
        ),
        F.col("probe_rank") < F.col("n_probe"),
    )
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    topk = swept.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )
    truth = brute_force_topk(embeddings, k, n_queries, id_col, vec_col).select(
        "query_id", "neighbor_id", F.lit(1).alias("_t")
    )
    hits = (
        topk.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("n_probe")
        .agg(F.sum(F.coalesce(F.col("_t"), F.lit(0))).alias("n_hits"))
    )
    scanned = swept.groupBy("n_probe").agg(
        F.count(F.lit(1)).alias("n_scanned")
    )
    n_truth = truth.groupBy().agg(F.count(F.lit(1)).alias("n_truth"))
    n_corpus = embeddings.groupBy().agg(F.count(F.lit(1)).alias("n_corpus"))
    # spine of requested probe settings: a probe whose candidate set
    # is EMPTY must still report (n_hits=0, n_scanned=0), not vanish
    # from the curve (hits/scanned are groupBys over surviving rows)
    spine = F.broadcast(
        embeddings.sparkSession.createDataFrame(
            [(int(p),) for p in probes], "n_probe INT"
        )
    )
    hits = spine.join(hits, "n_probe", "left").select(
        "n_probe", F.coalesce("n_hits", F.lit(0)).alias("n_hits")
    )
    scanned = spine.join(scanned, "n_probe", "left").select(
        "n_probe", F.coalesce("n_scanned", F.lit(0)).alias("n_scanned")
    )
    return (
        hits.join(scanned, "n_probe")
        .crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_corpus))
        .select("n_probe", "n_truth", "n_hits", "n_scanned", "n_corpus")
        .orderBy("n_probe")
    )


# --------------------------------------------------- model persistence
#
# Train-once / serve-many: at 100 TB the k-means, PQ, and PCA models
# are trained from a bounded sample ONCE, persisted, and reused by
# every serving query (and every round of an incremental corpus) —
# retraining per query both wastes the sample collect and silently
# changes the index when the corpus grows. Models are tiny (KBs of
# float lists), so the artifact is a single parquet written through
# Spark: readable on any cluster, schema-checked on load, exact —
# Python floats are IEEE doubles and parquet DOUBLE round-trips them
# bit-for-bit.

_MODEL_SCHEMA = "component STRING, i INT, j INT, vals ARRAY<DOUBLE>"


def save_ann_model(
    spark,
    path: str,
    *,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    pca: tuple[list[float], list[list[float]]] | None = None,
) -> None:
    """Persist any subset of the ANN model family to ONE parquet at
    ``path`` (overwrite). Rows are (component, i, j, vals):
    centroids → ('centroids', i, 0, centroid_i); codebooks →
    ('codebook', subspace, code, codeword); PCA → ('pca_mean', 0, 0,
    mean) + ('pca_component', i, 0, component_i)."""
    rows: list[tuple[str, int, int, list[float]]] = []
    if centroids is not None:
        rows += [("centroids", i, 0, [float(x) for x in c])
                 for i, c in enumerate(centroids)]
    if codebooks is not None:
        rows += [
            ("codebook", mi, ci, [float(x) for x in cw])
            for mi, book in enumerate(codebooks)
            for ci, cw in enumerate(book)
        ]
    if pca is not None:
        mean, comps = pca
        rows.append(("pca_mean", 0, 0, [float(x) for x in mean]))
        rows += [("pca_component", i, 0, [float(x) for x in c])
                 for i, c in enumerate(comps)]
    if not rows:
        raise ValueError("save_ann_model: nothing to save")
    spark.createDataFrame(rows, _MODEL_SCHEMA).coalesce(1).write.parquet(
        path, mode="overwrite"
    )


def load_ann_model(spark, path: str) -> dict:
    """Load a :func:`save_ann_model` artifact. Returns a dict with any
    of 'centroids', 'codebooks', 'pca' — shaped exactly as the train_*
    functions return them, so they drop into ivf_topk/ivfpq_topk/
    project_embeddings unchanged. Unknown component kinds raise (a
    truncated or foreign parquet must not silently serve a partial
    model)."""
    rows = spark.read.schema(_MODEL_SCHEMA).parquet(path).collect()
    known = {"centroids", "codebook", "pca_mean", "pca_component"}
    bad = {r["component"] for r in rows} - known
    if bad:
        raise ValueError(f"load_ann_model: unknown components {sorted(bad)}")
    out: dict = {}
    cents = sorted(
        (r for r in rows if r["component"] == "centroids"),
        key=lambda r: r["i"],
    )
    if cents:
        if [r["i"] for r in cents] != list(range(len(cents))):
            raise ValueError("load_ann_model: centroid indices not dense")
        out["centroids"] = [[float(x) for x in r["vals"]] for r in cents]
    cw = [r for r in rows if r["component"] == "codebook"]
    if cw:
        m = max(r["i"] for r in cw) + 1
        n_codes = max(r["j"] for r in cw) + 1
        # the count check alone passes a duplicated cell + a missing
        # one — verify every grid cell is present exactly once
        if {(r["i"], r["j"]) for r in cw} != {
            (i, j) for i in range(m) for j in range(n_codes)
        } or len(cw) != m * n_codes:
            raise ValueError("load_ann_model: codebook grid not dense")
        books: list[list[list[float]]] = [
            [None] * n_codes for _ in range(m)  # type: ignore[list-item]
        ]
        for r in cw:
            books[r["i"]][r["j"]] = [float(x) for x in r["vals"]]
        out["codebooks"] = books
    mean = [r for r in rows if r["component"] == "pca_mean"]
    comps = sorted(
        (r for r in rows if r["component"] == "pca_component"),
        key=lambda r: r["i"],
    )
    if mean or comps:
        if len(mean) != 1 or not comps:
            raise ValueError("load_ann_model: incomplete PCA model")
        # same dense-index contract as centroids/codebooks: a
        # truncated artifact (missing component i) or a duplicated row
        # must not silently serve a garbled projection model
        if [r["i"] for r in comps] != list(range(len(comps))):
            raise ValueError(
                "load_ann_model: pca_component indices not dense"
            )
        out["pca"] = (
            [float(x) for x in mean[0]["vals"]],
            [[float(x) for x in r["vals"]] for r in comps],
        )
    return out


# ------------------------------------------------------------- KNN self-join


def _dot_literal_sql(vec_sql: str, plane: list[float]) -> str:
    """SQL text of :func:`dot` against a literal plane — identical
    resolved expression (zip_with multiply + left-to-right aggregate),
    but ONE parser call instead of ~50 ms of py4j per dot (the
    `_ivf_dot_sql` discipline; measured r13 on the incremental-KNN
    serve, where 32 Python-built dots cost ~3 s of DRIVER time per
    plan while the data side is snapshot-sized)."""
    arr = "array(" + ",".join(repr(x) + "D" for x in plane) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _bucket_literal_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL text of :func:`lsh_bucket` (bit j = sign(vec · plane_j))."""
    terms = [
        f"(CASE WHEN {_dot_literal_sql(vec_sql, p)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    ]
    return "0 + " + " + ".join(terms)


def banded_buckets(
    vec_col: str, bands: list[list[list[float]]]
) -> Column:
    """array(bucket_band0, …, bucket_bandN) for all bands in ONE
    parsed expression — value-identical to
    ``F.array(*[lsh_bucket(vec_col, p) for p in bands])`` (pinned by
    test) at ~1% of its construction cost."""
    vec_sql = _ident_sql(vec_col)
    return F.expr(
        "array(" + ",".join(_bucket_literal_sql(vec_sql, p) for p in bands) + ")"
    )


def band_hyperplanes(
    dim: int, n_planes: int = 8, n_bands: int = 4, seed: int = 42
) -> list[list[list[float]]]:
    """``n_bands`` independent seeded hyperplane sets — the banding
    that turns single-shot sign-LSH (recall limited by one bucket
    draw) into an OR-construction: a true neighbor pair is a candidate
    if it collides in ANY band, so recall compounds as
    1 − (1 − p^n_planes)^n_bands while each band still prunes
    ~2^n_planes-fold."""
    return [
        hyperplanes(dim, n_planes, seed=seed + 7919 * b)
        for b in range(n_bands)
    ]


def knn_join(
    embeddings: DataFrame,
    k: int = 5,
    *,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbors SELF-join: every vector's top-k
    most-cosine-similar other vectors — the semantic-clustering /
    related-items workhorse the query-panel shapes (`lsh_topk`,
    `ivf_topk`: small fixed query set) and the threshold graph
    (`embedding_near_dups`: pairs above a cutoff) don't cover
    (VERDICT r11 #4). Output (query_id, neighbor_id, sim, rnk) for
    EVERY corpus id, rnk ≤ k.

    Scale shape — candidates from banded sign-LSH, exact rerank,
    never all-pairs:

    - bucket ids for all bands are computed IN THE SCAN projection
      (constant-folded plane literals, JVM dot products), then
      posexploded to (id, band_id, bucket) — ids only, vectors do NOT
      ride the candidate shuffle;
    - candidate pairs come from the per-band self-equi-join on
      (band_id, bucket) — the only quadratic step, bounded per bucket
      and cappable via ``max_bucket`` (drop hot buckets whole, the
      LSH max_bucket / ER max_block remedy);
    - cross-band duplicates collapse via distinct on BARE ID PAIRS
      (the exchange ships two longs per row), then ONE hash join per
      side rehydrates vectors for the exact cosine rerank — with each
      vector's norm computed ONCE scan-side and carried through the
      join, so the per-pair work is a single dot-product fold instead
      of cosine()'s three (dot + 2 norms; measured 10.3 → ~4 s at
      sf0.1). sim = dot/(norm·norm) is arithmetic-identical to
      :func:`cosine`, so oracle parity is unchanged;
    - per-query top-k is a rank window partitioned by query —
      Spark's WindowGroupLimit pushes the k-filter map-side, so the
      sort state per partition is k rows, not the candidate list.

    Never a cartesian: every join is equi-keyed (bucket or id) — the
    plan gate asserts no CartesianProduct / BroadcastNestedLoopJoin.
    Ties break by neighbor id ascending; a vector whose buckets hold
    fewer than k candidates returns fewer rows (the recall audit
    :func:`knn_join_recall_check` is the tuning loop for that).

    ``dim`` as in :func:`lsh_topk` — pass it to keep plan
    construction lazy (no eager ``.first()`` probe)."""
    if k < 1:
        raise ValueError(f"knn_join: k={k} must be >= 1")
    if n_bands < 1:
        raise ValueError(f"knn_join: n_bands={n_bands} must be >= 1")
    dim = dim if dim is not None else len(embeddings.select(vec_col).first()[0])
    bands = band_hyperplanes(dim, n_planes, n_bands, seed)
    buckets = banded_buckets(vec_col, bands)
    # checkpointed: the band table feeds BOTH sides of the self-join —
    # without the cut, each side re-runs the n_bands × n_planes
    # hyperplane fold over the corpus, and the monolithic plan was
    # measured 4× slower than the staged one at the 10× probe scale
    # (174 s vs 46 s; plan-reuse did not cover the doubled hash scan)
    keyed = (
        ensure_min_partitions(embeddings)
        .select(F.col(id_col).alias("_id"), buckets.alias("_bks"))
        .select(
            "_id", F.posexplode("_bks").alias("band_id", "bucket")
        )
        .localCheckpoint()
    )
    if max_bucket is not None:
        w_b = Window.partitionBy("band_id", "bucket")
        keyed = keyed.withColumn(
            "_n", F.count(F.lit(1)).over(w_b)
        ).filter(F.col("_n") <= max_bucket).drop("_n")
    a = keyed.select(
        "band_id", "bucket", F.col("_id").alias("query_id")
    )
    b = keyed.select(
        "band_id", "bucket", F.col("_id").alias("neighbor_id")
    )
    # UNDIRECTED candidate pairs (r14 optimization): the self-join
    # keeps only query < neighbor, halving the distinct exchange, the
    # checkpointed pair RDD, and the rehydration/dot work vs the old
    # directed (!=) form; the mirrored direction is re-emitted AFTER
    # scoring by one in-stage explode (no second evaluation of the
    # join subtree, no extra checkpoint). sim is bit-identical both
    # ways — zip_with multiply is elementwise-commutative and the
    # fold order over i is unchanged, as is qn·nm vs nm·qn — so the
    # rank window sees exactly the old directed row set.
    pairs = (
        a.join(b, ["band_id", "bucket"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        # NO checkpoint (r14 opt round): pairs has ONE downstream
        # consumer (the rerank chain), so a lineage cut buys no reuse —
        # and measured A/B (7 interleaved runs each at sf0.1) the
        # un-checkpointed form has both the best median and the
        # tightest tail (nockpt 3.14 / lazy 3.25 / eager 3.25 median;
        # max 4.51 / 5.37 / 8.66), because the whole candidate→rerank
        # chain stays one AQE-planned query and no per-construction
        # persisted RDD accumulates in the block manager. keyed above
        # stays EAGER: it feeds both concurrent sides of the
        # self-join, where lazy risks double-computing the scan+fold
        # at scale.
    )
    # vectors stay FLOAT in transit (dot() casts per element inside
    # the fold — float→double is exact, so sim is bit-identical either
    # way; parity re-proven by a 0-mismatch full-outer join). A
    # scan-side array<double> cast was tried (it collapses the fold's
    # casts, −0.14 s at sf0.1 where both rehydration joins broadcast)
    # but it DOUBLES every byte the rerank moves: at the 10× probe the
    # emb frame crosses the broadcast threshold, both joins degrade to
    # SortMergeJoin, and the pair exchange ships a 512 B double vector
    # per candidate — interleaved A/B read 12.42 s (double) vs 8.19 s
    # (float) median at 10×, with far worse double tails (74 s cold).
    # Narrow types in the shuffle win at scale (guide §2.3, §3.1).
    emb = embeddings.select(
        F.col(id_col).alias("_eid"),
        F.col(vec_col).alias("_v"),
        norm(vec_col).alias("_nm"),
    )
    scored = (
        pairs.join(emb, pairs["query_id"] == emb["_eid"])
        .select(
            "query_id", "neighbor_id",
            F.col("_v").alias("_qv"), F.col("_nm").alias("_qn"),
        )
        .join(emb, F.col("neighbor_id") == emb["_eid"])
        .select(
            "query_id",
            "neighbor_id",
            (dot("_qv", "_v") / (F.col("_qn") * F.col("_nm"))).alias("sim"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("query_id").alias("query_id"),
                        F.col("neighbor_id").alias("neighbor_id"),
                        F.col("sim").alias("sim"),
                    ),
                    F.struct(
                        F.col("neighbor_id").alias("query_id"),
                        F.col("query_id").alias("neighbor_id"),
                        F.col("sim").alias("sim"),
                    ),
                )
            ).alias("_p")
        )
        .select("_p.query_id", "_p.neighbor_id", "_p.sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rnk"
        )
    )  # unsorted, like embedding_near_dups: a trailing global sort is
    # a full range shuffle at 100 TB; the correctness canon sorts rows


def knn_join_recall_check(
    embeddings: DataFrame,
    k: int = 5,
    n_check: int = 25,
    *,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Measured recall@k of :func:`knn_join` against exact cosine
    truth on the first ``n_check`` query ids — the banding/planes
    tuning loop, same audit shape as :func:`lsh_recall_check`. The
    KNN side runs the FULL self-join plan (auditing a special-cased
    small plan would validate nothing); truth is the broadcast
    brute-force pass over the same ``n_check`` queries."""
    approx = knn_join(
        embeddings, k, n_planes=n_planes, n_bands=n_bands, seed=seed,
        id_col=id_col, vec_col=vec_col, dim=dim, max_bucket=max_bucket,
    ).filter(F.col("query_id") < n_check)
    truth = brute_force_topk(embeddings, k, n_check, id_col, vec_col)
    return _recall_per_query(truth, approx)


def knn_classify(
    embeddings: DataFrame,
    k: int = 5,
    *,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """KNN-vote label prediction for EVERY vector from its
    :func:`knn_join` neighborhood — the semi-supervised labeling /
    label-noise-audit pass (a vector whose predicted label disagrees
    with its own is a mislabel candidate). Output (id, own label,
    predicted label, votes for the winner, k_found).

    One labels join onto the KNN output (neighbor side), then ONE
    hash aggregate per (id, label) and ONE `max_by` winner aggregate —
    the same window-free winner idiom as `label_propagation` (most
    votes, ties to the SMALLEST label, fully deterministic). No new
    shuffle shapes beyond the KNN join itself."""
    nn = knn_join(
        embeddings, k, n_planes=n_planes, n_bands=n_bands, seed=seed,
        id_col=id_col, vec_col=vec_col, dim=dim, max_bucket=max_bucket,
    )
    labels = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy(F.col("query_id").alias("_qid"), "_nl")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    winner = votes.groupBy("_qid").agg(
        F.min_by(
            "_nl",
            F.struct((-F.col("_cnt")).alias("_neg"), F.col("_nl").alias("_l")),
        ).alias("predicted_label"),
        F.max("_cnt").alias("votes"),
        F.sum("_cnt").alias("k_found"),
    )
    own = embeddings.select(
        F.col(id_col).alias("_qid"), F.col(label_col).alias("own_label")
    )
    return winner.join(own, "_qid").select(
        F.col("_qid").alias(id_col),
        "own_label",
        "predicted_label",
        F.col("votes").cast("bigint").alias("votes"),
        F.col("k_found").cast("bigint").alias("k_found"),
    )


def knn_split_leakage(
    embeddings: DataFrame,
    k: int = 5,
    *,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    weights: dict[str, float] | None = None,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """SEMANTIC eval-hygiene audit: k-nearest-neighbor pairs that
    straddle the train/val/test boundary — the leakage
    `curation.split_leakage`'s TEXT near-dup candidates cannot see
    (paraphrases and translations share no shingles but sit adjacent
    in embedding space; they leak eval answers just the same). Output
    one row per (split_a, split_b) with the undirected pair count,
    same-split pairs included as the baseline, `is_leak` on
    cross-split rows.

    Scale shape: pairs come from :func:`knn_join` (banded sign-LSH +
    exact rerank, never all-pairs), de-duplicated to undirected form
    scan-side (query < neighbor); split labels are the SAME
    deterministic md5-fraction hash `curation.split_assign` uses, so
    this audit and the text audit disagree only where the MODALITY
    disagrees; the rollup is ≤ |splits|² rows."""
    from hermod_spark.operators.curation import split_assign

    # undirected adjacency: a pair leaks if EITHER side lists the
    # other in its top-k — least/greatest + distinct (a bare
    # query<neighbor filter would drop pairs only the higher id sees)
    nn = (
        knn_join(
            embeddings, k, n_planes=n_planes, n_bands=n_bands, seed=seed,
            id_col=id_col, vec_col=vec_col, dim=dim, max_bucket=max_bucket,
        )
        .select(
            F.least("query_id", "neighbor_id").alias("_pa"),
            F.greatest("query_id", "neighbor_id").alias("_pb"),
        )
        .distinct()
    )
    labeled = split_assign(
        embeddings.select(id_col), id_col, weights
    ).select(F.col(id_col), F.col("split"))
    a = labeled.select(
        F.col(id_col).alias("_pa"), F.col("split").alias("_sa")
    )
    b = labeled.select(
        F.col(id_col).alias("_pb"), F.col("split").alias("_sb")
    )
    return (
        nn.join(a, "_pa")
        .join(b, "_pb")
        .select(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_leak", F.col("split_a") != F.col("split_b"))
    )


# ----------------------------------------- persisted ANN band index
#
# knn_join re-bands the whole corpus per run; the growing-corpus
# shape — a daily crawl queried against a frozen embedding corpus —
# needs the banding PERSISTED (VERDICT r12 next-round #2), mirroring
# the dedup family's `dedup_incremental_index` discipline: the index
# is never rebuilt, and serve work grows with the snapshot. Layout
# (a `state.GenerationStore` chain; its docstring holds the admit,
# crash-window and reader-staleness contract)::
#
#     <path>/_ann_index_meta.json   # generations, seq, and the
#                                   # banding identity (n_planes,
#                                   # n_bands, seed, dim)
#     <path>/gen-NNNNNNNNN/bands/   # (corpus_id, band_id, bucket)
#     <path>/gen-NNNNNNNNN/vectors/ # (corpus_id, vec, nm)
#
# The banding parameters are part of the index IDENTITY (a snapshot
# banded with different planes shares no buckets), so they live in
# the meta and every serve/extend re-derives the seeded hyperplanes
# from them — the `save_ann_model` metadata discipline. Fixed planes
# are also the honest trade-off of any persisted ANN index: bucket
# occupancy grows with the corpus and the per-bucket candidate work
# with it. The remedy is AUTOMATED in compaction (r14):
# `compact_ann_index(max_occupancy=...)` measures real occupancy and
# rotates the identity to ⌈log2(N/target)⌉ planes atomically with the
# fold (knn_join's planes ∝ log2 N scale path) — never silent
# in-place mutation; serves/extends pick the new identity up on their
# next load. Measured at sf1: serve 54.1 → 7.7 s (SCALE.md r14).

_ANN_STORE = GenerationStore(
    "_ann_index_meta.json", "ann index",
    {"bands": ("band_id", "bucket"), "vectors": ()},
)


_ANN_DIM_MARK = "vector dimension"


_ANN_DIM_REFUSAL = (
    f"{_ANN_DIM_MARK} mismatch — vectors must match the index's "
    f"meta['dim'] (see the error cause for the offending length)"
)


def _ann_components(
    df: DataFrame, meta: dict, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """(bands, vectors) for one doc-disjoint batch: buckets for all
    bands and the vector norm are computed IN THE SCAN projection
    (constant-folded plane literals, JVM folds), exactly the
    :func:`knn_join` scan shape.

    Every row carries a dimension guard (per-row CASE, the graph.py
    `_nonneg_weight` discipline — zero extra passes; it rides the
    localCheckpoint each extend/serve already performs): a vector
    whose length differs from the index's ``meta["dim"]`` would
    otherwise band SILENTLY into bucket 0 (zip_with pads the short
    side with nulls, the null dot fails every CASE) and persist a
    corrupted generation. The meta carries dim exactly so this is
    checkable."""
    dim = meta["dim"]
    vec_sql = _ident_sql(vec_col)
    planes = band_hyperplanes(
        dim, meta["n_planes"], meta["n_bands"], meta["seed"]
    )
    guard = (
        f"CASE WHEN size({vec_sql}) = {dim} THEN {{inner}} "
        f"ELSE raise_error(concat('ann index: {_ANN_DIM_MARK} ', "
        f"CAST(size({vec_sql}) AS STRING), ' != index dim {dim}')) END"
    )
    bucket_sql = (
        "array("
        + ",".join(_bucket_literal_sql(vec_sql, p) for p in planes)
        + ")"
    )
    buckets = F.expr(guard.format(inner=bucket_sql))
    bands = (
        ensure_min_partitions(df)
        .select(F.col(id_col).alias("corpus_id"), buckets.alias("_bks"))
        .select(
            "corpus_id", F.posexplode("_bks").alias("band_id", "bucket")
        )
    )
    vectors = df.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("vec"),
        F.expr(guard.format(inner=f"sqrt({_dot_literal_self(vec_col)})"))
        .alias("nm"),
    )
    return bands, vectors


def _dot_literal_self(vec_col: str) -> str:
    """SQL text of norm²(vec) — the :func:`dot`(v, v) fold."""
    vec_sql = _ident_sql(vec_col)
    return (
        f"aggregate(zip_with({vec_sql}, {vec_sql}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def save_ann_index(
    embeddings: DataFrame,
    path: str,
    *,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    on_before_commit=None,
) -> None:
    """Create the persisted band index at ``path`` from the corpus.
    Refuses over an existing committed index (use
    :func:`extend_ann_index` to admit snapshots). Pass ``dim`` (table
    metadata) to keep construction lazy."""
    spark = embeddings.sparkSession
    if dim is None:
        row = embeddings.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "save_ann_index: cannot infer the vector dimension from "
                "an empty frame (or a null first vector) — pass dim="
            )
        dim = len(row[0])
    identity = {
        "n_planes": n_planes, "n_bands": n_bands, "seed": seed, "dim": dim,
    }

    def build():
        bands, vectors = _ann_components(embeddings, identity, id_col, vec_col)
        return {"bands": bands, "vectors": vectors}

    _ANN_STORE.create(
        spark, path, identity, build,
        # exact corpus size rides the meta (parquet-footer count over
        # the just-written generation — metadata-only, no data read):
        # it is what compaction's occupancy-triggered re-banding sizes
        # the new plane count from
        stats=lambda _, gdir: {
            "n_vectors": int(
                spark.read.parquet(os.path.join(gdir, "vectors")).count()
            )
        },
        on_before_commit=on_before_commit,
    )


def load_ann_index(spark, path: str) -> dict:
    """{"bands", "vectors", "meta", "path"} over the committed
    generation chain."""
    return _ANN_STORE.load(spark, path)


def extend_ann_index(
    new_df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_before_commit=None,
) -> int:
    """Admit a snapshot into the index: band the vectors NEW to it
    (anti-join on the index's id column — index-sized, never
    re-banding the corpus) as one delta generation. Returns the number
    of vectors added."""
    spark = new_df.sparkSession
    idx = _ANN_STORE.load(spark, path)
    meta = idx["meta"]
    fresh = new_df.select(id_col, vec_col).join(
        idx["vectors"].select(F.col("corpus_id").alias(id_col)),
        id_col,
        "left_anti",
    # checkpoint the anti-joined snapshot ONCE so bands and vectors
    # derive from a single materialization — a non-deterministic or
    # mutating source can never commit band rows and vector rows from
    # different evaluations of the anti-join (ADVICE r13; the
    # textindex._tokenized discipline). Snapshot-sized.
    ).localCheckpoint()
    bands, vectors = _ann_components(fresh, meta, id_col, vec_col)
    # the second checkpoint is the dim-guard firing point (ValueError
    # BEFORE any generation write) and the shared input of count +
    # vector write
    vectors = checkpoint_guarded(
        vectors, "extend_ann_index", (_ANN_DIM_MARK,), _ANN_DIM_REFUSAL
    )
    n_added = vectors.count()
    if not n_added:
        return 0
    # legacy metas (pre-r14) carry no n_vectors: upgrade once with an
    # index-sized count so occupancy-triggered re-banding can size
    # the plane count on any index
    n_before = meta.get("n_vectors")
    if n_before is None:
        n_before = idx["vectors"].count()
    _ANN_STORE.append(
        spark, idx, {"bands": bands, "vectors": vectors},
        extra={"n_vectors": int(n_before) + int(n_added)},
        on_before_commit=on_before_commit,
    )
    return n_added


def ann_index_maintenance_sink(
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    compact_every: int | None = None,
    max_occupancy: float | None = None,
    retain: int = 0,
    on_before_commit=None,
):
    """foreachBatch function maintaining the persisted ANN band index
    as embeddings STREAM in (``GenerationStore.maintenance_sink``).
    Use::

        q = (emb.writeStream
             .foreachBatch(ann_index_maintenance_sink("/idx/ann"))
             .option("checkpointLocation", ckpt).start())

    ``compact_every=N`` runs :func:`compact_ann_index` after every Nth
    batch, and ``max_occupancy`` lets those compactions re-band on
    occupancy growth — together the index is fully self-maintaining:
    a long-running stream admits deltas, folds its own chain, and
    rotates the banding identity when the corpus outgrows it.

    The banding identity (``n_planes``/``n_bands``/``seed``/``dim``)
    passed here applies ONLY to the first batch, which creates the
    index; afterwards the meta IS the identity, including any
    re-band a compaction committed between micro-batches — extends
    re-derive planes from the meta, so the stream keeps admitting
    correctly across a rotation. An empty first batch leaves the root
    virgin, which also keeps the dim inference from crash-looping the
    stream (r14 review)."""
    return _ANN_STORE.maintenance_sink(
        path,
        id_col=id_col,
        cols=[id_col, vec_col],
        create=lambda batch: save_ann_index(
            batch, path, n_planes=n_planes, n_bands=n_bands, seed=seed,
            id_col=id_col, vec_col=vec_col, dim=dim,
            on_before_commit=on_before_commit,
        ),
        extend=lambda batch: extend_ann_index(
            batch, path, id_col=id_col, vec_col=vec_col,
            on_before_commit=on_before_commit,
        ),
        compact=lambda spark: compact_ann_index(
            path, spark, max_occupancy=max_occupancy, retain=retain
        ),
        compact_every=compact_every,
    )


def knn_join_incremental(
    new_df: DataFrame,
    index: dict,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Top-k neighbors of each SNAPSHOT vector over (corpus ∪
    snapshot) through the persisted index — bit-identical to
    ``knn_join(corpus ∪ snapshot)`` filtered to snapshot query ids
    (same seeded banding from the index meta, same bare-id-pair
    distinct, same exact-cosine rerank and rank window), but the only
    banding computed is the SNAPSHOT's:

    - snapshot bands come from one scan-side projection (checkpointed
      once — they feed the pair join's query side AND the union's
      neighbor side);
    - the corpus contributes its PERSISTED band rows (3 longs/row)
      and vector rows — index-sized scans, no corpus re-banding ever;
    - candidate volume, and with it every downstream shuffle, grows
      with the snapshot (the `dedup_incremental_index` serve
      discipline) — the query-side vector rehydration joins only the
      snapshot's vectors.

    Snapshot ids already present in the index are dropped (they are
    the corpus; keeping them would duplicate band and vector rows and
    corrupt the rank window), which also makes serve-after-partial-
    extend redelivery safe. ``max_bucket`` caps hot buckets counted
    over the UNION band table, matching ``knn_join`` semantics."""
    if k < 1:
        raise ValueError(f"knn_join_incremental: k={k} must be >= 1")
    meta = index["meta"]
    new_only = new_df.select(id_col, vec_col).join(
        index["vectors"].select(F.col("corpus_id").alias(id_col)),
        id_col,
        "left_anti",
    # one materialization of the anti-join: snap_bands and snap_vecs
    # each checkpoint below, and without this the index-sized
    # anti-join scan would run once per component (ADVICE r13 shape)
    ).localCheckpoint()
    snap_bands, snap_vecs = _ann_components(
        new_only, meta, id_col, vec_col
    )
    snap_bands = checkpoint_guarded(
        snap_bands, "knn_join_incremental", (_ANN_DIM_MARK,), _ANN_DIM_REFUSAL
    )
    # snap_vecs feeds BOTH the query-side rehydration and the neighbor
    # union — checkpoint once or the anti-join + norm pass runs twice
    snap_vecs = checkpoint_guarded(
        snap_vecs, "knn_join_incremental", (_ANN_DIM_MARK,), _ANN_DIM_REFUSAL
    )
    all_bands = index["bands"].unionByName(snap_bands)
    if max_bucket is not None:
        w_b = Window.partitionBy("band_id", "bucket")
        counted = all_bands.withColumn(
            "_n", F.count(F.lit(1)).over(w_b)
        ).filter(F.col("_n") <= max_bucket).drop("_n")
        snap_side = counted.join(
            snap_bands.select(F.col("corpus_id").alias("_sid")).distinct(),
            counted["corpus_id"] == F.col("_sid"),
        ).drop("_sid")
        all_side = counted
    else:
        snap_side = snap_bands
        all_side = all_bands
    a = snap_side.select(
        "band_id", "bucket", F.col("corpus_id").alias("query_id")
    )
    b = all_side.select(
        "band_id", "bucket", F.col("corpus_id").alias("neighbor_id")
    )
    pairs = (
        a.join(b, ["band_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        # no checkpoint: single consumer, same A/B evidence as
        # knn_join's pairs (un-checkpointed had the best median and
        # tail; no persisted RDD accumulates per serve)
    )
    # vectors stay FLOAT in transit, as in knn_join: the corpus-sized
    # n_emb side and the pair exchanges ship half the bytes vs an
    # up-front array<double> cast, and dot()'s in-fold casts keep sim
    # bit-identical (see knn_join's rehydration comment for the 10×
    # A/B that reversed the scan-side-cast decision).
    q_emb = snap_vecs.select(
        F.col("corpus_id").alias("_eid"),
        F.col("vec").alias("_v"),
        F.col("nm").alias("_nm"),
    )
    n_emb = index["vectors"].unionByName(snap_vecs).select(
        F.col("corpus_id").alias("_eid"),
        F.col("vec").alias("_v"),
        F.col("nm").alias("_nm"),
    )
    scored = (
        pairs.join(q_emb, pairs["query_id"] == q_emb["_eid"])
        .select(
            "query_id", "neighbor_id",
            F.col("_v").alias("_qv"), F.col("_nm").alias("_qn"),
        )
        .join(n_emb, F.col("neighbor_id") == n_emb["_eid"])
        .select(
            "query_id",
            "neighbor_id",
            (dot("_qv", "_v") / (F.col("_qn") * F.col("_nm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rnk"
        )
    )


def ann_occupancy(index: dict) -> dict:
    """Measured bucket occupancy of a loaded index: mean and max rows
    per occupied (band_id, bucket) cell, plus the corpus size the
    measurement saw. ONE index-sized aggregate (3-long band rows) —
    the candidate-join cost model: expected candidate pairs per query
    grow linearly with mean occupancy, so this is the number that
    says when fixed build-time banding has degraded (SCALE.md r13
    measured the fixed-banding decade at 3.50×/row vs 1.27× re-banded)."""
    meta = index["meta"]
    n_vec = meta.get("n_vectors")
    if n_vec is None:  # legacy meta (pre-r14): one index-sized count
        n_vec = index["vectors"].count()
    row = (
        index["bands"]
        .groupBy("band_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.avg("c").alias("mean"), F.max("c").alias("mx"))
        .first()
    )
    # an index committed from zero rows has no occupied buckets: the
    # global agg yields nulls — report occupancy 0 (maintenance is a
    # no-op) instead of TypeError (r14 review)
    return {
        "mean": float(row["mean"]) if row["mean"] is not None else 0.0,
        "max": int(row["mx"]) if row["mx"] is not None else 0,
        "measured_at_n": int(n_vec),
        "n_planes": meta["n_planes"],
    }


def planes_for_occupancy(n_vectors: int, max_occupancy: float) -> int:
    """⌈log2(N / target)⌉ — the plane count that brings EXPECTED mean
    occupancy (N / 2^planes under the sign-LSH uniformity assumption)
    back under ``max_occupancy``; the knn_join planes ∝ log2 N scale
    path as a formula. Capped at 30 so bucket ids stay in int range."""
    import math

    if max_occupancy <= 0:
        raise ValueError(
            f"max_occupancy={max_occupancy} must be > 0"
        )
    return min(30, max(1, math.ceil(math.log2(max(2.0, n_vectors / max_occupancy)))))


def compact_ann_index(
    path: str,
    spark,
    *,
    max_occupancy: float | None = None,
    retain: int = 0,
    on_before_commit=None,
) -> int:
    """Fold the generation chain into one generation (read the union,
    rewrite clustered by (band_id, bucket), point meta at it, prune
    the chain) — run off the serve path when daily extends have grown
    the chain. Returns the number of generations folded (0 = nothing
    to do; a pure re-band of a single-generation index returns 1).

    **Occupancy-triggered re-banding** (VERDICT r13 #1): pass
    ``max_occupancy`` (target mean rows per bucket) and compaction
    measures the index's real bucket occupancy (:func:`ann_occupancy`
    — one aggregate over rows it is about to read anyway). When the
    mean exceeds the target, the fold recomputes the band table from
    the PERSISTED vectors at ``n_planes =``
    :func:`planes_for_occupancy` (never fewer planes than built
    with), and the new plane count commits ATOMICALLY with the folded
    generation in one meta swap — the banding identity and the band
    rows can never disagree (a crash before the commit leaves an
    unreferenced orphan and the old identity; re-run overwrites).
    Serves and extends pick up the rotated identity on their next
    ``load_ann_index`` — this is the scale remedy for the documented
    fixed-banding quadratic (SCALE.md r13: 3.50×/row fixed vs
    1.27×/row re-banded across a real decade), automated.

    The measured stats land in ``meta["occupancy"]`` (with
    ``measured_at_n`` so staleness after later extends is checkable).
    Re-banding is one full-index banding pass — the same work as a
    fresh build's band side, which is exactly what compaction's
    off-serve-path cadence is for.

    ``retain`` is the fold's reader-staleness window
    (``state.GenerationStore``)."""
    idx = _ANN_STORE.load(spark, path)
    meta = idx["meta"]
    extra = {"n_planes": meta["n_planes"]}
    if max_occupancy is not None:
        occ = ann_occupancy(idx)
        extra["occupancy"] = occ
        if occ["mean"] > max_occupancy:
            extra["n_planes"] = max(
                meta["n_planes"],
                planes_for_occupancy(occ["measured_at_n"], max_occupancy),
            )
    fold = None
    if extra["n_planes"] != meta["n_planes"]:
        # band the persisted vectors under the NEW identity — vectors
        # are already dim-guarded, norms already computed; only the
        # band table is rebuilt
        fold = {
            "bands": _ann_components(
                idx["vectors"], {**meta, **extra}, "corpus_id", "vec"
            )[0]
        }
    return _ANN_STORE.compact(
        spark, idx, retain=retain, fold=fold, extra=extra,
        on_before_commit=on_before_commit,
    )


def semantic_decontaminate(
    probes: DataFrame,
    index: dict,
    *,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-space DECONTAMINATION through the persisted ANN
    index: (corpus_id, n_probes, max_sim) for every indexed corpus
    vector within cosine ``threshold`` of AT LEAST one probe — the
    "remove training docs semantically close to the benchmark" pass
    (paraphrased eval answers share no n-grams; the text-side
    `cur_decontaminate_*` family cannot see them). Anti-join the
    corpus on corpus_id to apply the removal.

    Serve shape — the `knn_join_incremental` discipline with the
    sides swapped: the PROBE panel (benchmark embeddings — small) is
    banded scan-side with the index's seeded planes; candidates come
    from the probe⋈index band equi-join (never all-pairs, never a
    corpus re-band); exact cosine rerank joins probe vectors
    (O(probes)) and index vectors; the threshold compares the 6dp-
    ROUNDED sim (`embedding_near_dups`' boundary-flap rule) and the
    per-corpus rollup is one hash aggregate. Like every sign-LSH
    pass this is approximate by candidate recall — a contaminated
    vector colliding with its probe in NO band escapes; size bands
    for the recall target with `lsh_recall_check`."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"semantic_decontaminate: threshold={threshold} not in (0, 1]"
        )
    meta = index["meta"]
    # probe bands are consumed exactly once (the candidate join) — no
    # checkpoint; p_vecs is also single-consumer (the rerank join)
    p_bands, p_vecs = _ann_components(probes, meta, id_col, vec_col)
    idx_bands = index["bands"]
    if max_bucket is not None:
        w_b = Window.partitionBy("band_id", "bucket")
        idx_bands = idx_bands.withColumn(
            "_n", F.count(F.lit(1)).over(w_b)
        ).filter(F.col("_n") <= max_bucket).drop("_n")
    pairs = (
        p_bands.select(
            "band_id", "bucket", F.col("corpus_id").alias("probe_id")
        )
        .join(
            idx_bands.select("band_id", "bucket", "corpus_id"),
            ["band_id", "bucket"],
        )
        .select("probe_id", "corpus_id")
        .distinct()
    )
    # vectors stay FLOAT in transit, as in knn_join: the corpus-sized
    # index side ships half the bytes vs an up-front array<double>
    # cast, and dot()'s in-fold casts keep sim bit-identical (see
    # knn_join's rehydration comment for the 10× A/B).
    pv = p_vecs.select(
        F.col("corpus_id").alias("_pid"),
        F.col("vec").alias("_pv"),
        F.col("nm").alias("_pn"),
    )
    iv = index["vectors"].select("corpus_id", "vec", "nm")
    scored = (
        pairs.join(pv, pairs["probe_id"] == F.col("_pid"))
        .join(iv, "corpus_id")
        .select(
            "corpus_id",
            "probe_id",
            F.round(
                dot("_pv", "vec") / (F.col("_pn") * F.col("nm")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(float(threshold)))
    )
    return scored.groupBy("corpus_id").agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.max("sim").alias("max_sim"),
    )
