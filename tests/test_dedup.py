"""Dedup operators: exact, MinHash/LSH, SimHash, Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hermod_spark.operators import dedup


@pytest.fixture
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "Dog lazy the over jumps fox brown quick the"),  # same word set as 1
    ]
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]  # 2 removed; 5 differs byte-wise


def test_exact_dedup_canonical_merges_word_set_dups(docs):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs, canonical=True).collect())
    assert kept == [1, 3, 4]  # 5 now collapses into 1's group


def test_duplicate_groups(docs):
    rows = dedup.duplicate_groups(docs, canonical=True).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 3 and rows[0]["keep_id"] == 1


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",)], "text STRING")
    assert df.select(dedup.shingles("text", 3).alias("s")).first()["s"] == ["a b"]


def test_shingles_window(spark):
    df = spark.createDataFrame([("a b c d",)], "text STRING")
    assert df.select(dedup.shingles("text", 3).alias("s")).first()["s"] == [
        "a b c", "b c d",
    ]


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "x y z w v"), (2, "x y z w v")], "doc_id INT, text STRING"
    )
    sigs = [
        r["sig"]
        for r in df.select(dedup.minhash_signature("text", 8).alias("sig")).collect()
    ]
    assert sigs[0] == sigs[1]
    assert len(sigs[0]) == 8


def test_near_dup_candidates_find_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.near_dup_candidates(docs).collect()}
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated content


def test_near_dup_pairs_jaccard_threshold(docs):
    rows = dedup.near_dup_pairs(docs, threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert got[(1, 2)] == 1.0
    assert all(j >= 0.99 for j in got.values())


def test_jaccard_values(spark):
    df = spark.createDataFrame([(["a", "b"], ["b", "c"])], "a ARRAY<STRING>, b ARRAY<STRING>")
    j = df.select(dedup.jaccard(F.col("a"), F.col("b")).alias("j")).first()["j"]
    assert abs(j - 1 / 3) < 1e-12


def test_jaccard_both_empty_is_one(spark):
    df = spark.createDataFrame([(1,)], "x INT").select(
        F.array().cast("array<string>").alias("a"), F.array().cast("array<string>").alias("b")
    )
    assert df.select(dedup.jaccard(F.col("a"), F.col("b")).alias("j")).first()["j"] == 1.0


def test_near_dup_clusters_transitive(spark):
    """a~b and b~c near-dups (a never directly compared to c) must
    still land in one cluster; isolated docs label themselves."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, base + " extra more"),
        (9, "completely different content about database engines and plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.near_dup_clusters(df, threshold=0.5).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[9] == 9


def test_simhash_deterministic_and_near(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "unrelated words entirely about databases and clusters"),
        ],
        "doc_id INT, text STRING",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup.simhash_near_dups(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def test_connected_components_driver_and_distributed_agree(spark):
    """VERDICT r8 #9: the hybrid CC's two execution paths — driver
    union-find (bounded edges) and distributed star contraction —
    produce identical labels on chains, stars, multiple components,
    and self-loops."""
    edges = (
        [(i, i + 1) for i in range(1, 6)]       # chain 1-6
        + [(10, i) for i in range(11, 15)]      # star at 10
        + [(20, 21), (21, 22), (20, 22)]        # triangle
        + [(30, 30)]                            # self-loop
    )
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    fast = {
        (r["node"], r["label"])
        for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        (r["node"], r["label"])
        for r in dedup.connected_components(pairs, driver_max_edges=0).collect()
    }
    assert fast == dist
    got = dict(fast)
    assert all(got[i] == 1 for i in range(1, 7))
    assert all(got[i] == 10 for i in [10, 11, 12, 13, 14])
    assert got[20] == got[21] == got[22] == 20
    assert got[30] == 30


def test_connected_components_empty_edges(spark):
    pairs = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert dedup.connected_components(pairs).count() == 0


def test_star_contraction_matches_union_find_random_graph(spark):
    """Star-contraction CC (VERDICT r11 #1) is bit-identical to the
    driver union-find on a random multigraph with self-loops,
    duplicate edges, and both orientations."""
    import random

    rng = random.Random(42)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    labels, rounds = dedup.star_contraction_components(pairs)
    got = {r["node"]: r["label"] for r in labels.collect()}
    ref = dict(dedup._driver_union_find(edges))
    assert got == ref
    assert rounds <= 10  # O(log d), not O(d)


def test_star_contraction_deep_path_graph_converges(spark):
    """The case min-label propagation structurally cannot handle: a
    10k-node path (diameter 9 999 ≫ any sane round cap) — crawl
    snapshots of one evolving page chained by pairwise similarity.
    Star contraction closes it in O(log d) ≈ 15 rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9_999)], "id_a LONG, id_b LONG"
    )
    labels, rounds = dedup.star_contraction_components(pairs)
    assert rounds <= 18
    assert labels.count() == 10_000
    assert labels.filter(F.col("label") != 0).count() == 0


def test_star_contraction_string_ids_and_selfloops(spark):
    """Lexicographic min labels for string doc ids; self-loop-only
    nodes stay in the output labeled as themselves (node-coverage
    parity with the driver union-find)."""
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("z", "z")], "id_a STRING, id_b STRING"
    )
    labels, _ = dedup.star_contraction_components(pairs)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_star_contraction_round_cap_raises(spark):
    """Exhausting max_rounds refuses: truncated labels would silently
    split one cluster into several, so wrong clusters are never
    returned."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a LONG, id_b LONG"
    )
    with pytest.raises(ValueError, match="not converged"):
        dedup.star_contraction_components(pairs, max_rounds=2)


def test_cc_path_selection_and_parallelized_label_upload(spark):
    """VERDICT r10 #5: (a) the driver cap sits at 200k — small enough
    that the collected Row list is tens of MB, not hundreds; (b) edge
    sets ABOVE the cap take the distributed star-contraction path (no
    driver collect); (c) the driver path ships labels back via
    sc.parallelize — the plan scans an RDD, not a pickled
    LocalTableScan embedding every tuple in the plan payload."""
    assert dedup.CC_DRIVER_MAX_EDGES == 200_000

    edges = [(i, i + 1) for i in range(1, 8)]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")

    # (b) above-cap → distributed: labels identical, and the result
    # plan is the propagation loop's (checkpointed scan), not an RDD
    # of driver labels. driver_max_edges below the edge count stands
    # in for "edge set larger than the cap".
    dist = dedup.connected_components(pairs, driver_max_edges=3)
    dist_labels = {(r["node"], r["label"]) for r in dist.collect()}
    assert dist_labels == {(i, 1) for i in range(1, 9)}

    # (c) driver path: parallelized upload → ExistingRDD scan, and no
    # LocalTableScan carrying the label tuples
    fast = dedup.connected_components(pairs)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "LocalTableScan" not in plan
    assert {(r["node"], r["label"]) for r in fast.collect()} == dist_labels


def test_cross_contamination_finds_paraphrase(spark):
    """A corpus doc sharing most shingles with a probe is flagged; an
    unrelated doc is not; the probe side itself never appears."""
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "completely different text about spark execution plans"),
        ],
        "doc_id LONG, text STRING",
    )
    probes = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id LONG, text STRING",
    )
    rows = dedup.cross_contamination(corpus, probes, threshold=0.5).collect()
    assert [r["doc_id"] for r in rows] == [10]
    assert rows[0]["n_probe_hits"] == 1
    assert rows[0]["max_jaccard"] > 0.6


def test_minhash_estimate_tracks_exact_jaccard(spark):
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # identical: est == exact == 1
            (3, "completely different words with zero overlap here folks"),
            (4, base + " with a small suffix change at the end only"),
        ],
        "doc_id INT, text STRING",
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.minhash_estimate_audit(df, num_hashes=16).collect()
    }
    assert rows[(1, 2)]["est_jaccard"] == 1.0
    assert rows[(1, 2)]["exact_jaccard"] == 1.0
    assert rows[(2, 3)]["exact_jaccard"] == 0.0
    assert rows[(2, 3)]["est_jaccard"] == 0.0  # no shared shingles
    mid = rows[(3, 4)]
    assert abs(
        mid["abs_err"] - abs(mid["est_jaccard"] - mid["exact_jaccard"])
    ) < 1e-6
    # unbiasedness smoke: with 16 hashes the estimate is within 0.35
    # of truth on every pair of this fixture
    assert all(r["abs_err"] <= 0.35 for r in rows.values())


def test_redundancy_profile_partitions_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again today friends"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # near-dup pair with 1 (identical shingles)
            (3, "entirely unrelated content with no shared shingles at all"),
        ],
        "doc_id INT, text STRING",
    )
    rows = {r["degree"]: r["n_docs"] for r in dedup.redundancy_profile(df).collect()}
    # degrees partition the corpus: sum of n_docs == |corpus|
    assert sum(rows.values()) == 3
    assert rows[0] == 1   # doc 3 unique
    assert rows[1] == 2   # docs 1 and 2 each have one partner


def test_cluster_keep_best_survivor_is_highest_quality(spark):
    from hermod_spark.operators import dedup

    # docs 1/2/3 are near-identical word-overlap neighbours (one
    # cluster); doc 2 is longest so its quality length term wins.
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " " + base),
            (3, base + " again"),
            (9, "completely disjoint vocabulary paragraph about engines and parquet files"),
        ],
        "doc_id INT, text STRING",
    )
    rows = {r["doc_id"]: r for r in
            dedup.cluster_keep_best(df, threshold=0.5).collect()}
    # expected survivor = quality argmax over the near-dup cluster
    from hermod_spark.functions.text import quality_score

    scores = {
        r["doc_id"]: r["q"]
        for r in df.select("doc_id", quality_score("text").alias("q")).collect()
    }
    best = max((1, 2, 3), key=lambda i: (scores[i], -i))
    assert set(rows) == {best, 9}
    assert rows[best]["cluster_id"] == 1 and rows[best]["cluster_size"] == 3
    assert rows[9]["cluster_size"] == 1
    assert abs(rows[best]["quality"] - scores[best]) < 1e-6


# ---------------------------------------------------------------- spans


@pytest.fixture
def span_docs(spark):
    # shared 4-gram "one two three four" sits mid-doc in 1 and 2 at
    # different offsets; doc 3 repeats a 4-gram WITHIN itself (counts,
    # like a suffix array would); doc 4 is clean; doc 5 is too short
    # for any 4-gram; doc 6 is blank.
    rows = [
        (1, "alpha beta one two three four gamma delta epsilon zeta"),
        (2, "x one two three four y z w q r"),
        (3, "p q r s a b c d junk1 junk2 a b c d tail1 tail2"),
        (4, "nothing here is repeated anywhere in this corpus at all"),
        (5, "one two three"),
        (6, "   "),
    ]
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def test_duplicated_spans_cross_and_within_doc(span_docs):
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.duplicated_spans(span_docs, n=4).collect()
    }
    # docs 1/2 share exactly the one 4-gram -> span of 4 tokens each
    assert (1, 3, 6) in spans and (2, 2, 5) in spans
    # doc 3's "a b c d" occurs twice WITHIN the doc: both occurrences
    # are duplicated spans (positions 5-8 and 11-14, 1-based)
    assert (3, 5, 8) in spans and (3, 11, 14) in spans
    assert not any(d == 4 or d == 5 or d == 6 for d, *_ in spans)


def test_duplicated_spans_merges_overlapping_runs(spark):
    # two docs share a 6-token prefix -> 4-grams at starts 1,2,3 merge
    # into ONE maximal span [1, 6] (adjacent/overlapping intervals)
    rows = [
        (1, "a b c d e f tail one"),
        (2, "a b c d e f other two"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
        for r in dedup.duplicated_spans(df, n=4).collect()
    )
    assert spans == [(1, 1, 6, 6), (2, 1, 6, 6)]


def test_duplicated_spans_gap_splits_runs(spark):
    # shared 4-grams separated by a gap LARGER than n stay two spans
    rows = [
        (1, "a b c d x1 x2 x3 x4 x5 p q r s end1"),
        (2, "a b c d y1 y2 y3 y4 y5 p q r s end2"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.duplicated_spans(df, n=4).collect()
    )
    assert spans == [(1, 1, 4), (1, 10, 13), (2, 1, 4), (2, 10, 13)]


def test_dup_span_stats_covers_all_docs(span_docs):
    rows = {r["doc_id"]: r for r in dedup.dup_span_stats(span_docs, n=4).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    assert rows[4]["n_spans"] == 0 and rows[4]["dup_frac"] == 0.0
    assert rows[6]["n_tokens"] == 0 and rows[6]["dup_frac"] == 0.0
    assert rows[1]["dup_tokens"] == 4 and rows[1]["n_tokens"] == 10
    assert rows[1]["dup_frac"] == 0.4
    # doc 3: two 4-token spans over 16 tokens
    assert rows[3]["n_spans"] == 2 and rows[3]["dup_tokens"] == 8
    assert rows[3]["dup_frac"] == 0.5


def test_dup_span_stats_accepts_precomputed_spans(span_docs):
    spans = dedup.duplicated_spans(span_docs, n=4)
    via = dedup.dup_span_stats(span_docs, n=4, spans=spans)
    direct = dedup.dup_span_stats(span_docs, n=4)
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))


# --------------------------------------------------------- composed report


@pytest.fixture
def report_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, base + " extra more"),
        (7, "some other duplicated content block for testing purposes here"),
        (8, "some other duplicated content block for testing purposes here"),
        (9, "completely different content about database engines and plans"),
    ]
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def test_dedup_report_runs_one_lsh_pass(spark, report_docs, monkeypatch):
    """The composed report must compute MinHash/LSH candidates exactly
    once and inject them downstream (the point of the pairs=/clusters=
    parameters)."""
    calls = {"n": 0}
    orig = dedup.near_dup_candidates

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(dedup, "near_dup_candidates", counting)
    rows = dedup.dedup_report(report_docs, threshold=0.5).collect()
    assert calls["n"] == 1
    assert len(rows) == 6


def test_dedup_report_values_match_standalone_ops(report_docs):
    rep = {r["metric"]: r["value"] for r in
           dedup.dedup_report(report_docs, threshold=0.5).collect()}
    assert rep["n_docs"] == 6
    clusters = dedup.near_dup_clusters(report_docs, threshold=0.5)
    n_clusters = clusters.select("cluster_id").distinct().count()
    assert rep["n_clusters"] == n_clusters
    assert rep["n_removable"] == 6 - n_clusters
    assert rep["n_verified_pairs"] == dedup.near_dup_pairs(
        report_docs, threshold=0.5
    ).count()
    assert rep["n_candidate_pairs"] == dedup.near_dup_candidates(report_docs).count()
    assert rep["max_degree"] >= 1


def test_injected_clusters_match_recomputed(report_docs):
    clusters = dedup.near_dup_clusters(report_docs, threshold=0.5)
    via = dedup.cluster_keep_best(report_docs, threshold=0.5, clusters=clusters)
    direct = dedup.cluster_keep_best(report_docs, threshold=0.5)
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))


def test_injected_pairs_match_recomputed_profile(report_docs):
    cand = dedup.near_dup_candidates(report_docs)
    via = dedup.redundancy_profile(report_docs, pairs=cand)
    direct = dedup.redundancy_profile(report_docs)
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))


def test_remove_duplicated_spans_cuts_covered_tokens(span_docs):
    rows = {r["doc_id"]: r for r in
            dedup.remove_duplicated_spans(span_docs, n=4).collect()}
    # doc 1: tokens 3-6 removed, original case and order preserved
    assert rows[1]["clean_text"] == "alpha beta gamma delta epsilon zeta"
    assert rows[1]["n_removed"] == 4 and rows[1]["n_tokens"] == 10
    # doc 3: both within-doc occurrences removed (aggressive policy)
    assert rows[3]["clean_text"] == "p q r s junk1 junk2 tail1 tail2"
    # clean docs untouched; blank doc -> empty string
    assert rows[4]["n_removed"] == 0
    assert rows[4]["clean_text"] == span_docs.collect()[3]["text"]
    assert rows[6]["clean_text"] == "" and rows[6]["n_tokens"] == 0


def test_remove_duplicated_spans_accepts_injected_spans(span_docs):
    spans = dedup.duplicated_spans(span_docs, n=4)
    via = dedup.remove_duplicated_spans(span_docs, n=4, spans=spans)
    direct = dedup.remove_duplicated_spans(span_docs, n=4)
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))


def test_remove_duplicated_spans_preserves_case(spark):
    rows = [
        (1, "Foo BAR one two three four Tail"),
        (2, "x one two three four y"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {r["doc_id"]: r["clean_text"] for r in
           dedup.remove_duplicated_spans(df, n=4).collect()}
    assert got[1] == "Foo BAR Tail"
    assert got[2] == "x y"


def test_keep_one_policy_first_occurrence_survives(spark):
    """keep_first=True: the corpus-first copy (lowest doc_id, position)
    of a duplicated span is exempt; later copies are cut."""
    rows = [
        (1, "a b c d e f tail one"),
        (2, "a b c d e f other two"),
        (3, "prefix a b c d e f"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {r["doc_id"]: r for r in
           dedup.remove_duplicated_spans(df, n=4, keep_first=True).collect()}
    # doc 1 holds every first occurrence -> untouched
    assert got[1]["n_removed"] == 0
    assert got[1]["clean_text"] == "a b c d e f tail one"
    # later copies lose the whole shared prefix
    assert got[2]["clean_text"] == "other two"
    assert got[3]["clean_text"] == "prefix"


def test_keep_one_within_doc_repeat_keeps_first(spark):
    df = spark.createDataFrame(
        [(1, "a b c d x1 x2 x3 x4 x5 a b c d")], "doc_id INT, text STRING"
    )
    got = dedup.remove_duplicated_spans(df, n=4, keep_first=True).collect()[0]
    assert got["clean_text"] == "a b c d x1 x2 x3 x4 x5"
    # aggressive mode removes both copies
    agg = dedup.remove_duplicated_spans(df, n=4).collect()[0]
    assert agg["clean_text"] == "x1 x2 x3 x4 x5"


# ----------------------------------------------------- ngram decontamination


def test_contamination_spans_find_probe_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (100, "intro words then the exact benchmark question text here and tail"),
            (101, "totally unrelated corpus document with no overlap at all present"),
        ],
        "doc_id INT, text STRING",
    )
    probes = spark.createDataFrame(
        [(1, "the exact benchmark question text here and")],
        "doc_id INT, text STRING",
    )
    spans = {(r["doc_id"], r["span_start"], r["span_end"]) for r in
             dedup.contamination_spans(corpus, probes, n=7).collect()}
    # probe is exactly one 7-gram; it sits at positions 4-10 of doc 100
    assert spans == {(100, 4, 10)}


def test_contamination_profile_and_surgical_removal(spark):
    corpus = spark.createDataFrame(
        [(100, "intro words then the exact benchmark question text here and tail")],
        "doc_id INT, text STRING",
    )
    probes = spark.createDataFrame(
        [(1, "the exact benchmark question text here and")],
        "doc_id INT, text STRING",
    )
    prof = dedup.contamination_profile(corpus, probes, n=7).collect()
    assert len(prof) == 1
    r = prof[0]
    assert r["n_tokens"] == 11 and r["overlap_tokens"] == 7 and r["n_spans"] == 1
    # compose: cut the benchmark text out instead of dropping the doc
    spans = dedup.contamination_spans(corpus, probes, n=7)
    cleaned = dedup.remove_duplicated_spans(corpus, spans=spans).collect()[0]
    assert cleaned["clean_text"] == "intro words then tail"
    assert cleaned["n_removed"] == 7


def test_contamination_probe_side_never_reported(spark):
    """Only corpus docs appear; a probe doc identical to a corpus doc
    contaminates it but is not itself a row."""
    corpus = spark.createDataFrame(
        [(100, "a b c d e f g h i j k l m n")], "doc_id INT, text STRING"
    )
    probes = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n")], "doc_id INT, text STRING"
    )
    rows = dedup.contamination_profile(corpus, probes, n=13).collect()
    assert [r["doc_id"] for r in rows] == [100]
    assert rows[0]["overlap_frac"] == 1.0


def test_contamination_shuffle_path_matches_broadcast(spark):
    """broadcast_probes=False (the incremental-crawl shape) must return
    byte-identical results via the hash-shuffle semi-join."""
    corpus = spark.createDataFrame(
        [
            (100, "intro words then the exact benchmark question text here and tail"),
            (101, "clean document with nothing shared at all in any way present"),
        ],
        "doc_id INT, text STRING",
    )
    probes = spark.createDataFrame(
        [(1, "the exact benchmark question text here and")],
        "doc_id INT, text STRING",
    )
    b = dedup.contamination_spans(corpus, probes, n=7)
    s = dedup.contamination_spans(corpus, probes, n=7, broadcast_probes=False)
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, s.collect()))
    # the INITIAL plan (what a 100 TB probe side would execute) carries
    # no broadcast for the match; AQE may still downgrade to broadcast
    # at runtime when the actual probe side is tiny — that's the point
    # of leaving the choice to AQE instead of forcing the hint
    plan = s._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" not in plan
    bplan = b._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in bplan


def test_source_overlap_matrix_semantics(spark):
    """Planted cross-source dup pair lands in an is_cross row; the
    unordered fold puts (a,b) and (b,a) in one cell; same-source dups
    are not cross."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, base, "crawlB"),
            (2, base.replace("dog", "cat"), "crawlA"),  # cross dup
            (3, base.replace("fox", "ox"), "crawlB"),   # same-source dup
            (4, "completely different words entirely here", "crawlA"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    rows = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["is_cross"])
        for r in dedup.source_overlap_matrix(df, num_hashes=8, bands=4).collect()
    }
    assert ("crawlA", "crawlB") in rows and rows[("crawlA", "crawlB")][1] is True
    assert all(a <= b for a, b in rows)  # unordered fold: sorted cells
    if ("crawlB", "crawlB") in rows:
        assert rows[("crawlB", "crawlB")][1] is False


# --- blocked_linkage (r11: entity-resolution blocking join) ----------

class TestBlockedLinkage:
    def _people(self, spark):
        return spark.createDataFrame(
            [
                (1, "jon smith"),
                (2, "jon smyth"),    # dist 1, same block
                (3, "jon smithe"),   # length differs -> other block
                (4, "ann lee"),
                (5, "ann bee"),      # dist 1, same block
                (6, "ann gee"),      # dist 1 to both 4 and 5
            ],
            "c_custkey LONG, c_name STRING",
        )

    def test_pairs_within_block_and_distance(self, spark):
        got = {
            (r["id_a"], r["id_b"]): r["distance"]
            for r in dedup.blocked_linkage(
                self._people(spark), block_len=4
            ).collect()
        }
        # (1,3) blocked apart by length despite distance 1
        assert got == {(1, 2): 1, (4, 5): 1, (4, 6): 1, (5, 6): 1}

    def test_hot_block_capped(self, spark):
        rows = [(i, "same template name") for i in range(40)]
        df = spark.createDataFrame(rows, "c_custkey LONG, c_name STRING")
        # all 40 share one block; max_block=10 drops it whole
        assert dedup.blocked_linkage(df, max_block=10).count() == 0
        assert dedup.blocked_linkage(df, max_block=40).count() == 40 * 39 // 2

    def test_no_self_or_reversed_pairs(self, spark):
        got = dedup.blocked_linkage(self._people(spark), block_len=4).collect()
        assert got and all(r["id_a"] < r["id_b"] for r in got)


def test_minhash_bands_rejects_bad_band_split(spark):
    """bands > num_hashes would degenerate to one global bucket (an
    O(n²) explosion); a non-divisible split silently drops trailing
    signatures — both must raise."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_bands(df, num_hashes=4, bands=8).collect()
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_bands(df, num_hashes=16, bands=5).collect()


def test_connected_components_driver_path_string_ids(spark):
    """The driver union-find path must handle non-integer ids exactly
    like the distributed path (the hardcoded LONG schema used to make
    behavior diverge by edge volume)."""
    pairs = spark.createDataFrame(
        [("urlA", "urlB"), ("urlB", "urlC"), ("urlX", "urlY")],
        "id_a STRING, id_b STRING",
    )
    got = {
        (r["node"], r["label"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        ("urlA", "urlA"), ("urlB", "urlA"), ("urlC", "urlA"),
        ("urlX", "urlX"), ("urlY", "urlX"),
    }
