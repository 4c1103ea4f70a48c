"""Property tests for the r9 items: two-pass CCNet tertiles ≡ exact
rank under arbitrary corpora, hybrid connected components (driver
union-find ≡ distributed star contraction) under random graphs, epoch
materialization counts matching the plan, and spool-index seek ≡ scan
under adversarial line shapes."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hermod_spark.operators import dedup

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_ccnet_twopass_equals_exact_rank_property(spark, docs):
    """For ANY corpus (ties, empty docs, n<3 included) the two-pass
    boundary serving form labels every doc identically to the
    one-window exact-rank form."""
    from hermod_spark.operators.textops import ccnet_buckets, ccnet_buckets_exact

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fast = sorted(map(tuple, ccnet_buckets(df, vocab_size=10).collect()))
    exact = sorted(map(tuple, ccnet_buckets_exact(df, vocab_size=10).collect()))
    assert fast == exact


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_hybrid_cc_paths_agree_property(spark, edges):
    """Driver union-find and the distributed star-contraction loop produce
    the same (node → min-reachable-node) labels on arbitrary graphs
    (self-loops, duplicate edges, multiple components)."""
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a LONG, id_b LONG"
    )
    fast = {
        (r["node"], r["label"])
        for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        (r["node"], r["label"])
        for r in dedup.connected_components(pairs, driver_max_edges=0).collect()
    }
    assert fast == dist
    # label is the component minimum: every label ≤ its node and is
    # itself labeled by itself
    lab = dict(fast)
    assert all(l <= n for n, l in fast)
    assert all(lab[l] == l for _, l in fast)


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=6), min_size=2, max_size=20),
    budget=st.integers(min_value=10, max_value=400),
)
@_settings
def test_epoch_materialization_matches_plan_property(spark, sizes, budget):
    """For arbitrary per-source doc counts and budgets: every doc of a
    source appears exactly n_epochs or n_epochs+1 times, and the
    per-source repetition totals stay within [n_epochs·n_docs,
    (n_epochs+1)·n_docs]."""
    from hermod_spark.operators.curation import epoch_plan, materialize_epochs

    rows = []
    for s, n in enumerate(sizes):
        for i in range(n):
            rows.append((s * 1000 + i, "tok " * (s + 1), f"s{s}"))
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    plan = {r["source"]: r for r in epoch_plan(df, budget_tokens=budget).collect()}
    out = materialize_epochs(df, budget_tokens=budget).collect()
    per_doc: dict = {}
    for r in out:
        per_doc.setdefault((r["source"], r["doc_id"]), set()).add(r["epoch"])
    # every source doc with tokens appears (zero-token sources have no
    # docs here since text is non-empty when n>0)
    for (src, _doc), epochs in per_doc.items():
        n_e = plan[src]["n_epochs"]
        assert epochs in ({*range(n_e)}, {*range(n_e + 1)}) or (
            n_e == 0 and epochs == {0}
        )
    for src, p in plan.items():
        n_docs = sum(1 for (s, _d) in per_doc if s == src)
        reps = sum(len(v) for (s, _d), v in per_doc.items() if s == src)
        assert p["n_epochs"] * n_docs <= reps <= (p["n_epochs"] + 1) * n_docs


@given(
    lens=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=120),
    stride=st.integers(min_value=1, max_value=16),
    lo_frac=st.floats(min_value=0.0, max_value=1.0),
    hi_frac=st.floats(min_value=0.0, max_value=1.0),
)
@_settings
def test_spool_index_seek_equals_scan_property(tmp_path_factory, lens, stride, lo_frac, hi_frac):
    """For arbitrary line lengths, strides, and read ranges: the
    indexed seek path returns byte-identical rows to the scan path."""
    from hermod_spark.sources.mqtt import _read_range, write_spool_index

    def rows(lo, hi):
        return [r for b in _read_range(p, lo, hi) for r in b.to_pylist()]

    tmp = tmp_path_factory.mktemp("spool")
    p = str(tmp / "s.jsonl")
    with open(p, "w", encoding="utf-8") as fh:
        for i, ln in enumerate(lens):
            fh.write('{"topic": "%s", "payload": "%d"}\n' % ("x" * ln, i))
    n = len(lens)
    lo = int(lo_frac * n)
    hi = lo + int(hi_frac * (n - lo))
    scan = rows(lo, hi)
    write_spool_index(p, stride=stride)
    assert rows(lo, hi) == scan
