"""Plan-quality gates: the physical plans the 100 TB posture demands.

These assert the *shape* of the executed plan, not timings — predicate
pushdown reaching the parquet scan, column pruning, broadcast of small
dimensions, absence of Python evaluation in native paths, and no
gratuitous shuffles. A regression here is a scale bug even when sf0.01
results stay correct."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as E

from conftest import SF_SMOKE


_PLANS: dict[str, str] = {}


def plan_of(spark, name: str, fresh: bool = False) -> str:
    """Executed-plan string for a query, memoized per module run.
    ``fresh=True`` bypasses the cache — required by tests that tweak
    session conf (the warm fixture builds under the default conf)."""
    if fresh:
        return (
            E.queries()[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    if name not in _PLANS:
        _PLANS[name] = plan_of(spark, name, fresh=True)
    return _PLANS[name]


# the parametrized plan_of(spark, name) names below; _warm_plans reads
# them here because its regex only finds string literals
_JVM_SIDE_QUERIES = [
    "fn_rot13", "fn_b64e", "fn_b64d", "fn_hexe", "fn_hexd", "fn_jenc", "fn_jdec",
    "flt_topic", "xf_c2f", "xf_extract", "xf_cond", "xf_default", "xf_copy",
    "dedup_simhash",
]


@pytest.fixture(scope="module", autouse=True)
def _warm_plans(spark):
    """Build every plan this module gates ONCE, in parallel (guide
    §2.6): plan construction is independent per query, and the entry's
    IndexCache builds each shared index once, with per-key locks, for
    concurrent callers. Failures are swallowed here — the owning test
    rebuilds on demand and reports the real error."""
    from concurrent.futures import ThreadPoolExecutor

    with open(__file__, encoding="utf-8") as fh:
        literals = re.findall(r'plan_of\(spark, "(\w+)"\)', fh.read())
    names = sorted(set(literals) | set(_JVM_SIDE_QUERIES))

    def one(name):
        try:
            plan_of(spark, name)
        except Exception:  # noqa: BLE001 — the owning test reports it
            pass

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(one, names))


def count(pattern: str, plan: str) -> int:
    return len(re.findall(pattern, plan))


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "rel_pricing_summary")
    assert "LessThan(l_shipdate" in plan  # filter reached the scan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and "l_comment" not in m.group(1)  # pruned to needed columns
    assert count(r"HashAggregate", plan) >= 2  # partial + final


def test_revenue_nation_broadcasts_all_dims(spark):
    plan = plan_of(spark, "rel_revenue_nation")
    # orders/customer/nation/region are all broadcast; the lineitem
    # fact is never shuffled for a join
    assert count(r"BroadcastExchange", plan) == 4
    assert count(r"SortMergeJoin", plan) == 0
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    li = next(s for s in schemas if "l_orderkey" in s)
    assert set(li.split(",")) <= {
        "l_orderkey:bigint", "l_extendedprice:double", "l_discount:double",
    }


def test_flt_route_is_shuffle_free_and_native(spark):
    plan = plan_of(spark, "flt_route")
    assert count(r"Exchange", plan) == 0
    assert count(r"EvalPython", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_prj_pass_is_shuffle_free_and_native(spark):
    plan = plan_of(spark, "prj_pass")
    assert count(r"Exchange", plan) == 0
    assert count(r"EvalPython", plan) == 0


def test_doc_metrics_is_pure_projection(spark):
    plan = plan_of(spark, "text_doc_metrics")
    assert count(r"Exchange", plan) == 0  # no sort, no shuffle
    assert count(r"EvalPython", plan) == 0


def test_quality_filter_pushes_nothing_to_python(spark):
    plan = plan_of(spark, "text_quality_filter")
    assert count(r"EvalPython", plan) == 0


def test_dedup_exact_single_shuffle(spark):
    plan = plan_of(spark, "dedup_exact")
    # exactly the window's hash partitioning; no extra exchanges
    assert count(r"Exchange hashpartitioning", plan) == 1


def test_minhash_single_pass(spark):
    """The signature pipeline must execute once: one parquet scan of
    documents, no self-join recomputation."""
    plan = plan_of(spark, "dedup_minhash_cand")
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"EvalPython", plan) == 0


def test_bruteforce_topk_broadcasts_queries(spark):
    plan = plan_of(spark, "sim_bruteforce_topk")
    assert count(r"BroadcastExchange", plan) == 1
    assert "CartesianProduct" not in plan
    assert count(r"EvalPython", plan) == 0


def test_lsh_topk_no_cartesian(spark):
    plan = plan_of(spark, "sim_lsh_topk")
    assert "CartesianProduct" not in plan
    assert count(r"EvalPython", plan) == 0


def test_embedding_neardups_no_cartesian(spark):
    plan = plan_of(spark, "sim_embedding_neardups")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", _JVM_SIDE_QUERIES)
def test_scalar_and_transform_paths_stay_jvm_side(spark, name):
    """Everything except HMAC and the xf_new envelope must run without
    Python."""
    assert count(r"EvalPython", plan_of(spark, name)) == 0


def test_entry_aggregation_is_partial(spark):
    plan = E.entry(spark)._jdf.queryExecution().executedPlan().toString()
    assert count(r"HashAggregate", plan) >= 2  # map-side combine
    assert count(r"EvalPython", plan) == 0


def test_top_ngrams_is_take_ordered_not_global_window(spark):
    """The corpus-wide top-k must compile to TakeOrderedAndProject
    (per-task local top-k, k-row driver merge) — a global
    Window.orderBy rank would funnel the entire n-gram vocabulary
    through ONE partition at 100 TB."""
    plan = plan_of(spark, "text_top_ngrams")
    assert "TakeOrderedAndProject" in plan
    # the only window left runs over the k-row result, under the take —
    # the take must sit BELOW the window in the tree (executed first)
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_quantiles_twopass_windows_by_bucket(spark):
    """The refine window must partition by (event_type, bucket), never
    event_type alone — low-cardinality window partitions are whole-
    table sorts AQE cannot split."""
    plan = plan_of(spark, "rel_quantiles_twopass")
    import re as _re

    # physical form: Window [row_number() windowspecdefinition(...)],
    # [<partition cols>], [<order cols>]
    m = _re.search(r"Window \[row_number\(\)[^\n]*\], \[([^\]]*)\], \[", plan)
    # generic column names: group is _grp (aliased back on output)
    assert m and "bucket" in m.group(1) and "_grp" in m.group(1), plan[:2000]
    # both metadata joins broadcast; the events scan never shuffles for them
    assert count(r"BroadcastExchange", plan) >= 2


def test_lsh_topk_plan_build_is_lazy(spark):
    """With dim supplied, constructing the LSH top-k plan must launch
    ZERO Spark jobs (no .first() probe inside query construction)."""
    from hermod_spark.operators import similarity as S

    rows = [(i, [float(i), float(-i), 1.0, 0.5]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    sc = spark.sparkContext
    sc.setJobGroup("lsh-lazy-probe", "plan build must not run jobs")
    try:
        out = S.lsh_topk(df, k=3, n_queries=2, n_planes=4, dim=4)
        out._jdf.queryExecution().optimizedPlan()  # force full planning
        ids = sc.statusTracker().getJobIdsForGroup("lsh-lazy-probe")
    finally:
        sc.setJobGroup("default", "")
    assert list(ids) == []
    # and the plan still executes correctly afterwards
    assert out.count() >= 0


def test_salted_join_spreads_hot_key_across_shuffle(spark):
    """Salting engaged (VERDICT r3 #7): the join must be a SHUFFLE
    join whose partitioning includes the salt column — that is the
    mechanism that spreads the one hot key over `salt` tasks — and the
    dim side must NOT broadcast (broadcasting would bypass the salt
    entirely)."""
    plan = plan_of(spark, "rel_salted_join")
    assert "ShuffledHashJoin" in plan
    # both exchanges hash-partition on (k, _salt)
    assert count(r"hashpartitioning\(k#\d+, _salt#\d+", plan) >= 2
    assert "BroadcastHashJoin" not in plan
    assert count(r"EvalPython", plan) == 0


def test_decontaminate_fuzzy_broadcasts_probes(spark):
    """The probe (benchmark) side must broadcast — the corpus never
    shuffles for the candidate join — and no cartesian appears."""
    plan = plan_of(spark, "cur_decontaminate_fuzzy")
    assert "CartesianProduct" not in plan
    assert count(r"BroadcastExchange", plan) >= 2  # band join + verify join
    assert count(r"EvalPython", plan) == 0


def test_quality_logistic_is_pure_projection(spark):
    plan = plan_of(spark, "cur_quality_logistic")
    assert count(r"Exchange", plan) == 0
    assert count(r"EvalPython", plan) == 0


def test_bloom_exchange_carries_model_not_data(spark):
    plan = plan_of(spark, "sketch_bloom")
    # the only hash exchanges belong to the ≤m bit-set distinct (partial
    # agg collapses map-side); the corpus membership pass is scan-side
    # against broadcast rows
    assert count(r"Exchange hashpartitioning", plan) <= 2
    assert count(r"BroadcastExchange|BroadcastNestedLoopJoin", plan) >= 2
    assert count(r"EvalPython", plan) == 0


def test_shard_shuffle_has_no_global_sort(spark):
    plan = plan_of(spark, "cur_shard_shuffle")
    # shard-partitioned window sort, never a rangepartitioning exchange
    assert count(r"Exchange rangepartitioning", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"EvalPython", plan) == 0


def test_class_outliers_stays_jvm_side_with_broadcast_models(spark):
    plan = plan_of(spark, "emb_outliers")
    assert count(r"EvalPython", plan) == 0
    assert count(r"BroadcastExchange|BroadcastHashJoin", plan) >= 2
    assert count(r"SortMergeJoin", plan) == 0


def test_exact_spans_single_scan_no_join(spark):
    """Exact-span dedup: ONE corpus scan, the ngram-hash window + the
    doc-keyed merge (2 hash exchanges), no join node, no Python, no
    global sort."""
    plan = plan_of(spark, "dedup_exact_spans")
    assert count(r"FileScan", plan) == 1
    assert count(r"Exchange hashpartitioning", plan) == 2
    assert count(r"Exchange rangepartitioning", plan) == 0
    assert count(r"Join", plan) == 0
    assert count(r"EvalPython", plan) == 0


def test_ngram_decontamination_broadcasts_probe_hashes(spark):
    """13-gram decontamination: the probe hash set broadcasts (the
    corpus is never shuffled for the match); no cartesian, no Python."""
    plan = plan_of(spark, "cur_decontaminate_ngram")
    assert "CartesianProduct" not in plan
    assert count(r"BroadcastExchange", plan) >= 1
    assert count(r"BroadcastHashJoin.*LeftSemi|LeftSemi.*BroadcastHashJoin", plan) >= 1
    assert count(r"EvalPython", plan) == 0


def test_ivfpq_broadcasts_queries_and_stays_jvm_side(spark):
    """IVF+PQ: probe side broadcast, assignment+encoding in the scan
    projection (no extra exchange before the probe join), no Python."""
    plan = plan_of(spark, "sim_ivfpq_topk")
    assert count(r"BroadcastHashJoin", plan) >= 1
    assert "CartesianProduct" not in plan
    assert count(r"EvalPython", plan) == 0
    assert count(r"SortMergeJoin", plan) == 0


def test_stateful_replays_single_explicit_exchange(spark):
    """Replays: exactly one explicit key-hash exchange feeding the
    Python stage. `sketch_kmv_stream_replay` still groups via
    FlatMapGroupsInPandas; `stream_ewma_replay` (r10 rewrite,
    streaming/stateful.py) repartitions by key, sorts within
    partitions, and folds via MapInPandas — so its plan carries
    MapInPandas + Sort, not FlatMapGroupsInPandas."""
    plan = plan_of(spark, "sketch_kmv_stream_replay")
    assert count(r"FlatMapGroupsInPandas", plan) == 1
    assert count(r"Exchange hashpartitioning", plan) == 1

    plan = plan_of(spark, "stream_ewma_replay")
    assert count(r"MapInPandas", plan) == 1
    assert count(r"FlatMapGroupsInPandas", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 1


def test_surprisal_model_broadcasts_corpus_never_shuffles_for_join(spark):
    plan = plan_of(spark, "text_surprisal")
    assert count(r"BroadcastExchange", plan) >= 2  # vocab + total
    assert count(r"TakeOrderedAndProject", plan) >= 1  # top-V vocab
    assert count(r"EvalPython", plan) == 0


def test_bucketed_join_no_join_shuffle(spark):
    """rel_bucketed_join: both facts scan Bucketed, the orderkey join
    is a SortMergeJoin with NO exchange beneath it — the persisted
    bucket layout satisfies the join distribution; the only shuffle in
    the whole plan is the final per-priority aggregation. (Broadcast
    is disabled for the assertion: at smoke scale the pruned orders
    side would otherwise broadcast and hide the bucketing claim.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "rel_bucketed_join", fresh=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert count(r"Bucketed: true", plan) == 2
    assert count(r"SortMergeJoin", plan) == 1
    # ONE shuffle total (the o_orderpriority agg); zero on the join keys
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Exchange hashpartitioning\((l_orderkey|o_orderkey)", plan) == 0


def test_aqe_splits_manufactured_skewed_join(spark):
    """SCALE.md leans on AQE skew handling for hot LSH buckets and
    power-law fact keys; this proves the mechanism actually fires
    (VERDICT r7 #9): a 95%-one-key fact SMJ-joined to a non-broadcast
    dim, with skew thresholds scaled to test data volume, must show
    `SortMergeJoin(skew=true)` over an `AQEShuffleRead skewed` in the
    FINAL adaptive plan. Complements the salted_join gate: salting is
    the static remedy, this is the runtime one."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # production defaults are 256MB/5.0 — scaled to the few-MB test
        # shuffle so the same 95/5 skew ratio crosses them
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise((F.col("id") % 25).cast("int"))
            .alias("k"),
            F.col("id").alias("row_id"),
            F.concat(F.lit("payload-"), F.md5(F.col("id").cast("string"))).alias("pad"),
        )
        dim = spark.range(0, 25).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("dim"), F.col("id")).alias("name"),
        )
        j = fact.join(dim, "k").select("k", "row_id", "name")
        assert len(j.collect()) == 200_000  # result correct under the split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_decorrelated_subqueries_have_no_per_row_subplan(spark):
    """The EXISTS / scalar-subquery pair runs as joins: no Subquery
    node anywhere (a correlated subplan re-executes per outer row),
    the EXISTS is a semi join carrying no lineitem payload, and the
    per-part average joins back broadcast."""
    plan = plan_of(spark, "rel_exists_rewrite")
    assert "Subquery" not in plan
    assert count(r"LeftSemi", plan) >= 1
    m = re.search(r"ReadSchema: struct<(l_[^>]*)", plan)
    assert m and set(m.group(1).split(",")) <= {
        "l_orderkey:bigint", "l_returnflag:string",
    }

    # r10 shape: the branded-parts SCAN still gets a deterministic
    # size-based hint (small estimate at any test SF) and appears
    # below BOTH the agg and the outer leg; the O(SF) per-part
    # aggregate is NO LONGER force-broadcast (VERDICT r9 #1) — its
    # join strategy is AQE's, from the actual runtime size. Static
    # plan: 2 broadcast joins + no Subquery; runtime plan: AQE
    # converts the join-back to broadcast at this scale.
    df = E.queries()["rel_scalar_subquery"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" not in plan
    assert count(r"BroadcastHashJoin", plan) >= 2
    assert count(r"HashAggregate", plan) >= 2  # partial+final per-part avg
    assert "EqualTo(p_brand" in plan  # brand filter reached the part scan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # at smoke scale AQE picked broadcast for the per-part join-back
    assert count(r"BroadcastHashJoin", final) >= 3


def test_ccnet_serving_plan_has_no_global_window(spark):
    """cur_ccnet_buckets (r9): the served plan is boundary-literal
    scan-side compares — the exact-rank global row_number window (a
    single-partition funnel of the O(docs) summary frame) must be
    gone; the only SinglePartition exchange left is the surprisal
    model's 1-row vocab total (bounded partial-agg input — inherent,
    allowed)."""
    plan = plan_of(spark, "cur_ccnet_buckets")
    assert count(r"\bWindow\b", plan) == 0
    assert "row_number" not in plan
    # the only SinglePartition exchanges are the surprisal model's
    # 1-row vocab total (appears once in the serve tree and once
    # inside the cached summary relation's plan) — bounded inputs both
    assert count(r"SinglePartition", plan) <= 2
    assert "InMemoryTableScan" in plan  # serves the cached summary


def test_ship_priority_pushes_dates_and_takeordered(spark):
    """Q3 shape: both date predicates reach their parquet scans, the
    top-k is TakeOrderedAndProject (never a global sort of fact rows),
    and scans are pruned to the join/agg columns."""
    plan = plan_of(spark, "rel_ship_priority")
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert count(r"TakeOrderedAndProject", plan) == 1
    m = re.search(r"ReadSchema: struct<(l_[^>]*)", plan)
    assert m and set(m.group(1).split(",")) <= {
        "l_orderkey:bigint", "l_extendedprice:double",
        "l_discount:double", "l_shipdate:timestamp_ntz",
    }


def test_partition_pruned_scan_reads_only_window_dirs(spark):
    """rel_partition_pruned: the date predicate is a PARTITION filter —
    it prunes directories at planning time and no post-scan date
    predicate remains (the 100 TB time-window story: 3 of 30 days
    read). PushedFilters on event_date would mean the layout failed."""
    plan = plan_of(spark, "rel_partition_pruned")
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "event_date" in m.group(1)
    # the filter must NOT degrade to a data filter on the scan output
    assert "PushedFilters: [IsNotNull(event_date" not in plan
    m2 = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m2 and "ts" not in m2.group(1).split(",")  # pruned columns


def test_inactive_rich_decorrelates_to_anti_join(spark):
    """Q22 shape (r9): no Subquery node — the scalar average is a
    1-row broadcast and the NOT EXISTS is a LEFT ANTI join whose right
    side pushed the priority filter to the orders scan."""
    plan = plan_of(spark, "rel_inactive_rich")
    assert "Subquery" not in plan
    assert count(r"LeftAnti", plan) == 1
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan
    m = re.search(r"ReadSchema: struct<(o_[^>]*)", plan)
    assert m and set(m.group(1).split(",")) <= {
        "o_custkey:bigint", "o_orderpriority:string",
    }


def test_sole_supplier_single_fact_aggregation_pass(spark):
    """Q21 shape (r9): both correlated EXISTS become ONE per-order
    aggregate pass — no Subquery, supplier dim broadcast, top-k via
    TakeOrderedAndProject."""
    plan = plan_of(spark, "rel_sole_supplier")
    assert "Subquery" not in plan
    assert count(r"BroadcastHashJoin", plan) >= 1
    assert count(r"TakeOrderedAndProject", plan) == 1
    m = re.search(r"ReadSchema: struct<(l_[^>]*)", plan)
    assert m and set(m.group(1).split(",")) <= {
        "l_orderkey:bigint", "l_suppkey:bigint", "l_returnflag:string",
    }


def test_epochs_fanout_is_scan_side_against_broadcast_plan(spark):
    """cur_epochs (r9): the repetition fan-out is a Generate(explode)
    against the BROADCAST #sources-row plan — the corpus side has no
    hash exchange; only the plan's own per-source aggregation
    shuffles."""
    plan = plan_of(spark, "cur_epochs")
    assert count(r"Generate explode", plan) >= 1
    assert count(r"BroadcastHashJoin", plan) >= 1
    # the only hash exchanges belong to the tiny per-source aggregate
    # (partial+final), never the corpus scan feeding the explode
    assert count(r"Exchange hashpartitioning", plan) <= 1


def test_important_parts_single_fact_scan(spark):
    """Q11 shape (r9): the HAVING-site scalar is a 1-row broadcast
    over the per-part RESULT — at runtime AQE reuses the per-part
    aggregation exchange, so the fact is scanned/shuffled once even
    though the subtree appears under both the rows and the stats
    branch; no Subquery node anywhere."""
    df = E.queries()["rel_important_parts"](spark, SF_SMOKE)
    df.collect()  # reuse is a RUNTIME decision: inspect the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "Subquery" not in plan
    assert count(r"ReusedExchange", plan) >= 1
    assert count(r"BroadcastNestedLoopJoin|BroadcastHashJoin", plan) >= 1


def test_large_orders_preaggregates_before_joins(spark):
    """Q18 shape (r9): the quantity HAVING collapses lineitem BEFORE
    any join (agg below the first join in the tree), customer dim is
    broadcast, top-100 is TakeOrdered."""
    plan = plan_of(spark, "rel_large_orders")
    assert "Subquery" not in plan
    assert count(r"TakeOrderedAndProject", plan) == 1
    assert count(r"BroadcastHashJoin", plan) >= 2


def test_supplier_variety_not_in_is_broadcast_anti_join(spark):
    """Q16 shape (r9): the NOT IN runs as ONE broadcast LEFT ANTI
    against the O(suppliers) exclusion aggregate — no Subquery node,
    part filter pushed to its scan, top-k via TakeOrdered."""
    plan = plan_of(spark, "rel_supplier_variety")
    assert "Subquery" not in plan
    assert count(r"LeftAnti", plan) == 1
    assert "BroadcastHashJoin" in plan
    assert "Not(EqualTo(p_type,ECONOMY))" in plan
    assert count(r"TakeOrderedAndProject", plan) == 1


def test_bm25_term_filters_before_shuffle(spark):
    """text_bm25: the query-term set broadcasts into the exploded token
    stream BEFORE any exchange (only query-term postings shuffle), doc
    length rides the same scan (no separate dl join), corpus stats are
    a 1-row broadcast, and the per-query top-k is WindowGroupLimit-
    pruned map-side. Exactly two pruned corpus scans (postings +
    N/avgdl), no sort-merge join, no Python."""
    plan = plan_of(spark, "text_bm25")
    assert count(r"FileScan parquet", plan) == 2
    assert count(r"BroadcastHashJoin", plan) == 2
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"EvalPython|ArrowEval", plan) == 0
    assert count(r"WindowGroupLimit", plan) >= 1  # top-k before exchange
    # shuffles: qterm distinct, (doc,tok) tf, tok df-window,
    # (query,doc) score, query_id rank — all candidate-bounded
    assert count(r"Exchange hashpartitioning", plan) <= 5


def test_gapfill_single_raw_scan(spark):
    """rel_gapfill: raw events are scanned ONCE (the rollup is
    checkpointed for its three consumers — bounds, key list, densify
    join); the spine side joins broadcast; the fill windows add one
    key exchange. No Python, no sort-merge join. The final plan reads
    the checkpointed rollup (ExistingRDD ×3) and touches parquet zero
    times — the single raw scan happened materializing the
    checkpoint."""
    plan = plan_of(spark, "rel_gapfill")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"Scan ExistingRDD", plan) == 3
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"EvalPython", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 1  # fill window


def test_linkage_single_block_shuffle_no_python(spark):
    """dedup_linkage: ONE self-join on the block key (plus the block-
    size window exchange on the same key — AQE-reusable), levenshtein
    JVM-native, no cartesian product, no Python."""
    plan = plan_of(spark, "dedup_linkage")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    assert count(r"EvalPython", plan) == 0
    assert count(r"levenshtein", plan) >= 1  # native expr, not UDF


def test_interval_join_is_equi_join_with_range_predicate(spark):
    """stream_interval_join (batch form): the user_id equi-key must
    reach the join as the JOIN KEY (hash/sort-merge), with the 2 h
    event-time bound as a residual predicate — NEVER a nested-loop
    over the range condition. Both event_type filters push to the
    parquet scan."""
    plan = plan_of(spark, "stream_interval_join")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    assert count(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan) >= 1
    assert count(r"EvalPython", plan) == 0
    assert count(r"PushedFilters: \[[^\]]*EqualTo\(event_type", plan) == 2


def test_dedup_replay_is_single_exchange_aggregate(spark):
    """stream_dedup_replay (batch form): dropDuplicates over the keys
    = one hash exchange into a partial/final aggregate — the union's
    1.48x redelivered volume is combined map-side before the shuffle.
    No Python anywhere."""
    plan = plan_of(spark, "stream_dedup_replay")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"HashAggregate|SortAggregate", plan) >= 2  # partial+final
    assert count(r"EvalPython", plan) == 0


def test_image_ahash_dedup_single_window_exchange(spark):
    """mm_image_ahash_dedup: exactly ONE fused Arrow stage (tile
    synth + hash kernel in one crossing — r14 optimization; two
    stages would round-trip the blobs through the JVM), then exactly
    ONE hash exchange (the ahash window); the group stats must not
    add a second shuffle."""
    plan = plan_of(spark, "mm_image_ahash_dedup")
    assert count(r"MapInPandas", plan) == 1
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0


def test_image_neardup_band_join_not_all_pairs(spark):
    """mm_image_neardup: the candidate join must be keyed on the band
    (hash/sort-merge equi-join), never a nested loop over all pairs.
    The tile/hash Python stages run ONCE into a localCheckpoint (the
    self-join would re-execute them per side), so the FINAL plan reads
    the checkpointed (id, hash) RDD twice, touches parquet zero times,
    and contains zero Python; hamming verify is native
    conv/XOR/bit_count."""
    plan = plan_of(spark, "mm_image_neardup")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    assert count(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan) >= 1
    assert count(r"MapInPandas", plan) == 0
    assert count(r"Scan ExistingRDD", plan) == 2
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"bit_count", plan) >= 1


def test_video_framedup_hash_join_not_all_pairs(spark):
    """mm_video_framedup: the pair join must be keyed on the frame
    HASH (equi-join), never a nested loop; the frame synth+hash Python
    ran once into the distinct checkpoint, so the final plan is
    Python-free over two ExistingRDD scans."""
    plan = plan_of(spark, "mm_video_framedup")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    assert count(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan) >= 1
    assert count(r"MapInPandas", plan) == 0
    assert count(r"Scan ExistingRDD", plan) == 2
    assert count(r"FileScan parquet", plan) == 0


def test_audio_fpdedup_single_window_exchange(spark):
    """mm_audio_fpdedup: exactly ONE fused Arrow stage (WAV synth +
    fingerprint kernel in one crossing — r14 optimization), then
    exactly ONE hash exchange (the afp window) — the image-dedup plan
    shape with the audio kernel."""
    plan = plan_of(spark, "mm_audio_fpdedup")
    assert count(r"MapInPandas", plan) == 1
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0


def test_audio_neardup_band_join_not_all_pairs(spark):
    """mm_audio_neardup: the shared banding machinery must keep its
    shape under hash_col='afp' — band-keyed equi-join over the
    checkpointed (id, fingerprint) RDD, zero Python, zero parquet in
    the final plan, native bit_count verify."""
    plan = plan_of(spark, "mm_audio_neardup")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    assert count(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan) >= 1
    assert count(r"MapInPandas", plan) == 0
    assert count(r"Scan ExistingRDD", plan) == 2
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"bit_count", plan) >= 1


def test_image_dedup_funnel_reps_collapse_then_band_join(spark):
    """mm_image_dedup_funnel: the exact collapse (groupBy-min reps —
    map-side combinable, deliberately NOT a window) and the near-dup
    banding compose without an extra corpus pass — the final plan has
    the band equi-join over the checkpointed reps, no Python, no
    parquet, no nested loop."""
    plan = plan_of(spark, "mm_image_dedup_funnel")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    assert count(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan) >= 1
    assert count(r"MapInPandas", plan) == 0
    assert count(r"FileScan parquet", plan) == 0


def test_mm_dedup_report_no_cartesian_all_python_checkpointed(spark):
    """mm_dedup_report: six metric legs over three modalities compose
    without a nested loop anywhere, and every Python synth/hash stage
    ran ONCE into its checkpoint — the video leg's single fused
    Arrow stage is the only MapInPandas left in the final plan."""
    plan = plan_of(spark, "mm_dedup_report")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    # image + audio legs are checkpointed (0 Python); the video leg's
    # fused synth+hash stage feeds a distinct that is not checkpointed
    # at the report level (frame_dedup_pairs checkpoints internally)
    assert count(r"MapInPandas", plan) <= 1


def test_kmv_overlap_broadcast_pairs_no_nested_loop(spark):
    """sketch_kmv_overlap: the pair expansion must reach the k-sets
    via a broadcast EQUI-join (the exploded member table), never a
    nested loop; the corpus leg is exactly one distinct + one rank
    window over the checkpointed k-sets."""
    plan = plan_of(spark, "sketch_kmv_overlap")
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 1
    # the only BNLJ allowed is the tiny sets x sets pair builder —
    # that one joins two ≤n_sources-row sides, bounded by set count
    assert count(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan) == 0
