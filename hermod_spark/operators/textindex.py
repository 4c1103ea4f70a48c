"""Persisted inverted-text index: BM25 retrieval without corpus scans.

``textops.bm25_topk`` recomputes postings, document lengths, and df
from raw text on every run — fine for one ad-hoc panel, wrong at
100 TB where retrieval is a standing service and the INDEX is the
artifact (VERDICT r12 next-round #1), exactly as the persisted LSH
corpus index already is for dedup (``dedup.save_dedup_index``).

Index layout (a ``state.GenerationStore`` chain — its docstring holds
the id-disjoint delta, idempotent-admit, crash-window and
reader-staleness contract this index relies on)::

    <path>/_text_index_meta.json      # {"generations": [...], "seq": n}
    <path>/gen-000000000/postings/    # (tok, doc_id, tf, dl) parquet
    <path>/gen-000000000/doclens/     # (doc_id, dl) parquet
    <path>/gen-000000001/...          # one delta per admitted snapshot

Design decisions, each a 100 TB posture:

- **dl denormalized into postings.** BM25's length normalization
  needs dl per (doc, term); carrying it in the posting row costs one
  long per posting and saves the serve path an N-row doclens join.
- **Postings clustered by token.** Each generation's postings are
  repartitioned on ``tok`` and sorted within partitions, so the
  serve-side ``tok IN (…)`` literal predicate (the query panel is a
  driver-side list) pushes into the parquet scan and row-group
  min/max statistics skip everything but the query terms' slivers —
  the inverted-index access path, expressed as parquet + pushdown.

Serve (``bm25_topk_indexed``) matches ``textops.bm25_topk``
bit-for-bit: both paths share the query tokenization and the scoring
tail (``textops.bm25_query_terms`` / ``bm25_score_rank``), df comes
from a window over the candidate postings exactly as the direct form
computes it, and corpus stats (N, avgdl) aggregate the doclens tables
— index-sized input, identical values. The raw documents table is
never touched (plan-gated in tests: zero FileScan of the corpus).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hermod_spark.functions import text as X
from hermod_spark.operators.textops import bm25_query_terms, bm25_score_rank
from hermod_spark.state import GenerationStore

_STORE = GenerationStore(
    "_text_index_meta.json", "text index",
    {"postings": ("tok",), "doclens": ()},
)


def _tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The tokenized base both components derive from — exposed so
    :func:`extend_text_index` can checkpoint it ONCE and have the
    add-count and both generation writes read one materialization
    (ADVICE r13: checkpointing only doclens left postings
    re-evaluating the un-checkpointed anti-join plan, so a mutating
    source could commit inconsistent postings/doclens)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        X.tokens(F.lower(F.col(text_col))).alias("_tk"),
    )


def _components(base: DataFrame) -> dict[str, DataFrame]:
    """postings + doclens for one document batch from its tokenized
    base: tokenize ONCE per row (the scan's CPU cost), then explode →
    (doc, term) counts. Docs that tokenize to nothing still appear in
    doclens (they count in N and avgdl, exactly as the direct path's
    corpus agg counts them) but emit no postings."""
    doclens = base.select("doc_id", F.size("_tk").alias("dl"))
    postings = (
        base.select(
            "doc_id",
            F.size("_tk").alias("dl"),
            F.explode_outer("_tk").alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    return {"postings": postings, "doclens": doclens}


def build_text_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_before_commit: Callable[[int], None] | None = None,
) -> None:
    """Create the index at ``path`` from the corpus. Refuses over an
    existing committed index (use :func:`extend_text_index` to admit
    more documents)."""
    _STORE.create(
        df.sparkSession, path, {},
        lambda: _components(_tokenized(df, text_col, id_col)),
        on_before_commit=on_before_commit,
    )


def load_text_index(spark: SparkSession, path: str) -> dict:
    """{"postings", "doclens", "meta", "path"} over the committed
    generation chain."""
    return _STORE.load(spark, path)


def extend_text_index(
    new_df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_before_commit: Callable[[int], None] | None = None,
) -> int:
    """Admit a snapshot into the index: tokenize the docs NEW to it
    (an anti-join on the index's doclens ids — index-sized, never
    corpus-text-sized) and commit them as one delta generation.
    Returns the number of docs added."""
    spark = new_df.sparkSession
    idx = _STORE.load(spark, path)
    fresh = new_df.join(
        idx["doclens"].select(F.col("doc_id").alias(id_col)),
        id_col,
        "left_anti",
    )
    # the delta is snapshot-sized: checkpoint the TOKENIZED BASE once
    # so the add-count and BOTH generation writes read one
    # materialization — a non-deterministic or mutating source can
    # never commit doclens and postings from different evaluations of
    # the anti-join (ADVICE r13)
    base = _tokenized(fresh, text_col, id_col).localCheckpoint()
    n_added = base.count()
    if n_added:
        _STORE.append(
            spark, idx, _components(base), on_before_commit=on_before_commit
        )
    return n_added


def text_index_maintenance_sink(
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = None,
    retain: int = 0,
    on_before_commit: Callable[[int], None] | None = None,
):
    """foreachBatch function maintaining the persisted text index as
    documents STREAM in (``GenerationStore.maintenance_sink``). Use::

        q = (docs.writeStream
             .foreachBatch(text_index_maintenance_sink("/idx/text"))
             .option("checkpointLocation", ckpt).start())

    ``compact_every=N`` folds the generation chain after every Nth
    batch; ``retain`` is that fold's reader-staleness window."""
    return _STORE.maintenance_sink(
        path,
        id_col=id_col,
        cols=[id_col, text_col],
        create=lambda batch: build_text_index(
            batch, path, text_col=text_col, id_col=id_col,
            on_before_commit=on_before_commit,
        ),
        extend=lambda batch: extend_text_index(
            batch, path, text_col=text_col, id_col=id_col,
            on_before_commit=on_before_commit,
        ),
        compact=lambda spark: compact_text_index(path, spark, retain=retain),
        compact_every=compact_every,
    )


def compact_text_index(
    path: str, spark: SparkSession, *, retain: int = 0
) -> int:
    """Fold the generation chain into one token-clustered generation
    and prune the old chain past ``retain``. Returns the number of
    generations folded. Run off the serve path on whatever cadence
    keeps the chain short."""
    return _STORE.compact(spark, _STORE.load(spark, path), retain=retain)


def bm25_topk_indexed(
    index: dict,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k served FROM the persisted index — same contract and
    bit-identical scores as ``textops.bm25_topk`` (shared query
    tokenization and scoring tail), but the only scans are:

    - postings, pruned to the query terms by a literal ``IN``
      predicate pushed into the parquet scan (the panel is a
      driver-side list — row-group stats skip every non-matching
      sliver of the token-clustered files);
    - doclens, one index-sized aggregate for (N, avgdl).

    The raw corpus is never read — k1/b/k stay serve-time parameters
    because postings are statistic-free (no rebuild to retune)."""
    if not queries:
        raise ValueError("bm25_topk_indexed: queries must be non-empty")
    spark = index["postings"].sparkSession
    qterms, term_list = bm25_query_terms(spark, queries)
    tf = index["postings"].filter(F.col("tok").isin(term_list))
    # df per term over the candidate postings — these rows ARE the
    # distinct (doc, term) pairs, exactly the direct form's window
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    stats = index["doclens"].agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    out = bm25_score_rank(tf, qterms, stats, k=k, k1=k1, b=b, id_col="doc_id")
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
