"""End-to-end training-corpus curation pipeline (the composition the
LLM-data operators exist for): exact dedup → MinHash near-dedup →
quality/language filters → token budgeting.

Single lazy DataFrame graph — Catalyst fuses the filter stages into the
scans; the only shuffles are the two dedup key-exchanges and the final
budget window. Every stage is the already-tested operator from
dedup.py / text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_on_fhir_spark.operators import text as tx
from parquet_on_fhir_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    languages: list[str] | None = None,
    near_dup_threshold: float = 0.8,
    token_budget: int | None = None,
    embeddings: DataFrame | None = None,
    embedding_threshold: float = 0.95,
    hash_family: str = "xxhash64",
    cluster_closure: bool = False,
) -> DataFrame:
    """Returns the curated corpus with ``quality`` and ``n_tokens``
    columns attached.

    Stages (in pipeline order):
    1. exact dedup (content hash; min-id survivor)
    2. near-dedup: MinHash-LSH pairs ≥ threshold → drop the higher id of
       each pair (keep-first, mirroring exact dedup's survivor rule).
       The pair-drop keeps every LOCAL minimum of the pair graph — the
       one-shot production shortcut; ``cluster_closure=True`` instead
       closes pairs into transitive components (operators/graph.py) and
       keeps ONE survivor per cluster (a~b, b~c now also drops the a≁c
       stragglers, at the cost of an iterative fixpoint). q86/q86c
       oracle the default pair-drop semantics.
    2b. optional embedding near-dedup: ``embeddings`` is a DataFrame of
        (id_col, embedding array); sign-LSH-bucketed cosine pairs ≥
        ``embedding_threshold`` drop the higher id — catches semantic
        duplicates the text-shingle pass misses (translations,
        paraphrases, re-renders).
    3. quality + optional language filter (JVM expressions)
    4. optional token budget: order by quality desc (id tiebreak) and
       keep documents while the running token total fits the budget —
       a deterministic greedy knapsack. Executed as a scale-safe
       two-pass cutoff (see ``_apply_token_budget``), never as a
       global single-partition window.

    ``hash_family`` selects the MinHash family (dedup.minhash_signatures):
    ``"xxhash64"`` for production sweeps, ``"md5_60"`` when the whole
    pipeline must be cross-engine verifiable (q86c's DuckDB oracle).
    """
    d = exact_dedup(docs, text_col, id_col)

    sigs = minhash_signatures(
        d, text_col, id_col, num_hashes=32, hash_family=hash_family
    )
    pairs = minhash_lsh_pairs(sigs, id_col, num_bands=8, jaccard_threshold=near_dup_threshold)
    if cluster_closure:
        from parquet_on_fhir_spark.operators.graph import connected_components

        cc = connected_components(pairs, "id_a", "id_b")
        losers = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    d = d.join(losers, id_col, "left_anti")

    if embeddings is not None:
        from parquet_on_fhir_spark.operators.dedup import embedding_near_dup_pairs

        epairs = embedding_near_dup_pairs(
            embeddings, id_col, "embedding", threshold=embedding_threshold
        )
        elosers = epairs.select(F.col("id_b").alias(id_col)).distinct()
        d = d.join(elosers, id_col, "left_anti")

    # +1e-9 before round-4: round-half quality values land exactly on the
    # rounding boundary where engines disagree (suite.common.d4 discipline);
    # the epsilon makes the 4-dp bucket ids engine-stable.
    d = d.withColumn(
        "quality", F.round(tx.quality_score(text_col) + F.lit(1e-9), 4)
    ).withColumn(
        "n_tokens", tx.token_count(text_col).cast("long")
    )
    d = d.filter(F.col("quality") >= min_quality)
    if languages:
        d = d.filter(tx.detect_language(text_col).isin(*languages))

    if token_budget is not None:
        d = _apply_token_budget(d, id_col, token_budget)
    return d


def _apply_token_budget(d: DataFrame, id_col: str, token_budget: int) -> DataFrame:
    """Greedy token-budget cutoff in (quality desc, id) order without a
    global window.

    A partition-less ordered window funnels the whole corpus through one
    task; instead, exploit that ``quality`` is rounded to 4 decimals, so
    the bucket histogram is tiny (<= ~10k rows):

    1. ``groupBy(quality).sum(n_tokens)`` — distributed, tiny result.
    2. Driver-side cumulative sum over the sorted histogram picks the
       *full-keep* quality prefix, at most ONE *boundary* bucket, and the
       full-drop suffix. (Offsets are monotone: once a bucket overflows,
       every lower bucket starts past the budget.)
    3. Only the boundary bucket needs row order: a window partitioned by
       ``quality`` (one bucket's rows, parallel-safe shape — hash
       Exchange, never SinglePartition) computes its id-ordered prefix
       sums against the broadcast offset.

    Output is row-identical to the global greedy window: a row survives
    iff its global running total (bucket offset + in-bucket prefix) fits
    the budget. Residual skew: a degenerate corpus where most surviving
    docs share one exact 4-dp quality puts that bucket on one task —
    upstream exact+near dedup makes that regime unlikely.

    The input is checkpointed lazily before the histogram pass: both
    passes — and the caller's final action — reuse one materialization
    of the expensive upstream graph (two LSH shuffles + signature
    computation) instead of recomputing it per action. At cluster scale
    this is the standard two-pass checkpoint; it is what makes the
    histogram cutoff strictly cheaper than a global window, not merely
    better-partitioned.
    """
    d = d.localCheckpoint(eager=False)
    hist = d.groupBy("quality").agg(F.sum("n_tokens").alias("__tot")).collect()
    buckets = sorted(hist, key=lambda r: -r["quality"])
    offset = 0
    boundary_q = None
    boundary_offset = 0
    for r in buckets:
        if offset + r["__tot"] <= token_budget:
            offset += r["__tot"]  # full keep
            continue
        boundary_q, boundary_offset = r["quality"], offset
        break
    if boundary_q is None:  # everything fits
        return d

    keep_all = d.filter(F.col("quality") > F.lit(boundary_q))
    bw = (
        Window.partitionBy("quality")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        d.filter(F.col("quality") == F.lit(boundary_q))
        .withColumn("__run", F.sum("n_tokens").over(bw))
        .filter(F.lit(boundary_offset) + F.col("__run") <= token_budget)
        .drop("__run")
    )
    return keep_all.unionByName(boundary)
