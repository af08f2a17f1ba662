"""Crawl-frontier operators — scheduling and budgeting the fetch side
of a web-scale pipeline (r14 wave 2).

A 100 TB crawl is not just parsing what arrived; deciding WHAT to
fetch is itself a big-data problem: billions of frontier URLs must be
budgeted across millions of hosts (politeness caps per host, global
fetch budget), sequenced per host (one connection per host, fixed
delay — RFC 9309 §2.5 / Crawl-delay convention), and prioritized by
link evidence (anchor text is the classic relevance signal).

All three operators are pure Catalyst:

- ``politeness_schedule`` — per-host serialization: a window over
  host assigns each kept URL its fetch slot and ETA. The window
  partitions by host, so the shuffle key is the host — a genuinely
  hot host IS a serial crawl constraint (the per-host chain is
  semantically sequential), not a plan defect.
- ``allocate_crawl_budget`` — largest-remainder (Hamilton)
  apportionment of a global budget over per-host demand: one
  1-row aggregate (total demand) broadcast back, floor quotas
  map-side, the leftover seats assigned by ONE window rank over
  fractional remainders.
- ``anchor_text_topk`` — per-target anchor-term counts (explode +
  hash aggregate, map-side combined) with a top-k window per target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def politeness_schedule(
    frontier: DataFrame,
    *,
    host_col: str = "host",
    url_col: str = "url",
    priority_col: str = "priority",
    delay_ms: int = 1000,
    delay_ms_col: str | None = None,
    per_host_cap: int | None = None,
    cap_salts: int = 16,
) -> DataFrame:
    """Per-host fetch sequencing: keep at most ``per_host_cap`` URLs
    per host (highest ``priority`` first, URL as the deterministic
    tie-break), assign each a 1-based ``slot`` in that order, and an
    ``eta_ms = (slot - 1) * delay`` — the earliest time the fetch
    may start under a per-host delay with one connection per host.
    The delay is the constant ``delay_ms`` unless ``delay_ms_col``
    names a column riding the frontier (the robots ``Crawl-delay``
    integration: join :func:`~parquet_on_fhir_spark.operators.robots.
    crawl_delays` onto the frontier first). Output: frontier columns
    + (slot, eta_ms).

    Hot-host skew (r14 verdict task 6): with a cap, the per-host sort
    runs in TWO stages — stage 1 windows by ``(host, salt)`` where
    salt = ``crc32(url) % cap_salts`` and keeps the per-salt top-cap,
    so a 10⁸-URL host sorts in ``cap_salts`` parallel tasks of its
    share instead of one task sorting everything; stage 2 re-windows
    the ≤ ``cap × cap_salts`` survivors per host for the exact global
    slot. Every row in the true per-host top-cap is in its salt's
    top-cap, so the two-stage result is EXACTLY the single-stage one.
    Without a cap the full per-host window is semantically required
    (every kept URL needs a slot) and runs single-stage."""
    order = [F.desc(priority_col), F.col(url_col)]
    out = frontier
    if per_host_cap is not None and cap_salts > 1:
        salt = F.crc32(F.col(url_col).cast("string")) % cap_salts
        w1 = Window.partitionBy(F.col(host_col), salt).orderBy(*order)
        out = (
            out.withColumn("__sr", F.row_number().over(w1))
            .filter(F.col("__sr") <= per_host_cap)
            .drop("__sr")
        )
    w = Window.partitionBy(host_col).orderBy(*order)
    out = out.withColumn("slot", F.row_number().over(w))
    if per_host_cap is not None:
        out = out.filter(F.col("slot") <= per_host_cap)
    delay = (
        F.col(delay_ms_col) if delay_ms_col is not None else F.lit(delay_ms)
    )
    # both operands to LONG before the multiply (r14 advice): with int
    # slot × int delay the product wraps in 32-bit for ~4.3M-slot
    # hosts at delay_ms=1000 before any outer cast could apply.
    return out.withColumn(
        "eta_ms",
        (F.col("slot") - 1).cast("long") * delay.cast("long"),
    )


#: remainder-bucket count for the global rank (see allocate_crawl_budget):
#: enough distinct pid values to spread over any realistic shuffle
#: partition count (guide §2.5: 20-100× more keys than partitions), yet
#: small enough that the per-bucket offsets histogram stays metadata.
_BUDGET_RANK_BUCKETS = 4096


def allocate_crawl_budget(
    demand: DataFrame,
    budget: int,
    *,
    host_col: str = "host",
    demand_col: str = "n_urls",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of ``budget`` fetch
    slots across hosts proportional to ``demand_col``:

        quota_i   = floor(budget * d_i / D)
        leftover  = budget - Σ quota_i   (< #hosts seats)
        +1 to the ``leftover`` hosts with the largest fractional
        remainder (ties → larger demand, then host asc)

    capped at each host's own demand. The cap cannot starve a seat:
    for budget ≤ D, floor(budget·d_i/D) < d_i (integers, strict), so
    quota_i + 1 ≤ d_i; for budget > D every host saturates at its
    demand and the surplus is genuinely unallocatable. Output:
    (host, n_urls, allocated).

    Plan (no SinglePartition over the HOST frame — it is crawl-sized,
    the token-budget discipline applies): the two scalars (D, Σ quota)
    are 1-row aggregates; the global remainder rank is computed
    scalably as a DETERMINISTIC remainder bucketing + partition-local
    row_number against broadcast offsets. Each row's bucket is
    ``__pid = P-1-floor(rem*P)`` (P = _BUDGET_RANK_BUCKETS), a pure
    function of the row: buckets ascend exactly as ``rem`` descends
    (rows with equal rem always share a bucket, so the within-bucket
    (rem DESC, demand DESC, host) window continues the global order
    exactly). The per-bucket offsets are the cumulative window over
    the ≤P-row bucket histogram (metadata-sized) broadcast back, and
    the leftover seat count rides as a broadcast 1-row aggregate —
    ZERO driver actions on the host frame.

    Cost of the fixed buckets (a ``repartitionByRange`` would spread
    ties, but samples its boundaries on every computation): a demand
    distribution whose remainders collapse to few distinct values (e.g.
    perfectly uniform per-host demand → ONE shared remainder) lands its
    tied cohort in one bucket = one window task. Rows are ~50 B and the
    window is a narrow row_number, so even a 10M-host tied cohort is a
    single-digit-seconds task.

    The bucketed frame is checkpointed lazily (``localCheckpoint(
    eager=False)``): the offsets pass, the leftover scalar and the final
    pass read one materialization of the demand subtree, computed by the
    first job that reads it. So the offsets and the final pass agree on
    every row's bucket even for a nondeterministic ``demand``, or a
    ``double`` demand column whose sum depends on aggregation order.
    Nothing registers in the SQL cache manager, so repeated calls leave
    no cache behind. The window sits above the checkpoint, so the plan
    keeps its ``__pid``-partitioned shape."""
    d = F.col(demand_col).cast("double")
    total = demand.agg(F.sum(demand_col).alias("__D"))
    # leftover seats as a broadcast scalar — when it is ≤ 0 every
    # rank comparison below is simply false, so the no-leftover case
    # needs no Python-side branch (and no action to decide it)
    nbuck = _BUDGET_RANK_BUCKETS
    j = (
        demand.crossJoin(F.broadcast(total))
        .withColumn("__exact", F.lit(budget) * d / F.col("__D"))
        .withColumn("__q", F.coalesce(F.floor("__exact"), F.lit(0)))
        .withColumn(
            "__rem", F.coalesce(F.col("__exact") - F.col("__q"), F.lit(0.0))
        )
        .drop("__D", "__exact")
        # rem ∈ [0,1) ⇒ floor(rem·P) ∈ [0,P-1]; the least() guard only
        # fires if rem·P rounds up to exactly P for rem = 1-ulp, which
        # merges that row into the top bucket — order preserved.
        .withColumn(
            "__pid",
            (
                F.lit(nbuck - 1)
                - F.least(
                    F.lit(nbuck - 1),
                    F.floor(F.col("__rem") * nbuck),
                )
            ).cast("int"),
        )
    ).localCheckpoint(eager=False)
    leftover_col = j.agg(
        (F.lit(budget) - F.coalesce(F.sum("__q"), F.lit(0)))
        .cast("long")
        .alias("__left")
    )
    order = [
        F.col("__rem").desc(),
        F.col(demand_col).desc(),
        F.col(host_col).asc(),
    ]
    offs = (
        j.groupBy("__pid")
        .agg(F.count("*").alias("__n"))
        .select(
            "__pid",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("__off"),
        )
    )
    lw = Window.partitionBy("__pid").orderBy(*order)
    ranked = (
        j.join(F.broadcast(offs), "__pid")
        .crossJoin(F.broadcast(leftover_col))
        .withColumn(
            "__plus",
            F.when(
                F.col("__off") + F.row_number().over(lw) <= F.col("__left"),
                1,
            ).otherwise(0),
        )
    )

    alloc = F.least(
        F.col(demand_col).cast("long"),
        (F.col("__q") + F.col("__plus")).cast("long"),
    )
    return ranked.select(
        F.col(host_col), F.col(demand_col), alloc.alias("allocated")
    )


def anchor_text_topk(
    links: DataFrame,
    k: int = 3,
    *,
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target top-k anchor terms — the classic off-page relevance
    signal (anchor text describes the TARGET page better than the
    page itself; every web-scale ranker and several curation
    pipelines aggregate it). Terms = lowercased whitespace split of
    the anchor; count per (dst, term) in one map-side-combined hash
    aggregate; top-k per dst by (count DESC, term ASC). Output:
    (dst, term, n, rnk ≤ k)."""
    terms = links.select(
        F.col(dst_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(anchor_col)), r"\s+"),
                lambda x: x != "",
            )
        ).alias("term"),
    )
    counts = terms.groupBy(dst_col, "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy(dst_col).orderBy(F.desc("n"), F.col("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
