"""Scale-posture tests: assert the PLANS, not just the results —
bucketed joins are exchange-free, broadcasts happen, pushdown reaches
the scan, salted joins match plain joins."""


import pytest

from pyspark.sql import functions as F

from parquet_on_fhir_spark.api import load_table
from parquet_on_fhir_spark.operators.bucketing import (
    bucketed_join,
    plan_of,
    write_bucketed,
)
from parquet_on_fhir_spark.operators.skew import salted_join


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    write_bucketed(c, "b_customer", "c_custkey", buckets=4)
    write_bucketed(o, "b_orders", "c_custkey", buckets=4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_customer", "c_custkey")
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan
        # and it still computes the right thing
        expect = (
            load_table(spark, sf_dir, "orders")
            .join(c, F.col("o_custkey") == c["c_custkey"])
            .count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_salted_join_equals_plain_join(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    salted = salted_join(l, p, "p_partkey").groupBy("p_brand").count()
    plain = l.join(p, "p_partkey").groupBy("p_brand").count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_broadcast_hint_respected(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    plan = plan_of(l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"]))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    plan = plan_of(
        l.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") < 5)
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "LessThan(l_quantity" in pushed[0]
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # column pruning: only the two projected columns are read
    assert "l_extendedprice" not in read


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    from parquet_on_fhir_spark.streaming.jobs import (
        run_foreach_batch_to_parquet,
        stream_events,
    )

    out = str(tmp_path)
    s = stream_events(spark, sf_dir).select("event_id", "event_type")
    run_foreach_batch_to_parquet(s, out)
    back = spark.read.parquet(f"{out}/batch=*")
    assert back.count() == load_table(spark, sf_dir, "events").count()


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """A hard-filtered dim joined to a fact over a shuffle join must get
    a might_contain(bloom) predicate injected into the fact scan — rows
    that cannot match are dropped BEFORE the shuffle (the 100 TB lever:
    shuffle volume tracks the filtered dim, not the raw fact)."""
    from pyspark.sql import functions as F
    from parquet_on_fhir_spark.api import load_table
    from parquet_on_fhir_spark.operators.layout import enable_runtime_filters

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    enable_runtime_filters(spark, for_local_test=True)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
        l = load_table(spark, sf_dir, "lineitem")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy().count()
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        # and the filter actually runs (correct count unchanged)
        naive = l.join(o, l.l_orderkey == o.o_orderkey).count()
        assert j.collect()[0][0] == naive
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")


def test_range_clustered_write_enables_file_skipping(spark, sf_dir, tmp_path):
    """write_clustered produces near-disjoint per-file min-max ranges on
    the clustering column (checked in the parquet footers), so selective
    predicates skip whole files; an unclustered write overlaps heavily."""
    import glob

    import pyarrow.parquet as pq

    from parquet_on_fhir_spark.api import load_table
    from parquet_on_fhir_spark.operators.layout import write_clustered

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    base = str(tmp_path)
    write_clustered(l, f"{base}/clustered", ["l_orderkey"], n_files=8)
    l.repartition(8).write.mode("overwrite").parquet(f"{base}/unclustered")

    def ranges(path):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            col_idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "l_orderkey"
            )
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min); maxs.append(st.max)
            out.append((min(mins), max(maxs)))
        return out

    def overlap_pairs(rs):
        n = 0
        for i in range(len(rs)):
            for j in range(i + 1, len(rs)):
                if rs[i][0] <= rs[j][1] and rs[j][0] <= rs[i][1]:
                    n += 1
        return n

    clustered = ranges(f"{base}/clustered")
    unclustered = ranges(f"{base}/unclustered")
    assert len(clustered) == 8
    # range partitioning → zero overlapping file ranges (boundaries may
    # touch at most via duplicate keys; allow <=1); random partitioning
    # → almost every pair overlaps
    assert overlap_pairs(clustered) <= 1
    assert overlap_pairs(unclustered) >= len(unclustered) * (len(unclustered) - 1) // 2 - 1


def test_token_budget_has_no_single_partition_window(spark, sf_dir):
    """The curation token-budget cutoff must never plan a partition-less
    ordered window (Exchange SinglePartition funnels the corpus through
    one task at scale)."""
    from parquet_on_fhir_spark.operators.pipeline import _apply_token_budget

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("quality", F.round(F.rand(seed=7), 2))
        .withColumn("n_tokens", (F.length("text") / 4).cast("long"))
    )
    total = d.agg(F.sum("n_tokens")).collect()[0][0]
    out = _apply_token_budget(d, "doc_id", int(total * 0.4))  # forces a boundary bucket
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" in plan  # boundary bucket still windowed...
    assert "SinglePartition" not in plan  # ...but never on one partition
    assert out.agg(F.sum("n_tokens")).collect()[0][0] <= int(total * 0.4)


def test_compact_table(spark, sf_dir, tmp_path):
    """Streaming-ingest residue (many small files) → few right-sized
    files; same rows; concurrent-reader-safe swap; idempotent re-run."""
    from pathlib import Path

    from parquet_on_fhir_spark.operators.layout import compact_table

    tbl = str(tmp_path / "t")
    lineitem = load_table(spark, sf_dir, "lineitem")
    lineitem.repartition(64).write.parquet(tbl)  # simulate tiny appends
    before = len(list(Path(tbl).glob("part-*.parquet")))
    assert before >= 32
    n = lineitem.count()

    r = compact_table(spark, tbl, target_file_mb=512)
    assert not r["skipped"] and r["files_before"] == before
    after = len(list(Path(tbl).glob("part-*.parquet")))
    assert after == r["files_after"] < before
    assert spark.read.parquet(tbl).count() == n
    assert not Path(f"{tbl}__compact").exists()
    assert not Path(f"{tbl}__old").exists()

    r2 = compact_table(spark, tbl, target_file_mb=512)
    assert r2["skipped"]  # already compact — no rewrite job


def test_zorder_write_tiles_both_columns(spark, sf_dir, tmp_path):
    """write_zordered files cover rectangular Morton tiles: per-file
    spans on BOTH clustered columns are much narrower than the global
    span (single-column range clustering only narrows its own column),
    and the Z-key math matches a pure-Python interleave."""
    import glob

    import pyarrow.parquet as pq

    from parquet_on_fhir_spark.api import load_table
    from parquet_on_fhir_spark.operators.layout import write_zordered, zorder_key

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    base = str(tmp_path / "z")
    write_zordered(l, base, "l_orderkey", "l_partkey", bits=21, n_files=16)

    def spans(col):
        out = []
        for f in sorted(glob.glob(f"{base}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            out.append(max(maxs) - min(mins))
        return out

    ok_spans, pk_spans = spans("l_orderkey"), spans("l_partkey")
    import pyspark.sql.functions as F

    glob_ok, glob_pk = l.agg(
        (F.max("l_orderkey") - F.min("l_orderkey")),
        (F.max("l_partkey") - F.min("l_partkey")),
    ).first()
    # average per-file span well under the global span on BOTH dimensions
    assert sum(ok_spans) / len(ok_spans) < glob_ok * 0.6
    assert sum(pk_spans) / len(pk_spans) < glob_pk * 0.6

    # Z-key expression == python reference on a sample
    rows = (
        l.limit(50)
        .withColumn("zkey", zorder_key("l_orderkey", "l_partkey", bits=21))
        .collect()
    )

    def pyz(a, b, bits=21):
        k = 0
        for i in range(bits):
            k |= ((a >> i) & 1) << (2 * i)
            k |= ((b >> i) & 1) << (2 * i + 1)
        return k

    for r in rows:
        assert r["zkey"] == pyz(r["l_orderkey"], r["l_partkey"])


def test_snapshot_diff_classifies(spark):
    from parquet_on_fhir_spark.operators.layout import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 31), (4, "d", 40)], "id long, s string, v long"
    )
    got = {r.id: r.change for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # NULL vs empty-string must not collide (null-tagged concatenation)
    o2 = spark.createDataFrame([(1, None)], "id long, s string")
    n2 = spark.createDataFrame([(1, "")], "id long, s string")
    assert snapshot_diff(o2, n2, ["id"]).collect()[0].change == "changed"


def test_skew_report_identifies_hot_key(spark):
    from parquet_on_fhir_spark.operators.skew import skew_report

    rows = [(1, "hot") for _ in range(90)] + [(i, f"k{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, key string")
    rep = {(r.column, r.rank): r for r in skew_report(df, ["key"], k=3).collect()}
    top = rep[("key", 1)]
    assert top.key_value == "hot" and top.n_rows == 90
    assert abs(top.share - 0.9) < 1e-9
    assert len(rep) == 3  # k respected


def test_winsorize_bounds_join_is_broadcast(spark, sf_dir):
    from parquet_on_fhir_spark.operators.analytics import winsorize

    o = load_table(spark, sf_dir, "orders")
    plan = plan_of(winsorize(o, "o_totalprice", ["o_orderstatus"]))
    # the per-group bounds come back as a broadcast, never a shuffle
    # of the data side
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_target_encode_joins_all_broadcast(spark, sf_dir):
    from parquet_on_fhir_spark.operators.analytics import target_encode

    o = load_table(spark, sf_dir, "orders")
    plan = plan_of(target_encode(o, "o_orderpriority", "o_totalprice"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_quantile_bin_is_map_side_after_one_agg(spark, sf_dir):
    from parquet_on_fhir_spark.operators.analytics import quantile_bin

    o = load_table(spark, sf_dir, "orders")
    plan = plan_of(quantile_bin(o, "o_totalprice", bins=4))
    # boundary frame is 1 row: its join must be a broadcast nested loop
    # (cross join of a single row), no shuffle of the data side
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_scd2_single_window_shuffle(spark, sf_dir):
    from parquet_on_fhir_spark.operators.timeseries import scd2

    e = load_table(spark, sf_dir, "events")
    plan = plan_of(
        scd2(e, ["user_id"], "ts", ["event_type"], tie_cols=["event_id"])
    )
    # lag-filter-lead shares one hashpartitioning(user_id) — a second
    # Exchange would mean the lead window re-shuffled
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_ohlc_is_single_aggregate_no_window(spark, sf_dir):
    from parquet_on_fhir_spark.operators.timeseries import ohlc

    e = load_table(spark, sf_dir, "events")
    plan = plan_of(ohlc(e, "ts", ["user_id"], "value", tie_cols=["event_id"]))
    assert "Window" not in plan  # agg formulation, not an ordered window
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def _unpartitioned_windows(df):
    """Walk the optimized logical plan; return Window nodes whose
    partitionSpec is empty (the corpus-through-one-task anti-pattern)."""
    bad = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                bad.append(node.toString().splitlines()[0])
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return bad


def test_interleave_sources_has_no_global_window(spark, sf_dir):
    """interleave_sources must compute `position` arithmetically from the
    K-row per-source count broadcast — NEVER via an unpartitioned
    row_number window (which single-partitions the full corpus)."""
    from parquet_on_fhir_spark.operators.curation import interleave_sources

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = interleave_sources(d, "source", "doc_id", seed=0)
    assert _unpartitioned_windows(out) == []
    # positions are a permutation of 0..n-1 and round-robin: within any
    # source, positions increase with the per-source round.
    n = d.count()
    rows = out.select("position").agg(
        F.count("*").alias("c"),
        F.count_distinct("position").alias("d"),
        F.min("position").alias("lo"),
        F.max("position").alias("hi"),
    ).collect()[0]
    assert (rows["c"], rows["d"], rows["lo"], rows["hi"]) == (n, n, 0, n - 1)


def test_set_similarity_candidate_exchange_is_skinny(spark, sf_dir):
    """The All-Pairs candidate join must shuffle (id, n, prefix-token)
    only — the sorted token ARRAYS may never enter a prefix-keyed
    exchange (at the measured 2.3× all-pairs row multiplicity that
    would move prefix-len × corpus-text bytes; SCALE_NOTES seventh
    wave). Arrays are allowed in id-keyed exchanges (the verify
    re-join) and aggregates, just not under a __ptok partitioning."""
    from parquet_on_fhir_spark.operators.joins import set_similarity_join

    d = (
        load_table(spark, sf_dir, "documents")
        .limit(200)
        .select(
            "doc_id",
            F.array_remove(F.split(F.col("text"), " "), "").alias("toks"),
        )
    )
    # at toy size AQE broadcasts the candidate join and no __ptok
    # exchange exists; disable broadcast so the plan takes the shape it
    # would at scale (sort-merge over __ptok-hashed exchanges)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = set_similarity_join(d, "doc_id", "toks", threshold=0.8)
        plan_root = out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bad = []
    seen_ptok = 0
    stack = [plan_root]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            # AQE wrapper is childless — descend into the wrapped plan
            stack.append(node.initialPlan())
            continue
        if "ShuffleExchange" in name:
            part = node.outputPartitioning().toString()
            if "__ptok" in part:
                seen_ptok += 1
                if "__sorted" in node.child().output().toString():
                    bad.append(part)
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    assert seen_ptok >= 2, "candidate join exchanges not found — vacuous"
    assert bad == [], bad


def _single_partition_exchanges_post_aggregate(df):
    """For every SinglePartition shuffle in the executed plan, walk its
    subtree and require a HashAggregate BEFORE any scan — i.e. the one
    ordered window runs over an aggregated (distinct-value / K-row)
    frame, never the corpus. Returns the offending subtree names."""
    def children(node):
        out = []
        for i in range(node.children().size()):
            out.append(node.children().apply(i))
        return out

    def has_agg_before_scan(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return has_agg_before_scan(node.initialPlan())
        if "HashAggregate" in name or "SortAggregate" in name:
            return True
        if "Scan" in name:
            return False
        kids = children(node)
        if not kids:
            return True  # leaf that is not a scan (empty relation etc.)
        return all(has_agg_before_scan(k) for k in kids)

    bad = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        if "ShuffleExchange" in name and "SinglePartition" in str(
            node.outputPartitioning().toString()
        ):
            if not has_agg_before_scan(node):
                bad.append(name)
        stack.extend(children(node))
    return bad


def test_survival_ranking_windows_are_frame_bound(spark, sf_dir):
    """log_rank_test / average_precision / restricted_mean_survival
    (r9): their ordered windows may only see the distinct-value frame —
    every SinglePartition exchange must sit above a hash aggregate,
    the binary_auc/kaplan_meier scale shape (SCALE_NOTES ninth wave:
    1.44x / 1.10x at x30 data)."""
    from parquet_on_fhir_spark.operators.analytics import (
        average_precision,
        log_rank_test,
        restricted_mean_survival,
    )

    e = load_table(spark, sf_dir, "events").select(
        F.round("value", 0).alias("dur"),
        (F.col("event_id") % 3 > 0).alias("ev"),
        (F.col("user_id") % 2).alias("arm"),
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    for df in (
        log_rank_test(e, "dur", "ev", "arm", 0, 1),
        average_precision(e, "score", "label"),
        restricted_mean_survival(e, "dur", "ev", tau=30.0),
    ):
        df.count()  # materialize so AQE finalizes the executed plan
        assert _single_partition_exchanges_post_aggregate(df) == []


def test_rank_stat_windows_are_frame_bound(spark, sf_dir):
    """mann_whitney_u / spearman_correlation (r9 wave 2): their ordered
    windows may only see the distinct-value frame — every
    SinglePartition exchange must sit above a hash aggregate (the
    binary_auc scale shape). ndcg_at_k / mean_reciprocal_rank use only
    KEYED windows, so their plans must contain NO SinglePartition
    window exchange at all below the final 1-row aggregate."""
    from parquet_on_fhir_spark.operators.analytics import (
        mann_whitney_u,
        mean_reciprocal_rank,
        ndcg_at_k,
        spearman_correlation,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        "event_type",
        (F.col("event_id") % 4).cast("int").alias("rel"),
    )
    for df in (
        mann_whitney_u(e, "value", "event_type", "purchase", "click"),
        spearman_correlation(
            e.select(
                F.round("value", 1).alias("x"),
                F.col("user_id").cast("double").alias("y"),
            ),
            "x",
            "y",
        ),
        ndcg_at_k(e, "user_id", "value", "rel", 10, "event_id"),
        mean_reciprocal_rank(e, "user_id", "value", "rel", "event_id"),
    ):
        df.count()
        assert _single_partition_exchanges_post_aggregate(df) == []


def test_r11_wave_plan_shapes(spark, sf_dir):
    """Plan-shape assertions for the round-11 wave: qf40's membership
    join BROADCASTS the terminology side and prunes the events scan to
    event_id alone; q258 executes as TakeOrderedAndProject (per-
    partition top-k heaps, no global Exchange-then-sort pair for the
    limit) with the weight filter pushed to the scan; q260's plan
    contains no cartesian product and its half-step norms come back
    through broadcast joins."""
    from parquet_on_fhir_spark.suite.fhir_queries import qf40
    from parquet_on_fhir_spark.suite.llm import q258
    from parquet_on_fhir_spark.suite.relational import q260

    p40 = plan_of(qf40(spark, sf_dir))
    assert "BroadcastHashJoin" in p40, p40
    assert "ReadSchema: struct<event_id:bigint>" in p40, p40

    p258 = plan_of(q258(spark, sf_dir))
    assert "TakeOrderedAndProject" in p258, p258
    assert "GreaterThan(n_chars,0)" in p258, p258
    assert "SortMergeJoin" not in p258, p258

    p260 = plan_of(q260(spark, sf_dir))
    assert "CartesianProduct" not in p260, p260
    assert "BroadcastNestedLoopJoin" not in p260.replace(
        # the 1-row norm broadcasts are the ONLY acceptable nested-loop
        # joins (crossJoin(broadcast(1-row agg)) lowers to BNLJ); a
        # data-sized BNLJ would list join keys here
        "BroadcastNestedLoopJoin BuildRight, Cross", ""
    ), p260


def test_r12_wave2_plan_shapes(spark, sf_dir):
    """Plan-shape assertions for the round-12 wave-2 debuts: q266/q269/
    q272 contain no cartesian product (their joins are all keyed);
    q267's only fact-side stage is ONE hash aggregate with a partial
    (map-side-combine) phase and the windows/joins run on the sketch
    frame; q271's candidate builder broadcasts the query-sized side so
    the corpus side never shuffles into the product."""
    from parquet_on_fhir_spark.suite.llm import q271
    from parquet_on_fhir_spark.suite.relational import q266, q267, q272

    p266 = plan_of(q266(spark, sf_dir))
    assert "CartesianProduct" not in p266, p266

    p267 = plan_of(q267(spark, sf_dir))
    assert "CartesianProduct" not in p267, p267
    # the fact pass: partial_count before the exchange (map-side combine)
    assert "partial_count" in p267, p267

    p271 = plan_of(q271(spark, sf_dir))
    # the all-pairs product is explicitly broadcast (query-sized side)
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in p271 or (
        "BroadcastExchange" in p271
    ), p271
    assert "SortMergeJoin Cross" not in p271, p271

    p272 = plan_of(q272(spark, sf_dir))
    assert "CartesianProduct" not in p272, p272


def test_grid_radius_join_is_equi_join_not_cartesian(spark):
    """q280's spatial join must plan as a keyed equi-join on the grid
    cells — never a cartesian/nested-loop product of points×probes."""
    import random

    from pyspark.sql import functions as F

    from parquet_on_fhir_spark.operators.joins import grid_radius_join

    rng = random.Random(2)
    pts = [(i, rng.uniform(-60, 60), rng.uniform(-170, 170))
           for i in range(300)]
    points = spark.createDataFrame(
        pts, "point_id long, lat double, lon double"
    )
    probes = spark.createDataFrame(
        pts[:3], "probe_id long, lat double, lon double"
    )
    plan = plan_of(grid_radius_join(points, probes, 400.0))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dynamic_partition_pruning_plan(spark, sf_dir):
    """q288's physical scan must carry a dynamicpruning partition
    filter on the year-partitioned fact side — the runtime-pruned scan
    that makes date-partitioned fact-dim joins partial reads at scale
    — and the dim side must broadcast."""
    from parquet_on_fhir_spark.suite.relational import q288

    p = plan_of(q288(spark, sf_dir))
    assert "dynamicpruning" in p, p
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_codec_queries_broadcast_fixture_plan(spark, sf_dir):
    """The r13 codec/audit debuts (q299 VP8, q301 animation, q302
    AVIF, q303 EXIF) must all plan as a BROADCAST join of the tiny
    fixture frame onto the fact side — never an exchange of the fact
    rows, never a cartesian product."""
    from parquet_on_fhir_spark.suite.llm import q299, q301, q302, q303

    for fn in (q299, q301, q302, q303):
        try:
            p = plan_of(fn(spark, sf_dir))
        except NotImplementedError:
            continue  # q302 skips where libavif is absent
        assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, fn
        assert "CartesianProduct" not in p, fn
        assert "SortMergeJoin" not in p, fn


def test_robots_filter_plan_is_join_no_driver_collect(spark):
    """r13 verdict task 1: robots rules must be distributed by JOIN,
    never a driver-collected dict riding a closure. Pins: (a) the
    operator source contains no .collect( at all; (b) auto mode on a
    tiny rules frame plans a BroadcastHashJoin of the rules side onto
    the URL side with zero shuffle of the fact rows; (c) forced
    shuffle mode plans a ShuffledHashJoin on host."""
    import inspect

    from parquet_on_fhir_spark.operators import robots as robots_mod
    from parquet_on_fhir_spark.operators.robots import robots_filter

    assert ".collect(" not in inspect.getsource(robots_mod)

    robots = spark.createDataFrame(
        [("h0.ex", "User-agent: *\nDisallow: /private/\n"),
         ("h1.ex", "User-agent: *\nDisallow: /tmp/\n")],
        "host string, robots_txt string",
    )
    urls = spark.range(0, 1000).select(
        F.col("id"),
        F.concat(F.lit("h"), (F.col("id") % 2).cast("string"),
                 F.lit(".ex")).alias("host"),
    ).withColumn("url", F.concat(F.lit("https://"), F.col("host"),
                                 F.lit("/p/"), F.col("id")))
    p_bc = plan_of(robots_filter(urls, robots, distribute="broadcast"))
    assert "BroadcastHashJoin" in p_bc, p_bc
    assert "SortMergeJoin" not in p_bc and "CartesianProduct" not in p_bc
    p_sh = plan_of(robots_filter(urls, robots, distribute="shuffle"))
    assert "ShuffledHashJoin" in p_sh, p_sh
    # auto mode: the rules side is a mapInPandas output (no static size
    # estimate) so the pre-AQE plan is SMJ; at RUNTIME AQE sees the
    # tiny build side and must convert to a broadcast join.
    auto = robots_filter(urls, robots)
    auto.collect()
    final = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final
    assert "CartesianProduct" not in final, final


def test_crawl_budget_has_no_single_partition_window(spark):
    """allocate_crawl_budget's global remainder rank must use the
    range-partition + offset form (token-budget discipline) — never a
    partition-less ordered window that funnels the host frame through
    one task."""
    from parquet_on_fhir_spark.operators.frontier import (
        allocate_crawl_budget,
    )

    demand = spark.range(0, 5000).select(
        F.concat(F.lit("h"), F.col("id")).alias("host"),
        (F.col("id") % 37 + 1).alias("n_urls"),
    )
    # the window sits above the bucket frame's lazy checkpoint, so the
    # plan still shows how it is partitioned
    out = allocate_crawl_budget(demand, 1234)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Window" in plan  # the +1 seats are still windowed...
    # ...but partitioned by the range-partition id, never partition-less
    # (the only SinglePartition exchanges in this plan feed the 1-row
    # scalar aggregates, which is the intended metadata fold)
    assert "windowspecdefinition(__pid" in plan, plan
    assert out.agg(F.sum("allocated")).collect()[0][0] == 1234


@pytest.mark.parametrize(
    "case",
    ["q67", "q86", "q108", "q113", "q120", "q131", "q146", "q312",
     "encode_ndjson_tolerant"],
)
def test_operator_leaves_no_cache(spark, sf_dir, tmp_path, case):
    """Operators materialize their multiply-read intermediates with a
    lazy localCheckpoint, never persist/cache: a persisted plan stays in
    the SQL cache manager for the life of the session, so every call
    would leak one entry, and later calls with the same plan would
    silently read it."""
    spark.catalog.clearCache()  # isolate from other tests' caches
    if case == "encode_ndjson_tolerant":
        from parquet_on_fhir_spark.fhir.encode import encode_ndjson_tolerant

        (tmp_path / "p.ndjson").write_text(
            '{"resourceType":"Patient","id":"p1"}\nNOT JSON {{\n'
        )
        good, bad = encode_ndjson_tolerant(
            spark, str(tmp_path), resource_type="Patient"
        )
        assert [r.id for r in good.select("id").collect()] == ["p1"]
        assert bad.count() == 1
    else:
        from parquet_on_fhir_spark.suite import all_queries

        (q,) = [q for q in all_queries() if q.name.split("_")[0] == case]
        assert q.fn(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_suite_scratch_dirs_are_swept(spark):
    """Suite queries that write scratch files register the directory
    for the process-exit sweep instead of leaving it in the temp dir."""
    import os

    from parquet_on_fhir_spark.streaming import jobs
    from parquet_on_fhir_spark.suite.fhir_queries import qf12

    before = len(jobs._SCRATCH_DIRS)
    qf12(spark, None).collect()
    names = sorted(os.path.basename(d) for d in jobs._SCRATCH_DIRS[before:])
    assert len(names) == 2, names
    assert names[0].startswith("pofs_term_CodeSystem_"), names
    assert names[1].startswith("pofs_term_ValueSet_"), names


def test_crawl_pipeline_plan_no_cartesian(spark, sf_dir):
    """q310's composed WARC->charset->HTML->canon->quality pipeline is
    a JOIN-FREE linear chain after the r14 passthrough rewrite: the
    ONLY join in the plan is the broadcast of the 150-payload fixture
    — no per-id assembly SMJ, no cartesian, no extra Exchange between
    the python stages."""
    from parquet_on_fhir_spark.suite.llm import q310

    p = plan_of(q310(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    # exactly one join node: the fixture broadcast (formatted explain
    # prints each node twice — once in the tree, once in the detail)
    assert p.count("BroadcastHashJoin") <= 2, p


def test_crawl_loop_and_revisit_plans(spark, sf_dir):
    """r15 debuts: q328's composed discovery round-trip and q329's
    revisit resolution must never plan a cartesian product, and the
    fixture sides must reach the fact side as broadcasts (the r13
    codec-family discipline). q328's schedule window partitions by
    host — never partition-less."""
    from parquet_on_fhir_spark.suite.llm import q328, q329

    p328 = plan_of(q328(spark, sf_dir))
    assert "CartesianProduct" not in p328, p328
    assert "windowspecdefinition(host" in p328, p328
    p329 = plan_of(q329(spark, sf_dir))
    assert "CartesianProduct" not in p329, p329
    assert "BroadcastHashJoin" in p329 or "BroadcastExchange" in p329, p329


def test_extract_links_rides_the_scan(spark):
    """extract_links is a single mapInPandas projection over the page
    scan: no Exchange, no join, no collect anywhere in the module."""
    import inspect

    from parquet_on_fhir_spark.operators import html as html_mod
    from parquet_on_fhir_spark.operators.html import extract_links

    assert ".collect(" not in inspect.getsource(html_mod)
    pages = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h.ex/p"), F.col("id")).alias("url"),
        F.concat(F.lit('<a href="/x'), F.col("id"),
                 F.lit('">x</a>')).alias("html"),
    )
    p = plan_of(extract_links(pages))
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_observe_reports_empty_metrics_under_lazy_checkpoint(spark):
    """``DataFrame.observe`` on a frame that ``localCheckpoint(eager=False)``
    then cuts reports empty metrics (0 rows, NULL sums) and raises
    nothing; without the cut, or with an eager one, the metrics are
    right. So a lazily cut loop cannot take per-round metrics from
    ``observe``."""
    from pyspark.sql import Observation

    def observed(cut):
        obs = Observation()
        df = spark.range(500).observe(
            obs, F.count(F.lit(1)).alias("rows"), F.sum("id").alias("mass")
        )
        assert cut(df).count() == 500
        return obs.get

    full = {"rows": 500, "mass": 124750}
    assert observed(lambda df: df) == full
    assert observed(lambda df: df.localCheckpoint(eager=True)) == full
    assert observed(lambda df: df.localCheckpoint(eager=False)) == {
        "rows": 0,
        "mass": None,
    }
