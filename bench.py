"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line to stdout (the driver's record):
  {"metric": "...", "queries": {...}, "unit": "sec", "n": 5,
   "spread_max": R, "value_min": N, "value": N, "sf": ...}

The driver captures only the LAST 2000 chars of stdout (BENCH_r09's
single line outgrew that and came back ``parsed: null``), so the
stdout line is kept under 1900 chars by construction: per-query
MINIMA and any overflow move to ``BENCH_FULL.json`` (written next to
this script) and stderr, and the headline scalars sit at the END of
the dict so even a front-truncated tail preserves them. If the
``queries`` dict alone would overflow, it is cut to the slowest
entries and flagged ``"queries_truncated": true`` — the full map is
always in BENCH_FULL.json.

``queries`` holds per-query MEDIANS (the headline number);
``queries_min`` (BENCH_FULL.json) holds per-query MINIMA. A noisy run
is self-diagnosing: median >> min on the same commit means
scheduler/IO contention in that run, not a plan regression (the
round-3 driver bench read 2× on three queries that re-measured at
round-2 levels).

Headline set = one representative per operator family, weighted toward
the plans that matter at 100 TB (join+agg pipelines, windows, dedup,
similarity, text sweep, streaming-equivalent windows). After a warm
pass, each query runs ``N_RUNS`` times; per-query value = MEDIAN wall
time (sub-second queries drift ±20% run-to-run, which single-shot
timings misread as regressions); value = sum of medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from parquet_on_fhir_spark.session import get_session
from parquet_on_fhir_spark.suite import all_queries

HEADLINE = [
    "q00_flagship_shipping_priority",  # 3-way join + agg + top-k
    "q21_agg_tpch_q1",                 # wide hash aggregate
    "q13_join_left_outer",             # outer join + agg
    "q15_join_broadcast",              # broadcast fact-dim join
    "q18_join_asof",                   # as-of join (window form)
    "q24_agg_rollup_grouping",         # rollup
    "q30_window_ranking",              # window functions
    "q33_window_topk_per_group",       # top-k per group
    "q55_window_session",              # session windows
    "q66_dedup_exact",                 # exact dedup
    "q68_cosine_similarity",           # vector math sweep
    "q69_similarity_topk_bruteforce",  # brute-force top-k search
    "q72_term_idf",                    # text explode + agg
    "q74_quality_filter",              # text rule filter
    # round-2 additions (not in BENCH_r01 — new lines, not regressions):
    "q89_tpch_q18",                    # heavy shuffle: group-HAVING + 3-way join
    "q90_scale10_agg",                 # ×10-replicated input scale probe
    "q55b_stream_window_session",      # real streaming session window
    # round-6 additions: the heaviest r5 operators, previously invisible
    # to the driver bench (new lines, not regressions vs BENCH_r05):
    "q108_dedup_clusters_md5",         # LSH + connected-components fixpoint
    "q113_duplicate_spans",            # span-level exact-substring dedup
    "q114_bm25",                       # BM25 retrieval (explode + idf join)
    "q120_incremental_dedup",          # cross-set LSH vs kept corpus
    # round-6 mid-round additions (new lines, not regressions):
    "q151_scd2_dimension",             # change-log collapse, single window shuffle
    "q152_ohlc_bars",                  # candle downsample, single hash agg
    "q154_rolling_time_range",         # value-based RANGE frame
    # round-7 additions: the heaviest round-6 fixpoints, previously
    # untracked (new lines, not regressions vs BENCH_r06):
    "q138_pagerank",                   # iterative rank fixpoint
    "q150_triangle_count",             # 2-hop join + orientation trick
    "q164_stream_cdc_apply",           # foreachBatch CDC upsert loop
    "q175_hierarchy_rollup",           # recursive parent-chain contraction
    # round-8 additions: the heaviest round-7 operators, previously
    # untracked (new lines, not regressions vs BENCH_r07 — compare the
    # shared-query subtotal across rounds, never totals):
    "q194_set_similarity_join",        # All-Pairs prefix-filter self-join
    "q197_hll_distinct_rollup",        # mergeable HLL sketch rollup
    # round-9 additions (new lines, not regressions vs BENCH_r08):
    "q216_log_rank",                   # survival A/B over distinct-time frames
    "q217_average_precision",          # PR-curve area over distinct-score frames
    "q221_mann_whitney",               # rank-sum over a GROWING distinct-value frame
    "q225_repetition_audit",           # per-doc trigram explode-agg (Gopher rule)
    # round-10 additions (new lines, not regressions vs BENCH_r09):
    "qf23_ecl_expand",                 # terminology closure join (qf-family's first bench line)
    "q241_ngram_novelty",              # the round-10 wave's biggest absolute cost (gram explode)
    "q243_embedding_isotropy",         # n*d posexplode -> d-row fold
    "q252_wasserstein_drift",          # distinct-value-frame drift (KS shape + lead)
    # round-11 addition (new line, not a regression vs BENCH_r10):
    "qf40_validate_code_facts",        # $validate-code broadcast over the SF-SCALED events fact side
    #                                    (qf23 measures fixed stage overhead at any sf; this line
    #                                    moves with data, so a terminology-join regression shows)
    # round-12 addition (new line, not a regression vs BENCH_r11):
    "q264_bloom_semi_join",            # 16KB-bitmap build + map-side Bloom prefilter before the
    #                                    exact semi join over SF-SCALED orders
    # round-12 wave-3 additions (new lines, not regressions):
    "q282_url_dedup_audit",            # crawl URL canonicalization (map-only regexp/array chain)
    #                                    + ONE agg over SF-SCALED documents
    "q287_bpe_encode",                 # distinct-word agg + vocab-frame merge chain + broadcast-back
    # round-13 addition (new line, not a regression vs BENCH_r12):
    "q299_webp_vp8_real_decode",       # libwebp VP8 key-frame decode inside mapInPandas —
    #                                    the codec family's first bench line (per-payload cost)
    # round-14 addition (new line, not a regression vs BENCH_r13):
    "q310_crawl_pipeline",             # composed WARC->HTTP/charset->HTML->canon->quality
    #                                    ingestion — three mapInPandas passes on one lineage
    # round-15 addition (new line, not a regression vs BENCH_r14):
    "q328_crawl_loop",                 # composed discovery round-trip: extract_links ->
    #                                    canonicalize -> sitemap union -> anti-join crawled ->
    #                                    Hamilton budget -> Crawl-delay politeness schedule
]


N_RUNS = 5  # r9: medians of >=5 reps (r8 verdict task 4) — the r7->r8
# 1.22x shared-subtotal drift re-measured inside the r8 verdict's own
# A/B at r7 levels, implicating machine load during the r8 bench run;
# 5-rep medians + the spread_max self-diagnostic pin that class of
# artifact without blaming plans.


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    load_before = round(os.getloadavg()[0], 2)
    try:
        import subprocess

        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            cwd=Path(__file__).resolve().parent,
        ).stdout.strip() or None
    except Exception:
        commit = None
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    specs = {q.name: q for q in all_queries()}
    # Warm pass: JVM/codegen/catalog warmup plus one execution of every
    # headline plan, so the timed pass measures steady-state query cost
    # (what a long-lived cluster session would see), not first-run JIT.
    # Streaming queries get a SECOND warm run: their first execution
    # pays micro-batch/state-store setup that a steady-state stream
    # never sees (r8 q55b mean-min gap was 2.2x, all startup).
    for name in HEADLINE:
        specs[name].fn(spark, sf_dir).count()
        if "stream" in name:
            specs[name].fn(spark, sf_dir).count()

    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    spread_max = 0.0
    for name in HEADLINE:
        fn = specs[name].fn
        runs: list[float] = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            runs.append(time.perf_counter() - t0)
            assert n >= 0
        timings[name] = round(statistics.median(runs), 3)
        minima[name] = round(min(runs), 3)
        if min(runs) > 0:
            spread_max = max(spread_max, max(runs) / min(runs))
    total = round(sum(timings.values()), 3)
    load_after = round(os.getloadavg()[0], 2)
    full = {
        "metric": "headline_suite_seconds",
        "queries": timings,
        "queries_min": minima,
        "unit": "sec",
        "n": N_RUNS,
        # machine-window context (r13 verdict task 3): guest 1-min load
        # average at start/end + the commit benched. High load or a
        # high spread_max marks the run contended — re-run for the
        # committed artifact rather than reading it as a regression.
        "load_1m_before": load_before,
        "load_1m_after": load_after,
        "commit": commit,
        # largest per-query max/min ratio across the timed reps:
        # >2 on several queries = machine contention during THIS
        # run; compare queries_min across rounds before calling
        # a regression (r8 lesson)
        "spread_max": round(spread_max, 2),
        "value_min": round(sum(minima.values()), 3),
        "value": total,
        "sf": sf,
    }
    repo = Path(__file__).resolve().parent
    # Every run is appended to BENCH_RUNS.jsonl (nothing is silently
    # lost); BENCH_FULL.json keeps the QUIETEST record for the current
    # commit — a noisier invocation no longer clobbers the quiet one
    # (r13 verdict task 3). A commit change always refreshes it.
    with repo.joinpath("BENCH_RUNS.jsonl").open("a") as fh:
        fh.write(json.dumps(full) + "\n")
    full_path = repo.joinpath("BENCH_FULL.json")
    write_full = True
    if full_path.exists() and not os.environ.get("SPARK_GRAFT_BENCH_FORCE"):
        try:
            prev = json.loads(full_path.read_text())
            # "quieter" = lower value_min (the sum of per-query minima
            # is the least-contended estimate of the tree's cost — a
            # contended-but-consistent run can have a LOW spread while
            # every number is uniformly inflated), spread as tie-break.
            if (
                prev.get("commit") == commit
                and prev.get("sf") == sf
                and (
                    prev.get("value_min", 1e18),
                    prev.get("spread_max", 99.0),
                )
                <= (full["value_min"], full["spread_max"])
            ):
                write_full = False
                print(
                    "# BENCH_FULL.json kept (quieter run on this commit: "
                    f"value_min {prev.get('value_min')} <= "
                    f"{full['value_min']}); this run appended to "
                    "BENCH_RUNS.jsonl",
                    file=sys.stderr,
                )
        except Exception:
            pass
    if write_full:
        full_path.write_text(json.dumps(full, indent=2) + "\n")
    print(json.dumps(full), file=sys.stderr)
    # Driver-facing line: last-2000-char tail capture → must stay short.
    # Scalars LAST in dict order so a front-truncated tail still shows
    # the headline; queries_min lives only in BENCH_FULL.json/stderr.
    line = {k: v for k, v in full.items() if k != "queries_min"}
    if len(json.dumps(line)) > 1900:
        slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:25])
        line = {
            "metric": full["metric"],
            "queries": slowest,
            "queries_truncated": True,
            "queries_full_in": "BENCH_FULL.json",
            "unit": "sec",
            "n": N_RUNS,
            "load_1m_before": load_before,
            "load_1m_after": load_after,
            "commit": commit,
            "spread_max": full["spread_max"],
            "value_min": full["value_min"],
            "value": total,
            "sf": sf,
        }
    out = json.dumps(line)
    assert len(out) <= 1900, f"bench stdout line too long: {len(out)}"
    print(out)


if __name__ == "__main__":
    main()
