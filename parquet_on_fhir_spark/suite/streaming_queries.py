"""Streaming queries (SURVEY.md §2B Q52-Q60).

Real ``readStream`` pipelines run to completion with
``Trigger.AvailableNow`` + memory sink, so results are deterministic and
(for complete-mode aggregations) DuckDB-oracle-checkable. Window
operators run in BOTH forms: batch (sharp oracle; q54/q55) and genuine
readStream (q53, q54b, q55b) — plus stream-static (q59) and
stream-stream (q59b) joins, watermarks (q56), streaming dedup (q57b)
and a custom stateful operator (q58).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_on_fhir_spark.streaming.jobs import (
    run_to_memory,
    scratch_dir,
    stream_events,
    stream_events_multibatch,
)
from parquet_on_fhir_spark.streaming.stateful import running_user_totals
from parquet_on_fhir_spark.suite.common import local_df, Q, d2, d4, t, ts_str

WINDOW_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
WINDOW_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# --- Q52+Q60: stream source → agg → memory sink, AvailableNow trigger ----------
def q52(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n"), d2(F.sum("value")).alias("total_value")
    )
    return run_to_memory(agg, "complete")


Q52_ORACLE = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY event_type
"""


# --- Q53: tumbling window aggregation (streaming) --------------------------------
def q53(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "6 hours"), "event_type").agg(
        F.count("*").alias("n")
    )
    res = run_to_memory(agg, "complete")
    return res.select(
        ts_str(F.col("window.start"), WINDOW_FMT_SPARK).alias("window_start"),
        "event_type",
        "n",
    )


Q53_ORACLE = f"""
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '{WINDOW_FMT_DUCK}') AS window_start,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


# --- Q54: sliding window aggregation ------------------------------------------------
def q54(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            ts_str(F.col("window.start"), WINDOW_FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
        )
    )


Q54_ORACLE = f"""
WITH slides AS (
  SELECT event_type,
         time_bucket(INTERVAL '1 hour', ts) - k.k * INTERVAL '1 hour' AS w
  FROM events, (SELECT unnest([0, 1]) AS k) k
)
SELECT strftime(w, '{WINDOW_FMT_DUCK}') AS window_start, event_type, count(*) AS n
FROM slides GROUP BY 1, 2
"""


# --- Q54b: the same sliding window as a REAL stream --------------------------------------
def q54b(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    res = run_to_memory(agg, "complete")
    return res.select(
        ts_str(F.col("window.start"), WINDOW_FMT_SPARK).alias("window_start"),
        "event_type",
        "n",
    )


# --- Q55: session window (30-minute gap) per user -------------------------------------
def q55(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            ts_str(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n",
        )
    )


# --- Q55b: the same session window as a REAL stream -------------------------------------
def q55b(spark, sf_dir):
    """``session_window`` under a genuine readStream (AvailableNow) with
    a watermark — the streaming-native form; the batch-window oracle is
    exact because AvailableNow replays the whole table, so no session is
    ever dropped as late."""
    s = stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    res = run_to_memory(agg, "complete")
    return res.select(
        "user_id",
        ts_str(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        "n",
    )


Q55_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start, count(*) AS n
FROM sessions GROUP BY user_id, sid
"""


# --- Q56: watermark / late-data handling (streaming) ------------------------------------
# Append mode emits exactly the FINALIZED windows: after the single
# AvailableNow batch the watermark is max(ts) - 1h, and a window is
# emitted iff window.end <= watermark — which the oracle states
# directly. (The un-emitted tail windows are the late-data guarantee
# under test.)
def q56(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    res = run_to_memory(agg, "append")
    return res.select(
        ts_str(F.col("window.start"), WINDOW_FMT_SPARK).alias("window_start"),
        "event_type",
        "n",
    )


Q56_ORACLE = f"""
WITH m AS (SELECT max(ts) - INTERVAL '1 hour' AS wm FROM events),
agg AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS w, event_type, count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT strftime(w, '{WINDOW_FMT_DUCK}') AS window_start, event_type, n
FROM agg, m WHERE w + INTERVAL '6 hours' <= wm
"""


# --- Q56b: watermark semantics across REAL micro-batch boundaries --------------------------
# q56 proves the append-mode contract in a single AvailableNow batch;
# q56b replays the same events as >=4 time-ordered micro-batches
# (maxFilesPerTrigger=1 over a staged split), so window state must
# survive batch boundaries and the watermark must advance batch-by-batch
# before windows finalize. The staging is time-ordered, so no row is
# late and the final emitted set is identical to q56's:
# windows with end <= max(ts) - 1h. Same oracle, genuinely multi-batch
# execution (batch count asserted in tests/test_streaming.py).
def q56b(spark, sf_dir):
    s = stream_events_multibatch(spark, sf_dir, n_files=4)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    res = run_to_memory(agg, "append")
    return res.select(
        ts_str(F.col("window.start"), WINDOW_FMT_SPARK).alias("window_start"),
        "event_type",
        "n",
    )


# --- Q57: deterministic dedup (keep-first by key) -----------------------------------------
def q57(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id")
    )


Q57_ORACLE = """
SELECT user_id, event_type, min(event_id) AS first_event_id
FROM events GROUP BY user_id, event_type
"""


# --- Q57b: streaming dropDuplicates ----------------------------------------------------------
# Projecting ONLY the dedup keys makes the output deterministic (the
# arbitrary-survivor choice is invisible): the row set is exactly the
# distinct key set, which is the oracle.
def q57b(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    dedup = s.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_memory(dedup, "append")


Q57B_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


# --- Q57c: streaming dropDuplicatesWithinWatermark (r12) ---------------------------------
# The Spark 3.5+ dedup that BOUNDS state: per-key state expires at
# first-seen event time + the watermark delay, so unbounded streams
# don't accumulate unbounded dedup state (dropDuplicates keeps keys
# forever). With a delay wider than the fixture's event-time span the
# output is exactly the distinct key set — the q57b oracle — while the
# operator exercises the watermark-evicted state path.
def q57c(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    dedup = (
        s.withWatermark("ts", "87600 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(dedup, "append")


Q57C_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


# --- Q58: custom stateful operator (applyInPandasWithState) ----------------------------------
# AvailableNow over the single staged file = ONE micro-batch, so the
# update-mode emission is exactly one final row per user: the running
# totals equal the batch aggregate (d2+epsilon absorbs pandas-vs-SQL
# float summation order).
def q58(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    res = run_to_memory(running_user_totals(s), "update")
    return res.select(
        "user_id",
        "n_events",
        F.round(F.col("total_value") + F.lit(1e-9), 2).alias("total_value"),
    )


Q58_ORACLE = """
SELECT user_id, count(*) AS n_events,
       round(sum(value) + 1e-9, 2) AS total_value
FROM events GROUP BY user_id
"""


# --- Q59: stream-static join --------------------------------------------------------------------
def q59(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    c = t(spark, sf_dir, "customer")
    joined = s.join(
        F.broadcast(c), s["user_id"] == c["c_custkey"], "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(F.count("*").alias("n_events"))
    return run_to_memory(agg, "complete")


Q59_ORACLE = """
SELECT c_mktsegment, count(*) AS n_events
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# --- Q59b: stream-stream join (purchase->click attribution within 1 hour) ----------------
def q59b(spark, sf_dir):
    """Two readStream sources joined on key + event-time range — Spark's
    stream-stream inner join with watermarks on both sides (state is
    bounded by the time constraint at production scale). AvailableNow
    replays everything in one batch, so the batch SQL oracle is exact."""
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (p["user_id"] == c["c_user"])
        & (c["c_ts"] >= p["p_ts"])
        & (c["c_ts"] <= p["p_ts"] + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    res = run_to_memory(j.select("user_id", "p_id", "c_id"), "append")
    return res


Q59B_ORACLE = """
SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL '1 hour'
"""


QUERIES = [
    Q("q52_stream_source_sink_available_now", q52, Q52_ORACLE),
    Q("q53_stream_window_tumbling", q53, Q53_ORACLE),
    Q("q54_window_sliding", q54, Q54_ORACLE),
    Q("q54b_stream_window_sliding", q54b, Q54_ORACLE),
    Q("q55_window_session", q55, Q55_ORACLE),
    Q("q55b_stream_window_session", q55b, Q55_ORACLE),
    Q("q56_stream_watermark", q56, Q56_ORACLE),
    Q("q56b_stream_watermark_multibatch", q56b, Q56_ORACLE),
    Q("q57_dedup_keep_first", q57, Q57_ORACLE),
    Q("q57b_stream_dedup", q57b, Q57B_ORACLE),
    Q("q57c_stream_dedup_within_watermark", q57c, Q57C_ORACLE),
    Q("q58_stream_stateful", q58, Q58_ORACLE),
    Q("q59_stream_static_join", q59, Q59_ORACLE),
    Q("q59b_stream_stream_join", q59b, Q59B_ORACLE),
]


# --- Q164: streaming CDC apply (foreachBatch merge to a versioned table) -------------
# 4 real micro-batches of events flow through the CDC merge loop
# (streaming/cdc.py): per-key latest-wins across batch boundaries,
# 'error' events act as tombstones. The oracle is the single-pass batch
# fold — streaming N batches MUST land on the same table.
def q164(spark, sf_dir):
    from parquet_on_fhir_spark.streaming.cdc import (
        read_cdc_table,
        stream_apply_cdc,
    )
    from parquet_on_fhir_spark.streaming.jobs import stream_events_multibatch

    # the result reads the target's files: scratch_dir defers their
    # removal to process exit
    target = scratch_dir("pofs_cdc_q164_")
    stream = stream_events_multibatch(spark, sf_dir, n_files=4).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        (F.col("event_type") == "error").alias("is_delete"),
    )
    stream_apply_cdc(
        stream, target, keys=["user_id"], seq_col="event_id",
        delete_col="is_delete",
    )
    out = read_cdc_table(spark, target).select(
        "user_id", "event_id", "event_type", "value"
    )
    return out


Q164_ORACLE = """
WITH latest AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, value
FROM latest
WHERE rn = 1 AND event_type <> 'error'
"""


QUERIES.append(Q("q164_stream_cdc_apply", q164, Q164_ORACLE))


# --- Q171: streaming OHLC (event-time window candles on a real stream) ---------------
# The streaming form of q152: per-user hourly candles computed by a
# watermarked window aggregate over a real file stream — min_by/max_by
# fold map-side per micro-batch exactly as in batch, so a Kafka
# deployment gets candle updates per trigger with bounded state.
def q171(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count("*").alias("n"),
        )
    )
    res = run_to_memory(agg, "complete")
    return res.select(
        ts_str(F.col("window.start"), WINDOW_FMT_SPARK).alias("window_start"),
        "user_id",
        "open",
        "high",
        "low",
        "close",
        "n",
    )


Q171_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{WINDOW_FMT_DUCK}') AS window_start,
       user_id,
       arg_min(value, printf('%020d|%020d', epoch_us(ts), event_id)) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, printf('%020d|%020d', epoch_us(ts), event_id)) AS close,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


QUERIES.append(Q("q171_stream_ohlc", q171, Q171_ORACLE))


# --- Q215: streaming corpus curation (quality gate + incremental dedup groups) -----
def q215(spark, sf_dir):
    """Incremental corpus curation as a REAL stream: documents arrive
    via readStream, pass a pure-map quality gate, and fold into
    per-digest duplicate groups (complete-mode aggregation = the
    streaming form of exact dedup's group table; the kept-set is the
    digest keys, deterministic regardless of arrival order). The
    batch restatement is exact, so the stream output is oracle-checked
    like any batch query."""
    from parquet_on_fhir_spark.streaming.jobs import stream_documents

    s = stream_documents(spark, sf_dir)
    gated = s.filter(
        (F.length("text") >= 200)
        & (F.size(F.array_remove(F.split(F.col("text"), " "), "")) >= 30)
    )
    # count_distinct is unsupported in streaming aggs; min(source) is the
    # deterministic per-group witness instead
    groups = gated.groupBy(F.md5("text").alias("digest")).agg(
        F.count("*").alias("n_copies"),
        F.min("source").alias("first_source"),
    )
    return run_to_memory(groups, "complete")


Q215_ORACLE = """
SELECT md5(text) AS digest, count(*) AS n_copies,
       min(source) AS first_source
FROM documents
WHERE len(text) >= 200
  AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 30
GROUP BY md5(text)
"""


QUERIES.append(Q("q215_stream_curation", q215, Q215_ORACLE))


# --- Q233: streaming drift monitor (PSI bins over a live stream) ---------------------
def q233(spark, sf_dir):
    """Streaming PSI drift monitor: the candidate cohort (purchase
    values) arrives via readStream and folds into per-bin counts
    (complete mode) against FIXED bin edges derived from the static
    reference cohort (click values) — the stream-static form of
    q232's batch PSI, i.e. the model-monitoring loop as it actually
    runs in production (reference frozen, live traffic binned
    incrementally). Per-bin smoothed PSI terms are computed batch-side
    from the streamed counts; out-of-range live values clamp into the
    edge bins. The batch restatement is exact."""
    from parquet_on_fhir_spark.streaming.jobs import (
        run_to_memory,
        stream_events,
    )

    bins = 10
    e = t(spark, sf_dir, "events")
    ref = e.filter(
        (F.col("event_type") == "click") & F.col("value").isNotNull()
    ).select(F.col("value").cast("double").alias("v"))
    lo, hi = ref.agg(F.min("v"), F.max("v")).collect()[0]

    def bin_of(col):
        if hi == lo:
            return F.lit(0)
        return F.least(
            F.greatest(
                F.floor((col - F.lit(lo)) / F.lit((hi - lo) / bins)).cast(
                    "int"
                ),
                F.lit(0),
            ),
            F.lit(bins - 1),
        )

    refbins = ref.groupBy(bin_of(F.col("v")).alias("bin")).agg(
        F.count("*").alias("n_ref")
    )
    s = stream_events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    cand = run_to_memory(
        s.groupBy(
            bin_of(F.col("value").cast("double")).alias("bin")
        ).agg(F.count("*").alias("n_cand")),
        "complete",
    )
    per_bin = (
        refbins.join(cand, "bin", "full")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        )
    )
    totals = per_bin.agg(
        F.sum("n_ref").alias("__nr"), F.sum("n_cand").alias("__nc")
    )
    j = per_bin.crossJoin(F.broadcast(totals))
    pr = (F.col("n_ref") + 0.5) / (F.col("__nr") + 0.5 * bins)
    pc = (F.col("n_cand") + 0.5) / (F.col("__nc") + 0.5 * bins)
    term = F.round((pr - pc) * F.log(pr / pc), 12)
    return j.select(
        "bin",
        "n_ref",
        "n_cand",
        d4(term).alias("term"),
    )


Q233_ORACLE = """
WITH ref AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE event_type = 'click' AND value IS NOT NULL
),
ext AS (SELECT min(v) AS lo, max(v) AS hi FROM ref),
allv AS (
  SELECT CAST(value AS DOUBLE) AS v, event_type = 'click' AS is_ref
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
binned AS (
  SELECT is_ref,
         CASE WHEN hi = lo THEN 0
              ELSE least(greatest(
                CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT), 0), 9)
         END AS bin
  FROM allv CROSS JOIN ext
),
per_bin AS (
  SELECT bin,
         count(CASE WHEN is_ref THEN 1 END) AS cr,
         count(CASE WHEN NOT is_ref THEN 1 END) AS cc
  FROM binned GROUP BY bin
),
tot AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM per_bin)
SELECT bin,
       CAST(cr AS BIGINT) AS n_ref,
       CAST(cc AS BIGINT) AS n_cand,
       round(round(((cr + 0.5) / (nr + 5.0) - (cc + 0.5) / (nc + 5.0))
                   * ln(((cr + 0.5) / (nr + 5.0))
                        / ((cc + 0.5) / (nc + 5.0))), 12) + 1e-9, 4) AS term
FROM per_bin CROSS JOIN tot
"""


QUERIES.append(Q("q233_stream_drift_monitor", q233, Q233_ORACLE))


# --- Q254: streaming conformal-coverage monitor ------------------------------------------
def q254(spark, sf_dir):
    """Streaming conformal-coverage monitor — the production
    counterpart of q253 and the coverage sibling of q233's PSI loop:
    the conformal band (per-type train median ± the exact
    ceil((n_cal+1)(1−α))-th calibration residual) is FROZEN from the
    historical splits (event_id mod 4 ∈ {0,2} train, =1 calibration),
    live traffic (=3) arrives via readStream, stream-static-joins the
    broadcast band and folds into per-type (n, breaches) counts in
    complete mode. A band breach rate far above α means the world
    drifted and the intervals no longer cover — the distribution-free
    retraining alarm. The alarm threshold is integer-exact
    (5·breaches > n ⇔ rate > 0.2 = 2α); the batch restatement is
    exact."""
    from parquet_on_fhir_spark.operators.analytics import (
        conformal_interval,
    )
    from parquet_on_fhir_spark.streaming.jobs import (
        run_to_memory,
        stream_events,
    )

    e = t(spark, sf_dir, "events")
    m = F.col("event_id") % 4
    # frozen band: conformal_interval's train/calib path, audited on an
    # EMPTY test frame is wasteful — reuse its internals cheaply by
    # passing calib as test only to drop the audit columns after
    band = conformal_interval(
        e.filter(m.isin(0, 2)),
        e.filter(m == 1),
        e.filter(m == 1),
        ["event_type"],
        "value",
        alpha=0.1,
    ).select("event_type", "point", "q_hat").filter(
        # a type whose calibration split is too small for the level has
        # NULL q_hat (conformal_interval contract) and CANNOT be
        # monitored — excluded on both engine and oracle sides, else
        # Spark's NULL-skipping sum and SQL's CASE..ELSE 0 diverge
        F.col("q_hat").isNotNull()
    )
    live = stream_events(spark, sf_dir).filter(
        (F.col("event_id") % 4 == 3) & F.col("value").isNotNull()
    )
    flagged = live.join(F.broadcast(band), "event_type").withColumn(
        "__breach",
        (
            F.abs(F.col("value").cast("double") - F.col("point"))
            > F.col("q_hat")
        ).cast("int"),
    )
    counts = run_to_memory(
        flagged.groupBy("event_type").agg(
            F.count("*").alias("n_live"),
            F.sum("__breach").alias("n_breaches"),
        ),
        "complete",
    )
    return counts.select(
        "event_type",
        "n_live",
        "n_breaches",
        d4(
            F.col("n_breaches").cast("double")
            / F.col("n_live").cast("double")
        ).alias("breach_rate"),
        (5 * F.col("n_breaches") > F.col("n_live")).alias("alarm"),
    )


Q254_ORACLE = """
WITH meds AS (
  SELECT event_type, quantile_cont(value, 0.5) AS point
  FROM events WHERE event_id % 4 IN (0, 2) GROUP BY event_type
),
ranked AS (
  SELECT e.event_type, abs(e.value - m.point) AS score,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY abs(e.value - m.point)) AS r,
         count(*) OVER (PARTITION BY e.event_type) AS n_cal
  FROM events e JOIN meds m USING (event_type)
  WHERE e.event_id % 4 = 1
),
qh AS (
  SELECT event_type,
         max(CASE WHEN r = CAST(ceil((n_cal + 1) * 0.9) AS INT)
                  THEN score END) AS q_hat
  FROM ranked GROUP BY event_type
),
live AS (
  SELECT t.event_type,
         CASE WHEN abs(t.value - m.point) > q.q_hat
              THEN 1 ELSE 0 END AS breach
  FROM events t
  JOIN meds m USING (event_type)
  JOIN qh q ON q.event_type = t.event_type
  WHERE t.event_id % 4 = 3 AND t.value IS NOT NULL
    AND q.q_hat IS NOT NULL
)
SELECT event_type,
       count(*) AS n_live,
       CAST(sum(breach) AS BIGINT) AS n_breaches,
       round(CAST(sum(breach) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             + 1e-9, 4) AS breach_rate,
       5 * sum(breach) > count(*) AS alarm
FROM live GROUP BY event_type
"""


QUERIES.append(Q("q254_stream_conformal_monitor", q254, Q254_ORACLE))


# --- Q318: streaming robots gate (stream-static crawl compliance) ---------------------------
def q318(spark, sf_dir):
    """The crawl-compliance gate ON A STREAM (r14 wave 4): a
    readStream of discovered URLs flows through the SAME
    operators/robots.py::robots_filter join plan that serves batch —
    the rules frame (executor-parsed, host-folded) is the static side
    of a stream-static left join, the RFC 9309 longest-match fold is
    stateless Catalyst, so the gate costs the stream nothing but the
    broadcast probe. AvailableNow + append memory sink replays
    everything in one batch; verdicts are the q307 closed form over
    event ids (host = user_id%5, path = event_id%4)."""
    from parquet_on_fhir_spark.operators.robots import robots_filter
    from parquet_on_fhir_spark.streaming.jobs import stream_events

    robots = local_df(spark, 
        [
            ("h0.ex", "User-agent: *\nDisallow: /private/\n"
                      "Allow: /private/ok/\n"),
            ("h1.ex", "User-agent: *\nDisallow: /*.pdf$\n"),
            # h2.ex: no robots.txt at all (allowed by default)
            ("h3.ex", "User-agent: sparkbot\nDisallow: /pub/\n\n"
                      "User-agent: *\nDisallow: /\n"),
            ("h4.ex", "User-agent: *\nDisallow:\n"),
        ],
        "host string, robots_txt string",
    )
    paths = F.array(
        F.lit("/private/doc.html"),
        F.lit("/private/ok/doc.html"),
        F.lit("/files/doc.pdf"),
        F.lit("/pub/doc.txt"),
    )
    s = stream_events(spark, sf_dir).filter(F.col("event_id") < 2000)
    urls = s.select(
        "event_id",
        F.concat(
            F.lit("h"), (F.col("user_id") % 5).cast("string"), F.lit(".ex")
        ).alias("host"),
    ).withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("host"),
            F.element_at(paths, (F.col("event_id") % 4 + 1).cast("int")),
        ),
    )
    gated = robots_filter(urls, robots, user_agent="sparkbot")
    return run_to_memory(
        gated.select("event_id", "host", "url", "allowed"), "append"
    )


Q318_ORACLE = """
WITH m AS (
  SELECT event_id, user_id % 5 AS h, event_id % 4 AS k
  FROM events WHERE event_id < 2000
)
SELECT event_id,
       'h' || CAST(h AS VARCHAR) || '.ex' AS host,
       'https://h' || CAST(h AS VARCHAR) || '.ex' ||
       CASE k WHEN 0 THEN '/private/doc.html'
              WHEN 1 THEN '/private/ok/doc.html'
              WHEN 2 THEN '/files/doc.pdf'
              ELSE '/pub/doc.txt' END AS url,
       CASE h
         WHEN 0 THEN k <> 0
         WHEN 1 THEN k <> 2
         WHEN 2 THEN TRUE
         WHEN 3 THEN k <> 3
         ELSE TRUE
       END AS allowed
FROM m
"""


QUERIES.append(Q("q318_stream_robots_gate", q318, Q318_ORACLE))


# --- Q321: full crawl ingestion ON A STREAM (join-free linear chain) ------------------------
def q321(spark, sf_dir):
    """q310's composed WARC → HTTP/charset → HTML → canon → quality
    pipeline executed as a STREAM (r14 wave 5): a readStream of
    crawl archives flows through the same three Arrow-batched
    mapInPandas stages plus the pure-Catalyst canon/gate — but a
    stream cannot self-join its stages (stream-stream joins need
    watermark state), so the chain is LINEAR: the new ``passthrough``
    seam on http_text/html_extract carries target_uri/charset through
    each pandas batch instead of joining frames back together. The
    only join is the stream-static broadcast of the 150-payload
    fixture. AvailableNow + append memory sink ⇒ exact batch oracle;
    verdicts are q310's closed form over event ids."""
    from parquet_on_fhir_spark.operators.curation import canonicalize_url
    from parquet_on_fhir_spark.operators.encoding import http_text
    from parquet_on_fhir_spark.operators.html import html_extract
    from parquet_on_fhir_spark.operators.warc import build_warc, warc_records
    from parquet_on_fhir_spark.streaming.jobs import stream_events

    def page(i: int) -> str:
        title = f"<head><title>Page {i}</title></head>"
        if (i % 6) >= 3:  # link farm
            links = "".join(
                f'<a href="/{j}">L{j:03d}</a> ' for j in range(8)
            )
            return f"<html>{title}<body><nav>{links}</nav></body></html>"
        nav = '<nav><a href="/">Home</a> <a href="/b">Blog</a></nav>'
        para = ("w%04d " % (i % 9999)) * 10 + "café."
        return (
            f"<html>{title}<body>{nav}<p>{para}</p>"
            f"<div>Buy now!</div></body></html>"
        )

    def make(i: int) -> bytearray:
        if i % 10 == 9:
            return bytearray(b"junk not a warc " * 3)
        html = page(i)
        k = i % 3
        if k == 0:
            body = b"\xef\xbb\xbf" + html.encode("utf-8")
            ct = b"text/html"
        elif k == 1:
            body = html.encode("windows-1252")
            ct = b"text/html; charset=windows-1252"
        else:
            body = html.encode("utf-8")
            ct = b"text/html"
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ct + b"\r\n\r\n" + body
        )
        uri = f"HTTPS://www.EX.org:443//{i}/page/?utm_source=x&b=2&a=1#frag"
        return bytearray(
            build_warc(
                [("response", uri, "2026-08-16T00:00:00Z", payload)],
                gzip_members=(i % 2 == 1),
            )
        )

    pay = local_df(spark, 
        [(i, make(i)) for i in range(150)], "i INT, content BINARY"
    )
    s = stream_events(spark, sf_dir).filter(F.col("event_id") < 1000)
    media = s.select(
        F.col("event_id").alias("media_id"),
        (F.col("event_id") % 150).cast("int").alias("i"),
    ).join(F.broadcast(pay), "i").select("media_id", "content")

    recs = warc_records(media, include_payload=True).filter(
        F.col("rec_type") == "response"
    )
    pages = http_text(recs, passthrough=("target_uri",))
    ext = html_extract(
        pages,
        id_col="media_id",
        html_col="text",
        passthrough=("charset", "charset_source", "target_uri"),
    )
    final = ext.select(
        F.col("doc_id").alias("event_id"),
        canonicalize_url(F.col("target_uri")).alias("canon_url"),
        "charset",
        "charset_source",
        "title",
        "n_kept",
        F.length("text").alias("kept_len"),
        (
            (F.col("n_kept") >= 1) & F.length("text").between(50, 2000)
        ).alias("quality_pass"),
    )
    return run_to_memory(final, "append")


Q321_ORACLE = """
WITH m AS (
  SELECT event_id, event_id % 150 AS i FROM events WHERE event_id < 1000
),
c AS (
  SELECT event_id, i, i % 3 AS k, (i % 6) >= 3 AS farm
  FROM m WHERE i % 10 <> 9
)
SELECT event_id,
       'https://ex.org/' || CAST(i AS VARCHAR) || '/page?a=1&b=2'
         AS canon_url,
       CASE k WHEN 1 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
       CASE k WHEN 0 THEN 'bom' WHEN 1 THEN 'http' ELSE 'heuristic'
         END AS charset_source,
       'Page ' || CAST(i AS VARCHAR) AS title,
       CAST(CASE WHEN farm THEN 0 ELSE 1 END AS INT) AS n_kept,
       CAST(CASE WHEN farm THEN 0 ELSE 65 END AS INT) AS kept_len,
       NOT farm AS quality_pass
FROM c
"""


QUERIES.append(Q("q321_stream_crawl_pipeline", q321, Q321_ORACLE))
