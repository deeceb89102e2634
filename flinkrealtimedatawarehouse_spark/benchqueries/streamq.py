"""Structured-Streaming driver queries (SURVEY.md §2.10 T-rows, §2.2 K-rows).

Each callable runs a REAL streaming query end-to-end — staged time-ordered
file source (runner.stage_stream_dir) -> watermarked transformation ->
memory/foreachBatch sink with checkpointing, ``trigger(availableNow=True)``
— and returns the sink contents as a batch DataFrame.

Determinism/oracle contract: inputs replay in event-time order (monotone
watermark, nothing late-dropped) and every stream ends with a watermark
sentinel (runner.append_sentinel_file) that flushes all pending windows /
event-time timers, so the streaming result equals the batch semantics and
the SAME DuckDB oracles as the batch twins apply — these are exact checks,
not rows-only.

Streaming twins reuse the batch oracles: t1<->SQL_A1, t2<->SQL_A2,
t3<->SQL_J1, t7<->SQL_W1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.benchqueries.warehouse import (
    SQL_A1,
    SQL_A2,
    SQL_J1,
    SQL_J2,
    SQL_W1,
)
from flinkrealtimedatawarehouse_spark.streaming import runner, sinks, sources, state, windows
from flinkrealtimedatawarehouse_spark.tables import load_table

_SENTINEL_MARKER = {"user_id": -1, "event_id": -1, "event_type": "__wm__"}
_N_FILES = 5


def _staged_events_stream(spark: SparkSession, sf: str, tag: str, sentinel_pad: str | None):
    """events table -> time-ordered multi-file stream (+ optional sentinel)."""
    ev = load_table(spark, sf, "events")
    in_dir = runner.stage_stream_dir(ev, "ts", _N_FILES, tag)
    if sentinel_pad is not None:
        sent = runner.make_sentinel(ev, "ts", sentinel_pad, _SENTINEL_MARKER)
        runner.append_sentinel_file(in_dir, sent, tag)
    return runner.parquet_stream(spark, in_dir, ev.schema)


def _real_max_stt(spark: SparkSession, sf: str) -> str:
    """Formatted real max event time — post-agg cutoff that drops the
    sentinel's own window group (its window start is always later).
    Filtering sentinel ROWS pre-agg is forbidden: a pushable predicate
    reaches the parquet scan and prunes the sentinel file before the
    watermark node ever sees it (see windows.visitor_stats_stream)."""
    mx = load_table(spark, sf, "events").agg(F.max("ts")).first()[0]
    return mx.strftime("%Y-%m-%d %H:%M:%S")


# --- T1+T3+W2: watermarked tumbling visitor stats (streaming A1) ----------

def q_t1(spark: SparkSession, sf: str) -> DataFrame:
    sdf = _staged_events_stream(spark, sf, "t1", "11 minutes")
    out = runner.run_to_memory(windows.visitor_stats_stream(sdf), "t1")
    return out.filter(F.col("stt") <= _real_max_stt(spark, sf))


# --- T2-analog: streaming product stats (hourly tumble, exact distinct) ---

def q_t2(spark: SparkSession, sf: str) -> DataFrame:
    sdf = _staged_events_stream(spark, sf, "t2", "62 minutes")
    out = runner.run_to_memory(windows.product_stats_stream(sdf), "t2")
    return out.filter(F.col("stt") <= _real_max_stt(spark, sf))


# --- streaming J1: stream-stream interval join ----------------------------

def q_t3(spark: SparkSession, sf: str) -> DataFrame:
    sdf = _staged_events_stream(spark, sf, "t3", None)
    left = sdf.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    right = sdf.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"), F.col("value").alias("r_val")
    )
    joined = windows.interval_join_stream(
        left, right, ("l_user", "r_user"), ("l_ts", "r_ts"), "'-5' MINUTE", "'5' MINUTE"
    )
    pairs = runner.run_to_memory(joined, "t3")
    return pairs.groupBy(F.date_format("l_ts", "yyyy-MM-dd").alias("dt")).agg(
        F.count(F.lit(1)).alias("pair_ct"), F.round(F.sum("r_val"), 2).alias("val_sum")
    )


def q_t3m(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-stateful streaming: interval join CHAINED INTO a watermarked
    daily tumble in ONE query (join state + agg state in the same
    micro-batch pipeline). The reference cannot express this inside one
    job — every join->agg chain crosses a Kafka topic between separate
    Flink apps (OrderWideApp -> dwd_order_wide -> ProvinceStatsSQLApp,
    SURVEY §3.2); Spark 4's multiple-stateful-operator support runs it as
    one checkpointed query.

    Harness: sentinel passes both side filters (pushable-predicate rule,
    see q_t3o) and is padded 2 days + 2 h so its self-join pair lands in
    its own day window (never polluting a real group) AND its watermark
    closes the last real day window; the sentinel group is cut post-sink
    by the real max date.
    """
    sdf = _staged_events_stream(spark, sf, "t3m", "50 hours")
    is_sent = F.col("event_type") == "__wm__"
    left = sdf.filter((F.col("event_type") == "purchase") | is_sent).select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    right = sdf.filter((F.col("event_type") == "click") | is_sent).select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"), F.col("value").alias("r_val")
    )
    joined = windows.interval_join_stream(
        left, right, ("l_user", "r_user"), ("l_ts", "r_ts"), "'-5' MINUTE", "'5' MINUTE"
    )
    daily = (
        joined.groupBy(F.window("l_ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("pair_ct"), F.round(F.sum("r_val"), 2).alias("val_sum"))
        .select(F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("dt"),
                "pair_ct", "val_sum")
    )
    out = runner.run_to_memory(daily, "t3m")
    max_dt = _real_max_stt(spark, sf)[:10]
    return out.filter(F.col("dt") <= max_dt)


# t3 combined gate: the same join aggregated post-sink (q_t3) AND chained
# in-stream through a second stateful operator (q_t3m) — both tagged
# branches must hash-equal the one batch oracle.
def q_t3c2(spark: SparkSession, sf: str) -> DataFrame:
    post = q_t3(spark, sf).withColumn("kind", F.lit("post"))
    chained = q_t3m(spark, sf).withColumn("kind", F.lit("chained"))
    return post.unionByName(chained)


def _sql_t3c2() -> str:
    return f"""
SELECT *, 'post' AS kind FROM ({SQL_J1})
UNION ALL
SELECT *, 'chained' AS kind FROM ({SQL_J1})
"""


# --- streaming J2: asymmetric [-15 min, 0] stream-stream interval join ----

def q_t3b(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming form of J2 (PaymentWideApp.java:99 — payment looks back
    [-15 min, 0] for its order): same interval_join_stream operator as t3
    with asymmetric bounds, proving the state-bound/watermark math holds
    when the window is one-sided."""
    sdf = _staged_events_stream(spark, sf, "t3b", None)
    pay = sdf.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    orderv = sdf.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("o_user"), F.col("ts").alias("o_ts")
    )
    joined = windows.interval_join_stream(
        pay, orderv, ("p_user", "o_user"), ("p_ts", "o_ts"), "'-15' MINUTE", "'0' SECOND"
    )
    pairs = runner.run_to_memory(joined, "t3b")
    return pairs.groupBy(F.date_format("p_ts", "yyyy-MM-dd").alias("dt")).agg(
        F.count(F.lit(1)).alias("pair_ct")
    )


def q_t3o(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming LEFT OUTER interval join — beyond the reference (Flink's
    interval join is inner-only; rtest/app/FlinkDSJoinTest.java:40-51 only
    exercises inner bounds). A purchase with no view in its [-15 min, 0]
    lookback emits with NULL right columns once the watermark proves no
    partner can still arrive.

    Harness notes: the watermark sentinel must pass BOTH side filters (a
    pushable ``event_type = 'purchase'`` predicate would prune the sentinel
    file at the scan before the watermark node sees it), so each side keeps
    its own events OR the ``__wm__`` marker; sentinel rows key to user -1
    and are dropped after the sink. Sentinel pad > interval + delay flushes
    every pending unmatched-left state row.
    """
    sdf = _staged_events_stream(spark, sf, "t3o", "32 minutes")
    is_sent = F.col("event_type") == "__wm__"
    pay = sdf.filter((F.col("event_type") == "purchase") | is_sent).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    orderv = sdf.filter((F.col("event_type") == "view") | is_sent).select(
        F.col("user_id").alias("o_user"), F.col("ts").alias("o_ts")
    )
    joined = windows.interval_join_stream(
        pay, orderv, ("p_user", "o_user"), ("p_ts", "o_ts"),
        "'-15' MINUTE", "'0' SECOND", how="leftOuter",
    )
    pairs = runner.run_to_memory(joined, "t3o").filter(F.col("p_user") != -1)
    return pairs.groupBy(F.date_format("p_ts", "yyyy-MM-dd").alias("dt")).agg(
        F.count(F.lit(1)).alias("pair_ct"),
        F.count("o_user").alias("matched_ct"),
    )


SQL_T3O = """
SELECT strftime(p.ts, '%Y-%m-%d') AS dt, count(*)::BIGINT AS pair_ct,
       count(o.user_id)::BIGINT AS matched_ct
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') o
  ON p.user_id = o.user_id
 AND o.ts >= p.ts - INTERVAL 15 MINUTE AND o.ts <= p.ts
GROUP BY 1
"""


def q_t3f(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming FULL OUTER interval join — the last outer form (t3o covers
    left). Unmatched purchases AND unmatched views each emit with NULL
    partner columns once the watermark proves no partner can arrive; the
    range condition bounds state on both sides so the outer form stays
    legal. Sentinel handling as in q_t3o, on both sides (a sentinel can
    only ever pair with the other side's sentinel — real users are >= 0)."""
    sdf = _staged_events_stream(spark, sf, "t3f", "32 minutes")
    is_sent = F.col("event_type") == "__wm__"
    pay = sdf.filter((F.col("event_type") == "purchase") | is_sent).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    orderv = sdf.filter((F.col("event_type") == "view") | is_sent).select(
        F.col("user_id").alias("o_user"), F.col("ts").alias("o_ts")
    )
    joined = windows.interval_join_stream(
        pay, orderv, ("p_user", "o_user"), ("p_ts", "o_ts"),
        "'-15' MINUTE", "'0' SECOND", how="fullOuter",
    )
    pairs = runner.run_to_memory(joined, "t3f").filter(
        (F.col("p_user").isNull() | (F.col("p_user") != -1))
        & (F.col("o_user").isNull() | (F.col("o_user") != -1))
    )
    return pairs.groupBy(
        F.date_format(F.coalesce("p_ts", "o_ts"), "yyyy-MM-dd").alias("dt")
    ).agg(
        F.count(F.lit(1)).alias("pair_ct"),
        F.count(F.when(F.col("p_user").isNotNull() & F.col("o_user").isNotNull(), 1)).alias(
            "matched_ct"
        ),
    )


SQL_T3F = """
SELECT strftime(coalesce(p.ts, o.ts), '%Y-%m-%d') AS dt,
       count(*)::BIGINT AS pair_ct,
       count(CASE WHEN p.user_id IS NOT NULL AND o.user_id IS NOT NULL
                  THEN 1 END)::BIGINT AS matched_ct
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'view') o
  ON p.user_id = o.user_id
 AND o.ts >= p.ts - INTERVAL 15 MINUTE AND o.ts <= p.ts
GROUP BY 1
"""


# t3b combined gate: inner + left-outer + full-outer streaming interval
# joins, one tagged entry (the outer branches' matched_ct must equal the
# inner branch's pair_ct row-for-row — all are hashed against the oracle).
def q_t3c(spark: SparkSession, sf: str) -> DataFrame:
    inner = q_t3b(spark, sf).select(
        F.lit("inner").alias("kind"), "dt", "pair_ct", F.col("pair_ct").alias("matched_ct")
    )
    outer = q_t3o(spark, sf).select(F.lit("outer").alias("kind"), "dt", "pair_ct", "matched_ct")
    full = q_t3f(spark, sf).select(F.lit("full").alias("kind"), "dt", "pair_ct", "matched_ct")
    return inner.unionByName(outer).unionByName(full)


def _sql_t3c() -> str:
    return f"""
SELECT 'inner' AS kind, dt, pair_ct, pair_ct AS matched_ct FROM ({SQL_J2})
UNION ALL
SELECT 'outer', dt, pair_ct, matched_ct FROM ({SQL_T3O})
UNION ALL
SELECT 'full', dt, pair_ct, matched_ct FROM ({SQL_T3F})
"""


# --- T5: streaming dedup (first per key, watermark-evicted state) ---------

def q_t5(spark: SparkSession, sf: str) -> DataFrame:
    sdf = _staged_events_stream(spark, sf, "t5", None)
    keyed = sdf.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    out = state.streaming_dedup(keyed, ["user_id", "event_date"])
    return runner.run_to_memory(out, "t5")


SQL_T5 = """
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS event_date FROM events
"""


# --- T7/W1: bounce detection with event-time timers -----------------------

def q_t7(spark: SparkSession, sf: str) -> DataFrame:
    sdf = _staged_events_stream(spark, sf, "t7", "400 seconds")
    out = state.bounce_stream(sdf, gap_s=300)
    return runner.run_to_memory(out, "t7").filter(F.col("user_id") >= 0)


def q_t7m(spark: SparkSession, sf: str) -> DataFrame:
    """T7→A1 multi-stateful chain: the CEP decision stream feeds a
    10-minute tumble in the SAME checkpointed query (VisitorStatsApp
    consuming UserJumpDetailApp's topic, rt/app/dws/VisitorStatsApp.java:126
    — as one job, no Kafka hop). Sentinel pad 1200 s > gap(300) + delay(30)
    + window(600) so the last real entry decides AND its decide_ts-phased
    window closes; the '__wm__' sentinel is a non-entry on its own key, so
    it emits no decision and no window of its own."""
    sdf = _staged_events_stream(spark, sf, "t7m", "1200 seconds")
    out = state.bounce_stats_stream(sdf, gap_s=300, delay="30 seconds", duration="10 minutes")
    return runner.run_to_memory(out, "t7m", conf_overrides=state.CHAIN_STREAM_CONFS)


def q_t7u(spark: SparkSession, sf: str) -> DataFrame:
    """Tagged union for the driver's 50-entry cap: per-entry decisions
    (T7) + the chained bounce-per-window rollup (T7→A1)."""
    dec = q_t7(spark, sf).select(
        F.lit("decide").alias("branch"),
        F.concat_ws("|", "user_id", "event_id").alias("k"),
        F.col("is_bounce").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
        F.lit(0).cast("long").alias("v3"),
    )
    chain = q_t7m(spark, sf).select(
        F.lit("chain").alias("branch"),
        F.concat_ws("|", "stt", "edt").alias("k"),
        F.col("entry_ct").cast("long").alias("v1"),
        F.col("bounce_ct").cast("long").alias("v2"),
        F.col("uv_ct").cast("long").alias("v3"),
    )
    return dec.unionByName(chain)


def _sql_t7u() -> str:
    from flinkrealtimedatawarehouse_spark.benchqueries.warehouse import DUCK_FMT

    return f"""
SELECT 'decide' AS branch, concat_ws('|', user_id, event_id) AS k,
       is_bounce::BIGINT AS v1, 0::BIGINT AS v2, 0::BIGINT AS v3
FROM ({SQL_W1})
UNION ALL
SELECT 'chain', concat_ws('|', stt, edt), entry_ct, bounce_ct, uv_ct
FROM (
  SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{DUCK_FMT}') AS stt,
         strftime(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes', '{DUCK_FMT}') AS edt,
         count(*)::BIGINT AS entry_ct, sum(is_bounce)::BIGINT AS bounce_ct,
         count(DISTINCT user_id)::BIGINT AS uv_ct
  FROM (
    SELECT user_id, ts,
           CASE WHEN nts IS NOT NULL AND epoch(nts) - epoch(ts) < 300 AND nie = 0
                THEN 0 ELSE 1 END AS is_bounce
    FROM (
      SELECT user_id, ts, ie,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts,
             lead(ie) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nie
      FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ie
        FROM events
      )
    ) WHERE ie = 1
  ) GROUP BY 1, 2
)
"""


# --- W4 streaming twin: session_window gap sessionization -----------------

# Planted boundary corpus: the real events table need not contain pairs at
# EXACTLY the 1800 s gap, so the end-inclusive merge semantics would be
# pinned only by unit tests — these rows force the oracle to check it.
_W4B_ROWS = [
    (1, 1, "2024-01-01 00:00:00"),         # session 0
    (1, 2, "2024-01-01 00:30:00"),         # exactly +gap -> SAME session
    (1, 3, "2024-01-01 01:00:00.000001"),  # +gap+1us -> new session
    (2, 4, "2024-01-01 00:00:00"),
    (2, 5, "2024-01-01 00:29:59.999999"),  # inside -> same
    (3, 6, "2024-01-01 05:00:00"),         # singleton session
]


def q_w4b(spark: SparkSession, sf: str) -> DataFrame:
    ev = spark.createDataFrame(
        _W4B_ROWS, "user_id long, event_id long, ts_s string"
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))
    from flinkrealtimedatawarehouse_spark.operators import sessions

    s = sessions.session_stats(ev, "user_id", "ts", 1800, tiebreak="event_id")
    return s.select(
        "user_id", "session_idx", "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "dur_sec",
    )


_W4B_VALUES = ", ".join(f"({u}, {e}, TIMESTAMP '{t}')" for u, e, t in _W4B_ROWS)

SQL_W4B = f"""
WITH ev(user_id, event_id, ts) AS (VALUES {_W4B_VALUES}),
o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM ev
), f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) > 1800 THEN 1 ELSE 0 END AS st
  FROM o
), s AS (
  SELECT user_id, ts,
         sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM f
)
SELECT user_id, session_idx::BIGINT AS session_idx, count(*)::BIGINT AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       round(epoch(max(ts)) - epoch(min(ts)), 6) AS dur_sec
FROM s GROUP BY 1, 2
"""


def q_w4c(spark: SparkSession, sf: str) -> DataFrame:
    """Tagged union proving the batch sessionizer (lag/running-sum windows)
    and the streaming ``session_window`` aggregation produce IDENTICAL
    sessions on the same events — same gap semantics (end-inclusive merge),
    same bounds/duration — against one oracle. The streaming side runs a
    real watermarked query; the sentinel (> gap + delay past max ts)
    flushes every open session before the replay drains.

    Round-10 ``sliding`` branch: the T4 hopping-window aggregation
    (``windows.sliding_stats_stream`` — previously pytest-only) over the
    same events stream, 10 min windows hopping every 5 min, mapped into
    this union's shape (window bounds in session_start/end, count in
    n_events, the rounded value sum in dur_sec, event_type in grp). Its
    DuckDB twin enumerates each event's size/slide windows explicitly —
    epoch-aligned starts, the same alignment Spark's ``window()`` uses."""
    from pyspark.sql import Window
    from flinkrealtimedatawarehouse_spark.benchqueries.warehouse import q_w4

    _null_grp = F.lit(None).cast("string").alias("grp")
    batch = q_w4(spark, sf).withColumn("kind", F.lit("batch")).withColumn("grp", _null_grp)

    sdf = _staged_events_stream(spark, sf, "w4s", "40 minutes")
    agg = windows.session_stats_stream(sdf, "user_id", "ts", "30 minutes", "30 seconds")
    out = runner.run_to_memory(agg, "w4s").filter(F.col("user_id") >= 0)
    idx_w = Window.partitionBy("user_id").orderBy("session_start")
    stream = out.select(
        "user_id",
        (F.row_number().over(idx_w) - 1).cast("long").alias("session_idx"),
        "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "dur_sec",
        F.lit("stream").alias("kind"),
        _null_grp,
    )
    planted = q_w4b(spark, sf).withColumn("kind", F.lit("planted")).withColumn("grp", _null_grp)

    sdf2 = _staged_events_stream(spark, sf, "w4sl", "11 minutes")
    sl = windows.sliding_stats_stream(sdf2, "ts", "10 minutes", "5 minutes", "30 seconds")
    # the sentinel (max ts + 11 min) flushes every real window — the last
    # real window ends <= max+10 min < watermark; its own windows start
    # past max ts, so the stt cutoff drops exactly them
    slout = runner.run_to_memory(sl, "w4sl").filter(
        F.col("stt") <= _real_max_stt(spark, sf)
    )
    sliding = slout.select(
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("session_idx"),
        F.col("pv_ct").cast("long").alias("n_events"),
        F.col("stt").alias("session_start"),
        F.col("edt").alias("session_end"),
        F.col("value_sum").alias("dur_sec"),
        F.lit("sliding").alias("kind"),
        F.col("event_type").alias("grp"),
    )
    return batch.unionByName(stream).unionByName(planted).unionByName(sliding)


def _sql_w4c() -> str:
    from flinkrealtimedatawarehouse_spark.benchqueries.warehouse import SQL_W4

    # sliding twin: window starts = the event's 5-min bucket minus
    # i*slide for i in 0..size/slide-1 — every window containing the
    # event, epoch-aligned like Spark's window(). time_bucket (the same
    # tz-stable pattern as every other twin here) operates on the plain
    # TIMESTAMP — to_timestamp/strftime would render in DuckDB's session
    # timezone and break the gate on any non-UTC host.
    sliding = """
SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS session_idx,
       count(*)::BIGINT AS n_events,
       strftime(ws, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(ws + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       round(sum(value), 2) AS dur_sec,
       'sliding' AS kind, event_type AS grp
FROM (
  SELECT e.*, time_bucket(INTERVAL '5 minutes', ts) - i.i * INTERVAL '5 minutes' AS ws
  FROM events e CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS i) i
)
GROUP BY ws, event_type
"""
    return f"""
SELECT *, CAST(NULL AS VARCHAR) AS grp, 'batch' AS kind FROM ({SQL_W4})
UNION ALL
SELECT *, CAST(NULL AS VARCHAR) AS grp, 'stream' AS kind FROM ({SQL_W4})
UNION ALL
SELECT *, CAST(NULL AS VARCHAR) AS grp, 'planted' AS kind FROM ({SQL_W4B})
UNION ALL
SELECT user_id, session_idx, n_events, session_start, session_end, dur_sec, grp, kind
FROM ({sliding})
"""


SQL_W4C = _sql_w4c()


# --- K2+T6: broadcast-config routing + dynamic-destination fan-out --------

def q_k2(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming P4/J5/T6/K2: change rows joined in-stream against a small
    broadcast config table (the reference's MapState broadcast,
    BaseDBApp.java:91-97) to pick a per-row destination, then fanned out
    per micro-batch under that destination (the Kafka per-row-topic sink
    shape, MyKafkaUtil.java:30-41). Unconfigured (table, type) rows drop,
    exactly like TableProcessFunction.java:151-155."""
    orders = load_table(spark, sf, "orders")
    enveloped = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("total"),
        F.lit("orders").alias("tableName"),
        F.when(F.col("o_orderstatus") == "O", "insert")
        .when(F.col("o_orderstatus") == "F", "update")
        .otherwise("delete")
        .alias("type"),
    )
    config = spark.createDataFrame(
        [("orders", "insert", "fact_orders"), ("orders", "update", "dim_orders")],
        "tableName string, type string, sink_table string",
    )
    in_dir = runner.stage_stream_dir(enveloped, "id", 3, "k2")
    sdf = runner.parquet_stream(spark, in_dir, enveloped.schema)
    routed = sdf.join(F.broadcast(config), ["tableName", "type"], "inner")
    out_dir = runner.scratch_dir("out_k2")
    sinks.fanout_sink(routed, "sink_table", out_dir, "k2")
    written = spark.read.parquet(out_dir)
    return written.groupBy("sink_table").agg(
        F.count(F.lit(1)).alias("ct"), F.round(F.sum("total"), 2).alias("total_sum")
    )


SQL_K2 = """
SELECT CASE WHEN o_orderstatus = 'O' THEN 'fact_orders' ELSE 'dim_orders' END AS sink_table,
       count(*)::BIGINT AS ct, round(sum(o_totalprice), 2) AS total_sum
FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 1
"""


# --- S2: CDC source emulation — initial snapshot + streamed changelog -----

def q_s2(spark: SparkSession, sf: str) -> DataFrame:
    """FlinkCDC ``startupOptions(initial)`` (rt/app/ods/FlinkCDC.java:26-38)
    = snapshot, then tail the changelog. Here: customer is the initial
    snapshot; a JSON changelog (update wave then delete wave) streams
    through the S3 envelope parser into a per-batch CDC MERGE
    (operators/merge.apply_cdc) — upserts replace, deletes remove."""
    cust = load_table(spark, sf, "customer")
    upd = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.lit(1).alias("v"),
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("customer").alias("tableName"),
                F.lit("update").alias("type"),
                F.create_map(
                    F.lit("id"), F.col("c_custkey").cast("string"),
                    F.lit("acctbal"), F.round(F.col("c_acctbal") + 1000, 2).cast("string"),
                    F.lit("mktsegment"), F.col("c_mktsegment"),
                ).alias("after"),
            )
        ).alias("value"),
    )
    dels = cust.filter(F.col("c_custkey") % 30 == 0).select(
        F.lit(2).alias("v"),
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("customer").alias("tableName"),
                F.lit("delete").alias("type"),
                F.create_map(F.lit("id"), F.col("c_custkey").cast("string")).alias("after"),
            )
        ).alias("value"),
    )
    changelog = upd.unionByName(dels)
    in_dir = runner.stage_stream_dir(changelog, "v", 2, "s2")
    raw = runner.parquet_stream(spark, in_dir, changelog.schema)

    base = cust.select("c_custkey", "c_mktsegment", "c_acctbal").withColumn("v", F.lit(0))
    from flinkrealtimedatawarehouse_spark.operators.merge import apply_cdc

    sink = sinks.SnapshotMergeSink(runner.scratch_dir("out_s2"), "c_custkey", "v")
    sink.init(base)

    def write_batch(batch: DataFrame, bid: int) -> None:
        if sink.seen(bid):  # at-least-once redelivery: no-op
            return
        env = sources.parse_cdc_envelope(batch)
        typed = env.select(
            F.col("type"),
            F.element_at("after", "id").cast("long").alias("c_custkey"),
            F.element_at("after", "mktsegment").alias("c_mktsegment"),
            F.element_at("after", "acctbal").cast("double").alias("c_acctbal"),
            F.col("v"),
        )
        merged = apply_cdc(sink.current(batch.sparkSession), typed, "c_custkey", "v")
        sink.commit_snapshot(merged, bid)

    runner.run_foreach_batch(raw, write_batch, "s2")
    final = sink.current(spark)
    return final.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("ct"), F.round(F.sum("c_acctbal"), 2).alias("bal")
    )


SQL_S2 = """
SELECT c_mktsegment, count(*)::BIGINT AS ct,
       round(sum(CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 1000, 2)
                      ELSE c_acctbal END), 2) AS bal
FROM customer WHERE c_custkey % 30 <> 0 GROUP BY 1
"""



# --- dp22: streaming LLM-data ingest pipeline -----------------------------

def q_dp22(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end streaming training-data ingest — the north-star shape:
    documents replayed as a stream -> PII redaction (stateless exprs) ->
    quality gate (length-based) -> stateful exact dedup on the normalized
    content hash -> merged survivor table. The dedup state is the K3
    MERGE machinery keyed by content hash with version = -doc_id, so the
    min-doc_id row wins per hash GLOBALLY — deterministic under any
    micro-batch split (a plain streaming dropDuplicates keeps an
    arbitrary within-batch survivor). Planted verbatim copies
    (doc_id % 5 == 0 at id+10000) are eliminated in-stream.
    """
    from flinkrealtimedatawarehouse_spark.benchqueries.pipeline import _docs_with_exact_dups
    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup, textstats

    docs = _docs_with_exact_dups(spark, sf)
    in_dir = runner.stage_stream_dir(docs, "doc_id", _N_FILES, "dp22")
    sdf = runner.parquet_stream(spark, in_dir, docs.schema)
    cleaned = textstats.pii_redact(sdf, "text")
    gated = cleaned.filter(F.length("clean_text") >= 50)
    hashed = gated.select(
        "doc_id",
        "source",
        F.sha2(textdedup.normalize_text(F.col("clean_text")), 256).alias("content_hash"),
        (-F.col("doc_id")).alias("neg_id"),
    )
    sink = sinks.SnapshotMergeSink(
        runner.scratch_dir("snap_dp22"), "content_hash", "neg_id"
    )
    sink.init(spark.createDataFrame([], hashed.schema))
    runner.run_foreach_batch(hashed, sink.write_batch, "dp22")
    return sink.current(spark).groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_ct"), F.min("doc_id").alias("min_id")
    )

SQL_DP22 = r"""
WITH a AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 10000, text, source FROM documents WHERE doc_id % 5 = 0
),
-- mirror of textstats.pii_redact: the gate and the dedup hash run on the
-- REDACTED text on the Spark side, so the oracle must redact identically
-- (on this corpus redaction is a no-op, but PII-bearing text must not
-- silently diverge the two sides)
r AS (
  SELECT doc_id, source,
         regexp_replace(
           regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{3,4}', '[PHONE]', 'g') AS clean_text
  FROM a
),
g AS (SELECT * FROM r WHERE length(clean_text) >= 50),
h AS (
  SELECT *, row_number() OVER (
    PARTITION BY trim(regexp_replace(lower(clean_text), '[^a-z0-9]+', ' ', 'g'))
    ORDER BY doc_id
  ) AS rn
  FROM g
)
SELECT source, count(*)::BIGINT AS kept_ct, min(doc_id) AS min_id
FROM h WHERE rn = 1 GROUP BY 1
"""


# --- dp28: streaming MinHash-LSH near-dup ingest --------------------------

_DP28_CACHE: dict = {}


def _dp28_replay(spark: SparkSession, sf: str):
    """One composed-DAG replay shared by the dp22 gate's neardup and
    clusters branches: documents stream id-ordered through a
    KeyStateNearDupSink on MinHash band keys (``minhash_band_keys``) with
    a ClusterUpkeepSink attached, so flags, key state, AND canonical
    cluster labels all advance per micro-batch (the full streaming dedup
    DAG — streaming/neardup.py + streaming/clusters.py).
    Returns (near-dup sink, docs).

    Memoized per (application, sf): q_dp28 and q_dp22c's clusters branch
    both need the replay, so one gate pass stages and streams the
    composed DAG once (the replay is deterministic and the sinks
    idempotent either way)."""
    key = (spark.sparkContext.applicationId, sf)
    if key in _DP28_CACHE:
        return _DP28_CACHE[key]
    from flinkrealtimedatawarehouse_spark.benchqueries.pipeline import (
        _MH_BANDS,
        _MH_K,
        _MH_N,
        _docs_with_near_dups,
    )
    from flinkrealtimedatawarehouse_spark.streaming import clusters, neardup

    docs = _docs_with_near_dups(spark, sf).select("doc_id", "text", "source")
    in_dir = runner.stage_stream_dir(docs, "doc_id", _N_FILES, "dp28")
    sdf = runner.parquet_stream(spark, in_dir, docs.schema)
    cl = clusters.ClusterUpkeepSink(runner.scratch_dir("cl_dp28"), "doc_id")
    sink = neardup.KeyStateNearDupSink(
        runner.scratch_dir("nd_dp28"), "doc_id",
        neardup.minhash_band_keys("doc_id", "text", _MH_N, _MH_K, _MH_BANDS),
        cluster_sink=cl,
    )
    sink.init(spark)
    runner.run_foreach_batch(sdf, sink.write_batch, "dp28")
    _DP28_CACHE[key] = (sink, docs)
    return sink, docs


def q_dp28(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming near-dedup: documents replayed id-ordered -> per-batch
    MinHash band keys -> flag vs the accumulated key state (first arrival
    wins) -> state absorbs the batch. See streaming/neardup.py for the
    scale contract; under the id-ordered replay the flags equal the
    batch directional-LSH relation, which is what the oracle encodes.
    Per-source (dup_ct, doc_ct) — q_dp22c's neardup branch.
    """
    sink, docs = _dp28_replay(spark, sf)
    return (
        sink.flags(spark)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("is_near_dup").cast("long").alias("dup_ct"),
            F.count(F.lit(1)).cast("long").alias("doc_ct"),
        )
    )


# --- j7 streaming twin: temporal dim enrichment per micro-batch -----------

def q_j7_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming J7: purchase facts replayed as a stream; every micro-batch
    is as-of enriched against the (static) click history — each fact gets
    the dim version valid AT ITS EVENT TIME, the temporally-correct form
    of the reference's processing-time async dim lookup
    (rt/app/dwd/OrderWideApp.java:108-136). With a static right side the
    result is batch-split invariant and equals the batch as-of join, which
    is what the shared oracle checks. Flags write per-``_bid`` with
    dynamic overwrite (replayed batches rewrite their own slice).
    """
    from flinkrealtimedatawarehouse_spark.operators import joins

    ev = load_table(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_val"))
    )
    in_dir = runner.stage_stream_dir(left, "ts", _N_FILES, "j7s")
    sdf = runner.parquet_stream(spark, in_dir, left.schema)
    out_dir = runner.scratch_dir("out_j7s")

    def enrich_batch(batch, batch_id):
        sinks.write_bid_slice(
            joins.asof_join(
                batch, right, ("user_id", "user_id"), ("ts", "ts"),
                ["click_val"], tolerance="'30' MINUTE",
            ),
            batch_id,
            out_dir,
        )

    runner.run_foreach_batch(sdf, enrich_batch, "j7s")
    enriched = spark.read.parquet(out_dir)
    return enriched.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt")).agg(
        F.count(F.lit(1)).alias("purchase_ct"),
        F.count("click_val").alias("matched_ct"),
        F.round(F.coalesce(F.sum("click_val"), F.lit(0.0)), 2).alias("val_sum"),
    )


# j7 batch + stream, one tagged gate entry sharing the ASOF oracle —
# overrides the warehouse registry's batch-only entry (streamq merges last).
def q_j7c(spark: SparkSession, sf: str) -> DataFrame:
    from flinkrealtimedatawarehouse_spark.benchqueries.warehouse import q_j7

    batch = q_j7(spark, sf).withColumn("mode", F.lit("batch"))
    stream = q_j7_stream(spark, sf).withColumn("mode", F.lit("stream"))
    return batch.unionByName(stream)


def _sql_j7c() -> str:
    from flinkrealtimedatawarehouse_spark.benchqueries.warehouse import SQL_J7

    return f"""
SELECT *, 'batch' AS mode FROM ({SQL_J7})
UNION ALL
SELECT *, 'stream' AS mode FROM ({SQL_J7})
"""


# --- dp29: streaming incremental top-k similarity -------------------------

def q_dp6_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Embeddings replayed as a stream; a fixed probe set's top-k is
    merged incrementally per batch (streaming/simsearch.py). Final state
    must equal the batch brute-force top-k over the full corpus — same
    oracle as the batch dp6 branches."""
    from flinkrealtimedatawarehouse_spark.benchqueries.pipeline import _TK_K, _TK_PROBES
    from flinkrealtimedatawarehouse_spark.streaming import simsearch

    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < _TK_PROBES)
    in_dir = runner.stage_stream_dir(emb, "vec_id", _N_FILES, "dp6s")
    sdf = runner.parquet_stream(spark, in_dir, emb.schema)
    sink = simsearch.IncrementalTopKSink(
        runner.scratch_dir("topk_dp6s"), probes, "vec_id", "embedding", k=_TK_K
    )
    sink.init(spark)
    runner.run_foreach_batch(sdf, sink.write_batch, "dp6s")
    return sink.current(spark)


# dp6+dp6b+dp29: all three top-k paths (HOF expressions, Arrow matmul,
# incremental streaming merge) hash against ONE oracle — overrides the
# pipeline registry's two-branch entry (streamq merges last).
def q_dp6c(spark: SparkSession, sf: str) -> DataFrame:
    from flinkrealtimedatawarehouse_spark.benchqueries.pipeline import q_cosine_topk_both

    both = q_cosine_topk_both(spark, sf)
    stream = q_dp6_stream(spark, sf).withColumn("method", F.lit("stream"))
    return both.unionByName(stream)


def _sql_dp6c() -> str:
    from flinkrealtimedatawarehouse_spark.benchqueries.pipeline import (
        SQL_COSINE_TOPK,
        SQL_COSINE_TOPK_BOTH,
    )

    return f"""
{SQL_COSINE_TOPK_BOTH}
UNION ALL
SELECT *, 'stream' AS method FROM ({SQL_COSINE_TOPK})
"""


# dp22+dp28: the streaming ingest pair, one tagged gate entry —
# exact-dedup MERGE ingest and keyed-state near-dup flagging.
def q_dp22c(spark: SparkSession, sf: str) -> DataFrame:
    """dp22 tagged union — the streaming dedup surface in one gate slot:
    ``ingest`` (snapshot-merge upsert counts); from ONE composed replay
    of KeyStateNearDupSink on MinHash band keys, ``neardup`` (flag
    aggregates) and ``clusters`` (per-doc canonical labels from the
    attached ClusterUpkeepSink — the one-pass dedup DAG's final stage,
    hash-checked per document against a recursive-CTE DuckDB twin over
    the same band-sharing graph); and ``shflags``/``edflags`` — the same
    sink on the SimHash and embedding key families, per-doc directional
    flags against per-family DuckDB twins."""
    ingest = q_dp22(spark, sf).select(
        F.lit("ingest").alias("kind"), "source",
        F.col("kept_ct").alias("v1"), F.col("min_id").alias("v2"),
    )
    nd = q_dp28(spark, sf).select(
        F.lit("neardup").alias("kind"), "source",
        F.col("dup_ct").alias("v1"), F.col("doc_ct").alias("v2"),
    )
    sink, docs = _dp28_replay(spark, sf)
    cl = (
        sink.cluster_sink.clusters(spark)
        .filter(F.col("cluster") != F.col("doc_id"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            F.lit("clusters").alias("kind"), "source",
            F.col("doc_id").alias("v1"), F.col("cluster").alias("v2"),
        )
    )
    sh, ed = _keystate_replays(spark, sf)
    return ingest.unionByName(nd).unionByName(cl).unionByName(sh).unionByName(ed)


def _keystate_replays(spark: SparkSession, sf: str):
    """Streaming twins for the OTHER two dedup families (SimHash bands,
    embedding sign buckets) via KeyStateNearDupSink: each corpus replays
    id-ordered and the accumulated per-doc flags must equal the batch
    directional relation 'flagged iff a smaller id shares a key' — the
    contract the MinHash replay gates, checked per family against its
    own DuckDB twin."""
    from flinkrealtimedatawarehouse_spark.benchqueries.pipeline import (
        _docs_with_near_dups,
        _ED_PLANES,
        _emb_with_dups,
    )
    from flinkrealtimedatawarehouse_spark.streaming.neardup import (
        KeyStateNearDupSink,
        embedding_bucket_keys,
        simhash_band_keys,
    )

    docs = _docs_with_near_dups(spark, sf).select("doc_id", "text", "source")
    in_dir = runner.stage_stream_dir(docs, "doc_id", _N_FILES, "dp22sh")
    sdf = runner.parquet_stream(spark, in_dir, docs.schema)
    shsink = KeyStateNearDupSink(
        runner.scratch_dir("sh_dp22"), "doc_id",
        simhash_band_keys("doc_id", "text"),
    )
    shsink.init(spark)
    runner.run_foreach_batch(sdf, shsink.write_batch, "dp22sh")
    sh = (
        shsink.flags(spark)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            F.lit("shflags").alias("kind"), "source",
            F.col("doc_id").alias("v1"),
            F.col("is_near_dup").cast("long").alias("v2"),
        )
    )

    emb = _emb_with_dups(spark, sf).select("vec_id", "embedding", "label")
    in_dir = runner.stage_stream_dir(emb, "vec_id", _N_FILES, "dp22ed")
    edf = runner.parquet_stream(spark, in_dir, emb.schema)
    edsink = KeyStateNearDupSink(
        runner.scratch_dir("ed_dp22"), "vec_id",
        embedding_bucket_keys("vec_id", "embedding", n_planes=_ED_PLANES),
    )
    edsink.init(spark)
    runner.run_foreach_batch(edf, edsink.write_batch, "dp22ed")
    ed = (
        edsink.flags(spark)
        .join(emb.select("vec_id", "label"), "vec_id")
        .select(
            F.lit("edflags").alias("kind"),
            F.col("label").cast("string").alias("source"),
            F.col("vec_id").alias("v1"),
            F.col("is_near_dup").cast("long").alias("v2"),
        )
    )
    return sh, ed


def _sql_dp22c() -> str:
    from flinkrealtimedatawarehouse_spark.benchqueries.pipeline import (
        _DUCK_Q,
        _duck_bucket,
        _duck_simhash,
        _ED_PLANES,
        _MH_BANDS,
        _R,
        _sql_sigs_cte,
        _SQL_NEAR_DUPS,
    )
    from flinkrealtimedatawarehouse_spark.datapipeline.hashing import (
        duck_phash,
        duck_tokens,
    )

    # band key from _R (= rows per band), never a hardcoded stride — the
    # Spark sink derives it from the same _MH_K/_MH_BANDS constants
    band_elems = ", ".join(
        f"sig[{_R} * bi.band_idx + {r + 1}]" for r in range(_R)
    )
    return f"""
SELECT 'ingest' AS kind, source, kept_ct AS v1, min_id AS v2 FROM ({SQL_DP22})
UNION ALL
SELECT 'neardup', source, sum(isdup)::BIGINT, count(*)::BIGINT FROM (
  WITH {_sql_sigs_cte()},
  bd AS (
    SELECT doc_id, bi.band_idx,
           concat_ws('_', {band_elems}) AS band_key
    FROM ms CROSS JOIN (SELECT unnest(generate_series(0, {_MH_BANDS - 1})) AS band_idx) bi
  ),
  mn AS (SELECT band_idx, band_key, min(doc_id) AS mid FROM bd GROUP BY 1, 2),
  fl AS (
    SELECT bd.doc_id, max(CASE WHEN mn.mid < bd.doc_id THEN 1 ELSE 0 END) AS isdup
    FROM bd JOIN mn USING (band_idx, band_key) GROUP BY 1
  ),
  src AS (
    SELECT doc_id, source FROM documents
    UNION ALL
    SELECT doc_id + 20000, source FROM documents WHERE doc_id % 7 = 0
  )
  SELECT src.doc_id, src.source, coalesce(fl.isdup, 0) AS isdup
  FROM src LEFT JOIN fl USING (doc_id)
) GROUP BY 2
UNION ALL
-- clusters branch: connected components over the SAME band-sharing
-- graph the detector walks. The twin contracts each band key to its
-- global min-id edges (same components as all-pairs band sharing, and
-- as the streamed evolving-minimum witness edges), then takes the min
-- reachable id per node via a recursive closure — mirroring
-- ClusterUpkeepSink's invariant term-for-term.
SELECT 'clusters', q.source, q.doc_id, q.cluster FROM (
  WITH {_sql_sigs_cte()},
  bd AS (
    SELECT doc_id, bi.band_idx,
           concat_ws('_', {band_elems}) AS band_key
    FROM ms CROSS JOIN (SELECT unnest(generate_series(0, {_MH_BANDS - 1})) AS band_idx) bi
  ),
  mn AS (SELECT band_idx, band_key, min(doc_id) AS mid FROM bd GROUP BY 1, 2),
  me AS (
    SELECT DISTINCT bd.doc_id AS a, mn.mid AS b
    FROM bd JOIN mn USING (band_idx, band_key) WHERE bd.doc_id <> mn.mid
  ),
  e AS (SELECT a AS s, b AS d FROM me UNION SELECT b, a FROM me),
  rc AS (
    WITH RECURSIVE reach(node, r) AS (
      SELECT DISTINCT s, s FROM e
      UNION
      SELECT reach.node, e.d FROM reach JOIN e ON e.s = reach.r
    )
    SELECT node, min(r) AS cluster FROM reach GROUP BY 1
  ),
  src AS (
    SELECT doc_id, source FROM documents
    UNION ALL
    SELECT doc_id + 20000, source FROM documents WHERE doc_id % 7 = 0
  )
  SELECT src.source, rc.node AS doc_id, rc.cluster
  FROM rc JOIN src ON rc.node = src.doc_id
  WHERE rc.cluster <> rc.node
) q
UNION ALL
-- shflags: streaming SimHash twin via the generic keyed-state sink —
-- under id-ordered replay the flags equal the directional relation
-- "flagged iff a smaller id shares a band byte" (same band exprs as the
-- batch simhash twin; docs with zero tokens never band, never flag)
SELECT 'shflags', q.source, q.doc_id, q.f FROM (
  WITH a AS ({_SQL_NEAR_DUPS}),
  tk AS (
    SELECT doc_id, list_transform(list_distinct({duck_tokens('text')}), t -> {duck_phash('t')}) AS th
    FROM a
  ),
  sm AS (SELECT doc_id, {_duck_simhash('th')} AS simhash FROM tk WHERE len(th) > 0),
  bd AS (
    SELECT doc_id, bi.band_idx, (simhash >> (8 * bi.band_idx)) & 255 AS band_val
    FROM sm CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_idx) bi
  ),
  mn AS (SELECT band_idx, band_val, min(doc_id) AS mid FROM bd GROUP BY 1, 2),
  fl AS (
    SELECT bd.doc_id, max(CASE WHEN mn.mid < bd.doc_id THEN 1 ELSE 0 END) AS f
    FROM bd JOIN mn USING (band_idx, band_val) GROUP BY 1
  ),
  src AS (
    SELECT doc_id, source FROM documents
    UNION ALL
    SELECT doc_id + 20000, source FROM documents WHERE doc_id % 7 = 0
  )
  SELECT src.source, src.doc_id, coalesce(fl.f, 0)::BIGINT AS f
  FROM src LEFT JOIN fl USING (doc_id)
) q
UNION ALL
-- edflags: streaming embedding-cosine twin — flagged iff a smaller
-- vec_id shares the hyperplane sign bucket (same quantization + plane
-- exprs as the batch embedding twin)
SELECT 'edflags', q.label::VARCHAR, q.vec_id, q.f FROM (
  WITH a AS (
    SELECT vec_id, embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + 10000, embedding, label FROM embeddings WHERE vec_id % 11 = 0
  ),
  qz AS (SELECT vec_id, label, {_DUCK_Q} AS q FROM a),
  b0 AS (SELECT vec_id, label, {_duck_bucket('q', _ED_PLANES)} AS bucket FROM qz),
  mn AS (SELECT bucket, min(vec_id) AS mid FROM b0 GROUP BY 1)
  SELECT b0.label, b0.vec_id,
         (CASE WHEN mn.mid < b0.vec_id THEN 1 ELSE 0 END)::BIGINT AS f
  FROM b0 JOIN mn USING (bucket)
) q
"""


# Registry note: consolidated for the driver's 50-entry recording cap.
# S3 (envelope parse) and K3-streaming (micro-batch MERGE) are gated
# through s2_cdc_stream_apply (parses envelopes AND applies per-batch CDC
# MERGE) and dp22_stream_ingest (SnapshotMergeSink.write_batch upsert
# path).
REGISTRY: dict = {
    "t1_visitor_stream": (q_t1, SQL_A1),
    "t2_product_stream": (q_t2, SQL_A2),
    "t3_interval_join_stream": (q_t3c2, _sql_t3c2()),
    "t3b_asym_join_stream": (q_t3c, _sql_t3c()),
    "t5_dedup_stream": (q_t5, SQL_T5),
    "t7_bounce_stream": (q_t7u, _sql_t7u()),
    "w4_session_stats": (q_w4c, SQL_W4C),
    "k2_fanout_stream": (q_k2, SQL_K2),
    "s2_cdc_stream_apply": (q_s2, SQL_S2),
    "dp22_stream_ingest": (q_dp22c, _sql_dp22c()),
    "dp6_cosine_topk": (q_dp6c, _sql_dp6c()),
    "j7_asof_join": (q_j7c, _sql_j7c()),
}
