"""Warehouse-surface driver queries (SURVEY.md §2 rows P*/J*/A*/W*/O*/U*/F1/K3).

Every reference operator, exercised end-to-end on the driver's testdata
star schema with an exact DuckDB oracle. The gmall domain columns map onto
testdata as documented per query (e.g. ``mid`` -> ``user_id``, session
entry -> ``event_type='view'``, province -> ``nation``); the OPERATOR
SHAPE is the reference's — the mapping only renames inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.operators import ads, aggs, behavior, bounce, dedup, filters, joins, logsplit, merge, quality, routing, scale, sessions, unions
from flinkrealtimedatawarehouse_spark.functions.tokenize import explode_tokens
from flinkrealtimedatawarehouse_spark.schemas import TABLE_PROCESS_SCHEMA
from flinkrealtimedatawarehouse_spark.tables import load_table

FMT = "yyyy-MM-dd HH:mm:ss"
DUCK_FMT = "%Y-%m-%d %H:%M:%S"

# ---------------------------------------------------------------------------
# P1 parse-or-dirty
def q_p1(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    clean, dirty = logsplit.parse_or_dirty(ev, "props", "k INT")
    c = clean.agg(
        F.count(F.lit(1)).alias("clean_ct"),
        F.sum("k").cast("long").alias("k_sum"),
    )
    d = dirty.agg(F.count(F.lit(1)).alias("dirty_ct"))
    return c.crossJoin(d)

SQL_P1 = """
SELECT count(*)::BIGINT AS clean_ct,
       sum(CAST(json_extract(props, '$.k') AS INT))::BIGINT AS k_sum,
       0::BIGINT AS dirty_ct
FROM events
"""

# P1q table-level expectations (beyond ref: P1's routing generalized to
# declarative rules — DLT/dbt-test pattern) + referential integrity.
def q_p1q(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    rules = {
        "user_pos": F.col("user_id") > 0,
        "value_cap": F.col("value") <= 15,
        "props_has_k": F.get_json_object("props", "$.k").isNotNull(),
    }
    valid, viol, report = quality.check_constraints(ev, rules)
    counts = valid.agg(F.count(F.lit(1)).alias("violation_ct")).select(
        F.lit("valid_rows").alias("rule"), "violation_ct",
        F.col("violation_ct").alias("total_ct"),
    )
    # RI probe against a punctured parent set => a known orphan population
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer").filter(F.col("c_custkey") % 3 != 0)
    orphans = quality.ri_violations(orders, cust, "o_custkey", "c_custkey")
    ri = orphans.agg(F.count(F.lit(1)).alias("violation_ct")).crossJoin(
        orders.agg(F.count(F.lit(1)).alias("total_ct"))
    ).select(F.lit("ri_orders_custkey").alias("rule"), "violation_ct", "total_ct")
    return (
        report.select("rule", "violation_ct", F.col("total_ct"))
        .unionByName(counts.withColumn("violation_ct", F.col("violation_ct").cast("long"))
                     .withColumn("total_ct", F.col("total_ct").cast("long")))
        .unionByName(ri.withColumn("violation_ct", F.col("violation_ct").cast("long"))
                     .withColumn("total_ct", F.col("total_ct").cast("long")))
    )

SQL_P1Q = """
WITH f AS (
  SELECT CASE WHEN NOT coalesce(user_id > 0, FALSE) THEN 1 ELSE 0 END AS f_user,
         CASE WHEN NOT coalesce(value <= 15, FALSE) THEN 1 ELSE 0 END AS f_val,
         CASE WHEN NOT coalesce(json_extract(props, '$.k') IS NOT NULL, FALSE)
              THEN 1 ELSE 0 END AS f_props
  FROM events
)
SELECT 'user_pos' AS rule, sum(f_user)::BIGINT AS violation_ct, count(*)::BIGINT AS total_ct FROM f
UNION ALL
SELECT 'value_cap', sum(f_val)::BIGINT, count(*)::BIGINT FROM f
UNION ALL
SELECT 'props_has_k', sum(f_props)::BIGINT, count(*)::BIGINT FROM f
UNION ALL
SELECT 'valid_rows', sum(CASE WHEN f_user + f_val + f_props = 0 THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN f_user + f_val + f_props = 0 THEN 1 ELSE 0 END)::BIGINT FROM f
UNION ALL
SELECT 'ri_orders_custkey',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = o.o_custkey))::BIGINT,
       (SELECT count(*) FROM orders)::BIGINT
"""

# P1 combined gate (tagged): parse-or-dirty routing + table-level
# expectations report + referential-integrity probe.
def q_p1c(spark: SparkSession, sf: str) -> DataFrame:
    parse = q_p1(spark, sf).select(
        F.lit("parse").alias("branch"), F.lit("all").alias("rule"),
        F.col("clean_ct").alias("violation_ct"), F.col("k_sum").alias("total_ct"),
    )
    dq = q_p1q(spark, sf).select(F.lit("dq").alias("branch"), "rule",
                                 "violation_ct", "total_ct")
    return parse.unionByName(dq)

SQL_P1C = f"""
SELECT 'parse' AS branch, 'all' AS rule, clean_ct AS violation_ct, k_sum AS total_ct
FROM ({SQL_P1})
UNION ALL
SELECT 'dq', rule, violation_ct, total_ct FROM ({SQL_P1Q})
"""

# P3 three-way split + display explode (start analog: signup)
def q_p3(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    parsed = ev.withColumn(
        "start", F.when(F.col("event_type") == "signup", F.lit(1))
    ).withColumn(
        "displays",
        F.when(
            (F.col("event_type") != "signup")
            & F.get_json_object("props", "$.k").isNotNull(),
            F.array(F.struct(F.get_json_object("props", "$.k").alias("item"))),
        ),
    )
    start, page, display = logsplit.three_way_split(parsed, F.col("start"), "displays")
    return (
        start.agg(F.count(F.lit(1)).alias("ct")).withColumn("branch", F.lit("start"))
        .unionByName(page.agg(F.count(F.lit(1)).alias("ct")).withColumn("branch", F.lit("page")))
        .unionByName(display.agg(F.count(F.lit(1)).alias("ct")).withColumn("branch", F.lit("display")))
        .select("branch", "ct")
    )

SQL_P3 = """
SELECT 'start' AS branch, count(*)::BIGINT AS ct FROM events WHERE event_type = 'signup'
UNION ALL
SELECT 'page', count(*)::BIGINT FROM events WHERE event_type <> 'signup'
UNION ALL
SELECT 'display', count(*)::BIGINT FROM events
WHERE event_type <> 'signup' AND json_extract(props, '$.k') IS NOT NULL
"""

# P6 map-access filter (page['item'] analog: props map)
def q_p6(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    m = ev.withColumn("page", F.from_json("props", "map<string,string>"))
    return filters.map_access_filter(m, "page", {"k": "50"}, ["k"]).select(
        "event_id", "user_id", F.col("page")["k"].alias("item")
    )

SQL_P6 = """
SELECT event_id, user_id, json_extract_string(props, '$.k') AS item
FROM events WHERE json_extract_string(props, '$.k') = '50'
"""

# P7 click filter (good_detail/sku_id analog)
def q_p7(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").withColumn(
        "item_type", F.when(F.col("value") > 10, "sku_id").otherwise("other")
    )
    return (
        filters.click_filter(ev, "event_type", "item_type", "click", "sku_id")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt"))
        .agg(F.count(F.lit(1)).alias("ct"), F.round(F.sum("value"), 2).alias("value_sum"))
    )

SQL_P7 = """
SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*)::BIGINT AS ct, round(sum(value), 2) AS value_sum
FROM events WHERE event_type = 'click' AND value > 10 GROUP BY 1
"""

# P8+P9 derivations (one gate query, both derivation operators): time
# fields over events, age over lineitem, tagged into a common shape
def q_p8(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").withColumn(
        "create_time", F.date_format("ts", FMT)
    )
    time_part = (
        joins.with_time_fields(ev, "create_time")
        .groupBy("create_date", F.col("create_hour").cast("long").alias("create_hour"))
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(
            F.lit("time").alias("tag"),
            F.col("create_date").alias("k"),
            F.col("create_hour").cast("double").alias("num"),
            "ct",
        )
    )
    li = load_table(spark, sf, "lineitem")
    aged = joins.with_age(li, "l_shipdate", F.lit("2026-01-01").cast("date"))
    age_part = (
        aged.groupBy("l_returnflag")
        .agg(F.round(F.avg("user_age"), 4).alias("avg_age"), F.count(F.lit(1)).alias("ct"))
        .select(
            F.lit("age").alias("tag"),
            F.col("l_returnflag").alias("k"),
            F.col("avg_age").alias("num"),
            "ct",
        )
    )
    return time_part.unionByName(age_part)

SQL_P8 = """
SELECT 'time' AS tag, strftime(ts, '%Y-%m-%d') AS k, hour(ts)::DOUBLE AS num,
       count(*)::BIGINT AS ct
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'age', l_returnflag,
       round(avg(floor(date_diff('day', l_shipdate, DATE '2026-01-01') / 365.25)), 4),
       count(*)::BIGINT
FROM lineitem GROUP BY 2
"""

# J1 interval join ±5 min (purchase ⋈ click per user) — the oracle the
# t3 streaming interval joins hash against
SQL_J1 = """
SELECT strftime(l.ts, '%Y-%m-%d') AS dt, count(*)::BIGINT AS pair_ct,
       round(sum(r.value), 2) AS val_sum
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'purchase' AND r.event_type = 'click'
 AND r.ts >= l.ts - INTERVAL 5 MINUTE AND r.ts <= l.ts + INTERVAL 5 MINUTE
GROUP BY 1
"""

# J2 asymmetric interval join [-15 min, 0] (purchase ⋈ view) — the t3b
# streaming join's inner-pair oracle
SQL_J2 = """
SELECT strftime(p.ts, '%Y-%m-%d') AS dt, count(*)::BIGINT AS pair_ct
FROM events p JOIN events o
  ON p.user_id = o.user_id
 AND p.event_type = 'purchase' AND o.event_type = 'view'
 AND o.ts >= p.ts - INTERVAL 15 MINUTE AND o.ts <= p.ts
GROUP BY 1
"""

# J3 dim lookup join (lineitem enriched by part)
def q_j3(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    enr = joins.dim_enrich(
        li, [(part, li["l_partkey"] == part["p_partkey"], ["p_partkey", "p_brand"])]
    )
    return enr.groupBy("p_brand").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("ct")
    )

SQL_J3 = """
SELECT p_brand, round(sum(l_extendedprice), 2) AS revenue, count(*)::BIGINT AS ct
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""

# J4 dim chain (orders -> customer -> nation -> region) — flagship star join
def q_j4(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    enr = joins.dim_enrich(
        o, [(c, o["o_custkey"] == c["c_custkey"], ["c_custkey", "c_nationkey"])]
    )
    enr = joins.dim_enrich(
        enr,
        [
            (n, F.col("c_nationkey") == n["n_nationkey"], ["n_nationkey", "n_name", "n_regionkey"]),
            (r, F.col("n_regionkey") == r["r_regionkey"], ["r_regionkey", "r_name"]),
        ],
        broadcast=True,
    )
    return enr.groupBy("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("order_ct")
    )

SQL_J4 = """
SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue, count(*)::BIGINT AS order_ct
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""

# J5+P4+P5 config-driven routing with column pruning
def q_j5(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    cdc = o.select(
        F.lit("gmall").alias("database"),
        F.lit("orders").alias("tableName"),
        F.when(F.col("o_orderstatus") == "O", "insert")
        .when(F.col("o_orderstatus") == "F", "update")
        .otherwise("delete")
        .alias("type"),
        F.create_map(
            F.lit("id"), F.col("o_orderkey").cast("string"),
            F.lit("total"), F.col("o_totalprice").cast("string"),
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("priority"), F.col("o_orderpriority"),
        ).alias("after"),
    )
    config = spark.createDataFrame(
        [
            ("orders", "insert", "kafka", "fact_orders", "id,total", None, None),
            ("orders", "update", "hbase", "dim_orders", "id,status", None, None),
        ],
        TABLE_PROCESS_SCHEMA,
    )
    routed = routing.route_with_config(logsplit.delete_filter(cdc), config)
    return routed.groupBy("sink_type", "sink_table").agg(
        F.count(F.lit(1)).alias("ct"),
        F.min(F.array_join(F.array_sort(F.map_keys("after_pruned")), ",")).alias("pruned_cols"),
    )

SQL_J5 = """
SELECT 'kafka' AS sink_type, 'fact_orders' AS sink_table, count(*)::BIGINT AS ct,
       'id,total' AS pruned_cols
FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT 'hbase', 'dim_orders', count(*)::BIGINT, 'id,status'
FROM orders WHERE o_orderstatus = 'F'
"""

# A1 visitor tumble (10-minute windows keyed by event_type)
def q_a1(spark: SparkSession, sf: str) -> DataFrame:
    return aggs.visitor_stats_tumble(load_table(spark, sf, "events"), "10 minutes")

SQL_A1 = f"""
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{DUCK_FMT}') AS stt,
       strftime(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes', '{DUCK_FMT}') AS edt,
       event_type, count(*)::BIGINT AS pv_ct, round(sum(value), 2) AS value_sum,
       count(DISTINCT user_id)::BIGINT AS uv_ct
FROM events GROUP BY 1, 2, 3
"""

# A2 product tumble with exact distinct (hourly by item)
def q_a2(spark: SparkSession, sf: str) -> DataFrame:
    return aggs.product_stats_tumble(load_table(spark, sf, "events"), "1 hour")

SQL_A2 = f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{DUCK_FMT}') AS stt,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '{DUCK_FMT}') AS edt,
       CAST(json_extract(props, '$.k') AS INT) AS item_id,
       count(*)::BIGINT AS click_ct, round(sum(value), 2) AS amount,
       count(DISTINCT user_id)::BIGINT AS order_ct
FROM events GROUP BY 1, 2, 3
"""

# A3 province stats (monthly tumble, nation = province)
def q_a3(spark: SparkSession, sf: str) -> DataFrame:
    return aggs.province_stats(
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "nation"),
    )

SQL_A3 = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, n_name AS province_name,
       count(DISTINCT o_orderkey)::BIGINT AS order_count,
       round(sum(o_totalprice), 2) AS order_amount
FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2
"""

# A4+F1+W3 keyword stats (tokenize -> hourly tumble; synthetic doc ts)
def q_a4(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    )
    tokens = explode_tokens(docs.select("doc_id", "ts", "text"), "text")
    return aggs.keyword_stats(tokens, "ts", "1 hour")

SQL_A4 = f"""
WITH d AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts, text
  FROM documents
), t AS (
  SELECT ts, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                s -> length(s) > 0)) AS word
  FROM d
)
SELECT word AS keyword, count(*)::BIGINT AS ct, 'search' AS source,
       strftime(time_bucket(INTERVAL '1 hour', ts), '{DUCK_FMT}') AS stt,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '{DUCK_FMT}') AS edt,
       epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS ts
FROM t GROUP BY word, time_bucket(INTERVAL '1 hour', ts)
"""

# W3/F1 as PURE SQL — the reference's third entry point (SURVEY §3.3):
# DDL'd source -> LATERAL TABLE(split_words(...)) -> TUMBLE window -> append
# (rt/app/dws/KeywordStatsApp.java:43-98). Spark form: temp view + one
# spark.sql text with LATERAL VIEW explode + a SQL lambda tokenizer (stays
# in codegen; the reference needs a registered UDTF because Flink SQL has
# no array higher-order functions) + GROUP BY window(). Same oracle as a4.
def q_w3_sql(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    ).createOrReplaceTempView("kw_docs")
    return spark.sql("""
        SELECT word AS keyword, count(*) AS ct, 'search' AS source,
               date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
               unix_timestamp(window.start) AS ts
        FROM kw_docs
        LATERAL VIEW explode(
            filter(split(lower(text), '[^a-z0-9]+'), x -> length(x) >= 1)
        ) tok AS word
        GROUP BY window(ts, '1 hour'), word
    """)


# A6 is_new correction (signup rows play is_new='1')
def q_a6(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").withColumn(
        "is_new", F.when(F.col("event_type") == "signup", "1").otherwise("0")
    )
    corr = logsplit.correct_is_new(ev, "user_id", "ts", "is_new", tiebreak="event_id")
    return corr.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt")).agg(
        F.sum(F.when(F.col("is_new_corrected") == "1", 1).otherwise(0)).cast("long").alias("new_ct"),
        F.count(F.lit(1)).alias("ct"),
    )

SQL_A6 = """
WITH s AS (
  SELECT *, CASE WHEN event_type = 'signup' THEN '1' ELSE '0' END AS is_new FROM events
), c AS (
  SELECT ts,
         CASE WHEN is_new <> '1' THEN is_new
              WHEN row_number() OVER (PARTITION BY user_id, is_new ORDER BY ts, event_id) = 1 THEN '1'
              ELSE '0' END AS isc
  FROM s
)
SELECT strftime(ts, '%Y-%m-%d') AS dt,
       sum(CASE WHEN isc = '1' THEN 1 ELSE 0 END)::BIGINT AS new_ct,
       count(*)::BIGINT AS ct
FROM c GROUP BY 1
"""

# A7+O1 top-N by brand (group/having/order/limit)
def q_a7(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    enr = joins.dim_enrich(
        li, [(part, li["l_partkey"] == part["p_partkey"], ["p_partkey", "p_brand"])]
    )
    return ads.topn_sum(enr, "p_brand", "l_extendedprice", 10)

SQL_A7 = """
SELECT p_brand, round(sum(l_extendedprice), 2) AS order_amount
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY 1 HAVING round(sum(l_extendedprice), 2) > 0
ORDER BY order_amount DESC, p_brand LIMIT 10
"""

# A8+O2 hourly conditional agg over a visitor-stats rollup
def q_a8(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").withColumn(
        "is_new", F.when(F.col("event_type") == "signup", "1").otherwise("0")
    )
    vs = (
        ev.groupBy(F.window("ts", "1 hour"), "is_new")
        .agg(F.countDistinct("user_id").alias("uv_ct"), F.count(F.lit(1)).alias("pv_ct"))
        .select(F.col("window.start").alias("stt"), "is_new", "uv_ct", "pv_ct")
    )
    out = ads.hourly_conditional(vs, "stt", "is_new", "uv_ct", "pv_ct")
    return out.withColumn("hr", F.col("hr").cast("long"))

SQL_A8 = """
WITH vs AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS stt,
         CASE WHEN event_type = 'signup' THEN '1' ELSE '0' END AS is_new,
         count(DISTINCT user_id) AS uv_ct, count(*) AS pv_ct
  FROM events GROUP BY 1, 2
)
SELECT hour(stt)::BIGINT AS hr,
       sum(CASE WHEN is_new = '1' THEN uv_ct ELSE 0 END)::BIGINT AS new_uv,
       sum(uv_ct)::BIGINT AS uv_ct, sum(pv_ct)::BIGINT AS pv_ct
FROM vs GROUP BY 1
"""

# A8r (beyond ref): rolling trend metrics over the daily GMV series —
# 7-day moving average (RANGE frame over epoch-day) + running cumulative.
def q_a8r(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("dt")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("amount")
    )
    out = ads.rolling_metrics(daily, "dt", "amount", 7)
    return out.select(
        F.date_format("dt", "yyyy-MM-dd").alias("k"),
        F.col("amount").alias("v1"), F.col("ma7").alias("v2"), F.col("cume").alias("v3"),
    )

SQL_A8R = """
WITH d AS (
  SELECT o_orderdate::DATE AS dt, round(sum(o_totalprice), 2) AS amount
  FROM orders GROUP BY 1
)
SELECT strftime(dt, '%Y-%m-%d') AS k, amount AS v1,
       round(avg(amount) OVER (ORDER BY dt RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                               AND CURRENT ROW), 2) AS v2,
       round(sum(amount) OVER (ORDER BY dt ROWS UNBOUNDED PRECEDING), 2) AS v3
FROM d
"""

# A8p (beyond ref): pivoted hour x event-type serving matrix — the wide
# dashboard grid, computed as one conditional hash agg (explicit value
# list => stable schema, no distinct-discovery pass).
_PIVOT_TYPES = ["click", "view", "purchase"]

def q_a8p(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").withColumn("hr", F.hour("ts"))
    wide = ads.pivot_matrix(ev, "hr", "event_type", _PIVOT_TYPES)
    return wide.select(
        F.col("hr").cast("string").alias("k"),
        *[F.coalesce(F.col(t), F.lit(0)).cast("double").alias(f"v{i+1}")
          for i, t in enumerate(_PIVOT_TYPES)],
    )

SQL_A8P = """
SELECT hour(ts)::VARCHAR AS k,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS v1,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::DOUBLE AS v2,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS v3
FROM events GROUP BY 1
"""

# A8g (beyond ref): calendar gap-filling — the daily GMV series with
# every 5th day-of-month punched out, re-densified with forward fill.
def q_a8g(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("dt"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("amount"))
        .filter(F.dayofmonth("dt") % 5 != 0)  # planted gaps
    )
    out = ads.fill_gaps(daily, "dt", "amount")
    return out.select(
        F.date_format("dt", "yyyy-MM-dd").alias("k"),
        F.col("amount").alias("v1"),
        F.col("is_filled").cast("double").alias("v2"),
        F.lit(0.0).alias("v3"),
    )

SQL_A8G = """
WITH d AS (
  SELECT o_orderdate::DATE AS dt, round(sum(o_totalprice), 2) AS amount
  FROM orders GROUP BY 1
), g AS (
  SELECT * FROM d WHERE day(dt) % 5 <> 0
), cal AS (
  SELECT unnest(generate_series((SELECT min(dt) FROM g), (SELECT max(dt) FROM g),
                INTERVAL 1 DAY))::DATE AS dt
)
SELECT strftime(cal.dt, '%Y-%m-%d') AS k,
       last_value(g.amount IGNORE NULLS)
         OVER (ORDER BY cal.dt ROWS UNBOUNDED PRECEDING) AS v1,
       (CASE WHEN g.amount IS NULL THEN 1 ELSE 0 END)::DOUBLE AS v2,
       0.0 AS v3
FROM cal LEFT JOIN g ON cal.dt = g.dt
"""

# A8 combined gate (tagged): the mapper's hour series + the three serving
# shapes the reference lacks (rolling frames, pivot matrix, gap filling).
# A8f/A8t (beyond ref): ordered funnel + cohort retention over events
_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_a8f(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return behavior.funnel_counts(ev, "user_id", "ts", "event_type", _FUNNEL_STEPS, "30 minutes")


SQL_A8F = """
WITH a AS (
  SELECT user_id AS u, min(ts) AS t1, min(ts) + INTERVAL 30 MINUTE AS dl
  FROM events WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT a.u, a.dl, min(e.ts) AS t2
  FROM events e JOIN a ON e.user_id = a.u
  WHERE e.event_type = 'click' AND e.ts >= a.t1 AND e.ts <= a.dl
  GROUP BY 1, 2
),
s3 AS (
  SELECT s2.u, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.u
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 AND e.ts <= s2.dl
  GROUP BY 1
)
SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM a)::BIGINT AS user_ct
UNION ALL
SELECT 2, 'click', (SELECT count(*) FROM s2)::BIGINT
UNION ALL
SELECT 3, 'purchase', (SELECT count(*) FROM s3)::BIGINT
"""


def q_a8t(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return behavior.retention_cohorts(ev, "user_id", "ts", horizons=(1, 7))


def q_a8fs(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of q_a8f: funnel_stream's per-user depths replayed
    over the staged events stream must aggregate to the SAME per-step
    counts as the batch greedy chain (one oracle, two engines' worth of
    proof). The source keeps only step types OR the sentinel so the
    pushable filter cannot prune the watermark-advancing file."""
    # lazy import: streamq imports this module at load time
    from flinkrealtimedatawarehouse_spark.benchqueries import streamq
    from flinkrealtimedatawarehouse_spark.streaming import runner, state

    sdf = streamq._staged_events_stream(spark, sf, "a8fs", "35 minutes")
    sdf = sdf.filter(F.col("event_type").isin(*_FUNNEL_STEPS, "__wm__"))
    depths = runner.run_to_memory(
        state.funnel_stream(sdf, _FUNNEL_STEPS, window_s=1800, delay="30 seconds"),
        "a8fs",
    ).filter(F.col("user_id") >= 0)
    out = None
    for j, name in enumerate(_FUNNEL_STEPS, start=1):
        row = depths.agg(
            F.sum(F.when(F.col("depth") >= j, 1).otherwise(0)).cast("long").alias("user_ct")
        ).select(F.lit(j).alias("step"), F.lit(name).alias("step_name"), "user_ct")
        out = row if out is None else out.unionByName(row)
    return out


SQL_A8T = """
WITH days AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events),
f AS (SELECT u, min(d) AS cohort FROM days GROUP BY 1),
j AS (
  SELECT f.u, f.cohort, days.d, date_diff('day', f.cohort, days.d) AS k
  FROM f JOIN days USING (u)
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
       count(DISTINCT u)::BIGINT AS cohort_size,
       count(DISTINCT CASE WHEN k = 1 THEN u END)::BIGINT AS ret_1,
       count(DISTINCT CASE WHEN k = 7 THEN u END)::BIGINT AS ret_7
FROM j GROUP BY 1
"""


def q_a8c(spark: SparkSession, sf: str) -> DataFrame:
    hourly = q_a8(spark, sf).select(
        F.lit("hourly").alias("branch"), F.col("hr").cast("string").alias("k"),
        F.col("new_uv").cast("double").alias("v1"),
        F.col("uv_ct").cast("double").alias("v2"),
        F.col("pv_ct").cast("double").alias("v3"),
    )
    rolling = q_a8r(spark, sf).select(F.lit("rolling").alias("branch"), "k", "v1", "v2", "v3")
    pivot = q_a8p(spark, sf).select(F.lit("pivot").alias("branch"), "k", "v1", "v2", "v3")
    gaps = q_a8g(spark, sf).select(F.lit("gapfill").alias("branch"), "k", "v1", "v2", "v3")
    funnel = q_a8f(spark, sf).select(
        F.lit("funnel").alias("branch"),
        F.concat_ws("|", F.col("step").cast("string"), "step_name").alias("k"),
        F.col("user_ct").cast("double").alias("v1"),
        F.col("step").cast("double").alias("v2"),
        F.lit(0.0).alias("v3"),
    )
    retention = q_a8t(spark, sf).select(
        F.lit("retention").alias("branch"),
        F.col("cohort_date").alias("k"),
        F.col("cohort_size").cast("double").alias("v1"),
        F.col("ret_1").cast("double").alias("v2"),
        F.col("ret_7").cast("double").alias("v3"),
    )
    funnel_s = q_a8fs(spark, sf).select(
        F.lit("funnel_stream").alias("branch"),
        F.concat_ws("|", F.col("step").cast("string"), "step_name").alias("k"),
        F.col("user_ct").cast("double").alias("v1"),
        F.col("step").cast("double").alias("v2"),
        F.lit(0.0).alias("v3"),
    )
    return (
        hourly.unionByName(rolling).unionByName(pivot).unionByName(gaps)
        .unionByName(funnel).unionByName(retention).unionByName(funnel_s)
    )

SQL_A8C = f"""
SELECT 'hourly' AS branch, hr::VARCHAR AS k, new_uv::DOUBLE AS v1,
       uv_ct::DOUBLE AS v2, pv_ct::DOUBLE AS v3 FROM ({SQL_A8})
UNION ALL
SELECT 'rolling', k, v1, v2, v3 FROM ({SQL_A8R})
UNION ALL
SELECT 'pivot', k, v1, v2, v3 FROM ({SQL_A8P})
UNION ALL
SELECT 'gapfill', k, v1, v2, v3 FROM ({SQL_A8G})
UNION ALL
SELECT 'funnel', step::VARCHAR || '|' || step_name, user_ct::DOUBLE,
       step::DOUBLE, 0.0 FROM ({SQL_A8F})
UNION ALL
SELECT 'retention', cohort_date, cohort_size::DOUBLE, ret_1::DOUBLE,
       ret_7::DOUBLE FROM ({SQL_A8T})
UNION ALL
SELECT 'funnel_stream', step::VARCHAR || '|' || step_name, user_ct::DOUBLE,
       step::DOUBLE, 0.0 FROM ({SQL_A8F})
"""

# A9 weighted keyword scoring (multiIf) over documents sources
def q_a9(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = explode_tokens(docs.select("source", "text"), "text")
    ks = toks.groupBy("word", "source").agg(F.count(F.lit(1)).alias("ct"))
    return ads.keyword_score(
        ks, "word", "ct", "source", {"src0": 10, "src1": 3, "src2": 2, "src3": 1}, 20
    )

SQL_A9 = """
WITH t AS (
  SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    s -> length(s) > 0)) AS word
  FROM documents
), k AS (
  SELECT word, source, count(*) AS ct FROM t GROUP BY 1, 2
)
SELECT word AS keyword,
       sum(ct * CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 3
                            WHEN 'src2' THEN 2 WHEN 'src3' THEN 1 ELSE 0 END)::BIGINT AS ct
FROM k GROUP BY 1 ORDER BY ct DESC, keyword LIMIT 20
"""

# A10 whole-day GMV
def q_a10(spark: SparkSession, sf: str) -> DataFrame:
    return ads.gmv_day(load_table(spark, sf, "orders"), "o_totalprice", "o_orderdate", "19960917")

SQL_A10 = """
SELECT round(coalesce(sum(o_totalprice), 0), 2) AS gmv
FROM orders WHERE strftime(o_orderdate, '%Y%m%d') = '19960917'
"""

# A7+A10+J6 merged ADS-product gate (tagged): top-N by brand + whole-day
# GMV + the J6 join-avoidance serving path (build the wide gold table once,
# then answer the same mapper queries from it with ZERO joins — serving.py;
# README:404-410). Each branch keeps its own oracle shape; the wide
# branches' DuckDB twins recompute from the NORMALIZED base tables, so a
# hash match proves the wide build+serve round-trip end-to-end against an
# independent engine.
_WIDE_BUILT: dict[str, str] = {}  # sf dir -> built wide-table path (per process)
_WIDE_LIVE_BUILT: dict[str, str] = {}  # sf dir -> streaming-maintained wide sink dir

def q_a7c(spark: SparkSession, sf: str) -> DataFrame:
    from flinkrealtimedatawarehouse_spark import serving
    from flinkrealtimedatawarehouse_spark.streaming.runner import scratch_dir

    topn = q_a7(spark, sf).select(
        F.lit("topn").alias("kind"), F.col("p_brand").alias("dim"),
        F.col("order_amount").alias("amount"),
    )
    gmv = q_a10(spark, sf).select(
        F.lit("gmv").alias("kind"), F.lit("ALL").alias("dim"), F.col("gmv").alias("amount")
    )
    # J6's whole point is paying the star join ONCE: memoize the build per
    # (process, sf) so repeated gate/bench invocations serve from the same
    # wide table instead of rebuilding and accumulating scratch copies.
    # Existence-checked: a cleaned scratch dir (or in-process data regen)
    # invalidates the memo instead of serving views over a missing path.
    wide_path = _WIDE_BUILT.get(sf)
    if wide_path is not None and not os.path.isdir(wide_path):
        wide_path = None
    if wide_path is None:
        wide_path = scratch_dir("wide_product")
        serving.build_wide_product(spark, sf, wide_path)
        _WIDE_BUILT[sf] = wide_path
    serving.register_wide_serving_views(spark, wide_path)
    wide_brand = spark.sql("SELECT * FROM ads_top_brand_wide").select(
        F.lit("wide_brand").alias("kind"), F.col("p_brand").alias("dim"),
        F.col("order_amount").alias("amount"),
    )
    wide_gmv = spark.sql("SELECT * FROM ads_gmv_day_wide").select(
        F.lit("wide_gmv").alias("kind"), F.col("dt").alias("dim"), F.col("gmv").alias("amount")
    )
    # J6 STREAMING upkeep branches: the same wide gold table maintained
    # incrementally (lineitem stream -> per-batch dim enrich -> K4
    # AdditiveGoldSink fold, serving.stream_wide_product_upkeep). Their
    # DuckDB twins recompute from the normalized base, so a hash match
    # proves stream-maintained == batch-built == independent engine.
    # Memoized like the batch build (the stream replays identically, the
    # sink recovers from its committed marker — re-running it would only
    # re-pay the staging); existence-checked the same way.
    live_dir = _WIDE_LIVE_BUILT.get(sf)
    if live_dir is not None and not os.path.isdir(live_dir):
        live_dir = None
    if live_dir is None:
        live_dir = scratch_dir("wide_product_live")
        serving.stream_wide_product_upkeep(spark, sf, live_dir)
        _WIDE_LIVE_BUILT[sf] = live_dir
    from flinkrealtimedatawarehouse_spark.streaming import sinks as _sinks

    # READ handle (read_only: a reader must not claim the dir and fence
    # the upkeep stream's writer)
    live_sink = _sinks.AdditiveGoldSink(
        live_dir, keys=serving.WIDE_AGG_KEYS,
        measures={"order_amount": ("l_extendedprice", "sum"),
                  "order_ct": ("l_extendedprice", "count")},
        read_only=True,
    )
    serving.register_wide_live_views(spark, live_sink.current(spark))
    live_brand = spark.sql("SELECT * FROM ads_top_brand_wide_live").select(
        F.lit("live_brand").alias("kind"), F.col("p_brand").alias("dim"),
        F.col("order_amount").alias("amount"),
    )
    live_gmv = spark.sql("SELECT * FROM ads_gmv_day_wide_live").select(
        F.lit("live_gmv").alias("kind"), F.col("dt").alias("dim"), F.col("gmv").alias("amount")
    )
    return (
        topn.unionByName(gmv).unionByName(wide_brand).unionByName(wide_gmv)
        .unionByName(live_brand).unionByName(live_gmv)
    )

# The wide twins re-derive from base tables with the wide build's INNER
# joins (WIDE_PRODUCT_SQL), not SQL_A7's LEFT join — exact formulation.
SQL_A7C = f"""
SELECT 'topn' AS kind, p_brand AS dim, order_amount AS amount FROM ({SQL_A7})
UNION ALL
SELECT 'gmv', 'ALL', gmv FROM ({SQL_A10})
UNION ALL
SELECT 'wide_brand', p_brand, amount FROM (
  SELECT p_brand, round(sum(l_extendedprice), 2) AS amount
  FROM lineitem JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1 HAVING round(sum(l_extendedprice), 2) > 0
  ORDER BY amount DESC, p_brand LIMIT 10
)
UNION ALL
SELECT 'wide_gmv', dt, gmv FROM (
  SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
         round(sum(l_extendedprice), 2) AS gmv
  FROM lineitem JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
UNION ALL
SELECT 'live_brand', p_brand, amount FROM (
  SELECT p_brand, round(sum(l_extendedprice), 2) AS amount
  FROM lineitem JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1 HAVING round(sum(l_extendedprice), 2) > 0
  ORDER BY amount DESC, p_brand LIMIT 10
)
UNION ALL
SELECT 'live_gmv', dt, gmv FROM (
  SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
         round(sum(l_extendedprice), 2) AS gmv
  FROM lineitem JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
"""

# A4+W3+F1 merged keyword gate (tagged): the DataFrame pipeline and the
# pure-SQL entry point (SURVEY §3.3) must produce identical rows — one
# entry proves both surfaces against the same oracle.
def q_a4c(spark: SparkSession, sf: str) -> DataFrame:
    df_path = q_a4(spark, sf).withColumn("kind", F.lit("df"))
    sql_path = q_w3_sql(spark, sf).withColumn("kind", F.lit("sql"))
    return df_path.unionByName(sql_path)

SQL_A4C = f"""
SELECT *, 'df' AS kind FROM ({SQL_A4})
UNION ALL
SELECT *, 'sql' AS kind FROM ({SQL_A4})
"""

# W4 (beyond ref): gap sessionization — 30-min inactivity gap over events,
# one row per (user, session) with bounds/duration. See operators/sessions.
_SESS_GAP = 1800

def q_w4(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    s = sessions.session_stats(ev, "user_id", "ts", _SESS_GAP, tiebreak="event_id")
    return s.select(
        "user_id", "session_idx", "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "dur_sec",
    )

SQL_W4 = f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events
), f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) > {_SESS_GAP} THEN 1 ELSE 0 END AS st
  FROM o
), s AS (
  SELECT user_id, ts,
         sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM f
)
SELECT user_id, session_idx::BIGINT AS session_idx, count(*)::BIGINT AS n_events,
       strftime(min(ts), '{DUCK_FMT}') AS session_start,
       strftime(max(ts), '{DUCK_FMT}') AS session_end,
       round(epoch(max(ts)) - epoch(min(ts)), 6) AS dur_sec
FROM s GROUP BY 1, 2
"""

# A12 (beyond ref): multi-grain GROUPING SETS rollup — every serving grain
# of the ADS product queries in ONE aggregate pass (see ads.grain_rollup).
def q_a12(spark: SparkSession, sf: str) -> DataFrame:
    return ads.grain_rollup(
        load_table(spark, sf, "orders"), ["o_orderpriority", "o_orderstatus"], "o_totalprice"
    )

SQL_A12 = """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       round(sum(o_totalprice), 2) AS amount, count(*)::BIGINT AS row_ct
FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""

# W1+U3 bounce detection (entry analog: event_type='view'; gap 300 s)
def q_w1(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    marked = bounce.mark_bounces(
        ev, "user_id", "ts", F.col("event_type") == "view", 300, tiebreak="event_id"
    )
    return marked.select("user_id", "event_id", "is_bounce")

SQL_W1 = """
WITH e AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ie
  FROM events
), l AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts,
            lead(ie) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nie
  FROM e
)
SELECT user_id, event_id,
       CASE WHEN nts IS NOT NULL AND epoch(nts) - epoch(ts) < 300 AND nie = 0
            THEN 0 ELSE 1 END AS is_bounce
FROM l WHERE ie = 1
"""

# J1 boundary corpus: PLANTED rows pinning the interval-join bounds as
# INCLUSIVE on both ends (Flink intervalJoin default — OrderWideApp.java:82;
# exclusivity knobs exist but the apps never use them). ±5 s window:
# details at exactly -5 s and +5 s join; ±5.001 s do not.
_J1B_L = [(1, "2024-01-01 00:01:00")]
_J1B_R = [
    (1, 101, "2024-01-01 00:00:55"),      # exactly -5s -> in
    (1, 102, "2024-01-01 00:01:05"),      # exactly +5s -> in
    (1, 103, "2024-01-01 00:00:54.999"),  # just outside -> out
    (1, 104, "2024-01-01 00:01:05.001"),  # just outside -> out
    (2, 105, "2024-01-01 00:01:00"),      # other key -> out
]

def q_j1b(spark: SparkSession, sf: str) -> DataFrame:
    left = spark.createDataFrame(_J1B_L, "l_user long, l_s string").select(
        "l_user", F.to_timestamp("l_s").alias("l_ts")
    )
    right = spark.createDataFrame(_J1B_R, "r_user long, r_id long, r_s string").select(
        "r_user", "r_id", F.to_timestamp("r_s").alias("r_ts")
    )
    j = joins.interval_join(
        left, right, ("l_user", "r_user"), ("l_ts", "r_ts"), "'-5' SECOND", "'5' SECOND"
    )
    return j.select("l_user", "r_id")

SQL_J1B = f"""
WITH l(l_user, l_ts) AS (VALUES {", ".join(f"({u}, TIMESTAMP '{t}')" for u, t in _J1B_L)}),
r(r_user, r_id, r_ts) AS (VALUES {", ".join(f"({u}, {i}, TIMESTAMP '{t}')" for u, i, t in _J1B_R)})
SELECT l_user, r_id FROM l JOIN r
  ON l_user = r_user
 AND r_ts >= l_ts - INTERVAL '5' SECOND
 AND r_ts <= l_ts + INTERVAL '5' SECOND
"""

# J2 boundary corpus: the asymmetric [-15 min, 0] payment⋈order_wide
# window (PaymentWideApp.java:99) — payment at exactly order-15min and at
# exactly order+0 join; 1 ms outside either end does not.
_J2B_L = [(1, "2024-01-01 01:00:00")]          # payment (left) ts
_J2B_R = [
    (1, 201, "2024-01-01 00:45:00"),           # exactly -15min -> in
    (1, 202, "2024-01-01 01:00:00"),           # exactly 0 -> in
    (1, 203, "2024-01-01 00:44:59.999"),       # just before -> out
    (1, 204, "2024-01-01 01:00:00.001"),       # just after -> out
]

def q_j2b(spark: SparkSession, sf: str) -> DataFrame:
    left = spark.createDataFrame(_J2B_L, "l_user long, l_s string").select(
        "l_user", F.to_timestamp("l_s").alias("l_ts")
    )
    right = spark.createDataFrame(_J2B_R, "r_user long, r_id long, r_s string").select(
        "r_user", "r_id", F.to_timestamp("r_s").alias("r_ts")
    )
    j = joins.interval_join(
        left, right, ("l_user", "r_user"), ("l_ts", "r_ts"), "'-15' MINUTE", "'0' SECOND"
    )
    return j.select("l_user", "r_id")

SQL_J2B = f"""
WITH l(l_user, l_ts) AS (VALUES {", ".join(f"({u}, TIMESTAMP '{t}')" for u, t in _J2B_L)}),
r(r_user, r_id, r_ts) AS (VALUES {", ".join(f"({u}, {i}, TIMESTAMP '{t}')" for u, i, t in _J2B_R)})
SELECT l_user, r_id FROM l JOIN r
  ON l_user = r_user
 AND r_ts >= l_ts - INTERVAL '15' MINUTE
 AND r_ts <= l_ts
"""

# J8 range (band) join — planted boundary corpus through the CHUNKED
# scale path (chunk=4: band 1 spans 3 cells, band 3 is sub-chunk, bands 1/2
# share a cell edge). Pins half-open [lo, hi) semantics exactly at the
# edges and left-join survival of out-of-band facts.
_RNGB_BANDS = [(1, 0.0, 10.0), (2, 10.0, 25.0), (3, 25.0, 25.5)]
_RNGB_FACTS = [
    (1, 0.0),    # == lo of band 1 -> in
    (2, 10.0),   # band 1's hi == band 2's lo -> band 2 only
    (3, 9.999),  # just under the edge -> band 1
    (4, 25.0),   # narrow band 3
    (5, 25.5),   # == hi of band 3 (exclusive) -> null
    (6, -0.5),   # below every band -> null
]

def q_rngb(spark: SparkSession, sf: str) -> DataFrame:
    facts = spark.createDataFrame(_RNGB_FACTS, "fact_id long, v double")
    bands = spark.createDataFrame(_RNGB_BANDS, "band_id long, lo double, hi double")
    j = joins.range_join(facts, bands, "v", "lo", "hi", chunk=4.0, how="left")
    return j.select("fact_id", F.col("band_id").cast("long").alias("band_id"))

SQL_RNGB = f"""
WITH f(fact_id, v) AS (VALUES {", ".join(f"({i}, {v})" for i, v in _RNGB_FACTS)}),
b(band_id, lo, hi) AS (VALUES {", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _RNGB_BANDS)})
SELECT fact_id, band_id FROM f LEFT JOIN b ON f.v >= b.lo AND f.v < b.hi
"""

# J8 at sf scale: events.value -> planted value tiers (8 bands of width
# 64), chunked equi-join, rollup per tier.
_RNG_TIERS = [(i, i * 64.0, (i + 1) * 64.0) for i in range(8)]

def q_rng_sf(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select("event_id", "value")
    tiers = spark.createDataFrame(_RNG_TIERS, "tier_id long, lo double, hi double")
    j = joins.range_join(ev, tiers, "value", "lo", "hi", chunk=16.0)
    return j.groupBy("tier_id").agg(F.count(F.lit(1)).alias("ct"))

SQL_RNG_SF = f"""
WITH t(tier_id, lo, hi) AS (VALUES {", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _RNG_TIERS)})
SELECT tier_id, count(*)::BIGINT AS ct
FROM events e JOIN t ON e.value >= t.lo AND e.value < t.hi
GROUP BY tier_id
"""

# J1+J2+J8 boundary gate: the planted interval-join corpora plus both
# range-join branches in one tagged entry, pinning inclusive interval
# bounds, half-open band edges, and the chunked path's sf-scale rollup.
def q_jb(spark: SparkSession, sf: str) -> DataFrame:
    pm5 = q_j1b(spark, sf).select(F.lit("pm5").alias("kind"), "l_user", "r_id")
    asym = q_j2b(spark, sf).select(F.lit("asym").alias("kind"), "l_user", "r_id")
    rng = q_rngb(spark, sf).select(
        F.lit("rng").alias("kind"),
        F.col("fact_id").alias("l_user"),
        F.col("band_id").alias("r_id"),
    )
    rngsf = q_rng_sf(spark, sf).select(
        F.lit("rngsf").alias("kind"),
        F.col("tier_id").alias("l_user"),
        F.col("ct").alias("r_id"),
    )
    return pm5.unionByName(asym).unionByName(rng).unionByName(rngsf)

SQL_JB = f"""
SELECT 'pm5' AS kind, l_user, r_id FROM ({SQL_J1B})
UNION ALL
SELECT 'asym', l_user, r_id FROM ({SQL_J2B})
UNION ALL
SELECT 'rng', fact_id, band_id FROM ({SQL_RNGB})
UNION ALL
SELECT 'rngsf', tier_id, ct FROM ({SQL_RNG_SF})
"""

# J7 as-of join (beyond the reference — the time-series join a training
# pipeline uses to stamp each fact with the latest dim/state version):
# each purchase takes the most recent click at-or-before it per user,
# within a 30-minute tolerance. Right side is pre-aggregated to unique
# (user, ts) so the match is deterministic.
def q_j7(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_val"))
    )
    j = joins.asof_join(
        left, right, ("user_id", "user_id"), ("ts", "ts"), ["click_val"],
        tolerance="'30' MINUTE",
    )
    return j.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt")).agg(
        F.count(F.lit(1)).alias("purchase_ct"),
        F.count("click_val").alias("matched_ct"),
        F.round(F.coalesce(F.sum("click_val"), F.lit(0.0)), 2).alias("val_sum"),
    )

SQL_J7 = """
WITH l AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT user_id, ts, max(value) AS click_val FROM events
  WHERE event_type = 'click' GROUP BY 1, 2
),
j AS (
  SELECT l.user_id, l.ts, r.ts AS r_ts, r.click_val
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT strftime(ts, '%Y-%m-%d') AS dt,
       count(*)::BIGINT AS purchase_ct,
       count(CASE WHEN r_ts >= ts - INTERVAL 30 MINUTE THEN 1 END)::BIGINT AS matched_ct,
       round(coalesce(sum(CASE WHEN r_ts >= ts - INTERVAL 30 MINUTE THEN click_val END), 0), 2) AS val_sum
FROM j GROUP BY 1
"""

# W1 boundary corpus: PLANTED events pinning the CEP edge semantics at
# exactly the gap (UserJumpDetailApp.java:72 within(10s) — a successor at
# exactly +gap is OUTSIDE the match window, the timeout fires first).
# u1: entry, entry at +9s        -> both bounce (match + tail timeout)
# u2: entry, click at +10s       -> bounce (strict-next window expired)
# u3: entry, click at +9.999s    -> NOT a bounce (inside, continuation)
# u4: entry, entry at +10s       -> bounce + bounce (timeout, then tail)
# u5: entry, click +2s, entry +9s-> not-bounce, then tail entry bounce
_W1B_ROWS = [
    (1, 1, "2024-01-01 00:00:00", "view"), (1, 2, "2024-01-01 00:00:09", "view"),
    (2, 3, "2024-01-01 00:00:00", "view"), (2, 4, "2024-01-01 00:00:10", "click"),
    (3, 5, "2024-01-01 00:00:00", "view"), (3, 6, "2024-01-01 00:00:09.999", "click"),
    (4, 7, "2024-01-01 00:00:00", "view"), (4, 8, "2024-01-01 00:00:10", "view"),
    (5, 9, "2024-01-01 00:00:00", "view"), (5, 10, "2024-01-01 00:00:02", "click"),
    (5, 11, "2024-01-01 00:00:09", "view"),
]

def q_w1b(spark: SparkSession, sf: str) -> DataFrame:
    ev = spark.createDataFrame(
        [(u, e, ts, et) for u, e, ts, et in _W1B_ROWS],
        "user_id long, event_id long, ts_s string, event_type string",
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"), "event_type")
    marked = bounce.mark_bounces(
        ev, "user_id", "ts", F.col("event_type") == "view", 10, tiebreak="event_id"
    )
    return marked.select("user_id", "event_id", "is_bounce")

_W1B_VALUES = ", ".join(
    f"({u}, {e}, TIMESTAMP '{ts}', '{et}')" for u, e, ts, et in _W1B_ROWS
)

SQL_W1B = f"""
WITH ev(user_id, event_id, ts, event_type) AS (VALUES {_W1B_VALUES}),
e AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ie
  FROM ev
), l AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts,
            lead(ie) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nie
  FROM e
)
SELECT user_id, event_id,
       CASE WHEN nts IS NOT NULL AND epoch(nts) - epoch(ts) < 10 AND nie = 0
            THEN 0 ELSE 1 END AS is_bounce
FROM l WHERE ie = 1
"""

# U1 3-stream visitor union (pv/uv/uj) -> daily stats
def _u1_base(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    pv = ev.filter(F.col("event_type") == "view")
    uv = dedup.daily_unique(ev, "user_id", "ts", tiebreak="event_id")
    uj = bounce.mark_bounces(
        ev, "user_id", "ts", F.col("event_type") == "view", 300, tiebreak="event_id"
    )
    measures = ["pv_ct", "uv_ct", "sv_ct", "uj_ct", "dur_sum"]
    u = unions.align_union(
        [
            (pv, {"pv_ct": F.lit(1), "dur_sum": F.col("value")}),
            (uv, {"uv_ct": F.lit(1)}),
            (uj, {"sv_ct": F.lit(1), "uj_ct": F.col("is_bounce")}),
        ],
        keys=[],
        ts_col="ts",
        measures=measures,
    )
    return unions.tumble_sum(u, [], "ts", measures, "1 day")

_SQL_U1_BASE = f"""
WITH e AS (
  SELECT *, CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ie FROM events
), l AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts,
            lead(ie) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nie
  FROM e
), uj AS (
  SELECT ts, CASE WHEN nts IS NOT NULL AND epoch(nts) - epoch(ts) < 300 AND nie = 0
                  THEN 0 ELSE 1 END AS ib
  FROM l WHERE ie = 1
), uv AS (
  SELECT ts FROM (
    SELECT ts, row_number() OVER (PARTITION BY user_id, ts::DATE ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
), s AS (
  SELECT ts, 1.0::DOUBLE AS pv_ct, 0.0::DOUBLE AS uv_ct, 0.0::DOUBLE AS sv_ct,
         0.0::DOUBLE AS uj_ct, value AS dur_sum
  FROM events WHERE event_type = 'view'
  UNION ALL SELECT ts, 0.0::DOUBLE, 1.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE FROM uv
  UNION ALL SELECT ts, 0.0::DOUBLE, 0.0::DOUBLE, 1.0::DOUBLE, ib::DOUBLE, 0.0::DOUBLE FROM uj
)
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '{DUCK_FMT}') AS stt,
       strftime(time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day', '{DUCK_FMT}') AS edt,
       round(sum(pv_ct), 2)::DOUBLE AS pv_ct, round(sum(uv_ct), 2)::DOUBLE AS uv_ct,
       round(sum(sv_ct), 2)::DOUBLE AS sv_ct, round(sum(uj_ct), 2)::DOUBLE AS uj_ct,
       round(sum(dur_sum), 2)::DOUBLE AS dur_sum
FROM s GROUP BY 1, 2
"""

# A11 derived ratio metrics over the U1 daily stats
def q_a11(spark: SparkSession, sf: str) -> DataFrame:
    base = _u1_base(spark, sf)
    return ads.visitor_ratios(base, "uj_ct", "sv_ct", "dur_sum", "pv_ct")

SQL_A11 = f"""
WITH base AS ({_SQL_U1_BASE})
SELECT *,
       (CASE WHEN sv_ct <> 0 THEN round(uj_ct * 100.0 / sv_ct, 2) ELSE 0.0 END)::DOUBLE AS bounce_rate,
       (CASE WHEN sv_ct <> 0 THEN round(dur_sum / sv_ct / 1000.0, 2) ELSE 0.0 END)::DOUBLE AS avg_dur_sec,
       (CASE WHEN sv_ct <> 0 THEN round(pv_ct / sv_ct, 2) ELSE 0.0 END)::DOUBLE AS pv_per_visit
FROM base
"""

# U2 7-stream product union -> daily per-item stats
# The 7-stream branch spec, defined ONCE: the union form derives its
# streams from it and the fused form consumes it directly, so the two
# paths cannot drift predicate-by-predicate (the u2 gate hashes both).
def _u2_events(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "events")
        .withColumn("item_id", F.get_json_object("props", "$.k").cast("int"))
        .filter(F.col("item_id").isNotNull())
        .select("item_id", "ts", "event_type", "value")
    )


def _u2_branches() -> list:
    t = F.col("event_type")
    v = F.col("value")
    return [
        (t == "click", {"click_ct": F.lit(1)}),
        (t == "view", {"display_ct": F.lit(1)}),
        ((t == "click") & (v > 15), {"favor_ct": F.lit(1)}),
        ((t == "click") & (v > 5) & (v <= 15), {"cart_ct": F.lit(1)}),
        (t == "purchase", {"order_ct": F.lit(1), "order_amount": v}),
        ((t == "purchase") & (v > 10), {"payment_ct": F.lit(1)}),
        (t == "error", {"refund_ct": F.lit(1)}),
    ]


_U2_MEASURES = ["click_ct", "display_ct", "favor_ct", "cart_ct", "order_ct",
                "order_amount", "payment_ct", "refund_ct"]


def q_u2(spark: SparkSession, sf: str) -> DataFrame:
    # Each of the 7 branches re-plans this scan independently — deliberately
    # NOT persisted. In the reference the 7 streams are 7 distinct Kafka
    # topics (ProductStatsApp.java:83-110), so there is no shared scan to
    # cache; here each branch is a column-pruned parquet scan with its
    # event_type predicate pushed to the reader. A cache of the fact table
    # cannot fit memory at 100 TB; for the one-table case the fused form
    # below beats both. Measured at sf0.1 the no-cache form is also ~2x
    # faster cold than the round-2 cached form.
    ev = _u2_events(spark, sf)
    streams = [(ev.filter(c), p) for c, p in _u2_branches()]
    u = unions.align_union(streams, keys=["item_id"], ts_col="ts", measures=_U2_MEASURES)
    return unions.tumble_sum(u, ["item_id"], "ts", _U2_MEASURES, "1 day")


def q_u2_fused(spark: SparkSession, sf: str) -> DataFrame:
    """One-scan conditional-agg rewrite of q_u2 (unions.fused_union_agg):
    same rows, ONE events scan instead of 7. The u2 gate hashes both."""
    return unions.fused_union_agg(
        _u2_events(spark, sf), _u2_branches(), ["item_id"], "ts", _U2_MEASURES, "1 day"
    )


def q_u2c(spark: SparkSession, sf: str) -> DataFrame:
    """Tagged union proving the 7-scan union form and the one-scan fused
    form produce identical ProductStats rows against one oracle."""
    return (
        q_u2(spark, sf).withColumn("kind", F.lit("union"))
        .unionByName(q_u2_fused(spark, sf).withColumn("kind", F.lit("fused")))
    )

SQL_U2 = f"""
WITH e AS (
  SELECT *, CAST(json_extract(props, '$.k') AS INT) AS item_id FROM events
  WHERE json_extract(props, '$.k') IS NOT NULL
    -- only rows belonging to at least one of the 7 streams form groups
    AND event_type IN ('click', 'view', 'purchase', 'error')
)
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '{DUCK_FMT}') AS stt,
       strftime(time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day', '{DUCK_FMT}') AS edt,
       item_id,
       round(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE, 2) AS click_ct,
       round(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::DOUBLE, 2) AS display_ct,
       round(sum(CASE WHEN event_type = 'click' AND value > 15 THEN 1 ELSE 0 END)::DOUBLE, 2) AS favor_ct,
       round(sum(CASE WHEN event_type = 'click' AND value > 5 AND value <= 15 THEN 1 ELSE 0 END)::DOUBLE, 2) AS cart_ct,
       round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE, 2) AS order_ct,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS order_amount,
       round(sum(CASE WHEN event_type = 'purchase' AND value > 10 THEN 1 ELSE 0 END)::DOUBLE, 2) AS payment_ct,
       round(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE, 2) AS refund_ct
FROM e GROUP BY 1, 2, 3
"""

SQL_U2C = f"""
SELECT *, 'union' AS kind FROM ({SQL_U2})
UNION ALL
SELECT *, 'fused' AS kind FROM ({SQL_U2})
"""

# K3 MERGE upsert (latest-wins per pk)
def q_k3(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    existing = cust.withColumn("v", F.lit(0))
    updates = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 1000, 2))
        .withColumn("v", F.lit(1))
    )
    merged = merge.upsert_latest(existing, updates, "c_custkey", "v")
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("ct"), F.round(F.sum("c_acctbal"), 2).alias("bal")
    )

SQL_K3 = """
SELECT c_mktsegment, count(*)::BIGINT AS ct,
       round(sum(CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 1000, 2)
                      ELSE c_acctbal END), 2) AS bal
FROM customer GROUP BY 1
"""

# K3b apply a CDC envelope (upserts + deletes) to a dim snapshot
def q_k3b(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    snapshot = cust.withColumn("v", F.lit(0))
    changes = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("type", F.when(F.col("c_custkey") % 20 == 0, "delete").otherwise("update"))
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 20 == 0, F.col("c_acctbal"))
            .otherwise(F.round(F.col("c_acctbal") + 500, 2)),
        )
        .withColumn("v", F.lit(1))
    )
    merged = merge.apply_cdc(snapshot, changes, "c_custkey", "v")
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("ct"), F.round(F.sum("c_acctbal"), 2).alias("bal")
    )

SQL_K3B = """
SELECT c_mktsegment, count(*)::BIGINT AS ct,
       round(sum(CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 500, 2)
                      ELSE c_acctbal END), 2) AS bal
FROM customer WHERE c_custkey % 20 <> 0 GROUP BY 1
"""

# K3s SCD2 dim history: three change waves (insert-all v0, update every
# 10th at v1, delete every 20th at v2) -> versioned history with
# valid_from/valid_to/is_current. m2 pins the interval stamping (a wrong
# valid_to flips the checksum even when counts/balances agree).
def q_k3s(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    ch = (
        cust.withColumn("v", F.lit(0)).withColumn("type", F.lit("insert"))
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 0)
            .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 1000, 2))
            .withColumn("v", F.lit(1)).withColumn("type", F.lit("update"))
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 20 == 0)
            .withColumn("v", F.lit(2)).withColumn("type", F.lit("delete"))
        )
    )
    hist = merge.scd2_history(ch, "c_custkey", "v", type_col="type")
    return hist.groupBy(F.col("c_mktsegment").alias("dim")).agg(
        F.count(F.lit(1)).alias("ct"),
        F.round(F.sum(F.when(F.col("is_current"), F.col("c_acctbal")).otherwise(0)), 2).alias("bal"),
        F.sum(F.coalesce(F.col("valid_to"), F.lit(-1))).cast("long").alias("m2"),
    )

SQL_K3S = """
WITH ch AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, 0 AS v, 'insert' AS type FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment, round(c_acctbal + 1000, 2), 1, 'update'
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_acctbal, 2, 'delete'
  FROM customer WHERE c_custkey % 20 = 0
), h AS (
  SELECT *, lead(v) OVER (PARTITION BY c_custkey ORDER BY v) AS valid_to FROM ch
)
SELECT c_mktsegment AS dim, count(*)::BIGINT AS ct,
       round(sum(CASE WHEN valid_to IS NULL THEN c_acctbal ELSE 0 END), 2) AS bal,
       sum(coalesce(valid_to, -1))::BIGINT AS m2
FROM h WHERE type <> 'delete' GROUP BY 1
"""

# K3d changelog emission (CDF-style snapshot diff — inverse of apply_cdc):
# old vs new snapshot -> insert/update/delete rows, unchanged rows dropped.
_DIFF_KEY_SHIFT = 100_000_000

def q_k3d(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    new = (
        cust.filter(F.col("c_custkey") % 20 != 0)
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 10 == 0, F.round(F.col("c_acctbal") + 500, 2))
            .otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 7 == 0)
            .withColumn("c_custkey", F.col("c_custkey") + _DIFF_KEY_SHIFT)
        )
    )
    d = merge.snapshot_diff(cust, new, "c_custkey", ["c_mktsegment", "c_acctbal"])
    return d.groupBy(F.col("change_type").alias("dim")).agg(
        F.count(F.lit(1)).alias("ct"),
        F.round(F.sum("c_acctbal"), 2).alias("bal"),
        F.lit(0).cast("long").alias("m2"),
    )

SQL_K3D = f"""
WITH newt AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 500, 2) ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 20 <> 0
  UNION ALL
  SELECT c_custkey + {_DIFF_KEY_SHIFT}, c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 7 = 0
), d AS (
  SELECT CASE WHEN o.c_custkey IS NULL THEN 'insert'
              WHEN n.c_custkey IS NULL THEN 'delete'
              ELSE 'update' END AS change_type,
         CASE WHEN n.c_custkey IS NULL THEN o.c_acctbal ELSE n.c_acctbal END AS bal2
  FROM newt n FULL OUTER JOIN customer o ON n.c_custkey = o.c_custkey
  WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        OR n.c_acctbal IS DISTINCT FROM o.c_acctbal
        OR n.c_mktsegment IS DISTINCT FROM o.c_mktsegment
)
SELECT change_type AS dim, count(*)::BIGINT AS ct, round(sum(bal2), 2) AS bal, 0::BIGINT AS m2
FROM d GROUP BY 1
"""

# K3 combined gate: latest-wins upsert, CDC-envelope apply, SCD2 history
# build, and changelog emission — all four MERGE/changelog flavors of the
# dim layer in one tagged entry.
def q_k3c(spark: SparkSession, sf: str) -> DataFrame:
    zero = F.lit(0).cast("long").alias("m2")
    up = q_k3(spark, sf).select(
        F.lit("upsert").alias("stage"), F.col("c_mktsegment").alias("dim"), "ct", "bal", zero
    )
    cdc = q_k3b(spark, sf).select(
        F.lit("cdc").alias("stage"), F.col("c_mktsegment").alias("dim"), "ct", "bal", zero
    )
    scd2 = q_k3s(spark, sf).select(F.lit("scd2").alias("stage"), "dim", "ct", "bal", "m2")
    diff = q_k3d(spark, sf).select(F.lit("diff").alias("stage"), "dim", "ct", "bal", "m2")
    return up.unionByName(cdc).unionByName(scd2).unionByName(diff)

SQL_K3C = f"""
SELECT 'upsert' AS stage, c_mktsegment AS dim, ct, bal, 0::BIGINT AS m2 FROM ({SQL_K3})
UNION ALL
SELECT 'cdc', c_mktsegment, ct, bal, 0::BIGINT FROM ({SQL_K3B})
UNION ALL
SELECT 'scd2', dim, ct, bal, m2 FROM ({SQL_K3S})
UNION ALL
SELECT 'diff', dim, ct, bal, m2 FROM ({SQL_K3D})
"""

# Bucketed-table staging for X2/XC: once per (session, sf). The gate
# queries are re-evaluated many times in one session (warm-up + timed
# runs + both check sfs); rewriting two managed tables per evaluation
# pays a full rewrite each run. The table tag hashes the ABSOLUTE sf
# path (two dirs sharing a basename must not collide), and the catalog
# existence check makes staging idempotent within a session. Assumes the
# testdata under one path is immutable for the session (true for the
# read-only driver testdata) and serial gate evaluation (the driver's
# model); regenerating data at the same path mid-session would require a
# new SparkSession to re-stage.
def _bucketed_pair(spark: SparkSession, sf: str) -> tuple[str, str]:
    import hashlib

    abspath = os.path.abspath(sf.rstrip("/"))
    base = os.path.basename(abspath).replace(".", "_").replace("-", "_")
    tag = f"{base}_{hashlib.md5(abspath.encode()).hexdigest()[:8]}"
    bo, bc = f"bx_orders_{tag}", f"bx_customer_{tag}"
    if not spark.catalog.tableExists(bo):
        scale.write_bucketed(load_table(spark, sf, "orders"), bo, "o_custkey", 8)
    if not spark.catalog.tableExists(bc):
        scale.write_bucketed(load_table(spark, sf, "customer"), bc, "c_custkey", 8)
    return bo, bc


# X2 co-bucketed join == plain join — the x2 gate entry's oracle
SQL_X2 = """
SELECT c_mktsegment, count(*)::BIGINT AS ct, round(sum(o_totalprice), 2) AS rev
FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
"""

# X1+X2 combined gate: exchange-free co-bucketed join feeding a skew-safe
# two-stage salted aggregation — the full scale toolkit in one pipeline.
def q_xc(spark: SparkSession, sf: str) -> DataFrame:
    bo, bc = _bucketed_pair(spark, sf)
    j = scale.bucketed_join(spark, bo, bc, ("o_custkey", "c_custkey"), force_smj=True)
    out = scale.salted_agg(
        j, ["c_mktsegment"],
        {"ct": ("o_totalprice", "count"), "rev": ("o_totalprice", "sum")},
        n_salts=8, salt_source="o_custkey",
    )
    return out.select("c_mktsegment", "ct", F.round("rev", 2).alias("rev"))

# Registry note: the round driver records only the FIRST 50 queries()
# entries, so the registry is consolidated to fit — planted boundary
# corpora share one tagged entry (jb), both MERGE flavors share k3, both
# derivations share p8, and rows whose operator is already exercised
# inside another gate query map there instead of holding their own slot
# (see COVERAGE.md §2 for the row -> gate-query map):
#   J1/J2 sf-scale form -> t3 stream (same oracle); boundary form -> jb
#   P2 delete filter    -> j5 (route applies delete_filter first)
#   A5 daily unique     -> a11 (uv branch) + t5 stream
#   W2 window bounds    -> stamped in every A-row output (stt/edt)
#   O1 order/limit      -> a7 + a9 (ORDER BY ... LIMIT)
#   O2 hour series      -> a8 (hour(stt) grouping)
#   F1 tokenizer        -> a4 (df + SQL LATERAL VIEW branches) / a9
#   U1 3-stream union   -> a11 (ratios over the same _u1_base)
#   A10 whole-day GMV   -> a7 (gmv branch of the tagged ADS union)
#   W3 SQL pipeline     -> a4 (sql branch — must equal the df branch)
# The dropped q_* functions stay defined for tests and bench.
# --- round-6 folds (P6+P7, A8+A9, J3+J4, W1+W1B) -------------------------
# Tagged unions freeing registry slots for the dp8a-dp8e branch split;
# every operator keeps its own q_* function (tests/bench unchanged) and
# its own branch tag so a red hash still names the operator.

def q_p67(spark: SparkSession, sf: str) -> DataFrame:
    p6 = q_p6(spark, sf).select(
        F.lit("map_access").alias("branch"),
        F.col("event_id").cast("string").alias("k"),
        F.col("item").alias("s"),
        F.col("user_id").cast("double").alias("v1"),
        F.lit(0.0).alias("v2"),
    )
    p7 = q_p7(spark, sf).select(
        F.lit("click").alias("branch"),
        F.col("dt").alias("k"),
        F.lit("").alias("s"),
        F.col("ct").cast("double").alias("v1"),
        F.col("value_sum").alias("v2"),
    )
    return p6.unionByName(p7)


SQL_P67 = f"""
SELECT 'map_access' AS branch, event_id::VARCHAR AS k, item AS s,
       user_id::DOUBLE AS v1, 0.0 AS v2 FROM ({SQL_P6})
UNION ALL
SELECT 'click', dt, '', ct::DOUBLE, value_sum FROM ({SQL_P7})
"""


def q_a89(spark: SparkSession, sf: str) -> DataFrame:
    a8 = q_a8c(spark, sf)
    a9 = q_a9(spark, sf).select(
        F.lit("keyword_score").alias("branch"),
        F.col("keyword").alias("k"),
        F.col("ct").cast("double").alias("v1"),
        F.lit(0.0).alias("v2"),
        F.lit(0.0).alias("v3"),
    )
    return a8.unionByName(a9)


SQL_A89 = f"""
SELECT * FROM ({SQL_A8C})
UNION ALL
SELECT 'keyword_score', keyword, ct::DOUBLE, 0.0, 0.0 FROM ({SQL_A9})
"""


def q_j34(spark: SparkSession, sf: str) -> DataFrame:
    j3 = q_j3(spark, sf).select(
        F.lit("lookup").alias("branch"),
        F.col("p_brand").alias("k"),
        "revenue",
        "ct",
    )
    j4 = q_j4(spark, sf).select(
        F.lit("chain").alias("branch"),
        F.concat_ws("|", "r_name", "n_name").alias("k"),
        "revenue",
        F.col("order_ct").alias("ct"),
    )
    return j3.unionByName(j4)


SQL_J34 = f"""
SELECT 'lookup' AS branch, p_brand AS k, revenue, ct FROM ({SQL_J3})
UNION ALL
SELECT 'chain', concat_ws('|', r_name, n_name), revenue, order_ct FROM ({SQL_J4})
"""


def q_w1c(spark: SparkSession, sf: str) -> DataFrame:
    full = q_w1(spark, sf).select(F.lit("events").alias("branch"), "user_id", "event_id", "is_bounce")
    edge = q_w1b(spark, sf).select(F.lit("boundary").alias("branch"), "user_id", "event_id", "is_bounce")
    return full.unionByName(edge)


SQL_W1C = f"""
SELECT 'events' AS branch, user_id, event_id, is_bounce FROM ({SQL_W1})
UNION ALL
SELECT 'boundary', user_id, event_id, is_bounce FROM ({SQL_W1B})
"""


REGISTRY = {
    "p1_parse_or_dirty": (q_p1c, SQL_P1C),
    "p3_three_way_split": (q_p3, SQL_P3),
    "p67_event_filters": (q_p67, SQL_P67),
    "p8_derivations": (q_p8, SQL_P8),
    "jb_interval_boundary": (q_jb, SQL_JB),
    "j34_dim_chain": (q_j34, SQL_J34),
    "j5_route_config": (q_j5, SQL_J5),
    "j7_asof_join": (q_j7, SQL_J7),
    "a1_visitor_stats": (q_a1, SQL_A1),
    "a2_product_stats": (q_a2, SQL_A2),
    "a3_province_stats": (q_a3, SQL_A3),
    "a4_keyword_stats": (q_a4c, SQL_A4C),
    "a6_is_new_correction": (q_a6, SQL_A6),
    "a7_ads_product": (q_a7c, SQL_A7C),
    "a89_ads_metrics": (q_a89, SQL_A89),
    "a11_visitor_ratios": (q_a11, SQL_A11),
    # a12 registers in tpch (tagged rollup + TPC-H Q1/Q3/Q5/Q18 union)
    "w1_bounce_detect": (q_w1c, SQL_W1C),
    # w4_session_stats registers in streamq (tagged batch+stream union)
    "u2_product_union": (q_u2c, SQL_U2C),
    "k3_dim_upsert": (q_k3c, SQL_K3C),
    "x2_bucketed_salted": (q_xc, SQL_X2),
}
