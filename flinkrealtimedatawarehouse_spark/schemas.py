"""StructType constants for the gmall-domain inputs (SURVEY.md §1, FIXTURES.md).

Three schema regimes coexist in the reference (SURVEY.md §1.3): dynamic JSON
at ODS/DWD, declared POJOs at DWM/DWS, config-driven all-varchar dims. Here
every regime becomes an explicit StructType; dynamic payloads are
``MapType(string, string)`` exactly like the reference's own SQL app models
them (rt/app/dws/KeywordStatsApp.java:45-52).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- behavior log (topic ods_base_log; README.md:118-225) -----------------

COMMON_SCHEMA = T.StructType(
    [
        T.StructField("ar", T.StringType()),
        T.StructField("ba", T.StringType()),
        T.StructField("ch", T.StringType()),
        T.StructField("is_new", T.StringType()),
        T.StructField("md", T.StringType()),
        T.StructField("mid", T.StringType()),
        T.StructField("os", T.StringType()),
        T.StructField("uid", T.StringType()),
        T.StructField("vc", T.StringType()),
    ]
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("during_time", T.LongType()),
        T.StructField("item", T.StringType()),
        T.StructField("item_type", T.StringType()),
        T.StructField("last_page_id", T.StringType()),
        T.StructField("page_id", T.StringType()),
        T.StructField("sourceType", T.StringType()),
    ]
)

DISPLAY_SCHEMA = T.StructType(
    [
        T.StructField("displayType", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("item_type", T.StringType()),
        T.StructField("order", T.IntegerType()),
        T.StructField("pos_id", T.IntegerType()),
    ]
)

START_SCHEMA = T.StructType(
    [
        T.StructField("entry", T.StringType()),
        T.StructField("loading_time", T.LongType()),
        T.StructField("open_ad_id", T.LongType()),
        T.StructField("open_ad_ms", T.LongType()),
        T.StructField("open_ad_skip_ms", T.LongType()),
    ]
)

ERR_SCHEMA = T.StructType(
    [
        T.StructField("error_code", T.StringType()),
        T.StructField("msg", T.StringType()),
    ]
)

# Full page/start event envelope; routing key = presence of `start`
# (rt/app/dwd/BaseLogApp.java:108-111).
LOG_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("common", COMMON_SCHEMA),
        T.StructField("page", PAGE_SCHEMA),
        T.StructField("start", START_SCHEMA),
        T.StructField("displays", T.ArrayType(DISPLAY_SCHEMA)),
        T.StructField("err", ERR_SCHEMA),
        T.StructField("ts", T.LongType()),
    ]
)

# --- CDC envelope (topic ods_base_db) --------------------------------------
# rt/app/function/CustomerDeserialization.java:17-72 re-serializes Debezium
# records to exactly this shape; `create` is renamed `insert` (:59-62).

CDC_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType()),
        T.StructField("tableName", T.StringType()),
        T.StructField("type", T.StringType()),  # insert | update | delete
        T.StructField("before", T.MapType(T.StringType(), T.StringType())),
        T.StructField("after", T.MapType(T.StringType(), T.StringType())),
    ]
)

# --- config table `table_process` (rt/bean/TableProcess.java:11-30) --------

TABLE_PROCESS_SCHEMA = T.StructType(
    [
        T.StructField("source_table", T.StringType()),
        T.StructField("operate_type", T.StringType()),
        T.StructField("sink_type", T.StringType()),  # kafka | hbase
        T.StructField("sink_table", T.StringType()),
        T.StructField("sink_columns", T.StringType()),  # CSV
        T.StructField("sink_pk", T.StringType()),
        T.StructField("sink_extend", T.StringType()),
    ]
)

# --- gold (output) schemas (FIXTURES.md §3) ---------------------------------

KEYWORD_STATS_COLUMNS = ("keyword", "ct", "source", "stt", "edt", "ts")
