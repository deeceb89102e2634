"""The gmall warehouse chain, one streaming query per hop.

ODS -> DWD -> DIM/DWM -> DWS -> ADS, composed only from the engine's
public functions. Hops are connected by parquet "topic" directories; a
foreachBatch hop publishes each batch by writing it to a staging directory
the file source ignores (leading ``_``) and renaming the part files into
the topic, so a consumer never lists a half-written file.

    dwd_log    ODS log text  -> logsplit.parse_or_dirty + three_way_split -> page/start/display/dirty
    dwd_db     ODS db text   -> sources.parse_cdc_envelope, logsplit.delete_filter,
                                routing.route_with_config -> dwd_order_info/detail, dim_sku_info
    dim        dim_sku_info  -> sinks.Scd2HistorySink (partstore)
    dwm_uv     page          -> state.streaming_dedup (mid, day)            [parquet file sink]
    dwm_bounce page          -> state.bounce_stream (mid, 10 s gap)         [parquet file sink]
    dwm_wide   order info+detail -> windows.interval_join_stream, joins.dim_enrich (SCD2 read)
    dws        page+uv+bounce+wide -> 10 s window keys -> sinks.AdditiveGoldSink
    ADS        one client thread reads the gold table after every gold commit

The DWS hop folds every consumed row into its 10 s window key at once
(the sink's running-totals form), so a row is in the gold table as soon as
the batch that consumed it commits; freshness therefore excludes window
length, as it should.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flinkrealtimedatawarehouse_spark import layers, schemas
from flinkrealtimedatawarehouse_spark.operators import joins, logsplit, routing
from flinkrealtimedatawarehouse_spark.streaming import sinks, sources, state, windows

from perfbench.gen import ROUTES
from perfbench.trace import Tracer, median, progress_end

HOPS = ("dwd_log", "dwd_db", "dim", "dwm_uv", "dwm_bounce", "dwm_wide", "dws")
# each hop's inputs, for the runner wait metric: "ods" = the generator
UPSTREAM = {
    "dwd_log": ("ods",), "dwd_db": ("ods",), "dim": ("dwd_db",),
    "dwm_uv": ("dwd_log",), "dwm_bounce": ("dwd_log",),
    "dwm_wide": ("dwd_db",), "dws": ("dwd_log", "dwm_uv", "dwm_bounce", "dwm_wide"),
}
BOUNCE_GAP_S = 10
BOUNCE_DELAY = "2 seconds"
JOIN_DELAY = "10 seconds"
TRIGGER_S = 0.25  # every hop: bounds idle file-source polling, adds <= 250 ms per hop
TRIGGER = f"{int(TRIGGER_S * 1000)} milliseconds"
DWD_DIRTY_LOG = "dwd_dirty_log"  # the reference's "Dirty" side output; not a layers.py table
DIM_SKU_HISTORY = "dim_sku_info_history"
GOLD_KEYS = ["stt", "kind", "dim"]
GOLD_MEASURES = {"ct": ("ct", "sum"), "amount": ("amount", "sum")}
ADS_SQL = """
    SELECT kind, sum(ct) AS ct, sum(amount) AS amount, count(*) AS cells
    FROM ads_gold GROUP BY kind ORDER BY kind
"""

LOG_SCHEMA = T.StructType(list(schemas.LOG_EVENT_SCHEMA.fields) + [
    T.StructField("fid", T.LongType()), T.StructField("eid", T.LongType())])
PAGE_TOPIC_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType()), T.StructField("eid", T.LongType()),
    T.StructField("mid", T.StringType()), T.StructField("ch", T.StringType()),
    T.StructField("page_id", T.StringType()), T.StructField("last_page_id", T.StringType()),
    T.StructField("during_time", T.LongType()), T.StructField("ts", T.TimestampType()),
    T.StructField("dt", T.StringType()),
])
CDC_TOPIC_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType()), T.StructField("type", T.StringType()),
    T.StructField("after", T.MapType(T.StringType(), T.StringType())),
])
UV_SCHEMA = T.StructType([T.StructField("mid", T.StringType()),
                          T.StructField("dt", T.StringType())])
BOUNCE_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()), T.StructField("event_id", T.LongType()),
    T.StructField("is_bounce", T.IntegerType()), T.StructField("entry_ts", T.TimestampType()),
])
DIM_CHANGES_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()), T.StructField("ver", T.LongType()),
    T.StructField("type", T.StringType()), T.StructField("sku_name", T.StringType()),
    T.StructField("price", T.LongType()), T.StructField("tm_id", T.LongType()),
])
WIDE_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType()), T.StructField("o_ts", T.TimestampType()),
    T.StructField("tm_id", T.LongType()), T.StructField("amount", T.LongType()),
])


def stt(ts_col):
    """Start of the 10 s tumbling window holding ``ts_col``, as text."""
    return F.date_format(
        F.timestamp_seconds(F.floor(F.unix_micros(ts_col) / 10_000_000) * 10),
        "yyyy-MM-dd HH:mm:ss")


def publish(df, root: str, tag: str, bid: int, part_col: str) -> None:
    """Write one batch into topic dirs ``root/<value of part_col>/``: one
    write job into a staging dir, then each part file renamed into place."""
    stage = os.path.join(root, f"_stage-{tag}-{bid}")
    df.write.mode("overwrite").partitionBy(part_col).parquet(stage)
    for dirpath, _dirs, files in os.walk(stage):
        if dirpath == stage:
            continue
        dest = os.path.join(root, os.path.basename(dirpath).split("=", 1)[1])
        os.makedirs(dest, exist_ok=True)
        for name in files:
            if name.startswith("part-"):
                os.rename(os.path.join(dirpath, name), os.path.join(dest, f"b{bid:06d}-{name}"))
    shutil.rmtree(stage)


_obs_ids = itertools.count()


def observation(tag: str) -> Observation:
    """An Observation with a process-unique name (names must not repeat)."""
    return Observation(f"{tag}_{next(_obs_ids)}")


def observed(obs: Observation) -> dict:
    """The observed metrics, or {} when the batch's plan was pruned to an
    empty relation and no metrics row exists."""
    try:
        return obs.get
    except Py4JJavaError:
        return {}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)


class GmallChain:
    """Builds, starts and stops the seven hop queries under ``root``."""

    def __init__(self, spark: SparkSession, root: str, tracer: Tracer,
                 ods_max_files: int | None = None):
        self.spark, self.root, self.tr = spark, root, tracer
        self.ods_max_files = ods_max_files
        p = lambda *a: os.path.join(root, *a)  # noqa: E731
        self.ods = {"log": p(layers.ODS_BASE_LOG), "db": p(layers.ODS_BASE_DB)}
        self.page_dir = p(layers.DWD_PAGE_LOG)
        self.dirty_dir = p(DWD_DIRTY_LOG)
        self.uv_dir = p(layers.DWM_UNIQUE_VISIT)
        self.bounce_dir = p(layers.DWM_USER_JUMP_DETAIL)
        self.wide_dir = p(layers.DWM_ORDER_WIDE)
        self.gold_dir = p(layers.DWS_VISITOR_STATS)
        self.dim_dir, self.ckpt = p(DIM_SKU_HISTORY), p("_checkpoints")
        for d in (*self.ods.values(), self.page_dir, self.dirty_dir, p(layers.DWD_START_LOG),
                  p(layers.DWD_DISPLAY_LOG), self.uv_dir, self.bounce_dir, self.wide_dir,
                  *(p(r[3]) for r in ROUTES)):
            os.makedirs(d, exist_ok=True)
        self.queries: dict[str, object] = {}
        self.lock = threading.Lock()
        self.commits: dict[str, list[float]] = {h: [] for h in HOPS}
        self.dwd_log_batches: list[tuple[float, int]] = []  # (start, max fid)
        self.dws_batches: list[tuple[int, float, set]] = []  # (gold version, commit, fids)
        self.counts = {k: 0 for k in ("logsplit.rows_in", "logsplit.rows_out",
                                      "logsplit.dirty_rows", "routing.rows_in",
                                      "routing.rows_routed", "routing.rows_dropped")}
        self.gold = sinks.AdditiveGoldSink(self.gold_dir, GOLD_KEYS, GOLD_MEASURES)
        self.dim = sinks.Scd2HistorySink(self.dim_dir, pk="id", version_col="ver")
        cfg_schema = T.StructType(schemas.TABLE_PROCESS_SCHEMA.fields)
        self.config = spark.createDataFrame(
            [(*r, "id", None) for r in ROUTES], cfg_schema)

    # --- hop bodies (foreachBatch) -----------------------------------------

    def _add(self, key: str, n: int) -> None:
        with self.lock:
            self.counts[key] += n

    def _dwd_log(self, batch, bid: int) -> None:
        t0 = time.time()
        with self.tr.span("logsplit", hop="dwd_log", batch=bid) as sp:
            clean, dirty = logsplit.parse_or_dirty(batch, "value", LOG_SCHEMA)
            clean = clean.persist()
            start, page, display = logsplit.three_way_split(clean, F.col("start"))
            ts = F.timestamp_millis(F.col("ts"))
            common = [F.col("fid"), F.col("eid"), F.col("common.mid").alias("mid"),
                      F.col("common.ch").alias("ch")]
            out = (
                page.select(F.lit(layers.DWD_PAGE_LOG).alias("kind"), *common,
                            F.col("page.page_id").alias("page_id"),
                            F.col("page.last_page_id").alias("last_page_id"),
                            F.col("page.during_time").alias("during_time"),
                            ts.alias("ts"), F.date_format(ts, "yyyy-MM-dd").alias("dt"))
                .unionByName(start.select(F.lit(layers.DWD_START_LOG).alias("kind"), *common,
                                          ts.alias("ts")), allowMissingColumns=True)
                .unionByName(display.select(F.lit(layers.DWD_DISPLAY_LOG).alias("kind"), *common,
                                            F.col("display.item").alias("page_id"),
                                            ts.alias("ts")), allowMissingColumns=True)
                .unionByName(dirty.select(F.lit(DWD_DIRTY_LOG).alias("kind"),
                                          F.col("value").alias("raw")),
                             allowMissingColumns=True)
            )
            obs = observation("dwd_log")
            kind = F.col("kind")
            out = out.observe(
                obs,
                F.sum((kind != layers.DWD_DISPLAY_LOG).cast("long")).alias("rows_in"),
                F.sum((kind != DWD_DIRTY_LOG).cast("long")).alias("rows_out"),
                F.sum((kind == DWD_DIRTY_LOG).cast("long")).alias("dirty"),
                F.collect_set("fid").alias("fids"),
            )
            publish(out, self.root, "dwd_log", bid, "kind")
            clean.unpersist()
            m = observed(obs)
            sp["ids"] = sorted(m.get("fids") or ())
        self._add("logsplit.rows_in", m.get("rows_in") or 0)
        self._add("logsplit.rows_out", m.get("rows_out") or 0)
        self._add("logsplit.dirty_rows", m.get("dirty") or 0)
        with self.lock:
            self.dwd_log_batches.append((t0, max(sp["ids"], default=-1)))
            self.commits["dwd_log"].append(time.time())

    def _dwd_db(self, batch, bid: int) -> None:
        with self.tr.span("routing", hop="dwd_db", batch=bid) as sp:
            raw = batch.withColumn("fid", F.get_json_object("value", "$.fid").cast("long"))
            cdc = logsplit.delete_filter(sources.parse_cdc_envelope(raw, "value"))
            o_in, o_out = observation("route_in"), observation("route_out")
            cdc = cdc.observe(o_in, F.count(F.lit(1)).alias("n"),
                              F.collect_set("fid").alias("fids"))
            routed = routing.route_with_config(cdc, self.config).observe(
                o_out, F.count(F.lit(1)).alias("n"))
            publish(routed.select("sink_table", "fid", "type",
                                  F.col("after_pruned").alias("after")),
                    self.root, "dwd_db", bid, "sink_table")
            m_in = observed(o_in)
            sp["ids"] = sorted(m_in.get("fids") or ())
        n_in, n_out = m_in.get("n", 0), observed(o_out).get("n", 0)
        self._add("routing.rows_in", n_in)
        self._add("routing.rows_routed", n_out)
        self._add("routing.rows_dropped", n_in - n_out)
        with self.lock:
            self.commits["dwd_db"].append(time.time())

    def _dim(self, batch, bid: int) -> None:
        a = F.col("after")
        changes = batch.select(
            a["id"].cast("long").alias("id"), a["ver"].cast("long").alias("ver"),
            F.col("type"), a["sku_name"].alias("sku_name"),
            a["price"].cast("long").alias("price"), a["tm_id"].cast("long").alias("tm_id"))
        with self.tr.span("partstore.dim_commit", hop="dim", batch=bid):
            self.dim.write_batch(changes, bid)
        with self.lock:
            self.commits["dim"].append(time.time())

    def _dwm_wide(self, batch, bid: int) -> None:
        with self.tr.span("partstore.dim_read", hop="dwm_wide", batch=bid):
            reader = sinks.Scd2HistorySink(self.dim_dir, pk="id", version_col="ver",
                                           read_only=True)
            dim = reader.history(self.spark).filter(F.col("is_current")).select(
                F.col("id").alias("sku_key"), "tm_id").persist()
            dim.count()
        with self.tr.span("joins.dim_enrich", hop="dwm_wide", batch=bid):
            wide = joins.dim_enrich(batch, [(dim, batch["sku_id"] == dim["sku_key"],
                                             ["sku_key", "tm_id"])])
            publish(wide.select("fid", "o_ts", "tm_id",
                                (F.col("sku_num") * F.col("order_price")).alias("amount"),
                                F.lit(layers.DWM_ORDER_WIDE).alias("topic")),
                    self.root, "dwm_wide", bid, "topic")
        dim.unpersist()
        with self.lock:
            self.commits["dwm_wide"].append(time.time())

    def _dws(self, batch, bid: int) -> None:
        obs = observation("dws")
        batch = batch.observe(obs, F.collect_set("fid").alias("fids"))
        with self.tr.span("sinks.gold_commit", hop="dws", batch=bid) as sp:
            self.gold.write_batch(batch, bid)
            fids = set(observed(obs).get("fids") or ())
            sp["ids"], sp["version"] = sorted(fids), self.gold.version
        now = time.time()
        with self.lock:
            self.dws_batches.append((self.gold.version, now, fids))
            self.commits["dws"].append(now)

    # --- query wiring -------------------------------------------------------

    def _ods(self, topic: str):
        r = self.spark.readStream
        if self.ods_max_files:
            r = r.option("maxFilesPerTrigger", str(self.ods_max_files))
        return r.text(self.ods[topic])

    def _topic(self, path: str, schema: T.StructType):
        return self.spark.readStream.schema(schema).parquet(path)

    def _fb(self, hop: str, sdf, fn):
        return (sdf.writeStream.queryName(hop).foreachBatch(fn).trigger(processingTime=TRIGGER)
                .option("checkpointLocation", os.path.join(self.ckpt, hop)).start())

    def _file_sink(self, hop: str, sdf, path: str):
        return (sdf.writeStream.queryName(hop).format("parquet").outputMode("append")
                .trigger(processingTime=TRIGGER)
                .option("path", path)
                .option("checkpointLocation", os.path.join(self.ckpt, hop)).start())

    def start(self) -> None:
        q = self.queries
        self.dim.init(self.spark.createDataFrame([], DIM_CHANGES_SCHEMA))
        q["dwd_log"] = self._fb("dwd_log", self._ods("log"), self._dwd_log)
        q["dwd_db"] = self._fb("dwd_db", self._ods("db"), self._dwd_db)
        q["dim"] = self._fb("dim", self._topic(os.path.join(self.root, "dim_sku_info"),
                                               CDC_TOPIC_SCHEMA), self._dim)
        pages = self._topic(self.page_dir, PAGE_TOPIC_SCHEMA)
        q["dwm_uv"] = self._file_sink(
            "dwm_uv", state.streaming_dedup(pages, ["mid", "dt"], ts_col="ts"), self.uv_dir)
        bounce = state.bounce_stream(
            pages.withColumnRenamed("eid", "event_id"), key="mid", ts_col="ts",
            entry_pred=F.col("last_page_id").isNull(), gap_s=BOUNCE_GAP_S,
            delay=BOUNCE_DELAY, emit_ts=True)
        q["dwm_bounce"] = self._file_sink("dwm_bounce", bounce, self.bounce_dir)
        a = F.col("after")
        info = self._topic(os.path.join(self.root, "dwd_order_info"), CDC_TOPIC_SCHEMA).select(
            a["id"].cast("long").alias("o_id"),
            F.timestamp_millis(a["create_ts"].cast("long")).alias("o_ts"))
        detail = self._topic(os.path.join(self.root, "dwd_order_detail"),
                             CDC_TOPIC_SCHEMA).select(
            "fid", a["order_id"].cast("long").alias("order_id"),
            a["sku_id"].cast("long").alias("sku_id"), a["sku_num"].cast("long").alias("sku_num"),
            a["order_price"].cast("long").alias("order_price"),
            F.timestamp_millis(a["create_ts"].cast("long")).alias("d_ts"))
        joined = windows.interval_join_stream(detail, info, ("order_id", "o_id"),
                                              ("d_ts", "o_ts"), "'-5' SECOND", "'5' SECOND",
                                              delay=JOIN_DELAY)
        q["dwm_wide"] = self._fb("dwm_wide", joined, self._dwm_wide)
        zero = F.lit(0).cast("long")
        gold_in = (
            pages.select(stt(F.col("ts")).alias("stt"), F.lit("pv").alias("kind"),
                         F.col("ch").alias("dim"), F.lit(1).cast("long").alias("ct"),
                         F.col("during_time").alias("amount"), "fid")
            .unionByName(self._topic(self.uv_dir, UV_SCHEMA).select(
                F.col("dt").alias("stt"), F.lit("uv").alias("kind"), F.lit("").alias("dim"),
                F.lit(1).cast("long").alias("ct"), zero.alias("amount"),
                F.lit(None).cast("long").alias("fid")))
            .unionByName(self._topic(self.bounce_dir, BOUNCE_SCHEMA).select(
                stt(F.col("entry_ts")).alias("stt"), F.lit("uj").alias("kind"),
                F.lit("").alias("dim"), F.col("is_bounce").cast("long").alias("ct"),
                zero.alias("amount"), F.lit(None).cast("long").alias("fid")))
            .unionByName(self._topic(self.wide_dir, WIDE_SCHEMA).select(
                stt(F.col("o_ts")).alias("stt"), F.lit("order").alias("kind"),
                F.col("tm_id").cast("string").alias("dim"), F.lit(1).cast("long").alias("ct"),
                F.col("amount"), "fid"))
        )
        q["dws"] = self._fb("dws", gold_in, self._dws)

    def check_alive(self) -> None:
        for hop, q in self.queries.items():
            if q.exception() is not None:
                raise RuntimeError(f"hop {hop} failed: {q.exception()}")

    def _signature(self):
        """None while any hop has unread input or is running a batch; else
        the last batch id of every hop."""
        self.check_alive()
        sig = []
        for q in self.queries.values():
            st = q.status
            if st["isDataAvailable"] or st["message"].startswith(("Processing", "No new data")):
                return None
            lp = q.lastProgress
            sig.append(lp["batchId"] if lp else -1)
        return tuple(sig)

    def quiesce(self, deadline: float, settle_s: float = 0.5 + TRIGGER_S) -> bool:
        """Wait until no hop has started a batch or seen input for
        ``settle_s``; False on deadline."""
        last, since = None, time.time()
        while time.time() < deadline:
            sig = self._signature()
            if sig is None or sig != last:
                last, since = sig, time.time()
            elif time.time() - since >= settle_s:
                return True
            time.sleep(0.05)
        return False

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        for q in self.queries.values():
            q.awaitTermination(60)
        self.check_alive()

    def progress(self) -> dict[str, list[dict]]:
        return {h: [json.loads(p.json) for p in q.recentProgress]
                for h, q in self.queries.items()}

    def upstream_commit_times(self, progress: dict[str, list[dict]]) -> dict[str, list[float]]:
        """Commit times per hop: recorded by the foreachBatch hops, rebuilt
        from progress for the file-sink hops."""
        out = {h: list(v) for h, v in self.commits.items()}
        for h in ("dwm_uv", "dwm_bounce"):
            out[h] = [progress_end(p) for p in progress.get(h, [])
                      if p.get("numInputRows", 0) > 0 or _has_state_output(p)]
        return out


def _has_state_output(p: dict) -> bool:
    return any(s.get("numRowsUpdated", 0) > 0 for s in p.get("stateOperators", []))


class AdsClient(threading.Thread):
    """The dashboard: one client that, after every gold commit, reads the
    gold table through a read-only handle and runs the ADS query."""

    def __init__(self, chain: GmallChain):
        super().__init__(name="ads-client", daemon=True)
        self.chain = chain
        self.reads: list[tuple[float, float, int]] = []  # (start, end, version)
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def read(self) -> tuple[float, float, int]:
        c = self.chain
        t0 = time.time()
        with c.tr.span("serving.ads_read"):
            h = sinks.AdditiveGoldSink(c.gold_dir, GOLD_KEYS, GOLD_MEASURES, read_only=True)
            h.current(c.spark).createOrReplaceTempView("ads_gold")
            c.spark.sql(ADS_SQL).collect()
        return t0, time.time(), h.version

    def run(self) -> None:
        c = self.chain
        seen = -1
        try:
            while not self._halt.is_set():
                with c.lock:
                    latest = c.dws_batches[-1][0] if c.dws_batches else -1
                if latest <= seen:
                    time.sleep(0.02)
                    continue
                r = self.read()
                self.reads.append(r)
                seen = r[2]
        except BaseException as e:  # reported by the harness, never swallowed
            self.error = e

    def stop(self) -> None:
        self._halt.set()
        self.join(60)
        if self.error is not None:
            raise RuntimeError(f"ADS client failed: {self.error!r}")


def visibility(due: dict[int, float], dws_batches, reads) -> dict[int, tuple[int, float]]:
    """Per ODS file id: (the gold version holding its last row, the end of
    the first ADS read that saw that version), for the files that have one."""
    last_version: dict[int, int] = {}
    for version, _t, fids in dws_batches:
        for f in fids:
            if f in due:
                last_version[f] = max(version, last_version.get(f, -1))
    reads = sorted(reads, key=lambda r: r[1])
    out = {}
    for f, v in last_version.items():
        end = next((r[1] for r in reads if r[2] >= v), None)
        if end is not None:
            out[f] = (v, end)
    return out


def freshness(due: dict[int, float], dws_batches, reads) -> tuple[dict[int, float], list[int]]:
    """Per ODS file id: seconds from its due time to the end of the first ADS
    read that saw the gold version holding its last row. Returns
    (latency per visible fid, fids never seen by DWS or never read)."""
    vis = visibility(due, dws_batches, reads)
    out = {f: vis[f][1] - t for f, t in due.items() if f in vis}
    return out, [f for f in due if f not in vis]


def ods_lag_max(due: dict[int, float], dwd_batches) -> int:
    """Most ODS files due but not yet consumed by the DWD log hop, seen at
    the start of any of its batches (file ids count up from 1 after set-up)."""
    done, worst = 0, 0
    for start, max_fid in sorted(dwd_batches):
        worst = max(worst, sum(1 for t in due.values() if t <= start) - done)
        done = max(done, max_fid)
    return worst


def state_metrics(progress: dict[str, list[dict]]) -> dict[str, float]:
    """State sizes and commit time from the stateful hops' last progress."""
    def last_ops(hop):
        ps = [p for p in progress.get(hop, []) if p.get("stateOperators")]
        return ps[-1]["stateOperators"] if ps else []

    commit = [s.get("commitTimeMs", 0) for h in ("dwm_uv", "dwm_bounce", "dwm_wide")
              for p in progress.get(h, []) if p.get("numInputRows", 0) > 0
              for s in p.get("stateOperators", [])]
    late = sum(s.get("numRowsDroppedByWatermark", 0) for p in progress.get("dwm_wide", [])
               for s in p.get("stateOperators", []))
    uv, bo, wi = last_ops("dwm_uv"), last_ops("dwm_bounce"), last_ops("dwm_wide")
    return {
        "state.uv.rows_total": float(sum(s.get("numRowsTotal", 0) for s in uv)),
        "state.uv.mem_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in uv)),
        "state.bounce.rows_total": float(sum(s.get("numRowsTotal", 0) for s in bo)),
        "state.bounce.mem_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in bo)),
        "state.commit_ms_p50": median(commit),
        "windows.join_state_rows": float(sum(s.get("numRowsTotal", 0) for s in wi)),
        "windows.rows_late_dropped": float(late),
    }

