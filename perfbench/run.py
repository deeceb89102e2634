"""gmall chain benchmark: one command per workload run, checked outputs.

Run from the repository root:

    python3 perfbench/run.py --workload gmall_live --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (and
the spans are written to ``--trace-out`` when given). Every workload checks
its outputs against a batch twin; a failed check prints
``"correct": false`` and exits 1. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
PKG = "flinkrealtimedatawarehouse_spark"
DRIVER_MEMORY = "3g"  # pinned for every workload (BENCHMARK.json whys, README)
WORK = os.path.join(ROOT, ".perfbench_work")
GEN_LATE_BOUND_MS = 250.0  # open-loop generator lateness that invalidates a run
DRAIN_S = 40.0
ADS_PROBE_READS = 10

# --- workload shapes ---------------------------------------------------------
LIVE = dict(n_mid=400, log_per_file=4, orders_per_file=0.3, tick_ms=200)
LIVE_INTERVAL_S = 0.2  # one ODS file pair every 200 ms, open loop (README: rate sweep)
# gmall_live's micro-batches hold tens of rows: one shuffle partition per
# stage, the parallelism comes from the seven hop queries running at once
LIVE_SHUFFLE_PARTITIONS = 1
LIVE_WARM_S = 2.0  # the open loop's first seconds: untracked, the chain warms to its load
CATCHUP = dict(n_mid=3000, log_per_file=250, orders_per_file=12, tick_ms=1000)
CATCHUP_FILES_PER_ROUND = 40  # staged at once; also the ODS maxFilesPerTrigger
SERVE = dict(n_docs=2000, n_vec=1000, dim=16, n_orders=3000, n_parts=400, n_cells=12)
# micro-batches per store; the wide gold table has no compaction
SERVE_BATCHES = {"postings": 2, "ivf": 2, "wide": 2}

# fresh_p90_s and the query percentiles are printed on the info line only: a
# run has 40 tracked files and 8-16 queries, too few for a steady 90th
# percentile, and a median over serve_mixed's mix of query kinds, whose costs
# differ 5x, sits on the edge between two kinds
E2E = {
    "setup_s": "s", "mem_retained_mb": "MB", "fresh_p50_s": "s",
    "rows_per_s": "1/s", "query_gmean_ms": "ms", "queries_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.chain import HOPS

    units = {"session.start_s": "s"}
    for h in HOPS:
        units.update({f"runner.{h}.batches": "count", f"runner.{h}.trigger_ms_p50": "ms",
                      f"runner.{h}.plan_ms_p50": "ms", f"runner.{h}.offset_commit_ms_p50": "ms",
                      f"runner.{h}.wait_ms_p50": "ms", f"runner.{h}.busy_frac": "ratio"})
    units["runner.ods_lag_files_max"] = "count"
    for k in ("logsplit.rows_in", "logsplit.rows_out", "logsplit.dirty_rows",
              "routing.rows_in", "routing.rows_routed", "routing.rows_dropped"):
        units[k] = "count"
    units.update({
        "partstore.dim_commit_ms_p50": "ms", "partstore.dim_read_ms_p50": "ms",
        "state.uv.rows_total": "count", "state.uv.mem_bytes": "bytes",
        "state.bounce.rows_total": "count", "state.bounce.mem_bytes": "bytes",
        "state.commit_ms_p50": "ms", "windows.join_state_rows": "count",
        "windows.rows_late_dropped": "count",
        "sinks.gold_commit_ms_p50": "ms", "sinks.gold_commit_ms_p90": "ms",
        "sinks.gold_bytes_written": "bytes", "sinks.gold_versions": "count",
        "serving.ads_read_ms_p50": "ms",
        "searchindex.commit_ms_p50": "ms", "searchindex.search_ms_p50": "ms",
        "searchindex.search_many_ms_p50": "ms", "simsearch.commit_ms_p50": "ms",
        "simsearch.topk_ms_p50": "ms", "compaction.folds": "count",
        "compaction.read_files": "count", "serving.view_ms_p50": "ms",
    })
    return units


# --- gmall workloads -------------------------------------------------------------


def _expected(log: list[str], db: list[str]) -> bool:
    """Whether a file's rows must reach the gold table along a fid-carrying
    path (a clean page event, or an order detail)."""
    for line in log:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        if ev.get("page") is not None and ev.get("start") is None:
            return True
    return any('"order_detail"' in line and '"insert"' in line for line in db)


class GmallRun:
    """One gmall run: set-up, the workload's load, drain, checks, metrics."""

    def __init__(self, spark, tracer, seed: int, shape: dict, ods_max_files: int | None):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.shape, self.ods_max_files = shape, ods_max_files
        self.log_lines: list[str] = []
        self.db_lines: list[str] = []
        self.due: dict[int, float] = {}
        self.rows_of: dict[int, int] = {}
        self.next_fid = 0

    def setup(self) -> float:
        """Start the chain on ODS file 0 (the sku dim load plus one file of
        log lines) and wait until every hop has settled; returns seconds.
        The dim load is committed before any order can reach the inner dim
        join."""
        from perfbench.chain import GmallChain
        from perfbench.gen import GmallGen

        t0 = time.perf_counter()
        self.gen = GmallGen(self.seed, **self.shape)
        self.chain = GmallChain(self.spark, os.path.join(WORK, "chain"), self.tr,
                                self.ods_max_files)
        self.chain.start()
        log, _db = self.gen.file(0)
        self.log_lines, self.db_lines = list(log), self.gen.dim_load(0)
        self._write(0, self.log_lines, self.db_lines)
        self.next_fid = 1
        if not self.chain.quiesce(time.time() + 120) or not self.chain.dws_batches:
            raise RuntimeError("chain set-up did not settle: " + json.dumps(
                {h: q.status for h, q in self.chain.queries.items()}))
        return time.perf_counter() - t0

    def _write(self, fid, log, db) -> None:
        from perfbench.gen import write_ods

        write_ods(self.chain.root, fid, log, db)

    def make_file(self, flush: bool = False):
        fid = self.next_fid
        self.next_fid += 1
        log, db = self.gen.flush_file(fid) if flush else self.gen.file(fid)
        self.log_lines.extend(log)
        self.db_lines.extend(db)
        return fid, log, db

    def publish(self, fid, log, db, due: float, track: bool) -> None:
        self._write(fid, log, db)
        if track and _expected(log, db):
            self.due[fid] = due
            self.rows_of[fid] = len(log) + len(db)

    def drain(self, client, deadline: float) -> list[int]:
        """Wait until every tracked file is visible in ADS, then until the
        chain is idle; returns the fids still missing at the deadline."""
        from perfbench.chain import freshness

        while time.time() < deadline:
            self.chain.check_alive()
            _lat, missing = freshness(self.due, self.chain.dws_batches, client.reads)
            if not missing:
                break
            time.sleep(0.1)
        self.chain.quiesce(deadline)
        _lat, missing = freshness(self.due, self.chain.dws_batches, client.reads)
        return missing

    def check(self) -> list[str]:
        """Output checks against the DuckDB twins; returns failures."""
        from pyspark.sql import functions as F

        from flinkrealtimedatawarehouse_spark.streaming import sinks
        from perfbench import twins
        from perfbench.chain import GOLD_KEYS, GOLD_MEASURES

        frames, dirty = twins.gmall_inputs(self.log_lines, self.db_lines)
        errs = []
        if dirty != self.gen.dirty:
            errs.append(f"twin parse found {dirty} dirty lines, generator injected {self.gen.dirty}")
        got_dirty = self.spark.read.schema("raw string").parquet(self.chain.dirty_dir).count()
        if got_dirty != self.gen.dirty:
            errs.append(f"DWD dirty rows {got_dirty} != injected {self.gen.dirty}")
        gold = sinks.AdditiveGoldSink(self.chain.gold_dir, GOLD_KEYS, GOLD_MEASURES,
                                      read_only=True).current(self.spark)
        got = [tuple(r) for r in gold.select("stt", "kind", "dim", "ct", "amount").collect()]
        errs.append(twins.compare("gold", got, twins.run_sql(frames, twins.GOLD_SQL)))
        dim = sinks.Scd2HistorySink(self.chain.dim_dir, pk="id", version_col="ver",
                                    read_only=True).history(self.spark)
        got = [tuple(r) for r in dim.select(
            "id", "ver", "sku_name", "price", "tm_id", "valid_from", "valid_to",
            F.col("is_current")).collect()]
        errs.append(twins.compare("dim_scd2", got, twins.run_sql(frames, twins.SCD2_SQL)))
        return [e for e in errs if e]

    def chain_layer_metrics(self, window) -> dict[str, float]:
        from perfbench.chain import HOPS, UPSTREAM, dir_bytes, ods_lag_max, state_metrics
        from perfbench.trace import hop_stats, median, pct

        c = self.chain
        prog = c.progress()
        commits = c.upstream_commit_times(prog)
        commits["ods"] = list(self.due.values())
        m = {}
        for h in HOPS:
            up = sorted(t for u in UPSTREAM[h] for t in commits[u])
            for k, v in hop_stats(prog.get(h, []), up, window).items():
                m[f"runner.{h}.{k}"] = v
            self.tr.add_hop_spans(h, prog.get(h, []))
        m["runner.ods_lag_files_max"] = float(ods_lag_max(self.due, c.dwd_log_batches))
        m.update({k: float(v) for k, v in c.counts.items()})
        m.update(state_metrics(prog))
        gold_ms = self.tr.durations_ms("sinks.gold_commit")
        m.update({
            "partstore.dim_commit_ms_p50": self.tr.p50_ms("partstore.dim_commit"),
            "partstore.dim_read_ms_p50": self.tr.p50_ms("partstore.dim_read"),
            "sinks.gold_commit_ms_p50": median(gold_ms),
            "sinks.gold_commit_ms_p90": pct(gold_ms, 90) if gold_ms else 0.0,
            "sinks.gold_bytes_written": float(dir_bytes(c.gold_dir)),
            "sinks.gold_versions": float(c.gold.version + 1),
            "serving.ads_read_ms_p50": self.tr.p50_ms("serving.ads_read"),
        })
        return m


def _e2e(lat: dict[int, float], probe: list[tuple[float, float, int]]) -> dict:
    """Freshness over the tracked files; query figures from the ADS probe."""
    from perfbench.trace import median, pct

    vals = list(lat.values())
    q_ms = [(e - s) * 1000 for s, e, _v in probe]
    thirds = [[lat[f] for f in part] for part in _thirds(sorted(lat))]
    return {
        "fresh_p50_s": median(vals), "fresh_p90_s": pct(vals, 90),
        # one query kind: the geometric mean over kinds is its median
        "query_gmean_ms": median(q_ms), "query_p90_ms": pct(q_ms, 90),
        "queries_per_s": len(probe) / (probe[-1][1] - probe[0][0]),
        "fresh_samples": len(vals), "query_samples": len(q_ms),
        # steady state shows as equal medians over the first and last third
        "fresh_p50_by_third_s": [median(t) for t in thirds],
    }


def _thirds(items: list) -> list[list]:
    n = len(items)
    return [items[: n // 3], items[n // 3: 2 * n // 3], items[2 * n // 3:]]


def gmall_live(spark, tracer, seed: int, seconds: float) -> dict:
    """Open loop: one ODS file pair every LIVE_INTERVAL_S, whatever the
    engine does; freshness is timed from each file's due time. The files
    due within ``seconds`` are tracked; the feed goes on, untracked, until
    each of them is visible in ADS, so the chain stays under the same load
    while the last tracked files pass through it."""
    from perfbench.chain import AdsClient, freshness

    run = GmallRun(spark, tracer, seed, LIVE, None)
    setup_s = run.setup()
    client = AdsClient(run.chain)
    client.start()
    t_feed = time.time() + 0.2
    t_start = t_feed + LIVE_WARM_S
    window_end, deadline = t_start + seconds, t_start + seconds + DRAIN_S
    late = 0.0
    for k in itertools.count():  # the generator: this thread, on a fixed schedule
        due = t_feed + k * LIVE_INTERVAL_S
        if due >= window_end:
            run.chain.check_alive()
            if due >= deadline or not freshness(run.due, run.chain.dws_batches, client.reads)[1]:
                break
        fid, log, db = run.make_file()
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late = max(late, (time.time() - due) * 1000)
        run.publish(fid, log, db, due, track=t_start <= due < window_end)
    t_fed = time.time()
    fid, log, db = run.make_file(flush=True)
    run.publish(fid, log, db, time.time(), track=False)
    missing = run.drain(client, time.time() + DRAIN_S)
    t_end = time.time()
    client.stop()
    lat, _ = freshness(run.due, run.chain.dws_batches, client.reads)
    out = _finish(run, client, lat, missing, setup_s, (t_start, t_end))
    out["phase_s"] = {"setup": round(setup_s, 2), "feed": round(t_fed - t_feed, 2),
                      "flush": round(t_end - t_fed, 2), "end": round(time.time() - t_end, 2)}
    out["gen_late_max_ms"] = late
    out["offered_rows_per_s"] = sum(run.rows_of.values()) / seconds
    if late > GEN_LATE_BOUND_MS:
        out["errors"].append(f"generator fell {late:.0f} ms behind its schedule "
                             f"(bound {GEN_LATE_BOUND_MS:.0f} ms): run invalid")
    return out


def gmall_catchup(spark, tracer, seed: int, seconds: float) -> dict:
    """Drain: rounds of CATCHUP_FILES_PER_ROUND files staged at once and
    drained in batches of that many files, until ``seconds`` have passed."""
    from perfbench.chain import AdsClient, freshness
    from perfbench.trace import median

    run = GmallRun(spark, tracer, seed, CATCHUP, CATCHUP_FILES_PER_ROUND)
    setup_s = run.setup()
    client = AdsClient(run.chain)
    client.start()
    t_start = time.time()
    rates = []
    while not rates or time.time() - t_start < seconds:
        files = [run.make_file() for _ in range(CATCHUP_FILES_PER_ROUND)]
        t0 = time.time()
        for fid, log, db in files:
            run.publish(fid, log, db, t0, track=True)
        fids = [f for f, _l, _d in files if f in run.due]
        deadline = t0 + DRAIN_S
        while time.time() < deadline:
            run.chain.check_alive()
            lat, missing = freshness({f: run.due[f] for f in fids},
                                     run.chain.dws_batches, client.reads)
            if not missing:
                break
            time.sleep(0.05)
        if missing:
            break
        rows = sum(len(log) + len(db) for _f, log, db in files)
        rates.append(rows / max(lat.values()))
    fid, log, db = run.make_file(flush=True)
    run.publish(fid, log, db, time.time(), track=False)
    missing = run.drain(client, time.time() + DRAIN_S)
    t_end = time.time()
    client.stop()
    lat, _ = freshness(run.due, run.chain.dws_batches, client.reads)
    out = _finish(run, client, lat, missing, setup_s, (t_start, t_end))
    out["metrics"]["rows_per_s"] = median(rates)
    out["rounds"] = len(rates)
    return out


def _finish(run: GmallRun, client, lat, missing, setup_s, window) -> dict:
    from perfbench.chain import visibility
    from perfbench.trace import mem_retained_mb

    layer = run.chain_layer_metrics(window) if run.tr.enabled else {}
    mem_mb = mem_retained_mb(run.spark)  # the chain's state is still held
    run.chain.stop()
    # the dashboard's query latency on the settled gold table: back-to-back
    # ADS reads with the chain stopped, so no batch competes for cores
    probe = [client.read() for _ in range(ADS_PROBE_READS)]
    m = _e2e(lat, probe)
    # the tracked files' ODS rows over the time until ADS reflects the last
    # of them, from the first one's due time
    visible_end = max(run.due[f] + lat[f] for f in lat)
    m["rows_per_s"] = sum(run.rows_of[f] for f in lat) / (visible_end - min(run.due.values()))
    m["workload_setup_s"] = setup_s
    m["mem_retained_mb"] = mem_mb
    errs = run.check()
    n = len(run.due)
    out = {"metrics": m, "layer": layer, "errors": errs,
           "attempted": n + len(client.reads) + len(probe), "failed": len(missing)}
    if run.tr.enabled:  # what report.py needs to split each file's freshness by layer
        out["trace_extra"] = {
            "due": run.due,
            "visible": visibility(run.due, run.chain.dws_batches, client.reads)}
    return out


# --- serving workload ----------------------------------------------------------


def serve_mixed(spark, tracer, seed: int, seconds: float) -> dict:
    from perfbench.serve import ServeRun

    return ServeRun(spark, tracer, seed, SERVE, SERVE_BATCHES, WORK).run(seconds)


WORKLOADS = {"gmall_live": gmall_live, "gmall_catchup": gmall_catchup,
             "serve_mixed": serve_mixed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] and shuffle partitions (default: the box's cores)")
    ap.add_argument("--trace-out", help="write spans and the layer report here (JSON)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ.update({
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY, "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "tmp"), "TMPDIR": os.path.join(WORK, "tmp"),
        # no /tmp/hsperfdata from either JVM: every file the run writes
        # stays in the checkout
        "SPARK_GRAFT_JVM_OPTS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    os.environ.pop("SPARK_MASTER", None)
    try:
        return _run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        scratch = os.path.join(ROOT, ".scratch")  # engine runner's staging dirs
        for name in os.listdir(scratch) if os.path.isdir(scratch) else ():
            if f"_{os.getpid()}_" in name:
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)


def _run(args) -> int:
    from perfbench.trace import Tracer

    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    from flinkrealtimedatawarehouse_spark.session import get_spark

    partitions = LIVE_SHUFFLE_PARTITIONS if args.workload == "gmall_live" else args.cpus
    spark = get_spark("perfbench", shuffle_partitions=partitions, extra_conf={
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        out = WORKLOADS[args.workload](spark, tracer, args.seed, args.seconds)
        out["metrics"]["setup_s"] = session_s + out["metrics"].pop("workload_setup_s")
        out["shuffle_partitions"] = partitions
    finally:
        stop_jvm(spark)
    return report(args, out, session_s, tracer)


def stop_jvm(spark) -> None:
    """Stop the session, then end the driver JVM (it exits when its stdin
    closes) and wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def report(args, out: dict, session_s: float, tracer) -> int:
    errs = out["errors"]
    for e in errs:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    info = {k: v for k, v in out.items()
            if k not in ("metrics", "layer", "errors", "trace_extra")}
    info["cpus"], info["driver_memory"] = args.cpus, DRIVER_MEMORY
    info["extra"] = {k: v for k, v in out["metrics"].items() if k not in E2E}
    print("info " + json.dumps(info))
    if args.trace:
        layer = {k: 0.0 for k in per_layer_units()}
        layer.update(out["layer"])
        layer["session.start_s"] = session_s
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
        if args.trace_out:
            tracer.dump(args.trace_out, {"e2e": out["metrics"], "layer": layer,
                                         "self_times": tracer.self_times(),
                                         **out.get("trace_extra", {})})
    else:
        metrics = {k: {"value": out["metrics"][k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": not errs, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics if not errs else {}}))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
