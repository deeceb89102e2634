"""serve_mixed: streamed upkeep of the serving stores, then closed-loop reads.

Phase 1 streams the generated documents, embeddings and lineitem rows into
the streamed postings index (``searchindex.PostingsIndexSink``), the IVF
index (``simsearch.IvfIndexSink``) and the wide gold table
(``serving.stream_wide_product_upkeep``), in enough micro-batches that
tiered compaction folds fire. Phase 2 is one client issuing a seeded mix
of ADS views, streamed searches and their as-of variants back to back.
A sample of answers is checked against the batch twins (``bm25_search``,
``bm25_search_many``, ``ivf_topk``, ``build_wide_product`` views).
"""

from __future__ import annotations

import math
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark import serving
from flinkrealtimedatawarehouse_spark.datapipeline import similarity, textstats
from flinkrealtimedatawarehouse_spark.streaming import runner, searchindex, simsearch
from flinkrealtimedatawarehouse_spark.tables import load_table

from perfbench.gen import WORDS, serve_tables
from perfbench.trace import Tracer, mem_retained_mb, median, pct
from perfbench import twins

# the stores' default policy folds 16 batches once 20 are unfolded; that many
# micro-batches per store take longer than a run may (README), so the same
# fold path runs on a smaller policy: the oldest batch folded once 2 are
# unfolded, so each of the two indexes folds once
COMPACTION = dict(compact_every=1, keep_recent=1)
TS_COLS = {"o_orderdate", "l_shipdate", "ts"}
# one client issues whole passes over this list, as many as fit in the run
# time, so every run issues the same composition; search terms and top-k
# probes are drawn from the seed
MIX = ("view", "search", "wide_view", "topk", "search_many", "search_asof", "wide_asof",
       "topk_asof")
SAMPLED = 1  # answers per checked query kind compared with their batch twin


def write_tables(rows: dict[str, list[dict]], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, recs in rows.items():
        cols = {k: [r[k] for r in recs] for k in recs[0]}
        arrays = {}
        for k, v in cols.items():
            if k in TS_COLS:
                arrays[k] = pa.array([x * 1_000_000 for x in v], pa.timestamp("us"))
            elif k == "embedding":
                arrays[k] = pa.array(v, pa.list_(pa.float32()))
            else:
                arrays[k] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(sf_dir, f"{name}.parquet"))


def gmean(values: list[float]) -> float:
    """Geometric mean: each query kind moves it by its own relative change,
    whatever its share of the mix's time."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


class ServeRun:
    def __init__(self, spark, tracer: Tracer, seed: int, shape: dict,
                 n_batches: dict[str, int], work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.shape, self.n_batches, self.work = shape, n_batches, work
        self.answers: dict[str, list] = {}
        self.calls: dict[str, int] = {}
        self.folds = 0

    # --- set-up -------------------------------------------------------------

    def setup(self) -> float:
        """Generate and write the tables, stage the upkeep input and register
        the ADS views; returns seconds. Once per run: a second set-up for a
        median would not fit the run time (README)."""
        t0 = time.perf_counter()
        spark = self.spark
        self.root = os.path.join(self.work, "serve")
        self.sf = os.path.join(self.root, "sf")
        tables = serve_tables(self.seed, **self.shape)
        self.rows = sum(len(tables[t]) for t in ("documents", "embeddings", "lineitem"))
        write_tables(tables, self.sf)
        self.docs = load_table(spark, self.sf, "documents")
        self.emb = load_table(spark, self.sf, "embeddings")
        nb = self.n_batches
        self.staged = {
            "postings": searchindex.stage_postings_input(self.docs, "doc_id", "text",
                                                         nb["postings"]),
            "ivf": simsearch.stage_ivf_input(self.emb, "vec_id", "embedding", "label", nb["ivf"]),
            "wide": serving.stage_wide_input(spark, self.sf, nb["wide"]),
        }
        self.views = serving.register_serving_views(spark, self.sf)
        return time.perf_counter() - t0

    # --- phase 1: upkeep ----------------------------------------------------

    def _traced(self, name: str, sink):
        """Wrap a sink's write_batch in a span and count compaction folds."""
        def write_batch(batch, bid):
            before = sink.store.folded_through()
            with self.tr.span(name, batch=bid):
                sink.write_batch(batch, bid)
            self.folds += sink.store.folded_through() != before
        return write_batch

    def upkeep(self) -> tuple[float, list[float], int]:
        """Returns (seconds, per-row commit latency in seconds, rows). A row's
        latency is its micro-batch's: from the batch's start (the previous
        one has committed, so its input is next in line) to its commit. Each
        batch counts once per row it carried, so the percentiles are over
        rows, as a reader waiting for any one row sees them. A stream's first
        batch also pays the query's start-up, so it is left out."""
        spark, out = self.spark, os.path.join(self.root, "stores")
        lat = []

        def drive(staged, schema, sink_write, tag):
            runner.run_foreach_batch(runner.parquet_stream(spark, staged, schema),
                                     sink_write, tag)
            collect()

        def collect():
            for p in runner.LAST_PROGRESS:
                if p["batchId"] > 0:
                    lat.extend([p["durationMs"]["triggerExecution"] / 1000] * p["numInputRows"])

        t0 = time.time()
        self.postings_dir = os.path.join(out, "postings")
        self.post = searchindex.PostingsIndexSink(self.postings_dir, "doc_id", "text",
                                                  **COMPACTION)
        drive(self.staged["postings"], self.docs.select("doc_id", "text").schema,
              self._traced("searchindex.commit", self.post), "pb_postings")
        self.ivf = simsearch.IvfIndexSink(os.path.join(out, "ivf"), "vec_id", "embedding",
                                          "label", **COMPACTION)
        drive(self.staged["ivf"], self.emb.select("vec_id", "embedding", "label").schema,
              self._traced("simsearch.commit", self.ivf), "pb_ivf")
        with self.tr.span("serving.wide_upkeep"):
            self.wide = serving.stream_wide_product_upkeep(
                spark, self.sf, os.path.join(out, "wide"), self.n_batches["wide"],
                tag="pb_wide", staged_dir=self.staged["wide"])
        collect()
        return time.time() - t0, lat, self.rows

    # --- phase 2: closed-loop queries -------------------------------------

    def _query(self, kind: str, r: random.Random, qid: int):
        """Issue one query of ``kind``; returns (its parameters, its rows).
        Its span carries the query id ``qid``."""
        spark = self.spark
        nb = self.n_batches
        # which view and which as-of version a call reads cycle in a fixed
        # order, and a search has a fixed number of terms: these set a
        # query's cost, so a seeded pick would change the workload per seed
        n = self.calls[kind] = self.calls.get(kind, -1) + 1
        q = " ".join(r.choice(WORDS) for _ in range(3))
        if kind == "view":
            v = self.views[n % len(self.views)]
            with self.tr.span("serving.view", ids=[qid]):
                return v, spark.sql(f"SELECT * FROM {v}").collect()
        if kind in ("wide_view", "wide_asof"):
            ver = None if kind == "wide_view" else n % (nb["wide"] - 1)
            with self.tr.span("serving.view", ids=[qid]):
                df = self.wide.current(spark) if ver is None else self.wide.read_version(spark, ver)
                names = serving.register_wide_live_views(spark, df)
                v = names[n % len(names)]
                return (v, ver), spark.sql(f"SELECT * FROM {v}").collect()
        if kind in ("search", "search_asof"):
            b = None if kind == "search" else n % (nb["postings"] - 1)
            with self.tr.span("searchindex.search", ids=[qid]):
                return (q, b), searchindex.streamed_postings_search(
                    spark, self.postings_dir, "doc_id", q, as_of_batch=b).collect()
        if kind == "search_many":
            qs = [(i, " ".join(r.choice(WORDS) for _ in range(2))) for i in range(4)]
            with self.tr.span("searchindex.search_many", ids=[qid]):
                return qs, searchindex.streamed_postings_search_many(
                    spark, self.postings_dir, "doc_id", qs).collect()
        ids = r.sample(range(self.shape["n_vec"]), 3)
        b = None if kind == "topk" else n % (nb["ivf"] - 1)
        probes = self.emb.filter(F.col("vec_id").isin(ids)).select("vec_id", "embedding")
        with self.tr.span("simsearch.topk", ids=[qid]):
            return (tuple(ids), b), simsearch.streamed_ivf_topk(
                spark, self.ivf, probes, k=5, n_probe=2, as_of_batch=b).collect()

    def warm_up(self) -> None:
        """One untimed pass over the mix, so the timed loop measures a
        running server rather than first-plan compilation."""
        r = random.Random(self.seed * 7919)
        for i, kind in enumerate(MIX):
            self._query(kind, r, -1 - i)

    def queries(self, seconds: float) -> dict[str, list[float]]:
        """Whole passes over the mix, at least one, as long as the next pass
        (as long as the last one) ends within ``seconds``; returns each
        kind's latencies in ms."""
        r = random.Random(self.seed * 7919 + 1)
        lat: dict[str, list[float]] = {k: [] for k in MIX}
        t_end, qid, pass_s = time.time() + seconds, 0, 0.0
        while qid == 0 or time.time() + pass_s <= t_end:
            t_pass = time.time()
            for kind in MIX:
                t0 = time.perf_counter()
                key, rows = self._query(kind, r, qid)
                lat[kind].append((time.perf_counter() - t0) * 1000)
                qid += 1
                got = self.answers.setdefault(kind, [])
                if len(got) < SAMPLED:
                    got.append((key, rows))
            pass_s = time.time() - t_pass
        return lat

    # --- checks ---------------------------------------------------------------

    def check(self) -> list[str]:
        spark, errs = self.spark, []
        rnd = lambda rows: [tuple(round(v, 6) if isinstance(v, float) else v  # noqa: E731
                                  for v in row) for row in rows]
        for q, rows in ((k[0], v) for k, v in self.answers.get("search", [])):
            want = textstats.bm25_search(self.docs, "doc_id", "text", q).collect()
            errs.append(twins.compare(f"search {q!r}", rnd(rows), rnd(want)))
        for qs, rows in self.answers.get("search_many", []):
            want = textstats.bm25_search_many(self.docs, "doc_id", "text", qs).collect()
            errs.append(twins.compare(f"search_many {qs!r}", rnd(rows), rnd(want)))
        for (ids, _b), rows in self.answers.get("topk", []):
            probes = self.emb.filter(F.col("vec_id").isin(list(ids))).select("vec_id", "embedding")
            want = similarity.ivf_topk(self.emb, probes, "vec_id", "embedding", "label",
                                       k=5, n_probe=2).collect()
            errs.append(twins.compare(f"topk {ids}", rnd(rows), rnd(want)))
        wide_dir = os.path.join(self.root, "wide_batch")
        serving.build_wide_product(spark, self.sf, wide_dir)
        serving.register_wide_serving_views(spark, wide_dir)
        serving.register_wide_live_views(spark, self.wide.current(spark))
        for live, batch in (("ads_top_brand_wide_live", "ads_top_brand_wide"),
                            ("ads_gmv_day_wide_live", "ads_gmv_day_wide")):
            got = spark.sql(f"SELECT * FROM {live}").collect()
            want = spark.sql(f"SELECT * FROM {batch}").collect()
            errs.append(twins.compare(live, rnd(got), rnd(want)))
        return [e for e in errs if e]

    # --- the run --------------------------------------------------------------

    def run(self, seconds: float) -> dict:
        t = [time.time()]
        setup_s = self.setup()
        t.append(time.time())
        upkeep_s, fresh, rows = self.upkeep()
        t.append(time.time())
        self.warm_up()
        t_q = time.time()
        by_kind = self.queries(seconds)
        q_s = time.time() - t_q
        lat = [ms for v in by_kind.values() for ms in v]
        layer = {}
        if self.tr.enabled:
            layer = {
                "searchindex.commit_ms_p50": self.tr.p50_ms("searchindex.commit"),
                "searchindex.search_ms_p50": self.tr.p50_ms("searchindex.search"),
                "searchindex.search_many_ms_p50": self.tr.p50_ms("searchindex.search_many"),
                "simsearch.commit_ms_p50": self.tr.p50_ms("simsearch.commit"),
                "simsearch.topk_ms_p50": self.tr.p50_ms("simsearch.topk"),
                "compaction.folds": float(self.folds),
                "compaction.read_files": float(
                    self.post.store.file_count(self.spark)
                    + self.ivf.store.file_count(self.spark)),
                "serving.view_ms_p50": self.tr.p50_ms("serving.view"),
            }
        mem_mb = mem_retained_mb(self.spark)  # before the checks' own work
        t.append(time.time())
        errs = self.check()
        t.append(time.time())
        metrics = {
            "workload_setup_s": setup_s, "mem_retained_mb": mem_mb,
            "fresh_p50_s": median(fresh), "fresh_p90_s": pct(fresh, 90),
            "rows_per_s": rows / upkeep_s,
            "query_gmean_ms": gmean([median(v) for v in by_kind.values()]),
            "query_p50_ms": median(lat), "query_p90_ms": pct(lat, 90),
            "queries_per_s": len(lat) / q_s,
            "fresh_samples": len(fresh), "query_samples": len(lat),
            "query_p50_ms_by_kind": {k: round(median(v), 1) for k, v in by_kind.items()},
        }
        return {"metrics": metrics, "layer": layer, "errors": errs,
                "attempted": len(lat) + len(fresh), "failed": 0,
                "phase_s": dict(zip(("setup", "upkeep", "warm+queries", "check"),
                                    (round(b - a, 2) for a, b in zip(t, t[1:]))))}

