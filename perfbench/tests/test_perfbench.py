"""Tests of the benchmark itself, at toy sizes.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import io
import json
import os
import shutil
import sys
import time
from contextlib import redirect_stdout
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.gen import GmallGen, serve_tables, write_ods  # noqa: E402

TINY_LIVE = dict(n_mid=40, log_per_file=6, orders_per_file=0.5, tick_ms=100)
TINY_SERVE = dict(n_docs=120, n_vec=60, dim=8, n_orders=80, n_parts=30, n_cells=4)


def _ods_bytes(root: str, seed: int, n: int) -> dict[str, bytes]:
    gen = GmallGen(seed, **TINY_LIVE)
    for fid in range(n):
        log, db = gen.file(fid)
        write_ods(root, fid, log, gen.dim_load(fid) + db if fid == 0 else db)
    return {os.path.relpath(p, root): open(p, "rb").read()
            for p in sorted(glob.glob(os.path.join(root, "*", "*.json")))}


def test_same_seed_gives_byte_identical_ods_files(tmp_path):
    for name in ("a", "b", "c"):
        for topic in ("ods_base_log", "ods_base_db"):
            os.makedirs(tmp_path / name / topic)
    a = _ods_bytes(str(tmp_path / "a"), 7, 12)
    b = _ods_bytes(str(tmp_path / "b"), 7, 12)
    c = _ods_bytes(str(tmp_path / "c"), 8, 12)
    assert len(a) == 24 and a == b
    assert a != c
    assert serve_tables(7, **TINY_SERVE) == serve_tables(7, **TINY_SERVE)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from flinkrealtimedatawarehouse_spark.session import get_spark

    yield get_spark("perfbench-tests", shuffle_partitions=2, extra_conf={
        "spark.sql.streaming.numRecentProgressUpdates": "10000"})
    # the engine runner stages stream inputs and checkpoints under .scratch/
    for d in glob.glob(os.path.join(ROOT, ".scratch", f"*_{os.getpid()}_*")):
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def small(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(bench, "LIVE", TINY_LIVE)
    monkeypatch.setattr(bench, "SERVE", TINY_SERVE)
    monkeypatch.setattr(bench, "SERVE_BATCHES", {"postings": 3, "ivf": 3, "wide": 3})
    monkeypatch.setattr(bench, "LIVE_WARM_S", 0.4)


def _report(out: dict, trace: bool, tracer) -> dict:
    args = SimpleNamespace(trace=int(trace), cpus=2, trace_out=None)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = bench.report(args, out, 1.0, tracer)
    assert rc == 0, buf.getvalue()
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["gmall_live", "serve_mixed"])
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_is_emitted_with_its_unit(spark, small, workload, trace):
    from perfbench.trace import Tracer

    tracer = Tracer(trace)
    out = bench.WORKLOADS[workload](spark, tracer, 3, 1.0)
    out["metrics"]["setup_s"] = out["metrics"].pop("workload_setup_s")
    res = _report(out, trace, tracer)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = bench.per_layer_units() if trace else bench.E2E
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert names == want


def test_corrupted_gold_table_fails_the_output_check(spark, small):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.chain import AdsClient
    from perfbench.trace import Tracer

    run = bench.GmallRun(spark, Tracer(False), 5, TINY_LIVE, None)
    run.setup()
    client = AdsClient(run.chain)
    client.start()
    for _ in range(5):
        fid, log, db = run.make_file()
        run.publish(fid, log, db, 0.0, track=True)
    fid, log, db = run.make_file(flush=True)
    run.publish(fid, log, db, 0.0, track=False)
    assert run.drain(client, time.time() + 120) == []
    client.stop()
    run.chain.stop()
    assert run.check() == []
    latest = os.path.join(run.chain.gold_dir, f"v{run.chain.gold.version}")
    part, t = next((p, t) for p in sorted(glob.glob(os.path.join(latest, "*.parquet")))
                   if (t := pq.read_table(p)).num_rows)
    ct = t.column("ct").to_pylist()
    ct[0] += 1
    pq.write_table(t.set_column(t.schema.get_field_index("ct"), "ct",
                                pa.array(ct, t.schema.field("ct").type)), part)
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    os.remove(crc)  # the local filesystem would reject the edited file by checksum
    errs = run.check()
    assert any(e.startswith("gold:") for e in errs), errs
