"""Reports over benchmark runs: seed spreads, and the traced layer report.

    # ten seeds of one workload: median and quartile spread of every metric
    python3 perfbench/report.py spread --workload gmall_live --seeds 1-10

    # one untraced and one traced run on the same seed: per-layer self time,
    # tracing overhead, and (gmall_live) the blocking-path account of fresh_p50_s
    python3 perfbench/report.py layers --workload gmall_live --seed 1

Both run ``perfbench/run.py`` as a subprocess per run, from the repository
root, with the run length from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ACCOUNT_TOLERANCE = 0.25  # |sum of median parts / untraced fresh_p50_s - 1| allowed


def run_seconds() -> int:
    with open("BENCHMARK.json") as f:
        return json.load(f)["run_seconds"]


def run_once(workload: str, seed: int, trace: int, trace_out: str | None = None) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(run_seconds()), "--trace", str(trace)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    p = subprocess.run(cmd, capture_output=True, text=True, check=False)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed ({p.returncode}): {' '.join(cmd)}\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def spread(workload: str, seeds: list[int]) -> None:
    values: dict[str, list[float]] = {}
    units = {}
    for s in seeds:
        out = run_once(workload, s, 0)
        print(f"seed {s}: " + json.dumps({k: round(v["value"], 4)
                                          for k, v in out["metrics"].items()}), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    print(f"{'metric':<16} {'unit':<6} {'median':>12} {'iqr/median':>10}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:<16} {units[k]:<6} {med:>12.4f} {(q3 - q1) / med:>10.4f}")


def layers(workload: str, seed: int) -> None:
    plain = run_once(workload, seed, 0)["metrics"]
    with tempfile.TemporaryDirectory(dir=".") as tmp:
        path = os.path.join(tmp, "trace.json")
        run_once(workload, seed, 1, path)
        with open(path) as f:
            dump = json.load(f)
    traced, layer = dump["e2e"], dump["layer"]
    print("tracing overhead (traced - untraced):")
    for k, v in plain.items():
        print(f"  {k:<16} {traced[k] - v['value']:+.4f} {v['unit']}")
    print("self time per span name (ms):")
    for name, st in sorted(dump["self_times"].items(), key=lambda x: -x[1]["self_ms"]):
        print(f"  {name:<28} n={st['n']:<5} total={st['total_ms']:>10.0f} "
              f"self={st['self_ms']:>10.0f}")
    if workload == "gmall_live":
        account(dump, plain["fresh_p50_s"]["value"])


def account(dump: dict, fresh_p50_s: float) -> None:
    """Split each tracked file's freshness along its blocking path, from the
    traced run's spans: ODS wait, DWD batch, DWM hops and waits, DWS batch
    (gold commit inside), then ADS wait + read. The parts of one file add up
    to its freshness; the medians of the parts are set against the untraced
    fresh_p50_s."""
    spans = dump["spans"]
    by_id = {s["id"]: s for s in spans}
    dwd, dws_of_version = {}, {}
    for s in spans:
        hop = by_id.get(s["parent"]) if s.get("parent") else None
        if hop is None:
            continue
        if s["name"] == "sinks.gold_commit":
            dws_of_version[s["version"]] = hop
        elif s["name"] in ("logsplit", "routing"):  # first DWD batch holding the file
            for f in s["ids"]:
                if f not in dwd or hop["start"] < dwd[f]["start"]:
                    dwd[f] = hop
    # fid -> (gold version holding its last row, end of the first ADS read
    # that saw it), as chain.visibility worked it out for fresh_p50_s
    visible = dump["visible"]
    parts = {k: [] for k in ("ods_wait", "dwd", "dwm_and_waits", "dws", "ads_wait_and_read")}
    for key, due in dump["due"].items():
        f = int(key)
        if f not in dwd or key not in visible or visible[key][0] not in dws_of_version:
            continue
        a, b = dwd[f], dws_of_version[visible[key][0]]
        parts["ods_wait"].append(a["start"] - due)
        parts["dwd"].append(a["end"] - a["start"])
        parts["dwm_and_waits"].append(b["start"] - a["end"])
        parts["dws"].append(b["end"] - b["start"])
        parts["ads_wait_and_read"].append(visible[key][1] - b["end"])
    print(f"blocking-path account of fresh_p50_s over {len(parts['dwd'])} files "
          "(median seconds per part):")
    total = 0.0
    for k, vs in parts.items():
        med = statistics.median(vs)
        total += med
        print(f"  {k:<18} {med:8.3f}")
    ratio = total / fresh_p50_s
    ok = abs(ratio - 1) <= ACCOUNT_TOLERANCE
    print(f"  sum of parts {total:.3f} s vs untraced fresh_p50_s {fresh_p50_s:.3f} s: "
          f"ratio {ratio:.2f} ({'within' if ok else 'OUTSIDE'} tolerance {ACCOUNT_TOLERANCE})")


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    a = sub.add_parser("spread")
    a.add_argument("--workload", required=True)
    a.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    b = sub.add_parser("layers")
    b.add_argument("--workload", required=True)
    b.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if args.cmd == "spread":
        spread(args.workload, _seeds(args.seeds))
    else:
        layers(args.workload, args.seed)


if __name__ == "__main__":
    main()
