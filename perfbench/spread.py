"""Run the benchmark over several seeds and report, per workload and
metric, the median and the quartile spread ((Q3 - Q1) / median) that
BENCHMARK.json's bounds are checked against.

    python3 perfbench/spread.py --workloads rollup_ingest segment_graphs \
        --seeds 1-10 --out perfbench/results/spread.json

Runs are sequential, one fresh process each, with BENCHMARK.json's
run_seconds unless --seconds is given.  A run that leaves a process
running in the checkout stops the script with an error."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def _ancestors() -> set[int]:
    pids, pid = set(), os.getpid()
    while pid > 1:
        pids.add(pid)
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        pid = int(stat[stat.rfind(")") + 2:].split()[1])
    return pids


def leftovers() -> list[str]:
    """Live processes, other than this one and its ancestors, whose
    working directory is in the checkout: what a run left running."""
    mine = _ancestors()
    out = []
    for e in os.listdir("/proc"):
        if not e.isdigit() or int(e) in mine:
            continue
        try:
            cwd = os.readlink(f"/proc/{e}/cwd")
            with open(f"/proc/{e}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended, or not ours to look at
        if (cwd == ROOT or cwd.startswith(ROOT + os.sep)) \
                and stat[stat.rfind(")") + 2] != "Z":
            out.append(stat[:stat.rfind(")") + 1])
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    left = leftovers()
    if left:
        raise RuntimeError(f"{workload} seed {seed} left running: {left}")
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    return {"wall_s": wall, "detail": json.loads(lines[-2]),
            "result": json.loads(lines[-1])}


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {"started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "seconds": args.seconds, "trace": args.trace,
              "seeds": args.seeds, "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            r = run_once(w, seed, args.seconds, args.trace)
            runs.append(r)
            print(f"{w} seed={seed} wall={r['wall_s']:.1f}s correct="
                  f"{r['result']['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in
                             r["result"]["metrics"].items()
                             if k in bounds or args.trace),
                  flush=True)
        summary = {}
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            summary[name] = {
                "median": med, "values": vals,
                "spread": quartile_spread(vals) if med and len(vals) > 1
                else 0.0,
                "bound": bounds.get(name)}
        report["workloads"][w] = {
            "run_wall_s": [r["wall_s"] for r in runs],
            "runs": [{k: r["detail"][k] for k in (
                "seed", "ops", "busy_s", "latency_by_kind", "setup", "host",
                "peak_mem_mb", "persisted_rdds_after_op", "errors")}
                for r in runs],
            "all_correct": all(r["result"]["correct"] for r in runs),
            "metrics": summary}
        for name, s in summary.items():
            if s["bound"] is not None:
                print(f"  {w} {name}: median={s['median']:.4g} "
                      f"spread={s['spread']:.3f} bound={s['bound']}")
    report["finished"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
