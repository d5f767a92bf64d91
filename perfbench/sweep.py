"""Run the benchmark over many seeds and report each metric's spread.

    python3 perfbench/sweep.py --seeds 1-10 [--save A.json]
    python3 perfbench/sweep.py --compare A.json B.json

Runs ``run.py --trace 0`` once per (seed, workload) with ``run_seconds`` from
BENCHMARK.json, alternating the workload order from one seed to the next so
that host drift spreads evenly over the workloads.  For every end-to-end
metric it prints the median, the quartiles (``statistics.quantiles(values,
n=4)``) and the spread, (q3 - q1) / median, next to a third of the
metric's bound.  ``--compare`` checks that the second set's medians are
not worse than the first's by more than each metric's bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def parse_seeds(text: str) -> list:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    t0 = time.time()
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = res.stdout.strip().splitlines()
    out = {"workload": workload, "seed": seed, "exit": res.returncode,
           "run_s": time.time() - t0}
    if res.returncode == 0 and lines:
        out["result"] = json.loads(lines[-1])
    else:
        out["stderr_tail"] = res.stderr[-2000:]
    return out


def summarize(spec: dict, runs: list) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for wl in sorted({r["workload"] for r in runs}):
        ok = [r for r in runs if r["workload"] == wl and "result" in r]
        per = {"runs": len(ok),
               "incorrect": sum(1 for r in ok if not r["result"]["correct"]),
               "run_s_max": max((r["run_s"] for r in ok), default=0.0)}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in ok
                    if name in r["result"]["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            per[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med, "third_of_bound": bound / 3,
                         "values": vals}
        summary[wl] = per
    return summary


def compare(spec: dict, first: dict, second: dict) -> bool:
    ok = True
    for m in spec["end_to_end"]:
        for wl in sorted(first):
            if m["name"] not in first[wl] or m["name"] not in second.get(wl, {}):
                continue
            a = first[wl][m["name"]]["median"]
            b = second[wl][m["name"]]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            good = worse <= m["bound"]
            ok &= good
            print(f"{wl:8s} {m['name']:14s} {a:12.4f} -> {b:12.4f} "
                  f"worse by {worse:+.3f} (bound {m['bound']}) "
                  f"{'ok' if good else 'FAIL'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save", default=None)
    ap.add_argument("--compare", nargs=2, default=None)
    args = ap.parse_args()
    spec = load_spec()

    if args.compare:
        with open(args.compare[0], encoding="utf-8") as fa, \
                open(args.compare[1], encoding="utf-8") as fb:
            return 0 if compare(spec, json.load(fa)["summary"],
                                json.load(fb)["summary"]) else 1

    workloads = [w["name"] for w in spec["workloads"]]
    runs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for wl in order:
            r = run_once(spec, wl, seed)
            runs.append(r)
            status = (r["result"]["correct"] if "result" in r
                      else f"exit {r['exit']}")
            print(f"seed {seed} {wl}: {r['run_s']:.1f} s, correct={status}",
                  flush=True)
    summary = summarize(spec, runs)
    for wl, per in summary.items():
        print(f"== {wl}: {per['runs']} runs, {per['incorrect']} incorrect, "
              f"longest run {per['run_s_max']:.1f} s")
        for name, s in per.items():
            if isinstance(s, dict):
                print(f"  {name:14s} median {s['median']:.4f} "
                      f"q1 {s['q1']:.4f} q3 {s['q3']:.4f} "
                      f"spread {s['spread']:.3f} "
                      f"(third of bound {s['third_of_bound']:.3f})")
    if args.save:
        with open(args.save, "w", encoding="utf-8") as fh:
            json.dump({"runs": runs, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
