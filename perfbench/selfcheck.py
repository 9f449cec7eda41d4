"""Steadiness self-check: two sets of runs of the same code.

    python3 perfbench/selfcheck.py --runs 10 [--workloads star_build,index_lifecycle] [--traced]

For every workload it makes two sets of ``--runs`` untraced runs, each run
with its own seed (set A: seeds 1..N, set B: seeds 101..100+N), one
process at a time. For every end-to-end metric it prints each set's median
and quartiles, the quartile spread as a share of the median, and the gap
between the two medians. Each run's host-calibration reading is recorded
next to its figures. ``--traced`` adds one traced run per workload and
prints its end-to-end figures against set A's medians: the tracing
overhead.

Bounds and run length are read from BENCHMARK.json. The full report is
written as JSON to ``--out`` (default: stdout only).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "detail": json.loads(lines[-2])["detail"]}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--traced", action="store_true")
    p.add_argument("--out")
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for wl in args.workloads.split(","):
        sets = {}
        for name, first in (("A", 1), ("B", 101)):
            runs = []
            for seed in range(first, first + args.runs):
                r = one_run(wl, seed, bench["run_seconds"], 0)
                m = {k: v["value"] for k, v in r["result"]["metrics"].items()}
                runs.append({"seed": seed, "metrics": m, "attempted": r["result"]["attempted"],
                             "failed": r["result"]["failed"], "correct": r["result"]["correct"],
                             "host_cal_s": r["detail"]["host_cal_s"], "process_s": r["detail"]["process_s"]})
                print(f"{wl} set {name} seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in m.items())
                      + f" failed={runs[-1]['failed']}/{runs[-1]['attempted']} host_cal={runs[-1]['host_cal_s']}"
                      + f" wall={runs[-1]['process_s']:.1f}s", flush=True)
            sets[name] = runs
        rows = {}
        for metric, bound in bounds.items():
            a = summary([r["metrics"][metric] for r in sets["A"]])
            b = summary([r["metrics"][metric] for r in sets["B"]])
            gap = (b["median"] - a["median"]) / a["median"] if a["median"] else 0.0
            rows[metric] = {"A": a, "B": b, "gap": gap, "bound": bound}
            print(f"{wl} {metric}: A median {a['median']:.4g} [{a['q1']:.4g}, {a['q3']:.4g}] spread {a['spread']:.3f}"
                  f" | B median {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] spread {b['spread']:.3f}"
                  f" | gap {gap:+.3f} | bound {bound}")
        share = {n: sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for n, s in sets.items()}
        print(f"{wl} failed share: A {share['A']:.4f} B {share['B']:.4f}")
        report[wl] = {"sets": sets, "metrics": rows, "failed_share": share}
        if args.traced:
            t = one_run(wl, 1, bench["run_seconds"], 1)
            overhead = {k: (v - rows[k]["A"]["median"]) / rows[k]["A"]["median"]
                        for k, v in t["detail"]["end_to_end"].items() if rows.get(k, {}).get("A", {}).get("median")}
            report[wl]["trace_overhead"] = overhead
            report[wl]["traced"] = {k: v["value"] for k, v in t["result"]["metrics"].items()}
            print(f"{wl} tracing overhead vs set A medians: "
                  + " ".join(f"{k}={v:+.3f}" for k, v in overhead.items()))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
