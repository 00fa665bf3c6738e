#!/usr/bin/env python3
"""Steadiness self-check: runs the benchmark in sets of seeded runs and
compares them against the bounds in BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--seed0 1]

Each set runs every workload `--runs` times, each run with its own seed
(workloads interleaved, so a burst of host load spreads over all of them).
Per set, workload and end-to-end metric it prints the median and the spread
(interquartile distance over the median, statistics.quantiles(n=4)); a
spread above the metric's bound fails, one above a third of the bound is
flagged. setup_s's spread is printed but not bounded, as in the acceptance
rule this mirrors: cold JVM starts scatter more than warm passes, so only its
median is held. With two or more sets it also fails a metric whose median got
worse than the first set's by more than its bound. Raw results go
to <build dir>/steady.json. Exit code 1 on any failure.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402


def run_once(cfg, workload, seed):
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(cfg["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    metrics = {m["name"]: m for m in cfg["end_to_end"]}

    sets = []
    for s in range(a.sets):
        runs = {w: [] for w in workloads}
        for i in range(a.runs):
            seed = a.seed0 + s * a.runs + i
            for w in workloads:
                r = run_once(cfg, w, seed)
                runs[w].append(r)
                print(f"set {s + 1} {w} seed {seed}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} "
                      f"pass_s={r['metrics']['pass_s']['value']:.3f}", flush=True)
        sets.append(runs)
    with open(os.path.join(build.build_dir(), "steady.json"), "w") as f:
        json.dump(sets, f)

    ok = True
    for w in workloads:
        print(f"\n{w}")
        first = {}
        for s, runs in enumerate(sets):
            if not all(r["correct"] for r in runs[w]):
                print(f"  set {s + 1}: incorrect results")
                ok = False
            for name, m in metrics.items():
                vals = [r["metrics"][name]["value"] for r in runs[w]]
                med, sp = statistics.median(vals), spread(vals)
                verdict = "ok" if name != "setup_s" else "ok (spread not bounded)"
                if name != "setup_s" and sp > m["bound"]:
                    verdict, ok = "FAIL spread", False
                elif name != "setup_s" and sp > m["bound"] / 3:
                    verdict = "flag: spread above a third of the bound"
                if s == 0:
                    first[name] = med
                else:
                    worse = (med - first[name]) / first[name]
                    if m["better"] == "higher":
                        worse = -worse
                    if worse > m["bound"]:
                        verdict, ok = f"FAIL median {worse:+.1%} vs set 1", False
                print(f"  set {s + 1} {name:20s} median {med:10.4f} spread {sp:6.1%} "
                      f"(bound {m['bound']:.0%}) {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
