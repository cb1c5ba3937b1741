#!/usr/bin/env python3
"""Steadiness and tracing-overhead report for the benchmark.

    python3 perfbench/steady.py [--out report.md]

For each of BENCHMARK.json's workloads, runs ``run.py`` for
BENCHMARK.json's ``run_seconds``: untraced on seeds 1..10, untraced again
five times on seed 1, and traced on seeds 1..3. It reports per end-to-end
metric the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread (q3 - q1) / median over the ten seeds against the metric's bound,
next to the spread of the same-seed repeats (run-to-run noise with the
inputs held fixed); per traced run the layer counts that depend on the
inputs; and the tracing overhead: median traced ``trace.warm_pass_s`` minus
median untraced ``warm_pass_s``. Runs one after another, from the
repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)      # untraced, one run per seed
REPEATS = 5               # untraced runs of the first seed
TRACED = 3                # traced runs, on the first seeds
TRACED_COUNTS = ["ops.cc_rounds", "exec.jobs", "plans.share", "sources.bytes_written_mb"]


def run_once(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: run failed")
    res = json.loads(lines[-1])
    kind = "traced" if trace else "untraced"
    print(f"{workload} seed {seed} {kind}: {json.dumps(res)}", file=sys.stderr, flush=True)
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out")
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    lines = ["| workload | metric | unit | median | q1 | q3 | spread | bound | spread < bound/3 "
             "| same-seed spread |",
             "|---|---|---|---|---|---|---|---|---|---|"]
    counts = [f"| workload | seed | {' | '.join(TRACED_COUNTS)} |",
              "|---|---|" + "---|" * len(TRACED_COUNTS)]
    overhead = ["| workload | warm_pass_s untraced | traced | traced - untraced | share "
                "| incorrect runs |",
                "|---|---|---|---|---|---|"]
    raw = {}
    for w in [x["name"] for x in bench["workloads"]]:
        res = [run_once(w, s, seconds, 0) for s in SEEDS]
        rep = [run_once(w, SEEDS[0], seconds, 0) for _ in range(REPEATS)]
        traced = [run_once(w, s, seconds, 1) for s in SEEDS[:TRACED]]
        raw[w] = {"untraced": res, "repeats": rep, "traced": traced}
        bad = sum(1 for r in res + rep + traced if not r["correct"])
        for m in bench["end_to_end"]:
            name = m["name"]
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in res])
            same = spread([r["metrics"][name]["value"] for r in rep])[3]
            ok = "yes" if sp < m["bound"] / 3 else "NO"
            lines.append(f"| {w} | {name} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                         f"| {sp:.3f} | {m['bound']} | {ok} | {same:.3f} |")
        for s, r in zip(SEEDS, traced):
            counts.append(f"| {w} | {s} | "
                          + " | ".join(f"{r['metrics'][n]['value']:.4g}" for n in TRACED_COUNTS)
                          + " |")
        t = statistics.median(r["metrics"]["trace.warm_pass_s"]["value"] for r in traced)
        u = statistics.median(r["metrics"]["warm_pass_s"]["value"] for r in res)
        overhead.append(f"| {w} | {u:.3f} | {t:.3f} | {t - u:+.3f} | {(t - u) / u:+.1%} | {bad} |")
        print(f"{w}: done", file=sys.stderr, flush=True)
    report = "\n".join(lines + [""] + counts + [""] + overhead)
    print(report)
    if a.out:
        with open(a.out, "w") as f:
            f.write(report + "\n")
        with open(a.out + ".json", "w") as f:
            json.dump(raw, f)


if __name__ == "__main__":
    main()
