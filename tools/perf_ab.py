#!/usr/bin/env python3
"""Alternating A/B runs of the repo benchmark between two checkouts.

    tools/perf_ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N [--seconds S]
                     [--report DIR]

Runs N pairs of `python3 perfbench/run.py --workload W --seed K --seconds S
--trace 0`, each side in its own checkout. Both runs of a pair use the same
seed K, drawn at random when the pair starts (never 1-3, the seeds the
benchmark's own smoke runs use), so no seed is chosen in advance. The
parent runs first in odd pairs and the change runs first in even ones, so a
drift of the host's speed falls on both sides alike.

Prints one line per run as it finishes, then per end-to-end metric each
side's median and quartiles, the change's win count over the pairs and the
gap between the medians next to the parent's interquartile range. The list
of end-to-end metrics and whether each is better higher or lower are read
from the change checkout's BENCHMARK.json. Every file a run writes stays in
its checkout (`.perfbench/`).

With `--report DIR` each run also keeps its perfbench `--report` file, as
DIR/<side>-<pair>-<seed>.json, and the script ends with each side's median
latency per op group over all its runs: per key for interactive_sf01, per
batch width for migrate_batches (an op named `batch[lo,hi)` groups under
its width hi-lo), per op name otherwise. Without it the script writes no
file itself.
"""
import argparse
import json
import os
import random
import re
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, report=None):
    """One untraced run; its result object, or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if report:
        cmd += ["--report", report]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.strip().splitlines()[-5:])
        print(f"run failed in {checkout} (exit {p.returncode}):\n{tail}",
              file=sys.stderr, flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def op_group(name):
    """The group an op's latency is reported under: a migrate batch by its
    width, any other op by its name."""
    m = re.fullmatch(r"batch\[(-?\d+),(-?\d+)\)", name)
    return f"width {int(m.group(2)) - int(m.group(1))}" if m else name


def per_op(reports):
    """Median latency (ms) and op count per op group over report files."""
    lat = {}
    for path in reports:
        with open(path) as f:
            ops = json.load(f)["ops"]
        for o in ops:
            if o["ok"]:
                lat.setdefault(op_group(o["name"]), []).append(o["latency_ms"])
    return {g: (statistics.median(xs), len(xs)) for g, xs in lat.items()}


def print_per_op(reports):
    par, chg = per_op(reports["parent"]), per_op(reports["change"])
    groups = sorted(set(par) | set(chg),
                    key=lambda g: (-par.get(g, chg.get(g))[0], g))
    print("\nper-op median latency (ms) over all runs")
    print(f"{'op':<28}{'parent':>10}{'n':>5}{'change':>10}{'n':>5}{'ratio':>8}")
    for g in groups:
        p, c = par.get(g, (float("nan"), 0)), chg.get(g, (float("nan"), 0))
        print(f"{g:<28}{p[0]:>10.1f}{p[1]:>5}{c[0]:>10.1f}{c[1]:>5}"
              f"{c[0] / p[0]:>8.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--report", metavar="DIR",
                    help="keep each run's perfbench report in DIR and print "
                         "per-op medians")
    a = ap.parse_args()
    if a.report:
        a.report = os.path.abspath(a.report)
        os.makedirs(a.report, exist_ok=True)

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    sides = {"parent": a.parent, "change": a.change}
    pairs = []
    reports = {"parent": [], "change": []}
    rng = random.SystemRandom()
    for i in range(1, a.pairs + 1):
        seed = rng.randrange(4, 1 << 31)
        order = ["parent", "change"] if i % 2 == 1 else ["change", "parent"]
        got = {}
        for side in order:
            report = (os.path.join(a.report, f"{side}-{i}-{seed}.json")
                      if a.report else None)
            r = run(sides[side], a.workload, seed, a.seconds, report)
            got[side] = r
            if r is not None and report:
                reports[side].append(report)
            if r is not None:
                vals = " ".join(f"{n}={r['metrics'][n]['value']:.4g}"
                                for n, _ in metrics if n in r["metrics"])
                print(f"pair {i} seed {seed} {side}: failed {r['failed']}/"
                      f"{r['attempted']} {vals}", flush=True)
        if got["parent"] is not None and got["change"] is not None:
            pairs.append(got)

    print(f"\n{a.workload}: {len(pairs)} complete pairs of {a.pairs}")
    print(f"{'metric':<14}{'better':>7}  {'parent q1/med/q3':>26}  "
          f"{'change q1/med/q3':>26}  {'wins':>5}  {'gap':>9}  {'parent iqr':>10}")
    for name, better in metrics:
        both = [p for p in pairs
                if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not both:
            continue
        par = [p["parent"]["metrics"][name]["value"] for p in both]
        chg = [p["change"]["metrics"][name]["value"] for p in both]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for x, y in zip(par, chg) if sign * (y - x) > 0)
        pq, cq = quartiles(par), quartiles(chg)
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:<14}{better:>7}  {fmt(pq):>26}  {fmt(cq):>26}  "
              f"{wins:>2}/{len(both):<2}  {cq[1] - pq[1]:>+9.4g}  {pq[2] - pq[0]:>10.4g}")
    for side in ("parent", "change"):
        failed = sum(p[side]["failed"] for p in pairs)
        attempted = sum(p[side]["attempted"] for p in pairs)
        print(f"{side}: {failed} of {attempted} ops failed")
    if a.report:
        print_per_op(reports)


if __name__ == "__main__":
    main()
