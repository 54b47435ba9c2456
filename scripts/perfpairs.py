#!/usr/bin/env python3
"""Paired parent/change runs of perfbench/run.py.

Usage (from anywhere):
  python3 scripts/perfpairs.py --parent DIR --change DIR --workload cron \
      --seeds 21-30 [--seconds 10] [--trace 0] [--out runs.jsonl]

Runs one pair per seed: perfbench/run.py in the parent checkout and in
the change checkout, with the same arguments, alternating which side
runs first. Both checkouts build their own program into their own
.bench_build/. Prints every run (its e2e metrics, loadavg, steal and
check verdict), then per end-to-end metric of BENCHMARK.json each
side's median and quartiles and the change's wins, ties and losses;
runs with --trace 1 carry the per-layer metrics instead, which are
summarised the same way.
A gain holds when the change wins at least nine tenths of the pairs
and the medians differ by more than the parent's interquartile range.
Per seed it also says whether both sides printed the same per-operation
summary lines (the program's own output, e.g. a cron tick's counts),
compared over the operations both sides ran: a timed window may fit a
different number of ticks on each side.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

RUN_LINE = re.compile(r"loadavg ([\d.]+)->([\d.]+) steal ([\d.]+)% check=(\w+)")
# "[perfbench] <op name> <wall> s <program stdout>"
OP_LINE = re.compile(r"^\[perfbench\] (\S+) [\d.]+ s (.*)$")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout}: {' '.join(cmd)} failed\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    m = next((RUN_LINE.search(l) for l in lines if RUN_LINE.search(l)), None)
    ops = [OP_LINE.match(l).groups() for l in lines[:-1] if OP_LINE.match(l)]
    return {"seed": seed, "checkout": checkout,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "correct": res["correct"], "failed": res["failed"],
            "loadavg": [float(m.group(1)), float(m.group(2))] if m else None,
            "steal_pct": float(m.group(3)) if m else None,
            "outputs": [o for _, o in ops]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 21,23,25")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append every run as a JSON line")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}

    pairs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        pair = {}
        for side, checkout in order:
            r = pair[side] = run(checkout, a, seed)
            print(f"seed={seed} {side:6s} check={'ok' if r['correct'] else 'FAILED'} "
                  f"loadavg={r['loadavg']} steal={r['steal_pct']}% "
                  + " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items()
                             if k in better), flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(dict(r, side=side, workload=a.workload)) + "\n")
        par, chg = pair["parent"]["outputs"], pair["change"]["outputs"]
        shared = min(len(par), len(chg))
        differ = [i for i in range(shared) if par[i] != chg[i]]
        counts = f"{shared} shared ops (parent {len(par)}, change {len(chg)})"
        verdict = (f"DIFFER at op {differ[0] + 1} of {counts}" if differ
                   else f"identical over {counts}" if shared
                   else f"not compared: {counts}")
        print(f"seed={seed} outputs {verdict}", flush=True)
        pairs.append(pair)

    print(f"\n{a.workload}: {len(pairs)} pairs, --seconds {a.seconds} --trace {a.trace}")
    names = [n for n in better
             if all(n in p[s]["metrics"] for p in pairs for s in p)]
    if not names:
        print("no metric of BENCHMARK.json is in every run")
    width = max([14] + [len(n) for n in names])
    print(f"{'metric':{width}s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          "wins/ties/losses  gain")
    for name in names:
        direction = better[name]
        par = [p["parent"]["metrics"][name] for p in pairs]
        chg = [p["change"]["metrics"][name] for p in pairs]
        sign = 1 if direction == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in zip(par, chg))
        ties = sum(x == y for x, y in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        gain = (wins >= 0.9 * len(pairs) and sign * (pq[1] - cq[1]) > pq[2] - pq[0])
        print(f"{name:{width}s} {'/'.join(f'{v:.4g}' for v in pq):>28s} "
              f"{'/'.join(f'{v:.4g}' for v in cq):>28s} "
              f"{wins:>4d}/{ties}/{len(pairs) - wins - ties}         {'yes' if gain else 'no'}")
    bad = [(p[s]["seed"], s) for p in pairs for s in p if not p[s]["correct"]]
    print("every run check=ok" if not bad else f"check FAILED: {bad}")


if __name__ == "__main__":
    main()
