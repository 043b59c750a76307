#!/usr/bin/env python3
"""Compare a parent and a change commit with the benchmark, in pairs.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--pairs 10]
    python3 perfbench/compare.py --spread DIR [--runs 10]

PARENT_DIR and CHANGE_DIR are checkouts of the two commits. Pair i runs
both sides on seed 100+i with the same settings (run_seconds from
BENCHMARK.json); even pairs run the parent first, odd pairs the change
first. For every workload and end-to-end metric it prints each side's
median and quartiles, the change's pair wins, and a verdict:

  gain        the change wins >= 9/10 of the pairs (ties count for
              neither) and the medians differ, in the better direction,
              by more than the parent's interquartile spread
  regression  the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  the parent's spread is wider than the bound and not every
              change run beats every parent run
  flat        none of the above

--spread runs one checkout RUNS times per workload on seeds 100, 101, ...,
and prints each end-to-end metric's median and its interquartile
distance as a share of the median, next to the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SEED0 = 100


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, timeout=1000)
    lines = [l for l in r.stdout.decode().splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed in {root}: {' '.join(cmd)}")
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, res["failed"]


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, parent, change):
    better_low = metric["better"] == "lower"
    wins = sum(1 for p, c in zip(parent, change)
               if (c < p if better_low else c > p))
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = (pm - cm) if better_low else (cm - pm)
    if wins >= 0.9 * len(parent) and gap > p3 - p1:
        v = "gain"
    elif -gap > metric["bound"] * pm:
        v = "regression"
    elif (p3 - p1) > metric["bound"] * pm and not (
            max(change) < min(parent) if better_low else min(change) > max(parent)):
        v = "unresolved"
    else:
        v = "flat"
    return wins, (p1, pm, p3), quartiles(change), v


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--spread", metavar="DIR")
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()

    if a.spread:
        spec = load_spec(a.spread)
        for w in (w["name"] for w in spec["workloads"]):
            runs = [run_once(a.spread, spec, w, SEED0 + i) for i in range(a.runs)]
            for metric in spec["end_to_end"]:
                xs = [m[metric["name"]] for m, _ in runs]
                q1, med, q3 = quartiles(xs)
                print(f"{w:<16}{metric['name']:<20}median {med:<12.5g}"
                      f"spread {(q3 - q1) / med:<8.3f}bound {metric['bound']}"
                      f"  values {' '.join(f'{x:.4g}' for x in xs)}")
            print(f"{w:<16}failed operations: {sum(f for _, f in runs)}")
        return

    if not (a.parent and a.change):
        ap.error("PARENT_DIR and CHANGE_DIR are required")
    if a.pairs < 10:
        ap.error("at least 10 pairs")
    spec = load_spec(a.change)
    workloads = [w["name"] for w in spec["workloads"]]
    data = {w: {"parent": [], "change": [], "failed": [0, 0]} for w in workloads}
    for w in workloads:
        for i in range(a.pairs):
            sides = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in sides:
                root = a.parent if side == "parent" else a.change
                m, failed = run_once(root, spec, w, SEED0 + i)
                data[w][side].append(m)
                data[w]["failed"][side == "change"] += failed
                print(f"{w} pair {i} {side}: {json.dumps(m)}", file=sys.stderr)

    hdr = (f"{'workload':<16}{'metric':<20}{'parent q1/med/q3':<30}"
           f"{'change q1/med/q3':<30}{'wins':<8}verdict")
    print(hdr)
    for w, runs in data.items():
        for metric in spec["end_to_end"]:
            n = metric["name"]
            p = [r[n] for r in runs["parent"]]
            c = [r[n] for r in runs["change"]]
            wins, pq, cq, v = verdict(metric, p, c)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:<16}{n:<20}{fmt(pq):<30}{fmt(cq):<30}"
                  f"{f'{wins}/{len(p)}':<8}{v}")
        pf, cf = runs["failed"]
        if cf > pf:
            print(f"{w:<16}more failed operations on the change ({cf} vs {pf}): "
                  "no gain counts")


if __name__ == "__main__":
    main()
