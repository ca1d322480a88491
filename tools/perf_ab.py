#!/usr/bin/env python3
"""Paired A/B of the pipeline benchmark between two checkouts.

Usage (from anywhere):

    python3 tools/perf_ab.py --parent DIR --change DIR --workload NAME \\
        --seeds 11-20 --out FILE

Each checkout is a full tree of the repository (a ``git worktree`` or an
unpacked ``git archive`` of each commit). For every seed the script runs
``perfbench/run.py --trace 0`` once in each checkout, for the run length
the parent's BENCHMARK.json fixes, alternating which side runs first
from seed to seed, so that drift in the host's load hits both sides
alike. FILE is rewritten after every run with all results so far;
nothing else is written, and neither checkout's ``perfbench/`` or
``BENCHMARK.json`` is touched (``run.py`` keeps its own build and scratch
under ``perfbench/target`` and ``perfbench/work``, as always).

At the end it prints, for every end-to-end metric, each side's median
and quartiles over the runs that were correct, and the change's share of
won pairs over ALL seeds run: a pair in which either side was not
correct counts as a loss, and a tie counts for neither side. It applies
this claim rule: a gain holds when the change wins at least nine tenths
of the pairs, the medians differ, in the better direction, by more than
the parent's interquartile range, and the change has no more runs that
were not correct than the parent. Which direction is better comes from
the parent's BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def benchmark(checkout):
    """(run seconds, metric -> "lower" | "higher") from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench["run_seconds"], {m["name"]: m["better"] for m in bench["end_to_end"]}


def run_one(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        tail = p.stderr.strip().splitlines()[-3:]
        return {"correct": False, "error": f"exit {p.returncode}: {' | '.join(tail)}"}
    return json.loads(lines[-1])


def value(res, m):
    """The metric's value in a correct run, else None."""
    if res and res.get("correct") and m in res.get("metrics", {}):
        return res["metrics"][m]["value"]
    return None


def summarize(records, better):
    pairs = {}
    for r in records:
        pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
    n = len(pairs)
    failed = [(r["seed"], r["side"]) for r in records if not r["result"].get("correct")]
    worse_failing = sum(s == "change" for _, s in failed) > sum(s == "parent" for _, s in failed)
    print(f"{n} seeds; a pair with a side not correct counts as a loss for the change")
    for m, way in better.items():
        par, chg, wins, losses = [], [], 0, 0
        for seed in sorted(pairs):
            a, b = pairs[seed].get("parent"), pairs[seed].get("change")
            va, vb = value(a, m), value(b, m)
            par += [] if va is None else [va]
            chg += [] if vb is None else [vb]
            if va is None or vb is None:
                losses += 1
                continue
            gain = (va - vb) if way == "lower" else (vb - va)
            wins += gain > 0
            losses += gain < 0
        if not par or not chg:
            print(f"{m}: no correct runs on one side")
            continue
        pq, cq = quartiles(par), quartiles(chg)
        gap = (pq[1] - cq[1]) if way == "lower" else (cq[1] - pq[1])
        iqr = pq[2] - pq[0]
        holds = wins >= 0.9 * n and gap > iqr and not worse_failing
        print(f"{m} ({way} is better), {n} pairs:")
        print(f"  parent  median {pq[1]:.3f}  quartiles {pq[0]:.3f} .. {pq[2]:.3f}  ({len(par)} runs)")
        print(f"  change  median {cq[1]:.3f}  quartiles {cq[0]:.3f} .. {cq[2]:.3f}  ({len(chg)} runs)")
        print(f"  change wins {wins}/{n} ({wins / n:.0%}), loses {losses}; "
              f"median gain {gap:+.3f} ({gap / pq[1]:+.1%} of parent) vs parent IQR {iqr:.3f}"
              f" -> gain {'holds' if holds else 'not shown'}")
    print(f"runs not correct: {failed if failed else 'none'}"
          + ("; the change fails more runs than the parent" if worse_failing else ""))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,3,5-7")
    ap.add_argument("--out", required=True, help="JSON file the runs are written to")
    a = ap.parse_args()
    seconds, better = benchmark(a.parent)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    records = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_one(sides[side], a.workload, seed, seconds)
            records.append({"seed": seed, "side": side, "order": order, "result": res})
            shown = {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}
            print(f"seed {seed} {side}: correct={res.get('correct')} {shown}",
                  file=sys.stderr, flush=True)
            with open(a.out, "w") as fh:
                json.dump({"workload": a.workload, "sides": sides, "runs": records},
                          fh, indent=1)
    summarize(records, better)


if __name__ == "__main__":
    main()
