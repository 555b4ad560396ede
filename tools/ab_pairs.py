#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs with an A/A control.

    python3 tools/ab_pairs.py --parent REV [--change REV|worktree] \\
        --workload fixed_cost [--workload by_key_x20] --pairs 10 --seed0 5001 \\
        --root DIR [--seconds 15] [--claim pass_s] [--out report.json]

Exports the parent, the change and a second copy of the parent (the A/A
control) with `git archive` into DIR/parent, DIR/change and DIR/control.
`--change worktree` archives `git stash create`, the index and the tracked
files of the working tree, so stage new files first. Each tree builds its
own engine on its first run (perfbench/build.py, under the tree).

Round i (seed seed0 + i) runs `perfbench/run.py --trace 0` once per tree, in
the order parent, change, control on even rounds and control, change,
parent on odd ones, so each pair alternates which side runs first. For each
end-to-end metric of BENCHMARK.json it prints the medians and quartiles of
every tree, the pairs the change wins and the control wins against the
parent, the median change against the metric's bound, and whether the
parent's own spread (IQR / median) is inside that bound. A metric named by
--claim is checked against the two claim rules: the change is better in at
least 9 of 10 pairs, and the median gap is larger than the parent's IQR.
The control gets the same check, so drift between two copies of one tree
shows next to the claim. Last, it splits peak_mem_gb into its parts, read
from each run's .bench_build/perfbench/out/<workload>-seed<N>-trace0/
harness.json, and prints every tree's medians: the heap-after-GC peak, the
native part (peak_rss_kb less the committed heap) and the GC count.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("parent", "change", "control")
# the parts of peak_mem_gb (perfbench/run.py's peak_mem_bytes), per run
MEM_PARTS = (("heap_after_gc_gb", "heap-after-GC peak GB"), ("native_gb", "native GB"),
             ("collections", "GC collections"))


def git(*args, **kw):
    return subprocess.run(["git", *args], cwd=REPO, check=True, capture_output=True,
                          text=True, **kw).stdout.strip()


def export(rev, dest):
    """`git archive` of rev into dest, reused while it holds the same tree."""
    stamp, tree = os.path.join(dest, ".ab_tree"), git("rev-parse", rev + "^{tree}")
    if os.path.exists(stamp) and open(stamp).read() == tree:
        return
    if os.path.exists(dest) and os.listdir(dest):
        sys.exit(f"ab_pairs: {dest} holds another tree; remove it or pick another --root")
    os.makedirs(dest, exist_ok=True)
    tar = subprocess.run(["git", "archive", rev], cwd=REPO, check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)
    with open(stamp, "w") as f:
        f.write(tree)


def run(tree, workload, seed, seconds):
    """One perfbench run: its last-line JSON plus the parts of peak_mem_gb from
    its harness.json (`mem_parts`), or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  run failed (exit {p.returncode}): {p.stderr.strip()[-300:]}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    harness = os.path.join(tree, ".bench_build", "perfbench", "out",
                           f"{workload}-seed{seed}-trace0", "harness.json")
    with open(harness) as f:
        h = json.load(f)
    res["mem_parts"] = {
        "heap_after_gc_gb": float(h["heap_after_gc_peak_bytes"]) / 1e9,
        "native_gb": (float(h["peak_rss_kb"]) * 1024 - float(h["heap_committed_bytes"])) / 1e9,
        "collections": float(h["collections"])}
    return res


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q1, med, q3


def compare(base, other, better, bound):
    """Median, wins and claim rules of `other` against `base`, pair by pair."""
    q1, med, q3 = quartiles(base)
    omed = statistics.median(other)
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (b - o) > 0 for b, o in zip(base, other))
    gap = sign * (med - omed)  # > 0: other is better
    return dict(wins=wins, pairs=len(base), rel=(omed - med) / med if med else math.nan,
                within_bound=sign * (omed - med) <= bound * med,
                claim_wins=wins >= math.ceil(0.9 * len(base)), claim_gap=gap > q3 - q1)


def summarize(workload, rounds, end_to_end, claim):
    ok = [r for r in rounds if all(r[t] is not None for t in TREES)]
    print(f"\n== {workload}: {len(ok)} complete rounds of {len(rounds)}")
    for t in TREES:
        bad = sum(1 for r in ok if not r[t]["correct"] or r[t]["failed"])
        print(f"  {t}: {bad} run(s) not correct or with failed queries")
    out = {}
    for m in end_to_end:
        name, better, bound = m["name"], m["better"], m["bound"]
        vals = {t: [r[t]["metrics"][name]["value"] for r in ok] for t in TREES}
        if not vals["parent"]:
            continue
        q = {t: quartiles(v) for t, v in vals.items()}
        spread = (q["parent"][2] - q["parent"][0]) / q["parent"][1]
        print(f"  {name} [{better} better, bound {bound}]")
        for t in TREES:
            print(f"    {t:<8} median {q[t][1]:.4g}  quartiles {q[t][0]:.4g}-{q[t][2]:.4g}  "
                  f"runs {' '.join(f'{v:.4g}' for v in vals[t])}")
        print(f"    parent IQR/median {spread:.3f}: "
              f"{'resolved' if spread <= bound else 'UNRESOLVED (spread above its bound)'}")
        res = {"values": vals, "parent_spread": spread}
        for t in ("change", "control"):
            c = compare(vals["parent"], vals[t], better, bound)
            res[t] = c
            line = (f"    {t} vs parent: median {c['rel']:+.1%}, wins {c['wins']}/{c['pairs']}, "
                    f"{'within' if c['within_bound'] else 'OUTSIDE'} bound")
            if name == claim:
                line += (f"; claim rules: >=9/10 wins {'met' if c['claim_wins'] else 'NOT met'}, "
                         f"gap > parent IQR {'met' if c['claim_gap'] else 'NOT met'}")
            print(line)
        out[name] = res
    if ok:
        print("  peak_mem_gb parts (medians)")
        out["mem_parts"] = {}
        for t in TREES:
            med = {k: statistics.median(r[t]["mem_parts"][k] for r in ok) for k, _ in MEM_PARTS}
            print(f"    {t:<8} " + "  ".join(f"{label} {med[k]:.4g}" for k, label in MEM_PARTS))
            out["mem_parts"][t] = med
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--root", required=True)
    ap.add_argument("--claim")
    ap.add_argument("--out")
    a = ap.parse_args()
    change = (git("stash", "create") or "HEAD") if a.change == "worktree" else a.change
    revs = dict(parent=git("rev-parse", a.parent), change=git("rev-parse", change),
                control=git("rev-parse", a.parent))
    trees = {t: os.path.join(os.path.abspath(a.root), t) for t in TREES}
    for t in TREES:
        export(revs[t], trees[t])
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    report = {"revs": revs, "seconds": a.seconds, "workloads": {}}
    for w in a.workload:
        rounds = []
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = TREES if i % 2 == 0 else TREES[::-1]
            r = {"seed": seed}
            for t in order:
                r[t] = run(trees[t], w, seed, a.seconds)
                v = r[t]["metrics"]["pass_s"]["value"] if r[t] else None
                print(f"{w} round {i} seed {seed} {t}: pass_s {v}", flush=True)
            rounds.append(r)
        report["workloads"][w] = {"rounds": rounds,
                                  "summary": summarize(w, rounds, end_to_end, a.claim)}
        if a.out:
            with open(a.out, "w") as f:
                json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
