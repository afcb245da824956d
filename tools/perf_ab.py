#!/usr/bin/env python3
"""Interleaved A/B of the working tree against a parent revision on one
perfbench workload.

    python3 tools/perf_ab.py --parent REV --workload ingest_steady --pairs 10 \
        [--seed-base 9101] [--warmup 0] [--work DIR]

Run from the repository root. The parent's src/, perfbench/ and
BENCHMARK.json are exported with `git archive` into a scratch directory
(no worktree). Pair i runs `perfbench/run.py --trace 0` once on each side
with seed `seed-base + i`; even pairs run the parent first, odd pairs the
change, for BENCHMARK.json's `run_seconds`. Each side builds and runs
from its own checkout.

For every end-to-end metric of BENCHMARK.json the script prints each
side's median and quartiles, the pairs the change won, lost and tied, and
a verdict:

  gain        the change won at least 9/10 of all pairs run (a pair
              with a failed run counts as not won), its median beats the
              parent's by more than the parent's quartile distance, and
              it had no more incorrect runs than the parent;
  worse       the change's median is worse than the parent's by more than
              the metric's bound (a share of the parent's median);
  unresolved  the parent's quartile distance exceeds the bound, and not
              every change run beats every parent run;
  within      none of the above.

Under the table it prints each side's median `loadavg_pre` and `steal_s`
from the runs' result files (`.bench_build/results/<workload>-seed<n>-
trace0.json` in that side's checkout) and marks the pairs where either
run's CPU steal exceeded 5 s: contention the verdict cannot see.
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def export(rev, dest):
    os.makedirs(dest, exist_ok=True)
    for sub in ("src", "perfbench"):
        shutil.rmtree(os.path.join(dest, sub), ignore_errors=True)
    archive = subprocess.run(["git", "archive", rev, "src", "perfbench", "BENCHMARK.json"],
                             cwd=ROOT, stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


STEAL_MARK_S = 5.0


def telemetry(checkout, workload, seed):
    """(loadavg_pre, steal_s) from a run's result file; None where absent."""
    path = os.path.join(checkout, ".bench_build", "results", f"{workload}-seed{seed}-trace0.json")
    try:
        t = json.load(open(path)).get("telemetry", {})
    except (OSError, ValueError):
        return None, None
    return t.get("loadavg_pre"), t.get("steal_s")


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns (metrics dict or None, correct)."""
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or not lines:
        print(f"  run failed in {checkout} (exit {r.returncode}): {r.stderr.strip()[-300:]}",
              file=sys.stderr)
        return None, False
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, bool(res["correct"])


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        i = p * (len(s) - 1)
        lo, hi = math.floor(i), math.ceil(i)
        return s[lo] + (s[hi] - s[lo]) * (i - lo)
    return q(0.25), q(0.5), q(0.75)


def verdict(parent, change, better, bound, incorrect):
    """parent, change: one value per pair run, None where the run failed;
    incorrect: incorrect runs per side."""
    def beats(x, y):  # x reads better than y
        return x < y if better == "lower" else x > y
    pairs = [(p, c) for p, c in zip(parent, change) if p is not None and c is not None]
    if not pairs:
        return 0, 0, 0, "no pairs"
    wins = sum(1 for p, c in pairs if beats(c, p))
    losses = sum(1 for p, c in pairs if beats(p, c))
    pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
    cmed = quartiles([c for _, c in pairs])[1]
    iqr = pq3 - pq1
    gain = pmed - cmed if better == "lower" else cmed - pmed
    if wins >= 0.9 * len(parent) and gain > iqr and incorrect["change"] <= incorrect["parent"]:
        v = "gain"
    elif -gain > bound * abs(pmed):
        v = "worse"
    elif iqr > bound * abs(pmed) and not all(beats(c, p) for _, c in pairs for p, _ in pairs):
        v = "unresolved"
    else:
        v = "within"
    return wins, losses, len(pairs) - wins - losses, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="parent revision, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed-base", type=int, default=9101)
    ap.add_argument("--warmup", type=int, default=0,
                    help="discarded runs per side before the pairs (builds, gate data)")
    ap.add_argument("--work", help="directory for the parent's export; kept, and reused for its build")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    work = a.work or tempfile.mkdtemp(prefix="perf_ab-")
    parent_dir = os.path.join(work, "parent")
    export(a.parent, parent_dir)
    sides = {"parent": parent_dir, "change": ROOT}
    try:
        for side, d in sides.items():
            for k in range(a.warmup):
                print(f"warm-up {side} {k + 1}/{a.warmup}", file=sys.stderr)
                run_once(d, a.workload, a.seed_base - 1 - k, seconds)

        runs = {"parent": [], "change": []}
        tele = {"parent": [], "change": []}
        incorrect = {"parent": 0, "change": 0}
        for i in range(a.pairs):
            seed = a.seed_base + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                m, ok = run_once(sides[side], a.workload, seed, seconds)
                runs[side].append(m)
                tele[side].append(telemetry(sides[side], a.workload, seed))
                incorrect[side] += 0 if ok else 1
                shown = " ".join(f"{k}={v:.3f}" for k, v in sorted((m or {}).items()))
                print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: {shown or 'FAILED'}"
                      f"{'' if ok else ' (incorrect)'}", file=sys.stderr, flush=True)
    finally:
        if not a.work:
            shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload}: {a.pairs} pairs, seeds {a.seed_base}..{a.seed_base + a.pairs - 1}, "
          f"--seconds {seconds}, parent {a.parent}; incorrect runs: parent {incorrect['parent']}, "
          f"change {incorrect['change']}")
    print(f"{'metric':<10} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'delta':>8} {'W-L-T':>7}  verdict")
    for m in spec["end_to_end"]:
        name = m["name"]
        p = [r[name] if r else None for r in runs["parent"]]
        c = [r[name] if r else None for r in runs["change"]]
        wins, losses, ties, v = verdict(p, c, m["better"], m["bound"], incorrect)
        if v == "no pairs":
            print(f"{name:<10} no complete pairs")
            continue
        pq = quartiles([x for x in p if x is not None])
        cq = quartiles([x for x in c if x is not None])
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        print(f"{name:<10} {pq[0]:>8.3f}/{pq[1]:>8.3f}/{pq[2]:>8.3f} "
              f"{cq[0]:>8.3f}/{cq[1]:>8.3f}/{cq[2]:>8.3f} {delta:>+7.1%} "
              f"{wins:>2}-{losses}-{ties}  {v}")

    def median(xs):
        xs = [x for x in xs if x is not None]
        return f"{quartiles(xs)[1]:.2f}" if xs else "n/a"
    for side in ("parent", "change"):
        print(f"{side:<7} median loadavg_pre {median([t[0] for t in tele[side]])}, "
              f"median steal_s {median([t[1] for t in tele[side]])}")
    stolen = [i + 1 for i, (p, c) in enumerate(zip(tele["parent"], tele["change"]))
              if any(s is not None and s > STEAL_MARK_S for s in (p[1], c[1]))]
    print(f"pairs with steal_s > {STEAL_MARK_S:g} s on either run: "
          f"{', '.join(map(str, stolen)) if stolen else 'none'}")


if __name__ == "__main__":
    main()
