"""Same-seed A/B of a parent revision against the working tree, in
alternating pairs of benchmark runs.

    python3 tools/ab_pairs.py --parent HEAD~1 --workload incremental_loop \
        --seeds 4401-4410 [--workdir /tmp]

Run from the repository root. Each side is exported into its own
directory under --workdir: the parent with `git archive <rev>`, the change
from the working tree as `git add -A` would stage it (tracked and
untracked files, .gitignore honoured; the real index is left alone).
Each side builds its own program with `perfbench/build.py` before the
first pair, so no pair times a compile.

Pair i runs both sides on seed i with `perfbench/run.py --trace 0` for
BENCHMARK.json's run_seconds, the parent first on even pairs and the
change first on odd ones. For every end-to-end metric of BENCHMARK.json
it prints each side's median and quartiles, the relative change of the
medians, the change's wins (ties count for neither) and two verdicts:
- gain: the change wins at least nine tenths of the pairs and its median
  beats the parent's by more than the parent's interquartile range;
- bound: "ok" when the change's median is no worse than the parent's by
  more than the metric's bound, "WORSE" when it is, and "unresolved" when
  the parent's spread (interquartile range over median) is wider than
  the bound, unless every change run beats every parent run.
Every run's result line is appended to <workdir>/ab-<pid>/runs.jsonl;
the exported checkouts are deleted at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys


def git(*args, env=None):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True, env=env).stdout.strip()


def export_rev(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def working_tree_commit(workdir):
    """A commit object of the working tree as `git add -A` would stage it,
    built through a private index so the real one is untouched."""
    env = dict(os.environ, GIT_INDEX_FILE=os.path.join(workdir, "index"))
    git("read-tree", "HEAD", env=env)
    git("add", "-A", env=env)
    tree = git("write-tree", env=env)
    return git("commit-tree", tree, "-p", "HEAD", "-m", "ab_pairs change")


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_bench(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "failed": -1, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdicts(parent, change, better, bound):
    """(wins, gain verdict, bound verdict) of one metric over the pairs."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    gain = "yes" if wins >= 0.9 * len(parent) and \
        sign * (p_med - c_med) > p_q3 - p_q1 else "no"
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if p_med and (p_q3 - p_q1) / p_med > bound and not all_better:
        within = "unresolved"
    elif p_med and sign * (c_med - p_med) / p_med > bound:
        within = "WORSE"
    else:
        within = "ok"
    return wins, gain, within


def report(workload, metrics, runs):
    pairs = len(runs)
    print(f"\n{workload}: {pairs} pairs")
    print(f"{'metric':<14} {'parent median [q1, q3]':<28} "
          f"{'change median [q1, q3]':<28} {'change':>8} {'wins':>6}  "
          "gain  bound")
    for m in metrics:
        name = m["name"]
        parent = [r["parent"]["metrics"].get(name, {}).get("value")
                  for r in runs]
        change = [r["change"]["metrics"].get(name, {}).get("value")
                  for r in runs]
        if None in parent or None in change:
            print(f"{name:<14} missing in a failed run")
            continue
        p_q1, p_med, p_q3 = quartiles(parent)
        c_q1, c_med, c_q3 = quartiles(change)
        wins, gain, within = verdicts(parent, change, m["better"],
                                      m["bound"])
        rel = (c_med - p_med) / p_med * 100 if p_med else float("nan")
        print(f"{name:<14} {p_med:9.4g} [{p_q1:.4g}, {p_q3:.4g}]"
              f"{'':<6} {c_med:9.4g} [{c_q1:.4g}, {c_q3:.4g}]{'':<6} "
              f"{rel:+7.1f}% {wins:>2}/{pairs:<3}  {gain:<5} {within}")
    bad = [(r["seed"], side) for r in runs for side in ("parent", "change")
           if not r[side]["correct"] or r[side]["failed"] != 0]
    print("every run correct with 0 failed ops" if not bad
          else f"incorrect or failing runs (seed, side): {bad}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent git revision")
    ap.add_argument("--workload", action="append", required=True,
                    help="repeat for several workloads")
    ap.add_argument("--seeds", required=True,
                    help="one pair per seed, e.g. 4401-4410 or 7,9,11")
    ap.add_argument("--workdir", default="/tmp")
    a = ap.parse_args()

    seeds = parse_seeds(a.seeds)
    root = os.path.abspath(os.path.join(a.workdir, f"ab-{os.getpid()}"))
    os.makedirs(root)
    sides = {"parent": os.path.join(root, "parent"),
             "change": os.path.join(root, "change")}
    try:
        export_rev(a.parent, sides["parent"])
        export_rev(working_tree_commit(root), sides["change"])
        for side, d in sides.items():
            print(f"ab_pairs: building {side}", file=sys.stderr)
            subprocess.run([sys.executable, "perfbench/build.py"], cwd=d,
                           check=True, stdout=subprocess.DEVNULL)
        with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
            bench = json.load(f)
        metrics, seconds = bench["end_to_end"], bench["run_seconds"]
        log_path = os.path.join(root, "runs.jsonl")
        for workload in a.workload:
            runs = []
            for i, seed in enumerate(seeds):
                order = ["parent", "change"] if i % 2 == 0 else \
                    ["change", "parent"]
                r = {"seed": seed, "first": order[0]}
                for side in order:
                    r[side] = run_bench(sides[side], workload, seed,
                                        seconds)
                    with open(log_path, "a") as log:
                        log.write(json.dumps(dict(workload=workload,
                                                  seed=seed, side=side,
                                                  **r[side])) + "\n")
                print(f"ab_pairs: {workload} seed {seed} done",
                      file=sys.stderr)
                runs.append(r)
            report(workload, metrics, runs)
        print(f"\nruns: {log_path}")
    finally:
        for d in sides.values():
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(os.path.join(root, "index"), ignore_errors=True)


if __name__ == "__main__":
    main()
