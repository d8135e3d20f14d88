#!/usr/bin/env python3
"""Alternating parent/change pairs of the repo benchmark.

    tools/ab.py PARENT WORKLOAD --pairs N --seconds S [--change REV] [--seed0 K]

PARENT and --change (default HEAD) are git revs, each exported with
`git archive` into a scratch directory outside the repo, or paths to
directories that already hold a checkout. Pair i runs
`perfbench/run.py --workload WORKLOAD --seed K+i --seconds S` in both trees
with the same seed, the parent first on even pairs and the change first on
odd ones. It prints each pair's end-to-end metrics (the `end_to_end` list of
BENCHMARK.json), then each side's median and quartiles, how many pairs the
change won, and two verdicts per metric: `gain` (the change wins at least 9
in 10 pairs and its median beats the parent's by more than the parent's
interquartile spread) and `bound` (the change's median is no worse than the
parent's by more than the metric's BENCHMARK.json `bound`; `unresolved` when
the parent's spread is wider than the bound, unless every change run beats
every parent run). Exported trees, their builds and the logs go to the
scratch directory (`--work`, default a fresh temporary directory), where a
tree already exported for the same commit is reused with its build; each
run's stderr goes to `<side>-<seed>.log` and its stdout, with the detail
figures, to `<side>-<seed>.out`. Nothing is written inside the checkout. Keep `--work` short: sbt's build
socket lives inside each tree and must fit a unix socket path.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = subprocess.run(["git", "rev-parse", "--show-toplevel"], capture_output=True,
                      text=True, check=True, cwd=os.path.dirname(os.path.abspath(__file__))).stdout.strip()


def checkout(ref, work, side):
    """A directory holding `ref`: the path itself if it is one, else the
    commit's files exported to `work/side` (reused while it holds that
    commit, so its build is reused too)."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", ref + "^{commit}"],
                         capture_output=True, text=True, check=True).stdout.strip()
    path, stamp = os.path.join(work, side), os.path.join(work, side + ".rev")
    if not (os.path.isdir(path) and os.path.exists(stamp) and open(stamp).read() == sha):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {ref} failed")
        with open(stamp, "w") as f:
            f.write(sha)
    return path


def check_path_length(tree):
    """run.py's sbt build opens a unix socket under the tree, and sbt's
    socket library refuses a path over 103 bytes, so a deep tree fails to
    build."""
    sock = os.path.join(tree, ".bench_build", "sbt-tmp", ".sbt", "sbt-socket" + "0" * 20,
                        "sbt-load.sock")
    if len(sock.encode()) > 103:
        raise SystemExit(f"{tree} is too deep for sbt's build socket; use a shorter --work")


def run(tree, workload, seed, seconds, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    with open(log, "w") as err:
        p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=err, text=True)
    with open(os.path.splitext(log)[0] + ".out", "w") as out:  # the detail figures
        out.write(p.stdout)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{tree}: run.py exited {p.returncode}; see {log}")
    r = json.loads(lines[-1])
    return {k: v["value"] for k, v in r["metrics"].items()}, r["failed"]


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q1, q2, q3


def wins(parent, change, better):
    """Pairs in which the change beat the parent."""
    sign = -1 if better == "lower" else 1
    return sum(sign * (c - p) > 0 for p, c in zip(parent, change))


def gain(parent, change, better):
    """The gain rule: the change wins at least 9 in 10 pairs, and its median
    is better than the parent's by more than the parent's interquartile
    spread."""
    pq, cq = quartiles(parent), quartiles(change)
    gap = (pq[1] - cq[1]) if better == "lower" else (cq[1] - pq[1])
    return 10 * wins(parent, change, better) >= 9 * len(parent) and gap > pq[2] - pq[0]


def bound_check(parent, change, better, bound):
    """The bound check: "ok" when the change's median is worse than the
    parent's by at most `bound` (a fraction of the parent's median), else
    "worse"; "unresolved" when the parent's interquartile spread is wider
    than the bound, unless every change run beats every parent run."""
    sign = -1 if better == "lower" else 1
    if all(sign * (c - p) > 0 for p in parent for c in change):
        return "ok"
    pq, cq = quartiles(parent), quartiles(change)
    if pq[2] - pq[0] > bound * abs(pq[1]):
        return "unresolved"
    worse = sign * (pq[1] - cq[1])
    return "ok" if worse <= bound * abs(pq[1]) else "worse"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="git rev or checkout directory of the parent")
    ap.add_argument("workload")
    ap.add_argument("--change", default="HEAD", help="git rev or checkout directory (default HEAD)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed0", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--work", help="scratch directory outside the checkout")
    a = ap.parse_args()

    work = os.path.abspath(a.work or tempfile.mkdtemp(prefix="ab-"))
    if os.path.commonpath([work, ROOT]) == ROOT:
        raise SystemExit(f"--work {work} is inside the checkout")
    os.makedirs(work, exist_ok=True)
    trees = {"parent": checkout(a.parent, work, "parent"),
             "change": checkout(a.change, work, "change")}
    for tree in trees.values():
        check_path_length(tree)
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    better = {m["name"]: m["better"] for m in e2e}
    bounds = {m["name"]: m["bound"] for m in e2e}
    names = list(better)
    res = {"parent": [], "change": []}
    print("pair seed first  " + "  ".join(f"{n:>19}" for n in names) + "  failed(p/c)")
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        failed = {}
        for side in order:
            m, failed[side] = run(trees[side], a.workload, seed, a.seconds,
                                  os.path.join(work, f"{side}-{seed}.log"))
            res[side].append(m)
        cells = [f"{res['parent'][-1][n]:>9.4g}/{res['change'][-1][n]:<9.4g}" for n in names]
        print(f"{i:>4} {seed:>4} {order[0]:<6} " + "  ".join(cells)
              + f"  {failed['parent']}/{failed['change']}", flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs, parent vs change (q1 / median / q3)")
    for n in names:
        p = [r[n] for r in res["parent"]]
        c = [r[n] for r in res["change"]]
        pq, cq = quartiles(p), quartiles(c)
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print(f"  {n:<8} parent {pq[0]:.4g} / {pq[1]:.4g} / {pq[2]:.4g}"
              f"   change {cq[0]:.4g} / {cq[1]:.4g} / {cq[2]:.4g}"
              f"   median {delta:+.1%}   change wins {wins(p, c, better[n])}/{a.pairs}"
              f"   gain {'yes' if gain(p, c, better[n]) else 'no'}"
              f"   bound {bounds[n]:.0%} {bound_check(p, c, better[n], bounds[n])}")
    print(f"logs in {work}")


if __name__ == "__main__":
    main()
