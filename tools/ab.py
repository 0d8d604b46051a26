#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark between two commits.

    python3 tools/ab.py --workload ann_serve_ingest --pairs 10 [--seed 201]

Checks out HEAD's parent and HEAD as detached git worktrees
.bench_build/ab/p (parent) and .bench_build/ab/c (change). They are kept
between invocations, so each side builds once per commit (in <worktree>/b;
drop them with `git worktree remove --force`). It runs
`perfbench/run.py --trace 0` on both for N pairs; pair i uses seed
`--seed + i` on both sides, and the side that runs first alternates.
Prints, per end-to-end metric of BENCHMARK.json: each side's median and
quartiles, the change's wins over the pairs run (ties count for
neither), and the verdict of the choosing-metrics rule: a gain needs
wins in at least 9/10 of the pairs run and a median gap larger than the
parent's interquartile range. Metrics without a gain are checked against
their BENCHMARK.json bound instead ("unresolved" when the parent's own
spread is wider than the bound). The raw runs go to
.bench_build/ab/<workload>-seed<seed>-<base>-<change>.json.

Reads perfbench/ and BENCHMARK.json from each worktree; changes nothing in
them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                      capture_output=True, text=True).stdout.strip()
AB_DIR = os.path.join(ROOT, ".bench_build", "ab")


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def worktree(name, sha):
    """A detached worktree of `sha` at .bench_build/ab/<name>."""
    path = os.path.join(AB_DIR, name)
    if os.path.isdir(path):
        if git("rev-parse", "HEAD", cwd=path) == sha:
            return path
        git("worktree", "remove", "--force", path)
    git("worktree", "add", "--detach", path, sha)
    return path


def run_once(path, workload, seed, seconds):
    """One untraced benchmark run; returns its result object or None."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    # sbt binds a unix socket under run.py's build directory, and socket
    # paths must stay under 104 bytes: one-letter worktree and build
    # directory names leave room for checkouts at up to 30 characters
    env = dict(os.environ, CARGO_TARGET_DIR="b")
    p = subprocess.run(cmd, cwd=path, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, wins, pairs, better, bound):
    """The choosing-metrics §8 rule, then the bound check."""
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = (pm - cm) if better == "lower" else (cm - pm)
    if wins >= 0.9 * pairs and gap > p3 - p1:
        return "gain"
    scale = abs(pm) if pm else 1.0
    if (p3 - p1) / scale > bound:
        every = all((c < p) if better == "lower" else (c > p)
                    for c in change for p in parent)
        return "better in every run" if every else "unresolved (spread > bound)"
    return "worse beyond bound" if -gap > bound * scale else "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=201)
    a = ap.parse_args()

    base, change = git("rev-parse", "HEAD~1"), git("rev-parse", "HEAD")
    if git("diff", "--stat", base, change, "--", "perfbench", "BENCHMARK.json"):
        print("warning: perfbench/ or BENCHMARK.json differ between the two commits; "
              "the sides do not run the same benchmark", file=sys.stderr)
    os.makedirs(AB_DIR, exist_ok=True)
    sides = {"parent": worktree("p", base), "change": worktree("c", change)}
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]

    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {s: run_once(sides[s], a.workload, a.seed + i, seconds) for s in order}
        for s in order:
            runs[s].append(got[s])
        brief = "  ".join(f"{s} items_per_s={got[s]['metrics']['items_per_s']['value']:.4g}"
                          if got[s] else f"{s} FAILED" for s in order)
        print(f"pair {i + 1}/{a.pairs} seed {a.seed + i}: {brief}", flush=True)
        if i == 0 and not all(got.values()):
            sys.exit("the first pair failed (a build error fails every run); stopping")

    out = os.path.join(AB_DIR, f"{a.workload}-seed{a.seed}-{base[:8]}-{change[:8]}.json")
    with open(out, "w") as fh:
        json.dump({"workload": a.workload, "base": base, "change": change,
                   "seed": a.seed, "seconds": seconds, "runs": runs}, fh, indent=1)

    done = [i for i in range(a.pairs) if runs["parent"][i] and runs["change"][i]]
    print(f"\n{a.workload}: {len(done)} of {a.pairs} pairs complete; "
          f"parent {base[:8]}, change {change[:8]}, {seconds} s runs")
    for s in ("parent", "change"):
        ok = [r for r in runs[s] if r]
        att = sum(r["attempted"] for r in ok)
        print(f"  {s}: failed operations {sum(r['failed'] for r in ok)}/{att}, "
              f"failed runs {a.pairs - len(ok)}")
    if not done:
        sys.exit("no complete pair: nothing to compare")
    print(f"  {'metric':<12} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'wins':>6}  verdict")
    for m in spec["end_to_end"]:
        name, better = m["name"], m["better"]
        p = [runs["parent"][i]["metrics"][name]["value"] for i in done]
        c = [runs["change"][i]["metrics"][name]["value"] for i in done]
        wins = sum(1 for x, y in zip(p, c) if (y < x if better == "lower" else y > x))
        pq, cq = quartiles(p), quartiles(c)
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"  {name:<12} {fmt(pq):>30} {fmt(cq):>30} {wins:>3}/{a.pairs}  "
              f"{verdict(p, c, wins, a.pairs, better, m['bound'])}")
    print(f"runs: {os.path.relpath(out, ROOT)}")


if __name__ == "__main__":
    main()
