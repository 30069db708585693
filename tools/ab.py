#!/usr/bin/env python3
"""Interleaved A/B of this checkout against a parent revision on one
perfbench workload.

    python3 tools/ab.py --parent <rev> --workload <name> --seeds 101,102,...
                        [--seconds 15] [--dir DIR] [--out results.json]

The parent is exported with `git archive <rev>` into a directory outside
the checkout (`--dir`, default a fresh temporary directory) and runs from
there; the change is the working tree of this checkout. For each seed one
pair runs `perfbench/run.py --workload <name> --seed <s> --seconds <n>
--trace 0` on both sides, the parent first on even pairs and the change
first on odd ones. The first run on each side builds it into that side's
.bench_build/, outside the timed run.

It prints, per end-to-end metric of BENCHMARK.json: each side's median and
quartiles, the relative gap of the medians, the pairs the change wins
(ties count for neither side), the verdict of a gain claim (the change
wins at least 9 in 10 pairs and the medians differ by more than the
parent's interquartile range), and BOUND when the change's median is
worse than the parent's by more than the metric's bound. It also prints
each side's failed and attempted operations. It reads BENCHMARK.json and
perfbench/ and changes neither.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """`git archive rev` unpacked into dest."""
    os.makedirs(dest, exist_ok=True)
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                       stdout=tar, check=True)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as t:
            t.extractall(dest)


def run(side_dir, workload, seed, seconds):
    """One perfbench run; its contract line (the last stdout line)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=side_dir, stdin=subprocess.DEVNULL, capture_output=True,
        text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"ab: run failed in {side_dir} (seed {seed})")
    return json.loads(lines[-1])


def metric(line, name):
    """A metric's value from a contract line ({"value": v, "unit": u})."""
    m = line["metrics"].get(name)
    return m["value"] if isinstance(m, dict) else m


def quartiles(xs):
    """(first quartile, median, third quartile) of xs."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def report(bench, pairs):
    """Per-metric lines; returns the lines."""
    out = []
    n = len(pairs)
    for m in bench["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        got = [(metric(p["parent"], name), metric(p["change"], name))
               for p in pairs]
        got = [(a, b) for a, b in got if a is not None and b is not None]
        if not got:
            out.append(f"{name}: no values")
            continue
        par = [a for a, _ in got]
        chg = [b for _, b in got]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum((b > a) if higher else (b < a) for a, b in got)
        losses = sum((b < a) if higher else (b > a) for a, b in got)
        gap = cmed - pmed
        rel = gap / pmed if pmed else float("nan")
        better = gap > 0 if higher else gap < 0
        claim = (wins * 10 >= 9 * len(got) and better
                 and abs(gap) > (pq3 - pq1))
        worse = -rel if higher else rel
        bound = m.get("bound")
        flag = "  BOUND" if bound is not None and worse > bound else ""
        out.append(
            f"{name:12s} parent {pmed:9.4g} [{pq1:.4g}, {pq3:.4g}]  "
            f"change {cmed:9.4g} [{cq1:.4g}, {cq3:.4g}]  "
            f"{rel:+7.1%}  wins {wins}/{len(got)} (losses {losses})  "
            f"gain {'yes' if claim else 'no'}{flag}")
    for side in ("parent", "change"):
        failed = sum(p[side].get("failed", 0) for p in pairs)
        attempted = sum(p[side].get("attempted", 0) for p in pairs)
        correct = all(p[side].get("correct", False) for p in pairs)
        out.append(f"{side}: failed {failed} of {attempted} operations, "
                   f"correct {correct}")
    out.append(f"pairs: {n}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seed list")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--dir", help="where to export the parent (outside the checkout)")
    ap.add_argument("--out", help="write every pair's contract lines here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent_dir = os.path.abspath(a.dir or tempfile.mkdtemp(prefix="graft_ab_parent_"))
    if os.path.commonpath([parent_dir, ROOT]) == ROOT:
        raise SystemExit("ab: --dir must be outside the checkout")
    if not os.path.isfile(os.path.join(parent_dir, "perfbench", "run.py")):
        export(a.parent, parent_dir)
    sides = {"parent": parent_dir, "change": ROOT}
    seeds = [int(s) for s in a.seeds.split(",") if s.strip()]
    pairs = []
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(sides[side], a.workload, seed, a.seconds)
        pairs.append(pair)
        print(f"seed {seed}: " + "  ".join(
            f"{s} " + " ".join(f"{k}={metric(pair[s], k):.4g}"
                               for k in sorted(pair[s]["metrics"]))
            for s in ("parent", "change")), flush=True)
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"parent": a.parent, "workload": a.workload,
                           "seconds": a.seconds, "pairs": pairs}, f, indent=1)
    print("\n".join(report(bench, pairs)))


if __name__ == "__main__":
    main()
