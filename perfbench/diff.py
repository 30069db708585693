#!/usr/bin/env python3
"""Compare benchmark results written under .bench_build/results/.

    diff.py layers A.json B.json
        Two traced runs, layer by layer: self time per span name, jobs and
        job time per attributed graft file, and the per-layer metrics
        (driver_gap_s among them).
    diff.py e2e A1.json A2.json ... -- B1.json B2.json ...
        Two sets of untraced runs, per workload and end-to-end metric: each
        set's median and quartile spread, and B's change against A's median
        with the metric's bound from BENCHMARK.json.
    diff.py overhead U1.json ... -- T1.json ...
        Tracing overhead: untraced runs U against traced runs T of the same
        workloads, per end-to-end timing.
"""
import collections
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as f:
        return json.load(f)


def spans_of(path):
    sp = load(path[:-len(".json")] + ".spans.json")
    self_ms, count = collections.Counter(), collections.Counter()
    for s in sp["spans"] + sp["jobs"]:
        self_ms[(s["level"], s["name"])] += s["self_ms"]
        count[(s["level"], s["name"])] += 1
    return self_ms, count


def layers(a, b):
    ra, rb = load(a), load(b)
    print(f"A: {ra['workload']} seed {ra['seed']}   B: {rb['workload']} seed {rb['seed']}")
    sa, ca = spans_of(a)
    sb, cb = spans_of(b)
    print(f"\n{'lvl':>3} {'span':<34} {'A self s':>9} {'B self s':>9} {'B/A':>6}  count A/B")
    for k in sorted(set(sa) | set(sb)):
        x, y = sa[k] / 1000, sb[k] / 1000
        ratio = f"{y / x:6.2f}" if x else "     -"
        print(f"{k[0]:>3} {k[1]:<34} {x:9.3f} {y:9.3f} {ratio}  {ca[k]}/{cb[k]}")
    print(f"\n{'per-layer metric':<40} {'A':>14} {'B':>14}")
    pa, pb = ra["per_layer"], rb["per_layer"]
    for k in sorted(set(pa) | set(pb)):
        x, y = pa.get(k, 0), pb.get(k, 0)
        if x or y:
            print(f"{k:<40} {x:14.4f} {y:14.4f}")


def by_workload(paths, kind="end_to_end"):
    out = collections.defaultdict(lambda: collections.defaultdict(list))
    for p in paths:
        r = load(p)
        for k, v in r[kind].items():
            out[r["workload"]][k].append(v)
    return out


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def e2e(a_paths, b_paths):
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    a, b = by_workload(a_paths), by_workload(b_paths)
    print(f"{'workload':<14} {'metric':<12} {'A median':>11} {'A spread':>8} "
          f"{'B median':>11} {'B spread':>8} {'worse by':>8} {'bound':>6}  verdict")
    for w in sorted(set(a) & set(b)):
        for m, s in spec.items():
            xa, xb = a[w].get(m, []), b[w].get(m, [])
            if not xa or not xb:
                continue
            ma, mb = statistics.median(xa), statistics.median(xb)
            worse = (mb - ma) / ma if s["better"] == "lower" else (ma - mb) / ma
            sa, sb = spread(xa), spread(xb)
            if worse > s["bound"]:
                verdict = "REGRESSED"
            elif max(sa, sb) > s["bound"]:
                verdict = "unresolved"
            else:
                verdict = "ok"
            print(f"{w:<14} {m:<12} {ma:11.4f} {sa:8.3f} {mb:11.4f} {sb:8.3f} "
                  f"{worse:8.3f} {s['bound']:6.2f}  {verdict}")


def overhead(untraced, traced):
    u, t = by_workload(untraced), by_workload(traced)
    for w in sorted(set(u) & set(t)):
        for m in ("first_op_s", "op_p50_s"):
            if u[w].get(m) and t[w].get(m):
                mu, mt = statistics.median(u[w][m]), statistics.median(t[w][m])
                print(f"{w:<14} {m:<12} untraced {mu:9.4f}  traced {mt:9.4f}  "
                      f"overhead {(mt - mu) / mu:+.3f}")


def split(args):
    i = args.index("--")
    return args[:i], args[i + 1:]


if __name__ == "__main__":
    cmd, rest = sys.argv[1], sys.argv[2:]
    if cmd == "layers" and len(rest) == 2:
        layers(*rest)
    elif cmd in ("e2e", "overhead") and "--" in rest:
        (e2e if cmd == "e2e" else overhead)(*split(rest))
    else:
        sys.exit(__doc__)
