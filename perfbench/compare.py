#!/usr/bin/env python3
"""Compare two sets of benchmark results, e.g. a parent commit's and a
change's, per workload and end-to-end metric:

    python3 perfbench/compare.py <results A> <results B>

Each side is result files or directories of them, as run.py keeps them
under perfbench/.work/results. Results taken on different boxes (cpus,
heap, JDK, Spark), on different data or by a different version of the
benchmark are not comparable: the comparison is refused with exit
code 2. Exit code 1 marks a metric whose median got
worse by more than its bound in BENCHMARK.json."""
import glob
import json
import os
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    out = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "**", "*-trace0.json"), recursive=True)) \
            if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                out.append(json.load(fh))
    return out


def mismatch(a, b):
    """Fingerprint fields that differ between two results, other than
    the commit (comparing commits is the point)."""
    fa, fb = a["fingerprint"], b["fingerprint"]
    diff = [f"box.{k}: {fa['box'].get(k)} != {fb['box'].get(k)}"
            for k in sorted(set(fa["box"]) | set(fb["box"])) if fa["box"].get(k) != fb["box"].get(k)]
    diff += [f"{k}: {fa.get(k)} != {fb.get(k)}" for k in ("sf", "bench") if fa.get(k) != fb.get(k)]
    return diff


def compare(side_a, side_b, bounds):
    """Lines of the report and whether any metric regressed beyond its
    bound. Raises ValueError naming the fields when fingerprints differ."""
    results = side_a + side_b
    for r in results[1:]:
        first = next(x for x in results if x["workload"] == r["workload"])
        diff = mismatch(first, r)
        if diff:
            raise ValueError(f"{r['workload']} results are not comparable: " + "; ".join(diff))
    lines, worse = [], False
    for wl in sorted({r["workload"] for r in results}):
        a = [r for r in side_a if r["workload"] == wl and r["correct"]]
        b = [r for r in side_b if r["workload"] == wl and r["correct"]]
        if not a or not b:
            lines.append(f"{wl}: no correct results on both sides")
            continue
        for m, bound in bounds.items():
            xa = [r["metrics"][m] for r in a]
            xb = [r["metrics"][m] for r in b]
            ma, mb = stats.median(xa), stats.median(xb)
            change = (mb - ma) / ma
            bad = change > bound
            worse |= bad
            lines.append(f"{wl} {m}: A {ma:.4f} (n={len(xa)}, spread {stats.spread(xa):.3f}) "
                         f"B {mb:.4f} (n={len(xb)}, spread {stats.spread(xb):.3f}) "
                         f"change {change:+.3f} bound {bound}" + ("  WORSE" if bad else ""))
    return lines, worse


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    try:
        lines, worse = compare(load([argv[0]]), load([argv[1]]), bounds)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
