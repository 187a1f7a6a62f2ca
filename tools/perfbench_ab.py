#!/usr/bin/env python3
"""A/B summary of perfbench runs of two commits.

    python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR [--claim trend_batch:latency_p50_ms]

Each directory holds the output of alternating runs made as in
perfbench/README.md ("Comparing two commits"), one file per run, named
`<workload>-seed<N>` plus any suffix (e.g. `trend_batch-seed11.log`). The
run's JSON result is the file's last line that starts with "{" (the last
line of run.py's stdout; stderr lines after it are skipped). Runs pair up
by workload and seed.

For every workload and every end-to-end metric of BENCHMARK.json it prints
each side's median and quartiles (linear interpolation), the change of the
median, and how many pairs the change won. It then checks:

- the bound: the change's median may be worse than the parent's by at most
  the metric's BENCHMARK.json bound (a fraction of the parent's median);
- the gain rule of perfbench/README.md, for each `--claim`: the change wins
  at least nine pairs in ten, and the medians differ by more than the
  parent's interquartile range.

Exit status 1 when a run failed, a bound is exceeded or a claim does not
hold; else 0.
"""

import argparse
import json
import os
import re
import statistics
import sys

NAME = re.compile(r"^(?P<workload>[a-z_]+)-seed(?P<seed>\d+)")


def last_json(path):
    """The run's result, or None when the file holds none (a crashed run)."""
    with open(path, errors="replace") as f:
        lines = [l for l in f.read().splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def load(d):
    """{(workload, seed): result} for the run files in directory d."""
    runs = {}
    for name in sorted(os.listdir(d)):
        m = NAME.match(name)
        if m:
            runs[(m.group("workload"), int(m.group("seed")))] = last_json(os.path.join(d, name))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def value(run, metric):
    m = run.get("metrics", {}).get(metric)
    return None if m is None else m["value"]


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = argparse.ArgumentParser()
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--benchmark", default=os.path.join(root, "BENCHMARK.json"))
    p.add_argument("--claim", action="append", default=[],
                   help="workload:metric whose gain must hold (repeatable)")
    a = p.parse_args()

    bench = json.load(open(a.benchmark))
    metrics = bench["end_to_end"]
    parent, change = load(a.parent), load(a.change)
    claims = {tuple(c.split(":", 1)) for c in a.claim}
    ok = True

    for side, runs in (("parent", parent), ("change", change)):
        for (w, s), r in sorted(runs.items()):  # a copy: failed runs leave the pairing
            if r is None or not r.get("correct") or r.get("failed"):
                print("FAILED RUN: %s %s seed %d" % (side, w, s))
                ok = False
                del runs[(w, s)]

    for w in sorted({k[0] for k in parent} | {k[0] for k in change}):
        seeds = sorted(s for (pw, s) in parent if pw == w and (w, s) in change)
        print("%s: %d pairs (seeds %s)" % (w, len(seeds), ",".join(map(str, seeds))))
        if not seeds:
            continue
        print("  %-16s %-28s %-28s %8s %6s  %s" % (
            "metric", "parent median [q1-q3]", "change median [q1-q3]", "median", "wins", "checks"))
        for m in metrics:
            name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
            pairs = [(value(parent[(w, s)], name), value(change[(w, s)], name)) for s in seeds]
            pairs = [(x, y) for x, y in pairs if x is not None and y is not None]
            if not pairs:
                continue
            px, cx = [x for x, _ in pairs], [y for _, y in pairs]
            pm, cm = statistics.median(px), statistics.median(cx)
            (p1, p3), (c1, c3) = quartiles(px), quartiles(cx)
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            checks = ["bound %.2f %s" % (bound, "ok" if worse <= bound else "EXCEEDED")]
            ok &= worse <= bound
            if (w, name) in claims:
                gain = (pm - cm) if lower else (cm - pm)
                holds = wins * 10 >= 9 * len(pairs) and gain > p3 - p1
                checks.append("gain %s (needs >=9/10 wins and gap %.1f > parent IQR %.1f)" % (
                    "HOLDS" if holds else "DOES NOT HOLD", gain, p3 - p1))
                ok &= holds
            print("  %-16s %-28s %-28s %+7.1f%% %3d/%-2d  %s" % (
                name, "%.1f [%.1f-%.1f]" % (pm, p1, p3), "%.1f [%.1f-%.1f]" % (cm, c1, c3),
                100 * (cm - pm) / pm, wins, len(pairs), "; ".join(checks)))
    for w, name in sorted(claims):
        if not any(k[0] == w for k in parent):
            print("CLAIM %s:%s has no runs" % (w, name))
            ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
