#!/usr/bin/env python3
"""Compare benchmark runs of a parent and a change.

    python3 perfbench/compare.py --parent P... --change C...

Each argument is a run record written by run.py (`--out`, or the files
under `<build dir>/results/`) or a directory of them; only untraced
records count. Run both sides with the same seeds, in pairs, alternating
which side runs first. For each workload and end-to-end metric of
BENCHMARK.json this prints each side's median and quartiles, the share of
seed-matched pairs the change wins (ties count for neither) and a verdict:

- improved: the change wins at least 9 in 10 of at least ten pairs and
  its median is better by more than the parent's quartile spread;
- regressed: the change's median is worse than the parent's by more than
  the metric's bound;
- unchanged: neither, and the parent's own quartile spread is within the
  bound;
- unresolved: otherwise (too few pairs, or a spread wider than the bound,
  unless every change run beats every parent run).

It also prints each side's failed executions (errors, timeouts and wrong
results). A change that fails a larger share of its executions than the
parent gets no `improved` verdict: a failure that ends a query early
would otherwise read as a gain.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    recs = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                r = json.load(fh)
            if r.get("trace") == 0:
                recs.append(r)
    return recs


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0]
    q = statistics.quantiles(vs, n=4)
    return q[0], q[2]


def pairs(parent, change):
    """Seed-matched (parent, change) records, in run order per seed."""
    out = []
    for seed in sorted({r["seed"] for r in parent} & {r["seed"] for r in change}):
        ps = sorted((r for r in parent if r["seed"] == seed), key=lambda r: r["time"])
        cs = sorted((r for r in change if r["seed"] == seed), key=lambda r: r["time"])
        out += list(zip(ps, cs))
    return out


def failures(recs):
    """(failed, attempted) executions over the records."""
    execs = [e for r in recs for e in r["executions"]]
    return sum(1 for e in execs if not e["correct"]), len(execs)


def verdict(metric, pv, cv, prs):
    lower = metric["better"] == "lower"
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    pm, cm = statistics.median(pv), statistics.median(cv)
    q1, q3 = quartiles(pv)
    spread = q3 - q1
    wins = sum(1 for p, c in prs if better(c, p))
    share = wins / len(prs) if prs else 0.0
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    if len(prs) >= 10 and share >= 0.9 and better(cm, pm) and abs(cm - pm) > spread:
        v = "improved"
    elif worse_by > metric["bound"]:
        v = "regressed"
    elif spread / pm <= metric["bound"] or all(better(c, p) for c in cv for p in pv):
        v = "unchanged"
    else:
        v = "unresolved"
    return pm, (q1, q3), cm, quartiles(cv), share, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    parent, change = load(args.parent), load(args.change)
    if not parent or not change:
        sys.exit("need untraced run records on both sides")
    print(f"{'workload':<14} {'metric':<14} {'parent median [q1, q3]':<30} "
          f"{'change median [q1, q3]':<30} {'pairs':>5} {'wins':>5}  verdict")
    for wl in sorted({r["workload"] for r in parent} | {r["workload"] for r in change}):
        ps = [r for r in parent if r["workload"] == wl]
        cs = [r for r in change if r["workload"] == wl]
        if not ps or not cs:
            print(f"{wl:<14} (runs on one side only)")
            continue
        prs = pairs(ps, cs)
        first = sum(1 for p, c in prs if p["time"] < c["time"])
        (pf, pn), (cf, cn) = failures(ps), failures(cs)
        more_failures = cf / max(cn, 1) > pf / max(pn, 1)
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [r["metrics"][name]["value"] for r in ps]
            cv = [r["metrics"][name]["value"] for r in cs]
            vp = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in prs]
            pm, pq, cm, cq, share, v = verdict(m, pv, cv, vp)
            if v == "improved" and more_failures:
                v = "unresolved (more failures)"
            print(f"{wl:<14} {name:<14} {pm:>9.4g} [{pq[0]:.4g}, {pq[1]:.4g}]".ljust(61) +
                  f"{cm:>9.4g} [{cq[0]:.4g}, {cq[1]:.4g}]".ljust(31) +
                  f"{len(prs):>5} {share:>5.0%}  {v}")
        print(f"{wl:<14} pairs with the parent first: {first} of {len(prs)}; "
              f"runs: parent {len(ps)}, change {len(cs)}; failed executions: "
              f"parent {pf} of {pn}, change {cf} of {cn}")


if __name__ == "__main__":
    main()
