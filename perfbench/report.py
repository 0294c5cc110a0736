#!/usr/bin/env python3
"""Report on traced benchmark runs.

    python3 perfbench/report.py TRACED... [--untraced U...]

For each traced run record (run.py --trace 1) it prints, per query, the
self time of its build, physical-plan and execute spans and of the Spark
jobs inside them, with job counts, driver gap and span coverage, for the
cold pass and the median warm pass; then the self time summed per span
kind. With untraced records of the same workload it prints the tracing
overhead, traced warm_s over the median untraced warm_s. Given two traced
records of one workload it checks that the pass totals of the count
metrics (jobs, stages, tasks, codegen compiles) repeat exactly.
"""
import argparse
import glob
import json
import os
import statistics

COUNTS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.codegen_compiles"]


def load(paths):
    recs = []
    for p in paths:
        for f in sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]:
            with open(f) as fh:
                recs.append(json.load(fh))
    return recs


def query_rows(rec):
    """(pass kind, query) -> [wall, build, physical, execute, job self,
    jobs, driver gap, coverage] in seconds, warm values as the median
    over the warm passes. Wall is the client's window around the
    execution; coverage is the share of it the three phases span. A
    timed-out execution has no phase spans and is left out."""
    spans = rec["extra"]["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = {}
    for pass_span in kids.get(0, []):
        kind = "cold" if pass_span["name"] == "cold pass" else "warm"
        for q in kids.get(pass_span["id"], []):
            phases = {p["name"].split("/")[-1]: p for p in kids.get(q["id"], [])}
            if not phases:
                continue
            jobs = [j for p in phases.values() for j in kids.get(p["id"], [])]
            wall = (q["end_ms"] - q["start_ms"]) / 1e3
            covered = sum(p["end_ms"] - p["start_ms"] for p in phases.values()) / 1e3
            gap = sum(p["self_ms"] for p in phases.values()) / 1e3
            row = [wall] + [phases[n]["self_ms"] / 1e3 for n in ("build", "physical", "execute")] + \
                [sum(j["self_ms"] for j in jobs) / 1e3, len(jobs), gap, covered / max(wall, 1e-9)]
            rows.setdefault((kind, q["name"]), []).append(row)
    return {k: [statistics.median(col) for col in zip(*v)] for k, v in rows.items()}


def kind_of(name):
    if name.startswith("job "):
        return "job"
    if "/" in name:
        return name.split("/")[-1]
    if name == "run" or name.endswith("pass") or " pass " in name:
        return "run/pass"
    return "query"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("traced", nargs="+")
    ap.add_argument("--untraced", nargs="*", default=[])
    args = ap.parse_args()
    traced = [r for r in load(args.traced) if r.get("trace") == 1]
    untraced = [r for r in load(args.untraced) if r.get("trace") == 0]
    for rec in traced:
        wl = rec["workload"]
        print(f"== {wl}, seed {rec['seed']}: self time per query (s); warm = median warm pass")
        print(f"{'pass':<5} {'query':<34} {'wall':>7} {'build':>7} {'phys':>7} {'exec':>7} "
              f"{'jobs_s':>7} {'jobs':>5} {'gap':>7} {'cover':>6}")
        rows = query_rows(rec)
        for (kind, q), r in sorted(rows.items()):
            print(f"{kind:<5} {q:<34} " + " ".join(f"{x:>7.3f}" for x in r[:5]) +
                  f" {r[5]:>5.0f} {r[6]:>7.3f} {r[7]:>6.1%}")
        by_kind = {}
        for s in rec["extra"]["spans"]:
            by_kind[kind_of(s["name"])] = by_kind.get(kind_of(s["name"]), 0) + s["self_ms"]
        total = sum(by_kind.values())
        print("self time per span kind: " + ", ".join(
            f"{k} {v / 1e3:.2f} s ({v / total:.0%})" for k, v in sorted(by_kind.items())))
        mins = min(r[7] for r in rows.values())
        print(f"lowest span coverage of a query: {mins:.1%}")
        base = [r["end_to_end"]["warm_s"] for r in untraced if r["workload"] == wl]
        if base:
            print(f"tracing overhead: traced warm_s {rec['end_to_end']['warm_s']:.3f} s / "
                  f"untraced median {statistics.median(base):.3f} s (of {len(base)} runs) = "
                  f"{rec['end_to_end']['warm_s'] / statistics.median(base):.3f}")
        print()
    for wl in sorted({r["workload"] for r in traced}):
        rs = [r for r in traced if r["workload"] == wl]
        if len(rs) < 2:
            continue
        a, b = rs[0], rs[1]
        diffs = [f"{k}.{kind}: {a['metrics'][f'{k}.{kind}']['value']} vs "
                 f"{b['metrics'][f'{k}.{kind}']['value']}"
                 for k in COUNTS for kind in ("cold", "warm")
                 if a["metrics"][f"{k}.{kind}"]["value"] != b["metrics"][f"{k}.{kind}"]["value"]]
        print(f"{wl}: counts between seeds {a['seed']} and {b['seed']}: " +
              ("repeat exactly" if not diffs else "DIFFER: " + "; ".join(diffs)))


if __name__ == "__main__":
    main()
