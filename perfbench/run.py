#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine: one workload, one run.

    python3 perfbench/run.py --workload sql_olap --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (cached by a hash of the sources under the
build directory, `$CARGO_TARGET_DIR` or `.bench_build`), then every run
starts one JVM (`perfbench.Main`) that sets up once, makes one cold pass over
the workload's queries and several warm passes in orders drawn from the
seed, and writes raw per-execution records. This script checks every result
against `expected.json`, derives the metrics and prints, as the last
line of standard output, one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). A human summary goes to stderr, and
the full record (raw executions, metrics, spans) to `--out`, by default
`<build dir>/results/`. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
CORES = 4  # local[4], fixed so that runs on different machines compare

# Each workload: the registry queries (name prefixes) it runs, in its
# cold-pass order (the seed permutes the warm passes), and its least
# number of warm passes.
# See README.md for why each was chosen.
WORKLOADS = {
    "sql_olap": ["q01", "q03", "q06", "q19", "q116", "q255", "q363"],
    "llm_pipeline": ["q381", "q84", "q216"],
}
WARM_PASSES = {"sql_olap": 5, "llm_pipeline": 2}

DEADLINE_S = 60       # per query execution; cancelled by job group after
BUDGET_S = 150        # from JVM start; no query is started after it
JVM_TIMEOUT_S = 170   # the JVM is killed after it, and the run fails
HEAP = ["-Xmx4g"]

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("live_heap_mb", "MB")]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_hash():
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out):
    """Compile engine + harness with sbt unless the sources are unchanged;
    returns (classpath, jvm options) from the launch file sbt writes."""
    launch = os.path.join(out, "launch.txt")
    stamp = os.path.join(out, "launch.hash")
    digest = source_hash()
    fresh = os.path.exists(launch) and os.path.exists(stamp) and \
        open(stamp).read() == digest
    if not fresh:
        env = dict(os.environ)
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        env.setdefault("COURSIER_MODE", "offline")
        # sbt's own temporary files stay in the build directory too.
        tmp = os.path.join(out, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env["TMPDIR"] = tmp
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        log = os.path.join(out, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-J-Djava.io.tmpdir={tmp}",
                 f"-J-Djna.tmpdir={tmp}", f"-Dperfbench.launch={launch}", "launchFile"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0:
            sys.exit(f"build failed (exit {rc}); see {log}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def harness(out, classpath, opts, main_class, main_args):
    """The command and environment that start `main_class` on the
    engine's classpath, with its temporary files and Spark's local
    directories fresh under `out`."""
    tmp = os.path.join(out, "tmp")
    local = os.path.join(out, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = (["java"] + HEAP + ["-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", classpath, main_class] + main_args)
    return cmd, dict(os.environ, SPARK_LOCAL_DIRS=local)


def main_args(queries, seed, seconds, trace, passes, deadline, budget, raw):
    """perfbench.Main's arguments."""
    return ["--data", DATA, "--cores", str(CORES), "--queries", ",".join(queries),
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--passes", str(passes), "--deadline", str(deadline), "--budget", str(budget),
            "--out", raw]


def run_jvm(args, out, classpath, opts, raw):
    cmd, env = harness(out, classpath, opts, "perfbench.Main", main_args(
        WORKLOADS[args.workload], args.seed, args.seconds, args.trace,
        WARM_PASSES[args.workload], DEADLINE_S, BUDGET_S, raw))
    log = os.path.join(out, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"harness did not finish in {JVM_TIMEOUT_S} s; see {log}")
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    if rc != 0 or not os.path.exists(raw):
        sys.exit(f"harness failed (exit {rc}); see {log}")
    with open(raw) as fh:
        return json.load(fh)


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def check(execs, expected):
    """Mark each execution failed when it errored, timed out or returned
    another result than expected.json holds for its query."""
    for e in execs:
        want = expected.get(e["query"], {}).get("digest")
        e["correct"] = e["status"] == "ok" and e["digest"] == want
        if e["status"] == "ok" and not e["correct"]:
            e["status"] = "mismatch"
            e["error"] = f"digest {e['digest']} != expected {want}"


def job_stats(e):
    jobs = e.get("jobs", [])
    covered = union_ms([(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] > 0],
                       e["start_ms"], e["end_ms"])
    mb = 1048576.0
    return {
        "exec.jobs": len(jobs),
        "exec.stages": sum(j["stages"] for j in jobs),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.driver_gap_s": max(e["wall_s"] - covered / 1e3, 0.0),
        "exec.task_run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "exec.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "exec.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "exec.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / mb,
        "exec.shuffle_read_mb": sum(j["shuffle_read_bytes"] for j in jobs) / mb,
        "exec.spill_mb": sum(j["spill_bytes"] for j in jobs) / mb,
        "sources.scan_mb": sum(j["input_bytes"] for j in jobs) / mb,
        "sources.write_mb": sum(j["output_bytes"] for j in jobs) / mb,
        "sources.files_listed": e["files_listed"],
        "operators.build_s": e["build_s"],
        "plans.analysis_ms": e["phases_ms"].get("analysis", 0),
        "plans.optimization_ms": e["phases_ms"].get("optimization", 0),
        "plans.planning_ms": e["phases_ms"].get("planning", 0),
        "plans.physical_s": e["physical_s"],
        "exec.codegen_compiles": e["codegen_compiles"],
        "exec.final_s": e["execute_s"],
        "wall_s": e["wall_s"],
        "llmops.persisted_rdds": e["persisted_rdds"],
        "llmops.storage_mb": e["storage_mb"],
    }


MAXED = {"llmops.persisted_rdds", "llmops.storage_mb"}


def pass_layers(execs, cores):
    """Per-layer totals of one pass: sums over its executions, except the
    between-query maxima, plus the busy ratio over the pass."""
    rows = [job_stats(e) for e in execs]
    tot = {k: (max if k in MAXED else sum)(r[k] for r in rows) for k in rows[0]}
    tot["exec.busy_ratio"] = tot["exec.task_run_s"] / max(tot["wall_s"] * cores, 1e-9)
    return tot


PER_PASS = ["sources.scan_mb", "sources.write_mb", "sources.files_listed",
            "operators.build_s", "plans.analysis_ms", "plans.optimization_ms",
            "plans.planning_ms", "plans.physical_s", "exec.codegen_compiles",
            "exec.final_s", "exec.jobs", "exec.stages", "exec.tasks",
            "exec.driver_gap_s", "exec.task_run_s", "exec.task_cpu_s",
            "exec.gc_s", "exec.busy_ratio", "exec.shuffle_write_mb",
            "exec.shuffle_read_mb", "exec.spill_mb", "llmops.persisted_rdds",
            "llmops.storage_mb"]


def unit_of(name):
    base = name.removesuffix(".cold").removesuffix(".warm")
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_ratio", "ratio")):
        if base.endswith(suffix):
            return unit
    return "count"


def spans(raw, passes):
    """The run -> pass -> query -> {build, physical, execute} -> job span
    tree, each span with its self time: its duration minus the part of it
    that its children cover."""
    out = []

    def add(name, parent, a, b, children):
        sid = len(out)
        out.append({"id": sid, "parent": parent, "name": name,
                    "start_ms": a, "end_ms": b})
        kids = children(sid)
        out[sid]["self_ms"] = (b - a) - union_ms([(k[0], k[1]) for k in kids], a, b)
        return (a, b)

    def query(e, parent):
        a, b = e["start_ms"], e["end_ms"]
        cuts = e["marks_ms"]
        jobs = e.get("jobs", [])

        def phases(qid):
            kids = []
            if not cuts:  # a timeout: its worker's phases are unknown
                return kids
            for i, ph in enumerate(["build", "physical", "execute"]):
                lo, hi = cuts[i], cuts[i + 1]
                mine = [j for j in jobs if lo <= j["start_ms"] < hi or
                        (i == 2 and j["start_ms"] >= hi)]
                kids.append(add(f"{e['query']}/{ph}", qid, lo, hi, lambda pid, mine=mine: [
                    add(f"job {j['id']}", pid, j["start_ms"], j["end_ms"], lambda _: [])
                    for j in mine]))
            return kids
        return add(e["query"], parent, a, b, phases)

    def run_children(rid):
        kids = []
        for p, es in sorted(passes.items()):
            a, b = min(e["start_ms"] for e in es), max(e["end_ms"] for e in es)
            kids.append(add("cold pass" if p == 0 else f"warm pass {p}", rid, a, b,
                            lambda pid, es=es: [query(e, pid) for e in es]))
        return kids

    execs = raw["executions"]
    if execs:
        add("run", None, min(e["start_ms"] for e in execs),
            max(e["end_ms"] for e in execs), run_children)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="where to write the full run record")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("no engine sources next to perfbench/: run from a full checkout")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classpath, opts = build(out)
    raw_path = os.path.join(out, f"raw-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    raw = run_jvm(args, out, classpath, opts, raw_path)
    os.remove(raw_path)

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    execs = raw["executions"]
    check(execs, expected)
    passes = {}
    for e in execs:
        passes.setdefault(e["pass"], []).append(e)
    cold = passes.get(0, [])
    warm_passes = [es for p, es in sorted(passes.items()) if p > 0]
    warm = [e["wall_s"] for es in warm_passes for e in es]
    failed = [e for e in execs if not e["correct"]]
    expected_count = len(WORKLOADS[args.workload])
    complete = len(cold) == expected_count and warm_passes and \
        all(len(es) == expected_count for es in warm_passes)

    # A run cut short by the budget has no warm pass; it reports the
    # budget as its warm times (and is not correct).
    e2e = {
        "setup_s": raw["setup"]["total_s"],
        "cold_s": sum(e["wall_s"] for e in cold),
        "warm_s": statistics.median(sum(e["wall_s"] for e in es) for es in warm_passes)
        if warm_passes else float(BUDGET_S),
        "live_heap_mb": raw["heap_mb"],
    }
    t = tail(warm)
    extra = {
        "query_p50_s": statistics.median(warm) if warm else float(BUDGET_S),
        "failed_ratio": len(failed) / max(len(execs), 1),
        "query_tail_s": {"value": t[0], "percentile": t[1], "samples": t[2]} if t else None,
        "warm_passes": len(warm_passes),
        "failures": [{"pass": e["pass"], "query": e["query"], "status": e["status"],
                      "error": e["error"]} for e in failed],
    }

    if args.trace:
        layers = {"engine.session_s": raw["setup"]["session_s"],
                  "sources.register_s": raw["setup"]["register_s"]}
        kinds = {"cold": [pass_layers(cold, CORES)] if cold else [],
                 "warm": [pass_layers(es, CORES) for es in warm_passes]}
        for kind, rows in kinds.items():
            for k in PER_PASS:
                layers[f"{k}.{kind}"] = statistics.median(r[k] for r in rows) if rows else 0.0
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        extra["bus_drained"] = raw["bus_drained"]
        extra["spans"] = spans(raw, passes)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": CORES, "time": time.time(),
              "end_to_end": e2e, "metrics": metrics, "extra": extra,
              "executions": execs,
              "setup": raw["setup"]}
    path = args.out or os.path.join(
        out, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh)

    summary = ", ".join(f"{k}={v:.4g}" for k, v in e2e.items())
    summary += f", query_p50_s={extra['query_p50_s']:.4g}"
    tail_text = (f"query_tail_s={t[0]:.4g} (p{t[1]:.0f} of {t[2]})" if t
                 else "query_tail_s=n/a (<11 warm samples)")
    print(f"[perfbench] {args.workload} seed={args.seed}: {summary}, {tail_text}, "
          f"failed_ratio={extra['failed_ratio']:.3g} ({len(failed)}/{len(execs)}), "
          f"warm passes={len(warm_passes)}; record: {path}", file=sys.stderr)
    for f in extra["failures"]:
        print(f"[perfbench] FAILED pass {f['pass']} {f['query']}: {f['status']} {f['error']}",
              file=sys.stderr)
    print(json.dumps({"correct": not failed and bool(complete), "attempted": len(execs),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
