"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload oltp|analytics --seed N \
        --seconds S --trace 0|1

Builds graft and the benchmark (build.py), generates the workload's
tables from the seed (gen.py), runs the workload in a fresh JVM under a
per-run temp root in .bench_build/runs/ that is deleted afterwards,
checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the per-layer report is printed to stderr and written to
.bench_build/reports/.  See perfbench/README.md for what each workload
and metric means.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import gen

START = time.monotonic()
HEAP = "3g"
# Per workload: the scale of its tables and the tables it reads.
WORKLOADS = {
    "oltp": dict(sf=0.02, tables=["orders"]),
    "analytics": dict(sf=0.005, tables=["region", "nation", "customer", "supplier", "part",
                                      "orders", "lineitem", "documents"]),
}
# Nominal length of one timed round (an oltp round takes 6-9 s, an
# analytics pass 4-5 s).  The timed round count is fixed by
# --seconds alone, never by a deadline, so every run of a workload does
# the same work; it is at least 3 so that pass_p50_s is a median.
ROUND_S = 6.0
MIN_ROUNDS = 3
# Counted from the JVM's launch, after the build and the inputs.
JVM_TIMEOUT_S = 160
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench {time.monotonic() - START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def run_jvm(classpath, args, run_dir):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError(f"JVM run exceeded {JVM_TIMEOUT_S}s")
    if code != 0:
        raise RuntimeError(f"JVM exited with {code}")


def oracle_check(data_dir, results_dir):
    """Compare each warm-up result with its DuckDB oracle SQL through
    the repo's own gate, tools/check.py.  Returns {query: row count} of
    the queries that agree, and the failures."""
    p = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                        data_dir, results_dir], capture_output=True, text=True)
    counts, failures = {}, []
    for ln in p.stdout.splitlines():
        if ln.startswith("PASS "):
            name, rows = ln[5:].split(" (")
            counts[name] = int(rows.split()[0])
        elif ln.startswith("FAIL "):
            failures.append(ln[5:])
    if not counts and not failures:
        failures.append(f"tools/check.py exited {p.returncode}: {p.stderr.strip()[-300:]}")
    return counts, failures


def end_to_end(res):
    ops = res["ops"]
    reads = [o["ms"] for o in ops if o["family"] in ("read", "query")]
    rounds = {}
    for o in ops:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["ms"] / 1000.0
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "ops_per_s": (len(ops) / (sum(o["ms"] for o in ops) / 1000.0), "1/s"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "pass_p50_s": (statistics.median(rounds.values()), "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    classpath = build.build()
    log("built")
    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "tmp", "results"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        data = os.path.join(run_dir, "data")
        gen.generate(data, w["tables"], a.seed, w["sf"])
        log("generated inputs")
        rounds = max(MIN_ROUNDS, round(a.seconds / ROUND_S))
        out = os.path.join(run_dir, "result.json")
        run_jvm(classpath, {"workload": a.workload, "seed": a.seed, "data": data, "work": run_dir,
                            "rounds": rounds, "trace": a.trace, "out": out}, run_dir)
        log("JVM done")
        with open(out) as f:
            res = json.load(f)
        ops = res["ops"]
        log_kinds(ops)
        bad = {m["op"] for m in res["mismatches"]}
        problems = [f"op {m['op']}: {m['what']}" for m in res["mismatches"]]
        problems += [f"op {o['id']} {o['kind']}: {o['error']}" for o in ops if not o["ok"]]
        if a.workload == "analytics":
            counts, failures = oracle_check(data, os.path.join(run_dir, "results"))
            problems += failures
            for o in ops:
                if o["ok"] and o["rows"] != counts.get(o["kind"]):
                    bad.add(o["id"])
                    problems.append(f"op {o['id']} {o['kind']}: {o['rows']} rows, "
                                    f"checked result {counts.get(o['kind'])}")
            log(f"oracle check: {len(counts)} of {len(counts) + len(failures)} queries agree")
        failed = sum(1 for o in ops if not o["ok"] or o["id"] in bad)
        for p in problems[:20]:
            log(f"problem: {p}")
        if a.trace:
            metrics = {k: (m["value"], m["unit"]) for k, m in res["layers"].items()}
            report_dir = os.path.join(build.OUT, "reports")
            os.makedirs(report_dir, exist_ok=True)
            path = os.path.join(report_dir, f"{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump(res["report"], f, indent=1, sort_keys=True)
            print_report(res["report"])
            log(f"per-layer report in {path}")
        else:
            metrics = end_to_end(res)
        line = {"correct": not problems, "attempted": len(ops), "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line))


def log_kinds(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    for k, ms in sorted(kinds.items()):
        log(f"{k:<24} n={len(ms):<4} median {statistics.median(ms):9.1f} ms  max {max(ms):9.1f} ms")


def print_report(report):
    cols = ["ops", "wall_ms", "self_ms", "resolve_ms", "exec_ms", "commit_ms", "driver_only_ms",
            "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"]
    print(f"{'kind':<24}" + "".join(f"{c:>15}" for c in cols), file=sys.stderr)
    for kind, row in sorted(report["kinds"].items()):
        print(f"{kind:<24}" + "".join(f"{row[c]:>15.1f}" for c in cols), file=sys.stderr)
    print(f"tracing overhead share: {report['tracing_overhead_share']:.4f}", file=sys.stderr)


if __name__ == "__main__":
    main()
