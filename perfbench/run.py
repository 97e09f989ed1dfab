#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the engine, runs one
workload, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload <mr_corpus|stream_maintain|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness with sbt (offline) into `target/` and `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run makes its inputs
from the seed, starts one JVM (`perfbench.Main`), and prints a summary
followed by one JSON line: `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics untraced, per-layer metrics with `--trace 1`).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# a run writes nothing outside .bench_build/ and the sbt target directories
sys.dont_write_bytecode = True

import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
try:
    import metrics  # noqa: E402
except ImportError as e:  # it imports the oracle gate's hash from scripts/
    sys.exit(f"perfbench: {e}; run from the repository root")

# Registry rows run at a fixed table scale: their expected results are the
# DuckDB oracle's, stored once in expected.json (make_expected.py).
TABLES_SF = 0.01
TABLES_SEED = 42
CORPUS_SCALE = 1.8
# registry rows per workload; None runs the MapReduce apps
WORKLOADS = {
    "mr_corpus": None,
    "stream_maintain": ["ext_stream_ingest", "ext_stream_dedup", "ext_stream_sessionize"],
}
END_TO_END = ["setup_s", "pass_s", "op_p50_s", "op_tail_s"]
LAYER_UNITS = {
    "plan.ms": "ms", "plan.queries": "count", "plan.exchanges": "count",
    "plan.scans": "count", "driver.gap_ms": "ms", "driver.gap_share": "ratio",
    "jobs.count": "count", "stages.count": "count", "tasks.count": "count",
    "jobs.busy_ms": "ms", "tasks.run_ms": "ms", "tasks.cpu_ms": "ms",
    "tasks.gc_ms": "ms", "tasks.failed": "count", "slots.util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "spill.mb": "MB", "scan.mb": "MB", "scan.rows": "count",
    "store.write_mb": "MB", "store.write_rows": "count", "store.write_amp": "ratio",
    "stream.triggers": "count", "stream.input_rows": "count",
    "stream.trigger_p50_ms": "ms", "stream.trigger_tail_ms": "ms",
    "stream.latestOffset_ms": "ms", "stream.queryPlanning_ms": "ms",
    "stream.addBatch_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.state_commit_ms": "ms",
    "engine.map_ms": "ms", "engine.reduce_ms": "ms", "engine.kv_per_output": "ratio",
    "engine.sequential_s": "s", "plancache.entries": "count", "plancache.build_s": "s",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "jvm.code_cache_mb": "MB",
    "jvm.retained_heap_mb": "MB",
    "trace.overhead": "ratio", "trace.unattributed_jobs": "count",
}
# Spark 4 on JDK 17 outside spark-submit (as in the root build's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def fingerprint(root):
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        top = os.path.join(root, r)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, bdir):
    """Compiles engine and harness once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no engine sources here (build.sbt, src/main/scala); run from the repository root")
    fp = fingerprint(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    fp_file = os.path.join(bdir, "fingerprint")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Dsbt.global.base={os.path.join(bdir, 'sbt-global')}").strip()
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if os.sep + "perfbench" + os.sep in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


def check_rows(check_dir, rows, expected):
    """Canonical hash of each row's checked output against the oracle's."""
    import pyarrow.parquet as pq
    bad = {}
    for row in rows:
        want = expected.get(row)
        path = os.path.join(check_dir, row)
        if want is None:
            bad[row] = "no expected hash"
            continue
        if not os.path.isdir(path):
            bad[row] = "no output"
            continue
        tbl = pq.read_table(path)
        cols = list(tbl.column_names)
        data = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
        if sorted(cols) != sorted(want["cols"]):
            bad[row] = f"columns {sorted(cols)} != {sorted(want['cols'])}"
        elif len(data) != want["rows"]:
            bad[row] = f"rows {len(data)} != {want['rows']}"
        elif metrics.canon_hash(cols, data) != want["hash"]:
            bad[row] = "hash mismatch"
    return bad


def java_cmd(cp, work):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # Two GC threads and a fixed initial heap leave the cores to the task threads.
    return ["java", *opens, "-Xms2g", "-Xmx4g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
            "-XX:ConcGCThreads=1",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main"]


def run_workload(args, workload, bdir, cp):
    """Runs one workload, prints its summary and its JSON result line."""
    t_start = time.time()
    work = os.path.join(bdir, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    for d in (out, os.path.join(work, "tmp")):
        os.makedirs(d)
    cores = len(os.sched_getaffinity(0))
    rows = WORKLOADS[workload]
    cmd = java_cmd(cp, work) + [
        "--mode", "run", "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--out", out, "--work", work]
    if rows is None:
        corpus = os.path.join(work, "corpus")
        gen_corpus.write(corpus, args.seed, CORPUS_SCALE)
        cmd += ["--corpus", corpus]
    else:
        tables = os.path.join(work, "tables")
        gen_tables.write(tables, TABLES_SF, TABLES_SEED)
        # the seed orders the rows within each pass
        cmd += ["--data", tables, "--rows", ",".join(rows)]

    log = os.path.join(work, "jvm.log")
    budget = RUN_TIMEOUT_S - (time.time() - t_start)
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}")
    if r.returncode != 0:
        fail(f"harness exited with {r.returncode}, see {log}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    # output checks
    if rows is None:
        mismatched = {c["app"]: f"{c['engine_rows']} engine vs {c['oracle_rows']} oracle lines"
                      for c in res["mr_check"] if not c["ok"]}
        checked = len(res["mr_check"])
    else:
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        mismatched = check_rows(os.path.join(out, "check"), rows, expected)
        checked = len(rows)
    for w in res["warm"] + res["checks"]:
        if w["err"]:
            mismatched.setdefault(w["name"], f"{w['phase']} call failed: {w['err']}")
    measured = [o for o in res["ops"] if o["phase"] in ("timed", "traced")]
    failed, attempted, failing = metrics.failures(measured, mismatched)

    print(f"workload {workload}  seed {args.seed}  cores {cores}  "
          f"seconds {args.seconds}  trace {args.trace}")
    print(f"output check: {checked - len(mismatched)}/{checked} ok"
          + "".join(f"\n  MISMATCH {k}: {v}" for k, v in sorted(mismatched.items())))
    print(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} ops)"
          + (f"  failing: {', '.join(failing)}" if failing else ""))
    correct = not mismatched and failed == 0
    if args.trace:
        spans = []
        spans_path = os.path.join(out, "spans.jsonl")
        with open(spans_path) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
        layer = metrics.per_layer(res, spans, cores)
        correct = correct and layer["trace.unattributed_jobs"] == 0
        print(f"spans: {len(spans)} written to {spans_path}")
        for k, v in layer.items():
            print(f"  {k:28s} {v:14.4f} {LAYER_UNITS[k]}")
        out_metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        e2e = metrics.end_to_end(res)
        if workload == "mr_corpus":
            seq = sum(c["sequential_s"] for c in res["mr_check"])
            print(f"  engine.sequential_s {seq:.4f} s (SequentialOracle, same corpus)")
        for k in END_TO_END:
            v, unit, n, note = e2e[k]
            print(f"  {k:18s} {v:12.4f} {unit:3s} n={n} {note}")
        out_metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, bdir)
    for w in (sorted(WORKLOADS) if args.workload == "all" else [args.workload]):
        run_workload(args, w, bdir, cp)


if __name__ == "__main__":
    main()
