"""Metrics from the harness's raw records: op and pass timings, spans.

Pure functions, so that the rules behind the numbers are tested on their
own (`test_perfbench.py`).
"""
import math
import os
import statistics
import sys

# the output check hashes results exactly as the repository's oracle gate does
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from compare import canon_hash  # noqa: E402,F401


def percentile(xs, p):
    """Linear-interpolated p-th percentile (0-100) of xs."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest percentile with at least 10 samples above it, but never
    below the 90th.

    Returns (value, percentile, n). From 100 samples on, that is the
    (n-10)-th sample, at percentile floor(100 (n-10) / n). With fewer
    samples it is the interpolated 90th percentile, which keeps the metric
    the same statistic whatever the number of passes; the printed n shows
    what it rests on.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 100:
        return percentile(s, 90), 90, n
    return s[n - 11], (100 * (n - 10)) // n, n


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(parent, children):
    """A span's self time: its length minus the part its children cover."""
    ps, pe = parent
    clipped = [(max(s, ps), min(e, pe)) for s, e in children]
    return (pe - ps) - union_ms([(s, e) for s, e in clipped if e > s])


def failures(ops, mismatched):
    """Failed ops: those that threw, plus every op of a row whose output
    check failed. Returns (failed, attempted, sorted failing names)."""
    bad = [o for o in ops if o.get("err") or o["name"] in mismatched]
    return len(bad), len(ops), sorted({o["name"] for o in bad})


def attribute(spans, ops, slack_ms=5.0):
    """Assigns plan and trigger spans, which carry no op tag, to the op
    whose interval contains their midpoint (the client is one closed loop,
    so at most one op is running), else to the nearest op within
    `slack_ms`. Spark stamps these spans in whole milliseconds, hence the
    half-millisecond shift. Returns {op_id: [spans]}; stages and spans no
    op claims are left out."""
    by_op = {o["id"]: [] for o in ops}
    bounds = [(o["start"], o["end"], o["id"]) for o in ops]

    def owner(t):
        inside = [i for s, e, i in bounds if s <= t <= e]
        if inside:
            return inside[0]
        near = [(min(abs(t - s), abs(t - e)), i) for s, e, i in bounds
                if s - slack_ms <= t <= e + slack_ms]
        return min(near)[1] if near else -1

    for sp in spans:
        op = sp["op"]
        if op < 0 and sp["kind"] in ("plan", "trigger"):
            op = owner((sp["start"] + sp["end"]) / 2 + 0.5)
        if op in by_op:
            by_op[op].append(sp)
    return by_op


def unattributed_jobs(spans, ops):
    """Job spans whose op tag names none of the given ops."""
    ids = {o["id"] for o in ops}
    return [s for s in spans if s["kind"] == "job" and s["op"] not in ids]


def op_p50(ops):
    """The median operation's latency: each operation's median over the
    passes, then the median of those. A pass runs a few kinds of operation,
    each many times; the median of all samples pooled would fall in the gap
    between two kinds and move with the slowest sample of one of them."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1e3)
    return statistics.median(statistics.median(v) for v in by_name.values())


def end_to_end(res):
    """Untraced metrics from one run's result record."""
    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    passes = [p for p in res["passes"] if p["phase"] == "timed"]
    op_s = [(o["end"] - o["start"]) / 1e3 for o in ops]
    t, pct, n = tail(op_s)
    return {
        "setup_s": (res["setup_s"], "s", 1,
                    f"{len(res['warm_round_s'])} warm-up rounds"),
        "pass_s": (statistics.median((p["end"] - p["start"]) / 1e3 for p in passes),
                   "s", len(passes), ""),
        "op_p50_s": (op_p50(ops), "s", len(op_s), ""),
        "op_tail_s": (t, "s", n, f"p{pct}"),
    }


def per_layer(res, spans, cores):
    """Per-layer metrics from a traced run: sums over the traced passes,
    divided by their number, plus ratios."""
    ops = [o for o in res["ops"] if o["phase"] == "traced"]
    passes = [p for p in res["passes"] if p["phase"] == "traced"]
    untraced = [p for p in res["passes"] if p["phase"] == "timed"]
    npass = len(passes)
    by_op = attribute(spans, ops)
    job_ids = {s["id"] for sl in by_op.values() for s in sl if s["kind"] == "job"}
    stages = [s for s in spans if s["kind"] == "stage" and s["parent"] in job_ids]
    mine = [s for sl in by_op.values() for s in sl]
    jobs = [s for s in mine if s["kind"] == "job"]
    plans = [s for s in mine if s["kind"] == "plan"]
    trig = [s for s in mine if s["kind"] == "trigger"]

    def st(key):
        return sum(s["attrs"].get(key, 0.0) for s in stages)

    def per(x):
        return x / npass

    op_ms = sum(o["end"] - o["start"] for o in ops)
    gap = sum(self_ms((o["start"], o["end"]),
                      [(s["start"], s["end"]) for s in by_op[o["id"]]
                       if s["kind"] in ("job", "plan")]) for o in ops)
    busy = union_ms([(s["start"], s["end"]) for s in jobs])
    run_ms = st("run_ms")
    mb = 1024.0 * 1024.0
    trig_ms = [s["attrs"].get("triggerExecution_ms", 0.0) for s in trig]
    mr = res["workload"] == "mr_corpus"
    map_st = [s for s in stages if s["attrs"].get("shuffle_write_records", 0) > 0]
    out_rows = sum(c["oracle_rows"] for c in res["mr_check"])
    first = [w for w in res["warm"] if w["pass"] == 0]
    warm_s = {w["name"]: (w["end"] - w["start"]) / 1e3 for w in first}
    timed_s = {}
    for o in res["ops"]:
        timed_s.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1e3)
    build = sum(max(0.0, warm_s[w["name"]] - statistics.median(timed_s[w["name"]]))
                for w in first
                if w["plancache_after"] > w["plancache_before"] and w["name"] in timed_s)
    traced_jvm = res["jvm"]["traced"]
    m = {
        "plan.ms": per(sum(s["attrs"]["plan_ms"] for s in plans)),
        "plan.queries": per(len(plans)),
        "plan.exchanges": per(sum(s["attrs"]["exchanges"] for s in plans)),
        "plan.scans": per(sum(s["attrs"]["scans"] for s in plans)),
        "driver.gap_ms": per(gap),
        "driver.gap_share": gap / op_ms if op_ms else 0.0,
        "jobs.count": per(len(jobs)),
        "stages.count": per(len(stages)),
        "tasks.count": per(st("tasks")),
        "jobs.busy_ms": per(busy),
        "tasks.run_ms": per(run_ms),
        "tasks.cpu_ms": per(st("cpu_ms")),
        "tasks.gc_ms": per(st("gc_ms")),
        "tasks.failed": per(st("failed")),
        "slots.util": run_ms / (busy * cores) if busy else 0.0,
        "shuffle.write_mb": per(st("shuffle_write_bytes") / mb),
        "shuffle.read_mb": per(st("shuffle_read_bytes") / mb),
        "shuffle.records": per(st("shuffle_write_records")),
        "spill.mb": per(st("spill_bytes") / mb),
        "scan.mb": per(st("input_bytes") / mb),
        "scan.rows": per(st("input_records")),
        "store.write_mb": per(st("output_bytes") / mb),
        "store.write_rows": per(st("output_records")),
        "store.write_amp": st("output_bytes") / st("input_bytes") if st("input_bytes") else 0.0,
        "stream.triggers": per(len(trig)),
        "stream.input_rows": per(sum(s["attrs"].get("input_rows", 0.0) for s in trig)),
        "stream.trigger_p50_ms": statistics.median(trig_ms) if trig_ms else 0.0,
        "stream.trigger_tail_ms": tail(trig_ms)[0] if trig_ms else 0.0,
        "engine.map_ms": per(sum(s["attrs"]["run_ms"] for s in map_st)) if mr else 0.0,
        "engine.reduce_ms": per(run_ms - sum(s["attrs"]["run_ms"] for s in map_st)) if mr else 0.0,
        "engine.kv_per_output": per(st("shuffle_write_records")) / out_rows if mr and out_rows else 0.0,
        "engine.sequential_s": sum(c["sequential_s"] for c in res["mr_check"]),
        "plancache.entries": res["plancache_entries"],
        "plancache.build_s": build,
        "jvm.gc_ms": per(traced_jvm["gc_ms"]),
        "jvm.jit_ms": per(traced_jvm["jit_ms"]),
        "jvm.code_cache_mb": res["jvm"]["code_cache_mb"],
        "jvm.retained_heap_mb": res["jvm"]["retained_heap_mb"],
        "trace.overhead": (statistics.median(p["end"] - p["start"] for p in passes)
                           / statistics.median(p["end"] - p["start"] for p in untraced)),
        "trace.unattributed_jobs": len(unattributed_jobs(spans, ops)),
    }
    for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        m[f"stream.{phase}_ms"] = per(sum(s["attrs"].get(f"{phase}_ms", 0.0) for s in trig))
    m["stream.state_commit_ms"] = per(sum(s["attrs"].get("state_commit_ms", 0.0) for s in trig))
    return m
