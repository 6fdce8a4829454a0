"""Per-layer metrics from the spans of a traced run.

Every metric is summed over the queries of a traced pass and averaged
over the traced passes (ratios are taken over the sums). The layer
names follow the engine's modules; DESIGN.json maps each layer to the
end-to-end metric and workload it should move.
"""
import json
import statistics
from collections import defaultdict

MB = 2.0 ** 20

UNITS = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "queries.action_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.job_ms": "ms",
    "scheduler.gap_ms": "ms", "scheduler.task_delay_ms": "ms",
    "scheduler.empty_task_ratio": "fraction",
    "scheduler.failed_tasks": "count",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.busy_ratio": "fraction",
    "tables.input_mb": "MB", "tables.input_rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_mb": "MB",
    "memory.gc_ms": "ms", "memory.task_gc_ms": "ms", "memory.cached_mb": "MB",
    "protocol.output_mb": "MB", "protocol.output_rows": "count",
    "protocol.files_created": "count", "protocol.renames": "count",
    "protocol.deletes": "count",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.outside_trigger_ms": "ms",
    "trace.overhead_s": "s",
}
COVERAGE_TOLERANCE = 0.05
# the query window is in epoch ms and its build/action times in nanoTime;
# the wall-time comparison allows their rounding on top of the 5 %
CLOCK_SLACK_MS = 2


def union_and_gaps(window, intervals):
    """Job-covered ms (the union of the job intervals as recorded, not
    clipped to the window) and the ms of the window that no job covers.
    Their sum is the wall time only if every job lies inside the window."""
    lo, hi = window
    spans = sorted(intervals)
    covered, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    gaps, edge = 0, lo
    for s, e in spans:
        if s > edge:
            gaps += min(s, hi) - edge
        edge = min(hi, max(edge, e))
    gaps += max(0, hi - edge)
    return covered, gaps


def per_query_layers(q, jobs, qes, batches):
    window = (q["start"], q["end"])
    wall = q["end"] - q["start"]
    covered, gaps = union_and_gaps(window, [(j["start"], j["end"])
                                            for j in jobs if j["end"] >= 0])
    s = lambda k: sum(j[k] for j in jobs)  # noqa: E731
    trig = sum(b["trigger_ms"] for b in batches)
    m = {
        "queries.build_ms": q["build_ms"],
        "queries.build_jobs": sum(1 for j in jobs if j["phase"] == "build"),
        "queries.action_ms": q["action_ms"],
        "catalyst.analysis_ms": sum(x["analysis_ms"] for x in qes),
        "catalyst.optimization_ms": sum(x["optimization_ms"] for x in qes),
        "catalyst.planning_ms": sum(x["planning_ms"] for x in qes),
        "catalyst.executions": len(qes),
        "scheduler.jobs": len(jobs), "scheduler.stages": s("stages"),
        "scheduler.tasks": s("tasks"), "scheduler.job_ms": covered,
        "scheduler.gap_ms": gaps, "scheduler.task_delay_ms": s("delay_ms"),
        "scheduler.empty_tasks": s("empty_tasks"),
        "scheduler.failed_tasks": s("failed_tasks"),
        "exec.task_ms": s("task_ms"), "exec.cpu_ms": s("cpu_ms"),
        "tables.input_mb": s("input_bytes") / MB,
        "tables.input_rows": s("input_rows"),
        "shuffle.write_mb": s("shuffle_write_bytes") / MB,
        "shuffle.read_mb": s("shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_ms": s("fetch_wait_ms"),
        "shuffle.spill_mb": s("spill_bytes") / MB,
        "memory.gc_ms": q["gc_ms"], "memory.task_gc_ms": s("task_gc_ms"),
        "memory.cached_mb": q["cached_bytes"] / MB,
        "protocol.output_mb": s("output_bytes") / MB,
        "protocol.output_rows": s("output_rows"),
        "protocol.files_created": q["files_created"],
        "protocol.renames": q["renames"], "protocol.deletes": q["deletes"],
        "streaming.batches": len(batches), "streaming.trigger_ms": trig,
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "streaming.query_planning_ms":
            sum(b["query_planning_ms"] for b in batches),
        "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
        "streaming.commit_offsets_ms":
            sum(b["commit_offsets_ms"] for b in batches),
        "streaming.state_commit_ms":
            sum(b["state_commit_ms"] for b in batches),
        "streaming.outside_trigger_ms": max(0, wall - trig) if batches else 0,
        "io.wchar_mb": q["wchar"] / MB,
    }
    problems = [f"{q['id']}: job {j['job']} [{j['start']}, {j['end']}] "
                f"lies outside the query window [{q['start']}, {q['end']}]"
                for j in jobs if j["start"] < q["start"] or j["end"] > q["end"]]
    if abs(covered + gaps - wall) > COVERAGE_TOLERANCE * wall:
        problems.append(f"{q['id']}: job {covered} ms + gap {gaps} ms "
                        f"!= wall {wall} ms")
    timed = q["build_ms"] + q["action_ms"]
    if abs(wall - timed) > COVERAGE_TOLERANCE * timed + CLOCK_SLACK_MS:
        problems.append(f"{q['id']}: window {wall} ms != build + action "
                        f"{timed:.1f} ms")
    return m, problems


def ratios(m, cores):
    out = dict(m)
    tasks = out.pop("scheduler.empty_tasks")
    out["scheduler.empty_task_ratio"] = \
        tasks / m["scheduler.tasks"] if m["scheduler.tasks"] else 0.0
    out["exec.busy_ratio"] = (m["exec.task_ms"] /
                              (m["scheduler.job_ms"] * cores)
                              if m["scheduler.job_ms"] else 0.0)
    return out


def summarize(spans_path, passes, cores):
    """(per-pass metrics {name: {value, unit}}, per-query means,
    self-check problems)."""
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    queries = [s for s in spans if s["type"] == "query"]
    ids = {q["id"] for q in queries}
    by = defaultdict(lambda: defaultdict(list))
    problems = []
    for s in spans:
        if s["type"] in ("job", "qe", "batch"):
            if s["parent"] not in ids:
                problems.append(f"{s['type']} span without a query parent: "
                                f"{json.dumps(s)[:200]}")
            else:
                by[s["parent"]][s["type"]].append(s)
    for q in queries:
        for j in by[q["id"]]["job"]:
            if j["end"] < 0:
                problems.append(f"{q['id']}: job {j['job']} never ended")
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    totals = defaultdict(float)
    per_query = defaultdict(lambda: defaultdict(float))
    counts = defaultdict(int)
    for q in queries:
        b = by[q["id"]]
        m, probs = per_query_layers(q, b["job"], b["qe"], b["batch"])
        problems += probs
        counts[q["query"]] += 1
        for k, v in m.items():
            totals[k] += v
            per_query[q["query"]][k] += v
    n = max(1, len(traced))
    per_pass = ratios({k: v / n for k, v in totals.items()}, cores)
    per_pass.pop("io.wchar_mb")
    per_pass["trace.overhead_s"] = (
        statistics.median(p["seconds"] for p in traced) -
        statistics.median(p["seconds"] for p in plain)
        if traced and plain else 0.0)
    metrics = {k: {"value": per_pass[k], "unit": UNITS[k]} for k in UNITS}
    means = {q: ratios({k: v / counts[q] for k, v in m.items()}, cores)
             for q, m in per_query.items()}
    return metrics, means, problems
