"""Traced-run roll-up: Spark's event log plus the benchmark's spans and
streaming progress reports, attributed per operation and per layer.

Standard library only. The event log is the uncompressed JSON-lines file
Spark writes with ``spark.eventLog.enabled``; spans are the records
``run.py`` keeps in memory (name, start, end, parent, trace id and
attributes). An operation (a streaming trigger, or one pass over the
headline queries) owns every job, SQL execution and task that started
inside its span: the benchmark runs one operation at a time, so a time
window attributes Spark's work without tagging it inside the program.

Run as a script to roll up a kept trace directory again:
``python3 perfbench/rollup.py <trace_dir> <cores>``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

PY_ACCUMS = {
    "time to start Python workers": "py.worker_start_s",
    "time to initialize Python workers": "py.worker_init_s",
    "time to run Python workers": "py.worker_run_s",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_returned",
}
PY_MS = {"py.worker_start_s", "py.worker_init_s", "py.worker_run_s"}
TASK_KEYS = [
    "exec.cpu_s", "exec.run_s", "exec.gc_s", "exec.deser_s",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
    *PY_ACCUMS.values(),
]


def read_event_log(path: str) -> tuple[list[dict], list[float], list[float]]:
    """Tasks (launch time and metrics), job submit times and SQL
    execution start times, all in seconds since the epoch."""
    tasks, jobs, sqls = [], [], []
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:  # a log cut short by a crash ends mid-line
                continue
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1e3)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sqls.append(ev["time"] / 1e3)
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                tasks.append(_task(ev))
    return tasks, jobs, sqls


def _task(ev: dict) -> dict:
    info, m = ev["Task Info"], ev["Task Metrics"]
    rd = m.get("Shuffle Read Metrics", {})
    t = {
        "launch": info["Launch Time"] / 1e3,
        "exec.cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "exec.run_s": m.get("Executor Run Time", 0) / 1e3,
        "exec.gc_s": m.get("JVM GC Time", 0) / 1e3,
        "exec.deser_s": m.get("Executor Deserialize Time", 0) / 1e3,
        "exec.peak_mem_bytes": m.get("Peak Execution Memory", 0),
        "shuffle.read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "shuffle.write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill.bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }
    for key in PY_ACCUMS.values():
        t[key] = 0
    for acc in info.get("Accumulables", []):
        key = PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            v = float(acc.get("Update") or 0)
            t[key] += v / 1e3 if key in PY_MS else v
    return t


def window(tasks, jobs, sqls, start: float, end: float, cores: int) -> dict:
    """Spark's work that started inside ``[start, end)``."""
    inside = [t for t in tasks if start <= t["launch"] < end]
    out = {k: sum(t[k] for t in inside) for k in TASK_KEYS}
    out["exec.peak_mem_bytes"] = max((t["exec.peak_mem_bytes"] for t in inside), default=0)
    out["exec.busy_frac"] = out["exec.run_s"] / max(1e-9, (end - start) * cores)
    out["plans.jobs_per_op"] = sum(start <= j < end for j in jobs)
    out["plans.sql_execs_per_op"] = sum(start <= s < end for s in sqls)
    out["tasks"] = len(inside)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: the median of each span's duration minus the part
    of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    by_name: dict[str, list[float]] = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        by_name.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
    return {k: statistics.median(v) for k, v in sorted(by_name.items())}


def _median(values, default=0.0):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else default


def streaming_layer(run: dict) -> dict:
    """Stream-engine time from ``StreamingQuery.recentProgress``; ``run``
    is a pipeline-run span carrying its progress reports."""
    prog = run.get("progress") or []
    dur = [p.get("durationMs", {}) for p in prog]
    state = [o for p in prog for o in p.get("stateOperators", [])]
    trig = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
    return {
        "streaming.start_s": (run["end"] - run["start"]) - trig,
        "streaming.query_planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1e3,
        "streaming.wal_commit_s": sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        ) / 1e3,
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.state_update_s": sum(o.get("allUpdatesTimeMs", 0) for o in state) / 1e3,
        "streaming.state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
        "streaming.state_bytes": state[-1].get("memoryUsedBytes", 0) if state else 0,
    }


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile, n). With ten samples or fewer no percentile has
    that support; the maximum is returned, marked as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return (xs[-1] if xs else 0.0), 100.0, n
    i = n - 11
    return xs[i], 100.0 * i / (n - 1), n


def roll_up(spans: list[dict], event_log: str | None, cores: int) -> dict:
    """Per-operation records and their per-layer medians."""
    tasks, jobs, sqls = read_event_log(event_log) if event_log else ([], [], [])
    ops = [s for s in spans if s.get("op") and s.get("phase") == "steady"]
    child = {}
    for s in spans:
        child.setdefault(s["parent"], []).append(s)
    per_op = []
    for op in ops:
        # a trigger's Spark work is its pipeline run; its consumer read
        # is timed on its own
        runs = [c for c in child.get(op["id"], []) if c["name"] == "pipeline.run"]
        span = runs[0] if runs else op
        rec = {"op": op["name"], "trace": op["trace"], "wall_s": span["end"] - span["start"]}
        rec.update(window(tasks, jobs, sqls, span["start"], span["end"], cores))
        for c in child.get(op["id"], []):
            if c["name"] == "pipeline.run":
                rec.update(streaming_layer(c))
            if c["name"] == "sources.land":
                rec["sources.land_s"] = c["end"] - c["start"]
            for g in child.get(c["id"], []):
                if g["name"].startswith("sinks.commit."):
                    key = "sinks.commit_s." + g["name"].split(".", 2)[2]
                    rec[key] = rec.get(key, 0.0) + g["end"] - g["start"]
                    rec["sinks.bytes_written"] = rec.get("sinks.bytes_written", 0) + g.get("bytes", 0)
        # layer metrics the benchmark recorded on the operation itself
        rec.update({k: v for k, v in op.items() if "." in k and isinstance(v, (int, float))})
        per_op.append(rec)
    keys = sorted({k for r in per_op for k in r if isinstance(r[k], (int, float))})
    summary = {k: _median([r.get(k) for r in per_op]) for k in keys}
    per_query: dict[str, dict] = {}
    for s in spans:
        if s["name"].startswith("query.") and s.get("phase") == "steady":
            w = window(tasks, jobs, sqls, s["start"], s["end"], cores)
            w["wall_s"] = s["end"] - s["start"]
            per_query.setdefault(s["name"][6:], []).append(w)
    per_query = {
        q: {k: _median([r[k] for r in rs]) for k in rs[0]} for q, rs in per_query.items()
    }
    return {
        "ops": per_op,
        "summary": summary,
        "per_query": per_query,
        "self_time_s": self_times(spans),
    }


def main(argv: list[str]) -> int:
    trace_dir, cores = argv[0], int(argv[1])
    with open(os.path.join(trace_dir, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    logs = [
        os.path.join(trace_dir, n) for n in os.listdir(trace_dir)
        if n.startswith(("local-", "app-"))
    ]
    print(json.dumps(roll_up(spans, logs[0] if logs else None, cores), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
