#!/usr/bin/env python3
"""Benchmark of the E1 chat dataflow and the headline queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload chat_live --seed 1 --seconds 15 --trace 0

Workloads (see README.md for why each exists):

* ``chat_live`` -- one poll sweep of the seven chat rooms per streaming
  trigger, sinks seeded with older history, a consumer read after each
  trigger;
* ``query_headline`` -- the twelve headline queries over seeded tables.

Every input is generated from ``--seed`` (pyarrow, no Spark job); the
program receives only the generated files. Set-up runs first; then
as many operations (triggers, or passes over the queries) as fill
``--seconds`` at the workload's nominal operation time; then the
outputs are checked outside the timed region. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A traced run turns on Spark's event log and keeps its
spans, progress reports and roll-up under
``.perfbench_run/trace/<workload>-seed<seed>/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import chatgen  # noqa: E402
import rollup  # noqa: E402
import tablegen  # noqa: E402

WORKLOADS = {
    "chat_live": {"kind": "chat", "sweeps_per_trigger": 1, "history_rows": 50_000, "op_s": 5.0},
    "query_headline": {"kind": "queries", "sf": 0.01, "op_s": 7.5},
}
# bench.py's headline set, fixed here so the workload cannot change
# without a change to the benchmark
HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "regional_revenue",
    "top_customers_per_nation",
    "a1_latest_event_per_user_agg",
    "d1_changes_events",
    "exact_dedup_docs",
    "minhash_lsh_pairs_docs",
    "text_metrics_docs",
    "ann_topk_bruteforce",
    "asof_click_attribution",
    "tfidf_top_terms",
]
TRIGGER_TIMEOUT_S = 60  # a trigger that has not drained by then fails
DOC_ALWAYS = ["ts", "username", "mentions", "content", "deleted"]


class Tracer:
    """In-memory spans. A span opened while another is open is its
    child and shares its trace id; the spans of one trigger or one
    query pass therefore share the id of that operation's span. Sink
    commits run on the py4j callback thread while the main thread waits
    inside ``pipeline.run``, so the open-span stack is shared."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.remove(rec)

    def named(self, name: str, **match) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def written(path: str) -> tuple[int, int]:
    """Bytes and rows of one table version; rows come from the parquet
    footers, so no Spark job runs."""
    nbytes = rows = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            nbytes += os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return nbytes, rows


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a live process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_s(pids: list[int]) -> float:
    """CPU seconds used so far by ``pids`` and their reaped children
    (a Python worker that exits is reaped by the worker daemon)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since it was listed
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.params = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_run", f"{self.workload}-{os.getpid()}")
        self.trace_dir = os.path.join(
            ROOT, ".perfbench_run", "trace", f"{self.workload}-seed{self.seed}"
        )
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.jvm = None
        self.peak_rss_mb = 0.0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.facts: dict = {}  # what the run did, for the record

    # -- launcher ---------------------------------------------------------
    def configure(self) -> None:
        """Everything the JVM and its Python workers inherit: set before
        the session starts, from outside the program."""
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local)
        os.makedirs(tmp)
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(self.cores)
        env["SPARK_GRAFT_MAX_PARTITION_BYTES"] = "4m"  # bench.py's split
        env["SPARK_LOCAL_DIRS"] = local
        env["TMPDIR"] = tmp
        # Python workers import the program by name
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        tempfile.tempdir = tmp
        # no JVM may write outside the checkout: /tmp/hsperfdata is off
        env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.trace:
            events = os.path.join(local, "eventlog")
            os.makedirs(events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        sys.path.insert(0, ROOT)

    def start_session(self):
        with self.tracer.span("session.start"):
            from farmrpg_etl_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway = self.spark.sparkContext._gateway
        self.jvm = getattr(self.gateway, "proc", None)
        return self.spark

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for each."""
        if self.spark is not None:
            kids = descendants(self.jvm.pid) if self.jvm else []
            try:
                self.spark.stop()
            finally:
                self.gateway.shutdown()
                if self.jvm is not None:
                    self.jvm.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        self.jvm.wait(60)
                    except subprocess.TimeoutExpired:
                        self.jvm.kill()
                        self.jvm.wait()
                deadline = time.time() + 20
                for pid in kids:
                    while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                        time.sleep(0.1)
                    if os.path.exists(f"/proc/{pid}"):
                        os.kill(pid, signal.SIGKILL)
        shutil.rmtree(self.work, ignore_errors=True)

    def steady_ops(self) -> int:
        """How many operations a run times: enough to fill ``--seconds``
        at the nominal operation time. The count does not depend on how
        fast this run goes, because operations keep getting faster for
        tens of seconds after the cold one (JIT): a count that varied
        with host speed would put the median at a different point of
        that ramp from run to run."""
        return max(1, math.ceil(self.seconds / self.params["op_s"]))

    # -- bookkeeping ------------------------------------------------------
    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation
        and the benchmark goes on with the next one."""
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.record(False, what)
            return None

    @contextmanager
    def cpu(self):
        """Yields a dict that holds, once the block has run, the CPU
        seconds the driver, its JVM and the JVM's Python workers used."""
        pids = [os.getpid(), self.jvm.pid]
        used = {"cpu_s": -cpu_s(pids + descendants(self.jvm.pid))}
        try:
            yield used
        finally:
            used["cpu_s"] += cpu_s(pids + descendants(self.jvm.pid))

    def sample_rss(self) -> None:
        pids = [os.getpid()] + ([self.jvm.pid] if self.jvm else [])
        self.peak_rss_mb = sum(vm_hwm_mb(p) for p in pids)

    # -- chat workload ----------------------------------------------------
    def run_chat(self) -> None:
        spt = self.params["sweeps_per_trigger"]
        hist = self.params["history_rows"]
        t_setup = time.time()
        spark = self.start_session()
        from pyspark.sql import functions as F

        from farmrpg_etl_spark.parse.stage import parse_payloads, parsed_rows
        from farmrpg_etl_spark.plans.topology import chat_pipeline_streaming
        from farmrpg_etl_spark.sinks.writers import (
            ParquetTable,
            insert_if_absent,
            partial_document_update,
        )

        tracer, trace = self.tracer, self.trace

        class TimedTable(ParquetTable):
            """Times each sink commit from outside the program: the
            ``_commit`` seam tests/test_streaming_recovery.py's
            CrashingTable also uses."""

            def _commit(self, df, batch_id, writer="default"):
                with tracer.span("sinks.commit." + writer) as s:
                    super()._commit(df, batch_id, writer)
                if trace:
                    s["bytes"], s["rows"] = written(
                        os.path.join(self.path, f"v{self.current_version()}")
                    )

        def micros(cols):
            return [
                F.unix_micros(c).alias(c) if c in ("ts", "deleted_ts") else F.col(c)
                for c in cols
            ]

        landing = os.path.join(self.work, "landing")
        os.makedirs(landing)
        ckpt = os.path.join(self.work, "checkpoint")
        messages = TimedTable(spark, os.path.join(self.work, "messages"))
        docs = TimedTable(spark, os.path.join(self.work, "chat_docs"))
        gen = chatgen.ChatGenerator(self.seed)
        hist_m = os.path.join(self.work, "history_messages.parquet")
        hist_d = os.path.join(self.work, "history_docs.parquet")
        with tracer.span("sources.history"):
            chatgen.write_history(hist_m, hist_d, hist, self.seed)
        with tracer.span("sinks.seed"):
            insert_if_absent(messages, spark.read.parquet(hist_m), ["id"])
            partial_document_update(
                docs, spark.read.parquet(hist_d), ["room", "id"],
                always_cols=DOC_ALWAYS, conditional_cols={"deleted_ts": "deleted"},
            )
        read_rng = random.Random(self.seed)

        def consumer_read(i: int) -> bool:
            room = chatgen.ROOMS[i % len(chatgen.ROOMS)]
            expect = gen.latest_ids(room)
            target = read_rng.choice(expect)
            with tracer.span("sinks.read"):
                latest = (
                    messages.read().filter(F.col("room") == room)
                    .orderBy(F.col("ts").desc(), F.col("id").desc())
                    .limit(20).select("id").collect()
                )
                hit = (
                    docs.read().filter(F.col("id") == target)
                    .select(*micros(chatgen.DOC_COLS)).collect()
                )
            return [r[0] for r in latest] == expect and [tuple(r) for r in hit] == [
                gen.docs[(room, int(target))]
            ]

        def trigger(i: int, phase: str) -> None:
            with tracer.span("trigger", op=True, phase=phase, index=i) as op:
                first = gen.sweeps
                with tracer.span("sources.land"):
                    obs = sum(gen.land_sweep(landing) for _ in range(spt))
                ok = False
                # /proc is read outside the span, so it adds no latency
                with self.cpu() as used, tracer.span("pipeline.run", phase=phase) as run:
                    try:
                        q = chat_pipeline_streaming(
                            spark, landing, messages, docs, checkpoint_dir=ckpt
                        )
                        try:
                            ok = q.awaitTermination(TRIGGER_TIMEOUT_S)
                        finally:
                            q.stop()
                        run["progress"] = [json.loads(p.json) for p in q.recentProgress]
                    except Exception:
                        traceback.print_exc()
                run.update(used)
                self.record(ok, f"trigger {i}")
                log(f"trigger {i}: {dur(run):.3f} s")
                gen.commit_trigger()
                op["observations"] = obs
                ok = self.attempt(f"read {i}", lambda: consumer_read(i))
                if ok is not None:
                    self.record(ok, f"read {i}")
            if trace:
                files = [
                    os.path.join(landing, f"sweep-{s:06d}.parquet")
                    for s in range(first, gen.sweeps)
                ]
                self.attempt(f"layers {i}", lambda: measure_layers(op, files))

        def measure_layers(op: dict, files: list[str]) -> None:
            """Traced runs only, outside the trigger's own latency: the
            parse stage alone over the trigger's payloads, and what the
            trigger changed in the sinks."""
            from farmrpg_etl_spark.sources.landing import PAYLOAD_SCHEMA

            payloads = spark.read.schema(PAYLOAD_SCHEMA).parquet(*files)
            t0 = time.time()
            parsed_rows(parse_payloads(payloads, "chat")).write.format("noop").mode(
                "overwrite"
            ).save()
            op["parse.s"] = time.time() - t0
            counts = parse_payloads(payloads, "chat").agg(
                F.count_if(F.col("_error").isNull()), F.count_if(F.col("_error").isNotNull())
            ).first()
            op["parse.msgs"], op["parse.quarantined"] = counts[0], counts[1]
            # rows of the new version that the previous one lacks: the
            # new messages, and one chat_docs row per change the CDC
            # emitted (a trigger carries one sweep, so no key changes
            # twice in its batch)
            new_msgs, changed_docs = (
                t.read_version(v).exceptAll(t.read_version(v - 1)).count()
                for t, v in ((t, t.current_version()) for t in (messages, docs))
            )
            rows = sum(
                s["rows"] for s in tracer.spans
                if s["trace"] == op["trace"] and s["name"].startswith("sinks.commit.")
            )
            op["streaming.changes_per_obs"] = changed_docs / op["parse.msgs"]
            op["sinks.rows_rewritten_per_new_row"] = rows / max(1, new_msgs + changed_docs)

        # the first trigger pays query start-up, codegen and Python
        # worker start
        trigger(0, "cold")
        self.e2e["setup_s"] = time.time() - t_setup
        for i in range(1, 1 + self.steady_ops()):
            trigger(i, "steady")
        self.sample_rss()

        # output checks, outside the timed region
        live = F.col("id") >= F.lit(str(chatgen.LIVE_ID0))

        def same_rows(table, cols, expected) -> bool:
            got = table.read().filter(live).select(*micros(cols)).collect()
            return Counter(tuple(r) for r in got) == Counter(expected)

        def history_kept(table, cols, path) -> bool:
            old = table.read().filter(~live).select(*cols)
            ref = spark.read.parquet(path).select(*cols)
            return old.count() == hist and old.exceptAll(ref).isEmpty()

        checks = [
            ("messages", lambda: same_rows(messages, chatgen.MESSAGE_COLS, gen.messages.values())),
            ("chat_docs", lambda: same_rows(docs, chatgen.DOC_COLS, gen.docs.values())),
            ("messages history", lambda: history_kept(messages, chatgen.MESSAGE_COLS, hist_m)),
            ("chat_docs history", lambda: history_kept(docs, chatgen.DOC_COLS, hist_d)),
        ]
        for what, check in checks:
            ok = self.attempt(f"check {what}", check)
            if ok is not None:
                self.record(ok, f"check {what}")

        steady = tracer.named("pipeline.run", phase="steady")
        runs = [dur(r) for r in steady]
        self.e2e["op_cold_s"] = dur(tracer.named("pipeline.run", phase="cold")[0])
        self.e2e["op_p50_s"] = statistics.median(runs)
        self.e2e["op_cpu_s"] = statistics.median(r["cpu_s"] for r in steady)
        self.layer.update({
            "sources.payloads_per_trigger": spt * len(chatgen.ROOMS),
            "sinks.read_s": statistics.median(dur(s) for s in tracer.named("sinks.read")),
            "streaming.msgs_per_s": sum(
                s["observations"] for s in tracer.named("trigger", phase="steady")
            ) / sum(runs),
        })
        value, pct, n = rollup.tail(runs)
        self.layer["streaming.trigger_tail_s"] = value
        self.layer["streaming.trigger_tail_pct"] = pct
        self.layer["streaming.triggers"] = n
        self.facts = {
            "trigger_tail": f"p{pct:.0f} of n={n} steady triggers",
            "sweeps": gen.sweeps,
            "observations": gen.observations,
        }

    # -- headline queries -------------------------------------------------
    def run_queries(self) -> None:
        t_setup = time.time()
        spark = self.start_session()
        data = os.path.join(self.work, "tables")
        with self.tracer.span("sources.land") as land:
            rows = tablegen.generate(data, self.params["sf"], self.seed)
        self.layer["sources.land_s"] = dur(land)
        from farmrpg_etl_spark.queries import QUERIES

        results: dict[str, tuple[list[str], list[tuple]]] = {}

        def execute(name: str, phase: str) -> None:
            def go():
                with self.tracer.span("query." + name, phase=phase) as s:
                    df = QUERIES[name](spark, data)
                    if phase == "cold":
                        # a fresh job hands its rows back; they are
                        # checked against the oracle after the run
                        results[name] = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                log(f"query {name} ({phase}): {dur(s):.3f} s")
                return True

            if self.attempt(f"query {name}", go):
                self.record(True, name)
            # persisted intermediates must not leak into the next query
            spark.catalog.clearCache()

        def one_pass(phase: str) -> None:
            with self.cpu() as used, self.tracer.span("pass", op=True, phase=phase) as s:
                for name in HEADLINE:
                    execute(name, phase)
            s.update(used)

        one_pass("cold")  # codegen and JIT: the cost a fresh job pays
        self.e2e["setup_s"] = time.time() - t_setup
        for _ in range(self.steady_ops()):
            one_pass("steady")
        self.sample_rss()

        for name in HEADLINE:
            if name not in results:
                continue  # its cold run already counted as failed
            ok = self.attempt(f"check {name}", lambda: self.check_query(name, *results[name], data))
            if ok is not None:
                self.record(ok, f"check {name}")

        steady, cold = {}, {}
        for name in HEADLINE:
            runs = [dur(s) for s in self.tracer.named("query." + name, phase="steady")]
            first = self.tracer.named("query." + name, phase="cold")
            steady[name] = statistics.median(runs) if runs else math.nan
            cold[name] = dur(first[0]) if first else math.nan
            self.layer[f"query.{name}_s"] = steady[name]
            self.layer[f"query.{name}_cold_s"] = cold[name]
        self.e2e["op_p50_s"] = sum(steady.values())
        self.e2e["op_cpu_s"] = statistics.median(
            s["cpu_s"] for s in self.tracer.named("pass", phase="steady")
        )
        self.e2e["op_cold_s"] = sum(cold.values())
        self.facts = {
            "passes": len(self.tracer.named("pass", phase="steady")),
            "table_rows": rows,
        }

    @staticmethod
    def check_query(name: str, cols: list[str], got: list[tuple], data: str) -> bool:
        """Column names, row count and order-insensitive values against
        the DuckDB oracle, compared as scripts/check_correctness.py
        compares them."""
        import duckdb

        from farmrpg_etl_spark.oracles import ORACLES
        from scripts.check_correctness import canon

        with duckdb.connect() as con:
            for f in sorted(os.listdir(data)):
                path = os.path.join(data, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
            res = con.sql(ORACLES[name])
            want, want_cols = res.fetchall(), list(res.columns)
        return (
            sorted(cols) == sorted(want_cols)
            and len(got) == len(want)
            and canon(got, cols) == canon(want, want_cols)
        )

    # -- results ----------------------------------------------------------
    def execute(self) -> dict:
        self.configure()
        if self.params["kind"] == "chat":
            self.run_chat()
        else:
            self.run_queries()
        self.layer["mem.peak_rss_mb"] = self.peak_rss_mb
        self.layer["session.start_s"] = dur(self.tracer.named("session.start")[0])
        self.layer["ops.failed_frac"] = self.failed / max(1, self.attempted)
        if self.trace:
            self.write_trace()
        return self.result()

    def write_trace(self) -> None:
        """Stop Spark so the event log is complete, then roll it up next
        to the span file."""
        events = os.path.join(self.work, "spark-local", "eventlog")
        self.spark.stop()
        os.makedirs(self.trace_dir, exist_ok=True)
        kept = None
        for name in os.listdir(events):  # one application, one log
            kept = os.path.join(self.trace_dir, name)
            shutil.move(os.path.join(events, name), kept)
        with open(os.path.join(self.trace_dir, "spans.jsonl"), "w") as f:
            for s in self.tracer.spans:
                f.write(json.dumps(s, default=str) + "\n")
        rolled = rollup.roll_up(self.tracer.spans, kept, self.cores)
        self.layer.update(
            {k: v for k, v in rolled["summary"].items() if k in LAYER_UNITS}
        )
        rolled["end_to_end"] = self.e2e
        rolled["layers"] = self.layer
        rolled["run"] = self.describe()
        with open(os.path.join(self.trace_dir, "rollup.json"), "w") as f:
            json.dump(rolled, f, indent=1, default=str)

    def describe(self) -> dict:
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "cores": self.cores,
            "params": self.params,
            **({"churn": asdict(chatgen.ChatParams())} if self.params["kind"] == "chat" else {}),
            **self.facts,
        }

    def result(self) -> dict:
        names = LAYER_UNITS if self.trace else E2E_UNITS
        source = self.layer if self.trace else self.e2e
        metrics = {}
        for name, unit in names.items():
            value = source.get(name, 0.0)
            metrics[name] = {"value": value, "unit": unit}
        ok = all(math.isfinite(m["value"]) for m in metrics.values())
        return {
            "correct": self.failed == 0 and ok,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
E2E_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = Bench(args)
    try:
        result = bench.execute()
    finally:
        bench.close()
    print(json.dumps({"run": bench.describe()}))
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for k, v in bench.facts.items():
        print(f"{k}: {v}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
