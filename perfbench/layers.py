"""Layer attribution for traced runs.

Spans come from the benchmark's own files: ``Tracer.install`` wraps public
functions of the engine's modules (Cypher parse and compile, the JSON query
builder, DataFrame actions) so that calls made anywhere in the process,
including the in-process HTTP server's handler threads, are timed. Every
span belongs to the operation the closed-loop client has open.

Spark-side counts come from the event log, parsed after the session has
stopped: jobs, stages and tasks, executor run/CPU/GC time, shuffle and
spill bytes, and SQL metrics (join output rows, Python worker bytes).
Jobs are attributed to an operation by their submission time. The client
is single and closed-loop, so operation windows never overlap; job groups
would not work here because the server runs the engine on its own threads.
"""

from __future__ import annotations

import contextlib
import functools
import json
import pathlib
import threading
import time

# Spark phase names of QueryPlanningTracker, in plan order.
CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Spans of the current operation, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- span recording ---------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as a span of the open operation; the yielded dict
        takes counts recorded with it."""
        counts: dict = {}
        if not self.enabled or self.op is None:
            yield counts
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"op": self.op, "name": name, "t0": time.time(),
               "parent": stack[-1]["name"] if stack else None,
               "depth": len(stack), "counts": counts}
        stack.append(rec)
        try:
            yield counts
        finally:
            stack.pop()
            rec["t1"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, classify=None):
        """``fn`` with a span around each call. ``classify(result)`` may
        rename the span once the result is known (a Cypher statement is
        a read or a write only after compiling it)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as counts:
                out = fn(*args, **kwargs)
                if classify is not None:
                    counts["_rename"] = classify(out)
                return out

        return traced

    def install(self) -> None:
        """Wrap the engine's layer entry points. Module attributes are
        replaced where callers look them up, so in-process callers (the
        HTTP server included) go through the wrappers."""
        from pyspark.sql.classic.dataframe import DataFrame

        from rs_graphdb_spark.cypher import compiler
        from rs_graphdb_spark.graph import PropertyGraph
        from rs_graphdb_spark.sources import http_server

        compiler.parse_cypher = self.wrap("cypher.parse", compiler.parse_cypher)
        compiler.Compiler.run = self.wrap(
            "cypher.compile", compiler.Compiler.run,
            classify=lambda out: "dml.write_call"
            if isinstance(out, PropertyGraph) else None,
        )
        http_server.json_query = self.wrap("query.build", http_server.json_query)
        # POST /batch/nodes reaches the engine through no public function;
        # its rows are built in this method of the server
        server = http_server.GraphHTTPServer
        server._create_nodes = self.wrap("dml.write_call", server._create_nodes)
        collect = DataFrame.collect
        tracer = self

        def traced_collect(df):
            with tracer.span("spark.action") as counts:
                rows = collect(df)
                if tracer.enabled:
                    counts.update(catalyst_phases(df))
                return rows

        DataFrame.collect = traced_collect

    @contextlib.contextmanager
    def operation(self, op: int):
        self.op = op
        try:
            yield
        finally:
            self.op = None

    def op_spans(self, op: int) -> list[dict]:
        spans = [s for s in self.spans if s["op"] == op]
        for s in spans:
            new = s["counts"].pop("_rename", None)
            if new:
                s["name"] = new
        return spans


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of the DataFrame's last execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        if phases.contains(name):
            p = phases.apply(name)
            out[f"catalyst.{name}_s"] = (p.endTimeMs() - p.startTimeMs()) / 1e3
    return out


def self_times(spans: list[dict], wall: float) -> dict[str, float]:
    """Per-layer self time of one operation: each span's duration minus
    the part its direct children cover. What no span covers is the
    client's own time (request transport for HTTP ops). The values add
    up to ``wall``."""
    out: dict[str, float] = {}
    for s in spans:
        kids = [c for c in spans if c["depth"] == s["depth"] + 1
                and c["t0"] >= s["t0"] and c["t1"] <= s["t1"]]
        own = (s["t1"] - s["t0"]) - sum(c["t1"] - c["t0"] for c in kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    top = sum(s["t1"] - s["t0"] for s in spans if s["depth"] == 0)
    out["client"] = wall - top
    return out


# -- event log ---------------------------------------------------------------

def _acc_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = f'{plan["nodeName"]}|{m["name"]}'
    for child in plan.get("children", []):
        _acc_names(child, out)


def read_event_log(log_dir: pathlib.Path) -> dict:
    """Jobs with their stages, tasks and summed task metrics, from the
    uncompressed, unrolled event log of a stopped session."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc_names: dict[int, str] = {}
    with files[0].open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev["Submission Time"] / 1e3,
                             "stages": set(), "tasks": 0, "metrics": {},
                             "accums": {}}
                for st in ev["Stage Infos"]:
                    stage_job[st["Stage ID"]] = jid
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]]["stages"].add(sid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                _add_task_metrics(job["metrics"], ev.get("Task Metrics") or {})
                for acc in ev["Task Info"].get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (
                        isinstance(upd, str) and upd.lstrip("-").isdigit()
                    ):
                        aid = acc["ID"]
                        job["accums"][aid] = job["accums"].get(aid, 0) + int(upd)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _acc_names(ev["sparkPlanInfo"], acc_names)
    return {"jobs": jobs, "acc_names": acc_names}


def _add_task_metrics(out: dict, tm: dict) -> None:
    def add(key, v):
        out[key] = out.get(key, 0) + (v or 0)

    add("exec.run_s", tm.get("Executor Run Time", 0) / 1e3)
    add("exec.cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
    add("exec.gc_s", tm.get("JVM GC Time", 0) / 1e3)
    sr = tm.get("Shuffle Read Metrics") or {}
    add("shuffle.read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    add("shuffle.write_bytes", (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    add("spill.bytes", tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))


def spark_counts(log: dict, t0: float, t1: float, action_t0: float | None) -> dict:
    """Spark-side numbers of the jobs submitted in ``[t0, t1]``.
    ``action_t0`` is when the final action began: jobs submitted before
    it ran while the DataFrame was still being built."""
    # event-log times have millisecond resolution
    lo, hi = t0 - 1e-3, t1 + 1e-3
    mine = [j for j in log["jobs"].values() if lo <= j["submit"] <= hi]
    out = {
        "spark.jobs": len(mine),
        "spark.jobs_before_action": sum(
            1 for j in mine if action_t0 is not None and j["submit"] < action_t0 - 1e-3
        ),
        "spark.stages": sum(len(j["stages"]) for j in mine),
        "spark.tasks": sum(j["tasks"] for j in mine),
    }
    for j in mine:
        for k, v in j["metrics"].items():
            out[k] = out.get(k, 0) + v
    names = log["acc_names"]
    py_bytes = 0
    py_ms = 0
    join_rows: dict[int, int] = {}
    for j in mine:
        for aid, v in j["accums"].items():
            name = names.get(aid, "")
            if name.endswith("|data sent to Python workers") or name.endswith(
                "|data returned from Python workers"
            ):
                py_bytes += v
            elif name.endswith("|time to run Python workers"):  # a ms timing
                py_ms += v
            elif "Join" in name and name.endswith("|number of output rows"):
                join_rows[aid] = join_rows.get(aid, 0) + v
    out["python.data_bytes"] = py_bytes
    out["python.worker_s"] = py_ms / 1e3
    out["join.max_output_rows"] = max(join_rows.values(), default=0)
    return out
