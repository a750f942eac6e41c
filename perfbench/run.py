"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_rw --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The inputs are generated
from ``--seed`` into ``perfbench/.work/``, which also holds Spark's local
directories, warehouse and (with ``--trace 1``) event log and span file.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; lines before it are a
readable report. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shlex
import shutil
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4
DRIVER_MEMORY = "3g"
#: a traced op whose engine spans cover less than this share of its wall is
#: not reconciled: part of its time sits in no layer
COVERAGE_FLOOR = 0.5

def metric_units(trace: bool) -> dict[str, str]:
    """Names and units of the metrics a run reports, from BENCHMARK.json."""
    with (ROOT / "BENCHMARK.json").open() as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in spec}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for p in pathlib.Path("/proc").iterdir():
            if p.name.isdigit():
                try:
                    stat = (p / "stat").read_text()
                    parent[int(p.name)] = int(stat.rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        mine = {os.getpid()}
        grew = True
        while grew:
            new = {pid for pid, pp in parent.items() if pp in mine} - mine
            mine |= new
            grew = bool(new)
        total = 0
        for pid in mine:
            try:
                total += int((pathlib.Path(f"/proc/{pid}/statm")).read_text().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * self._page

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_event.wait(self.period)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def configure_spark_env(work: pathlib.Path, trace: bool) -> None:
    """Size and place the Spark session from outside the package: local[4],
    a driver heap below the box's memory, Python workers that can import
    the package, and every Spark directory inside ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)


def layer_metrics(workload, tracer, log) -> tuple[dict, list[dict]]:
    """Per-op layer records of the traced timed ops and their medians."""
    from layers import self_times, spark_counts

    from stats import median

    records = []
    for op in workload.timed_ops():
        spans = tracer.op_spans(op["id"])
        own = self_times(spans, op["wall"])
        rec = {"op": op["id"], "kind": op["kind"], "template": op["template"],
               "depth": op.get("depth"), "wall_s": op["wall"],
               "untraced_wall_s": op.get("untraced_wall"),
               "spans": [{"name": s["name"], "parent": s["parent"], "depth": s["depth"],
                          "start_s": s["t0"] - op["t0"], "end_s": s["t1"] - op["t0"]}
                         for s in spans]}
        actions = [s for s in spans if s["name"] == "spark.action" and s["depth"] == 0]
        action_t0 = op.get("action_t0") or (actions[-1]["t0"] if actions else None)
        phases: dict[str, float] = {}
        for s in spans:
            if s["name"] == "spark.action":
                for k, v in s["counts"].items():
                    phases[k] = phases.get(k, 0.0) + v
        run = own.pop("spark.action", 0.0) - phases.get(
            "catalyst.optimization_s", 0.0) - phases.get("catalyst.planning_s", 0.0)
        self_s = {f"{k}_s": v for k, v in own.items()}
        self_s["spark.run_s"] = run
        self_s["catalyst.optimization_s"] = phases.get("catalyst.optimization_s", 0.0)
        self_s["catalyst.planning_s"] = phases.get("catalyst.planning_s", 0.0)
        overhead_name = "http.overhead_s" if op["kind"] in ("read", "write") else "client.python_s"
        self_s[overhead_name] = self_s.pop("client_s")
        rec["self_s"] = self_s
        # the self times add up to the wall by construction; what can fail
        # is how much of it the engine spans cover
        rec["span_coverage"] = 1.0 - self_s[overhead_name] / op["wall"]
        rec["catalyst.analysis_s"] = phases.get("catalyst.analysis_s", 0.0)
        rec["spark"] = spark_counts(log, op["t0"], op["t1"], action_t0)
        if op["template"] in ("minhash_dedup", "ngram_jaccard"):
            cand = rec["spark"]["join.max_output_rows"]
            rec["dedup.candidate_yield"] = len(op["rows"]) / cand if cand else 0.0
        records.append(rec)

    def med(key_fn):
        # over the ops that pass through the layer: a zero or absent value
        # means the op did not
        return median([v for v in (key_fn(r) for r in records) if v])

    names = {k for r in records for k in r["self_s"]}
    out = {n: med(lambda r, n=n: r["self_s"].get(n)) for n in names}
    out["catalyst.analysis_s"] = med(lambda r: r["catalyst.analysis_s"])
    for key in ("spark.jobs_before_action", "spark.jobs", "spark.stages", "spark.tasks",
                "exec.run_s", "exec.cpu_s", "exec.gc_s", "shuffle.read_bytes",
                "shuffle.write_bytes", "spill.bytes", "python.data_bytes",
                "python.worker_s"):
        out[key] = med(lambda r, k=key: r["spark"].get(k, 0))
    out["dedup.candidate_yield"] = med(lambda r: r.get("dedup.candidate_yield"))
    paired = [r for r in records if r["untraced_wall_s"] is not None]
    out["trace.overhead_s"] = median([r["wall_s"] - r["untraced_wall_s"] for r in paired])
    out["trace.span_coverage"] = min(r["span_coverage"] for r in records)
    low = [r for r in records if r["span_coverage"] < COVERAGE_FLOOR]
    for r in low:
        print(f"  op {r['op']} {r['template']}: engine spans cover only "
              f"{r['span_coverage']:.0%} of its wall")
    out["trace.unreconciled_ops"] = len(low)
    return out, records


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve_rw", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import rs_graphdb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    units = metric_units(trace)

    import datagen
    from layers import Tracer, read_event_log

    from batch import Batch
    from serve_rw import ServeRW

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data_dir = datagen.write(args.seed, work / "data")
    configure_spark_env(work, trace)
    os.chdir(work)

    from rs_graphdb_spark import get_spark, load_tpch_graph

    tracer = Tracer()
    # setup_s is one wall-clock span from here to the first timed op
    setup_t0 = time.time()
    spark = get_spark("perfbench")
    session_s = time.time() - setup_t0
    try:
        t0 = time.time()
        graph = load_tpch_graph(spark, str(data_dir))
        load_s = time.time() - t0
        cls = {"serve_rw": ServeRW, "batch": Batch}[args.workload]
        workload = cls(spark, graph, data_dir, args.seed, tracer)
        if trace:
            tracer.install()
        try:
            t0 = time.time()
            workload.warmup()
            warmup_s = time.time() - t0
            setup_s = time.time() - setup_t0
            sampler = RssSampler()
            sampler.start()
            workload.measure(args.seconds, trace)
            peak = sampler.stop()
            summary = workload.summary()
        finally:
            workload.close()
    finally:
        stop_spark(spark)

    attempted, failed = workload.verify()
    e2e = {
        "setup_s": setup_s,
        "op_gmean_s": summary["op_gmean_s"],
        "round_s": summary["round_s"],
        "peak_rss_mb": peak / 2**20,
    }
    extra = {k: v for k, v in summary.items() if k not in e2e}
    extra.update({"setup.session_s": session_s, "setup.graph_load_s": load_s,
                  "setup.warmup_s": warmup_s, "error_rate": failed / attempted})

    print(f"workload {args.workload} seed {args.seed}: {attempted} ops checked, "
          f"{failed} failed, {len(workload.rounds)} timed rounds")
    for k, v in sorted({**e2e, **extra}.items()):
        print(f"  {k:32s} {v:.6g}")
    if trace:
        by_layer, records = layer_metrics(workload, tracer, read_event_log(work / "eventlog"))
        trace_file = HERE / ".work" / f"trace-{args.workload}-{args.seed}.jsonl"
        with trace_file.open("w") as f:
            for rec in records:
                f.write(json.dumps(rec, default=str) + "\n")
        for k, v in sorted(by_layer.items()):
            print(f"  {k:32s} {v:.6g}")
        print(f"  per-op layer records: {trace_file}")
        values = {**extra, **by_layer}
    else:
        values = e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    os.chdir(ROOT)
    shutil.rmtree(work)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
