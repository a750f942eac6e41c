"""The ``serve_rw`` workload: one closed-loop HTTP client against the
engine's in-process ``GraphHTTPServer``, reads and writes mixed.

The run is a sequence of epochs. An epoch starts from the base graph,
issues ``K`` writes that accumulate on the served graph (the server swaps
in each rewritten graph, as it does for any client), and resets the served
graph to the base graph at the end. Before each write, and after the last
one, a depth probe (a point lookup) reads at the current write depth; the
eight read templates run between the writes. Reads use keys disjoint from
the write targets, so each read has a DuckDB twin over the base parquet.
"""

from __future__ import annotations

import json
import random
import time
import urllib.request

import datagen
from oracle import CUSTOMER, Twins
from stats import gmean, median, op_wall, tail

#: writes per epoch before the served graph is reset to the base load
K = 5
#: customers with keys at or above this are write targets; reads stay below
WRITE_ZONE = datagen.ROWS["customer"] * 14 // 15
#: read templates run between writes ``d`` and ``d + 1``
SCHEDULE = [["hop3", "point"], ["varlen", "range"], ["nbrs", "cyfilter"],
            ["cyagg"], ["hop1"]]
WRITE_KINDS = ["set", "merge", "create", "batch", "delete"]


def customer_name(key: int) -> str:
    return f"Customer#{key:09d}"


class Client:
    def __init__(self, port: int) -> None:
        self.base = f"http://127.0.0.1:{port}"

    def request(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            self.base + path, data=data, method=method,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())


def read_request(template: str, p: dict) -> tuple[str, str, dict | None]:
    """(method, path, body) of one read."""
    ck = p["custkey"]
    if template == "point":
        return "POST", "/query", {"label": "Customer", "property": "c_name",
                                  "value": p["name"]}
    if template == "nbrs":
        return "GET", f"/nodes/{CUSTOMER + ck}/neighbors", None
    cypher = {
        "range": "MATCH (c:Customer) WHERE c.c_acctbal >= {lo} AND "
                 "c.c_acctbal < {hi} AND c.c_custkey < {zone} "
                 "RETURN c.c_custkey AS k, c.c_acctbal AS bal "
                 "ORDER BY bal, k LIMIT 20",
        "hop1": "MATCH (c:Customer)-[:PLACED]->(o:Order) "
                "WHERE c.c_nationkey = {nation} RETURN count(*) AS cnt",
        "hop3": "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->"
                "(p:Part)-[:SUPPLIED_BY]->(s:Supplier) "
                "WHERE c.c_nationkey = {nation} RETURN count(*) AS cnt",
        "varlen": "MATCH (a:Order)-[:NEXT_ORDER*1..2]->(b:Order) "
                  "WHERE a.o_custkey = {custkey} "
                  "RETURN DISTINCT b.o_orderkey AS k ORDER BY k",
        "cyfilter": "MATCH (c:Customer) WHERE c.c_acctbal > {lo} AND "
                    "c.c_nationkey = {nation} AND c.c_custkey < {zone} "
                    "RETURN c.c_name AS name, c.c_acctbal AS bal "
                    "ORDER BY bal DESC, name LIMIT 10",
        "cyagg": "MATCH (c:Customer)-[:PLACED]->(o:Order) "
                 "WHERE c.c_nationkey = {nation} "
                 "RETURN c.c_mktsegment AS seg, count(*) AS n ORDER BY seg",
    }[template]
    return "POST", "/cypher", {"query": cypher.format(**p)}


def read_params(rng: random.Random) -> dict:
    lo = round(rng.uniform(0.0, 8000.0), 2)
    key = rng.randrange(WRITE_ZONE)
    return {"custkey": key, "name": customer_name(key), "zone": WRITE_ZONE,
            "nation": rng.randrange(25), "lo": lo, "hi": round(lo + 150.0, 2)}


def write_plan(rng: random.Random, epoch: int) -> tuple[list[tuple], set[tuple]]:
    """The epoch's writes as (kind, method, path, body), and the
    ``written_state`` they leave behind."""
    tag = f"e{epoch}r{rng.randrange(10**6)}"
    target = rng.randrange(WRITE_ZONE, datagen.ROWS["customer"])
    batch_ids = [CUSTOMER + (1 << 32) + epoch * 8 + j for j in range(3)]
    plan = {
        "set": ("POST", "/cypher", {"query": (
            f"MATCH (c:Customer) WHERE c.c_custkey = {target} "
            f"SET c.c_comment = 'set-{tag}'")}),
        "merge": ("POST", "/cypher", {"query": (
            f"MERGE (c:Customer {{c_name: 'BenchM#{tag}'}}) "
            f"ON CREATE SET c.c_comment = 'merge-{tag}'")}),
        "create": ("POST", "/cypher", {"query": (
            f"CREATE (c:Customer {{c_name: 'BenchC#{tag}', "
            f"c_comment: 'create-{tag}'}})")}),
        "batch": ("POST", "/batch/nodes", {"nodes": [
            {"labels": ["Customer"],
             "properties": {"id": i, "c_name": f"BenchB#{tag}-{j}"}}
            for j, i in enumerate(batch_ids)]}),
        "delete": ("POST", "/cypher", {"query": (
            f"MATCH (c:Customer) WHERE c.c_name = 'BenchC#{tag}' DELETE c")}),
    }
    expected = {
        (customer_name(target), f"set-{tag}"),
        (f"BenchM#{tag}", f"merge-{tag}"),
        *((f"BenchB#{tag}-{j}", None) for j in range(3)),
    }
    return [(k, *plan[k]) for k in WRITE_KINDS], expected


def written_state(graph) -> set[tuple]:
    """The rows the epoch's writes can have touched, read straight from the
    served graph's Customer table."""
    from pyspark.sql import functions as F

    df = graph.nodes["Customer"]
    rows = df.filter(
        F.col("c_name").startswith("Bench") | F.col("c_comment").isNotNull()
    ).select("c_name", "c_comment").collect()
    return {(r["c_name"], r["c_comment"]) for r in rows}


def plan_nodes(df) -> int:
    """Exact node count of a DataFrame's logical plan tree."""
    stack = [df._jdf.queryExecution().logical()]
    n = 0
    while stack:
        node = stack.pop()
        n += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


class ServeRW:
    name = "serve_rw"

    def __init__(self, spark, base_graph, data_dir, seed: int, tracer) -> None:
        from rs_graphdb_spark.sources.http_server import GraphHTTPServer

        self.base = base_graph
        self.rng = random.Random(seed)
        self.twins = Twins(data_dir)
        self.tracer = tracer
        self.server = GraphHTTPServer(base_graph).start()
        self.client = Client(self.server.port)
        self.ops: list[dict] = []
        self.failed = 0
        self.epoch_checks = 0
        self.epochs = 0
        self.rounds: list[float] = []
        self.pairs = 0

    def close(self) -> None:
        self.server.stop()

    def _do(self, kind: str, template: str, method: str, path: str, body, depth: int,
            traced: bool) -> dict:
        op = {"id": len(self.ops), "kind": kind, "template": template,
              "depth": depth, "request": [method, path, body]}
        self.tracer.enabled = traced
        with self.tracer.operation(op["id"]):
            t0 = time.time()
            try:
                op["response"] = self.client.request(method, path, body)
            except (OSError, ValueError) as exc:  # HTTP 4xx/5xx raise here
                op["error"] = repr(exc)
            op["t0"], op["t1"] = t0, time.time()
        self.tracer.enabled = False
        op["wall"] = op["t1"] - op["t0"]
        self.ops.append(op)
        return op

    def epoch(self, timed: bool, trace: bool) -> None:
        """One epoch; ``timed=False`` is the untimed warm-up."""
        self.server.graph = self.base
        writes, expected = write_plan(self.rng, self.epochs)
        probe = read_params(self.rng)
        t_start = time.time()
        for depth in range(K + 1):
            reads = [("probe", probe)] + [
                (t, read_params(self.rng)) for t in (SCHEDULE[depth] if depth < K else [])
            ]
            for template, p in reads:
                req = read_request("point" if template == "probe" else template, p)
                if trace:
                    # an untraced twin of the same read gives the figures of
                    # a traced run and, against the traced one, the tracing
                    # overhead; which of the two runs first alternates, so
                    # neither is always the warmer one
                    self.pairs += 1
                    first, second = (True, False) if self.pairs % 2 else (False, True)
                    ran = {t: self._do("read" if t else "read_untraced", template,
                                       *req, depth, t) for t in (first, second)}
                    op = ran[True]
                    op["untraced_wall"] = ran[False]["wall"]
                else:
                    op = self._do("read", template, *req, depth, False)
                op.update(params=p, timed=timed, epoch=self.epochs)
            if depth == K:
                break
            wkind, *wreq = writes[depth]
            op = self._do("write", wkind, *wreq, depth, trace)
            op.update(timed=timed, epoch=self.epochs)
            if op.get("response") is None or not op["response"].get("ok"):
                op.setdefault("error", f"write not acknowledged: {op.get('response')}")
            op["plan_nodes"] = plan_nodes(self.server.graph.nodes["Customer"])
        if timed:
            self.rounds.append(time.time() - t_start)
        got = written_state(self.server.graph)
        if timed:
            self.epoch_checks += 1
        if got != expected:
            self.failed += 1
            print(f"serve_rw epoch {self.epochs}: written state {sorted(got, key=str)} "
                  f"!= expected {sorted(expected, key=str)}")
        self.server.graph = self.base
        self.epochs += 1

    def warmup(self) -> None:
        self.epoch(timed=False, trace=False)

    def measure(self, seconds: float, trace: bool) -> None:
        t0 = time.time()
        while not self.rounds or time.time() - t0 < seconds:
            self.epoch(timed=True, trace=trace)

    # -- results ------------------------------------------------------------
    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o.get("timed")]

    def verify(self) -> tuple[int, int]:
        """(attempted, failed) over timed ops and the written-state check of
        every epoch; a wrong read or write counts as failed."""
        failed = self.failed
        ops = self.timed_ops()
        for op in ops:
            if "error" in op:
                failed += 1
                print(f"serve_rw op {op['id']} failed: {op['error']}")
            elif op["kind"] == "read":
                template = "point" if op["template"] == "probe" else op["template"]
                ok, why = self.twins.check_read(template, op["params"], op["response"]["rows"])
                if not ok:
                    failed += 1
                    print(f"serve_rw read {op['template']} {op['params']} wrong: {why}")
        return len(ops) + self.epoch_checks, failed

    def summary(self) -> dict:
        """Latency figures of the timed ops. In a traced run a read counts
        with the wall of its untraced twin; a write changes the graph, has
        no twin and counts with its traced wall."""
        ops = self.timed_ops()

        lat = [op_wall(o) for o in ops]
        reads = [op_wall(o) for o in ops if o["kind"] == "read"]
        writes = [op_wall(o) for o in ops if o["kind"] == "write"]
        out = {
            "op_gmean_s": gmean(lat),
            "round_s": median(self.rounds),
            "read_p50_s": median(reads),
            "write_p50_s": median(writes),
        }
        for name, vals in (("read_tail_s", reads), ("write_tail_s", writes)):
            value, pct, n = tail(vals)
            out[name] = value
            out[name + ".pct"] = pct
            out[name + ".n"] = n
        for d in range(K + 1):
            out[f"serve.probe_s.d{d}"] = median(
                [op_wall(o) for o in ops if o["template"] == "probe" and o["depth"] == d])
            out[f"dml.plan_nodes.d{d}"] = median(
                [o["plan_nodes"] for o in ops if o["kind"] == "write" and o["depth"] == d - 1]
            ) if d else plan_nodes(self.base.nodes["Customer"])
        return out
