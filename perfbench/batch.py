"""The ``batch`` workload: whole analytics jobs, one at a time, over the
graph and the mirror corpus. One round runs each of the seven jobs once;
every result is collected and checked against its twin."""

from __future__ import annotations

import random
import time

import datagen
from oracle import CUSTOMER, Twins
from stats import digest, gmean, median, op_wall

CORRUPT_EVERY = 97
BFS_DEPTH = 4
# connected_components is left out to fit the time budget of a run; its
# layer, a driver loop of supersteps with jobs before the action, is
# measured by pagerank and bfs
JOBS = ["pagerank", "bfs", "exact_dedup", "minhash_dedup", "ngram_jaccard",
        "knn", "image_features"]


def build(job: str, spark, graph, data_dir, p: dict):
    """The job's result DataFrame, built through the engine's public API."""
    from pyspark.sql import functions as F

    from rs_graphdb_spark.algorithms.graph_algos import pagerank
    from rs_graphdb_spark.functions.dedup import (
        exact_dedup_groups, minhash_dedup_pairs, ngram_jaccard_pairs)
    from rs_graphdb_spark.functions.multimodal import documents_as_images, extract_features
    from rs_graphdb_spark.functions.similarity import knn_bruteforce
    from rs_graphdb_spark.operators.traversal import bfs_distances

    customers, knows = graph.nodes["Customer"], graph.edges["KNOWS"].df
    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    if job == "pagerank":
        return pagerank(customers, knows, 0.85, 10)
    if job == "bfs":
        start = customers.filter(F.col("id").isin([CUSTOMER + k for k in p["bfs_start"]]))
        return bfs_distances(graph, start.select("id"), "KNOWS", "out", max_depth=BFS_DEPTH)
    if job == "exact_dedup":
        return exact_dedup_groups(docs, "doc_id", "text")
    if job == "minhash_dedup":
        return minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    if job == "ngram_jaccard":
        return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    if job == "knn":
        emb = spark.read.parquet(f"{data_dir}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        queries = emb.filter(F.col("vec_id").isin(p["knn_queries"]))
        return knn_bruteforce(emb, queries, "vec_id", "embedding", k=10)
    if job == "image_features":
        media = documents_as_images(
            docs.repartition(spark.sparkContext.defaultParallelism),
            corrupt_every=CORRUPT_EVERY)
        return extract_features(media)
    raise ValueError(job)


def rows_of(job: str, rows) -> set[tuple]:
    """A job's collected rows in its twin's form."""
    if job == "bfs":
        return {(r["id"], r["dist"]) for r in rows}
    if job == "exact_dedup":
        return {(r["fp"], r["n_docs"], r["keeper"]) for r in rows}
    if job in ("minhash_dedup", "ngram_jaccard"):
        return {(r["a"], r["b"], round(r["jaccard"], 6)) for r in rows}
    if job == "knn":
        return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}
    if job == "image_features":
        return {(r["media_id"], r["width"], r["height"], r["checksum"]) for r in rows}
    return {(r["id"], r["rank"]) for r in rows}


def twin(job: str, twins: Twins, p: dict):
    return {
        "pagerank": lambda: twins.pagerank(0.85, 10),
        "bfs": lambda: twins.bfs(p["bfs_start"], BFS_DEPTH),
        "exact_dedup": twins.exact_groups,
        "minhash_dedup": lambda: twins.jaccard_pairs(0.8),
        "ngram_jaccard": lambda: twins.jaccard_pairs(0.5),
        "knn": lambda: twins.knn(p["knn_queries"], 10),
        "image_features": lambda: twins.image_features(CORRUPT_EVERY),
    }[job]()


def check(job: str, got: set[tuple], want) -> tuple[bool, str]:
    """PageRank within a float tolerance; every other job row for row."""
    if job == "pagerank":
        err = max((abs(want[i] - r) for i, r in got), default=1.0)
        return len(got) == len(want) and err < 1e-12, f"max error {err}"
    return got == want, f"{len(got ^ want)} rows differ"


def job_params(seed: int, deep_starts: list[int]) -> dict:
    """The seeded inputs of the jobs: BFS start set and kNN query vectors.
    BFS starts are drawn from ``deep_starts``, customers from which the
    depth-4 BFS runs all four levels, so every seed does the same number
    of BFS supersteps."""
    rng = random.Random(seed)
    return {
        "bfs_start": sorted(rng.sample(deep_starts, 10)),
        "knn_queries": sorted(rng.sample(range(datagen.N_BASE_VECS * datagen.MIRRORS), 5)),
    }


class Batch:
    name = "batch"

    def __init__(self, spark, graph, data_dir, seed: int, tracer) -> None:
        self.spark, self.graph, self.data_dir = spark, graph, data_dir
        self.twins = Twins(data_dir)
        self.params = job_params(seed, self.twins.deep_starts(BFS_DEPTH))
        self.tracer = tracer
        self.ops: list[dict] = []
        self.rounds: list[float] = []
        self.pairs = 0

    def close(self) -> None:
        pass

    def _job(self, job: str, traced: bool) -> dict:
        op = {"id": len(self.ops), "kind": "job", "template": job}
        self.tracer.enabled = traced
        with self.tracer.operation(op["id"]):
            op["t0"] = time.time()
            with self.tracer.span("query.build"):
                df = build(job, self.spark, self.graph, self.data_dir, self.params)
            op["action_t0"] = time.time()
            rows = df.collect()
            op["t1"] = time.time()
        self.tracer.enabled = False
        op["wall"] = op["t1"] - op["t0"]
        op["rows"] = rows_of(job, rows)
        self.ops.append(op)
        return op

    def round(self, timed: bool, trace: bool) -> None:
        t0 = time.time()
        for job in JOBS:
            if trace:
                # an untraced twin gives the job time of a traced run and,
                # against the traced one, the tracing overhead; which of the
                # two runs first alternates, so neither is always the warmer
                self.pairs += 1
                order = (True, False) if self.pairs % 2 else (False, True)
                ran = {t: self._job(job, t) for t in order}
                op = ran[True]
                op["untraced_wall"] = ran[False]["wall"]
            else:
                op = self._job(job, False)
            op["timed"] = timed
        if timed:
            self.rounds.append(time.time() - t0)

    def warmup(self) -> None:
        self.round(timed=False, trace=False)

    def measure(self, seconds: float, trace: bool) -> None:
        t0 = time.time()
        while not self.rounds or time.time() - t0 < seconds:
            self.round(timed=True, trace=trace)

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o.get("timed")]

    def verify(self) -> tuple[int, int]:
        """Every result, warm-up included, against its job's twin."""
        failed = 0
        wants: dict[str, object] = {}
        for op in self.ops:
            job = op["template"]
            if job not in wants:
                wants[job] = twin(job, self.twins, self.params)
            ok, why = check(job, op["rows"], wants[job])
            if not ok:
                failed += 1
                print(f"batch {job} (op {op['id']}) wrong: {why}")
        for job in JOBS:
            n, h = digest(next(o["rows"] for o in self.ops if o["template"] == job))
            print(f"  {job:16s} digest rows {n} hash {h:016x}")
        return len(self.ops), failed

    def summary(self) -> dict:
        """Job times of the timed jobs; in a traced run, those of their
        untraced twins."""
        ops = self.timed_ops()

        out = {"op_gmean_s": gmean([op_wall(o) for o in ops]),
               "round_s": median(self.rounds)}
        for job in JOBS:
            out[f"{job}_s"] = median([op_wall(o) for o in ops if o["template"] == job])
        return out
