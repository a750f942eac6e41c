"""Independent twins of every benchmark operation, computed from the same
parquet files with DuckDB, pandas and numpy.

Reads are checked row for row. Batch jobs are checked against exact
twins; PageRank within a float tolerance and MinHash (an LSH method)
against the exact Jaccard pairs it must recover at its threshold.
"""

from __future__ import annotations

import hashlib
import pathlib
import re
from collections import defaultdict

import duckdb
import numpy as np

# node-id namespaces of the loader: label_base(label) + natural key
NATION, CUSTOMER, ORDER = 2 << 40, 3 << 40, 6 << 40
TOKEN_RE = re.compile("[a-z0-9]+")

READ_SQL = {
    "point": "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
             "FROM customer WHERE c_name = $name",
    "range": "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal >= $lo "
             "AND c_acctbal < $hi AND c_custkey < $zone "
             "ORDER BY c_acctbal, c_custkey LIMIT 20",
    "hop1": "SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey "
            "WHERE c_nationkey = $nation",
    "hop3": "SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey "
            "JOIN lineitem l ON l.l_orderkey = o_orderkey "
            "JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps "
            "ON ps.l_partkey = l.l_partkey WHERE c_nationkey = $nation",
    "varlen": "SELECT o_orderkey FROM (SELECT o_orderkey, row_number() OVER "
              "(ORDER BY o_orderdate, o_orderkey) AS rn FROM orders "
              "WHERE o_custkey = $custkey) WHERE rn > 1 ORDER BY o_orderkey",
    "cyfilter": "SELECT c_name, c_acctbal FROM customer WHERE c_acctbal > $lo "
                "AND c_nationkey = $nation AND c_custkey < $zone "
                "ORDER BY c_acctbal DESC, c_name LIMIT 10",
    "cyagg": "SELECT c_mktsegment, count(*) FROM customer JOIN orders "
             "ON o_custkey = c_custkey WHERE c_nationkey = $nation "
             "GROUP BY c_mktsegment ORDER BY c_mktsegment",
}
# response columns of each read, in twin column order
READ_COLS = {
    "point": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "range": ["k", "bal"],
    "hop1": ["cnt"],
    "hop3": ["cnt"],
    "varlen": ["k"],
    "cyfilter": ["name", "bal"],
    "cyagg": ["seg", "n"],
}


def _norm(rows) -> list[tuple]:
    return [tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in rows]


def shingle_set(text: str, k: int = 3) -> frozenset:
    toks = TOKEN_RE.findall(text.lower())
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


class Twins:
    def __init__(self, data_dir: pathlib.Path) -> None:
        self.con = duckdb.connect()
        for t in ("customer", "orders", "lineitem", "documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._cust = None
        self._pairs = None  # shingle Jaccard pairs at or above 0.5

    # -- reads ----------------------------------------------------------------
    def check_read(self, template: str, params: dict, rows: list[dict]) -> tuple[bool, str]:
        if template == "nbrs":
            want = sorted(self.neighbors(params["custkey"]))
            got = sorted((r["id"], r["rel_type"], r["direction"]) for r in rows)
        else:
            sql = READ_SQL[template]
            want = _norm(self.con.execute(
                sql, {k: v for k, v in params.items() if f"${k}" in sql}).fetchall())
            got = _norm([tuple(r[c] for c in READ_COLS[template]) for r in rows])
            if template == "point":
                ids = {r["id"] for r in rows}
                if ids != {CUSTOMER + params["custkey"]}:
                    return False, f"ids {ids}"
        return got == want, f"got {got[:5]} want {want[:5]}"

    def customers(self):
        if self._cust is None:
            self._cust = self.con.execute(
                "SELECT c_custkey, c_nationkey, c_mktsegment FROM customer "
                "ORDER BY c_custkey").df()
        return self._cust

    def knows(self) -> list[tuple[int, int]]:
        """KNOWS edges as the loader derives them: k -> k+1 and k -> k+2
        when both customers share a market segment."""
        c = self.customers()
        seg = dict(zip(c.c_custkey, c.c_mktsegment))
        return [(k, k + off) for k in seg for off in (1, 2)
                if seg.get(k + off) == seg[k]]

    def neighbors(self, key: int) -> list[tuple]:
        c = self.customers()
        row = c[c.c_custkey == key].iloc[0]
        out = [(NATION + int(row.c_nationkey), "CUST_NATION", "out")]
        out += [(ORDER + int(o), "PLACED", "out") for (o,) in self.con.execute(
            "SELECT o_orderkey FROM orders WHERE o_custkey = ?", [key]).fetchall()]
        for a, b in self.knows():
            if a == key:
                out.append((CUSTOMER + b, "KNOWS", "out"))
            if b == key:
                out.append((CUSTOMER + a, "KNOWS", "in"))
        # SEGMENT_RING: customers of one (segment, key // 12) bucket in key
        # order, the last one wrapping round to the first
        ring = c[(c.c_mktsegment == row.c_mktsegment) & (c.c_custkey // 12 == key // 12)]
        keys = sorted(int(k) for k in ring.c_custkey)
        i = keys.index(key)
        out.append((CUSTOMER + keys[(i + 1) % len(keys)], "SEGMENT_RING", "out"))
        out.append((CUSTOMER + keys[i - 1], "SEGMENT_RING", "in"))
        return out

    # -- batch jobs -------------------------------------------------------------
    def _adjacency(self) -> dict[int, list[int]]:
        adj = defaultdict(list)
        for a, b in self.knows():
            adj[a].append(b)
        return adj

    def deep_starts(self, depth: int) -> list[int]:
        """Customers with a customer exactly ``depth`` KNOWS hops away, so
        a BFS from them runs all ``depth`` levels."""
        adj = self._adjacency()
        out = []
        for k in self.customers().c_custkey:
            seen, frontier = {k}, {k}
            for _ in range(depth):
                frontier = {b for a in frontier for b in adj[a]} - seen
                seen |= frontier
            if frontier:
                out.append(int(k))
        return out

    def bfs(self, start_keys: list[int], max_depth: int) -> set[tuple]:
        adj = self._adjacency()
        dist = {k: 0 for k in start_keys}
        frontier = list(start_keys)
        for d in range(1, max_depth + 1):
            frontier = [b for a in frontier for b in adj[a] if b not in dist]
            for b in frontier:
                dist.setdefault(b, d)
        return {(CUSTOMER + k, d) for k, d in dist.items()}

    def pagerank(self, damping: float, iterations: int) -> dict[int, float]:
        keys = np.asarray(self.customers().c_custkey)
        n = len(keys)
        edges = np.array(self.knows(), dtype=np.int64).reshape(-1, 2)
        out_deg = np.bincount(edges[:, 0], minlength=n).astype(float)
        rank = np.full(n, 1.0 / n)
        for _ in range(iterations):
            msg = np.bincount(edges[:, 1], weights=rank[edges[:, 0]] / out_deg[edges[:, 0]],
                              minlength=n)
            rank = (1.0 - damping) / n + damping * msg
        rank /= rank.sum()
        return {CUSTOMER + int(k): float(r) for k, r in zip(keys, rank)}

    def documents(self):
        return self.con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()

    def exact_groups(self) -> set[tuple]:
        groups: dict[str, list[int]] = defaultdict(list)
        for doc_id, text in self.documents():
            fp = hashlib.md5(" ".join(TOKEN_RE.findall(text.lower())).encode()).hexdigest()
            groups[fp].append(doc_id)
        return {(fp, len(ids), min(ids)) for fp, ids in groups.items()}

    def jaccard_pairs(self, threshold: float) -> set[tuple]:
        """Exact word-3-shingle Jaccard pairs (a < b) at or above
        ``threshold``, by a shingle self-join in DuckDB."""
        if self._pairs is None:
            import pandas as pd

            docs = self.documents()
            self.con.register("shingles", pd.DataFrame(
                [(d, sh) for d, t in docs for sh in shingle_set(t)], columns=["doc", "sh"]))
            self._pairs = self.con.execute("""
                WITH n AS (SELECT doc, count(*) AS c FROM shingles GROUP BY doc),
                i AS (SELECT x.doc AS a, y.doc AS b, count(*) AS inter
                      FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.doc < y.doc
                      GROUP BY 1, 2)
                SELECT a, b, inter::DOUBLE / (na.c + nb.c - inter) AS j
                FROM i JOIN n na ON na.doc = a JOIN n nb ON nb.doc = b
                WHERE inter::DOUBLE / (na.c + nb.c - inter) >= 0.5
            """).fetchall()
        return {(a, b, round(j, 6)) for a, b, j in self._pairs if j >= threshold}

    def knn(self, query_ids: list[int], k: int) -> set[tuple]:
        rows = self.con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
        ids = np.array([r[0] for r in rows])
        vecs = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        out = set()
        for q in query_ids:
            cos = unit @ unit[q]
            order = sorted((i for i in range(len(ids)) if ids[i] != q),
                           key=lambda i: (-round(cos[i], 12), ids[i]))[:k]
            out |= {(q, int(ids[i]), rank + 1) for rank, i in enumerate(order)}
        return out

    def image_features(self, corrupt_every: int) -> set[tuple]:
        out = set()
        for doc_id, text in self.documents():
            if doc_id % corrupt_every == 0:
                out.add((doc_id, None, None, None))
                continue
            data = text.encode("utf-8")
            n = len(data)
            w, h = n % 64 + 16, (n // 64) % 64 + 16
            out.add((doc_id, w, h, sum(data[: min(n, w * h)])))
        return out
