"""One write path: Cypher DML and the HTTP routes rewrite tables through
`operators/dml.py`, so every route of the same write leaves the same
table and the same ``edge_integrity`` flag."""

from __future__ import annotations

import json
import urllib.request

from rs_graphdb_spark.cypher import execute_cypher
from rs_graphdb_spark.graph import label_base
from rs_graphdb_spark.sources.http_server import GraphHTTPServer

CUSTOMER = label_base("Customer")


def _plan_nodes(df) -> int:
    """Node count of a DataFrame's logical plan tree."""
    stack = [df._jdf.queryExecution().logical()]
    n = 0
    while stack:
        node = stack.pop()
        n += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


def test_delete_keeps_edge_integrity_on_every_route(graph):
    assert graph.edge_integrity
    cy = execute_cypher(graph, "MATCH (c:Customer) WHERE c.c_custkey = 7 DELETE c")
    server = GraphHTTPServer(graph).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/nodes/{CUSTOMER + 7}", method="DELETE"
        )
        with urllib.request.urlopen(req) as resp:
            assert json.loads(resp.read()) == {"ok": True}
        http = server.graph
    finally:
        server.stop()
    assert cy.edge_integrity == http.edge_integrity is True
    assert cy.nodes["Customer"].count() == http.nodes["Customer"].count()
    assert cy.edges["PLACED"].df.count() == http.edges["PLACED"].df.count()


def test_edge_integrity_policy_of_cypher_writes(graph):
    kept = [
        "MATCH (c:Customer) WHERE c.c_custkey = 3 SET c.c_comment = 'x'",
        "MERGE (n:Nation {n_name: 'NATION_3'}) ON MATCH SET n.n_comment = 'y'",
        f"FOREACH (x IN [{CUSTOMER + 3}] | SET x.c_comment = 'z')",
    ]
    cleared = [
        "MATCH (c:Customer) WHERE c.c_custkey = 3 SET c.id = 5",
        "CREATE (n:Nation {n_name: 'NEWLAND'})",
        "MERGE (n:Nation {n_name: 'NOWHERE'}) ON CREATE SET n.n_regionkey = 0",
    ]
    for q in kept:
        assert execute_cypher(graph, q).edge_integrity, q
    for q in cleared:
        assert not execute_cypher(graph, q).edge_integrity, q


def test_dml_lineage_does_not_grow_past_pin(graph):
    """Regression pin: logical-plan size of the rewritten label table
    after one Cypher SET and one Cypher DELETE. Each write currently
    re-embeds the table's own plan in its victims join; lower the pins
    when that growth is fixed, never raise them."""
    base = _plan_nodes(graph.nodes["Customer"])
    after_set = execute_cypher(
        graph, "MATCH (c:Customer) WHERE c.c_custkey = 3 SET c.c_comment = 'x'"
    )
    after_delete = execute_cypher(
        graph, "MATCH (c:Customer) WHERE c.c_custkey = 3 DELETE c"
    )
    assert base == BASE_PLAN_NODES
    assert _plan_nodes(after_set.nodes["Customer"]) <= SET_PLAN_NODES
    assert _plan_nodes(after_delete.nodes["Customer"]) <= DELETE_PLAN_NODES


#: plan sizes of the Customer table on the sf0.001 fixture graph, measured
#: before the write paths were merged into operators/dml.py
BASE_PLAN_NODES = 2
SET_PLAN_NODES = 13
DELETE_PLAN_NODES = 9
