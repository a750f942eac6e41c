"""DML as DataFrame rewrites (SURVEY.md §2.10).

The reference mutates stores in place (CREATE/DELETE/SET/MERGE,
`/root/reference/src/cypher/executor.rs:610-1211`); the Spark-native
equivalent is a *rewrite*: each operation produces new node/edge
DataFrames (write them back as Parquet/Delta for persistence — batch-job
atomicity replaces the reference's op-log transactions, SURVEY.md §2.11).

This is the one write path: the public functions below, Cypher DML
(`cypher/compiler.py`) and the HTTP routes (`sources/http_server.py`) all
rewrite tables through it, and only it decides whether
``PropertyGraph.edge_integrity`` survives a write. Deletes and property
updates keep the flag; appends (their ids and endpoints are not validated)
and any write that assigns ``id``, ``src`` or ``dst`` clear it.
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import replace as dc_replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rs_graphdb_spark.graph import EdgeSet, PropertyGraph, label_base

#: columns whose assignment voids the unique-id / existing-endpoint premises
_KEY_COLS = frozenset({"id", "src", "dst"})


def _with_nodes(graph: PropertyGraph, label: str, df: DataFrame,
                keeps_integrity: bool) -> PropertyGraph:
    return dc_replace(graph, nodes={**graph.nodes, label: df},
                      edge_integrity=graph.edge_integrity and keeps_integrity)


def _with_edges(graph: PropertyGraph, rel_type: str, es: EdgeSet,
                keeps_integrity: bool) -> PropertyGraph:
    return dc_replace(graph, edges={**graph.edges, rel_type: es},
                      edge_integrity=graph.edge_integrity and keeps_integrity)


def _append_nodes(graph: PropertyGraph, label: str, rows: DataFrame) -> PropertyGraph:
    """Append rows to a label table, or open it for a new label. Columns
    one side lacks are NULL-filled, so new property keys extend the table.
    The appended ids are not validated unique: clears edge_integrity."""
    df = graph.nodes.get(label)
    df = rows if df is None else df.unionByName(rows, allowMissingColumns=True)
    return _with_nodes(graph, label, df, keeps_integrity=False)


def _append_edges(graph: PropertyGraph, rel_type: str, rows: DataFrame,
                  src_label: str, dst_label: str) -> PropertyGraph:
    """Edge twin of :func:`_append_nodes`; a new rel type opens an EdgeSet
    between ``src_label`` and ``dst_label``. The endpoints are not
    validated to exist: clears edge_integrity."""
    es = graph.edges.get(rel_type)
    if es is None:
        es = EdgeSet(df=rows, src_label=src_label, dst_label=dst_label)
    else:
        es = dc_replace(es, df=es.df.unionByName(rows, allowMissingColumns=True))
    return _with_edges(graph, rel_type, es, keeps_integrity=False)


def _next_id(df: DataFrame, col: str = "id") -> int:
    """Dense next id, ``max(col) + 1`` (1 on an empty table) — the
    reference's counter (`src/storage/mem_store.rs:56-57`)."""
    return int(df.agg(F.max(col)).first()[0] or 0) + 1


def _props_cond(df: DataFrame, props) -> Column:
    """Match condition of pattern props ``((key, literal), ...)`` on
    ``df``. A key the table has never seen matches nothing."""
    cond = F.lit(True)
    for k, v in props:
        cond = cond & ((F.col(k) == F.lit(v)) if k in df.columns else F.lit(False))
    return cond


def create_nodes(
    graph: PropertyGraph, label: str, rows: DataFrame, key_col: str
) -> PropertyGraph:
    """CREATE (`src/cypher/executor.rs:610-648`): append rows to a label
    table. Ids are assigned from the natural key (arithmetic, shuffle-free);
    the reference's dense sequential counter (`src/storage/mem_store.rs:
    56-57`) is documented divergence (SURVEY.md §7 hard-point 4). A
    colliding natural key mints a duplicate id (no uniqueness validation —
    contrast merge_nodes), so the result has edge_integrity cleared."""
    with_id = rows.select(
        (F.lit(label_base(label)) + F.col(key_col).cast("long")).alias("id"), "*"
    )
    return _append_nodes(graph, label, with_id)


def _delete_victims(graph: PropertyGraph, label: str,
                    victims: DataFrame) -> PropertyGraph:
    """Cascade delete of the ids in ``victims``: anti-join them out of the
    label table and out of every edge set touching that label."""
    nodes = {**graph.nodes, label: graph.nodes[label].join(victims, "id", "left_anti")}
    edges = {}
    for rel, es in graph.edges.items():
        df = es.df
        if es.src_label == label:
            df = df.join(victims.withColumnRenamed("id", "src"), "src", "left_anti")
        if es.dst_label == label:
            df = df.join(victims.withColumnRenamed("id", "dst"), "dst", "left_anti")
        edges[rel] = dc_replace(es, df=df)
    return dc_replace(graph, nodes=nodes, edges=edges)


def delete_nodes(graph: PropertyGraph, label: str, cond: Column) -> PropertyGraph:
    """DELETE with cascade to incident edges
    (`src/cypher/executor.rs:650-687`; cascade `src/storage/mem_store.rs:
    123-147`)."""
    # Survivors via left_anti on the victim set, NOT filter(~cond): a NULL
    # predicate (nullable property) must keep the row, matching the Cypher
    # executor's three-valued WHERE semantics.
    return _delete_victims(graph, label, graph.nodes[label].filter(cond).select("id"))


def _delete_edges(graph: PropertyGraph, rel_type: str, cond: Column) -> PropertyGraph:
    """Drop the edges matching ``cond`` from one edge set."""
    es = graph.edges[rel_type]
    return _with_edges(graph, rel_type, dc_replace(es, df=es.df.filter(~cond)),
                       keeps_integrity=True)


def set_props(df: DataFrame, cond: Column, updates: dict[str, Column]) -> DataFrame:
    """SET under a match predicate (`src/cypher/executor.rs:689-738`):
    merge-not-replace property semantics (`src/storage/mem_store.rs:
    313-325`) → conditional column rewrite. A key the table lacks extends
    it, NULL on unmatched rows (the reference's bags are open maps)."""
    out = df
    for col_name, value in updates.items():
        base = F.col(col_name) if col_name in df.columns else F.lit(None)
        out = out.withColumn(col_name, F.when(cond, value).otherwise(base))
    return out


def _set_matched(df: DataFrame, match: Column | DataFrame,
                 updates: dict[str, Column]) -> DataFrame:
    """:func:`set_props` on the rows ``match`` selects: a predicate, or a
    frame of matched keys (unique on ``match.columns``, joined on them)."""
    if isinstance(match, Column):
        return set_props(df, match, updates)
    flagged = df.join(match.withColumn("__hit", F.lit(True)), match.columns,
                      "left_outer")
    return set_props(flagged, F.col("__hit"), updates).drop("__hit")


def _set_nodes(graph: PropertyGraph, label: str, match: Column | DataFrame,
               updates: dict[str, Column]) -> PropertyGraph:
    """SET on a label table (see :func:`_set_matched` for ``match``)."""
    df = _set_matched(graph.nodes[label], match, updates)
    return _with_nodes(graph, label, df, _KEY_COLS.isdisjoint(updates))


def _set_edges(graph: PropertyGraph, rel_type: str, match: Column | DataFrame,
               updates: dict[str, Column]) -> PropertyGraph:
    """SET on an edge set (see :func:`_set_matched` for ``match``)."""
    es = graph.edges[rel_type]
    es = dc_replace(es, df=_set_matched(es.df, match, updates))
    return _with_edges(graph, rel_type, es, _KEY_COLS.isdisjoint(updates))


def merge_nodes(
    graph: PropertyGraph,
    label: str,
    key_col: str,
    incoming: DataFrame,
    on_create: dict[str, Column] | None = None,
    on_match: dict[str, Column] | None = None,
) -> PropertyGraph:
    """MERGE (`src/cypher/executor.rs:740-1211`): match by key else create,
    with ON CREATE SET / ON MATCH SET — left-anti to find the missing
    pattern instances, conditional update on the matched ones. Created
    ids come from keys that are anti-joined against the existing ones, so
    edge_integrity survives unless ON MATCH assigns a key column."""
    existing = graph.nodes[label]
    # MERGE key semantics: one pattern instance per key — duplicate incoming
    # keys would multiply matched rows through the flag join and mint
    # duplicate ids in the created branch.
    incoming = incoming.dropDuplicates([key_col])
    to_create = incoming.join(existing.select(key_col), key_col, "left_anti")
    if on_create:
        for c, v in on_create.items():
            to_create = to_create.withColumn(c, v)
    created = to_create.select(
        (F.lit(label_base(label)) + F.col(key_col).cast("long")).alias("id"), "*"
    )
    updated = existing
    if on_match:
        # ON MATCH applied via join flag (no driver-side collect)
        matched_keys = incoming.select(key_col).join(
            existing.select(key_col), key_col, "left_semi"
        )
        updated = _set_matched(existing, matched_keys, on_match)
    return _with_nodes(
        graph, label, updated.unionByName(created, allowMissingColumns=True),
        _KEY_COLS.isdisjoint(on_match or {}),
    )


def update_node_props(
    graph: PropertyGraph, label: str, node_id: int, props: dict
) -> tuple[PropertyGraph, bool]:
    """Storage-layer update API (`src/storage/mem_store.rs:313-325` via
    ``db.update_node_props``, scenarios
    `tests/core_features_test.rs:91-135`): MERGE-not-replace the given
    properties onto one node. Returns (new graph, whether the node
    existed) — the reference returns ``bool``; updating a nonexistent id
    is a no-op reporting False."""
    if label not in graph.nodes:
        return graph, False
    cond = F.col("id") == F.lit(node_id)
    if graph.nodes[label].filter(cond).isEmpty():
        return graph, False
    return _set_nodes(graph, label, cond, {k: F.lit(v) for k, v in props.items()}), True


def update_rel_props(
    graph: PropertyGraph, rel_type: str, edge_id: int, props: dict
) -> tuple[PropertyGraph, bool]:
    """Relationship twin of :func:`update_node_props`
    (`tests/core_features_test.rs:131-170`)."""
    if rel_type not in graph.edges:
        return graph, False
    cond = F.col("edge_id") == F.lit(edge_id)
    if graph.edges[rel_type].df.filter(cond).isEmpty():
        return graph, False
    return _set_edges(graph, rel_type, cond, {k: F.lit(v) for k, v in props.items()}), True


# -- constraints (`src/constraints/mod.rs:14-52,143-213`) -------------------

def unique_violations(df: DataFrame, cols: list[str]) -> DataFrame:
    """UNIQUE(label, props) validation job: value tuples appearing >1×."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


def existence_violations(df: DataFrame, col_name: str) -> DataFrame:
    """EXISTS(label, prop) validation job: rows missing the property."""
    return df.filter(F.col(col_name).isNull())


@dataclass(frozen=True)
class Constraint:
    """One declared constraint (`src/constraints/mod.rs:14-52`)."""

    label: str
    prop: str
    kind: str  # "uniqueness" | "existence"

    @classmethod
    def uniqueness(cls, label: str, prop: str) -> "Constraint":
        return cls(label=label, prop=prop, kind="uniqueness")

    @classmethod
    def existence(cls, label: str, prop: str) -> "Constraint":
        return cls(label=label, prop=prop, kind="existence")


class ConstraintRegistry:
    """Declared-constraint catalog + validation jobs
    (`src/constraints/mod.rs:54-213`, scenarios
    `tests/constraints_test.rs`). The registry itself is driver-side
    metadata (a handful of (label, prop, kind) rows — the reference
    keeps the same in a HashMap); every validation is a Spark job over
    the label table, so it holds at any table size.

    Semantics pinned by the reference scenarios:
    - duplicate ``add_constraint`` raises ("already exists");
    - ``drop_constraint`` returns whether anything was removed;
    - NULL values never violate uniqueness (two rows missing the
      property are NOT duplicates — `tests/constraints_test.rs:341-365`,
      ANSI-unique semantics) but DO violate existence;
    - constraints only apply to their own label."""

    def __init__(self) -> None:
        self._constraints: list[Constraint] = []

    def add_constraint(self, c: Constraint) -> None:
        if c in self._constraints:
            raise ValueError(
                f"constraint {c.kind} on {c.label}.{c.prop} already exists"
            )
        self._constraints.append(c)

    def drop_constraint(self, label: str, prop: str, kind: str) -> bool:
        target = Constraint(label=label, prop=prop, kind=kind)
        if target in self._constraints:
            self._constraints.remove(target)
            return True
        return False

    def count(self) -> int:
        return len(self._constraints)

    def get_all_constraints(self) -> tuple[Constraint, ...]:
        return tuple(self._constraints)

    def get_constraints_for_label(self, label: str) -> tuple[Constraint, ...]:
        return tuple(c for c in self._constraints if c.label == label)

    def validate_node(
        self, graph: PropertyGraph, label: str, node_id: int
    ) -> str | None:
        """Validate ONE node against its label's constraints: None when
        valid, else the first violation message (the reference's
        ``ConstraintValidation::Violated { message }``,
        `src/constraints/mod.rs:143-213`). Point lookups on the id —
        cheap even on a large table (predicate-pushed scan)."""
        if label not in graph.nodes:
            return None
        df = graph.nodes[label]
        row = df.filter(F.col("id") == F.lit(node_id)).first()
        if row is None:
            return None
        for c in self.get_constraints_for_label(label):
            value = row[c.prop] if c.prop in df.columns else None
            if c.kind == "existence":
                if value is None:
                    return (
                        f"Existence constraint: node {node_id} is missing "
                        f"required property '{c.prop}'"
                    )
            elif value is not None:  # uniqueness; NULLs never collide
                n = (
                    df.filter(F.col(c.prop) == F.lit(value))
                    .limit(2)
                    .count()
                )
                if n > 1:
                    return (
                        f"Uniqueness constraint violated: duplicate value "
                        f"for '{c.prop}' on label '{c.label}'"
                    )
        return None

    def validate_all(self, graph: PropertyGraph) -> dict[Constraint, int]:
        """Set-at-a-time validation — the 100 TB shape: ONE aggregation
        job per constraint over the full label table (reusing
        :func:`unique_violations` / :func:`existence_violations`)
        instead of a per-node loop. Returns violation counts per
        constraint."""
        out: dict[Constraint, int] = {}
        for c in self._constraints:
            if c.label not in graph.nodes:
                out[c] = 0
                continue
            df = graph.nodes[c.label]
            if c.prop not in df.columns:
                out[c] = 0 if c.kind == "uniqueness" else df.count()
            elif c.kind == "uniqueness":
                out[c] = unique_violations(
                    df.filter(F.col(c.prop).isNotNull()), [c.prop]
                ).count()
            else:
                out[c] = existence_violations(df, c.prop).count()
        return out
