"""The 8 generic relational primitives as DataFrame combinators.

Reference surface: src/operations/operation_executor.h:28-60 — MATCH,
FILTER, COMPARE, TRAVERSE, AGGREGATE, GROUP_BY, PROJECT, JOIN over a
property graph. The reference executes each eagerly over in-memory protos;
here each primitive *builds* a lazy DataFrame plan and Catalyst fuses a
whole operation sequence into one physical plan (SURVEY.md §4: plan fusion
replaces the reference's full-rescan-per-op loop).

Model: nodes are **flat, typed, per-type DataFrames** (the columnar
version of proto/graph.proto:145-167 ``nodes_by_type`` — type pruning
becomes "just read the right table"); edges are one DataFrame
``(edge_type, src, dst, weight)``. Every primitive consults the Schema
registry first (schema-driven operator discovery, schema_analyzer.cc).

Scale notes per primitive are inline; the common rules:
- predicates go through native Column ops -> pushed to parquet scans;
- point lookups are ``filter + limit(1)`` (short-circuits);
- joins are equi-joins; small sides should be broadcast by AQE (we hint
  where the model guarantees dimension-sized sides);
- aggregations are partial-aggregated map-side by Spark automatically.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from finetoo_sp_spark.schema.registry import CapabilityError, Schema

# full predicate enum (reference: proto/operations.proto:102-114; the C++
# executor implements only the EQUALS/CONTAINS/GT/LT subset,
# operation_executor.cc:116-153 — we implement the whole spec)
_PREDICATES = {
    "EQUALS": lambda c, v: c == v,
    "NOT_EQUALS": lambda c, v: c != v,
    "GT": lambda c, v: c > v,
    "LT": lambda c, v: c < v,
    "GE": lambda c, v: c >= v,
    "LE": lambda c, v: c <= v,
    "CONTAINS": lambda c, v: c.contains(v),
    "STARTS_WITH": lambda c, v: c.startswith(v),
    "ENDS_WITH": lambda c, v: c.endswith(v),
    "REGEX": lambda c, v: c.rlike(v),
}

# full aggregation enum (reference: proto/operations.proto:158-166; C++
# implements COUNT/SUM/AVG, operation_executor.cc:227-316 — we do all six)
_AGGS = {
    "COUNT": F.count,
    "SUM": F.sum,
    "AVG": F.avg,
    "MIN": F.min,
    "MAX": F.max,
    "STDDEV": F.stddev,
}


@dataclass
class PropertyGraphFrames:
    """The relational property graph: per-type node frames + one edge frame.

    ``nodes[t]`` must carry ``node_id`` plus flat typed property columns;
    ``edges`` must carry (edge_type, src, dst) and may carry weight/props.
    """

    schema: Schema
    nodes: dict[str, DataFrame] = field(default_factory=dict)
    edges: DataFrame | None = None

    def node_frame(self, node_type: str) -> DataFrame:
        if node_type not in self.nodes:
            raise CapabilityError(f"no node frame for type {node_type!r}")
        return self.nodes[node_type]

    def stats(self) -> DataFrame:
        """GraphStats (reference: graph_builder.cc:63-75): nodes per type +
        edges per type, computed not stored."""
        spark = next(iter(self.nodes.values())).sparkSession
        frames = [
            df.groupBy(F.lit(t).alias("kind"), F.lit("node").alias("entity")).agg(
                F.count(F.lit(1)).alias("n")
            )
            for t, df in self.nodes.items()
        ]
        if self.edges is not None:
            frames.append(
                self.edges.groupBy(
                    F.col("edge_type").alias("kind"), F.lit("edge").alias("entity")
                ).agg(F.count(F.lit(1)).alias("n"))
            )
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2)
        return out


def predicate(col: Column | str, pred: str, value) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if pred not in _PREDICATES:
        raise CapabilityError(f"unknown predicate {pred!r}")
    return _PREDICATES[pred](c, value)


def op_match(g: PropertyGraphFrames, node_type: str, prop: str, value) -> DataFrame:
    """MATCH: point lookup on a unique property, first-match semantics
    (reference: operation_executor.cc:49-87, early return at :81).

    Scale: filter pushes to the scan; limit(1) short-circuits — on a
    cluster this reads only until the first matching row group.
    """
    g.schema.require("MATCH", node_type, prop)
    return g.node_frame(node_type).filter(F.col(prop) == value).limit(1)


def op_filter(
    g: PropertyGraphFrames, node_type: str, prop: str, pred: str, value
) -> DataFrame:
    """FILTER: typed predicate over one node type
    (reference: operation_executor.cc:89-157)."""
    g.schema.require("FILTER", node_type, prop)
    return g.node_frame(node_type).filter(predicate(prop, pred, value))


def op_compare(
    g: PropertyGraphFrames,
    node_type: str,
    prop: str,
    key_prop: str,
    key1,
    key2,
    tolerance: float | None = None,
) -> DataFrame:
    """COMPARE: one property between two nodes, numeric tolerance optional
    (reference spec: proto/operations.proto:123-132; executor skeleton
    operation_executor.cc:159-163).

    Implemented as two point lookups crossed (1x1 — trivially broadcast);
    emits value_1, value_2, difference, within_tolerance.
    """
    g.schema.require("COMPARE", node_type, prop)
    nf = g.node_frame(node_type)
    a = nf.filter(F.col(key_prop) == key1).limit(1).select(F.col(prop).alias("value_1"))
    b = nf.filter(F.col(key_prop) == key2).limit(1).select(F.col(prop).alias("value_2"))
    out = a.crossJoin(F.broadcast(b))
    pm = g.schema.node_type(node_type).prop(prop)
    if pm.numeric:
        tol = 0.0 if tolerance is None else float(tolerance)
        return out.select(
            "value_1",
            "value_2",
            (F.col("value_1") - F.col("value_2")).alias("difference"),
            (F.abs(F.col("value_1") - F.col("value_2")) <= F.lit(tol)).alias(
                "within_tolerance"
            ),
        )
    return out.select(
        "value_1",
        "value_2",
        (F.col("value_1") == F.col("value_2")).alias("equal"),
    )


def op_traverse(
    g: PropertyGraphFrames,
    edge_type: str,
    start_ids: DataFrame | list | None = None,
    max_depth: int = 1,
) -> DataFrame:
    """TRAVERSE: follow edges of a type from an optional start set
    (reference: operation_executor.cc:165-225; multi-hop per spec
    proto/operations.proto:135-152 — the C++ executor is 1-hop only,
    we implement depth<=k by iterated equi-join).

    Scale: start-set restriction is a semi-join (broadcast when the set is
    small, reference analogue operation_executor.cc:200-210); each hop is
    one shuffle on the join key — bounded, no BFS state.
    """
    if edge_type not in g.schema.edge_types:
        raise CapabilityError(f"unknown edge type {edge_type!r}")
    edges = g.edges.filter(F.col("edge_type") == edge_type)

    def restrict(e: DataFrame, ids) -> DataFrame:
        if ids is None:
            return e
        if isinstance(ids, DataFrame):
            idf = ids.select(F.col(ids.columns[0]).alias("__sid")).distinct()
            return e.join(F.broadcast(idf), e["src"] == F.col("__sid"), "left_semi")
        return e.filter(F.col("src").isin(list(ids)))

    frontier = restrict(edges, start_ids).select(
        F.col("src").alias("origin"), F.col("dst"), F.lit(1).alias("depth")
    )
    result = frontier
    for d in range(2, max_depth + 1):
        frontier = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.origin"), F.col("e.dst"), F.lit(d).alias("depth"))
        )
        result = result.unionByName(frontier)
    return result.withColumn(
        "provenance", F.concat_ws(" -> ", F.col("origin"), F.col("dst"))
    )


def op_aggregate(
    g: PropertyGraphFrames,
    node_type: str,
    agg: str,
    prop: str | None = None,
    group_by: str | None = None,
    source: DataFrame | None = None,
) -> DataFrame:
    """AGGREGATE: COUNT/SUM/AVG/MIN/MAX/STDDEV over one node type, with
    optional grouping (reference: operation_executor.cc:227-316; grouped
    COUNT map at :264-282 — we emit sorted rows instead of a map, matching
    the reference's std::map ascending key order, SURVEY E8).

    Null-skipping matches the reference ("only nodes having the prop"):
    Spark aggregates skip nulls natively. Scale: partial agg map-side.
    """
    if agg not in _AGGS:
        raise CapabilityError(f"unknown aggregation {agg!r}")
    df = source if source is not None else g.node_frame(node_type)
    if agg != "COUNT":
        g.schema.require("AGGREGATE", node_type, prop)
        target = F.col(prop)
    else:
        target = F.lit(1)
    alias = f"{agg.lower()}_{prop or 'nodes'}"
    expr = _AGGS[agg](target).alias(alias)
    if group_by:
        g.schema.require("GROUP_BY", node_type, group_by)
        return df.groupBy(group_by).agg(expr).orderBy(group_by)
    return df.agg(expr)


def op_group_by(
    g: PropertyGraphFrames,
    node_type: str,
    prop: str,
    agg: str = "COUNT",
    agg_prop: str | None = None,
    source: DataFrame | None = None,
) -> DataFrame:
    """GROUP_BY: group one node type by a property with a nested aggregate
    (reference spec: proto/operations.proto:173-180; skeleton
    operation_executor.cc:318-322)."""
    return op_aggregate(g, node_type, agg, agg_prop, group_by=prop, source=source)


def op_project(
    g: PropertyGraphFrames,
    node_type: str | None,
    props: list[str],
    rename: dict[str, str] | None = None,
    source: DataFrame | None = None,
) -> DataFrame:
    """PROJECT: extract named properties with optional rename
    (reference spec: proto/operations.proto:183-190; skeleton
    operation_executor.cc:324-328). Column pruning reaches the scan."""
    rename = rename or {}
    df = source if source is not None else g.node_frame(node_type)
    return df.select([F.col(p).alias(rename.get(p, p)) for p in props])


def op_join(
    g: PropertyGraphFrames,
    left_type: str,
    right_type: str,
    edge_type: str,
    left: DataFrame | None = None,
) -> DataFrame:
    """JOIN: relate two node sets through an edge type
    (reference spec: proto/operations.proto:193-199; skeleton
    operation_executor.cc:330-334). Two equi-joins; Catalyst/AQE picks
    broadcast vs sort-merge per side size.
    """
    et = g.schema.edge_types.get(edge_type)
    if et is None:
        raise CapabilityError(f"unknown edge type {edge_type!r}")
    if et.source_type != left_type or et.target_type != right_type:
        raise CapabilityError(
            f"edge {edge_type} connects {et.source_type}->{et.target_type}, "
            f"not {left_type}->{right_type}"
        )
    lsrc = left if left is not None else g.node_frame(left_type)
    rsrc = g.node_frame(right_type)
    ldf, rdf = lsrc.alias("l"), rsrc.alias("r")
    e = g.edges.filter(F.col("edge_type") == edge_type).alias("e")
    lcols = [F.col(f"l.{c}").alias(c) for c in lsrc.columns]
    rcols = [F.col(f"r.{c}").alias(f"{right_type}_{c}") for c in rsrc.columns]
    return (
        ldf.join(e, F.col("l.node_id") == F.col("e.src"))
        .join(rdf, F.col("e.dst") == F.col("r.node_id"))
        .select(*lcols, *rcols)
    )
