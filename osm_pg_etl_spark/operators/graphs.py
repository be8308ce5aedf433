"""Directed graph expansion, node tables, edge lists, topology snapping —
``osm-road-graphs.sql:56-61,180-254`` and the pgrouting analog
(``osm-road-graphs-fix.sql:125-131``); SURVEY §2.7 U1-U2, §2.8 F19.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import array_reverse
from ..functions.geo import point_wkt, snap_to_grid

EDGE_COLUMNS = ("start_node", "end_node", "edge_id", "tags", "nodes",
                "length", "speed_limit", "highway", "oneway", "geom")


def network_nodes(nodes: DataFrame, network: DataFrame) -> DataFrame:
    """``graphs.car_network_nodes`` (``osm-road-graphs.sql:56-61``): the
    distinct endpoint node ids (UNION dedups — U1) joined back to the nodes
    table, coords exported as WKT (the ``ST_Transform(,4326)`` is a no-op on
    4326 data). Endpoint-id set is small relative to nodes → semi-join."""
    endpoints = (network.select(F.col("start_node").alias("id"))
                 .union(network.select(F.col("end_node").alias("id")))
                 .distinct())
    return (nodes.join(endpoints, "id", "left_semi")
            .select(F.col("id").alias("node_id"),
                    point_wkt("lon", "lat").alias("node_coord")))


def directed_network(merged: DataFrame, minimal: bool = False) -> DataFrame:
    """``graphs.car_network_directed`` / ``car_graph_directed``
    (``osm-road-graphs.sql:183-254``): 4-slice UNION ALL expansion of the
    undirected merged edge list, with the reference's three-valued-logic
    semantics preserved verbatim:

    - two-way slice (``:201``): ``(oneway IS NULL OR oneway='no') AND
      highway != 'motorway'`` — NULL highway rows match neither branch;
    - forward-only slice (``:213``): ``oneway='yes' OR (highway='motorway'
      AND oneway != '-1')`` — a motorway with NULL oneway matches *neither*
      ``:201`` (motorway excluded) *nor* ``:213`` (NULL != '-1' is NULL) and
      silently drops out of the directed graph (SURVEY §2.2 note). Do not
      "fix" with coalesce.
    - reverse slices flip start/end and reverse the node list
      (``array_reverse``, ``general-functions.sql:36-42`` → ``F.reverse``).

    ``minimal=True`` projects the 4-column ``car_graph_directed`` shape
    (``:223-254``) consumed by igraph.

    Accepts geometry-free inputs (the meta projection _shared_network
    caches): the heavy passthrough columns (tags, nodes, geom) appear in
    the output only when present on ``merged`` — direction logic reads
    only oneway/highway, and node-list reversal only applies when there
    is a node list. Full-width inputs produce the exact EDGE_COLUMNS
    shape as before. length, speed_limit, highway and oneway are always
    selected, so a merged table missing one raises ``AnalysisException``
    instead of yielding a narrower directed table.
    """
    two_way = (F.col("oneway").isNull() | (F.col("oneway") == "no")) \
        & (F.col("highway") != "motorway")
    forward = (F.col("oneway") == "yes") \
        | ((F.col("highway") == "motorway") & (F.col("oneway") != "-1"))
    reverse_drawn = F.col("oneway") == "-1"

    # Single scan: each row emits its direction tags ("f"/"r") as an array
    # and explodes — exact UNION ALL multiplicity (concat of per-slice
    # contributions, NULL conditions contribute nothing) without reading
    # the merged table four times.
    empty = F.array().cast("array<string>")
    dirs = F.concat(
        F.when(two_way, F.array(F.lit("f"), F.lit("r"))).otherwise(empty),
        F.when(forward, F.array(F.lit("f"))).otherwise(empty),
        F.when(reverse_drawn, F.array(F.lit("r"))).otherwise(empty))
    fwd = F.col("_dir") == "f"
    base = merged.withColumn("_dir", F.explode(dirs))
    start = (F.when(fwd, F.col("start_node")).otherwise(F.col("end_node"))
             .alias("start_node"))
    end = (F.when(fwd, F.col("end_node")).otherwise(F.col("start_node"))
           .alias("end_node"))
    if minimal:
        # project the 4 columns directly — never referencing the heavy
        # passthrough columns keeps this valid for geometry-free inputs
        # (Catalyst would have pruned them anyway on full-width ones)
        return base.select(start, end, F.col("length"),
                           F.col("speed_limit"))
    cols = [start, end, F.col("edge_id")]
    if "tags" in merged.columns:
        cols.append(F.col("tags"))
    if "nodes" in merged.columns:
        cols.append(F.when(fwd, F.col("nodes"))
                    .otherwise(array_reverse("nodes")).alias("nodes"))
    cols += [F.col(c) for c in ("length", "speed_limit", "highway",
                                "oneway")]
    if "geom" in merged.columns:
        cols.append(F.col("geom"))
    return base.select(*cols)


def create_topology(edges: DataFrame, tolerance: float = 0.0001,
                    geom_col: str = "geom") -> DataFrame:
    """``pgr_createTopology(table, 0.0001, 'geom', 'sid')`` analog
    (``osm-road-graphs-fix.sql:130``): assign integer ``source``/``target``
    vertex ids to edge endpoints, snapping endpoints within ``tolerance``
    degrees to the same vertex.

    Distributed recipe (SURVEY §2.8 F19): round each endpoint to the
    tolerance grid, ``dense_rank`` over distinct grid keys for vertex ids,
    join back. The reference notes pgrouting "can be slow on big data and
    must be split on very large tables" (``:131``); this version is two
    shuffles on the endpoint key and scales with the cluster.

    Note: like pgr_createTopology's grid hashing, points within tolerance of
    a cell edge may land in different cells; exact tolerance-disk matching
    would need a neighbor-cell pass (not in v1, matching reference accuracy
    in practice).
    """
    e = edges.withColumn(
        "_src_key", snap_to_grid(F.element_at(F.col(geom_col), 1)["lon"],
                                 F.element_at(F.col(geom_col), 1)["lat"], tolerance)
    ).withColumn(
        "_dst_key", snap_to_grid(F.element_at(F.col(geom_col), -1)["lon"],
                                 F.element_at(F.col(geom_col), -1)["lat"], tolerance))

    keys = (e.select(F.col("_src_key").alias("k"))
            .union(e.select(F.col("_dst_key").alias("k")))
            .distinct())
    # Global dense ids WITHOUT a single-partition window and WITHOUT leaving
    # the JVM: bucket the distinct keys into deterministic ordered ranges
    # (data-derived boundaries, ``functions.partitioning`` — bucket p holds
    # smaller keys than p+1 and is a pure function of the key, stable across
    # re-evaluations), row_number within each bucket, then add broadcast
    # cumulative bucket offsets. Because keys are distinct, the ids equal
    # DENSE_RANK() OVER (ORDER BY k), so the oracle is unchanged while every
    # per-row step stays inside whole-stage codegen. The offsets table has
    # one row per bucket — the only driver-sized piece.
    from ..functions.partitioning import deterministic_buckets  # noqa: PLC0415

    bucketed = keys.withColumn("_pid", deterministic_buckets(keys, "k"))
    w_local = Window.partitionBy("_pid").orderBy("k")
    counts = bucketed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"))
    verts = (bucketed.withColumn("_rn", F.row_number().over(w_local))
             .join(F.broadcast(offsets), "_pid")
             .select("k", (F.col("_off") + F.col("_rn")).cast("int").alias("vid")))
    return (e.join(verts.withColumnRenamed("vid", "source"),
                   e["_src_key"] == verts["k"], "left").drop("k")
            .join(verts.withColumnRenamed("vid", "target").alias("v2"),
                  F.col("_dst_key") == F.col("v2.k"), "left").drop("k")
            .drop("_src_key", "_dst_key"))
