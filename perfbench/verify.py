"""Check every chain output against the DuckDB oracles, outside the timer.

The oracles are the SQL texts of ``plans/osm_derived.py`` run over the
run's generated tables; the chain's outputs are read back from the parquet
and CSV the CLI wrote. Each check compares the two sides as multisets of
rows (order-insensitive, floats already rounded by both sides):

==================  ==================================================
stage               oracle
==================  ==================================================
ingest              ``pbf_roundtrip`` (nodes), ``pbf_roundtrip_ways``
                    (ways, way_nodes, relation tags)
tags                ``osm_explore_summary`` (its five catalog tables)
network_car         ``osm_merged_network`` (merged, speed limit aside),
                    ``osm_directed_graph`` (directed)
analyze             ``osm_components`` semantics (component = least
                    reachable node id) by union-find over the
                    ``osm_directed_graph`` oracle's edges; communities
                    cover exactly that node set
export              ``osm_directed_graph`` (the CSV's rows)
==================  ==================================================

The recursive ``osm_components`` SQL itself is not run: it enumerates
every (node, reachable label) pair, which is quadratic in component size
on the sparse shape's long components.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import duckdb
from osm_pg_etl_spark.plans import osm_derived as od

_TAGS_KV = ("COALESCE(array_to_string(list_sort(list_transform("
            "map_entries(tags), e -> e.key || '=' || e.value)), '&'), '')")


def _pq(path: Path) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _checks(work: Path) -> list[tuple[str, str, str]]:
    """(stage, chain-side SQL, oracle SQL) triples; the oracle side may
    read the ``o_directed`` table :func:`check` builds."""
    osm, car, tags = work / "osm", work / "car", work / "tags"
    summary = " UNION ALL ".join(
        f"SELECT '{tbl}' AS tbl, {tag} AS tag, {value} AS value, count "
        f"FROM {_pq(tags / (tbl + '.parquet'))}"
        for tbl, tag, value in (
            ("highway_values", "'highway'", "highway"),
            ("amenity_nodes_values", "'amenity'", "amenity"),
            ("highway_service", "'service'", "service"),
            ("highway_oneway_values", "highway", "oneway"),
            ("highway_tags_values", "tag", "value")))
    return [
        ("ingest",
         f"SELECT id, printf('POINT(%.7f %.7f)', lon, lat) AS coord, "
         f"{_TAGS_KV} AS tags_kv FROM {_pq(osm / 'nodes.parquet')}",
         od.SQL_PBF_ROUNDTRIP),
        ("ingest",
         f"SELECT 'W' AS kind, id, array_to_string(nodes, ',') AS payload, "
         f"{_TAGS_KV} AS tags_kv FROM {_pq(osm / 'ways.parquet')}",
         f"SELECT * FROM ({od.SQL_PBF_ROUNDTRIP_WAYS}) WHERE kind = 'W'"),
        ("ingest",
         f"SELECT way_id AS id, string_agg(CAST(node_id AS VARCHAR), ',' "
         f"ORDER BY sequence_id) AS payload "
         f"FROM {_pq(osm / 'way_nodes.parquet')} GROUP BY way_id",
         f"SELECT id, payload FROM ({od.SQL_PBF_ROUNDTRIP_WAYS}) "
         f"WHERE kind = 'W'"),
        ("ingest",
         f"SELECT id, {_TAGS_KV} AS tags_kv "
         f"FROM {_pq(osm / 'relations.parquet')}",
         f"SELECT id, tags_kv FROM ({od.SQL_PBF_ROUNDTRIP_WAYS}) "
         f"WHERE kind = 'R'"),
        ("tags", summary, od.SQL_OSM_EXPLORE_SUMMARY),
        ("network_car",
         f"SELECT edge_id, start_node, end_node, "
         f"CAST(len(nodes) AS INT) AS n_nodes, ROUND(length, 4) AS length_km, "
         f"highway, oneway FROM {_pq(car / 'merged.parquet')}",
         f"SELECT edge_id, start_node, end_node, n_nodes, length_km, "
         f"highway, oneway FROM ({od.SQL_OSM_MERGED_NETWORK})"),
        ("network_car",
         f"SELECT start_node, end_node, ROUND(length, 4) AS length_km, "
         f"speed_limit FROM {_pq(car / 'directed.parquet')}",
         "SELECT * FROM o_directed"),
        ("export",
         f"SELECT start_node, end_node, ROUND(length, 4) AS length_km, "
         f"speed_limit FROM read_csv_auto('{work / 'edges'}/*.csv', "
         f"header = true)",
         "SELECT * FROM o_directed"),
    ]


def _components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """node -> least node id in its weakly connected component, over the
    non-loop edges (graph_algo.symmetric_edges drops self-loops)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check(work: Path) -> list[tuple[str, str]]:
    """Return (stage, reason) for every output that mismatches its oracle;
    the generated tables are in ``work/tables``."""
    tables = work / "tables"
    con = duckdb.connect()
    bad: list[tuple[str, str]] = []
    try:
        for name in ("part", "lineitem", "orders", "customer"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{tables / name}.parquet')")
        con.execute("SET enable_progress_bar = false")
        # the oracle read by several checks, evaluated once
        con.execute(f"CREATE TEMP TABLE o_directed AS "
                    f"{od.SQL_OSM_DIRECTED_GRAPH}")
        for stage, got_sql, want_sql in _checks(work):
            want = Counter(con.execute(want_sql).fetchall())
            try:
                got = Counter(con.execute(got_sql).fetchall())
            except duckdb.IOException as exc:   # the output is missing
                bad.append((stage, str(exc)))
                continue
            if got != want:
                extra = sum((got - want).values())
                missing = sum((want - got).values())
                bad.append((stage, f"{extra} unexpected / {missing} missing "
                                   f"rows vs oracle ({sum(want.values())})"))
        edges = con.execute(
            "SELECT start_node, end_node FROM o_directed").fetchall()
        want_cc = _components(edges)
        analysis = work / "analysis"
        try:
            got_cc = dict(con.execute(
                f"SELECT node, component FROM "
                f"{_pq(analysis / 'components.parquet')}").fetchall())
            communities = {r[0] for r in con.execute(
                f"SELECT node FROM {_pq(analysis / 'communities.parquet')}"
            ).fetchall()}
        except duckdb.IOException as exc:
            return bad + [("analyze", str(exc))]
        if got_cc != want_cc:
            bad.append(("analyze", "components differ from the oracle"))
        if communities != set(want_cc):
            bad.append(("analyze", f"communities cover {len(communities)} "
                                   f"nodes, the oracle graph {len(want_cc)}"))
    finally:
        con.close()
    return bad
