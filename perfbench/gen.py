"""Seeded input generator for the chain workloads.

Emits ``part`` / ``lineitem`` / ``orders`` / ``customer``-shaped parquet
with only the columns the OSM derivation reads, so
``plans.osm_derived.derive_osm_from`` builds the OSM world from it and the
DuckDB oracles in ``plans/osm_derived.py`` apply unchanged:

- ``part.p_partkey``  -> node id; ``p_size``/``p_brand``/``p_type``/``p_name``
  -> node tags (``p_size`` residues decide which POI keys a node carries);
- ``lineitem`` rows   -> way refs (``l_orderkey`` = way id, ``l_partkey`` =
  node id, ``l_linenumber`` = ref order);
- ``orders.o_orderkey`` residues -> way tags (highway/oneway/maxspeed/...);
- ``customer`` / ``orders.o_custkey`` -> route relations.

:func:`write_extract` then encodes that world as the chain's ``.osm.pbf``.
It derives it with the oracles' own DuckDB mirror of ``derive_osm_from``
(``_NODES_SQL``/``_WN_SQL``/``_WTAGS_SQL``/``_RELS_SQL``/``_RMEMB_SQL``),
which needs no Spark job; perfbench/test_perfbench.py checks that the
mirror and ``derive_osm_from`` agree on both shapes.

Two shapes:

``dense``  the shape of ``derive_osm`` over TPC-H-like data: 1-7 refs per
           way drawn uniformly from all nodes, so every node is shared by
           ~30 ways, ways outnumber nodes ~7x, and the graph diameter is
           small.
``sparse`` a road-extract shape: a long, narrow street grid whose ways run
           between intersections over 4-6 untagged shape nodes each, ~10
           refs per way, only intersections shared (~10% of nodes), nodes
           outnumber ways ~7-8x, large graph diameter.

Usage: ``python perfbench/gen.py dense 7 OUT_DIR`` (tables and PBF).
"""

from __future__ import annotations

import sys
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# derive_osm's car-network rule, restated over o_orderkey residues (the
# oracle's _CN_SQL): highway in the include-list and no exclusion tag
_CAR_HIGHWAY_RESIDUES = frozenset({0, 1, 2, 4, 6, 9})  # mod 12


def is_car_way(key: int) -> bool:
    return (key % 12 in _CAR_HIGHWAY_RESIDUES
            and key % 17 != 0 and key % 19 != 0 and key % 31 != 0
            and key % 23 not in (0, 1) and key % 29 != 0
            and key % 11 not in (0, 1) and key % 13 != 0)


# p_size values for which derive_osm attaches no node tag at all
_UNTAGGED_SIZES = np.array([1, 13, 17, 19, 23, 29, 31, 37, 41, 43])
_COLORS = ("almond", "azure", "beige", "blush", "coral", "cyan", "forest",
           "ivory", "khaki", "lemon", "linen", "navy", "olive", "orchid",
           "plum", "rose", "salmon", "sienna", "tan", "wheat")
_TYPES = ("STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "MEDIUM BRUSHED "
          "STEEL", "LARGE POLISHED BRASS", "ECONOMY BURNISHED NICKEL",
          "PROMO PLATED TIN")


@dataclass(frozen=True)
class Shape:
    """Size knobs of one generated world."""
    kind: str
    nodes: int = 0          # dense: node count
    grid_rows: int = 0      # sparse: intersections per grid column
    grid_cols: int = 0      # sparse: grid columns (sets the diameter)


SHAPES = {
    "dense": Shape("dense", nodes=800),
    "sparse": Shape("sparse", grid_rows=4, grid_cols=300),
    # tiny variants for the benchmark's own tests
    "dense-tiny": Shape("dense", nodes=60),
    "sparse-tiny": Shape("sparse", grid_rows=3, grid_cols=12),
}


def _part(rng: np.random.Generator, keys: np.ndarray,
          sizes: np.ndarray) -> pa.Table:
    n = len(keys)
    names = [f"{_COLORS[a]} {_COLORS[b]}" for a, b in
             zip(rng.integers(0, len(_COLORS), n),
                 rng.integers(0, len(_COLORS), n))]
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n), rng.integers(1, 6, n))],
        "p_type": [_TYPES[i] for i in rng.integers(0, len(_TYPES), n)],
        "p_size": pa.array(sizes, pa.int32()),
    })


def _draw_way_keys(rng: np.random.Generator, n: int,
                   car_share: float) -> np.ndarray:
    """Unique way ids; a ``car_share`` of them fall in the car network."""
    want_car = rng.random(n) < car_share
    pool = rng.permutation(np.arange(1, 64 * n + 64, dtype=np.int64))
    car = np.fromiter((is_car_way(int(k)) for k in pool), bool, len(pool))
    out = np.empty(n, dtype=np.int64)
    out[want_car] = pool[car][:want_car.sum()]
    out[~want_car] = pool[~car][:(~want_car).sum()]
    return out


def _dense(rng: np.random.Generator, shape: Shape):
    n_nodes = shape.nodes
    n_ways = int(n_nodes * 7.35)          # sf0.1: 147k ways / 20k nodes
    node_keys = np.arange(1, n_nodes + 1, dtype=np.int64)
    sizes = rng.integers(1, 51, n_nodes)
    way_keys = np.sort(rng.choice(np.arange(1, 4 * n_ways + 1), n_ways,
                                  replace=False)).astype(np.int64)
    refs = rng.integers(1, 8, n_ways)     # TPC-H: 1-7 lineitems per order
    li_order = np.repeat(way_keys, refs)
    li_line = np.concatenate([np.arange(1, r + 1) for r in refs])
    li_part = rng.integers(1, n_nodes + 1, len(li_order))
    return node_keys, sizes, way_keys, li_order, li_part, li_line


def _sparse(rng: np.random.Generator, shape: Shape):
    rows, cols = shape.grid_rows, shape.grid_cols

    def inter(r: int, c: int) -> int:
        return r * cols + c + 1

    # street chains along the grid: horizontal runs per row, vertical per
    # column; each chain is cut into ways spanning 1 or 2 grid edges
    chains = [[inter(r, c) for c in range(cols)] for r in range(rows)]
    chains += [[inter(r, c) for r in range(rows)] for c in range(cols)]
    next_node = rows * cols + 1
    ways: list[list[int]] = []
    for chain in chains:
        i = 0
        while i < len(chain) - 1:
            span = min(int(rng.integers(1, 3)), len(chain) - 1 - i)
            refs = [chain[i]]
            for j in range(span):
                k = int(rng.integers(4, 7))   # untagged shape nodes
                refs.extend(range(next_node, next_node + k))
                next_node += k
                refs.append(chain[i + j + 1])
            ways.append(refs)
            i += span
    order = rng.permutation(len(ways))
    ways = [ways[i] for i in order]
    n_inter = rows * cols
    node_keys = np.arange(1, next_node, dtype=np.int64)
    sizes = np.concatenate([
        rng.integers(1, 51, n_inter),
        rng.choice(_UNTAGGED_SIZES, next_node - 1 - n_inter)])
    way_keys = _draw_way_keys(rng, len(ways), car_share=0.9)
    li_order = np.repeat(way_keys, [len(w) for w in ways])
    li_line = np.concatenate([np.arange(1, len(w) + 1) for w in ways])
    li_part = np.concatenate([np.asarray(w, dtype=np.int64) for w in ways])
    return node_keys, sizes, way_keys, li_order, li_part, li_line


def generate(shape_name: str, seed: int, out_dir: str | Path) -> dict:
    """Write the four tables to ``out_dir``; return the generated shape."""
    shape = SHAPES[shape_name]
    rng = np.random.default_rng(seed)
    node_keys, sizes, way_keys, li_order, li_part, li_line = (
        _dense if shape.kind == "dense" else _sparse)(rng, shape)
    n_cust = max(7, len(way_keys) // 10)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    tables = {
        "part": _part(rng, node_keys, sizes),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(li_part, pa.int64()),
            "l_linenumber": pa.array(li_line, pa.int32())}),
        "orders": pa.table({
            "o_orderkey": pa.array(way_keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1,
                                               len(way_keys)), pa.int64())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64())}),
    }
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return measure_shape(li_order, li_part, len(node_keys))


def measure_shape(li_order: np.ndarray, li_part: np.ndarray,
                  n_nodes: int) -> dict:
    """Nodes, ways, refs per way and the share of nodes used by 2+ ways."""
    n_ways = len(np.unique(li_order))
    pairs = np.unique(np.stack([li_part, li_order]), axis=1)
    ways_per_node = np.bincount(np.searchsorted(np.unique(pairs[0]),
                                                pairs[0]))
    return {"nodes": int(n_nodes), "ways": int(n_ways),
            "refs_per_way": len(li_order) / n_ways,
            "shared_node_share": float((ways_per_node > 1).sum()) / n_nodes}


def osm_world(tables_dir: str | Path) -> dict[str, list[dict]]:
    """The OSM entities ``derive_osm_from``/``derive_relations`` build from
    the tables, as ``write_pbf`` dicts, derived in DuckDB."""
    import duckdb
    from osm_pg_etl_spark.plans import osm_derived as od

    con = duckdb.connect()
    try:
        for name in ("part", "lineitem", "orders", "customer"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                        f"'{Path(tables_dir) / name}.parquet')")

        def rows(sql: str) -> tuple[list[str], list[tuple]]:
            cur = con.execute(sql)
            return [c[0] for c in cur.description], cur.fetchall()

        def tags(cols: list[str], row: tuple, skip: int) -> dict:
            return {k: v for k, v in zip(cols[skip:], row[skip:])
                    if v is not None}

        cols, node_rows = rows(od._cte(od._NODES_SQL)
                               + " SELECT * FROM nodes_d ORDER BY id")
        nodes = [{"id": r[0], "lon": r[1], "lat": r[2],
                  "tags": tags(cols, r, 3)} for r in node_rows]
        cols, way_rows = rows(od._cte(od._WTAGS_SQL, od._WN_SQL) + """
            , refs AS (SELECT way_id, list(node_id ORDER BY sequence_id)
                       AS refs FROM wn GROUP BY way_id)
            SELECT r.refs, w.* FROM wtags w JOIN refs r USING (way_id)
            ORDER BY way_id""")
        ways = [{"id": r[1], "nodes": list(r[0]), "tags": tags(cols, r, 2)}
                for r in way_rows]
        _, member_rows = rows(od._cte(od._RMEMB_SQL) + """
            SELECT relation_id, member_id, member_type, member_role
            FROM rmemb ORDER BY relation_id, sequence_id""")
        members: dict[int, list] = {}
        for rel, mid, mtype, role in member_rows:
            members.setdefault(rel, []).append((mid, mtype, role))
        _, rel_rows = rows(od._cte(od._RELS_SQL) + """
            SELECT id, rtype, route, ref,
                   CASE id % 5 WHEN 0 THEN 'lcn' WHEN 1 THEN 'rcn' END
            FROM rels ORDER BY id""")
        relations = [{"id": r[0],
                      "tags": tags(["type", "route", "ref", "network"],
                                   r[1:], 0),
                      "members": members.get(r[0], [])} for r in rel_rows]
    finally:
        con.close()
    return {"nodes": nodes, "ways": ways, "relations": relations}


def write_extract(tables_dir: str | Path, pbf_path: str | Path) -> None:
    """Encode the tables' OSM world as an ``.osm.pbf``."""
    from osm_pg_etl_spark.sources.pbf import write_pbf

    write_pbf(str(pbf_path), **osm_world(tables_dir))


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    out_dir = Path(sys.argv[3])
    print(generate(sys.argv[1], int(sys.argv[2]), out_dir))
    write_extract(out_dir, out_dir / "extract.osm.pbf")
