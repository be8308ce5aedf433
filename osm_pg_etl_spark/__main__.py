"""Workflow CLI — the reference's end-to-end script chain as subcommands.

The reference runs: osmosis PBF load → `osm-explore.sql` → the
road/complete-graph scripts → igraph analyses → CSV write-back
(``osm-pg-etl.md``). Each step maps to one subcommand over parquet dirs:

    python -m osm_pg_etl_spark ingest  extract.osm.pbf  osm_dir/
    python -m osm_pg_etl_spark tags    osm_dir/  tags_out/
    python -m osm_pg_etl_spark network osm_dir/  net_out/  --mode car
    python -m osm_pg_etl_spark analyze net_out/  analysis_out/ \
        --algo components,pagerank,communities
    python -m osm_pg_etl_spark export  net_out/  edges.csv

`ingest` decodes PBF with the engine's own distributed reader
(``sources.pbf.read_pbf``) — no external tools; `network` is the full
filter → impute → topological split/merge → directed expansion pipeline;
`analyze` runs the native graph algorithms; `export` writes the igraph
edge-list contract for the single-node long tail.

`ingest` and `tags` write their independent tables as concurrent Spark
jobs (``_write_tables``), so one table's small tail of tasks does not
leave the other cores idle. `network` builds ``directed.parquet`` from
the ``merged.parquet`` it has just written rather than running the
split/merge plan a second time.
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from .session import get_spark
    s = get_spark(app_name=app)
    s.sparkContext.setLogLevel("WARN")
    return s


def _write_tables(spark, tables: dict, out: str) -> None:
    """Write each DataFrame to ``out/<name>.parquet``, all as concurrent
    Spark jobs (one thread per table).

    Every thread inherits the caller's job group, description and tags
    (``inheritable_thread_target``), so the jobs stay attributed to the
    calling step. All writes run to the end; then the ``wrote`` lines of
    the tables written print in table order, and the first failure in
    table order is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def write(name: str, df) -> None:
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    # wrapped once per table: each wrap clones the caller's properties, and
    # a thread sets the clone itself as its own — one clone shared by all
    # threads would leak one write's SQL execution id into the others
    with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
        futures = {name: pool.submit(inheritable_thread_target(spark)(write),
                                     name, df)
                   for name, df in tables.items()}
    error = None
    for name, future in futures.items():
        exc = future.exception()
        if exc is None:
            print(f"wrote {out}/{name}.parquet")
        elif error is None:
            error = exc
    if error is not None:
        raise error


def cmd_ingest(args: argparse.Namespace) -> None:
    from .sources.pbf import assemble_linestrings, read_pbf

    spark = _spark("ingest")
    nodes = read_pbf(spark, args.pbf, "nodes")
    ways = assemble_linestrings(read_pbf(spark, args.pbf, "ways"), nodes)
    tables = {"nodes": nodes, "ways": ways,
              "way_nodes": read_pbf(spark, args.pbf, "way_nodes"),
              "relations": read_pbf(spark, args.pbf, "relations")}
    _write_tables(spark, tables, args.out)


def cmd_tags(args: argparse.Namespace) -> None:
    from .operators.tags import tags_summary_catalog
    from .sources.io import read_osm

    spark = _spark("tags")
    d = read_osm(spark, args.osm_dir, ("nodes", "ways"))
    _write_tables(spark, tags_summary_catalog(d["nodes"], d["ways"]),
                  args.out)


def cmd_network(args: argparse.Namespace) -> None:
    from .operators.graphs import directed_network
    from .operators.network import (
        car_network, complete_network, impute_speed_limit, with_mode_flags)
    from .operators.topology import merged_network
    from .sources.io import read_osm

    spark = _spark("network")
    d = read_osm(spark, args.osm_dir, ("nodes", "ways", "way_nodes"))
    if args.mode == "car":
        net = impute_speed_limit(car_network(d["ways"]).cache())
    else:
        from pyspark.sql import functions as F
        net = with_mode_flags(complete_network(d["ways"]).cache(), tag=F.col)
    merged = merged_network(net, d["way_nodes"])
    merged.write.mode("overwrite").parquet(f"{args.out}/merged.parquet")
    directed = directed_network(
        spark.read.parquet(f"{args.out}/merged.parquet"),
        minimal=args.minimal)
    directed.write.mode("overwrite").parquet(f"{args.out}/directed.parquet")
    print(f"wrote {args.out}/merged.parquet and directed.parquet")


_ALGOS = ("components", "pagerank", "communities", "betweenness",
          "triangles", "kcore", "louvain", "sssp")


def cmd_analyze(args: argparse.Namespace) -> None:
    from pyspark.sql import functions as F

    from .operators import graph_algo as ga

    # Validate the full list before running ANY algorithm: a typo in the
    # 2nd name must not leave partial output from the 1st on disk.
    algos = [a.strip() for a in args.algo.split(",") if a.strip()]
    bad = [a for a in algos if a not in _ALGOS]
    if bad:
        sys.exit(f"unknown algo(s) {bad!r}; choose from {_ALGOS}")
    spark = _spark("analyze")
    directed = spark.read.parquet(f"{args.net_dir}/directed.parquet")
    edges = directed.select(F.col("start_node").alias("src"),
                            F.col("end_node").alias("dst")).localCheckpoint()
    for algo in algos:
        if algo == "components":
            out = ga.connected_components(edges)
        elif algo == "pagerank":
            out = ga.pagerank(edges, n_iter=args.iterations)
        elif algo == "communities":
            out = ga.label_propagation(edges, n_iter=args.iterations)
        elif algo == "betweenness":
            sources = [r["a"] for r in
                       (ga.symmetric_edges(edges).select("a").distinct()
                        .orderBy("a").limit(args.sources).collect())]
            out = ga.betweenness(edges, sources, max_depth=args.depth)
        elif algo == "triangles":
            out = ga.triangle_counts(edges)
        elif algo == "louvain":
            out = ga.refine_connected(edges, ga.louvain(edges))
        elif algo == "sssp":
            # exact weighted SSSP from the minimum node over edge lengths
            src = directed.agg(F.min("start_node")).collect()[0][0]
            if src is None:
                sys.exit("analyze --algo sssp: the directed network is "
                         "empty — no source node to route from")
            if args.delta:
                # radius stepping: rounds bounded by distance buckets
                # (2·max_dist/Δ + log₂Δ) instead of hop diameter — the
                # choice for continent-scale high-diameter graphs
                out = ga.shortest_paths_radius(
                    directed, src, delta=args.delta, src="start_node",
                    dst="end_node", weight="length")
            else:
                out = ga.shortest_paths_weighted(
                    directed, src, src="start_node", dst="end_node",
                    weight="length")
        else:
            out = ga.k_core(edges, k=2)
        out.write.mode("overwrite").parquet(f"{args.out}/{algo}.parquet")
        print(f"wrote {args.out}/{algo}.parquet")


def cmd_export(args: argparse.Namespace) -> None:
    spark = _spark("export")
    directed = spark.read.parquet(f"{args.net_dir}/directed.parquet")
    cols = [c for c in ("start_node", "end_node", "length", "length_km",
                        "speed_limit") if c in directed.columns]
    (directed.select(*cols)
     .coalesce(args.files)
     .write.mode("overwrite").option("header", True).csv(args.out))
    print(f"wrote igraph edge-list CSV ({', '.join(cols)}) to {args.out}")


def cmd_pgload(args: argparse.Namespace) -> None:
    """Bulk-load one parquet table into PostgreSQL over parallel COPY
    streams, bridging engine types server-side: ``map<string,string>`` →
    hstore, ``array<long>`` → bigint[] (the pgsnapshot column types).
    Write-back leg of the reference workflow without the JDBC jar."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .functions.hstore import hstore_literal
    from .sources.pg_copy import _psql, copy_write

    spark = _spark("pgload")
    df = spark.read.parquet(args.parquet)
    staged, casts, needs_hstore = [], [], False
    for f in df.schema.fields:
        q = f'"{f.name}"'
        if isinstance(f.dataType, T.MapType):
            staged.append(hstore_literal(f.name).alias(f.name))
            casts.append(f"{q}::hstore AS {q}")
            needs_hstore = True
        elif (isinstance(f.dataType, T.ArrayType)
              and isinstance(f.dataType.elementType,
                             (T.LongType, T.IntegerType, T.ShortType))):
            # null_replacement is load-bearing: array_join silently DROPS
            # null elements without it, so [1,NULL,3] would load as {1,3};
            # PostgreSQL's literal form for a null element is unquoted NULL.
            staged.append(F.concat(
                F.lit("{"),
                F.array_join(F.transform(f.name,
                                         lambda x: x.cast("string")), ",",
                             null_replacement="NULL"),
                F.lit("}")).alias(f.name))
            casts.append(f"{q}::bigint[] AS {q}")
        elif isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
            staged.append(F.to_json(f.name).alias(f.name))  # opaque JSON
            casts.append(q)
        else:
            staged.append(F.col(f.name))
            casts.append(q)
    if needs_hstore:
        _psql(args.dsn, "CREATE EXTENSION IF NOT EXISTS hstore")
    staging = f"{args.table}_staging"
    copy_write(df.select(staged), args.dsn, staging, mode="overwrite")
    _psql(args.dsn, f'DROP TABLE IF EXISTS "{args.table}" CASCADE')
    _psql(args.dsn, f'CREATE TABLE "{args.table}" AS '
                    f'SELECT {", ".join(casts)} FROM "{staging}"')
    _psql(args.dsn, f'DROP TABLE "{staging}"')
    n = _psql(args.dsn, f'SELECT count(*) FROM "{args.table}"').strip()
    print(f"loaded {n} rows into {args.table}")


def cmd_pgread(args: argparse.Namespace) -> None:
    """Migrate an existing osmosis pgsnapshot database into parquet
    tables every other subcommand consumes (sources.pgsnapshot)."""
    from .sources.pgsnapshot import read_pgsnapshot

    spark = _spark("pgread")
    tables = read_pgsnapshot(spark, args.dsn,
                             num_partitions=args.partitions,
                             with_geom=not args.no_geom)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{args.out}/{name}.parquet")
        print(f"wrote {args.out}/{name}.parquet")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="osm_pg_etl_spark",
                                description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ingest", help="PBF -> parquet via the engine's reader")
    s.add_argument("pbf")
    s.add_argument("out")
    s.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("tags", help="build the tags_summary catalog")
    s.add_argument("osm_dir")
    s.add_argument("out")
    s.set_defaults(fn=cmd_tags)

    s = sub.add_parser("network", help="filter -> split/merge -> directed")
    s.add_argument("osm_dir")
    s.add_argument("out")
    s.add_argument("--mode", choices=("car", "complete"), default="car")
    s.add_argument("--minimal", action="store_true",
                   help="4-column directed projection")
    s.set_defaults(fn=cmd_network)

    s = sub.add_parser("analyze", help="native graph analyses")
    s.add_argument("net_dir")
    s.add_argument("out")
    s.add_argument("--algo", default="components",
                   help=f"comma list from {_ALGOS}")
    s.add_argument("--iterations", type=int, default=5)
    s.add_argument("--sources", type=int, default=6)
    s.add_argument("--depth", type=int, default=4)
    s.add_argument("--delta", type=float, default=None,
                   help="sssp: radius-stepping bucket width (same unit "
                        "as edge length) — bounds rounds by distance "
                        "buckets instead of hop diameter")
    s.set_defaults(fn=cmd_analyze)

    s = sub.add_parser("export", help="igraph edge-list CSV contract")
    s.add_argument("net_dir")
    s.add_argument("out")
    s.add_argument("--files", type=int, default=1)
    s.set_defaults(fn=cmd_export)

    s = sub.add_parser("pgload",
                       help="parquet -> PostgreSQL over parallel COPY "
                            "(maps -> hstore, long arrays -> bigint[])")
    s.add_argument("parquet")
    s.add_argument("--dsn", required=True,
                   help="libpq DSN, e.g. 'host=/tmp/pgsock dbname=test'")
    s.add_argument("--table", required=True)
    s.set_defaults(fn=cmd_pgload)

    s = sub.add_parser("pgread",
                       help="pgsnapshot PostgreSQL -> parquet tables "
                            "(the migration path from the reference)")
    s.add_argument("out")
    s.add_argument("--dsn", required=True)
    s.add_argument("--partitions", type=int, default=32)
    s.add_argument("--no-geom", action="store_true",
                   help="skip ST_X/ST_Y (servers without PostGIS)")
    s.set_defaults(fn=cmd_pgread)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
