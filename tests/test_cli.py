"""End-to-end CLI workflow (python -m osm_pg_etl_spark): the reference's
osmosis -> SQL scripts -> igraph chain as subcommands, driven on a
generated spec-valid PBF."""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from pyspark.sql import functions as F

from osm_pg_etl_spark.__main__ import _write_tables, main
from osm_pg_etl_spark.sources import pbf

TS = dt.datetime(2024, 1, 1)


def _grid_pbf(path: str, n: int = 5) -> None:
    def nid(r: int, c: int) -> int:
        return r * 100 + c + 1

    # a few tagged nodes, so the tags catalog has node rows to summarise
    nodes = [{"id": nid(r, c), "lat": 45.0 + r * 0.01,
              "lon": -73.0 + c * 0.01, "version": 1, "user_id": 1,
              "changeset_id": 1, "tstamp": TS,
              "tags": {"amenity": "cafe"} if (r + c) % 3 == 0 else {}}
             for r in range(n) for c in range(n)]
    ways = []
    wid = 1000
    for r in range(n):
        wid += 1
        ways.append({"id": wid, "nodes": [nid(r, c) for c in range(n)],
                     "version": 1, "user_id": 1, "changeset_id": 1,
                     "tstamp": TS,
                     "tags": {"highway": "residential", "maxspeed": "50"}})
    for c in range(n):
        wid += 1
        ways.append({"id": wid, "nodes": [nid(r, c) for r in range(n)],
                     "version": 1, "user_id": 1, "changeset_id": 1,
                     "tstamp": TS, "tags": {"highway": "residential"}})
    pbf.write_pbf(path, nodes=nodes, ways=ways)


def test_cli_workflow_end_to_end(spark, tmp_path):
    src = str(tmp_path / "grid.osm.pbf")
    _grid_pbf(src)
    osm, net, out = (str(tmp_path / d) for d in ("osm", "net", "out"))

    main(["ingest", src, osm])
    main(["network", osm, net, "--mode", "car", "--minimal"])
    main(["analyze", net, out, "--algo",
          "components,communities,louvain,sssp"])
    main(["export", net, str(tmp_path / "edges")])

    merged = spark.read.parquet(f"{net}/merged.parquet")
    # 5x5 grid: each of 10 ways splits at 3 interior intersections -> 4
    # segments each
    assert merged.count() == 40
    comp = spark.read.parquet(f"{out}/components.parquet")
    assert comp.select("component").distinct().count() == 1  # one grid
    lv = spark.read.parquet(f"{out}/louvain.parquet")
    assert lv.count() == comp.count()  # every node labelled
    sssp = spark.read.parquet(f"{out}/sssp.parquet")
    assert sssp.count() == comp.count()  # grid fully reachable
    csv = spark.read.option("header", True).csv(str(tmp_path / "edges"))
    directed = spark.read.parquet(f"{net}/directed.parquet")
    assert csv.count() == directed.count() > 0

    # --delta switches sssp to radius stepping; distances must be
    # identical (shortcuts carry real path lengths)
    out2 = str(tmp_path / "out2")
    main(["analyze", net, out2, "--algo", "sssp", "--delta", "0.05"])
    base = sorted(map(tuple, sssp.collect()))
    rad = sorted(map(tuple,
                     spark.read.parquet(f"{out2}/sssp.parquet").collect()))
    assert rad == base


def _freeze(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    return v


def _bag(df) -> Counter:
    """Rows as a multiset; maps, arrays and structs made hashable."""
    return Counter(_freeze(tuple(r)) for r in df.collect())


def _sql_executions(spark) -> list[tuple[int, int]]:
    """(executionId, rootExecutionId) of every SQL execution so far."""
    seq = (spark._jsparkSession.sharedState().statusStore()
           .executionsList())
    return [(seq.apply(i).executionId(), seq.apply(i).rootExecutionId())
            for i in range(seq.size())]


def test_write_tables_failure_keeps_other_writes(spark, tmp_path, capsys):
    """One table whose plan raises makes _write_tables raise, but only
    after the other tables are written; every write keeps the caller's
    job group and is a SQL execution of its own (no thread sees another
    write's execution id), and the `wrote` lines name the written tables
    in order."""
    import time

    out = str(tmp_path)
    mark = max((e for e, _ in _sql_executions(spark)), default=-1)
    bad = spark.range(3).withColumn(
        "x", F.when(F.col("id") == 1, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")))
    tables = {"a": spark.range(5), "bad": bad, "c": spark.range(7)}
    sc = spark.sparkContext
    sc.setJobGroup("write-tables-test", "concurrent writes")
    try:
        with pytest.raises(Exception, match="boom"):
            _write_tables(spark, tables, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert spark.read.parquet(f"{out}/a.parquet").count() == 5
    assert spark.read.parquet(f"{out}/c.parquet").count() == 7
    assert len(sc.statusTracker().getJobIdsForGroup("write-tables-test")) \
        >= len(tables)
    deadline = time.monotonic() + 30     # the status listener is async
    while True:
        writes = [e for e in _sql_executions(spark) if e[0] > mark]
        if len(writes) >= len(tables) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert len(writes) >= len(tables)
    assert all(e == root for e, root in writes), writes
    assert capsys.readouterr().out.splitlines() == [
        f"wrote {out}/a.parquet", f"wrote {out}/c.parquet"]


def test_cli_concurrent_writes_match_serial_build(spark, tmp_path):
    """The concurrently written ingest and tags tables, and the directed
    table `network --mode complete` builds from merged.parquet read back,
    equal a serial in-process build of the same plans as multisets."""
    from osm_pg_etl_spark.operators.graphs import directed_network
    from osm_pg_etl_spark.operators.network import (
        complete_network, with_mode_flags)
    from osm_pg_etl_spark.operators.tags import tags_summary_catalog
    from osm_pg_etl_spark.operators.topology import merged_network
    from osm_pg_etl_spark.sources.io import read_osm

    src = str(tmp_path / "grid.osm.pbf")
    _grid_pbf(src)
    osm, tags, net = (str(tmp_path / d) for d in ("osm", "tags", "net"))
    main(["ingest", src, osm])
    main(["tags", osm, tags])
    main(["network", osm, net, "--mode", "complete"])

    nodes = pbf.read_pbf(spark, src, "nodes")
    want_osm = {"nodes": nodes,
                "ways": pbf.assemble_linestrings(
                    pbf.read_pbf(spark, src, "ways"), nodes),
                "way_nodes": pbf.read_pbf(spark, src, "way_nodes"),
                "relations": pbf.read_pbf(spark, src, "relations")}
    for name, df in want_osm.items():
        assert _bag(spark.read.parquet(f"{osm}/{name}.parquet")) \
            == _bag(df), name

    d = read_osm(spark, osm, ("nodes", "ways", "way_nodes"))
    catalog = tags_summary_catalog(d["nodes"], d["ways"])
    assert all(_bag(catalog[n]) for n in ("highway_values",
                                          "amenity_nodes_values"))
    for name, df in catalog.items():
        assert _bag(spark.read.parquet(f"{tags}/{name}.parquet")) \
            == _bag(df), name

    want = directed_network(merged_network(
        with_mode_flags(complete_network(d["ways"]), tag=F.col),
        d["way_nodes"]))
    got = spark.read.parquet(f"{net}/directed.parquet")
    assert got.columns == want.columns
    assert _bag(got) == _bag(want) and sum(_bag(want).values()) > 0


def test_cli_analyze_sssp_empty_network(spark, tmp_path):
    """analyze --algo sssp on an empty directed network must exit with a
    clear message, not an opaque TypeError from int(None)."""
    net = str(tmp_path / "net")
    empty = spark.createDataFrame(
        [], "start_node long, end_node long, length double")
    empty.write.parquet(f"{net}/directed.parquet")
    with pytest.raises(SystemExit, match="empty"):
        main(["analyze", net, str(tmp_path / "out"), "--algo", "sssp"])


def test_cli_pg_round_trip(spark, tmp_path):
    """pgload + pgread against a live server: derive tables from a PBF,
    bulk-load ways into PostgreSQL (map -> hstore, array -> bigint[]),
    synthesize the remaining pgsnapshot tables, migrate back with
    pgread --no-geom, and check the tags/nodes survive."""
    import os

    from osm_pg_etl_spark.sources.pg_copy import _psql, pg_available

    dsn = os.environ.get("OSM_PG_TEST_DSN", "")
    if not (dsn and pg_available(dsn)):
        pytest.skip("no live PostgreSQL (set OSM_PG_TEST_DSN)")

    src = str(tmp_path / "grid.osm.pbf")
    _grid_pbf(src)
    osm_dir = str(tmp_path / "osm")
    main(["ingest", src, osm_dir])

    main(["pgload", f"{osm_dir}/ways.parquet", "--dsn", dsn,
          "--table", "cli_ways"])
    assert _psql(dsn, 'SELECT count(*) FROM "cli_ways"').strip() == "10"
    assert _psql(dsn, "SELECT count(*) FROM \"cli_ways\" WHERE "
                      "tags -> 'highway' = 'residential'").strip() == "10"

    # complete the pgsnapshot surface server-side, then migrate back
    for sql in (
            "DROP TABLE IF EXISTS ways CASCADE",
            'ALTER TABLE "cli_ways" RENAME TO ways',
            "DROP TABLE IF EXISTS nodes CASCADE",
            "CREATE TABLE nodes AS SELECT DISTINCT n AS id, "
            "''::hstore AS tags FROM ways, unnest(nodes) AS u(n)",
            "DROP TABLE IF EXISTS way_nodes CASCADE",
            "CREATE TABLE way_nodes AS SELECT id AS way_id, n AS node_id, "
            "CAST(ord - 1 AS int) AS sequence_id FROM ways, "
            "unnest(nodes) WITH ORDINALITY AS u(n, ord)",
            "DROP TABLE IF EXISTS relations CASCADE",
            "CREATE TABLE relations (id bigint, tags hstore)",
            "DROP TABLE IF EXISTS relation_members CASCADE",
            "CREATE TABLE relation_members (relation_id bigint, "
            "member_id bigint, member_type text, member_role text, "
            "sequence_id int)"):
        _psql(dsn, sql)
    back_dir = str(tmp_path / "back")
    main(["pgread", back_dir, "--dsn", dsn, "--partitions", "2",
          "--no-geom"])
    ways = spark.read.parquet(f"{back_dir}/ways.parquet")
    assert ways.count() == 10
    got = {r["id"]: (dict(r["tags"]), list(r["nodes"]))
           for r in ways.collect()}
    want = {r["id"]: (dict(r["tags"]), list(r["nodes"]))
            for r in spark.read.parquet(f"{osm_dir}/ways.parquet")
            .select("id", "tags", "nodes").collect()}
    assert got == want
    # 10 ways x 5 nodes each
    assert spark.read.parquet(f"{back_dir}/way_nodes.parquet").count() == 50
