"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The generator tests need no Spark; the mirror test starts one local
session; the smoke tests run ``run.py --tiny`` once per workload (about a
minute each), one untraced and one traced.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _tables(path: Path) -> dict:
    return {p.stem: pq.read_table(p) for p in sorted(path.glob("*.parquet"))}


@pytest.mark.parametrize("shape", ["dense", "sparse"])
def test_generator_is_deterministic_per_seed(tmp_path, shape):
    a = gen.generate(shape, 5, tmp_path / "a")
    b = gen.generate(shape, 5, tmp_path / "b")
    c = gen.generate(shape, 6, tmp_path / "c")
    assert a == b
    ta, tb, tc = (_tables(tmp_path / x) for x in "abc")
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not ta["lineitem"].equals(tc["lineitem"])
    gen.write_extract(tmp_path / "a", tmp_path / "a.pbf")
    gen.write_extract(tmp_path / "b", tmp_path / "b.pbf")
    assert (tmp_path / "a.pbf").read_bytes() == \
        (tmp_path / "b.pbf").read_bytes()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generator_hits_the_stated_shapes(tmp_path, seed):
    dense = gen.generate("dense", seed, tmp_path / "d")
    assert 3.5 < dense["refs_per_way"] < 4.5
    assert 6.5 < dense["ways"] / dense["nodes"] < 8.5
    assert dense["shared_node_share"] > 0.95
    sparse = gen.generate("sparse", seed, tmp_path / "s")
    assert 9.0 < sparse["refs_per_way"] < 11.0
    assert 6.5 < sparse["nodes"] / sparse["ways"] < 9.0
    assert 0.08 < sparse["shared_node_share"] < 0.2


def test_sparse_car_network_spans_the_grid(tmp_path):
    """Most sparse ways are car ways, so components stay long."""
    gen.generate("sparse", 3, tmp_path)
    keys = pq.read_table(tmp_path / "orders.parquet")["o_orderkey"]
    car = sum(gen.is_car_way(k) for k in keys.to_pylist())
    assert car / len(keys) > 0.85


def test_duckdb_world_matches_derive_osm_from(tmp_path):
    """write_extract's DuckDB derivation equals the Spark derivation the
    plan queries use (derive_osm_from / derive_relations)."""
    from osm_pg_etl_spark.plans.osm_derived import (
        derive_osm_from, derive_relations)
    from osm_pg_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test")
    for shape in ("dense-tiny", "sparse-tiny"):
        out = tmp_path / shape
        gen.generate(shape, 9, out)
        world = gen.osm_world(out)

        def read(name: str):
            return spark.read.parquet(str(out / f"{name}.parquet"))

        d = derive_osm_from(read("part"), read("lineitem"))
        rels, members = derive_relations(read("customer"), read("orders"))
        nodes = {r["id"]: (r["lon"], r["lat"], dict(r["tags"]))
                 for r in d["nodes"].collect()}
        assert nodes == {n["id"]: (n["lon"], n["lat"], n["tags"])
                         for n in world["nodes"]}
        ways = {r["id"]: (list(r["nodes"]), dict(r["tags"]))
                for r in d["ways"].collect()}
        assert ways == {w["id"]: (w["nodes"], w["tags"])
                        for w in world["ways"]}
        by_rel: dict[int, list] = {}
        for r in members.orderBy("relation_id", "sequence_id").collect():
            by_rel.setdefault(r["relation_id"], []).append(
                (r["member_id"], r["member_type"], r["member_role"]))
        rel_rows = {r["id"]: (dict(r["tags"]), by_rel.get(r["id"], []))
                    for r in rels.collect()}
        assert rel_rows == {r["id"]: (r["tags"], r["members"])
                            for r in world["relations"]}
        spark.catalog.clearCache()


def test_trace_schema_names_every_layer_metric_with_units():
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert spec == tracing.LAYER_UNITS
    stages = [name for name, _ in run.CHAIN]
    assert list(tracing._STAGES) == stages
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert e2e == {"setup_s", "chain_s", "chain_cpu_s", "ingest_s"}
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(
        run.WORKLOADS)


def test_exchange_count_skips_cached_plans():
    plan = ("Exchange hashpartitioning(a#1, 4)\n"
            "+- InMemoryTableScan [a#1]\n"
            "      +- InMemoryRelation [a#1], StorageLevel(memory)\n"
            "            +- Exchange hashpartitioning(a#1, 4)\n"
            "               +- BroadcastExchange HashedRelation\n"
            "+- BroadcastExchange HashedRelationBroadcastMode\n"
            "+- ReusedExchange [a#1], Exchange hashpartitioning(a#1, 4)\n")
    assert tracing._exchanges(plan) == 3


def test_union_find_components():
    from verify import _components

    got = _components([(5, 3), (3, 9), (7, 7), (8, 2), (2, 8)])
    assert got == {5: 3, 3: 3, 9: 3, 8: 2, 2: 2}


@pytest.mark.parametrize("workload,trace", [("chain-dense", 0),
                                            ("chain-sparse", 1)])
def test_tiny_smoke_run_passes_verification(workload, trace):
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "4", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] == len(run.CHAIN)
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        assert metrics["connected_components.jobs"] > 0
        assert metrics["read_pbf.ways.rows_out"] == metrics["shape.ways"]
        assert metrics["cli.ingest.jobs"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "chain-dense",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
