"""Per-layer tracing of the CLI chain, from outside the program.

:class:`Tracer` replaces the public functions the CLI calls with wrappers,
in their own module namespace (``sources.pbf.read_pbf``,
``operators.topology.merged_network``, ...), so the unchanged CLI code
calls the wrappers. Each wrapped call gets its own Spark job group, which
stays set for the action that follows the call (the write that forces the
returned DataFrame), until the next wrapped call or the end of the stage.
After each stage the tracer reads job, stage, task and SQL-execution
records from Spark's in-process status store over py4j (as JSON, one call
per list) and aggregates them per job group. No UI or network is needed.

Two layers are measured by an extra, untimed evaluation after their stage,
because the CLI builds all their DataFrames before writing any of them:
``read_pbf.<entity>`` and ``assemble_linestrings`` are each forced once
more (noop sink, rows counted in the same job) under their own group.

Metric names and units are in :data:`LAYER_UNITS`; ``BENCHMARK.json``
lists the same set. ``peak_rss_mb`` is read by run.py.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import time
from collections import defaultdict
from pathlib import Path

_STAGES = ("ingest", "tags", "network_car", "analyze", "export")
_CLI_FIELDS = {"jobs": "count", "tasks": "count", "exec_run_s": "s",
               "exec_cpu_s": "s", "gc_s": "s", "idle_frac": "fraction",
               "shuffle_write_mb": "MB", "spill_mb": "MB"}
_ENTITIES = ("nodes", "ways", "way_nodes", "relations")
_ALGOS = ("connected_components", "label_propagation")

LAYER_UNITS: dict[str, str] = {
    "session.get_spark.wall_s": "s",
    "write_pbf.wall_s": "s",
    "blob_index.wall_s": "s",
    "blobs": "count",
    **{f"read_pbf.{e}.{f}": u for e in _ENTITIES
       for f, u in (("exec_run_s", "s"), ("rows_out", "count"))},
    "read_pbf.task_skew": "ratio",
    "scans_per_entity": "ratio",
    "assemble_linestrings.exec_run_s": "s",
    "assemble_linestrings.shuffle_write_mb": "MB",
    "tags_summary_catalog.build_s": "s",
    "tags_summary_catalog.tables": "count",
    "tags_summary_catalog.shuffle_write_mb": "MB",
    "car_network.rows_out": "count",
    "impute_speed_limit.build_s": "s",
    "impute_speed_limit.build_jobs": "count",
    **{f"merged_network.{f}": u for f, u in (
        ("build_s", "s"), ("build_jobs", "count"), ("exchanges", "count"),
        ("shuffle_write_mb", "MB"), ("exec_run_s", "s"),
        ("rows_out", "count"), ("segments_per_way", "ratio"))},
    "directed_network.rows_out": "count",
    "directed_network.exchanges": "count",
    **{f"{a}.{f}": u for a in _ALGOS for f, u in (
        ("wall_s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB"))},
    **{f"cli.{s}.{f}": u for s in _STAGES for f, u in _CLI_FIELDS.items()},
    **{f"cli.{s}.{f}": "s" for s in _STAGES for f in ("wall_s", "tree_cpu_s")},
    "trace.chain_s": "s",
    "peak_rss_mb": "MB",
    "shape.nodes": "count",
    "shape.ways": "count",
    "shape.refs_per_way": "ratio",
    "shape.shared_node_share": "fraction",
    "shape.pbf_mb": "MB",
}

# (module, function, layer kind); kinds are handled in Tracer._wrapper
_TARGETS = (
    ("osm_pg_etl_spark.session", "get_spark", "timed"),
    ("osm_pg_etl_spark.sources.pbf", "write_pbf", "timed"),
    ("osm_pg_etl_spark.sources.pbf", "blob_index", "timed"),
    ("osm_pg_etl_spark.sources.pbf", "read_pbf", "deferred"),
    ("osm_pg_etl_spark.sources.pbf", "assemble_linestrings", "deferred"),
    ("osm_pg_etl_spark.operators.tags", "tags_summary_catalog", "grouped"),
    ("osm_pg_etl_spark.operators.network", "car_network", "grouped"),
    ("osm_pg_etl_spark.operators.network", "impute_speed_limit", "grouped"),
    ("osm_pg_etl_spark.operators.topology", "merged_network", "grouped"),
    ("osm_pg_etl_spark.operators.graphs", "directed_network", "grouped"),
    *(("osm_pg_etl_spark.operators.graph_algo", a, "grouped")
      for a in _ALGOS),
)

# a shuffle or broadcast exchange in a physical plan, not a reused one
_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange ")
_DECODE_OUT = re.compile(r"\((\d+)\) MapInPandas\n(?:.*\n)*?Arguments: (.*)")


def _exchanges(plan: str) -> int:
    """Exchanges a physical plan runs itself: the plans of cached inputs,
    printed under their ``InMemoryRelation``, are not counted."""
    count, skip_below = 0, None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-|"))
        if skip_below is not None and indent > skip_below:
            continue
        skip_below = indent if "InMemoryRelation" in line else None
        count += len(_EXCHANGE.findall(line))
    return count


class Tracer:
    """Wraps the CLI's layer calls and aggregates Spark's status store."""

    def __init__(self, work: Path, cpus: int):
        self.work = work
        self.cpus = cpus
        self._patched: list[tuple[object, str, object]] = []
        self.calls: list[dict] = []          # one record per wrapped call
        self.groups: dict[str, dict] = {}    # group id -> aggregated metrics
        self.stage_walls: dict[str, float] = {}
        self.stage_cpu: dict[str, float] = {}
        self._stage = "setup"
        self._open: dict | None = None       # the call owning the group
        self._sql_mark = -1
        self.scans = 0

    # -- installing -------------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, attr, kind in _TARGETS:
            module = importlib.import_module(mod_name)
            orig = getattr(module, attr)
            self._patched.append((module, attr, orig))
            setattr(module, attr, self._wrapper(attr, kind, orig))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def _wrapper(self, name: str, kind: str, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            rec = {"layer": name, "stage": self._stage}
            if name == "read_pbf":      # read_pbf(spark, path, entity)
                rec["entity"] = (args[2] if len(args) > 2
                                 else kwargs.get("entity", "nodes"))
            if kind == "grouped":
                self._switch(rec)
            start = time.perf_counter()
            out = orig(*args, **kwargs)
            rec["build_s"] = time.perf_counter() - start
            rec["end_ms"] = time.time() * 1000
            if name == "blob_index":
                rec["blobs"] = sum(1 for b in out if b[0] == "OSMData")
            if isinstance(out, dict):
                rec["tables"] = len(out)
            if kind != "timed":
                rec["df"] = out
            if name in ("merged_network", "directed_network"):
                rec["exchanges"] = _exchanges(
                    out._jdf.queryExecution().executedPlan().toString())
            self.calls.append(rec)
            return out
        return wrapper

    # -- job groups -------------------------------------------------------
    def _sc(self):
        from pyspark.sql import SparkSession
        return SparkSession.getActiveSession().sparkContext

    def _switch(self, rec: dict | None) -> None:
        """Close the open group's span and open ``rec``'s own group."""
        now = time.perf_counter()
        if self._open is not None:
            self._open["span_s"] = now - self._open["span_start"]
        self._open = rec
        if rec is None:
            return
        rec["group"] = f"{self._stage}:{rec['layer']}:{len(self.calls)}"
        rec["span_start"] = now
        self._sc().setJobGroup(rec["group"], rec["layer"])

    def stage_start(self, stage: str) -> None:
        self._stage = stage
        self._switch({"layer": "cli", "stage": stage})
        if stage == "ingest":
            self._sql_mark = self._last_execution_id()

    def stage_end(self, stage: str, wall: float, cpu: float) -> None:
        self._switch(None)
        self.stage_walls[stage] = wall
        self.stage_cpu[stage] = cpu
        self._collect()
        if stage == "ingest":
            self.scans = self._decode_scans()
            for i, rec in enumerate(self.calls):
                if rec["layer"] in ("read_pbf", "assemble_linestrings"):
                    self._force(rec, f"ingest:{rec['layer']}:{i}:eval")
            self._collect()
        for rec in self.calls:
            if rec["layer"] == "car_network" and "rows" not in rec:
                rec["rows"] = rec["df"].count()   # cached by the CLI
        for rec in self.calls:
            rec.pop("df", None)
        self._sc().setJobGroup("perfbench", "perfbench")

    def _force(self, rec: dict, group: str) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        rec["group"] = group
        self._sc().setJobGroup(group, rec["layer"])
        obs = Observation(rec["group"])
        (rec["df"].observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
        rec["rows"] = obs.get["rows"]

    # -- the status store -------------------------------------------------
    def _json(self, seq) -> list[dict]:
        jvm = self._sc()._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        return json.loads(mapper.writeValueAsString(seq))

    def _collect(self) -> None:
        """Aggregate every finished job's stages into its group."""
        sc = self._sc()
        store = sc._jsc.sc().statusStore()
        jobs = self._json(store.jobsList(None))
        stages = self._json(store.stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
            None))
        owner: dict[int, dict] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in job["stageIds"]:
                owner.setdefault(sid, job)
        # jobs of finished stages may already be evicted from the store
        # (spark.ui.retainedJobs), so groups are merged, never replaced
        groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for job in jobs:
            g = groups[job.get("jobGroup") or ""]
            g["jobs"] += 1
            g["submitted_ms"] = g.get("submitted_ms", []) + [
                job.get("submissionTime") or 0]
        for st in stages:
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            job = owner.get(st["stageId"])
            if job is None:
                continue
            g = groups[job.get("jobGroup") or ""]
            g["tasks"] += st["numTasks"]
            g["exec_run_s"] += st["executorRunTime"] / 1e3
            g["exec_cpu_s"] += st["executorCpuTime"] / 1e9
            g["gc_s"] += st["jvmGcTime"] / 1e3
            g["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
            g["spill_mb"] += st["diskBytesSpilled"] / 1e6
            g.setdefault("stages", []).append(
                (st["executorRunTime"], st["stageId"], st["attemptId"]))
        self.groups.update({k: dict(v) for k, v in groups.items()})

    def _last_execution_id(self) -> int:
        ex = self._json(self._sql_store().executionsList())
        return max((e["executionId"] for e in ex), default=-1)

    def _sql_store(self):
        from pyspark.sql import SparkSession
        return (SparkSession.getActiveSession()._jsparkSession
                .sharedState().statusStore())

    def _decode_scans(self) -> int:
        """PBF decodes of node or way blobs in the stage's final plans:
        one per ``MapInPandas`` over a nodes, ways or way_nodes output."""
        scans = 0
        for ex in self._json(self._sql_store().executionsList()):
            if ex["executionId"] <= self._sql_mark:
                continue
            plan = ex.get("physicalPlanDescription") or ""
            tree = plan.split("== Initial Plan ==")[0]
            for node, out in _DECODE_OUT.findall(plan):
                if re.search(r"\b(lon|linestring|sequence_id)#", out):
                    scans += len(re.findall(
                        rf"MapInPandas \({node}\)", tree))
        return scans

    def _task_skew(self, group: str) -> float | None:
        """max / median task run time in the group's busiest stage."""
        stages = self.groups.get(group, {}).get("stages")
        if not stages:
            return None
        _, sid, attempt = max(stages)
        tasks = self._json(self._sc()._jsc.sc().statusStore()
                           .taskList(sid, attempt, 100000))
        runs = [t["taskMetrics"]["executorRunTime"] for t in tasks
                if t.get("taskMetrics")]
        if len(runs) < 2 or statistics.median(runs) <= 0:
            return None
        return max(runs) / statistics.median(runs)

    # -- the per-layer record ---------------------------------------------
    def metrics(self, shape: dict) -> dict[str, tuple[float, str]]:
        by_layer: dict[str, list[dict]] = defaultdict(list)
        for rec in self.calls:
            by_layer[rec["layer"]].append(rec)

        def g(rec: dict, field: str) -> float:
            return self.groups.get(rec.get("group", ""), {}).get(field, 0.0)

        def total(layer: str, field: str) -> float:
            return sum(g(r, field) for r in by_layer[layer])

        def build_s(layer: str) -> float:
            return sum(r["build_s"] for r in by_layer[layer])

        def build_jobs(rec: dict) -> int:
            sub = self.groups.get(rec["group"], {}).get("submitted_ms", [])
            return sum(1 for t in sub if t <= rec["end_ms"])

        out: dict[str, float] = {
            "session.get_spark.wall_s": by_layer["get_spark"][0]["build_s"],
            "write_pbf.wall_s": statistics.median(
                r["build_s"] for r in by_layer["write_pbf"]),
            "blob_index.wall_s": sum(r["build_s"] for r in
                                     by_layer["blob_index"]
                                     if r["stage"] == "ingest"),
            "blobs": by_layer["blob_index"][-1]["blobs"],
            "scans_per_entity": self.scans / 2,
            "tags_summary_catalog.build_s": build_s("tags_summary_catalog"),
            "tags_summary_catalog.tables": sum(
                r["tables"] for r in by_layer["tags_summary_catalog"]),
            "tags_summary_catalog.shuffle_write_mb":
                total("tags_summary_catalog", "shuffle_write_mb"),
            "impute_speed_limit.build_s": build_s("impute_speed_limit"),
            "impute_speed_limit.build_jobs": sum(
                build_jobs(r) for r in by_layer["impute_speed_limit"]),
            "merged_network.build_s": build_s("merged_network"),
            "merged_network.build_jobs": sum(
                build_jobs(r) for r in by_layer["merged_network"]),
            "merged_network.exchanges": sum(
                r["exchanges"] for r in by_layer["merged_network"]),
            "merged_network.shuffle_write_mb":
                total("merged_network", "shuffle_write_mb"),
            "merged_network.exec_run_s": total("merged_network",
                                               "exec_run_s"),
            "directed_network.exchanges": sum(
                r["exchanges"] for r in by_layer["directed_network"]),
            "trace.chain_s": sum(self.stage_walls.values()),
        }
        for e in _ENTITIES:
            recs = [r for r in by_layer["read_pbf"] if r["entity"] == e]
            out[f"read_pbf.{e}.exec_run_s"] = sum(
                g(r, "exec_run_s") for r in recs)
            out[f"read_pbf.{e}.rows_out"] = sum(r["rows"] for r in recs)
        skews = [self._task_skew(r["group"]) for r in by_layer["read_pbf"]]
        out["read_pbf.task_skew"] = max((s for s in skews if s),
                                        default=1.0)
        out["assemble_linestrings.exec_run_s"] = total(
            "assemble_linestrings", "exec_run_s")
        out["assemble_linestrings.shuffle_write_mb"] = total(
            "assemble_linestrings", "shuffle_write_mb")
        out["car_network.rows_out"] = sum(r["rows"] for r in
                                          by_layer["car_network"])
        out["merged_network.rows_out"] = self._rows("merged")
        out["merged_network.segments_per_way"] = (
            out["merged_network.rows_out"]
            / max(1, out["car_network.rows_out"]))
        out["directed_network.rows_out"] = self._rows("directed")
        for algo in _ALGOS:
            recs = by_layer[algo]
            out[f"{algo}.wall_s"] = sum(r.get("span_s", 0.0) for r in recs)
            out[f"{algo}.jobs"] = total(algo, "jobs")
            out[f"{algo}.shuffle_write_mb"] = total(algo,
                                                    "shuffle_write_mb")
        for stage in _STAGES:
            agg: dict[str, float] = defaultdict(float)
            for name, grp in self.groups.items():
                if name.startswith(f"{stage}:") and not name.endswith(
                        ":eval"):
                    for f in _CLI_FIELDS:
                        agg[f] += grp.get(f, 0.0)
            wall = self.stage_walls.get(stage, 0.0)
            agg["idle_frac"] = 1 - agg["exec_run_s"] / max(
                1e-9, wall * self.cpus)
            for f in _CLI_FIELDS:
                out[f"cli.{stage}.{f}"] = agg[f]
            out[f"cli.{stage}.wall_s"] = wall
            out[f"cli.{stage}.tree_cpu_s"] = self.stage_cpu.get(stage, 0.0)
        for key in ("nodes", "ways", "refs_per_way", "shared_node_share",
                    "pbf_mb"):
            out[f"shape.{key}"] = shape[key]
        return {k: (float(v), LAYER_UNITS[k]) for k, v in out.items()}

    def _rows(self, table: str) -> int:
        """Rows the network stage wrote to ``table``."""
        import pyarrow.parquet as pq
        path = self.work / "car" / f"{table}.parquet"
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in path.glob("*.parquet"))
