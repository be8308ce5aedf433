"""Benchmark runner: the paper's PBF -> edge-list CLI chain, end to end.

    python3 perfbench/run.py --workload chain-dense --seed 1 \
        --seconds 1 --trace 0

One run, a closed loop with one client (perfbench/README.md has the
detail):

1. set-up (``setup_s``): start the Spark session, then generate the
   workload's tables from ``--seed`` and encode their OSM world with
   ``write_pbf`` (perfbench/gen.py), ``SETUP_REPEATS`` times; the median
   generation is added to the session start-up time;
2. the chain ``ingest -> tags -> network --mode car -> analyze ->
   export``, each stage through the CLI's own ``main(argv)``, chains
   repeated until ``--seconds`` have passed (at least one). The cache is
   cleared after every stage, as a new CLI process starts with an empty
   one;
3. throughout 1 and 2, a probe process that samples the speed of a core,
   by which every reported time is scaled to reference seconds; every
   time also leaves out the share of the machine the hypervisor stole;
4. verification, outside the timed region (perfbench/verify.py);
5. a ``record`` JSON line, then the result line ``{"correct",
   "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
chain with perfbench/tracing.py wrapping the CLI's layer calls and reports
the per-layer metrics instead. Every stage is one operation: it fails when
it raises, when an earlier stage failed, or when one of its outputs
mismatches its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_DIR = Path(__file__).resolve().parent
WORKLOADS = {"chain-dense": "dense", "chain-sparse": "sparse"}
SETUP_REPEATS = 3

# The host's speed drifts by a quarter from one minute to the next, and
# the hypervisor takes whole seconds of the machine's CPUs at times. So
# every time is measured as wall time less the stolen share of the
# machine's CPU time (_Clock), and every reported time is multiplied by
# REF_PROBE_S / (the median CPU time of the probe's loop, sampled ten
# times a second in a process of its own through the whole run). The
# probe's CPU time tracks the speed of a core, not the load on it.
REF_PROBE_S = 0.004
_PROBE = """
import statistics, sys, threading, time
stop = threading.Event()
threading.Thread(target=lambda: (sys.stdin.read(), stop.set()),
                 daemon=True).start()
samples = []
while not stop.wait(0.1):
    start = time.thread_time()
    x = 0
    for i in range(20000):
        x = (x * 31 + i) % 1000003
    samples.append(time.thread_time() - start)
print(len(samples), statistics.median(samples) if samples else 0.0)
"""

# (stage metric, CLI argv) with {w} the run's work directory
CHAIN = (
    ("ingest", ["ingest", "{w}/extract.osm.pbf", "{w}/osm"]),
    ("tags", ["tags", "{w}/osm", "{w}/tags"]),
    ("network_car", ["network", "{w}/osm", "{w}/car", "--mode", "car"]),
    ("analyze", ["analyze", "{w}/car", "{w}/analysis",
                 "--algo", "components,communities"]),
    ("export", ["export", "{w}/car", "{w}/edges"]),
)


def _prepare_env(work: Path) -> int:
    """Pin the environment the program runs under; return the core count."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH_DIR))
    return cpus


def _environment(spark, cpus: int) -> dict:
    sc = spark.sparkContext
    env = {"master": sc.master,
           "default_parallelism": sc.defaultParallelism,
           "nproc": cpus,
           "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
           "spark_version": spark.version,
           "java_version": sc._jvm.System.getProperty("java.version")}
    if env["master"] != f"local[{cpus}]":
        raise SystemExit(f"applied master {env['master']!r} is not "
                         f"local[{cpus}]; refusing to measure")
    return env


def _build_inputs(shape: str, seed: int, work: Path) -> dict:
    """Generate the tables and encode their OSM world as the PBF."""
    from gen import generate, write_extract

    tables = work / "tables"
    shutil.rmtree(tables, ignore_errors=True)
    measured = generate(shape, seed, tables)
    path = work / "extract.osm.pbf"
    write_extract(tables, path)
    measured["pbf_mb"] = path.stat().st_size / 1e6
    return measured


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


class _Probe:
    """The _PROBE loop in a process of its own, from start to stop()."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen([sys.executable, "-c", _PROBE],
                                     stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)

    def stop(self) -> tuple[int, float]:
        """(samples taken, median CPU seconds of one loop)"""
        out = self.proc.communicate("", timeout=60)[0].split()
        return int(out[0]), float(out[1])

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


_TICK = os.sysconf("SC_CLK_TCK")


class _Clock:
    """Wall time less the stolen share, and CPU time of this process tree
    (driver Python, its JVM and the JVM's Python workers), since start."""

    def __init__(self, cpus: int, exclude: int = 0):
        self.cpus, self.exclude = cpus, exclude
        self.start = self._read()

    def _read(self) -> tuple[float, float, float]:
        with open("/proc/stat") as fh:
            steal = int(fh.readline().split()[8]) / _TICK
        return time.perf_counter(), steal, _tree_cpu_s(self.exclude)

    def since(self) -> dict[str, float]:
        (t0, s0, c0), (t1, s1, c1) = self.start, self._read()
        return {"wall": t1 - t0 - (s1 - s0) / self.cpus,
                "raw_wall": t1 - t0, "steal": s1 - s0, "cpu": c1 - c0}



def _tree_cpu_s(exclude: int) -> float:
    """CPU seconds used so far by this process and its descendants, and
    by the children they reaped, leaving out the tree under ``exclude``."""
    me = os.getpid()
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:         # the process has just exited
            continue
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(map(int, fields[11:15])) / _TICK
    total = 0.0
    for pid, used in cpu.items():
        q = pid
        while q not in (me, exclude, 0, 1):
            q = parent.get(q, 0)
        if q == me:
            total += used
    return total


def _shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_chain(work: Path, clock, tracer=None) -> tuple[dict, list[str]]:
    """One pass of the CLI chain. Returns each stage's ``_Clock.since``
    reading and the stages that failed or, after a failure, did not run."""
    from osm_pg_etl_spark.__main__ import main
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    times: dict[str, dict] = {}
    failed: list[str] = []
    for name, argv in CHAIN:
        args = [a.format(w=work) for a in argv]
        if tracer:
            tracer.stage_start(name)
        stage = clock()
        try:
            main(args)
        except Exception as exc:  # noqa: BLE001 - a failed stage is counted
            print(f"stage {name} failed: {exc!r}", file=sys.stderr)
            failed.append(name)
        times[name] = stage.since()
        if tracer:
            tracer.stage_end(name, times[name]["wall"], times[name]["cpu"])
        spark.catalog.clearCache()
        if failed:
            failed += [n for n, _ in CHAIN if n not in times]
            break
    return times, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test size: the workload's shape, ~1%% of "
                        "its inputs")
    args = p.parse_args(argv)

    if not (ROOT / "osm_pg_etl_spark" / "__main__.py").is_file():
        print(f"no osm_pg_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cpus = _prepare_env(work)
    try:
        return _run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()     # left in place while other runs use it
        except OSError:
            pass


def _run(args: argparse.Namespace, work: Path, cpus: int) -> int:
    from tracing import Tracer

    tracer = Tracer(work, cpus) if args.trace else None
    probe = _Probe()
    try:
        def clock() -> _Clock:
            return _Clock(cpus, exclude=probe.proc.pid)

        session = clock()
        if tracer:
            tracer.install()
        from osm_pg_etl_spark.session import get_spark
        spark = get_spark(app_name="perfbench")
        session_s = session.since()["wall"]
        try:
            return _measure(args, work, cpus, spark, session_s, tracer,
                            probe, clock)
        finally:
            _shutdown(spark)
    finally:
        probe.kill()


def _measure(args: argparse.Namespace, work: Path, cpus: int, spark,
             session_s: float, tracer, probe: _Probe, clock) -> int:
    import verify

    spark.sparkContext.setLogLevel("ERROR")
    env = _environment(spark, cpus)
    shape = WORKLOADS[args.workload] + ("-tiny" if args.tiny else "")

    gen_s = []
    for _ in range(SETUP_REPEATS):
        gen = clock()
        measured = _build_inputs(shape, args.seed, work)
        gen_s.append(gen.since()["wall"])
    setup_s = session_s + statistics.median(gen_s)

    chains: list[dict] = []
    failed: list[str] = []
    start = time.perf_counter()
    while True:
        times, failed = run_chain(work, clock, tracer if not chains else None)
        chains.append(times)
        if failed or time.perf_counter() - start >= args.seconds:
            break
    probe_samples, probe_s = probe.stop()
    scale = REF_PROBE_S / probe_s

    mismatches = [] if failed else verify.check(work)
    bad = set(failed) | {stage for stage, _ in mismatches}
    for stage, why in mismatches:
        print(f"verify {stage}: {why}", file=sys.stderr)

    record = {"workload": args.workload, "seed": args.seed,
              "environment": env, "shape": measured,
              "session_s": session_s, "generation_s": gen_s,
              "chains": chains, "probe_samples": probe_samples,
              "probe_s": probe_s, "time_scale": scale}
    if tracer:
        tracer.uninstall()
        metrics = tracer.metrics(measured)
        metrics["peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
    else:
        def med(stages, field: str) -> float:
            # a failed chain stops early: count the stages that ran
            return statistics.median(
                sum(c[s][field] for s in stages if s in c) for c in chains)

        stages = [name for name, _ in CHAIN]
        metrics = {"setup_s": (setup_s, "s"),
                   "chain_s": (med(stages, "wall"), "s"),
                   "chain_cpu_s": (med(stages, "cpu"), "s"),
                   "ingest_s": (med(["ingest"], "wall"), "s")}
    metrics = {k: (v * scale if u == "s" else v, u)
               for k, (v, u) in metrics.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not bad,
        "attempted": len(CHAIN) * len(chains),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
