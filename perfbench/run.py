"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload search_read --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout. It generates the workload's inputs from
``--seed``, sets the engine up, drives a closed loop with one client thread
for ``--seconds``, checks every answer, and prints as its last stdout line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the spans are written to ``.bench_traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("search_read", "mixed_read_write")


def configure_environment(work: Path) -> None:
    """Own the measurement environment: all local cores, a driver heap
    sized to the machine, Spark's scratch space and temp files inside the
    checkout, no console progress bar, and the repository importable in
    Spark's Python workers. Must run before pyspark starts its JVM."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(8, int(mem_gb // 4)))}g"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={work / 'spark-local'}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"),
        "pyspark-shell"])
    tempfile.tempdir = None          # re-read TMPDIR
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark():
    from cassandra_es_index_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait()


def run_workload(name: str, ctx) -> "object":
    import importlib

    return importlib.import_module(name).run(ctx)


def select_metrics(spec: dict, metrics: dict[str, float],
                   traced: bool) -> dict[str, dict]:
    """The declared metrics of this mode, with their units. A layer the
    workload does not exercise did no work: its per-layer metrics are 0.
    A missing end-to-end metric is a benchmark bug."""
    declared = spec["per_layer" if traced else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing and not traced:
        raise KeyError(f"workload did not report {missing}")
    return {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
            for m in declared}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "cassandra_es_index_spark" / "__init__.py").is_file():
        print(f"perfbench: no cassandra_es_index_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    configure_environment(work)
    from common import Context
    from spans import Tracer

    try:
        t0 = time.perf_counter()
        spark = start_spark()
        spark_s = time.perf_counter() - t0
        try:
            ctx = Context(spark, args.seed, args.seconds,
                          Tracer(spark, bool(args.trace)), work)
            result = run_workload(args.workload, ctx)
            result.metrics["setup.spark_s"] = spark_s
            if args.trace:
                for m in spec["end_to_end"]:
                    result.metrics["traced." + m["name"]] = (
                        result.metrics[m["name"]])
                out = ROOT / ".bench_traces"
                out.mkdir(exist_ok=True)
                ctx.tracer.write(str(
                    out / f"{args.workload}-seed{args.seed}.jsonl"))
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": select_metrics(spec, result.metrics, bool(args.trace)),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
