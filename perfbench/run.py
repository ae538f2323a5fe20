"""Benchmark entry point.

    python3 perfbench/run.py --workload bfr_drift --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one client in a closed
loop: set up once (session, seeded inputs, warm-up action), then run
the workload's operations for ``--seconds`` and check every output.
The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``, by the names
and units ``BENCHMARK.json`` lists.

Everything the run writes (Spark warehouse, local dirs, temp dirs,
event log, generated inputs) lives in a fresh directory under
``perfbench/.runs/`` that is removed at exit; the repository's own
``spark-warehouse/`` is neither read nor written.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

# perfbench is imported as a package from the repository root
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench.workloads import WORKLOADS  # noqa: E402

PKG = "bfr_clustering_using_pyspark_spark"


def metric_units(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, from
    the ``BENCHMARK.json`` beside the program."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # corrupt one output on purpose (the benchmark's own tests)
    p.add_argument("--inject", choices=("drop_id", "flip_cluster", "corrupt_row"))
    # a smaller point stream for the smoke test
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def isolate(root: str, run: str, trace: bool) -> dict[str, str]:
    """Point every place the program or Spark writes at ``run``.
    Launch-time Spark conf goes through PYSPARK_SUBMIT_ARGS, which is
    read when the JVM starts."""
    dirs = {d: os.path.join(run, d) for d in
            ("tmp", "jtmp", "local", "scratch", "warehouse", "events", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_NO_PROGRESS"] = "1"
    # Python workers import the program and perfbench.gen from root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    conf = {"spark.sql.warehouse.dir": dirs["warehouse"]}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--driver-java-options={shlex.quote('-Djava.io.tmpdir=' + dirs['jtmp'])}"]
    args += [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return dirs


def stop_spark(spark) -> None:
    """Stop the session and the JVM pyspark launched, and wait for it
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def entries(*dirs: str) -> set[str]:
    return {os.path.join(d, e) for d in dirs for e in os.listdir(d)}


def scaled(wl, scale: float):
    """The workload with its point stream shrunk by ``scale`` (smoke
    test); the registry corpus is small already and keeps its size."""
    import dataclasses

    if scale == 1.0 or not dataclasses.is_dataclass(wl):
        return wl
    return dataclasses.replace(wl, n=int(wl.n * scale), rs_max=int(wl.rs_max * scale))


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = os.path.join(root, "perfbench", ".runs", f"{args.workload}-{os.getpid()}")
    dirs = isolate(root, run, bool(args.trace))
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, dirs, metric_units(root))
    finally:
        shutil.rmtree(run, ignore_errors=True)
        parent = os.path.dirname(run)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, dirs: dict[str, str], units: tuple[dict[str, str], dict[str, str]]) -> int:
    from bfr_clustering_using_pyspark_spark.session import get_spark
    from perfbench.trace import Tracer, median, read_event_logs, unit_layers
    from perfbench.workloads import log

    wl = scaled(WORKLOADS[args.workload], args.scale)
    tracer = Tracer(bool(args.trace))
    load_start = os.getloadavg()[0]

    spark = None
    try:
        # one set-up, from process start (imports, JVM launch) to the
        # first timed operation
        ts = time.time()
        spark = get_spark("perfbench")
        session_s = time.time() - ts
        ts = time.time()
        state = wl.stage(spark, args.seed, dirs)
        stage_s = time.time() - ts
        setup_s = time.time() - PROCESS_START
        log(f"set-up: {setup_s:.3f} s")
        env = {
            "master": spark.sparkContext.master,
            "cores": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory", "default"),
        }
        before = entries(dirs["tmp"], dirs["scratch"])
        out = wl.measure(spark, state, args.seconds, tracer, args.inject, dirs)
        residue = len(entries(dirs["tmp"], dirs["scratch"]) - before)
    finally:
        if spark is not None:
            stop_spark(spark)
            log("Spark stopped")
    env["load1_start"] = load_start
    env["load1_end"] = os.getloadavg()[0]

    end_to_end, per_layer = units
    if args.trace:
        jobs, stages = read_event_logs(dirs["events"])
        rollup = [unit_layers(u, tracer.spans, jobs, stages) for u in out.units]
        layers = {name: median(u[name] for u in rollup) for name in rollup[0]} if rollup else {}
        layers.update(out.layers)
        layers["session.start_s"] = session_s
        layers["input.stage_s"] = stage_s
        layers["residue.tmp_entries"] = residue
        for key, ops in out.key_ops.items():
            by_op = [unit_layers([op], tracer.spans, jobs, stages) for op in ops]
            layers[f"registry.{key}.driver_s"] = median(u["driver_s"] for u in by_op)
            layers[f"registry.{key}.jobs"] = median(u["spark.jobs"] for u in by_op)
        traced, plain = median(out.traced_unit_s), median(out.plain_unit_s)
        layers["trace.overhead_frac"] = (traced - plain) / plain if plain else 0.0
        report = {name: layers.get(name, 0.0) for name in per_layer}
        units_of = per_layer
    else:
        metrics = {"setup_s": setup_s, **out.metrics}
        report = {name: metrics[name] for name in end_to_end}
        units_of = end_to_end

    print(f"# {args.workload} seed={args.seed} " + " ".join(f"{k}={v}" for k, v in env.items()))
    for p in out.problems:
        print(f"# FAILED {p}")
    width = max(len(n) for n in report)
    for name, value in report.items():
        print(f"# {name:<{width}} {value:>16.6g} {units_of[name]}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": float(v), "unit": units_of[n]} for n, v in report.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
