"""Benchmark entry point.

    python3 perfbench/run.py --workload <migrate|registry_floor|registry_heavy>
                             --seed N --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from ``--seed`` under
``.perfbench/`` (the migration tree, or the registry tables); Spark's
scratch space, the warehouse and the sinks' outputs live there too.  The
untimed passes (the cold one, then ``WARMUP`` warm-up passes) and
everything before them are set-up; then a fixed number of whole timed
passes (``PASSES``), more while ``--seconds`` have not elapsed.  The last
line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones, whose spans
and counters also go to ``.perfbench/trace/<workload>.json``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIGRATE_FILES = 1_000
# Spark's task threads per workload: fewer than the host's 4 vCPUs, so
# the JVM's compiler and GC threads and the Python workers do not queue
# behind them.  The pipelines' stages are small, so one task thread costs
# them nothing.
CPUS = {"migrate": 1, "registry_floor": 2, "registry_heavy": 2}
# untimed passes after the cold one.  The first warm pass is still 10-25 %
# slower than the ones after it; on the floor it is set-up, on migrate the
# median of three timed passes drops it, which keeps a run near a minute.
WARMUP = {"migrate": 0, "registry_floor": 1, "registry_heavy": 0}
# timed passes per run (more if --seconds has not elapsed): whole rounds
# of the same operations, as many as the run-time budget allows
PASSES = {"migrate": 3, "registry_floor": 4, "registry_heavy": 2}


def _environment(work: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout (the JVM's
    perf-data file would go to /tmp), and let the executors' Python
    workers import the package and the benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    import tempfile
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def _stop(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it (its
    stdin pipe closing is what the gateway server exits on)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["migrate", "registry_floor", "registry_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, CPUS[args.workload])

    # the program under test; without it there is nothing to measure
    from databox_adls_loader_spark.session import get_spark

    from perfbench import layers
    from perfbench.trace import NullTracer, Tracer

    if args.workload == "migrate":
        from perfbench.migrate import Migrate
        make = lambda spark, tr: Migrate(  # noqa: E731
            spark, work, args.seed, MIGRATE_FILES, tr)
    else:
        from perfbench import registry, tables
        names, sf = registry.WORKLOADS[args.workload]
        tables_dir = os.path.join(work, "tables")
        tables.generate(tables_dir, sf, args.seed)
        make = lambda spark, tr: registry.Registry(  # noqa: E731
            spark, tables_dir, names, tr)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = make(spark, tracer)
        passes, attempted, failed = [], 0, 0

        def one_pass(tag: str, timed: bool) -> dict:
            nonlocal attempted, failed
            with tracer.span("pass", timed=timed):
                times, f = wl.run_pass(tag)
            attempted += wl.n_ops
            failed += f
            return times

        # set-up: the cold pass (cold code paths, memoized fixtures),
        # then the warm-up passes
        for i in range(1 + WARMUP[args.workload]):
            one_pass(f"setup{i}", False)
        setup_s = time.perf_counter() - T_START
        jobs_before = tracer.total_jobs() if args.trace else 0
        t_timed = time.perf_counter()
        while len(passes) < PASSES[args.workload] or \
                time.perf_counter() - t_timed < args.seconds:
            passes.append(one_pass(str(len(passes)), True))
        if args.trace:
            tracer.timed_jobs = tracer.total_jobs() - jobs_before
            if args.workload == "migrate":
                layers.migrate_probes(wl, tracer)
        wl.check()
        # an operation is one registry query or one migrate pipeline
        op_times = {k: _median([p[k] for p in passes if k in p])
                    for k in passes[0]}
        e2e = {"setup_s": _metric(setup_s, "s"),
               "suite_s": _metric(
                   _median([sum(p.values()) for p in passes]), "s"),
               "op_p50_s": _metric(_median(list(op_times.values())), "s")}
        # reference figures, not metrics: the JVM's peak RSS moves by a
        # third between runs of one commit
        info = {"jvm_peak_rss_mb": _jvm_peak_rss_mb(spark), "passes": passes}
        print("info: " + json.dumps(info), file=sys.stderr)
        metrics = e2e
        if args.trace:
            metrics, counters = layers.per_layer(
                args.workload, wl, tracer, session_s)
            counters["end_to_end"] = {k: v["value"] for k, v in e2e.items()}
            counters["info"] = info
            trace_dir = os.path.join(base, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}.json"),
                        counters)
    finally:
        _stop(spark)
    for p in wl.errors:
        print(f"failed: {p}", file=sys.stderr)
    for p in wl.problems:
        print(f"incorrect: {p}", file=sys.stderr)
    print(json.dumps({"correct": not wl.problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
