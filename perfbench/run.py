#!/usr/bin/env python3
"""Benchmark of the engine: one workload per process.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout; the program is imported from there.
Workloads (see perfbench/workloads.py and BENCHMARK.json): ``batch``
and ``stream_table``.

Each run sets up a session (timed as ``setup_s``), measures for
``--seconds`` seconds, checks every output outside the timed region,
prints a table of metrics (name, value, unit, samples) and, as its last
stdout line, one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics. ``--trace 1`` turns on Spark's event log and span recording,
reports the per-layer metrics and writes the spans to
``.perfbench_out/``. The exit code is 0 only when every check passed.

The session runs at ``local[N]`` with N half the CPUs this process may
use (at least one). The other half is left to what runs beside the
task threads: the JVM's JIT compiler and GC threads, the driver and
Python threads, and the stream workload's reader thread. With one task
thread per CPU those compete with the tasks, and on a shared host the
timings then vary with the scheduler more than with the program.
``--cores`` overrides N; it exists for the single-threaded baseline
receipt in perfbench/receipts/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv):
    from workloads import WORKLOADS  # noqa: PLC0415 - after sys.path setup

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] instead of half the usable CPUs")
    return p.parse_args(argv)


def prepare_environment(work: str, trace: bool, cores: int) -> None:
    """Keep every file the program, Spark and the JVM write inside the
    checkout's work directory. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # span labels are thread-local Spark properties: each Python thread
    # must map to its own JVM thread
    os.environ["PYSPARK_PIN_THREAD"] = "true"
    # no hsperfdata files in the system temp dir, for the launcher JVM
    # and (below) the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def print_report(result, trace: bool, spec) -> None:
    """Human-readable table on stdout; the JSON line comes last."""
    metrics = result.per_layer if trace else result.end_to_end
    print(f"# workload={result.workload} trace={int(trace)}")
    for m in spec:
        name = m["name"]
        value = metrics[name]
        info = result.notes.get(name, "")
        print(f"  {name:<34} {value:>16.6g} {m['unit']:<8} {info}")
    for name, (value, unit, info) in result.derived.items():
        if name in metrics:
            continue
        print(f"  {name:<34} {value:>16.6g} {unit:<8} {info} (not gated)")
    print(f"  {'error_rate':<34} {result.failed / result.attempted:>16.6g} "
          f"{'':<8} failed {result.failed} of {result.attempted} operations")
    for line in result.check_notes:
        print(f"  check: {line}")
    out = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in spec
        },
    }
    print(json.dumps(out), flush=True)


def main(argv=None) -> int:
    root = os.getcwd()
    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(root, "kafka_streams_sandbox_spark", "registry.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    args = parse_args(argv)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    cores = args.cores or max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work, bool(args.trace), cores)
    sys.path.insert(0, root)

    from harness import Harness  # noqa: PLC0415 - imports pyspark
    from workloads import WORKLOADS  # noqa: PLC0415

    h = Harness(root, work, seed=args.seed, seconds=args.seconds,
                trace=bool(args.trace), cores=cores, workload=args.workload)
    try:
        result = WORKLOADS[args.workload](h)
        h.finish(result)
    finally:
        h.close()
        shutil.rmtree(work, ignore_errors=True)
    spec = bench["per_layer" if args.trace else "end_to_end"]
    print_report(result, bool(args.trace), spec)
    if args.trace:
        print(f"# trace written to {h.trace_path}", file=sys.stderr)
    return 0 if result.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
