"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Prints a human-readable report
and, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``).  Everything the
run writes goes under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_cassandra_plugin_spark"
HARD_LIMIT_S = 170.0

END_TO_END = ("setup_s", "wall_s", "peak_rss_mb")
PER_LAYER = (
    "session.start_s", "session.ready_s", "build_s", "exec_s",
    "spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_mb", "spark.spill_mb", "spark.failed_tasks",
    "spark.parallelism", "spark.retained_storage_mb", "trace.wall_s",
)
# Metrics reported by name beside the JSON line: (workload, source).
NAMED = {
    "notify_p50_s": ("stream_notify", "wall_s"),
    "notify_p95_s": ("stream_notify", "notify_p95_s"),
    "curate_batch_p50_s": ("stream_curate", None),
    "curate_rows_per_s": ("stream_curate", None),
}


def cpu_count() -> int:
    """Spark task threads: ``SPARK_GRAFT_CPUS``, else half the CPUs this
    process may use, so that the Python workers, the driver, JIT and GC
    threads beside the tasks still find a free CPU (see README.md)."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env:
        return max(1, int(env))
    return max(1, len(os.sched_getaffinity(0)) // 2)


def prepare(workload: str) -> str:
    """Fresh work directory for this workload, and the environment that
    keeps Spark, its Python workers and temp files inside the checkout.
    ``workload`` must already be a known workload name."""
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.realpath(os.path.join(base, workload))
    if os.path.dirname(work) != os.path.realpath(base):
        raise ValueError(f"work directory {work} is not under {base}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package by module path; they inherit this.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return work


def report(workload: str, seed: int, res, trace: bool) -> None:
    out = sys.stdout
    out.write(f"workload {workload} seed {seed} trace {int(trace)}\n")
    for note in res.notes:
        out.write(f"  note: {note}\n")
    for f in res.failures[:20]:
        out.write(f"  FAILED: {f}\n")
    frac = res.failed / res.attempted if res.attempted else 1.0
    out.write(f"  failed_frac {frac:.6f} ratio "
              f"({res.failed} of {res.attempted})\n")
    for name, (value, unit) in res.metrics.items():
        out.write(f"  {name} {value:.6f} {unit}\n")
    measured = {**res.metrics, **res.detail}
    for name, (applies, src) in NAMED.items():
        if src is None:
            out.write(f"  {name} n/a (no {applies} workload; the traced "
                      "stream_notify run reports curate.*; see "
                      "perfbench/README.md)"
                      "\n")
        elif workload == applies and src in measured:
            value, unit = measured[src]
            out.write(f"  {name} {value:.6f} {unit}\n")
    if trace:
        for name, (value, unit) in sorted({**res.layers,
                                           **res.detail}.items()):
            out.write(f"  layer {name} {value:.6f} {unit}\n")
    out.flush()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found next to "
              f"{os.path.relpath(HERE, ROOT)}/; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = prepare(args.workload)

    def overrun():
        print(f"perfbench: run exceeded {HARD_LIMIT_S:.0f} s", file=sys.stderr)
        sys.stderr.flush()
        os._exit(3)

    guard = threading.Timer(HARD_LIMIT_S - (time.perf_counter() - T_PROCESS),
                            overrun)
    guard.daemon = True
    guard.start()

    ctx = Context(work=work, seed=args.seed,
                  seconds=args.seconds, trace=bool(args.trace),
                  cpus=cpu_count(), t_process=T_PROCESS)
    res = WORKLOADS[args.workload](ctx)
    res.notes.append(f"run took {time.perf_counter() - T_PROCESS:.1f} s")
    guard.cancel()
    report(args.workload, args.seed, res, ctx.trace)
    if ctx.trace:
        path = os.path.join(work, "spans.json")
        ctx.tracer.dump(path)
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
    if ctx.trace:
        print("  tracing overhead: compare trace.wall_s with the wall_s of "
              "an untraced run on the same seed (perfbench/README.md, "
              "Sizing)")
    wanted = PER_LAYER if ctx.trace else END_TO_END
    source = res.layers if ctx.trace else res.metrics
    missing = [m for m in wanted if m not in source]
    if missing:
        print(f"  FAILED: metrics not measured: {missing}")
    line = {
        "correct": res.failed == 0 and not missing,
        "attempted": max(res.attempted, 1),
        "failed": res.failed + len(missing),
        "metrics": {m: {"value": source[m][0], "unit": source[m][1]}
                    for m in wanted if m in source},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
