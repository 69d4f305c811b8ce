"""Benchmark of the TMDB engine: one workload per invocation.

    python3 perfbench/run.py --workload etl_tmdb --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(cached under ``perfbench/.work/inputs``), starts a Spark session on
``local[nproc]``, runs the workload's untimed warm-up passes (the first one's
output is checked), then timed passes until ``--seconds`` have passed. It prints a report and,
as the last line of standard output, one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, medians over the
timed passes: ``run_s``, ``setup_s`` (``get_spark`` plus the warm-ups),
``cpu_s`` (the whole process tree: driver, JVM, Python workers) and
``peak_rss_mb`` (process tree). With ``--trace 1`` the run makes one
untraced and one traced pass and reports the per-layer metrics of
``catalog.PER_LAYER``, including the tracing overhead; the spans go to
``perfbench/.work/traces``. The exit code is 1 when an operation raised
or failed its check, and 2 when the repository is not there.

Every timed pass is bracketed by host readings (load average and a fixed
calibration loop). A pass during which the host slowed or other load
arrived is stamped contaminated in the report and the record under
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
import traceback

import procstat
from catalog import END_TO_END, PER_LAYER, WORKLOADS
from tracing import StatusStore, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "the_movie_database_import_spark"
# The JVM heap is fixed and touched up front (-Xms = -Xmx, AlwaysPreTouch).
# A growable heap makes peak RSS a record of when G1 chose to expand, which
# moved the ETL's peak between 1.8 and 3.9 GB across runs of one input.
# get_spark's 12g default is far more than these inputs need.
DRIVER_MEM = "2g"
# a pass is contaminated when the calibration loop's time moved by more
# than this share, or the load average rose by more than the process
# tree's own mean parallelism explains
CALIB_TOLERANCE = 0.15


def calib_ms() -> float:
    """A fixed single-thread integer loop, timed: the host's effective
    single-core speed. The fastest of three tries, so that one preemption
    does not read as a slow host."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(500_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def host_state() -> dict:
    settle_s = procstat.wait_idle()
    return {"nproc": len(os.sched_getaffinity(0)), "settle_s": settle_s,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg": os.getloadavg(), "calib_ms": calib_ms()}


def contaminated(before: dict, after: dict, parallelism: float) -> bool:
    ratio = after["calib_ms"] / before["calib_ms"]
    load_rise = after["loadavg"][0] - before["loadavg"][0]
    return abs(ratio - 1) > CALIB_TOLERANCE or load_rise > parallelism


def configure_environment() -> None:
    """Size Spark to this host and keep every file it writes inside the
    checkout. Must run before pyspark starts the JVM."""
    for d in ("tmp", "spark-local", "results", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    driver_opts = f"{jvm_opts} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS=jvm_opts,  # the JVM spark-submit runs to build the command
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--driver-java-options", shlex.quote(driver_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "pyspark-shell",
        ]),
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    # configure_session ships the package as a zip it caches under /tmp;
    # build that zip inside the checkout instead (same contents)
    import zipfile

    from the_movie_database_import_spark import session

    def package_zip() -> str:
        path = os.path.join(WORK, "package.zip")
        with zipfile.ZipFile(path, "w") as zf:
            for d, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
                for f in files:
                    if f.endswith(".py"):
                        zf.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), ROOT))
        return path

    session._package_zip_path = package_zip


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def measure(args, wl_cls) -> dict:
    from the_movie_database_import_spark.session import get_spark

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tracer = Tracer(None, run_id)
    wl = wl_cls(WORK, args.seed, tracer)
    if args.trace:
        wl.install_tracing()
    failures: dict[str, list[str]] = {}
    attempted = 0

    def account(errors: dict[str, str]) -> None:
        nonlocal attempted
        attempted += len(wl.ops)
        for op, reason in errors.items():
            failures.setdefault(op, []).append(reason)

    spark = None
    try:
        wl.prepare()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        tracer.store = StatusStore(spark.sparkContext)
        errors = wl.run(spark, collect=True)
        setup_s = time.perf_counter() - t0
        account({**wl.check(), **errors})
        for _ in range(wl.warm_ups - 1):
            t = time.perf_counter()
            errors = wl.run(spark, collect=False)
            setup_s += time.perf_counter() - t
            account({**wl.check(), **errors})

        def timed_pass() -> dict:
            before = host_state()
            cpu0 = procstat.cpu_by_group()
            with procstat.RssSampler() as rss:
                t = time.perf_counter()
                errors = wl.run(spark, collect=False)
                run_s = time.perf_counter() - t
            cpu = procstat.cpu_delta(cpu0, procstat.cpu_by_group())
            account({**wl.check(), **errors})
            after = host_state()
            cpu_s = sum(cpu.values())
            return {"run_s": run_s, "cpu_s": cpu_s, "cpu_by_group": cpu,
                    "peak_rss_mb": rss.peak_bytes / (1 << 20),
                    "host_before": before, "host_after": after,
                    "contaminated": contaminated(before, after, cpu_s / run_s)}

        passes = []
        if args.trace:
            passes.append(timed_pass())
            tracer.active = True
            passes.append(timed_pass())
            extras = wl.trace_extras(spark)
            tracer.active = False
            traced = passes[-1]
            metrics = {
                "session.get_spark_s": get_spark_s,
                **wl.layer_metrics(), **extras,
                **{f"proc.{g}_cpu_s": traced["cpu_by_group"][g]
                   for g in ("jvm", "driver", "pyworker")},
                "trace.overhead_s": traced["run_s"] - passes[0]["run_s"],
            }
            metrics = {m: metrics.get(m, 0) for m in PER_LAYER}
            units = {m: spec[0] for m, spec in PER_LAYER.items()}
            tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))
        else:
            deadline = time.perf_counter() + args.seconds
            while not passes or time.perf_counter() < deadline:
                passes.append(timed_pass())
            metrics = {m: statistics.median(p[m] for p in passes)
                       for m in ("run_s", "cpu_s", "peak_rss_mb")}
            metrics["setup_s"] = setup_s
            metrics = {m: metrics[m] for m in END_TO_END}
            units = {m: spec[0] for m, spec in END_TO_END.items()}
    finally:
        stop_spark(spark)

    return {"run_id": run_id, "attempted": attempted, "failures": failures,
            "failed": sum(len(reasons) for reasons in failures.values()),
            "passes": passes, "setup_s": setup_s, "metrics": metrics, "units": units,
            "self_s": tracer.self_times() if args.trace else {}}


def report(args, rec: dict) -> None:
    failed = rec["failed"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"passes {len(rec['passes'])}")
    for i, p in enumerate(rec["passes"]):
        b, a = p["host_before"], p["host_after"]
        print(f"  pass {i}: run_s {p['run_s']:.3f}  nproc {b['nproc']}  "
              f"SPARK_GRAFT_CPUS {b['SPARK_GRAFT_CPUS']}  load {b['loadavg'][0]:.2f}->"
              f"{a['loadavg'][0]:.2f}  calib_ms {b['calib_ms']:.1f}->{a['calib_ms']:.1f}"
              f"{'  CONTAMINATED' if p['contaminated'] else ''}")
    for name, value in rec["metrics"].items():
        unit = rec["units"][name]
        moves = ""
        if name in PER_LAYER:
            moves = f"  (moves {'/'.join(PER_LAYER[name][2])} on {'/'.join(PER_LAYER[name][3])})"
        print(f"  {name:48s} {value:>14.6g} {unit}{moves}")
    for name, s in sorted(rec["self_s"].items(), key=lambda kv: -kv[1])[:15]:
        print(f"  self time {name:38s} {s:>10.4f} s")
    print(f"  failed_frac {failed / rec['attempted']:.6g} ({failed} of {rec['attempted']} "
          "operations raised or failed their check)")
    for op, reasons in rec["failures"].items():
        print(f"  FAILED {op}: {reasons[0][:500]}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(os.path.join(ROOT, "tools")):
        print(f"{ROOT} is not a checkout of the {PACKAGE} repository", file=sys.stderr)
        return 2
    configure_environment()
    from workloads import WORKLOADS as CLASSES

    try:
        rec = measure(args, CLASSES[args.workload])
    except Exception:  # the run cannot produce a result; say why and fail
        traceback.print_exc()
        return 1
    report(args, rec)
    with open(os.path.join(WORK, "results", f"{rec['run_id']}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    failed = rec["failed"]
    print(json.dumps({
        "correct": failed == 0, "attempted": rec["attempted"], "failed": failed,
        "metrics": {m: {"value": v, "unit": rec["units"][m]} for m, v in rec["metrics"].items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
