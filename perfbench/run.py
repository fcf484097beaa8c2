"""Benchmark entry point.

    python3 perfbench/run.py --workload course_replay --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). The line
before it gives every metric by name and unit, the tail percentile with
its sample count, and ``failed_share``. Everything a run writes stays
under ``.perfbench/`` in the checkout; see README.md.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import time

T_START = time.perf_counter()  # setup_s counts from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
# One core is left to the Spark driver, the Python workers and the JVM's JIT and
# GC threads; local[4] on a 4-core VM oversubscribed it.
CORES = max(1, min(4, (os.cpu_count() or 1) - 1))
WORKLOADS = ("course_replay", "registry_mix")


def isolate(tmp: str) -> None:
    """Make the package importable here and in the Python workers (which
    otherwise find it only when the working directory is the checkout),
    and send every temp file into ``tmp``."""
    sys.path[:0] = [ROOT]
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    # every JVM, the spark-submit launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"


def remove_stale(out: str) -> None:
    """Remove the temp dirs left by earlier runs that were killed: those
    whose process no longer exists."""
    for d in glob.glob(os.path.join(out, "tmp-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def start_spark(tmp: str):
    from apache_flink_datastream_api_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "local"),
        })


def stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "apache_flink_datastream_api_spark")):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    remove_stale(OUT)
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    isolate(tmp)
    spark = None
    try:
        import course
        import registry_mix
        import spans
        import stats

        module = course if args.workload == "course_replay" else registry_mix
        passes = max(1, round(args.seconds / module.PASS_S))
        tracer = spans.Tracer(bool(args.trace))
        with tracer.span("session.get_spark", "session"):
            t0 = time.perf_counter()
            spark = start_spark(tmp)
            start_s = time.perf_counter() - t0
        r = module.run(spark, args.seed, passes, bool(args.trace), tmp, tracer,
                       lambda: time.perf_counter() - T_START)

        e2e = {"setup_s": stats.m(r["setup_s"], "s"),
               "throughput_per_s": stats.m(r["throughput_per_s"], "1/s")}
        lat, note = stats.latency(r["latency_ms"])
        e2e.update(lat)
        summary = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in e2e.items())
        ran = len(spans.pass_plan(bool(args.trace), passes))
        print(f"[perfbench] {args.workload} seed={args.seed} passes={ran}: {summary}; "
              f"{note}; failed_share={r['failed'] / r['attempted']:.4g} "
              f"({r['failed']} of {r['attempted']} operations)", flush=True)
        metrics = e2e
        if args.trace:
            metrics = dict(r["layers"])
            metrics["session.start_s"] = stats.m(start_s, "s")
            path = os.path.join(OUT, "spans", f"{args.workload}-seed{args.seed}.json")
            tracer.write(path)
            print(f"[perfbench] spans written to {os.path.relpath(path, ROOT)}")
        print(stats.result_line(r["attempted"], r["failed"], metrics), flush=True)
        return 0
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
