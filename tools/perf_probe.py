"""Per-query perf probe: times selected queries with the noop sink.

Usage: python tools/perf_probe.py [-n REPEATS] [query ...]

Unlike bench.py (driver contract, .count() action), this probe times
df.write.format("noop") — every column of every row computed, nothing
collected (optimization guide §1.4) — and reports median/min over N
repeats plus the job count, the Python worker CPU per run, and the
number of live ``pyspark.daemon`` worker pools after the row (process
figures from lakebench/measure.py's /proc readers). Pure diagnostic;
never feeds artifacts.
"""

import argparse
import os
import statistics
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "lakebench"))

import measure  # noqa: E402 — lakebench/ on the path above


def python_daemons() -> int:
    """Live ``pyspark.daemon`` pools: daemon processes whose parent is
    not itself a daemon (the workers a daemon forks share its argv)."""
    def is_daemon(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return b"pyspark.daemon" in f.read()
        except OSError:
            return False

    kids = measure._children_map()
    parent = {c: p for p, cs in kids.items() for c in cs}
    daemons = {pid for pid in measure.descendants(os.getpid(), kids) if is_daemon(pid)}
    return sum(1 for pid in daemons if parent.get(pid) not in daemons)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--count", action="store_true", help="time .count() like bench.py instead of the noop sink")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from pg_lake_spark.queries import QUERIES
    from pg_lake_spark.session import get_spark, warm_python_workers

    spark = get_spark(
        app_name="perf-probe",
        master=f"local[{args.cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        warm_python_workers(spark)
    except Exception:
        pass

    def run(df):
        if args.count:
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()

    for name in args.queries:
        if name not in QUERIES:
            print(f"skip {name}")
            continue
        fn = QUERIES[name].fn
        # warm once at sf0.001 (codegen) like bench.py
        try:
            sc.setJobDescription(f"warm {name}")
            run(fn(spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"{name}: warm failed {e}")
        samples = []
        cpu0 = measure.cpu_sample()
        jobs0 = sc._jsc.sc().dagScheduler().nextJobId()
        for i in range(args.n):
            sc.setJobDescription(f"{name} [{i}]")
            t0 = time.perf_counter()
            run(fn(spark, args.sf))
            samples.append(time.perf_counter() - t0)
        jobs1 = sc._jsc.sc().dagScheduler().nextJobId()
        py_cpu = (measure.cpu_sample() - cpu0).workers
        sc.setJobDescription(None)
        print(
            f"{name}: median {statistics.median(samples):.3f}s min {min(samples):.3f}s "
            f"max {max(samples):.3f}s jobs/run {(jobs1 - jobs0) / args.n:.1f} "
            f"py_cpu/run {py_cpu / args.n:.2f}s py_daemons {python_daemons()} "
            f"samples {[round(s, 3) for s in samples]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
