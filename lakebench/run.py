"""Lakehouse benchmark: one workload, one seed, one run.

    python3 lakebench/run.py --workload olap|lake_dml|pipeline \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The seed picks only the generated inputs
(values, row order, DML key sets, batch contents, query order); engine
settings are fixed. The run starts Spark on ``local[min(4, nproc)]``,
generates its inputs under ``.lakebench_work/`` (three times, checking
that they are byte-identical), runs one checked warm-up pass at full
size, then runs round(S / nominal pass seconds) whole passes
closed-loop from one thread. With ``--trace 1`` it runs twice as many,
alternating untraced and traced passes, and reports per-layer figures
per traced pass plus the tracing overhead.

Lines before the last describe the run for people (every metric by
name and unit, run stamps); the last line is the JSON result.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: Engine settings, the same for every seed and workload.
CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
GEN_REPEATS = 3
#: Nominal seconds of one warm pass on the 4-vCPU machine the benchmark
#: was built on. A run makes round(--seconds / this) passes, so the pass
#: count, and with it the best-of-passes statistics, does not depend on
#: how fast the code under test is.
NOMINAL_PASS_S = {"olap": 6.0, "lake_dml": 6.0, "pipeline": 8.0}

#: per_layer metrics printed on the result line (BENCHMARK.json order)
RESULT_LAYER_METRICS = [
    ("session.start_s", "s"), ("session.warm_s", "s"), ("session.gen_s", "s"),
    ("plans.plan_s", "s"), ("plans.exchanges", "count"),
    ("plans.broadcast_joins", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_read_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.input_bytes", "B"), ("spark.input_rows", "count"),
    ("spark.driver_only_s", "s"), ("python.rows_out", "count"),
    ("python.bytes_sent", "B"), ("lakehouse.commits", "count"), ("lakehouse.prune_ratio", "ratio"),
    ("lakehouse.rewrite_amp", "ratio"), ("lakehouse.write_amp", "ratio"),
    ("lakehouse.files_live", "count"), ("lakehouse.snapshots", "count"),
    ("lakehouse.metadata_bytes", "B"),
    ("streaming.batches", "count"), ("streaming.state_rows", "count"),
    ("operators.pairs_out", "count"), ("proc.driver_cpu_s", "s"), ("proc.jvm_cpu_s", "s"),
    ("trace.overhead_frac", "ratio"),
]


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["olap", "lake_dml", "pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _start_spark(work: str):
    from pg_lake_spark.session import get_spark

    # both JVMs spark-submit starts (launcher and driver) keep their
    # temporary files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = get_spark(
        app_name="lakebench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed initial heap: peak RSS then follows the work, not
            # the JVM's heap-resizing decisions
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait for everything it forked."""
    from pyspark import SparkContext

    from measure import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    forked = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 15
    for pid in forked:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _install_layer_spans(tracer) -> None:
    """Traced runs: wrap the public entry points of the lakehouse layer
    and the broadcast gate with spans. Installed by the benchmark; the
    package itself is unchanged."""
    import functools

    from pg_lake_spark.lakehouse.table import LakeTable
    from pg_lake_spark.queries import relational, tpcds, tpcds_w5, tpch

    def wrap(fn, name):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return inner

    for m in ("append", "delete", "update", "merge", "materialize_deletes", "append_streaming_batch"):
        setattr(LakeTable, m, wrap(getattr(LakeTable, m), "lakehouse.commit"))
    LakeTable.refresh = wrap(LakeTable.refresh, "lakehouse.metadata_read")
    LakeTable.load = staticmethod(wrap(LakeTable.load, "lakehouse.metadata_read"))
    LakeTable.scan = wrap(LakeTable.scan, "lakehouse.scan_plan")
    for mod in (relational, tpcds, tpcds_w5, tpch):
        mod._bcast = wrap(mod._bcast, "plans.broadcast_gate")


class _Progress:
    """Streaming progress events (traced passes only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        self.recording = False
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, e):
                pass

            def onQueryProgress(self, e):
                if outer.recording:
                    events.append(json.loads(e.progress.json))

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                pass

        spark.streams.addListener(L())

    def metrics(self) -> dict[str, float]:
        ev = [e for e in self.events if e.get("numInputRows", 0) > 0 or e.get("stateOperators")]
        dur = [e["durationMs"].get("triggerExecution", 0) / 1e3 for e in ev]
        state = [op for e in ev for op in e.get("stateOperators", [])]
        return {
            "streaming.batches": float(len(ev)),
            "streaming.batch_p50_s": statistics.median(dur) if dur else 0.0,
            "streaming.batch_max_s": max(dur) if dur else 0.0,
            "streaming.add_batch_s": sum(e["durationMs"].get("addBatch", 0) for e in ev) / 1e3,
            "streaming.planning_s": sum(e["durationMs"].get("queryPlanning", 0) for e in ev) / 1e3,
            "streaming.wal_commit_s": sum(e["durationMs"].get("walCommit", 0) for e in ev) / 1e3,
            "streaming.state_rows": float(max((s.get("numRowsTotal", 0) for s in state), default=0)),
            "streaming.state_mem_bytes": float(max((s.get("memoryUsedBytes", 0) for s in state), default=0)),
            "streaming.state_commit_s": sum(s.get("commitTimeMs", 0) for s in state) / 1e3,
        }


def _summary(wl_name: str, e2e: dict, op_best: dict, kind_of: dict, samples) -> dict:
    """The workload-specific names of the end-to-end figures,
    plus the lookup latency of lake_dml and any tail percentile that has
    at least 10 samples beyond it."""
    from measure import pct, tail_pct

    names = {
        "olap": ("queries_per_s", "query", "query"),
        "lake_dml": ("rows_per_s", "commit", "commit"),
        "pipeline": ("docs_per_s", "operator", "operator"),
    }[wl_name]
    out = {names[0]: e2e["throughput_per_s"], f"{names[1]}_p50_s": e2e["op_p50_s"]}
    if wl_name == "lake_dml":
        lookups = [v for k, v in op_best.items() if kind_of[k] == "lookup"]
        out["query_p50_s"] = (statistics.median(lookups), "s")
    for prefix, kind in ((names[1], names[2]), ("query", "lookup")):
        xs = [s.seconds for s in samples if s.kind == kind]
        q = 90 if len(xs) >= 100 else tail_pct(len(xs))
        if xs and q > 50:
            out[f"{prefix}_p{q}_s"] = (pct(xs, q), f"s (n={len(xs)})")
    return out


def main() -> int:
    args = _parse()
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".lakebench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        try:
            import pg_lake_spark.session  # noqa: F401
            from pg_lake_spark.queries import QUERIES  # noqa: F401
        except ImportError as exc:
            print(f"lakebench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
            return 3
        return _run(args, work)
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _reap_children() -> None:
    """Stop whatever is left of this run's process tree, e.g. a JVM still
    starting when the run was terminated, and wait for it to end."""
    from measure import descendants

    def alive(pid: int) -> bool:
        try:
            os.waitpid(pid, os.WNOHANG)  # reap it if it is our own child
        except ChildProcessError:
            pass
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    left = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline and any(alive(p) for p in left):
            time.sleep(0.05)
        left = [p for p in left if alive(p)]
        if not left:
            return


def _run(args, work: str) -> int:
    import measure
    import workloads
    stamp0 = measure.host_stamp()
    t_setup = time.perf_counter()
    spark = _start_spark(work)
    start_s = time.perf_counter() - t_setup
    try:
        tracer = measure.Tracer(enabled=False)
        ctx = workloads.Ctx(spark=spark, work=work, seed=args.seed, tracer=tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        layer: dict[str, float] = {"session.start_s": start_s}
        fails: list[str] = []

        # inputs, generated GEN_REPEATS times: the median time counts, and
        # the copies must be byte-identical
        gen_times = []
        for i in range(GEN_REPEATS):
            d = os.path.join(work, "inputs" if i == 0 else f"inputs_rep{i}")
            t = time.perf_counter()
            wl.generate(d)
            gen_times.append(time.perf_counter() - t)
            if i:
                if not _same_tree(os.path.join(work, "inputs"), d):
                    fails.append("generated inputs differ between two runs of the same seed")
                shutil.rmtree(d, ignore_errors=True)
        wl.use_inputs(os.path.join(work, "inputs"))
        layer["session.gen_s"] = statistics.median(gen_times)

        wl.prepare()
        t = time.perf_counter()
        fails += wl.warm_up()
        now = time.perf_counter()
        layer["session.warm_s"] = now - t
        setup_s = start_s + layer["session.gen_s"] + (now - t)

        # timed phase: whole passes, closed loop, one client thread
        progress = None
        if args.trace:
            _install_layer_spans(tracer)
            ctx.stats = measure.SparkStats(spark)
            progress = _Progress(spark)
        passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        samples, pass_walls, pass_cpu = [], {False: [], True: []}, {False: [], True: []}
        steal0 = measure.steal_seconds()
        probes: list[float] = []
        for n_pass in range(passes * (2 if args.trace else 1)):
            traced = bool(args.trace) and n_pass % 2 == 1
            tracer.enabled = traced
            if traced:
                ctx.stats.python_nodes(record=False)
                progress.recording = True
            probes.append(measure.machine_probe())
            c0, p0 = measure.cpu_sample(), time.perf_counter()
            try:
                got = wl.run_pass()
            except Exception as exc:  # noqa: BLE001 — a failed pass is a failed operation
                got = [workloads.Sample("pass", "error", 0.0, False, f"{type(exc).__name__}: {exc}"[:300])]
            p1, c1 = time.perf_counter(), measure.cpu_sample()
            if traced:
                ctx.stats.python_nodes()
                progress.recording = False
            tracer.enabled = False
            try:
                got += wl.check_pass()
            except Exception as exc:  # noqa: BLE001
                got.append(workloads.Sample("check", "check", 0.0, False, f"{type(exc).__name__}: {exc}"[:300]))
            samples += [(s, traced) for s in got]
            pass_walls[traced].append(p1 - p0)
            pass_cpu[traced].append(c1 - c0)
        steal_s = measure.steal_seconds() - steal0
        peak = measure.peak_rss_mb()

        untraced = [s for s, tr in samples if not tr]
        op_kind = {"olap": "query", "lake_dml": "commit", "pipeline": "operator"}[args.workload]
        # per operation: its best pass, so passes caught by a burst of
        # host contention (hypervisor steal) do not move the run's figures
        per_op: dict[str, list[float]] = {}
        kind_of: dict[str, str] = {}
        for s in untraced:
            if s.kind != "check":
                per_op.setdefault(s.op, []).append(s.seconds)
                kind_of[s.op] = s.kind
        op_best = {k: min(v) for k, v in per_op.items()}
        op_lat = [v for k, v in op_best.items() if kind_of[k] == op_kind]
        if not op_lat:
            for f in all_failures(fails, samples):
                print(f"FAIL {f}")
            print("lakebench: no operation completed; no metrics to report", file=sys.stderr)
            return 1
        units = wl.units_per_pass()
        e2e = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (min(c.total for c in pass_cpu[False]), "s"),
            "peak_rss_mb": (peak, "MB"),
            "op_p50_s": (statistics.median(op_lat), "s"),
            "throughput_per_s": (units / sum(op_best.values()), "1/s"),
        }
        extra = _summary(args.workload, e2e, op_best, kind_of, untraced)
        if args.workload == "lake_dml":
            extra["space_amp"] = (wl.space_amp(), "ratio")

        all_samples = [s for s, _ in samples]
        failed = sum(1 for s in all_samples if not s.ok) + len(fails)
        attempted = len(all_samples) + len(fails)
        stamp1 = measure.host_stamp()
        stamps = {
            "seed": args.seed,
            "workload": args.workload,
            "nproc": stamp0["nproc"],
            "cores": CORES,
            "loadavg_1m_start": stamp0["loadavg_1m"],
            "loadavg_1m_end": stamp1["loadavg_1m"],
            "steal_s_timed": steal_s,
            "probe_s": statistics.median(probes),
            "passes": passes * (2 if args.trace else 1),
            "timed_wall_s": sum(pass_walls[False]) + sum(pass_walls[True]),
        }
        for f in all_failures(fails, samples):
            print(f"FAIL {f}")
        print("stamps " + json.dumps(stamps))
        for k, (v, u) in {**e2e, **extra, "fail_frac": (failed / attempted, "ratio")}.items():
            print(f"metric {k} = {v:.6g} {u}")
        for k, xs in per_op.items():
            print(f"op {k} best {op_best[k]:.4f} s median {statistics.median(xs):.4f} s (n={len(xs)})")

        if args.trace:
            layer.update(_layer_metrics(ctx, wl, tracer, pass_walls, pass_cpu, progress, steal_s))
            print("layers " + json.dumps({k: layer[k] for k in sorted(layer)}))
            metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in RESULT_LAYER_METRICS}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        _stop_spark(spark)


def all_failures(fails: list[str], samples) -> list[str]:
    return fails + [f"{s.op}: {s.note}" for s, _ in samples if not s.ok]


def _same_tree(a: str, b: str) -> bool:
    """Both directories hold the same files with the same bytes."""

    def files(d: str) -> list[str]:
        return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)

    fa = files(a)
    return fa == files(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa
    )


def _layer_metrics(ctx, wl, tracer, pass_walls, pass_cpu, progress, steal_s) -> dict[str, float]:
    """Per traced pass: span self times, Spark counters, process CPU."""
    import workloads

    n = len(pass_walls[True])
    per = lambda v: v / n  # noqa: E731
    selft, tot = tracer.self_times(), tracer.totals()
    out = {
        "queries.build_s": per(tot.get("queries.build", 0.0)),
        "plans.plan_s": per(tot.get("plans.plan", 0.0)),
        "plans.broadcast_gate_s": per(tot.get("plans.broadcast_gate", 0.0)),
        "ddl.self_s": per(selft.get("ddl.execute", 0.0)),
        "lakehouse.metadata_read_s": per(tot.get("lakehouse.metadata_read", 0.0)),
        "lakehouse.scan_plan_s": per(tot.get("lakehouse.scan_plan", 0.0)),
        "lakehouse.maintenance_s": per(tot.get("lakehouse.maintenance", 0.0)),
        "streaming.ingest_s": per(tot.get("streaming.ingest", 0.0)),
        "spark.execute_s": per(tot.get("spark.execute", 0.0)),
    }
    commits = [s for s in tracer.spans if s.name == "lakehouse.commit"
               and (s.parent is None or tracer.spans[s.parent].name != "lakehouse.commit")]
    commit_s = sum(s.end - s.start for s in commits)
    off = time.time() - time.perf_counter()
    covered = ctx.stats.covered([(s.start + off, s.end + off) for s in commits])
    out["lakehouse.commits"] = per(len(commits))
    out["lakehouse.commit_s"] = per(commit_s)
    out["lakehouse.commit_driver_s"] = per(max(0.0, commit_s - covered))
    for key in sorted(set(workloads.PIPELINE_OPS.values())):
        out[key] = per(tot.get(key, 0.0))
    for k, v in ctx.stats.totals.items():
        out[k] = per(v)
    c = ctx.counters
    for k in ("plans.exchanges", "plans.broadcast_joins", "operators.pairs_out",
              "lakehouse.files_live", "lakehouse.snapshots", "lakehouse.metadata_bytes"):
        out[k] = per(c.get(k, 0.0))
    considered = c.get("lakehouse.files_considered", 0.0)
    out["lakehouse.prune_ratio"] = c.get("lakehouse.files_skipped", 0.0) / considered if considered else 0.0
    out.update(wl.amplification(per(c.get("lakehouse.rows_physical", 0.0))))
    summed = ("streaming.batches", "streaming.add_batch_s", "streaming.planning_s",
              "streaming.wal_commit_s", "streaming.state_commit_s")
    out.update({k: (v / n if k in summed else v) for k, v in progress.metrics().items()})
    cpu_t = pass_cpu[True]
    out["proc.driver_cpu_s"] = statistics.mean(x.driver for x in cpu_t)
    out["proc.jvm_cpu_s"] = statistics.mean(x.jvm for x in cpu_t)
    out["python.worker_cpu_s"] = statistics.mean(x.workers for x in cpu_t)
    out["proc.steal_s"] = steal_s
    out["trace.overhead_frac"] = (
        statistics.mean(pass_walls[True]) / statistics.mean(pass_walls[False]) - 1.0
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
