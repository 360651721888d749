"""Self-tests of the benchmark itself (not part of a timed run).

    python3 lakebench/selftest.py plans   # materialization guard
    python3 lakebench/selftest.py seeds   # seed determinism
    python3 lakebench/selftest.py oracle  # LSH oracle == registry oracle

``plans``: every timed query/operator is run the way the benchmark times
it (fingerprint + ``noop`` sink) on inputs of the size it is timed at.
Its executed plan must keep every join, aggregate, window, generate and
Python-eval node of the full plan; the fingerprint reads every output
column, so projection work is kept too. The same plans under
``df.groupBy().count()`` are listed with the ROADMAP Open item 1 rows,
to show what ``.count()`` would strip: node kinds, and plan length as
a proxy for projection work.

``seeds``: the same seed gives byte-identical inputs, a different seed
gives different inputs of the same size, and two traced runs of one
seed give identical deterministic counts.

``oracle``: the shingle self-join LSH oracle (check.LSH_PAIRS_ORACLE)
returns exactly the registry oracle's rows on a small corpus.

Each prints one line per item and exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
WORK = os.path.join(ROOT, ".lakebench_work", f"selftest-{os.getpid()}")

KINDS = {
    "join": r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct",
    "aggregate": r"HashAggregate|ObjectHashAggregate|SortAggregate",
    "window": r"\bWindow\b|WindowGroupLimit",
    "generate": r"\bGenerate\b",
    "python": r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|InPandas|PythonUDTF",
}

#: ROADMAP Open item 1: rows whose operator a `.count()` timing drops
ROADMAP_COUNT_ROWS = [
    "f_spatial_point", "f_spatial_measures", "f_spatial_relations", "f_spatial_overlay",
    "f_geojson_scan", "txt_stats", "txt_gopher_quality", "dd_decontaminate",
    "w_running_agg", "d_count_distinct", "dsq88_case_counts", "ds_chunk_documents",
]


def node_kinds(plan: str) -> dict[str, int]:
    """Operator counts by kind in a physical plan's tree. For an AQE
    plan only the final plan counts; detail sections of the formatted
    explain (lines starting with '(n)') are skipped."""
    plan = plan.split("== Initial Plan ==")[0]
    lines = [ln for ln in plan.splitlines() if not ln.lstrip().startswith("(")]
    return {k: sum(len(re.findall(rx, ln)) for ln in lines) for k, rx in KINDS.items()}


def _spark():
    sys.argv = sys.argv[:1]
    import run

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    return run, run._start_spark(WORK)


def plans() -> int:
    import check
    import gen
    import workloads
    from pg_lake_spark.queries import QUERIES

    run, spark = _spark()
    failures = 0
    try:
        data = os.path.join(WORK, "data")
        gen.generate(data, 1, sf=workloads.OLAP_SF, n_docs=workloads.PIPELINE_DOCS)
        store = spark._jsparkSession.sharedState().statusStore()
        conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        timed = workloads.OLAP_QUERIES + list(workloads.PIPELINE_OPS)
        names = timed + [n for n in ROADMAP_COUNT_ROWS if n not in timed]
        print(f"{'row':28} {'timed':5} {'full plan':32} {'noop kept':10} {'count() plan chars':18} count() strips")
        for name in names:
            df = QUERIES[name].fn(spark, data)
            full_plan = df._jdf.queryExecution().executedPlan().toString()
            count_plan = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
            full, counted = node_kinds(full_plan), node_kinds(count_plan)
            obs_df, _ = check.observed(df)
            obs_df.write.format("noop").mode("overwrite").save()
            last = max(conv.asJava(store.executionsList()), key=lambda e: e.executionId())
            noop = node_kinds(last.physicalPlanDescription())
            lost = [k for k in KINDS if noop[k] < full[k]]
            stripped = [f"{k} {full[k]}->{counted[k]}" for k in KINDS if counted[k] < full[k]]
            is_timed = name in timed
            if lost and is_timed:
                failures += 1
            shown = " ".join(f"{k}={v}" for k, v in full.items() if v)
            chars = f"{len(count_plan)}/{len(full_plan)}"
            print(
                f"{name:28} {'yes' if is_timed else 'no':5} {shown:32} "
                f"{'LOST ' + ','.join(lost) if lost else 'all':10} {chars:18} {', '.join(stripped) or '-'}"
            )
    finally:
        run._stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print("plans: " + ("OK" if not failures else f"{failures} timed rows lose operators under noop"))
    return 1 if failures else 0


def oracle() -> int:
    import duckdb

    import check
    import gen
    from pg_lake_spark.queries import QUERIES
    from pg_lake_spark.session import TABLES

    data = os.path.join(WORK, "data")
    try:
        gen.generate(data, 7, sf=0.001, n_docs=300)
        con = duckdb.connect()
        check.register_duckdb(con, data, TABLES)
        ours = con.sql(check.LSH_PAIRS_ORACLE).df()
        ok = True
        for name in ("dd_lsh_candidates", "st_stream_lsh_neardup"):
            why = check.frames_equal(ours, con.sql(QUERIES[name].oracle).df())
            print(f"{name}: {'OK' if why is None else why} ({len(ours)} pairs)")
            ok = ok and why is None
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0 if ok else 1


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def seeds() -> int:
    import pyarrow.parquet as pq

    import workloads

    failures = 0

    class _Ctx:
        def __init__(self, seed):
            self.seed, self.work = seed, WORK

    try:
        for name, cls in workloads.WORKLOADS.items():
            trees = {}
            for tag, seed in (("a", 11), ("b", 11), ("c", 12)):
                d = os.path.join(WORK, name + tag)
                cls(_Ctx(seed)).generate(d)
                trees[tag] = _tree_bytes(d)
            same = trees["a"] == trees["b"]
            differ = all(trees["a"][f] != trees["c"][f] for f in trees["a"] if "region" not in f and "nation" not in f)
            rows_same = all(
                pq.ParquetFile(os.path.join(WORK, name + "a", f)).metadata.num_rows
                == pq.ParquetFile(os.path.join(WORK, name + "c", f)).metadata.num_rows
                for f in trees["a"]
            )
            ok = same and differ and rows_same and trees["a"].keys() == trees["c"].keys()
            failures += not ok
            print(f"inputs {name}: same seed identical={same}, other seed differs={differ}, same rows={rows_same}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    keys = ("spark.jobs", "plans.exchanges", "lakehouse.snapshots", "lakehouse.files_live")
    for name in workloads.WORKLOADS:
        seen = []
        for _ in range(2):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", "11", "--seconds", "1", "--trace", "1"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            ).stdout.splitlines()
            layers = json.loads(next(ln for ln in out if ln.startswith("layers "))[7:])
            result = json.loads(out[-1])
            seen.append({"fail_frac": result["failed"] / result["attempted"],
                         **{k: layers.get(k, 0.0) for k in keys}})
        ok = seen[0] == seen[1]
        failures += not ok
        print(f"counts {name}: {'identical' if ok else 'DIFFER'} {seen[0]}" + ("" if ok else f" vs {seen[1]}"))
    print("seeds: " + ("OK" if not failures else f"{failures} failures"))
    return 1 if failures else 0


if __name__ == "__main__":
    what = sys.argv[1] if len(sys.argv) > 1 else ""
    if what not in ("plans", "seeds", "oracle"):
        raise SystemExit(__doc__)
    sys.exit({"plans": plans, "seeds": seeds, "oracle": oracle}[what]())
