"""The three workloads. Each runs closed-loop passes from one client
thread; a pass is one fixed, seeded list of operations, so every pass of
a run does the same work and per-pass figures compare across runs.

- ``olap``: registry queries over the seeded star schema.
- ``lake_dml``: a write lifecycle on a partitioned lake table, checked
  against a DuckDB replay of the same operation log.
- ``pipeline``: the data-prep operators over ``documents``/
  ``embeddings`` plus the spatial kernels.

An operation's latency covers building its DataFrame and running it to
the end into the ``noop`` sink (or, for writes, until the snapshot is
committed). Checks run after the clock stops.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
from measure import Tracer

#: 10 of the 22 TPC-H + 8 TPC-DS/ClickBench registry queries, one per
#: operator mix, so the warm-up pass and a timed pass both fit the
#: per-run time budget (README "Sizes").
OLAP_QUERIES = [
    "q1_pricing_summary",  # scan + wide aggregate
    "q3_shipping_priority",  # 3-way join + top-N
    "q5_local_supplier_volume",  # 6-way join
    "q9_product_profit",  # join + expression aggregate
    "q13_customer_distribution",  # outer join + two-level aggregate
    "q18_large_volume_customer",  # semi-join on an aggregate
    "q21_waiting_suppliers",  # exists / not-exists
    "dsq67_rollup_topk",  # rollup + window rank
    "dsq88_case_counts",  # conditional aggregation
    "cb_regex_extract_quantiles",  # regex + percentile
]

#: pipeline operation -> the per-layer metric its time is reported under.
#: SimHash pairs, decontamination and the polygon-point join are left out
#: of the timed pass for the per-run time budget (README "Sizes").
PIPELINE_OPS = {
    "dd_exact_hash_groups": "operators.exact_dedup_s",
    "dd_lsh_candidates": "operators.lsh_batch_s",
    "st_stream_lsh_neardup": "operators.lsh_stream_s",
    "dd_embedding_neardup": "operators.embed_neardup_s",
    "txt_gopher_quality": "operators.text_quality_s",
    "f_spatial_relations": "functions.spatial_s",
}
PAIR_OPS = ("dd_lsh_candidates", "st_stream_lsh_neardup", "dd_embedding_neardup")
LSH_OPS = ("dd_lsh_candidates", "st_stream_lsh_neardup")
#: 12 hashes in 4 bands of 3 miss a pair at Jaccard 0.9 with p ~ 0.004,
#: so on some seeds one of the ~40 true pairs is legitimately missed
LSH_MIN_RECALL = 0.9

OLAP_SF = 0.01
WARM_THREADS = 4
PIPELINE_DOCS = 1000
DML_ROUNDS = 1


@dataclass
class Sample:
    op: str
    kind: str  # query | commit | lookup | operator
    seconds: float
    ok: bool = True
    note: str = ""


@dataclass
class Ctx:
    spark: object
    work: str  # scratch root inside the checkout
    seed: int
    tracer: Tracer
    stats: object | None = None  # SparkStats in traced passes
    counters: dict = field(default_factory=dict)
    op_seq: int = 0

    def count(self, key: str, v: float = 1.0) -> None:
        if self.tracer.enabled:
            self.counters[key] = self.counters.get(key, 0.0) + v

    def begin_op(self, name: str) -> str:
        self.op_seq += 1
        group = f"op{self.op_seq}-{name}"
        if self.tracer.enabled:
            self.tracer.op = group
            self.spark.sparkContext.setJobGroup(group, name)
        return group

    def end_op(self, group: str, t0: float, t1: float) -> None:
        if self.tracer.enabled:
            off = time.time() - time.perf_counter()
            self.stats.op_done(group, t0 + off, t1 + off)


def _plan_counts(ctx: Ctx, df) -> None:
    """Traced passes: force physical planning before execution and count
    exchanges and broadcast joins in the plan."""
    with ctx.tracer.span("plans.plan"):
        plan = df._jdf.queryExecution().executedPlan().toString()
    ctx.count("plans.exchanges", sum(
        1 for ln in plan.splitlines() if "Exchange " in ln and "BroadcastExchange" not in ln
    ))
    ctx.count("plans.broadcast_joins", plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin"))


def run_registry_op(ctx: Ctx, name: str, data_dir: str, layer_span: str | None = None):
    """Build one registry query and run it into the noop sink. Returns
    (seconds, fingerprint)."""
    from pg_lake_spark.queries import QUERIES

    tr = ctx.tracer
    group = ctx.begin_op(name)
    t0 = time.perf_counter()
    with tr.span(layer_span or "op"):
        with tr.span("queries.build"):
            df = QUERIES[name].fn(ctx.spark, data_dir)
        obs_df, obs = check.observed(df)
        if tr.enabled:
            _plan_counts(ctx, obs_df)
        with tr.span("spark.execute"):
            obs_df.write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    ctx.end_op(group, t0, t1)
    return t1 - t0, check.fingerprint_of(obs)


# --------------------------------------------------------------------------
# olap and pipeline: registry queries with DuckDB oracles
# --------------------------------------------------------------------------


class RegistryWorkload:
    """Shared by olap and pipeline: a pass runs every op once in a seeded
    order; the warm-up pass collects each result and compares it row by
    row with the oracle; timed passes compare fingerprints."""

    name = ""
    kind = ""
    ops: list[str] = []

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.data = ""
        self.want: dict[str, check.Fingerprint] = {}
        self.rng = random.Random(ctx.seed)

    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def use_inputs(self, out_dir: str) -> None:
        self.data = out_dir

    def prepare(self) -> None:
        pass

    def oracle_sql(self, name: str) -> str:
        from pg_lake_spark.queries import QUERIES

        return QUERIES[name].oracle

    def warm_up(self) -> list[str]:
        """One full-size pass, checked row by row; returns failures. The
        ops run from ``WARM_THREADS`` threads so that JIT and codegen
        warm-up overlap (timed passes use one thread)."""
        from concurrent.futures import ThreadPoolExecutor

        from pg_lake_spark.queries import QUERIES
        from pg_lake_spark.session import TABLES

        def collect(name: str):
            sdf = QUERIES[name].fn(self.ctx.spark, self.data)
            return sdf.schema, sdf.toPandas()

        with ThreadPoolExecutor(WARM_THREADS) as pool:
            futures = {name: pool.submit(collect, name) for name in self.ops}
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        check.register_duckdb(con, self.data, TABLES)
        bad = []
        got_frames = {}
        for name, fut in futures.items():
            try:
                schema, got = fut.result()
                want = con.sql(self.oracle_sql(name)).df()
            except Exception as exc:  # noqa: BLE001 — a failed op is a failed check
                bad.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            why, self.want[name] = self.verify(name, got, want, schema)
            if why:
                bad.append(f"{name}: {why}")
            got_frames[name] = got
        if len(got_frames) == len(self.ops):
            bad.extend(self.extra_warm_checks(got_frames))
        con.close()
        return bad

    def verify(self, name: str, got, want, schema) -> tuple[str | None, check.Fingerprint]:
        """(why the warm-up result is wrong or None, the fingerprint every
        timed run of ``name`` must then match)."""
        fp = check.fingerprint_pandas(want, schema)
        why = check.frames_equal(got, want)
        if why is None and not check.fingerprints_match(check.fingerprint_pandas(got, schema), fp):
            why = "fingerprint of the collected result differs from the oracle's"
        return why, fp

    def extra_warm_checks(self, frames) -> list[str]:
        return []

    def pass_order(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def layer_span(self, name: str) -> str | None:
        return None

    def run_pass(self) -> list[Sample]:
        out = []
        fps = self.last_fps = {}
        for name in self.pass_order():
            secs, fp = run_registry_op(self.ctx, name, self.data, self.layer_span(name))
            ok = name in self.want and check.fingerprints_match(fp, self.want[name])
            fps[name] = fp
            out.append(Sample(name, self.kind, secs, ok, "" if ok else "fingerprint != oracle"))
            if name in PAIR_OPS:
                self.ctx.count("operators.pairs_out", fp["rows"])
        return out

    def check_pass(self) -> list[Sample]:
        """Checks of the pass as a whole, run after its clock stops."""
        return []

    def units_per_pass(self) -> float:
        return float(len(self.ops))

    def amplification(self, physical_rows: float) -> dict[str, float]:
        return {"lakehouse.write_amp": 0.0, "lakehouse.rewrite_amp": 0.0}


class Olap(RegistryWorkload):
    name = "olap"
    kind = "query"
    ops = OLAP_QUERIES

    def generate(self, out_dir: str) -> None:
        gen.generate(out_dir, self.ctx.seed, sf=OLAP_SF, n_docs=100)


class Pipeline(RegistryWorkload):
    name = "pipeline"
    kind = "operator"
    ops = list(PIPELINE_OPS)

    def generate(self, out_dir: str) -> None:
        gen.generate(out_dir, self.ctx.seed, sf=0.001, n_docs=PIPELINE_DOCS)

    def oracle_sql(self, name: str) -> str:
        return check.LSH_PAIRS_ORACLE if name in LSH_OPS else super().oracle_sql(name)

    def layer_span(self, name: str) -> str | None:
        return PIPELINE_OPS[name]

    def verify(self, name: str, got, want, schema) -> tuple[str | None, check.Fingerprint]:
        """MinHash-LSH is approximate: its pairs must be exact-answer pairs
        with exact Jaccard, and it must find at least LSH_MIN_RECALL of
        them. The hash functions are fixed, so every timed run must then
        return exactly the pairs checked here."""
        if name not in LSH_OPS:
            return super().verify(name, got, want, schema)
        return check.approximate_pairs(got, want, LSH_MIN_RECALL), check.fingerprint_pandas(got, schema)

    def extra_warm_checks(self, frames) -> list[str]:
        a, b = (frames[n] for n in LSH_OPS)
        why = check.frames_equal(a, b)
        return [] if why is None else [f"batch vs streaming LSH pairs differ: {why}"]

    def check_pass(self) -> list[Sample]:
        a, b = (self.last_fps[n] for n in LSH_OPS)
        if check.fingerprints_match(a, b):
            return []
        return [Sample("lsh_batch_vs_stream", "check", 0.0, False, "pair sets differ")]

    def units_per_pass(self) -> float:
        return float(PIPELINE_DOCS)


# --------------------------------------------------------------------------
# lake_dml: a write lifecycle replayed in DuckDB
# --------------------------------------------------------------------------

SALES_COLS = "id, k, part, qty, price, disc, flag, ship"


@dataclass
class DmlOp:
    name: str
    kind: str  # commit | lookup
    sql: str = ""  # statement for LakeSession.execute / DuckDB replay
    where: str = ""  # predicate for MoR delete and lookups
    file: str = ""  # input parquet for insert / merge / ingest
    logical_rows: int = 0  # rows the statement writes, as the user counts them


class LakeDml:
    """Per pass: CTAS a partitioned table from the base rows, then
    ``DML_ROUNDS`` rounds of INSERT, MERGE, MoR DELETE, UPDATE, CoW
    DELETE and one exactly-once ingest batch, with lookups in between;
    then compaction, snapshot expiry and VACUUM. Every pass works on a
    fresh table with the same operation log."""

    name = "lake_dml"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inputs = ""
        self.log: list[DmlOp] = []
        self.want: list[check.Fingerprint | None] = []
        self.want_final: check.Fingerprint | None = None
        self.want_frame = None
        self.n_pass = 0

    # -- inputs and the operation log ---------------------------------------
    def generate(self, out_dir: str) -> None:
        tables = os.path.join(out_dir, "tables")
        gen.generate(tables, self.ctx.seed, sf=OLAP_SF, n_docs=100)
        rng = random.Random(self.ctx.seed)
        li = pq.read_table(os.path.join(tables, "lineitem.parquet"))
        n = li.num_rows
        li = li.sort_by("l_orderkey").append_column("id", pa.array(range(n), pa.int64()))

        def rows(idx: list[int], first_id: int, overrides: dict | None = None) -> pa.Table:
            t = li.take(pa.array(idx))
            cols = {
                "id": pa.array(range(first_id, first_id + len(idx)), pa.int64()),
                "k": t["l_orderkey"],
                "part": t["l_partkey"],
                "qty": t["l_quantity"],
                "price": t["l_extendedprice"],
                "disc": t["l_discount"],
                "flag": t["l_returnflag"],
                "ship": t["l_shipdate"],
            }
            cols.update(overrides or {})
            return pa.table(cols)

        def save(name: str, table: pa.Table) -> str:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            return name

        save("base", rows(list(range(n)), 0))
        n_orders = int(1_500_000 * OLAP_SF)
        n_parts = int(200_000 * OLAP_SF)
        log = [DmlOp("create", "commit", logical_rows=n)]
        for r in range(DML_ROUNDS):
            nid = n + r * 10_000
            ins = rows(rng.sample(range(n), 2000), nid)
            upd_old = rng.sample(range(n), 500)
            upd = rows(upd_old + rng.sample(range(n), 500), 0)
            upd = upd.set_column(
                0, "id", pa.array(upd_old + list(range(nid + 2000, nid + 2500)), pa.int64())
            ).set_column(3, "qty", pa.array([float(rng.randint(1, 50)) for _ in range(1000)]))
            ing = rows(rng.sample(range(n), 1000), nid + 5000)
            k0, p0, p1 = rng.randrange(n_orders - 200), rng.randrange(n_parts - 40), rng.randrange(n_parts - 20)
            flag = rng.choice("ANR")
            log += [
                DmlOp("insert", "commit", f"INSERT INTO sales SELECT {SALES_COLS} FROM ins{r}",
                      file=save(f"ins{r}", ins), logical_rows=2000),
                DmlOp("lookup_key", "lookup", where=f"k >= {k0} AND k < {k0 + 150}"),
                DmlOp("merge", "commit",
                      f"MERGE INTO sales t USING upd{r} s ON t.id = s.id "
                      "WHEN MATCHED THEN UPDATE SET qty = s.qty, price = s.price "
                      "WHEN NOT MATCHED THEN INSERT *",
                      file=save(f"upd{r}", upd), logical_rows=1000),
                DmlOp("delete_mor", "commit", where=f"k >= {k0 + 50} AND k < {k0 + 200}"),
                DmlOp("lookup_part", "lookup", where=f"flag = '{flag}' AND part >= {p0} AND part < {p0 + 40}"),
                DmlOp("update", "commit", f"UPDATE sales SET disc = 0.0 WHERE part >= {p1} AND part < {p1 + 20}"),
                DmlOp("delete_cow", "commit", f"DELETE FROM sales WHERE flag = '{flag}' AND qty >= 49"),
                DmlOp("ingest", "commit", file=save(f"ingest{r}", ing), logical_rows=1000),
                DmlOp("lookup_key", "lookup", where=f"k >= {k0} AND k < {k0 + 300}"),
            ]
        log += [
            DmlOp("compact", "commit"),
            DmlOp("expire_snapshots", "commit"),
            DmlOp("vacuum", "commit", "VACUUM sales"),
            DmlOp("lookup_part", "lookup", where=f"part >= {p0} AND part < {p0 + 80}"),
        ]
        self.log = log

    def use_inputs(self, out_dir: str) -> None:
        self.inputs = out_dir
        self.base_file = self.path("base")

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, f"{name}.parquet")

    def prepare(self) -> None:
        self.replay()

    def replay(self) -> None:
        """The expected state after every operation, from DuckDB."""
        schema = self.schema = self.ctx.spark.read.parquet(self.base_file).schema
        con = duckdb.connect()
        con.execute(f"CREATE TABLE sales AS SELECT {SALES_COLS} FROM read_parquet('{self.base_file}')")
        self.changed_rows = 0
        for op in self.log:
            want = None
            if op.name in ("insert", "ingest"):
                con.execute(f"INSERT INTO sales SELECT {SALES_COLS} FROM read_parquet('{self.path(op.file)}')")
            elif op.name == "merge":
                con.execute(f"CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM read_parquet('{self.path(op.file)}')")
                self.changed_rows += con.execute(
                    "SELECT count(*) FROM sales WHERE id IN (SELECT id FROM src)"
                ).fetchone()[0]
                con.execute(
                    "CREATE OR REPLACE TEMP TABLE new_ids AS "
                    "SELECT id FROM src WHERE id NOT IN (SELECT id FROM sales)"
                )
                con.execute("UPDATE sales SET qty = src.qty, price = src.price FROM src WHERE sales.id = src.id")
                con.execute(f"INSERT INTO sales SELECT {SALES_COLS} FROM src WHERE id IN (SELECT id FROM new_ids)")
            elif op.name == "delete_mor":
                self.changed_rows += con.execute(f"SELECT count(*) FROM sales WHERE {op.where}").fetchone()[0]
                con.execute(f"DELETE FROM sales WHERE {op.where}")
            elif op.name in ("update", "delete_cow"):
                pred = op.sql.split(" WHERE ", 1)[1]
                matched = con.execute(f"SELECT count(*) FROM sales WHERE {pred}").fetchone()[0]
                self.changed_rows += matched
                if op.name == "update":
                    op.logical_rows = matched
                con.execute(op.sql)
            elif op.kind == "lookup":
                want = check.fingerprint_pandas(
                    con.sql(f"SELECT {SALES_COLS} FROM sales WHERE {op.where}").df(), schema
                )
            self.want.append(want)
        self.want_frame = con.sql(f"SELECT {SALES_COLS} FROM sales").df()
        self.want_final = check.fingerprint_pandas(self.want_frame, schema)
        self.logical_rows = sum(op.logical_rows for op in self.log)
        con.close()

    # -- passes ---------------------------------------------------------------
    def _fresh_session(self):
        from pg_lake_spark.session import LakeSession

        spark = self.ctx.spark
        self.n_pass += 1
        root = os.path.join(self.ctx.work, f"lake{self.n_pass}")
        shutil.rmtree(os.path.join(self.ctx.work, f"lake{self.n_pass - 1}"), ignore_errors=True)
        os.makedirs(os.path.join(root, "ingest_src"))
        sess = LakeSession(spark)
        sess.warehouse = os.path.join(root, "wh")
        spark.read.parquet(self.base_file).createOrReplaceTempView("base_src")
        for op in self.log:
            if op.name in ("insert", "merge"):
                spark.read.parquet(self.path(op.file)).createOrReplaceTempView(op.file)
        return sess, root

    def warm_up(self) -> list[str]:
        bad = [f"{s.op}: {s.note}" for s in self._pass() if not s.ok]
        frame = self.last_table.refresh().scan().toPandas()
        why = check.frames_equal(frame, self.want_frame)
        if why:
            bad.append(f"final table vs DuckDB replay: {why}")
        return bad

    def run_pass(self) -> list[Sample]:
        return self._pass()

    def check_pass(self) -> list[Sample]:
        """The whole table against the replay: no lost or duplicated rows."""
        final = self.last_table.refresh().scan()
        obs_df, obs = check.observed(final)
        obs_df.write.format("noop").mode("overwrite").save()
        ok = check.fingerprints_match(check.fingerprint_of(obs), self.want_final)
        return [Sample("final_state", "check", 0.0, ok, "" if ok else "table != DuckDB replay")]

    def _pass(self) -> list[Sample]:
        from pg_lake_spark.lakehouse import maintenance
        from pg_lake_spark.streaming.ingest import stream_ingest_to_lake

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        sess, root = self._fresh_session()
        out: list[Sample] = []
        n_ingest = 0
        for i, op in enumerate(self.log):
            if op.name == "ingest":  # a new file lands in the watched directory
                shutil.copy(self.path(op.file), os.path.join(root, "ingest_src", f"batch{n_ingest}.parquet"))
                n_ingest += 1
            if tr.enabled and op.name == "compact":
                self._table_stats(table)
            group = ctx.begin_op(op.name)
            t0 = time.perf_counter()
            with tr.span("op"):
                if op.name == "create":
                    with tr.span("ddl.execute"):
                        sess.execute(
                            f"CREATE TABLE sales USING iceberg WITH (location '{root}/sales', "
                            f"partition_by 'flag') AS SELECT {SALES_COLS} FROM base_src"
                        )
                    table = sess.lake_table_handle("sales")
                elif op.sql:
                    with tr.span("ddl.execute"):
                        sess.execute(op.sql)
                elif op.name == "delete_mor":
                    table.delete(op.where, mode="mor")
                elif op.name == "ingest":
                    with tr.span("streaming.ingest"):
                        src = spark.readStream.schema(self.schema).parquet(os.path.join(root, "ingest_src"))
                        q = stream_ingest_to_lake(src, table, os.path.join(root, "ckpt"))
                        q.awaitTermination()
                        table.refresh()
                elif op.name == "compact":
                    with tr.span("lakehouse.maintenance"):
                        maintenance.compact_data_files(table, min_input_files=2)
                elif op.name == "expire_snapshots":
                    with tr.span("lakehouse.maintenance"):
                        maintenance.expire_snapshots(table, max_age_s=0)
                elif op.kind == "lookup":
                    df = table.scan(where=op.where)
                    obs_df, obs = check.observed(df)
                    if tr.enabled:
                        _plan_counts(ctx, obs_df)
                    with tr.span("spark.execute"):
                        obs_df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            ctx.end_op(group, t0, t1)
            ok, note = True, ""
            if op.kind == "lookup":
                ok = check.fingerprints_match(check.fingerprint_of(obs), self.want[i])
                note = "" if ok else "lookup result != DuckDB replay"
                rep = table.last_scan_report
                if rep is not None:
                    ctx.count("lakehouse.files_considered", rep.files_scanned + rep.files_skipped)
                    ctx.count("lakehouse.files_skipped", rep.files_skipped)
            out.append(Sample(op.name, op.kind, t1 - t0, ok, note))
        self.last_table = table
        return out

    def _table_stats(self, table) -> None:
        """Traced passes, before maintenance: live files, snapshots,
        metadata bytes, and rows physically written. Reads the catalog
        directly, so no lakehouse span is recorded."""
        from pg_lake_spark.lakehouse import catalog as cat

        md = cat.read_current_metadata(table.location)
        live = cat.read_snapshot_files(table.location, md, md.current_snapshot())
        physical, meta_bytes = 0, 0
        for dirpath, _, files in os.walk(table.location):
            for f in files:
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and "metadata" not in dirpath:
                    physical += pq.ParquetFile(p).metadata.num_rows
                elif "metadata" in dirpath:
                    meta_bytes += os.path.getsize(p)
        s = self.ctx.counters
        s["lakehouse.files_live"] = s.get("lakehouse.files_live", 0) + len(live)
        s["lakehouse.snapshots"] = s.get("lakehouse.snapshots", 0) + len(md.snapshots)
        s["lakehouse.metadata_bytes"] = s.get("lakehouse.metadata_bytes", 0) + meta_bytes
        s["lakehouse.rows_physical"] = s.get("lakehouse.rows_physical", 0) + physical

    def space_amp(self) -> float:
        """Bytes under the last table's location / bytes of its live rows
        written once by plain ``df.write.parquet``."""
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.last_table.location)
            for f in fs
        )
        once = os.path.join(self.ctx.work, "space_once")
        self.last_table.scan().write.mode("overwrite").parquet(once)
        plain = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(once)
            for f in fs
            if f.endswith(".parquet")
        )
        shutil.rmtree(once, ignore_errors=True)
        return stored / plain

    def units_per_pass(self) -> float:
        return float(self.logical_rows)

    def amplification(self, physical_rows: float) -> dict[str, float]:
        """Rows physically written per pass (before maintenance) over the
        rows the statements write, and the rows rewritten beyond the
        inserted ones over the rows deleted or updated."""
        updated = sum(op.logical_rows for op in self.log if op.name == "update")
        inserted = self.logical_rows - updated
        return {
            "lakehouse.write_amp": physical_rows / self.logical_rows,
            "lakehouse.rewrite_amp": max(0.0, physical_rows - inserted) / self.changed_rows,
        }


WORKLOADS = {"olap": Olap, "lake_dml": LakeDml, "pipeline": Pipeline}
