"""Lakehouse benchmark: CDC ingest, interactive serving and an operator batch.

    python3 perfbench/run.py --workload lake_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one Spark session from
``session.get_spark`` at ``local[min(3, nproc - 1)]``, one client thread
(closed loop). The workload picks what the measured window repeats, in whole rounds:

- ``cdc_ingest``: a seeded Debezium change log, one file per micro-batch,
  streamed by ``run_cdc_file_stream`` into a fresh pk-bucketed
  merge-on-read ``LakeTable``, then one full read of the result.
- ``lake_serve``: a shuffled, fixed mix of ``LakeEngine`` calls (point
  reads, TPC-H-shaped SQL, keyed DML, time travel / diff / change feed,
  search) against a warehouse built during set-up.
- ``operator_batch``: registered operators, each built and collected once,
  on a fresh copy of sf0.1-sized generated fixture tables.

Another round starts only if it fits in ``--seconds`` judging by the last
one; at least one round always runs. Every output is checked against an
answer computed apart from the engine (``checks.py``). An operation that
raises, or whose output fails its check, counts as failed and the run goes
on; a wrong output also makes ``correct`` false. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries run details: host steal, rounds, the workload's named figures,
wrong outputs and errors. ``--trace 1`` wraps engine functions with spans and
reports per-layer metrics instead, writing the spans to ``.perfbench/out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("cdc_ingest", "lake_serve", "operator_batch")

# (name, family); family subtotals are reported per run
OPERATORS = [
    ("q1_pricing_summary", "relational"),
    ("q6_forecast_revenue", "relational"),
    ("q_order_lineitem_join_agg", "relational"),
    ("dd_exact", "llm_ops"),
    ("search_bm25", "llm_ops"),
    ("tx_keyword_extract", "llm_ops"),
    ("g_connected_components", "graph"),
]
OPERATOR_SCALE = "sf0.1"  # fixture row counts (gen.SIZES)
OPERATOR_MODULES = ("tpch", "dedup", "search", "textops", "graph_ops")
SERVE_KIND = {
    "read": "point_read", "sql": "sql", "insert": "dml", "update": "dml",
    "delete": "dml", "time_travel": "history", "diff": "history",
    "changes": "history", "search": "search",
}
JOB_KINDS = ("cdc_batch", "cdc_read", "point_read", "sql", "dml", "history", "search")
SEARCH_TOP_K = 20
CDC_COMPACT_THRESHOLD = 2
BUCKETS = 8


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def gmean_of_medians(lat: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency:
    a kind that gets k times slower moves it by k ** (1 / kinds), however
    rare the kind is in the mix."""
    meds = [statistics.median(xs) for xs in lat.values() if xs]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def parquet_files(entry: dict) -> list[str]:
    """Parquet files of one commit entry (a directory)."""
    d = entry["path"]
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


class NoTracer:
    """Stand-in when tracing is off."""

    class _Null:
        def __enter__(self):
            return {"attrs": {}}

        def __exit__(self, *exc):
            return False

    def span(self, name, **attrs):
        return self._Null()


class Bench:
    def __init__(self, args, work: str, steal_start: int | None):
        self.args = args
        self.work = work
        self.steal_start = steal_start
        self.trace = bool(args.trace)
        if self.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
        else:
            self.tracer = NoTracer()
        self.problems: list[str] = []  # wrong outputs
        self.errors: list[str] = []  # operations that raised
        self.attempted = 0
        self.failed = 0
        self.n_ok = 0  # measured operations that succeeded
        self.lat: dict[str, list[float]] = {}  # latencies by operation kind
        self.busy_s = 0.0  # time the successful operations took, summed
        self.jobs: dict[str, list[int]] = {}
        self.catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}

    # ------------------------------------------------------------ helpers

    def _job_group(self, kind: str):
        """Tag the next Spark jobs with a fresh group (traced runs only)."""
        if not self.trace:
            return None
        self._gid = getattr(self, "_gid", 0) + 1
        group = f"perfbench-{kind}-{self._gid}"
        self.spark.sparkContext.setJobGroup(group, kind)
        return group

    def _job_count(self, kind: str, group) -> None:
        if group is None:
            return
        n = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.jobs.setdefault(kind, []).append(n)
        self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")

    def _ok(self, kind: str, dt: float) -> None:
        self.n_ok += 1
        self.busy_s += dt
        self.lat.setdefault(kind, []).append(dt)

    def _error(self, what: str, exc: Exception) -> None:
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")

    def _fixtures(self, scale: str) -> None:
        from perfbench import gen

        with self.tracer.span("setup.inputs"):
            self.tables = gen.warehouse_tables(self.args.seed, scale)
            self.fixture_dir = os.path.join(self.work, "fixture")
            gen.write_tables(self.tables, self.fixture_dir)

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        # one core of four stays free for the Python process, JIT and GC:
        # measured faster and steadier than local[4] on a 4-core host
        cpus = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        os.environ.pop("SPARK_MASTER_SET", None)
        with self.tracer.span("session.start"):
            from datalake_on_prem_system_spark.session import get_spark

            self.spark = get_spark(
                app_name="perfbench",
                shuffle_partitions=cpus,
                extra_conf={
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
                },
            )
        if self.trace:
            self._install_tracing()
        {"cdc_ingest": self._setup_cdc, "lake_serve": self._setup_serve,
         "operator_batch": self._setup_operators}[self.args.workload]()

    def _setup_cdc(self) -> None:
        """Change log files, the progress listener, one small warm-up stream."""
        from pyspark.sql.streaming import StreamingQueryListener

        from perfbench import gen

        self.progress: dict[str, list[float]] = {}
        self.run_ids: list[str] = []
        bench = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                bench.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    bench.progress.setdefault(str(p.runId), []).append(
                        p.durationMs.get("triggerExecution", 0) / 1000.0
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())
        with self.tracer.span("setup.inputs"):
            self.cdc_log = gen.CdcLog(self.args.seed)
            self.cdc_src = os.path.join(self.work, "cdc_src")
            self.cdc_bytes = self.cdc_log.write_files(self.cdc_src)
            self.cdc_log.write_seed(self.cdc_src + ".seed.parquet")
        self.cdc = {"stream_s": [], "read_s": [], "bytes": [], "rows": 0, "change_bytes": 0}
        with self.tracer.span("setup.warm"):
            warm = gen.CdcLog(self.args.seed + 1, n_batches=1, batch_rows=200, seed_keys=500)
            src = os.path.join(self.work, "cdc_warm_src")
            warm.write_files(src)
            warm.write_seed(src + ".seed.parquet")
            self.cdc_round(warm, src, os.path.join(self.work, "cdc_warm"), timed=False)

    def _setup_serve(self) -> None:
        """Warehouse tables, the DuckDB model and one untimed call of each
        kind and argument in a round."""
        from perfbench import gen
        from perfbench.checks import ServeModel
        from datalake_on_prem_system_spark.engine import LakeEngine

        self._fixtures("sf0.01")
        self.engine = LakeEngine(self.spark, os.path.join(self.work, "warehouse"), "db")
        for name in ("orders", "lineitem", "customer", "documents"):
            df = self.spark.read.parquet(os.path.join(self.fixture_dir, f"{name}.parquet"))
            tbl = self.engine.catalog.table(name)
            with self.tracer.span("setup.warehouse", table=name):
                if name == "orders":
                    tbl.create_or_replace(
                        df, properties={"bloom.columns": "o_custkey"},
                        bucket_by=("o_orderkey", BUCKETS),
                    )
                else:
                    tbl.create_or_replace(df)
        self.orders = self.engine.catalog.table("orders")
        self.model = ServeModel(self.tables)
        self.model.record(self.orders.latest_version(), None, None, None)
        self.pick_key, self.serve_rng = gen.key_picker(self.args.seed, gen.N_ORDERS)
        self.next_order = gen.N_ORDERS
        self.bucket_lat: dict[str, list[float]] = {k: [] for k in set(SERVE_KIND.values())}
        # a first round of calls runs 30-70% slower than later ones (JIT and
        # first-call costs), so every call shape runs once before timing; the
        # first search builds the index; warm-up writes are modelled too
        with self.tracer.span("setup.warm"):
            for kind, arg in dict.fromkeys(gen.SERVE_ROUND):
                self.serve_call(kind, arg, timed=False)

    def _setup_operators(self) -> None:
        """Fixture tables, and one untimed pass over the operators on
        sf0.001-sized tables: it compiles the same plans, so the timed pass
        does not pay first-run costs (about 40% of a cold pass)."""
        from datalake_on_prem_system_spark import operators
        from perfbench import gen

        self._fixtures(OPERATOR_SCALE)
        self.registry = operators.all_queries()
        self.family_s: dict[str, float] = {}
        # (name, family, seconds, columns, rows) of every operator that ran
        self.ops_out: list[tuple[str, str, float, list[str], list[tuple]]] = []
        with self.tracer.span("setup.warm"):
            warm_dir = os.path.join(self.work, "warm-fixture")
            gen.write_tables(gen.warehouse_tables(self.args.seed + 1, "sf0.001"), warm_dir)
            for name, _ in OPERATORS:
                try:
                    self.registry[name](self.spark, warm_dir).collect()
                except Exception as exc:  # noqa: BLE001 - the timed pass counts it
                    self._error(f"warm-up {name}", exc)

    def _fixture_copy(self, tag: str) -> str:
        """Hard-linked copy of the fixtures under a new path, so operators
        that memoize derived indexes per path redo that work."""
        sf_dir = os.path.join(self.work, f"ops-{tag}")
        os.makedirs(sf_dir)
        for f in os.listdir(self.fixture_dir):
            os.link(os.path.join(self.fixture_dir, f), os.path.join(sf_dir, f))
        return sf_dir

    # ------------------------------------------------------------ tracing

    def _install_tracing(self) -> None:
        from datalake_on_prem_system_spark import engine as engine_mod
        from datalake_on_prem_system_spark.lakehouse import diff as diff_mod
        from datalake_on_prem_system_spark.lakehouse.catalog import LakeCatalog
        from datalake_on_prem_system_spark.lakehouse.table import LakeTable
        from datalake_on_prem_system_spark.streaming import cdc as cdc_mod

        def has_delta(commit) -> bool:
            return commit is not None and any(e.get("delta") is not None for e in commit.files)

        def on_merge(rec, args, kwargs, commit):
            table = args[0]
            parent = table.commit_at(commit.parent) if commit.parent is not None else None
            old = {e["path"] for e in parent.files} if parent else set()
            new = [f for e in commit.files if e["path"] not in old for f in parquet_files(e)]
            rec["attrs"].update(
                files_written=len(new), bytes_written=sum(os.path.getsize(f) for f in new),
                compaction=int(has_delta(parent) and not has_delta(commit)),
            )

        def on_read_where(rec, args, kwargs, df):
            table = args[0]
            commit = kwargs.get("commit") or table.commit_at(kwargs.get("version"), True)
            rec["attrs"].update(
                files_read=len(df.inputFiles()),
                files_total=sum(len(parquet_files(e)) for e in commit.files),
            )

        tr = self.tracer
        tr.wrap(LakeTable, "merge", "lakehouse.table.merge", on_merge)
        tr.wrap(LakeTable, "read", "lakehouse.table.read")
        tr.wrap(LakeTable, "read_where", "lakehouse.table.read_where", on_read_where)
        tr.wrap(LakeTable, "update_where", "lakehouse.table.update_where")
        tr.wrap(LakeTable, "delete_where", "lakehouse.table.delete_where")
        tr.wrap(LakeTable, "insert_rows", "lakehouse.table.insert_rows")
        tr.wrap(LakeCatalog, "register_views", "lakehouse.catalog.register_views")
        tr.wrap(engine_mod, "snapshot_diff", "lakehouse.diff.snapshot_diff")
        tr.wrap(diff_mod, "changes_feed", "lakehouse.diff.changes_feed")
        tr.wrap(engine_mod, "write_posting_index", "operators.search.index_build")
        tr.wrap(cdc_mod, "cdc_apply_batch", "streaming.cdc.batch")

    # ------------------------------------------------------------ cdc_ingest

    def cdc_round(self, log, src: str, root: str, timed: bool = True) -> None:
        """Stream ``log`` into a fresh table, read it back and check it. The
        round's operations (each micro-batch and the read) fail together:
        the final table is the product of all of them."""
        from perfbench.checks import check_cdc
        from perfbench.gen import CDC_COLUMNS, CDC_ROW_DDL
        from datalake_on_prem_system_spark.lakehouse.table import LakeTable
        from datalake_on_prem_system_spark.streaming.cdc import run_cdc_file_stream

        n_ops = len(log.batches) + 1
        shutil.rmtree(root, ignore_errors=True)
        n_runs = len(self.run_ids)
        group = None
        try:
            table = LakeTable(self.spark, os.path.join(root, "table"))
            table.create_or_replace(
                self.spark.read.parquet(src + ".seed.parquet"),
                properties={
                    "write.merge.mode": "mor",
                    "write.merge.delta.compact-threshold": str(CDC_COMPACT_THRESHOLD),
                },
                bucket_by=("id", BUCKETS),
            )
            with self.tracer.span("cdc.stream"):
                t0 = time.perf_counter()
                run_cdc_file_stream(
                    self.spark, table, pk="id", row_ddl=CDC_ROW_DDL, src_dir=src,
                    checkpoint_dir=os.path.join(root, "checkpoint"),
                    order_cols=["updated_at"], max_files_per_trigger=1,
                )
                stream_s = time.perf_counter() - t0
            run_id = self.run_ids[n_runs] if len(self.run_ids) > n_runs else None
            deadline = time.perf_counter() + 10.0  # listener events arrive async
            while (len(self.progress.get(run_id, [])) < len(log.batches)
                   and time.perf_counter() < deadline):
                time.sleep(0.02)
            batches = self.progress.get(run_id, [])
            group = self._job_group("cdc_read") if timed else None
            with self.tracer.span("cdc.read"):
                t0 = time.perf_counter()
                rows = table.read().collect()
                read_s = time.perf_counter() - t0
            self._job_count("cdc_read", group)
            group = None
            problems = check_cdc([tuple(r[c] for c in CDC_COLUMNS) for r in rows], log)
        except Exception as exc:  # noqa: BLE001 - counted as failed, run goes on
            if group is not None:
                self._job_count("cdc_read", group)
            self._error("cdc round", exc)
            if timed:
                self.attempted += n_ops
                self.failed += n_ops
            return
        if len(batches) != len(log.batches):
            problems.append(f"cdc: {len(batches)} micro-batches reported, expected {len(log.batches)}")
        self.problems.extend(problems)
        if not timed:
            return
        self.attempted += n_ops
        if problems:
            self.failed += n_ops
            return
        if self.trace and run_id is not None:
            n = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))
            self.jobs.setdefault("cdc_batch", []).append(n / max(1, len(batches)))
        for b in batches:
            self.n_ok += 1
            self.lat.setdefault("micro_batch", []).append(b)
        self.busy_s += stream_s
        self._ok("read", read_s)
        c = self.cdc
        c["stream_s"].append(stream_s)
        c["read_s"].append(read_s)
        c["bytes"].append(sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(root, "table")) for f in fs
        ))
        c["rows"] += log.n_changes
        c["change_bytes"] += self.cdc_bytes

    def cdc_named(self) -> dict:
        c = self.cdc
        return {
            "cdc_rows_per_s": (c["rows"] / sum(c["stream_s"]) if c["stream_s"] else 0.0, "rows/s"),
            "cdc_batch_p50_s": (median(self.lat.get("micro_batch", [])), "s"),
            "cdc_read_s": (median(c["read_s"]), "s"),
            "cdc_table_bytes": (median(c["bytes"]), "bytes"),
        }

    # ------------------------------------------------------------ lake_serve

    def serve_call(self, kind: str, arg=None, timed: bool = True) -> None:
        """One ``LakeEngine`` call plus its check against the model. ``arg``
        is the SQL shape, the number of versions a diff or change feed
        spans, or the number of search words."""
        from perfbench import checks, gen

        rng, eng, model = self.serve_rng, self.engine, self.model
        bucket = SERVE_KIND[kind]
        problems: list[str] = []
        group = self._job_group(bucket) if timed else None
        try:
            with self.tracer.span(f"serve.{kind}"):
                t0 = time.perf_counter()
                if kind == "read":
                    key = self.pick_key()
                    rows = eng.read("orders", filter_col="o_orderkey", filter_val=str(key)).collect()
                    dt = time.perf_counter() - t0
                    want = model.order_row(key)
                    got = [tuple(r[c] for c in checks.ORDER_COLS) for r in rows]
                    msg = checks.same_rows(got, [want] if want else [])
                    if msg:
                        problems.append(f"read {key}: {msg}")
                elif kind == "sql":
                    shape = arg
                    date = f"{rng.randrange(1995, 1999)}-{rng.randrange(1, 13):02d}-01"
                    df = eng.query(checks.SQL[shape].format(d=date))
                    rows = df.collect()
                    dt = time.perf_counter() - t0
                    if self.trace:
                        ph = df._jdf.queryExecution().tracker().phases()
                        for name in self.catalyst:
                            opt = ph.get(name)
                            if opt.isDefined():
                                self.catalyst[name] += opt.get().durationMs() / 1000.0
                    msg = checks.same_rows([tuple(r) for r in rows], model.sql(shape, date))
                    if msg:
                        problems.append(f"sql {shape} {date}: {msg}")
                elif kind in ("insert", "update", "delete"):
                    if kind == "insert":
                        key = self.next_order
                        self.next_order += 1
                        row = {
                            "o_orderkey": key, "o_custkey": rng.randrange(gen.N_CUSTOMERS),
                            "o_orderstatus": "O", "o_totalprice": round(rng.uniform(1e3, 5e5), 2),
                            "o_orderdate": f"199{rng.randrange(5, 9)}-0{rng.randrange(1, 10)}-15",
                            "o_orderpriority": gen.PRIORITIES[rng.randrange(5)],
                        }
                        before = None
                        eng.insert("orders", {c: str(v) for c, v in row.items()})
                        dt = time.perf_counter() - t0
                        model.insert(row)
                    elif kind == "update":
                        key = self.pick_key()
                        sets = {"o_totalprice": round(rng.uniform(1e3, 5e5), 2),
                                "o_orderstatus": "FOP"[rng.randrange(3)]}
                        before = model.order_row(key)
                        eng.update("orders", str(key), {c: str(v) for c, v in sets.items()})
                        dt = time.perf_counter() - t0
                        model.update(key, sets)
                    else:
                        key = self.pick_key()
                        before = model.order_row(key)
                        eng.delete("orders", str(key))
                        dt = time.perf_counter() - t0
                        model.delete(key)
                    model.record(self.orders.latest_version(), key, before, model.order_row(key))
                elif kind == "time_travel":
                    version = rng.choice(sorted(model.counts))
                    n = eng.time_travel("orders", version).count()
                    dt = time.perf_counter() - t0
                    if n != model.counts[version]:
                        problems.append(f"time_travel v{version}: {n} rows, model {model.counts[version]}")
                elif kind == "diff":
                    versions = sorted(model.counts)
                    v_new = versions[-1]
                    v_old = versions[max(0, len(versions) - 1 - arg)]
                    rows = eng.diff("orders", v_old, v_new).collect()
                    dt = time.perf_counter() - t0
                    got = {r["o_orderkey"]: r["status"] for r in rows}
                    want = model.diff_keys(v_old, v_new)
                    if got != want:
                        problems.append(f"diff v{v_old}..v{v_new}: {sorted(got.items())[:4]} vs model {sorted(want.items())[:4]}")
                elif kind == "changes":
                    versions = sorted(model.counts)
                    v_to = versions[-1]
                    v_from = versions[max(0, len(versions) - 1 - arg)]
                    rows = eng.changes("orders", v_from, v_to).collect()
                    dt = time.perf_counter() - t0
                    got = {(r["o_orderkey"], r["_commit_version"]) for r in rows}
                    want = model.change_keys(v_from, v_to)
                    if got != want:
                        problems.append(f"changes v{v_from}..v{v_to}: {sorted(got)[:4]} vs model {sorted(want)[:4]}")
                else:
                    words = rng.sample(gen.VOCAB, arg)
                    rows = eng.search("documents", " ".join(words), top_k=SEARCH_TOP_K).collect()
                    dt = time.perf_counter() - t0
                    problems.extend(checks.check_search(
                        [(r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"]) for r in rows],
                        words, SEARCH_TOP_K, model.search_count(words),
                    ))
        except Exception as exc:  # noqa: BLE001 - counted as failed, run goes on
            self._error(f"serve {kind}", exc)
            if timed:
                self._job_count(bucket, group)
                self.attempted += 1
                self.failed += 1
            return
        self.problems.extend(problems)
        if timed:
            self._job_count(bucket, group)
            self.attempted += 1
            if problems:
                self.failed += 1
                return
            self._ok(kind, dt)
            self.bucket_lat[bucket].append(dt)

    def serve_round(self, round_no: int) -> None:
        from perfbench import gen

        for kind, arg in gen.serve_round(self.args.seed, round_no):
            self.serve_call(kind, arg)

    def serve_named(self) -> dict:
        return {
            "serve_ops_per_s": (self.n_ok / self.busy_s if self.busy_s else 0.0, "1/s"),
            **{f"{k}_p50_s": (median(self.bucket_lat[k]), "s")
               for k in ("point_read", "sql", "dml", "history", "search")},
        }

    # ------------------------------------------------------------ operator_batch

    def operator_round(self, round_no: int) -> None:
        """One pass over OPERATORS on fresh fixture paths."""
        sf_dir = self._fixture_copy(str(round_no))
        for name, family in OPERATORS:
            fn = self.registry[name]
            module = fn.__module__.rsplit(".", 1)[-1]
            group = self._job_group(f"operator.{module}")
            self.attempted += 1
            try:
                with self.tracer.span(f"operators.{module}.query", query=name):
                    t0 = time.perf_counter()
                    with self.tracer.span(f"operators.{module}.build"):
                        df = fn(self.spark, sf_dir)
                    with self.tracer.span(f"operators.{module}.collect"):
                        rows = [tuple(r) for r in df.collect()]
                    dt = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - counted as failed, run goes on
                self._error(name, exc)
                self.failed += 1
                continue
            finally:
                self._job_count(f"operator.{module}", group)
            self.ops_out.append((name, family, dt, df.columns, rows))

    def check_operators(self) -> None:
        """Compare every collected output with its oracle SQL run by DuckDB
        over the same fixture files (outside the timed window); only the
        operators that pass count towards the timings."""
        import duckdb

        from perfbench.checks import check_operator
        from datalake_on_prem_system_spark import operators

        oracle_sql = operators.all_oracle_sql()
        con = duckdb.connect()
        for f in os.listdir(self.fixture_dir):
            name = f[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.fixture_dir}/{f}'")
        oracle = {}
        for name, family, dt, columns, rows in self.ops_out:
            if name not in oracle:
                res = con.execute(oracle_sql[name])
                oracle[name] = ([d[0] for d in res.description], res.fetchall())
            problems = check_operator(name, columns, rows, oracle[name])
            self.problems.extend(problems)
            if problems:
                self.failed += 1
                continue
            self._ok(name, dt)
            self.family_s[family] = self.family_s.get(family, 0.0) + dt

    def operator_named(self) -> dict:
        return {
            "batch_total_s": (self.busy_s / self.rounds, "s"),
            **{f"{fam}_s": (self.family_s.get(fam, 0.0) / self.rounds, "s")
               for fam in ("relational", "llm_ops", "graph")},
        }

    # ------------------------------------------------------------ run

    def measure(self) -> None:
        wl = self.args.workload
        body = {
            "cdc_ingest": lambda r: self.cdc_round(
                self.cdc_log, self.cdc_src, os.path.join(self.work, "cdc")),
            "lake_serve": self.serve_round,
            "operator_batch": self.operator_round,
        }[wl]
        t0 = self.t_measure = time.perf_counter()
        round_no, last = 0, 0.0
        while round_no == 0 or (time.perf_counter() - t0) + last <= self.args.seconds:
            r0 = time.perf_counter()
            with self.tracer.span(f"phase.{wl}"):
                body(round_no)
            last = time.perf_counter() - r0
            round_no += 1
        self.rounds = round_no
        self.measured_s = time.perf_counter() - t0

    def end_to_end(self) -> dict:
        m = {
            "setup_s": (self.setup_s, "s"),
            "ops_per_s": (self.n_ok / self.busy_s if self.busy_s else 0.0, "1/s"),
            "op_p50_gmean_s": (gmean_of_medians(self.lat), "s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def per_layer(self) -> dict:
        """Span totals over the measured window; ``session.start_s`` and the
        search index build (the first search runs during set-up) cover the
        whole process. An idle layer reads 0."""
        tr, since = self.tracer, self.t_measure

        def total(name):
            return tr.total(name, since)

        def count(name):
            return tr.count(name, since)

        def attr(name, key):
            return tr.attr_sum(name, key, since)

        change_bytes = getattr(self, "cdc", {}).get("change_bytes", 0)
        stream_s, batch_s = total("cdc.stream"), total("streaming.cdc.batch")
        m = {
            "session.start_s": (tr.total("session.start"), "s"),
            "streaming.cdc.batch_s": (batch_s, "s"),
            "streaming.cdc.batches": (count("streaming.cdc.batch"), "count"),
            "streaming.cdc.overhead_s": (stream_s - batch_s, "s"),
            "lakehouse.table.merge_s": (total("lakehouse.table.merge"), "s"),
            "lakehouse.table.merge_calls": (count("lakehouse.table.merge"), "count"),
            "lakehouse.table.compactions": (attr("lakehouse.table.merge", "compaction"), "count"),
            "lakehouse.table.files_written": (attr("lakehouse.table.merge", "files_written"), "count"),
            "lakehouse.table.bytes_written_per_change_byte": (
                attr("lakehouse.table.merge", "bytes_written") / change_bytes if change_bytes else 0.0,
                "ratio"),
            "lakehouse.table.read_s": (total("lakehouse.table.read"), "s"),
            "lakehouse.table.read_where_s": (total("lakehouse.table.read_where"), "s"),
            "lakehouse.table.read_where_files_read": (attr("lakehouse.table.read_where", "files_read"), "count"),
            "lakehouse.table.read_where_files_total": (attr("lakehouse.table.read_where", "files_total"), "count"),
            "lakehouse.table.update_where_s": (total("lakehouse.table.update_where"), "s"),
            "lakehouse.table.delete_where_s": (total("lakehouse.table.delete_where"), "s"),
            "lakehouse.table.insert_rows_s": (total("lakehouse.table.insert_rows"), "s"),
            "lakehouse.diff.snapshot_diff_s": (total("lakehouse.diff.snapshot_diff"), "s"),
            "lakehouse.diff.changes_feed_s": (total("lakehouse.diff.changes_feed"), "s"),
            "lakehouse.catalog.register_views_s": (total("lakehouse.catalog.register_views"), "s"),
            "lakehouse.catalog.register_views_calls": (count("lakehouse.catalog.register_views"), "count"),
            **{f"spark.catalyst.{k}_s": (v, "s") for k, v in self.catalyst.items()},
            "operators.search.index_build_s": (tr.total("operators.search.index_build"), "s"),
            "operators.search.query_s": (total("serve.search") - total("operators.search.index_build"), "s"),
        }
        for mod in OPERATOR_MODULES:
            jobs = self.jobs.get(f"operator.{mod}", [])
            m[f"operators.{mod}.build_s"] = (total(f"operators.{mod}.build"), "s")
            m[f"operators.{mod}.collect_s"] = (total(f"operators.{mod}.collect"), "s")
            m[f"operators.{mod}.jobs"] = (sum(jobs) / len(jobs) if jobs else 0.0, "jobs/op")
        for kind in JOB_KINDS:
            jobs = self.jobs.get(kind, [])
            m[f"spark.jobs.{kind}"] = (sum(jobs) / len(jobs) if jobs else 0.0, "jobs/op")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def run(self) -> dict:
        self.setup()
        self.setup_s = time.perf_counter() - T_PROCESS
        self.measure()
        wl = self.args.workload
        if wl == "operator_batch":
            self.check_operators()
        named = {"cdc_ingest": self.cdc_named, "lake_serve": self.serve_named,
                 "operator_batch": self.operator_named}[wl]()
        metrics = self.per_layer() if self.trace else self.end_to_end()
        from bench import _read_steal_jiffies

        steal1 = _read_steal_jiffies()
        steal = None if self.steal_start is None or steal1 is None else steal1 - self.steal_start
        run_s = time.perf_counter() - T_PROCESS
        detail = {
            "workload": wl, "seed": self.args.seed, "trace": self.trace,
            "rounds": self.rounds, "measured_s": round(self.measured_s, 3),
            "setup_s": round(self.setup_s, 3), "steal_jiffies": steal,
            "steal_cores": None if steal is None else round(steal / 100.0 / run_s, 3),
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "failed": self.failed, "problems": self.problems[:20],
            "errors": self.errors[:20],
        }
        if self.trace:
            out = os.path.join(ROOT, ".perfbench", "out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"trace-{wl}-{self.args.seed}.json")
            self.tracer.dump(path, {k: v["value"] for k, v in metrics.items()})
            detail["trace_file"] = os.path.relpath(path, ROOT)
        print(json.dumps({"perfbench": detail}))
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        from bench import _read_steal_jiffies
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    steal_start = _read_steal_jiffies()
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # operators and Spark write their scratch files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    bench = Bench(args, work, steal_start)
    try:
        result = bench.run()
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
