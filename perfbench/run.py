"""spark-graft benchmark: one workload, one fresh process, closed loop.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run

1. sets up once, from process start to ready (generate the corpus, start
   the session with ``get_spark``, wait for the Python-worker prewarm,
   run a warm-up query, write the workload's landing and build the
   artifacts its entries persist): ``setup_s``;
2. runs one pass over the workload's operations (``first_pass_s``);
3. runs ``--seconds / PASS_S`` whole warm passes (``workloads.PASS_S``:
   the workload's nominal pass length), each in an order drawn from
   ``--seed`` (one client, one operation at a time);
4. checks every operation's output outside the timed spans;
5. prints a line of run facts, then the result object as the last line.

With ``--trace 1`` warm passes alternate untraced and traced; the traced
ones give the per-layer metrics (see ``perfbench/README.md``) and the
run's spans are written to ``.perfbench_out/``. ``--full`` runs every
registry entry the workload owns instead of its timed subset; it is the
coverage run, not the timed contract. The metrics' names and units come
from ``BENCHMARK.json``.

Everything the run writes sits under ``.perfbench_tmp/`` in the
checkout (artifact cache, warehouse, checkpoints, Spark local dirs,
temp files) and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402
from checks import CheckFailed, check_entry  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)  # metric names and units

SF = 0.01  # corpus scale factor
CORPUS_SEED = 42
LANDING = {"n_employees": 2500, "n_products": 150, "n_sales": 50_000}
OP_TIMEOUT_S = 120.0
SMALL_OP_S = 0.5

MODULES = ("relational", "events", "catalog", "sql", "text", "dedup",
           "vector", "multimodal", "mlquality")
PLAN_SPANS = ("medallion.bronze_s", "medallion.silver_s", "medallion.gold_s",
              "verify.s", "reports.s", "incremental.s", "export.s", "layout.s")
STREAM_KEYS = ("trigger_s", "add_batch_s", "planning_s", "wal_commit_s",
               "state_commit_s", "state_rows", "state_bytes")

# Per-operation layer counts averaged over traced operations.
PER_OP = (
    "queries.build_s", "queries.build_jobs", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.task_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.no_job_s", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "sources.read_bytes", "sources.files_read", "sources.write_bytes",
    "sources.files_written", "sources.partitions_written",
    "sources.commit_s", "python.boot_s", "python.init_s", "python.run_s",
    "python.bytes_sent", "python.bytes_received", "unattributed_s",
)
JOB_KEYS = ("shuffle.write_bytes", "shuffle.read_bytes",
            "shuffle.fetch_wait_s", "shuffle.spill_bytes",
            "sources.read_bytes")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--full", action="store_true",
                   help="run every owned registry entry, not the timed subset")
    return p.parse_args(argv)


def configure_env(tmp: str, nproc: int) -> None:
    """Isolate the run under ``tmp``; must run before pyspark starts."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "ETL_GCP_SPARK_DISABLE_PINS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM that spark-submit starts before the Spark driver JVM
        "SPARK_LAUNCHER_OPTS": java_opts(tmp),
    })
    tempfile.tempdir = None
    os.chdir(tmp)


def java_opts(tmp: str) -> str:
    """JVM temp files under ``tmp``; no hsperfdata files in /tmp."""
    return f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData"


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _process_age_s() -> float:
    """Seconds since this process started (``/proc``, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the machine's non-idle CPU time the hypervisor took
    (``steal``) between two ``/proc/stat`` readings."""
    d = [b - a for a, b in zip(start, end)]
    busy = sum(d) - d[3] - d[4]  # without idle and iowait
    return d[7] / busy if busy > 0 else 0.0


def _stamp_end(thread, out: list) -> None:
    thread.join(timeout=120)
    out[0] = time.perf_counter()


def _cache_snapshot(cache: str) -> set[tuple[str, str]]:
    """Complete artifacts in the cache: ``(kind, key)`` pairs."""
    out = set()
    if not os.path.isdir(cache):
        return out
    for kind in os.listdir(cache):
        kdir = os.path.join(cache, kind)
        if not os.path.isdir(kdir):
            continue
        for key in os.listdir(kdir):
            if ".build-" not in key and not key.startswith((".", "tmp")):
                out.add((kind, key))
    return out


class Op:
    def __init__(self, name: str, module: str, run, validate=None):
        self.name, self.module = name, module
        self.run, self.validate = run, validate


class Bench:
    def __init__(self, args, tmp: str, nproc: int, t_start: float):
        self.args, self.tmp, self.nproc = args, tmp, nproc
        self.t_start = t_start  # process start, on the perf_counter clock
        self.order_rng = random.Random(args.seed)
        self.spark = None
        self.probe = None
        self.tracer = None
        self.setup_parts: dict = {}
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.lookups: list[str] = []
        self.setup_artifacts: dict = {"builds": 0, "build_s": 0.0}
        self.jiffies = _cpu_jiffies()

    # -- set-up -------------------------------------------------------------
    def run(self) -> dict:
        ops = self.setup()
        if self.args.trace:
            from tracing import SparkProbe, Tracer

            self.tracer = Tracer(f"{self.args.workload}-{self.args.seed}")
            self.install_wrappers()
            self.probe = SparkProbe(self.spark)
        t_first = time.perf_counter()
        self.run_pass(ops, 0, traced=bool(self.args.trace))
        t0 = time.perf_counter()
        self.phase_s = {"first_pass": t0 - t_first}
        passes = max(1 + self.args.trace,
                     round(self.args.seconds / W.PASS_S[self.args.workload]))
        for n in range(1, passes + 1):
            self.run_pass(ops, n, traced=bool(self.args.trace) and n % 2 == 0)
        t1 = time.perf_counter()
        self.phase_s["warm"] = t1 - t0
        self.check_outputs(ops)
        self.phase_s["checks"] = time.perf_counter() - t1
        return self.result()

    def setup(self) -> tuple[list[Op], list[Op]]:
        """Fresh process to ready: import the program, generate the
        corpus, start the session, run a warm-up query, wait for the
        Python-worker prewarm, write the landing and build the artifacts
        the workload's entries persist into an empty cache. Returns the
        operations; ``self.setup_parts`` holds the timings, ``setup_s``
        counted from process start."""
        from etl_project_gcp_spark import queries as Q
        from etl_project_gcp_spark.session import get_spark

        self.Q = Q
        self.registry = Q.queries()
        self.oracles = Q.oracle_sql()
        W.check_ownership(self.registry)
        self.entries = tuple(W.OWNED[self.args.workload] if self.args.full
                             else W.TIMED[self.args.workload])
        self.cache = os.path.join(self.tmp, "cache")
        if _cache_snapshot(self.cache):
            raise SystemExit(f"artifact cache {self.cache} is not empty at set-up")
        os.environ["ETL_GCP_SPARK_CACHE_DIR"] = self.cache
        t0 = time.perf_counter()
        self.corpus = corpus.write_corpus(os.path.join(self.tmp, "corpus"),
                                          SF, CORPUS_SEED)
        t1 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": java_opts(self.tmp),
            },
        )
        t2 = time.perf_counter()
        # get_spark left the Python-worker prewarm running in the
        # background; the warm-up query overlaps it, then set-up waits
        # for whatever of it is left.
        prewarm_end = [t2]
        watchers = [threading.Thread(target=_stamp_end, args=(th, prewarm_end))
                    for th in threading.enumerate()
                    if th.name == "pyworker-prewarm"]
        for w in watchers:
            w.start()
        materialize(self.registry["count_lineitem"](self.spark, self.corpus))
        t3 = time.perf_counter()
        for w in watchers:
            w.join(timeout=120)
        t4 = time.perf_counter()
        if self.args.workload == "pipelines":
            self.write_landing()
        t5 = time.perf_counter()
        self.build_artifacts()
        t6 = time.perf_counter()
        ops = self.make_ops()
        t7 = time.perf_counter()
        self.setup_parts = {
            "setup_s": t7 - self.t_start, "imports_s": t0 - self.t_start,
            "corpus_s": t1 - t0, "session.start_s": t2 - t1,
            "warmup_s": t3 - t2, "session.prewarm_s": prewarm_end[0] - t2,
            "landing_s": t5 - t4, "artifacts_s": t6 - t5, "ops_s": t7 - t6,
        }
        return ops

    def write_landing(self) -> None:
        from etl_project_gcp_spark import datagen

        self.landing = datagen.write_fixture_csvs(
            self.spark, os.path.join(self.tmp, "landing"), **LANDING)

    def build_artifacts(self) -> None:
        """Run each artifact-persisting entry once, so passes hit the cache."""
        for name in self.entries:
            if name in W.ARTIFACT_ENTRIES:
                before = _cache_snapshot(self.cache)
                t0 = time.perf_counter()
                materialize(self.registry[name](self.spark, self.corpus))
                built = len(_cache_snapshot(self.cache) - before)
                self.setup_artifacts["builds"] += built
                if built:
                    self.setup_artifacts["build_s"] += time.perf_counter() - t0

    # -- operations ---------------------------------------------------------
    def make_ops(self) -> tuple[list[Op], list[Op]]:
        """``(chain, rest)``: each pass runs ``chain`` in its order, then
        ``rest`` in an order drawn from the seed. The chain is the
        service path (trigger, verify, sample), which must run in order."""
        owned = W.OWNED[self.args.workload]
        rest = [Op(name, owned[name], self._registry_runner(name))
                for name in self.entries]
        chain: list[Op] = []
        if self.args.workload == "pipelines":
            service = self._service_ops()
            chain, rest = service[:3], service[3:] + rest
        return chain, rest

    def _registry_runner(self, name: str):
        fn = self.registry[name]

        def run(traced: bool):
            if traced:
                with self.tracer.span("queries.build"):
                    df = fn(self.spark, self.corpus)
                materialize(df)
            else:
                materialize(fn(self.spark, self.corpus))
        return run

    def _service_ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from etl_project_gcp_spark import service
        from etl_project_gcp_spark.plans.medallion import MedallionPipeline

        rng = random.Random(self.args.seed)
        months = sorted(rng.sample(range(1, 13), 2))
        expected_touched = {(2023, m) for m in months}
        expected_counts = self._expected_counts()
        pipe = MedallionPipeline(self.spark, os.path.join(self.tmp, "lake"))
        landing = self.landing

        def refresh(traced):
            batch = pipe.table("silver", "sales").filter(
                (F.year("sale_date") == 2023) & F.month("sale_date").isin(months))
            return pipe.refresh_gold_sales_summary_incremental(batch)

        def check_etl(r):
            if not r.get("success"):
                raise CheckFailed(f"run_etl reported {r}")

        def check_verify(r):
            got = {layer: {t: v.get("row_count") for t, v in tables.items()}
                   for layer, tables in r.items()}
            if got != expected_counts:
                raise CheckFailed(f"row counts {got} != landing {expected_counts}")

        def check_sample(r):
            if not all(r.values()):
                raise CheckFailed(f"empty report in {sorted(r)}")

        def check_refresh(r):
            got = {(d["year"], d["month"]) for d in r}
            if got != expected_touched:
                raise CheckFailed(f"touched {got} != {expected_touched}")

        return [
            Op("trigger_etl", "plans",
               lambda traced: service.trigger_etl(pipe, landing), check_etl),
            Op("verify_results", "plans",
               lambda traced: service.verify_results(pipe), check_verify),
            Op("sample_data", "plans",
               lambda traced: service.sample_data(pipe), check_sample),
            Op("refresh_incremental", "plans", refresh, check_refresh),
        ]

    def _expected_counts(self) -> dict:
        """Per-layer row counts derived from the landing CSVs by DuckDB."""
        import duckdb

        con = duckdb.connect()
        try:
            for t, path in self.landing.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_csv_auto('{path}/*.csv', header=true)")
            q = {
                ("bronze", "employees"): "SELECT count(*) FROM employees",
                ("bronze", "products"): "SELECT count(*) FROM products",
                ("bronze", "sales"): "SELECT count(*) FROM sales",
                ("silver", "employees"): "SELECT count(*) FROM employees "
                    "WHERE email IS NOT NULL AND salary > 0",
                ("silver", "products"): "SELECT count(*) FROM products "
                    "WHERE price > 0 AND is_active",
                ("silver", "sales"): "SELECT count(*) FROM sales "
                    "WHERE quantity > 0 AND total_amount > 0",
                ("gold", "sales_analytics"): "SELECT count(*) FROM sales "
                    "WHERE quantity > 0 AND total_amount > 0",
                ("gold", "product_metrics"): "SELECT count(*) FROM products "
                    "WHERE price > 0 AND is_active",
                ("gold", "sales_summary"): "SELECT count(*) FROM (SELECT "
                    "DISTINCT year(sale_date), month(sale_date), channel, "
                    "region FROM sales WHERE quantity > 0 AND total_amount > 0)",
            }
            out: dict = {}
            for (layer, table), sql in q.items():
                out.setdefault(layer, {})[table] = con.execute(sql).fetchone()[0]
            return out
        finally:
            con.close()

    # -- passes -------------------------------------------------------------
    def run_pass(self, ops, pass_no: int, traced: bool) -> None:
        chain, rest = ops
        rest = list(rest)
        self.order_rng.shuffle(rest)
        order = chain + rest
        if traced:
            self.probe.collect()  # drop what untraced operations left
        t0 = time.perf_counter()
        for op in order:
            self.execute(op, pass_no, traced)
        self.passes.append({"pass": pass_no, "traced": traced,
                            "wall": time.perf_counter() - t0, "ops": len(order)})

    def execute(self, op: Op, pass_no: int, traced: bool) -> None:
        tracer = self.tracer if traced else None
        if tracer:
            tracer.op_id = f"{pass_no}:{op.name}"
            before = _cache_snapshot(self.cache)
            self.lookups = []
        self.spark.sparkContext.setJobGroup(f"perfbench-{pass_no}-{op.name}",
                                            op.name)
        result, error = None, None
        span = tracer.span("op", entry=op.name) if tracer else nullcontext({})
        t0 = time.perf_counter()
        try:
            with span as s:
                result = op.run(traced)
        except Exception as e:
            error = f"{type(e).__name__}: {e}"[:400]
        wall = time.perf_counter() - t0
        if error is None and wall > OP_TIMEOUT_S:
            error = f"timeout: {wall:.1f}s"
        if error is None and op.validate is not None:
            try:
                op.validate(result)
            except CheckFailed as e:
                error = f"check: {e}"[:400]
        rec = {"name": op.name, "module": op.module, "pass": pass_no,
               "traced": traced, "wall": wall, "error": error}
        if tracer:
            rec["layers"] = self.layer_counts(s, before)
        self.records.append(rec)
        if error:
            print(f"perfbench: {op.name} failed: {error}", file=sys.stderr)

    def install_wrappers(self) -> None:
        """Spans around the public functions the operations reach."""
        from tracing import wrap_public

        from etl_project_gcp_spark.plans import export, incremental, medallion
        from etl_project_gcp_spark.plans import reports, verify
        from etl_project_gcp_spark.sources import layout

        t = self.tracer
        MP = medallion.MedallionPipeline
        wrap_public(t, MP, ["bronze_layer"], "medallion.bronze_s")
        wrap_public(t, MP, ["silver_layer"], "medallion.silver_s")
        wrap_public(t, MP, ["gold_layer", "refresh_gold_sales_summary_incremental"],
                    "medallion.gold_s")
        wrap_public(t, medallion, ["run_corpus_gold_sales_summary",
                                   "run_corpus_gold_incremental"],
                    "medallion.gold_s")
        wrap_public(t, verify, ["verify_results", "verify_results_detailed"],
                    "verify.s")
        wrap_public(t, reports, ["sample_reports"], "reports.s")
        wrap_public(t, incremental, ["merge_upsert", "merge_into_partitioned",
                                     "scd2_init", "scd2_apply"], "incremental.s")
        wrap_public(t, export, ["run_training_export"], "export.s")
        wrap_public(t, layout, ["compact_parquet", "write_sorted_parquet",
                                "write_zordered_parquet", "table_manifest",
                                "retention_vacuum"], "layout.s")
        root_fn = self.Q._cache_root

        def cache_root(kind, __fn=root_fn):
            self.lookups.append(kind)
            return __fn(kind)
        self.Q._cache_root = cache_root

    def layer_counts(self, span: dict, before) -> dict:
        """Layer counts for one traced operation, from the spans it left
        and what Spark recorded while it ran."""
        from tracing import job_time_in

        got = self.probe.collect()
        start, end = span["start"], span["end"]
        wall = end - start
        mine = [s for s in self.tracer.spans if s["op"] == self.tracer.op_id]
        builds = [(s["start"], s["end"]) for s in mine
                  if s["name"] == "queries.build"]
        jobs = got["jobs"]
        out = {k: 0.0 for k in PER_OP}
        out["queries.build_s"] = stats.union_length(builds)
        out["queries.build_jobs"] = sum(
            1 for j in jobs if any(b0 <= j["start"] <= b1 for b0, b1 in builds))
        phases = []
        for ex in got["executions"]:
            for name, p0, p1 in ex["phases"]:
                out[f"catalyst.{name}_s"] += p1 - p0
                phases.append((p0, p1))
            for k, v in ex["counts"].items():
                out[k] += v
        for j in jobs:
            self.tracer.add("spark.job", j["start"], j["end"], span["id"])
            out["spark.jobs"] += 1
            for k in ("stages", "tasks", "task_s", "task_cpu_s", "gc_s"):
                out[f"spark.{k}"] += j[k]
            for k in JOB_KEYS:
                out[k] += j[k]
        job_s = job_time_in(jobs, start, end)
        out["spark.no_job_s"] = wall - job_s
        out["job_s"] = job_s
        out["unattributed_s"] = stats.self_time(
            start, end, builds + phases + [(j["start"], j["end"]) for j in jobs])
        for name in PLAN_SPANS:
            out[name] = stats.union_length(
                (s["start"], s["end"]) for s in mine if s["name"] == name)
        prog = got["progress"]
        out["streams.batches"] = len(prog)
        for k in STREAM_KEYS:
            if k in ("state_rows", "state_bytes"):
                last: dict = {}
                for p in prog:
                    last[p["query"]] = p[k]
                out[f"streams.{k}"] = sum(last.values())
            else:
                out[f"streams.{k}"] = sum(p[k] for p in prog)
        out["streams.harness_s"] = (wall - out["streams.trigger_s"]) if prog else 0.0
        b, h = stats.classify_cache(self.lookups, before,
                                    _cache_snapshot(self.cache))
        out["artifacts.builds"], out["artifacts.hits"] = b, h
        out["artifacts.build_s"] = wall if b else 0.0
        out["wall"] = wall
        return out

    # -- checks -------------------------------------------------------------
    def check_outputs(self, ops) -> None:
        """Compare each registry entry's output with its oracle; a failed
        check fails every operation of that entry in this run."""
        if self.tracer:
            self.tracer.op_id = None
        seen: dict = {}
        for op in ops[0] + ops[1]:
            if op.name not in self.registry:
                continue
            sql = (None if op.name in W.PINNED_ORACLES
                   else self.oracles.get(op.name))
            try:
                for _ in range(1 if sql else 2):
                    check_entry(self.registry[op.name](self.spark, self.corpus),
                                sql, self.corpus, seen, op.name)
            except Exception as e:
                msg = f"check: {type(e).__name__}: {e}"[:400]
                print(f"perfbench: {op.name} {msg}", file=sys.stderr)
                for r in self.records:
                    if r["name"] == op.name and not r["error"]:
                        r["error"] = msg

    # -- results ------------------------------------------------------------
    def result(self) -> dict:
        attempted = len(self.records)
        failed = sum(1 for r in self.records if r["error"])
        if self.args.trace:
            values, names = self.per_layer(), SPEC["per_layer"]
        else:
            values, names = self.end_to_end(), SPEC["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in names}
        self.values = values
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    def _warm(self, traced: bool) -> tuple[list[dict], float]:
        recs = [r for r in self.records if r["pass"] > 0 and r["traced"] == traced]
        wall = sum(p["wall"] for p in self.passes
                   if p["pass"] > 0 and p["traced"] == traced)
        return recs, wall

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        kb = _vm_hwm_kb(os.getpid())
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            jvm = {p for p in {gw.proc.pid} | _descendants(gw.proc.pid)
                   if "java" in _cmdline(p)}
            kb += sum(_vm_hwm_kb(p) for p in jvm)
        return kb / 1024.0

    def end_to_end(self) -> dict:
        warm, wall = self._warm(False)
        lat = [r["wall"] for r in warm]
        pct, tail, _ = stats.tail_percentile(lat)
        first = [p["wall"] for p in self.passes if p["pass"] == 0]
        self.tail_pct = pct
        return {
            "setup_s": self.setup_parts["setup_s"],
            "first_pass_s": first[0],
            "ops_per_s": len(warm) / wall if wall else 0.0,
            "op_p50_s": stats.median(lat),
            "op_tail_s": tail,
        }

    def per_layer(self) -> dict:
        traced, _ = self._warm(True)
        plain, _ = self._warm(False)
        n_passes = sum(1 for p in self.passes if p["pass"] > 0 and p["traced"])
        layers = [r["layers"] for r in traced]
        out: dict = {}
        for k in ("session.start_s", "session.prewarm_s"):
            out[k] = self.setup_parts[k]
        out["peak_rss_mb"] = self.peak_rss_mb()
        for k in PER_OP:
            out[k] = statistics.fmean(x[k] for x in layers) if layers else 0.0
        wall = sum(x["wall"] for x in layers)
        out["spark.core_busy_frac"] = (
            sum(x["spark.task_s"] for x in layers) / (wall * self.nproc)
            if wall else 0.0)
        all_traced = [r["layers"] for r in self.records if r["traced"]]
        builds = self.setup_artifacts["builds"] + sum(
            x["artifacts.builds"] for x in all_traced)
        hits = sum(x["artifacts.hits"] for x in all_traced)
        out["artifacts.builds"] = builds
        out["artifacts.hits"] = hits
        out["artifacts.hit_ratio"] = hits / (hits + builds) if hits + builds else 0.0
        out["artifacts.build_s"] = self.setup_artifacts["build_s"] + sum(
            x["artifacts.build_s"] for x in all_traced)
        per_pass = (lambda v: v / n_passes) if n_passes else (lambda v: 0.0)
        for m in MODULES:
            out[f"{m}.s"] = per_pass(sum(
                r["wall"] for r in traced if r["module"] == m))
        for name in PLAN_SPANS:
            out[name] = per_pass(sum(x[name] for x in layers))
        etl = [r["wall"] for r in traced + plain if r["name"] == "trigger_etl"]
        out["medallion.etl_s"] = stats.median(etl)
        out["streams.batches"] = per_pass(sum(x["streams.batches"] for x in layers))
        for k in STREAM_KEYS + ("harness_s",):
            out[f"streams.{k}"] = per_pass(sum(x[f"streams.{k}"] for x in layers))
        out.update(self.small_split(plain, traced))
        out["trace_overhead_frac"] = self.trace_overhead(plain, traced)
        out["failed_frac"] = stats.failed_frac(
            len(self.records), sum(1 for r in self.records if r["error"]))
        return out

    @staticmethod
    def trace_overhead(plain: list[dict], traced: list[dict]) -> float:
        """Slowdown of the traced operations themselves: 1 - the ratio of
        summed per-entry median latencies, untraced over traced. Medians
        over alternating passes keep the warm-up trend out of it; the
        read-out between traced operations is not counted."""
        u = {n: stats.median(v) for n, v in _walls_by_name(plain).items()}
        t = {n: stats.median(v) for n, v in _walls_by_name(traced).items()}
        both = sorted(set(u) & set(t))
        busy_t = sum(t[n] for n in both)
        return 1.0 - sum(u[n] for n in both) / busy_t if busy_t else 0.0

    def small_split(self, plain: list[dict], traced: list[dict]) -> dict:
        """Where the time of operations under SMALL_OP_S (median untraced
        warm latency) goes: mean seconds per traced operation."""
        small = {n for n, v in _walls_by_name(plain).items()
                 if stats.median(v) < SMALL_OP_S}
        rows = [r["layers"] for r in traced if r["name"] in small]
        self.small_entries = sorted(small)

        def mean(f):
            return statistics.fmean(f(x) for x in rows) if rows else 0.0
        return {
            "small.wall_s": mean(lambda x: x["wall"]),
            "small.build_s": mean(lambda x: x["queries.build_s"]),
            "small.catalyst_s": mean(lambda x: x["catalyst.analysis_s"]
                                     + x["catalyst.optimization_s"]
                                     + x["catalyst.planning_s"]),
            "small.job_s": mean(lambda x: x["job_s"]),
            "small.no_job_s": mean(lambda x: x["spark.no_job_s"]),
            "small.task_s": mean(lambda x: x["spark.task_s"]),
            "small.unattributed_s": mean(lambda x: x["unattributed_s"]),
        }

    def facts(self) -> dict:
        import pyspark

        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "full": self.args.full, "nproc": self.nproc,
            "pyspark": pyspark.__version__, "sf": SF,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "steal_frac": round(_steal_frac(self.jiffies, _cpu_jiffies()), 4),
            "setup": self.setup_parts, "phase_s": getattr(self, "phase_s", None),
            "passes": len(self.passes),
            "tail_pct": getattr(self, "tail_pct", None),
            "small_entries": getattr(self, "small_entries", None),
            "op_s": {n: [round(w, 3) for w in v]
                     for n, v in _walls_by_name(self.records).items()},
        }

    def dump_trace(self) -> str:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{self.args.workload}-seed{self.args.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"facts": self.facts(), "values": self.values,
                       "records": self.records, "passes": self.passes,
                       "spans": self.tracer.spans}, f)
        return path

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process they started."""
        from pyspark import SparkContext

        procs = _descendants(os.getpid())
        if self.probe is not None:
            self.probe.close()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while any(_alive(p) for p in procs) and time.time() < deadline:
            time.sleep(0.2)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def _walls_by_name(records) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r["name"], []).append(r["wall"])
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def main(argv=None) -> int:
    t_start = time.perf_counter() - _process_age_s()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_project_gcp_spark", "queries.py")):
        print(f"perfbench: the program (etl_project_gcp_spark) is not in {ROOT}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    configure_env(tmp, nproc)
    bench = Bench(args, tmp, nproc, t_start)
    facts: dict = {}
    try:
        result = bench.run()
        facts.update(bench.facts())
        if bench.tracer is not None:
            facts["trace_file"] = bench.dump_trace()
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
        facts["shutdown_s"] = time.perf_counter() - t0
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps({"run": facts}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
