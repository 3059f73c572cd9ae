"""Pipeline benchmark for odibi_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload incremental_cdc --seed 1 --seconds 5 --trace 0

One client in one process drives the public API in a closed loop: each
op starts when the previous one has finished. Inputs come from
``gen.py`` (seeded); every op's output is checked against ``reference.py``
(DuckDB, never odibi_spark). The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see README.md).

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

import gen  # noqa: E402
import reference  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("incremental_cdc", "curation_dedup")
SETUP_REPEATS = 2
QUERIES_PER_OP = 2
NPROC = len(os.sched_getaffinity(0))

# One HWM state file per node: the layer-parallel nodes would otherwise
# race on the read-modify-write of a single JSON state file.
CDC_YAML = """
name: incremental_cdc
max_workers: {workers}
nodes:
  - name: dim_customer
    read: {{format: parquet, path: "{landing}/customers"}}
    incremental: {{column: updated_at}}
    state_path: "{out}/_state/dim_customer.json"
    pattern:
      type: dimension
      target_path: "{out}/dim_customer"
      natural_keys: [customer_id]
      surrogate_key: customer_sk
      scd: "2"
      track_cols: [name, segment, region]
      effective_time_col: updated_at
  - name: dim_product
    read: {{format: parquet, path: "{landing}/products"}}
    incremental: {{column: updated_at}}
    state_path: "{out}/_state/dim_product.json"
    pattern: {{type: merge, target_path: "{out}/dim_product", keys: [product_id]}}
  - name: fact_sales
    depends_on: [dim_customer]
    read: {{format: parquet, path: "{landing}/sales"}}
    incremental: {{column: updated_at}}
    state_path: "{out}/_state/fact_sales.json"
    pattern:
      type: fact
      grain: [sale_id]
      quarantine_path: "{out}/quarantine/fact_sales"
      lookups:
        - dimension: dim_customer
          fact_keys: [customer_id]
          dim_keys: [customer_id]
          surrogate_key: customer_sk
          output_col: customer_sk
          scd2: true
    write: {{path: "{out}/fact_sales", mode: upsert, keys: [sale_id]}}
"""

CURATION_YAML = """
name: curation_dedup
nodes:
  - name: curated
    read: {{format: parquet, path: "{input}/docs"}}
    transform:
      - function: clean_unicode
      - function: text_stats
      - function: repetition_signals
        params: {{id_col: doc_id}}
      - function: gopher_quality
      - function: filter_rows
        params: {{condition: "gopher_keep AND dup_line_fraction < 0.3"}}
      - function: dedup_exact
        params: {{id_col: doc_id}}
      - function: dedup_minhash
        params: {{id_col: doc_id, threshold: 0.7}}
    validation:
      tests:
        - {{name: doc_id_unique, type: unique, column: doc_id}}
    write: {{path: "{out}/curated", mode: overwrite, coalesce_partitions: 1}}
"""

# Semantic model over the refreshed star: the fact joined with the
# current customer version through the surrogate key.
SALES_VIEW = """
CREATE OR REPLACE TEMP VIEW sales_v AS
SELECT f.sale_id, f.customer_id, f.amount, f.updated_at, d.segment, d.region
FROM parquet.`{out}/fact_sales` f
JOIN (SELECT * FROM parquet.`{out}/dim_customer` WHERE is_current) d
  ON f.customer_sk = d.customer_sk
"""
METRICS = {
    "revenue": {"expr": "sum(amount)"},
    "orders": {"expr": "count(*)"},
    "buyers": {"expr": "count(DISTINCT customer_id)"},
    "aov": {"formula": "revenue / orders"},
}
DIMENSIONS = {
    "segment": {"column": "segment"},
    "region": {"column": "region"},
    "customer_id": {"column": "customer_id"},
    "hour": {"column": "updated_at", "grain": "hour"},
}
FILTERS = [None, "amount > 50", "region = 'north'", "segment IN ('consumer', 'corporate')"]
DIM_CHOICES = [[], ["segment"], ["region", "segment"], ["hour"], ["customer_id"]]
METRIC_CHOICES = [["revenue", "orders"], ["aov"], ["buyers", "revenue"], ["aov", "orders"]]


def query_mix(seed: int, op: int) -> list[tuple[list[str], list[str], str | None]]:
    """The op's seeded semantic queries: group counts from 1 to the
    number of customers, three filter selectivities, simple and
    derived (NULLIF-guarded) metrics."""
    r = gen.rng(seed, 5, op)
    return [
        (METRIC_CHOICES[r.integers(len(METRIC_CHOICES))],
         DIM_CHOICES[r.integers(len(DIM_CHOICES))],
         FILTERS[r.integers(len(FILTERS))])
        for _ in range(QUERIES_PER_OP)
    ]


def semantic_text(metrics, dims, where) -> str:
    text = ", ".join(metrics)
    if dims:
        text += " BY " + ", ".join(dims)
    if where:
        text += " WHERE " + where
    return text


def dir_bytes(path: str, since: float | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``; with ``since``, only files
    modified at or after it."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(base, n))
            if since is None or st.st_mtime >= since:
                total += st.st_size
                files += 1
    return total, files


def tree_snapshot(root: str, skip: str) -> dict[str, tuple[int, float]]:
    snap = {}
    for base, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if os.path.join(base, d) != skip]
        for n in names:
            p = os.path.join(base, n)
            st = os.lstat(p)
            snap[p] = (st.st_size, st.st_mtime)
    return snap


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Session:
    """Starts and stops the program's SparkSession with every path it
    writes inside the run's work directory."""

    def __init__(self, work: str, traced: bool):
        self.work = work
        self.traced = traced
        self.spark = None
        self.jvm_pid = None
        for d in ("warehouse", "local", "tmp", "eventlog"):
            os.makedirs(f"{work}/{d}", exist_ok=True)

    def start(self):
        from odibi_spark import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.local.dir": f"{self.work}/local",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}/tmp "
                # a pre-touched heap keeps peak_rss_mb from tracking GC heap sizing
                "-Xms2g -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{NPROC}]",
                               shuffle_partitions=NPROC, extra_conf=conf)
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Makes orphaned descendants (the Python workers the JVM forks)
    re-parent to this process, so ``stop_processes`` can wait for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}",
              file=sys.stderr)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while listing
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def stop_processes(grace_s: float = 30.0) -> None:
    """Stops the SparkContext and its JVM, then waits until every process
    this one started has ended: the JVM exits when its stdin closes, and
    whatever is still running after ``grace_s`` is terminated, then killed."""
    import signal

    from pyspark import SparkContext

    with contextlib.suppress(Exception):
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, and (as subreaper) no descendant either
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            deadline = time.monotonic() + 10
            for pid in descendants(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


def warm_up(spark, python_workers: bool) -> None:
    """First job (code generation, class loading) and, where the
    workload runs Arrow UDFs, the Python worker pool."""
    from pyspark.sql import functions as F

    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    if python_workers:
        spark.range(100).mapInPandas(lambda it: it, "id long").count()


class IncrementalCdc:
    """Set-up loads batch 0 (the whole customer and product dimensions
    and the initial sales) through the pipeline; each op lands one
    change batch, runs the same pipeline incrementally through
    ``run_pipeline_with_catalog`` and then the dashboard's semantic
    queries over the refreshed star."""

    python_workers = False
    # Timed ops per run, after the untimed warm-up op: as many as fit the
    # benchmark's time budget. A traced run times at least 2 (one traced,
    # one untraced).
    timed_ops = 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.batch = 0
        self.queries: list = []

    def generate(self) -> None:
        pass  # each set-up and op writes its own batch

    def _paths(self, root: str) -> dict:
        return {"landing": f"{root}/landing", "out": f"{root}/out",
                "catalog": f"{root}/out/_catalog", "workers": min(4, NPROC)}

    def bootstrap(self, spark, root: str) -> float:
        """Untimed input generation, then the timed initial load."""
        self.p = self._paths(root)
        self.catalog_root = self.p["catalog"]
        os.makedirs(f"{self.p['out']}/_state", exist_ok=True)
        gen.gen_cdc_initial(self.seed, self.p["landing"])
        t0 = time.perf_counter()
        self._run_pipeline(spark)
        self.batch = 0
        return time.perf_counter() - t0

    def _run_pipeline(self, spark) -> None:
        from odibi_spark.catalog import Catalog, run_pipeline_with_catalog
        from odibi_spark.plans.pipeline import Pipeline

        pipe = Pipeline.from_yaml(CDC_YAML.format(**self.p), spark)
        _, results = run_pipeline_with_catalog(
            pipe, catalog=Catalog(spark, self.p["catalog"]), parallel=True)
        bad = {n: r.error for n, r in results.items() if r.status != "success"}
        if bad:
            raise RuntimeError(f"pipeline nodes failed: {bad}")

    def prepare_op(self) -> dict:
        self.batch += 1
        info = gen.gen_cdc_batch(self.seed, self.p["landing"], self.batch)
        self.queries = query_mix(self.seed, self.batch)
        return info

    def op(self, spark, span) -> list:
        from odibi_spark.semantics import SemanticModel, SemanticQuery

        self._run_pipeline(spark)
        spark.sql(SALES_VIEW.format(**self.p))
        model = SemanticModel.from_dict(
            {"source": "sales_v", "metrics": METRICS, "dimensions": DIMENSIONS})
        sq = SemanticQuery(model)
        results = []
        for q in self.queries:
            # the collect launches the query's jobs: charge them to semantics
            with span("semantics", "collect"):
                results.append(sq.execute(spark, semantic_text(*q)).toPandas())
        return results

    def check(self, results) -> list[str]:
        errors = reference.check_cdc(self.p["landing"], self.p["out"])
        for q, got in zip(self.queries, results):
            want = reference.semantic_reference(self.p["landing"], *q)
            errors += [f"{semantic_text(*q)}: {e}"
                       for e in reference.frames_match(got, want, q[1])]
        return errors

    def output_dirs(self) -> list[str]:
        return [self.p["out"]]


class CurationDedup:
    """Each op runs the YAML curation chain over the same seeded
    documents with planted exact and near duplicates."""

    python_workers = True
    timed_ops = 1
    catalog_root = None

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input = f"{work}/input"
        self.ref = None

    def generate(self) -> dict:
        info = gen.gen_docs(self.seed, self.input)
        self.ref = reference.CurationReference(self.input)
        self.rows = info["rows"]
        self.in_bytes = dir_bytes(f"{self.input}/docs")[0]
        return info

    def bootstrap(self, spark, root: str) -> float:
        self.out = f"{root}/out"
        os.makedirs(self.out, exist_ok=True)
        return 0.0

    def prepare_op(self) -> dict:
        return {"rows": self.rows, "bytes": self.in_bytes}

    def op(self, spark, span) -> None:
        from odibi_spark.plans.pipeline import Pipeline

        results = Pipeline.from_yaml(
            CURATION_YAML.format(input=self.input, out=self.out), spark).run()
        bad = {n: r.error for n, r in results.items() if r.status != "success"}
        if bad:
            raise RuntimeError(f"pipeline nodes failed: {bad}")

    def check(self, results) -> list[str]:
        return self.ref.check(self.out)

    def output_dirs(self) -> list[str]:
        return [self.out]


def end_to_end_metrics(setups: list[float], lat: list[float], rows: int, in_bytes: int,
                       out_bytes: int, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "rows_per_s": (rows / sum(lat), "rows/s"),
        "write_amp": (out_bytes / in_bytes, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all the machine's CPUs since boot:
    time they ran anything, and time the hypervisor ran another guest on
    them while they had work."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def unstolen(walls: list[float], shares: list[float]) -> list[float]:
    """Wall times without the share the hypervisor stole from the CPUs
    while they had work. On a shared host that share swings from 0 to
    30% between minutes and would otherwise set the run-to-run spread;
    with no steal the times are the wall times."""
    return [w * (1 - s) for w, s in zip(walls, shares)]


def no_span(layer: str, name: str):
    return contextlib.nullcontext()


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    wl = {"incremental_cdc": IncrementalCdc, "curation_dedup": CurationDedup}[workload](seed, work)
    wl.generate()
    session = Session(work, traced)
    setups, start_s = [], None
    setup_steal, op_steal = [], []
    for rep in range(SETUP_REPEATS):
        root = f"{work}/run{rep}"
        if rep:
            shutil.rmtree(f"{work}/run{rep - 1}", ignore_errors=True)
            session.stop()
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        warm_up(spark, wl.python_workers)
        warm = time.perf_counter() - t0
        setups.append(warm + wl.bootstrap(spark, root))
        setup_steal.append(stolen_share(j0, cpu_jiffies()))
        if start_s is None:
            start_s = t1 - t0
    # One untimed warm-up op (code generation, JIT, Python-worker imports;
    # on incremental_cdc, the first merges into existing targets). Later
    # checks cover its output too.
    t0 = time.perf_counter()
    wl.prepare_op()
    wl.op(spark, no_span)
    warm_op_s = time.perf_counter() - t0
    tracer = tracing.Tracer() if traced else None
    lat, traced_flags = [], []
    attempted = failed = rows = in_bytes = out_bytes = 0
    out_files = 0
    min_ops = max(wl.timed_ops, 2) if traced else wl.timed_ops
    loop_start = time.perf_counter()
    while attempted < min_ops or time.perf_counter() - loop_start < seconds:
        info = wl.prepare_op()
        traced_op = tracer is not None and attempted % 2 == 0
        if traced_op:
            tracer.install()
        wall0 = time.time()
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        errors = []
        try:
            results = wl.op(spark, tracer.span if traced_op else no_span)
        except Exception:
            errors = [traceback.format_exc(limit=3)]
            results = None
        t1 = time.perf_counter()
        op_steal.append(stolen_share(j0, cpu_jiffies()))
        if traced_op:
            tracer.uninstall()
            tracer.end_op(t0, t1)
        attempted += 1
        lat.append(t1 - t0)
        traced_flags.append(traced_op)
        rows += info["rows"]
        in_bytes += info["bytes"]
        for d in wl.output_dirs():
            b, f = dir_bytes(d, since=wall0)
            out_bytes += b
            out_files += f
        if not errors:
            errors = wl.check(results)
        if errors:
            failed += 1
            print(f"op {attempted}: " + "; ".join(errors)[:2000], file=sys.stderr)

    print(f"setups {[round(x, 2) for x in setups]} warm-up op {warm_op_s:.2f} "
          f"ops {[round(x, 2) for x in lat]} "
          f"loop {time.perf_counter() - loop_start:.1f}s "
          f"steal setups {[round(x, 3) for x in setup_steal]} ops {[round(x, 3) for x in op_steal]}",
          file=sys.stderr)
    metrics = {}
    if not traced:
        metrics = end_to_end_metrics(unstolen(setups, setup_steal), unstolen(lat, op_steal),
                                     rows, in_bytes, out_bytes, session.peak_rss_mb())
    session.stop()
    if traced:
        metrics = tracing.layer_metrics(
            tracer, f"{work}/eventlog", lat, traced_flags, start_s,
            catalog_root=wl.catalog_root,
            files_per_op=out_files / attempted)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import odibi_spark
    except ImportError as e:
        print(f"odibi_spark is not importable from {root}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(odibi_spark.__file__).startswith(root + os.sep):
        print(f"odibi_spark loaded from {odibi_spark.__file__}, not from {root}",
              file=sys.stderr)
        return 2

    # Spark workers and the JVM inherit these: nothing compiles into the
    # tree, and no JVM (launcher, driver, `java -version`) writes its
    # /tmp/hsperfdata_* file, so the run writes only inside the checkout.
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = tree_snapshot(root, os.path.join(root, ".perfbench_work"))
    become_subreaper()
    print(json.dumps(machine_facts()), file=sys.stderr)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        # before the rmtree: the JVM's shutdown hooks delete its local dirs
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_work"))
        except OSError:
            pass  # another run's work directory is still there
    after = tree_snapshot(root, os.path.join(root, ".perfbench_work"))
    if after != before:
        changed = sorted(set(after.items()) ^ set(before.items()))
        print(f"run changed the checkout outside its work directory: {changed[:10]}",
              file=sys.stderr)
        result["correct"] = False
    print(json.dumps(result))
    return 0


def machine_facts() -> dict:
    import platform
    import subprocess

    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"nproc": NPROC, "spark": pyspark.__version__,
            "java": next((line for line in java.splitlines() if "version" in line), None),
            "python": platform.python_version(), "numpy": np.__version__}


if __name__ == "__main__":
    sys.exit(main())
