"""Workload benchmark for the Spark warehouse and curation engine.

    python3 perfbench/run.py --workload warehouse_load --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. One process, one
closed-loop client, ``local[N]`` with N the number of usable cores.
The workload's operations run in whole passes; each pass visits every
operation once, the workload's first operation first and the rest in
an order drawn from ``--seed``. Passes repeat until ``--seconds`` of
operation time has been measured. The first pass starts as soon as
Spark is up, the way a batch job runs in a fresh JVM; at the declared
10 s it is the only one. The program only ever sees the fixed tables
under ``perfbench/data``; the seed changes the order of operations,
nothing else.

Each operation builds a registered query and collects its result as
Arrow, the way a client fetches it, or runs the incremental warehouse
load into a fresh directory. Outside the timed region the result is
checked against DuckDB (``check.py``); a mismatch or an exception
counts as a failed operation and the run goes on.

With ``--trace 0`` the run prints the end-to-end metrics, with
``--trace 1`` the per-layer metrics, which come from the span tracer
and Spark's status store (see ``ledger.py``). The last line of standard
output is the result; the line before it carries the run's metadata
(seed, operation order, core count, load average, failures).

Every file the run writes lives under ``perfbench/.work``; the run's
Spark scratch space and load outputs are removed when it ends, the
cache of oracle digests is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
PACKAGE = "global_superstore_data_warehouse_spark"
SETUPS = 5
LOAD_OP = "incremental_load"


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    tables: tuple[str, ...]
    ops: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # The nightly warehouse load: staging and the yearly fact
        # partitions in two increments, then an SCD1 upsert through the
        # copy-on-write and one through the merge-on-read table.
        Workload(
            "warehouse_load",
            "sf0.01",
            ("orders", "lineitem", "customer", "supplier", "part", "nation", "region"),
            (LOAD_OP, "cow_merge_upsert", "mor_merge_upsert"),
        ),
        # LLM-curation batch: entity resolution, near-duplicate
        # detection, clustering and similarity joins, bound by CPU,
        # shuffles and chains of jobs.
        Workload(
            "curation_batch",
            "sf0.01",
            ("customer", "supplier", "documents", "embeddings"),
            (
                "entity_resolution_customers",
                "minhash_lsh_candidates",
                "dedup_clusters",
                "jaccard_prefix_pairs",
                "simhash_near_dup_pairs",
                "semantic_dedup",
            ),
        ),
    )
}

# Peak RSS is in the metadata, not here: the JVM runs with the
# program's own 16 GB heap limit, and how far the collector grows the
# heap before it collects varies from run to run (up to 32% of the
# median between quartiles over ten seeds on a 4-core host), more than
# the largest bound a metric may have.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

# Program spans that carry at least 1% of some workload's traced wall
# time, plus the families the layer map names: the catalog, the
# similarity operators and the COW/MOR table reads.
SPANS = (
    "catalog.load",
    "functions.text.hashed_set",
    "functions.text.minhash_signature",
    "functions.text.tokens",
    "operators.graph.connected_components",
    "operators.keys.add_surrogate_key",
    "operators.par.build_concurrently",
    "operators.similarity.dot",
    "operators.similarity.norm",
    "operators.similarity.normalize",
    "plans.conformance.entity_resolution_customers",
    "plans.embeddings.semantic_dedup",
    "plans.fact.fact_orders",
    "plans.lakehouse.cow_merge_upsert",
    "plans.lakehouse.mor_merge_upsert",
    "plans.pipeline.run_incremental_pipeline",
    "plans.setsim.jaccard_pairs_for_docs",
    "plans.textops.dedup_clusters",
    "plans.textops.minhash_lsh_candidates",
    "plans.textops.simhash_near_dup_pairs",
    "sources.audit.log_step",
    "sources.cowtable.create",
    "sources.cowtable.merge_scd1",
    "sources.cowtable.read_version",
    "sources.mortable.create",
    "sources.mortable.merge_upsert",
    "sources.mortable.read_version",
    "sources.staging.stage_append",
)

PER_LAYER = {
    "session.start_s": "s",
    "trace.pass_s": "s",
    "plans.build_ms": "ms",
    "plans.eager_jobs": "count",
    "plans.catalyst_ms": "ms",
    "driver.no_job_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.cpu_per_run": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_ms": "ms",
    # bytes Spark's writes produced, from the status store, and files,
    # from the SQL metric "number of written files"
    "sources.bytes_written": "B",
    "sources.files_written": "count",
    # the benchmark's own span around each operation: Catalyst, the
    # final action and the Arrow transfer, minus plan building
    "action.self_ms": "ms",
    "action.jobs": "count",
    **{
        f"{span}.{kind}": unit
        for span in SPANS
        for kind, unit in (("calls", "count"), ("self_ms", "ms"), ("jobs", "count"))
    },
}


@dataclass
class Op:
    """One operation: build a registered query and collect it, or run
    the incremental load; then check the result."""

    name: str
    build: object
    oracle_sql: str | None


@dataclass
class Load:
    """What the incremental load returned, and where it wrote."""

    out_dir: str
    counts: dict


def incremental_load(spark, sf_dir: str) -> Load:
    """``run_incremental_pipeline`` into a fresh directory. The check
    reads the directory back and then deletes it."""
    from global_superstore_data_warehouse_spark.plans.pipeline import (
        run_incremental_pipeline,
    )

    out_dir = tempfile.mkdtemp(prefix="load-")
    try:
        return Load(out_dir, run_incremental_pipeline(spark, sf_dir, out_dir))
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        raise


def prepare_environment(run_dir: str) -> None:
    """Point every scratch path of Python, the JVM and Spark into
    ``run_dir`` and make the program importable, also by Spark's
    Python workers."""
    conf_dir = os.path.join(run_dir, "conf")
    tmp_dir = os.path.join(run_dir, "tmp")
    for d in (conf_dir, tmp_dir):
        os.makedirs(d)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write(
            f"spark.local.dir {run_dir}/spark-local\n"
            f"spark.sql.warehouse.dir {run_dir}/spark-warehouse\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp_dir} "
            f"-Dderby.system.home={run_dir} -XX:-UsePerfData\n"
            "spark.ui.showConsoleProgress false\n"
        )
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    os.environ.update(
        SPARK_CONF_DIR=conf_dir,
        # the launcher JVM that spark-submit runs first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp_dir,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    tempfile.tempdir = tmp_dir
    os.chdir(run_dir)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def process_tree() -> list[tuple[int, str]]:
    """This process and its descendants, as (pid, kind) with kind
    ``python`` (this process), ``jvm`` or ``workers`` (the JVM's
    children: Spark's Python workers)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(entry))
    tree, todo = [], [(os.getpid(), "python")]
    while todo:
        pid, kind = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java":
            kind = "jvm"
        elif kind == "jvm":
            kind = "workers"
        tree.append((pid, kind))
        todo.extend((child, kind) for child in children.get(pid, ()))
    return tree


def reset_peak_rss() -> None:
    """Reset VmHWM to the current RSS across the process tree, so that
    the peak covers the measured passes only."""
    for pid, _ in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def process_tree_rss_mb() -> dict:
    """Peak resident set sizes (VmHWM) in MB of this process, the JVM
    and Spark's Python workers, and their sum."""
    rss = {"python": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid, kind in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        rss[kind] += hwm / 1024
    rss["total"] = sum(rss.values())
    return rss


def new_session():
    from global_superstore_data_warehouse_spark.session import get_spark

    return get_spark("perfbench")


def timed_setup(spark, sf_dir: str, tables: tuple[str, ...]):
    """Stop the session and start a fresh one in the same JVM, which
    has run the passes: build the session, bind the workload's tables
    in the catalog and run a first job. Returns the new session and the
    seconds it took."""
    from global_superstore_data_warehouse_spark import catalog

    spark.stop()
    t0 = time.perf_counter()
    spark = new_session()
    for t in tables:
        catalog.load(spark, sf_dir, t)
    catalog.load(spark, sf_dir, tables[0]).count()
    return spark, time.perf_counter() - t0


def shutdown_jvm(spark) -> None:
    """Stop Spark and wait until the JVM, and with it every Python
    worker it started, has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def workload_ops(workload: Workload) -> list[Op]:
    from global_superstore_data_warehouse_spark import registry

    queries, oracles = registry.queries(), registry.oracle_sql()
    return [
        Op(n, incremental_load, oracles["fact_orders"])
        if n == LOAD_OP
        else Op(n, queries[n], oracles.get(n))
        for n in workload.ops
    ]


def run(
    workload: Workload,
    seed: int,
    seconds: float,
    trace: bool,
    sf: str | None = None,
    extra_ops: tuple[Op, ...] = (),
) -> tuple[dict, dict]:
    """Run one measurement and return (result, metadata). ``sf`` and
    ``extra_ops`` let the self-test run on the small tables and add
    operations that must fail."""
    from check import Oracle

    sf = sf or workload.sf
    sf_dir = os.path.join(DATA_DIR, sf)
    ops = workload_ops(workload) + list(extra_ops)
    nproc = len(os.sched_getaffinity(0))
    meta = {
        "workload": workload.name,
        "seed": seed,
        "sf": sf,
        "nproc": nproc,
        "loadavg_1m_start": os.getloadavg()[0],
    }

    t0 = time.perf_counter()
    oracle = Oracle(sf_dir, os.path.join(WORK_DIR, "oracle-digests.json"), nproc)
    for op in ops:
        if op.oracle_sql is not None:
            oracle.expected(op.oracle_sql)
    meta["oracle_s"] = time.perf_counter() - t0

    attempted = 0
    failures, loads, ledgers = [], [], []
    peak_rss = {"total": 0.0}

    def run_pass(order: list[Op], tracer) -> tuple[float, list[float]]:
        """Run and check every operation once. Returns the pass time and
        the operation latencies."""
        nonlocal attempted, peak_rss
        latencies = []
        for op in order:
            attempted += 1
            latency, result, error, ledger = run_op(spark, op, sf_dir, tracer)
            latencies.append(latency)
            if ledger is not None:
                ledgers.append(ledger)
            if isinstance(result, Load):
                written = oracle.check_load(result.out_dir, result.counts, op.oracle_sql)
                shutil.rmtree(result.out_dir, ignore_errors=True)
                loads.append(written)
                error = error or written["problem"]
            elif error is None and op.oracle_sql is not None:
                if not oracle.matches(op.oracle_sql, result):
                    error = "result differs from the DuckDB oracle"
            if error is not None:
                failures.append({"op": op.name, "error": error})
            del result
            rss = process_tree_rss_mb()
            if rss["total"] > peak_rss["total"]:
                peak_rss = rss
        return sum(latencies), latencies

    t0 = time.perf_counter()
    spark = new_session()
    meta["jvm_start_s"] = time.perf_counter() - t0
    tracer = None
    try:
        if trace:
            from ledger import Tracer

            tracer = Tracer(spark)
        reset_peak_rss()
        rng = random.Random(seed)
        passes, orders, latencies = [], [], []
        while not passes or sum(passes) < seconds:
            # The first operation of a fresh JVM pays about 10 s of
            # one-time class loading and code-generation set-up, whatever
            # it is, so it is the same for every seed; the seed orders
            # the rest.
            order = ops[:1] + rng.sample(ops[1:], len(ops) - 1)
            orders.append([op.name for op in order])
            pass_s, lat = run_pass(order, tracer)
            passes.append(pass_s)
            latencies.append(lat)
        setup = []
        for _ in range(SETUPS):
            spark, s = timed_setup(spark, sf_dir, workload.tables)
            setup.append(s)
    finally:
        if tracer is not None:
            tracer.stop()
        shutdown_jvm(spark)
        oracle.close()

    meta.update(
        setup_s=setup,
        passes=passes,
        orders=orders,
        op_latencies=latencies,
        failures=failures,
        fail_ratio=len(failures) / attempted,
        peak_rss_mb=peak_rss,
        loadavg_1m_end=os.getloadavg()[0],
    )
    if loads:
        input_bytes = sum(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in workload.tables
        )
        meta["loads"] = loads
        meta["stored_bytes_per_input_byte"] = statistics.median(
            w["bytes"] / input_bytes for w in loads
        )
    if trace:
        metrics, meta["layer_totals"] = layer_metrics(ledgers, setup, passes)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": statistics.median(setup),
            "pass_s": statistics.median(passes),
        }
        units = END_TO_END
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, meta


def run_op(spark, op: Op, sf_dir: str, tracer):
    """Run one operation: build it and collect a query as Arrow. Returns
    (latency seconds, Arrow table or Load or None, error or None,
    ledger or None)."""
    result, error, ledger = None, None, None
    if tracer is not None:
        from ledger import catalyst_ms

        tracer.start()
        tracer.open("action")
    wall0 = time.time()
    t0 = time.perf_counter()
    build_end = wall0
    catalyst = 0.0
    try:
        result = op.build(spark, sf_dir)
        build_end = time.time()
        if not isinstance(result, Load):
            if tracer is not None:
                catalyst = catalyst_ms(result)
            result = result.toArrow()
    except Exception as exc:  # a failing operation is counted, not fatal
        error = f"{type(exc).__name__}: {exc}"[:500]
    latency = time.perf_counter() - t0
    wall1 = time.time()
    if tracer is not None:
        tracer.close()
        tracer.stop()
        ledger = tracer.op_ledger(wall0, wall1, build_end)
        ledger.catalyst_ms = catalyst
    return latency, result, error, ledger


def layer_metrics(ledgers, setup, passes) -> tuple[dict, dict]:
    """Per-pass averages of the traced ledgers: the metrics named in
    PER_LAYER, and every counter and span seen."""
    totals = defaultdict(float)
    for led in ledgers:
        totals["plans.build_ms"] += led.build_ms
        totals["plans.eager_jobs"] += led.eager_jobs
        totals["plans.catalyst_ms"] += led.catalyst_ms
        totals["driver.no_job_ms"] += led.no_job_ms
        for k, v in led.counters.items():
            totals[k] += v
        for span, (calls, self_ms, jobs) in led.spans.items():
            totals[f"{span}.calls"] += calls
            totals[f"{span}.self_ms"] += self_ms
            totals[f"{span}.jobs"] += jobs
    per_pass = {k: v / len(passes) for k, v in sorted(totals.items())}
    metrics = {k: per_pass.get(k, 0.0) for k in PER_LAYER}
    run_ms = totals["spark.executor_run_ms"]
    metrics["spark.cpu_per_run"] = totals["spark.executor_cpu_ms"] / run_ms if run_ms else 0.0
    metrics["session.start_s"] = statistics.median(setup)
    metrics["trace.pass_s"] = statistics.median(passes)
    return metrics, per_pass


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    # a terminated run still stops the JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK_DIR, exist_ok=True)
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        prepare_environment(run_dir)
        result, meta = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
