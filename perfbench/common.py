"""Pieces the batch and served workloads share: host sizing, the isolated
Spark configuration, the timed set-up, percentiles and metric records."""

from __future__ import annotations

import os
import time

DRIVER_MEMORY = "2g"


def cpus() -> int:
    """The CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark's task slots: half the CPUs. The other half is left to what
    runs beside the tasks (JIT and GC threads, Python workers, the served
    workload's Thrift threads and clients), so a run does not measure the
    scheduler. At sf0.1 the statements are latency-bound: local[2] ran the
    batch queries as fast as local[4] on a 4-CPU host."""
    return max(1, cpus() // 2)


def isolate(run_dir: str) -> dict[str, str]:
    """Keep every file Spark, Derby or Python writes under ``run_dir``.

    Returns the Spark conf that points the warehouse, the metastore home,
    the JVM temp dir and the block-manager dirs there. The environment
    variables are set before the JVM starts, so it inherits them."""
    dirs = {k: os.path.join(run_dir, k) for k in ("warehouse", "metastore", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TZ"] = "UTC"
    time.tzset()
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['metastore']}"
            # a fixed heap: growing G1's heap from its default start
            # stretched the served warm-up from ~3 rounds to ~8
            f" -Xms{DRIVER_MEMORY}"
        ),
    }


def timed_setup(tracer, conf: dict[str, str], sf_dir: str, served: bool):
    """The program's set-up as a user pays it: import, ``build_session``
    at local[cores] with cores shuffle partitions, SQL function and table
    registration (through ``Engine`` when served, else the query registry
    is loaded too), and one warm-up statement. Returns (spark, engine or
    None, seconds)."""
    t0 = time.perf_counter()
    with tracer.span("setup", stmt="setup"):
        from minimised_impala_spark.session import build_session

        n = cores()
        with tracer.span("session.build"):
            spark = build_session(
                app_name="perfbench", master=f"local[{n}]",
                shuffle_partitions=n, extra_conf=conf,
            )
        engine = None
        with tracer.span("functions.register"):
            if served:
                from minimised_impala_spark.engine import Engine

                engine = Engine(spark)
            else:
                from minimised_impala_spark.functions.parity import register_sql_functions

                register_sql_functions(spark)
        if not served:
            with tracer.span("queries.load"):
                from minimised_impala_spark.queries import load_all

                load_all()
        with tracer.span("tables.register"):
            from minimised_impala_spark.tables import register_tables

            register_tables(spark, sf_dir)
        with tracer.span("warmup"):
            spark.sql("SELECT 1").collect()
    return spark, engine, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0
