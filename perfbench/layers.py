"""The per-layer metric set and how spans and counters fill it.

Every traced run prints every name below; a layer a workload does not
reach reads 0 (for example the Python crossing on ``served_sql_sf0.1``)."""

from __future__ import annotations

import common

MB = 2**20

NAMES = (
    "session.build_s", "functions.register_s", "tables.register_s",
    "queries.build_s", "dialect.translate_s", "engine.sql_s",
    "spark.analysis_s", "spark.optimization_s", "spark.planning_s",
    "exec.collect_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.failed_tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.fetch_wait_s",
    "exec.spill_mb", "exec.cpu_util", "exec.exchanges",
    "exec.broadcast_collect_s", "exec.rows_scanned_per_row_returned",
    "extensions.python_nodes", "extensions.python_boot_s",
    "extensions.python_init_s", "extensions.python_total_s",
    "extensions.python_sent_mb", "extensions.init_share",
    "seams.held_rdds", "seams.held_rdds_max", "seams.cached_mb",
    "seams.inmemory_scans", "beeswax.execute_s", "beeswax.fetch_s",
    "beeswax.close_s", "beeswax.fetch_rows_per_s", "beeswax.wire_overhead_s",
    "engine.write_s", "writes.files_per_statement", "writes.bytes_per_row",
    "jvm.peak_rss_mb", "cold.setup_s", "cold.first_pass_s",
    "self.statement_s", "trace.pass_s",
    "oracle.failed_ratio",
)


def zero_layers() -> dict[str, float]:
    return dict.fromkeys(NAMES, 0.0)


def setup_layers(spans) -> dict[str, float]:
    total = {}
    for sp in spans:
        if sp["stmt"] == "setup" and sp["name"] in ("session.build", "functions.register", "tables.register"):
            total[sp["name"] + "_s"] = total.get(sp["name"] + "_s", 0.0) + sp["end"] - sp["start"]
    return total


def exec_layers(stmts, events) -> dict[str, float]:
    """Means per statement of the phase, plan and event-log counters of
    ``stmts`` (each carrying ``phases``, ``plan`` and ``latency``)."""
    n = max(len(stmts), 1)

    def total(key, source):
        return sum(s[source].get(key, 0.0) for s in stmts)

    ev = [events.get(s["id"], {}) for s in stmts]

    def ev_total(key):
        return sum(e.get(key, 0.0) for e in ev)

    init, py_total = total("python_init_s", "plan"), total("python_total_s", "plan")
    wall = sum(s["latency"] for s in stmts)
    return {
        "spark.analysis_s": total("analysis", "phases") / n,
        "spark.optimization_s": total("optimization", "phases") / n,
        "spark.planning_s": total("planning", "phases") / n,
        "exec.jobs": ev_total("jobs") / n,
        "exec.stages": ev_total("stages") / n,
        "exec.tasks": ev_total("tasks") / n,
        "exec.failed_tasks": ev_total("failed_tasks") / n,
        "exec.task_run_s": ev_total("task_run_s") / n,
        "exec.task_cpu_s": ev_total("task_cpu_s") / n,
        "exec.gc_s": ev_total("gc_s") / n,
        "exec.shuffle_write_mb": ev_total("shuffle_write_bytes") / MB / n,
        "exec.shuffle_read_mb": ev_total("shuffle_read_bytes") / MB / n,
        "exec.fetch_wait_s": ev_total("fetch_wait_s") / n,
        "exec.spill_mb": ev_total("spill_bytes") / MB / n,
        "exec.cpu_util": ev_total("task_cpu_s") / (wall * common.cores()) if wall else 0.0,
        "exec.exchanges": total("exchanges", "plan") / n,
        "exec.broadcast_collect_s": total("broadcast_collect_s", "plan") / n,
        "exec.rows_scanned_per_row_returned": (
            total("rows_scanned", "plan") / max(total("rows_returned", "plan"), 1.0)
        ),
        "extensions.python_nodes": total("python_nodes", "plan") / n,
        "extensions.python_boot_s": total("python_boot_s", "plan") / n,
        "extensions.python_init_s": init / n,
        "extensions.python_total_s": py_total / n,
        "extensions.python_sent_mb": total("python_sent_bytes", "plan") / MB / n,
        "extensions.init_share": init / (init + py_total) if init + py_total else 0.0,
        "seams.inmemory_scans": total("inmemory_scans", "plan") / n,
    }
