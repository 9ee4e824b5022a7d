"""Batch workloads: one client, closed loop, zero think time, in process.

A pass runs each of the workload's registry queries once, as
``registry.fresh(name)(spark, sf_dir)`` followed by ``collect()``. Pass 0
is the cold pass after set-up, in the listed order; warm passes, each in
an order drawn from the seed, follow. Those that start within
``WARMUP_S`` of the cold pass's end are untimed (the JVM is still
compiling: latencies fall by a third over them); measured passes then
run until ``seconds`` have passed, at least ``MIN_WARM_PASSES`` of them.
Between statements, outside the timed region, the result is checked
against the cached DuckDB oracle, ``queries.build + exec.collect`` must
explain the statement's latency to within ``RECONCILE_GAP``, and
``clearCache`` runs so that every statement computes from parquet.
"""

from __future__ import annotations

import os
import random
import time

import common
import layers
import oracle_gate
import probes

WORKLOADS = {
    "extensions_sf0.1": {
        "sf": "sf0.1",
        "queries": ["sim_lsh_ann", "sim_pq_ann", "text_tfidf_keywords"],
    },
}
WARMUP_S = 8.0  # untimed warm passes between the cold pass and the budget
MIN_WARM_PASSES = 2  # measured passes, however short the budget
RECONCILE_GAP = 0.05  # largest share of a latency its layers may leave unexplained


def run(workload: str, seed: int, seconds: float, traced: bool, fixtures, build_dir, run_dir):
    spec = WORKLOADS[workload]
    sf_dir = fixtures[spec["sf"]]
    names = spec["queries"]
    conf = common.isolate(run_dir)
    log_dir = os.path.join(run_dir, "events")
    if traced:
        conf.update(probes.event_log_conf(log_dir))
    tracer = probes.Tracer()
    spark, _, setup_s = common.timed_setup(tracer, conf, sf_dir, served=False)
    from minimised_impala_spark.queries import registry

    expected = oracle_gate.cached_oracles(
        build_dir, sf_dir, {name: registry.ORACLES[name] for name in names}
    )
    sc = spark.sparkContext

    rng = random.Random(seed)
    stmts: list[dict] = []
    passes: list[list[dict]] = []

    def run_pass(order):
        p = len(passes)
        passes.append([])
        for name in order:
            sid = f"p{p}:{name}"
            st = {"id": sid, "name": name, "pass": p, "ok": False}
            sc.setJobGroup(sid, name)
            try:
                with tracer.span("statement", stmt=sid) as root:
                    with tracer.span("queries.build") as b:
                        df = registry.fresh(name)(spark, sf_dir)
                    with tracer.span("exec.collect") as c:
                        rows = df.collect()
                st["latency"] = root["end"] - root["start"]
                st["build"] = b["end"] - b["start"]
                st["collect"] = c["end"] - c["start"]
                if traced:
                    st["phases"] = probes.phase_seconds(df)
                    st["plan"] = probes.plan_counters(df)
                    st["plan"]["rows_returned"] = len(rows)
                    st["seams"] = probes.seam_counters(spark)
                st["ok"] = oracle_gate.matches_batch(
                    expected[name], df.columns, dict(df.dtypes), rows
                )
                gap = abs(1.0 - (st["build"] + st["collect"]) / st["latency"])
                if gap > RECONCILE_GAP:
                    st.update(ok=False, error=f"build + collect is {gap:.1%} off the latency")
            except Exception as exc:  # counted as failed, the loop goes on
                st["error"] = repr(exc)[:500]
                st.setdefault("latency", root["end"] - root["start"])
            finally:
                sc.setJobGroup("", "")
                spark.catalog.clearCache()
            stmts.append(st)
            passes[-1].append(st)

    run_pass(names)  # the cold pass has one fixed shape; warm passes draw their order
    t_cold = time.perf_counter()
    while time.perf_counter() - t_cold < WARMUP_S:
        run_pass(rng.sample(names, len(names)))
    first, t_warm = len(passes), time.perf_counter()
    while len(passes) < first + MIN_WARM_PASSES or time.perf_counter() - t_warm < seconds:
        run_pass(rng.sample(names, len(names)))

    rss = probes.vm_hwm_mb(common.jvm_pid(spark))
    common.shutdown(spark)
    events = probes.event_log_counters(log_dir) if traced else {}

    warm = [s for s in stmts if s["pass"] >= first]
    lat = [s["latency"] for s in warm]
    # a typical warm pass: each query's median warm latency, summed, so
    # the order a pass drew does not move it
    pass_s = sum(
        common.percentile([s["latency"] for s in warm if s["name"] == name], 50)
        for name in names
    )
    first_pass_s = sum(s["latency"] for s in passes[0])
    e2e = {
        # until the cold pass's last row: work moved out of the warm
        # passes into set-up or the cold pass shows here
        "setup_s": common.metric(setup_s + first_pass_s, "s"),
        "pass_s": common.metric(pass_s, "s"),
        "latency_p50_s": common.metric(common.percentile(lat, 50), "s"),
        "latency_p90_s": common.metric(common.percentile(lat, 90), "s"),
        "statements_per_s": common.metric(len(warm) / sum(lat), "1/s"),
    }
    per_layer = None
    if traced:
        per_layer = layer_metrics(stmts, warm, events, tracer, pass_s)
        per_layer["jvm.peak_rss_mb"] = rss
        per_layer["cold.setup_s"] = setup_s
        per_layer["cold.first_pass_s"] = first_pass_s
    return {
        "statements": stmts,
        "passes": len(passes),
        "samples": len(warm),
        "e2e": e2e,
        "layers": per_layer,
        "spans": tracer.spans,
        "events": events,
    }


def layer_metrics(stmts, warm, events, tracer, pass_s) -> dict:
    """Per-layer numbers of a traced run: means per warm statement, except
    the set-up spans (seconds once) and the maxima."""
    out = layers.zero_layers()
    out.update(layers.setup_layers(tracer.spans))
    ok = [s for s in warm if "plan" in s]
    out.update(layers.exec_layers(ok, events))
    out["queries.build_s"] = common.mean(s["build"] for s in ok)
    out["exec.collect_s"] = common.mean(s["collect"] for s in ok)
    seams = [s["seams"] for s in stmts if "seams" in s]
    out["seams.held_rdds"] = common.mean(x["held_rdds"] for x in seams)
    out["seams.held_rdds_max"] = max((x["held_rdds"] for x in seams), default=0.0)
    out["seams.cached_mb"] = common.mean(x["cached_bytes"] for x in seams) / 2**20
    out["trace.pass_s"] = pass_s
    out["self.statement_s"] = probes.self_times(
        [sp for sp in tracer.spans if sp["stmt"] in {s["id"] for s in ok}]
    ).get("statement", 0.0) / max(len(ok), 1)
    out["oracle.failed_ratio"] = sum(not s["ok"] for s in stmts) / len(stmts)
    return out
