"""Served SQL workload: a Beeswax server over one ``Engine``, two clients.

The server runs in its own process (``python3 perfbench/served.py
--serve ...``) so the clients' Thrift decoding does not share its GIL.
Each client is a closed loop with zero think time over one connection:
``execute_and_wait``, ``fetch`` until ``has_more`` is false, then
``close_query``. A cycle sends one statement of each class with seeded
parameters, in a fixed order that each client rotates by its own offset;
the write class is four statements (CTAS, INSERT, checksum read-back,
DROP) on a table of the client's own. The clients run their cycles in
lockstep rounds: both start cycle k together, so which statements
overlap is the same in every round and every run. Every SQL text runs
verbatim on DuckDB after the timed loop and the rows are compared.
Round 0 is the cold pass and untimed warm-up rounds follow for
``WARMUP_S``; the budget starts when they end.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import threading
import time

import common
import layers
import oracle_gate
import probes

WORKLOAD = "served_sql_sf0.1"
SF = "sf0.1"
CLIENTS = 2
FETCH_SIZE = 1024
CLASSES = ("wide", "point", "selective_agg", "join_agg", "write")
CLIENT_ROTATION = 1
WARMUP_S = 8.0  # untimed warm rounds between the cold round and the budget
MIN_ROUNDS = 2  # measured rounds, however short the budget
WIDE_KEYS = 12_500  # ~5e4 lineitem rows at ~4 lines per order key
WRITE_KEYS = 2_000
N_ORDERS, N_CUSTOMERS = 150_000, 15_000


def _ts(year: int, month: int = 1) -> str:
    return f"TIMESTAMP '{year:04d}-{month:02d}-01 00:00:00'"


def statement_sql(cls: str, rng: random.Random, table: str) -> list[str]:
    """The SQL texts of one statement of ``cls``; written so that Spark,
    through the engine's dialect, and DuckDB both run them verbatim. A sum
    of doubles is rounded to its inputs' decimals (prices have 2, price
    times discount 4), as the registry's queries do: summed in another
    order it can otherwise straddle a rounding tie in the oracle's
    9-digit canonical form."""
    if cls == "point":
        return [
            "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
            f"FROM orders WHERE o_custkey = {rng.randrange(N_CUSTOMERS)}"
        ]
    if cls == "selective_agg":
        y, d, q = rng.randrange(1995, 2001), rng.randrange(2, 10) / 100, rng.randrange(20, 31)
        return [
            "SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue, count(*) AS n "
            f"FROM lineitem WHERE l_shipdate >= {_ts(y)} AND l_shipdate < {_ts(y + 1)} "
            f"AND l_discount BETWEEN {d - 0.015:.3f} AND {d + 0.015:.3f} AND l_quantity < {q}"
        ]
    if cls == "join_agg":
        y, m = rng.randrange(1995, 2001), rng.randrange(1, 13)
        return [
            "SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            f"WHERE o_orderdate >= {_ts(y, m)} AND o_orderdate < {_ts(y + 1, m)} "
            "GROUP BY c_mktsegment"
        ]
    if cls == "wide":
        lo = rng.randrange(N_ORDERS - WIDE_KEYS)
        return [
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            "l_extendedprice, l_discount, l_shipdate FROM lineitem "
            f"WHERE l_orderkey BETWEEN {lo} AND {lo + WIDE_KEYS - 1}"
        ]
    a, b = rng.randrange(N_ORDERS - WRITE_KEYS), rng.randrange(N_ORDERS - WRITE_KEYS)
    cols = "l_orderkey, l_partkey, l_quantity, l_extendedprice"
    return [
        f"CREATE TABLE {table} AS SELECT {cols} FROM lineitem "
        f"WHERE l_orderkey BETWEEN {a} AND {a + WRITE_KEYS - 1}",
        f"INSERT INTO {table} SELECT {cols} FROM lineitem "
        f"WHERE l_orderkey BETWEEN {b} AND {b + WRITE_KEYS - 1}",
        f"SELECT count(*) AS n, sum(l_quantity) AS qty, round(sum(l_extendedprice), 2) AS price "
        f"FROM {table}",
        f"DROP TABLE {table}",
    ]


def _tag(sid: str, cls: str, sql: str) -> str:
    return f"/* perfbench {sid} {cls} */ {sql}"


def _untag(text: str) -> tuple[str, str]:
    if text.startswith("/* perfbench "):
        _, _, sid, cls, _ = text.split(" ", 4)
        return sid, cls
    return "", ""


# ---------------------------------------------------------------------------
# server process


class BenchEngine:
    """The engine the server is given: forwards to the program's ``Engine``
    and, around each statement, sets the statement's job group and records
    spans for ``Engine.sql`` and the result ``collect``."""

    def __init__(self, engine, tracer, traced: bool) -> None:
        self._engine = engine
        self._tracer = tracer
        self._traced = traced
        self.records: dict[str, dict] = {}

    def __getattr__(self, name):
        return getattr(self._engine, name)

    def sql(self, text: str):
        sid, cls = _untag(text)
        spark = self._engine.spark
        spark.sparkContext.setJobGroup(sid, cls)
        rec = self.records.setdefault(sid, {"id": sid, "cls": cls})
        with self._tracer.span("engine.sql", stmt=sid) as sp:
            df = self._engine.sql(text)
        rec["sql_s"] = sp["end"] - sp["start"]
        collect = df.collect

        def timed_collect():
            with self._tracer.span("exec.collect", stmt=sid) as c:
                rows = collect()
            rec["collect_s"] = c["end"] - c["start"]
            if self._traced:
                rec["phases"] = probes.phase_seconds(df)
                rec["plan"] = probes.plan_counters(df)
                rec["plan"]["rows_returned"] = len(rows)
                rec["seams"] = probes.seam_counters(spark)
            return rows

        df.collect = timed_collect
        return df


def serve(args) -> None:
    conf = common.isolate(args.run_dir)
    log_dir = os.path.join(args.run_dir, "events")
    if args.trace:
        conf.update(probes.event_log_conf(log_dir))
    tracer = probes.Tracer()
    spark, engine, setup_s = common.timed_setup(tracer, conf, args.sf_dir, served=True)
    from minimised_impala_spark import dialect
    from minimised_impala_spark.beeswax import BeeswaxServer

    translate = dialect.translate

    def timed_translate(text):  # Engine.sql calls it through the module
        with tracer.span("dialect.translate"):
            return translate(text)

    dialect.translate = timed_translate

    bench = BenchEngine(engine, tracer, bool(args.trace))
    server = BeeswaxServer(bench).start()
    print(json.dumps({"port": server.port, "setup_s": setup_s}), flush=True)
    sys.stdin.read()  # the client closes stdin when its loop is done
    server.stop()
    rss = probes.vm_hwm_mb(common.jvm_pid(spark))
    common.shutdown(spark)
    with open(os.path.join(args.run_dir, "server.json"), "w") as f:
        json.dump({
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "records": bench.records,
            "spans": tracer.spans,
            "events": probes.event_log_counters(log_dir) if args.trace else {},
        }, f)


# ---------------------------------------------------------------------------
# client side


class Rounds:
    """Lockstep rounds of the clients' cycles. Every client waits at the
    barrier before each cycle; the last to arrive records the time and
    decides, for all, what the next round is: after the cold round 0,
    untimed warm-up rounds start for ``WARMUP_S``, then measured rounds
    for ``seconds``, at least ``MIN_ROUNDS`` of them."""

    def __init__(self, clients: int, seconds: float) -> None:
        self.seconds = seconds
        self.starts: list[float] = []
        self.first: int | None = None  # the first measured round
        self.go = True
        self.barrier = threading.Barrier(clients, action=self._next)

    def _next(self) -> None:
        now = time.perf_counter()
        self.starts.append(now)
        k = len(self.starts) - 1  # the round about to start
        if self.first is None:
            if k > 0 and now - self.starts[1] >= WARMUP_S:
                self.first = k
        else:
            self.go = k < self.first + MIN_ROUNDS or now < self.starts[self.first] + self.seconds

    def wait(self) -> bool:
        self.barrier.wait(timeout=170)
        return self.go

    def times(self) -> list[float]:
        """Wall time of each completed round."""
        return [b - a for a, b in zip(self.starts, self.starts[1:])]


def _client(port, client, seed, rounds, tracer, out, traced, warehouse) -> None:
    from minimised_impala_spark.beeswax import BeeswaxClient

    rng = random.Random(f"{seed}:{client}")
    # A fixed class order per client, rotated between clients: client 0
    # sends its wide statement first and client 1 last, so in a lockstep
    # round the two do not overlap (the other classes take longer than a
    # wide one). With a seeded order the overlap of the two wide
    # statements changed from seed to seed and moved pass_s and
    # latency_p90_s by up to 20%.
    shift = client * CLIENT_ROTATION
    order = CLASSES[shift:] + CLASSES[:shift]
    con = BeeswaxClient("127.0.0.1", port, timeout=170)
    cycle = 0
    try:
        while rounds.wait():
            for cls in order:
                table = f"perfbench_w{client}_{cycle}"
                for k, sql in enumerate(statement_sql(cls, rng, table)):
                    sid = f"c{client}-{cycle}-{cls}-{k}"
                    out.append(_one(con, tracer, sid, cls, cycle, client, sql, traced,
                                    os.path.join(warehouse, table)))
            cycle += 1
    except BaseException:
        rounds.barrier.abort()  # the other client stops instead of waiting
        raise
    finally:
        con.close()


def _one(con, tracer, sid, cls, cycle, client, sql, traced, table_dir) -> dict:
    text = _tag(sid, cls, sql)
    st = {"id": sid, "cls": cls, "cycle": cycle, "client": client, "sql": sql, "ok": False}
    try:
        with tracer.span("statement", stmt=sid) as root:
            with tracer.span("beeswax.execute") as ex:
                handle = con.execute_and_wait(text, log_context=sid)
            data, fetch_s, columns = [], 0.0, []
            while True:
                with tracer.span("beeswax.fetch") as fe:
                    page = con.fetch(handle, fetch_size=FETCH_SIZE)
                fetch_s += fe["end"] - fe["start"]
                data.extend(page["data"])
                columns = page["columns"]
                if not page["has_more"]:
                    break
            done = time.perf_counter()
            with tracer.span("beeswax.close") as cl:
                con.close_query(handle)
        st.update(
            latency=done - root["start"], execute_s=ex["end"] - ex["start"],
            fetch_s=fetch_s, close_s=cl["end"] - cl["start"],
            columns=columns, data=data,
        )
        if traced and sql.startswith(("CREATE", "INSERT")):
            parts = [f for f in os.listdir(table_dir) if f.endswith(".parquet")]
            st["files_total"] = len(parts)
            st["bytes_total"] = sum(os.path.getsize(os.path.join(table_dir, f)) for f in parts)
        st["ok"] = True  # until the oracle says otherwise
    except Exception as exc:  # counted as failed, the loop goes on
        st["error"] = repr(exc)[:500]
        st.setdefault("latency", time.perf_counter() - root["start"])
    return st


def _check(stmts, sf_dir) -> None:
    """Run every statement's SQL verbatim on DuckDB, each client's in its
    order (their write tables are disjoint), and mark a statement not ok
    when its rows differ."""
    from minimised_impala_spark.beeswax import BeeswaxServer

    con = oracle_gate.memory_connection(sf_dir)
    try:
        for client in range(CLIENTS):
            for st in (s for s in stmts if s["client"] == client):
                if "error" in st:
                    continue
                try:
                    duck = oracle_gate.run_duck(con, st["sql"])
                except Exception as exc:  # the oracle rejects what Spark ran
                    st.update(ok=False, error=f"oracle: {exc!r}"[:500])
                    continue
                if st["sql"].startswith("SELECT"):
                    st["ok"] = oracle_gate.matches_served(
                        st["columns"], st["data"], duck, BeeswaxServer.DELIM
                    )
                    if st["cls"] == "write" and st["ok"]:
                        st["table_rows"] = duck.column(0)[0].as_py()
                else:
                    st["ok"] = not st["data"]
                st["rows"] = len(st.pop("data"))
    finally:
        con.close()


def run(seed, seconds, traced, fixtures, build_dir, run_dir) -> dict:

    sf_dir = fixtures[SF]
    server_dir = os.path.join(run_dir, "server")
    os.makedirs(server_dir, exist_ok=True)
    cmd = [sys.executable, os.path.abspath(__file__), "--serve", "--sf-dir", sf_dir,
           "--run-dir", server_dir, "--trace", str(int(traced))]
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        ready = json.loads(proc.stdout.readline())
        tracer = probes.Tracer()
        rounds = Rounds(CLIENTS, seconds)
        results: list[list[dict]] = [[] for _ in range(CLIENTS)]
        errors: list[BaseException] = []

        def client(c):
            try:
                _client(ready["port"], c, seed, rounds, tracer, results[c], traced,
                        os.path.join(server_dir, "warehouse"))
            except BaseException as exc:  # re-raised below, after both stop
                errors.append(exc)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        proc.stdin.close()
        proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if errors:  # the client that failed first, not the one it stopped
        raise next((e for e in errors if not isinstance(e, threading.BrokenBarrierError)),
                   errors[0])
    with open(os.path.join(server_dir, "server.json")) as f:
        server = json.load(f)

    stmts = [s for r in results for s in r]
    _check(stmts, sf_dir)

    warm = [s for s in stmts if s["cycle"] >= rounds.first]
    lat = [s["latency"] for s in warm]
    round_s = rounds.times()
    measured = round_s[rounds.first:]
    window = sum(measured)  # the measured rounds, end to end
    e2e = {
        # until the cold round's last row: work moved out of the warm
        # rounds into set-up or the cold round shows here
        "setup_s": common.metric(server["setup_s"] + round_s[0], "s"),
        "pass_s": common.metric(common.percentile(measured, 50), "s"),
        "latency_p50_s": common.metric(common.percentile(lat, 50), "s"),
        "latency_p90_s": common.metric(common.percentile(lat, 90), "s"),
        "statements_per_s": common.metric(len(warm) / window, "1/s"),
    }
    out = None
    if traced:
        out = _layers(stmts, warm, server, tracer, common.percentile(measured, 50), window)
        out["jvm.peak_rss_mb"] = server["peak_rss_mb"]
        out["cold.setup_s"] = server["setup_s"]
        out["cold.first_pass_s"] = round_s[0]
    return {
        "statements": stmts,
        "passes": len(round_s),
        "samples": len(warm),
        "e2e": e2e,
        "layers": out,
        "spans": tracer.spans + [dict(s, side="server") for s in server["spans"]],
        "events": server["events"],
    }


def _layers(stmts, warm, server, tracer, pass_s, window) -> dict:
    recs = server["records"]
    out = layers.zero_layers()
    out.update(layers.setup_layers(server["spans"]))
    ok = [dict(recs[s["id"]], latency=s["latency"]) for s in warm if "plan" in recs.get(s["id"], {})]
    out.update(layers.exec_layers(ok, server["events"]))
    cpu = sum(server["events"].get(s["id"], {}).get("task_cpu_s", 0.0) for s in warm)
    out["exec.cpu_util"] = cpu / (window * common.cores())
    ids = {s["id"] for s in warm}
    translate = [sp["end"] - sp["start"] for sp in server["spans"]
                 if sp["name"] == "dialect.translate" and sp["stmt"] in ids]
    out["dialect.translate_s"] = sum(translate) / max(len(warm), 1)
    served = [recs[s["id"]] for s in warm if "collect_s" in recs.get(s["id"], {})]
    out["engine.sql_s"] = common.mean(r["sql_s"] for r in served)
    out["exec.collect_s"] = common.mean(r["collect_s"] for r in served)
    out["beeswax.execute_s"] = common.mean(s["execute_s"] for s in warm if "execute_s" in s)
    out["beeswax.fetch_s"] = common.mean(s["fetch_s"] for s in warm if "fetch_s" in s)
    out["beeswax.close_s"] = common.mean(s["close_s"] for s in warm if "close_s" in s)
    fetched = sum(s.get("rows", 0) for s in warm)
    fetch_time = sum(s.get("fetch_s", 0.0) for s in warm)
    out["beeswax.fetch_rows_per_s"] = fetched / fetch_time if fetch_time else 0.0
    out["beeswax.wire_overhead_s"] = common.mean(
        s["latency"] - recs[s["id"]]["sql_s"] - recs[s["id"]]["collect_s"]
        for s in warm if "collect_s" in recs.get(s["id"], {})
    )
    writes = [s for s in warm if "files_total" in s]
    out["engine.write_s"] = common.mean(
        recs[s["id"]]["sql_s"] + recs[s["id"]].get("collect_s", 0.0) for s in writes
    )
    # per write cycle: [CTAS, INSERT, checksum, DROP], in client order
    new_files, bytes_, rows = [], 0, 0
    by_id = {s["id"]: s for s in warm}
    for ctas in (s for s in writes if s["sql"].startswith("CREATE")):
        base = ctas["id"][:-1]
        ins, chk = by_id.get(base + "1", {}), by_id.get(base + "2", {})
        if "files_total" in ins and "table_rows" in chk:
            new_files += [ctas["files_total"], ins["files_total"] - ctas["files_total"]]
            bytes_ += ins["bytes_total"]
            rows += chk["table_rows"]
    out["writes.files_per_statement"] = common.mean(new_files)
    out["writes.bytes_per_row"] = bytes_ / rows if rows else 0.0
    seams = [r["seams"] for r in recs.values() if "seams" in r]
    out["seams.held_rdds"] = common.mean(x["held_rdds"] for x in seams)
    out["seams.held_rdds_max"] = max((x["held_rdds"] for x in seams), default=0.0)
    out["seams.cached_mb"] = common.mean(x["cached_bytes"] for x in seams) / 2**20
    out["trace.pass_s"] = pass_s
    out["self.statement_s"] = probes.self_times(
        [sp for sp in tracer.spans if sp["stmt"] in ids]
    ).get("statement", 0.0) / max(len(warm), 1)
    out["oracle.failed_ratio"] = sum(not s["ok"] for s in stmts) / len(stmts)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--serve", action="store_true", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    serve(ap.parse_args())
