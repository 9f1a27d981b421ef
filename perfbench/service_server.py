"""service_mixed server launcher: ``zenodb_spark.server.start`` in its own
process with a persisted dbdir, plus the workload's flush policy.

Protocol with perfbench/service_load.py: JSON lines. This process prints
``{"ready": ...}`` once set-up is done, then answers each command read from
standard input: ``run`` (the timed phase starts), ``final`` (compact every
table now and report), ``stop`` (report the trace, shut down, exit).

Flush policy (spec.json: service_mixed.flush_policy): a maintenance thread
calls ``Table.compact()`` on every table after every K acknowledged insert
batches. It shares one lock with ``DB.insert_rows`` and with the lowering
in ``DB.query_many``, because ``Table.compact()`` drops the parts that are
appended while it runs, and folds the scan snapshot ``query_many`` registers
(instead of the current parts) when it runs during that lowering. Query
execution is not locked: errors that a concurrent compaction causes in
queries are counted.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import random
import statistics
import sys
import threading
import traceback
import urllib.parse
from pathlib import Path

from common import SPEC, now, spark_conf
from tracing import NullTracer, Tracer, install_engine_shims, layer_metrics

SVC = SPEC["workloads"]["service_mixed"]


def emit(msg: dict) -> None:
    sys.stdout.write(json.dumps(msg) + "\n")
    sys.stdout.flush()


class FlushPolicy:
    """Counts acknowledged RPC insert batches; compacts every table after
    every ``k`` of them on a maintenance thread."""

    def __init__(self, db, k: int, tracer: Tracer):
        self.db = db
        self.k = k
        self.tracer = tracer
        self.writer = threading.Lock()
        self.points = 0
        self.acked = 0
        self.writer_wait_s = 0.0  # time spent waiting for the writer lock
        self.compactions: list[float] = []
        self.errors: list[str] = []
        self._done_at = 0
        self._cond = threading.Condition()
        self._stop = False
        self._thread = threading.Thread(target=self._loop, name="perfbench-maintenance", daemon=True)

        insert_rows = db.insert_rows

        def locked_insert_rows(stream, rows):
            with self.writer_held():
                insert_rows(stream, rows)
            self.points += len(rows)

        db.insert_rows = locked_insert_rows
        query_many = db.query_many

        def locked_query_many(sqls):
            with self.writer_held():
                return query_many(sqls)

        db.query_many = locked_query_many

    @contextlib.contextmanager
    def writer_held(self):
        t0 = now()
        with self.tracer.span("flush.writer_wait"):
            self.writer.acquire()
        self.writer_wait_s += now() - t0
        try:
            yield
        finally:
            self.writer.release()

    def start(self) -> None:
        self._thread.start()

    def batch_acked(self) -> None:
        with self._cond:
            self.acked += 1
            self._cond.notify()

    def compact_all(self) -> float:
        t0 = now()
        with self.writer_held():
            for t in list(self.db.tables.values()):
                t.compact()
        return now() - t0

    def _loop(self) -> None:
        while True:
            with self._cond:
                while not self._stop and self.acked - self._done_at < self.k:
                    self._cond.wait()
                if self._stop:
                    return
                self._done_at = self.acked
            try:
                self.compactions.append(self.compact_all())
            except Exception:  # keep maintaining; the failure is reported
                self.errors.append(traceback.format_exc()[-600:])

    def stop(self) -> None:
        with self._cond:
            self._stop = True
            self._cond.notify()
        if self._thread.is_alive():
            self._thread.join(timeout=120)


def install_transport_shims(tracer: Tracer, on_insert_ack=None) -> None:
    """Spans around the RPC and HTTP entry points (when tracing), and a
    callback after every acknowledged RPC insert batch."""
    from zenodb_spark import rpc, web

    handle_insert = rpc._RPCHandler._handle_insert

    def counted_insert(self, sock, first):
        with tracer.span("rpc.insert_batch"):
            handle_insert(self, sock, first)
        if on_insert_ack is not None:
            on_insert_ack()

    rpc._RPCHandler._handle_insert = counted_insert
    tracer.wrap(rpc._RPCHandler, "_handle_query", "rpc.query")
    tracer.wrap(web._Handler, "_handle_query", "web.query")
    tracer.wrap(web._Handler, "_handle_dashboard", "web.immediate")
    tracer.wrap(web.QueryRunner, "_finish", "web.encode")
    if isinstance(tracer, NullTracer):
        return
    # the QueryRunner thread's work for a dashboard request is linked to the
    # handler's span, so web.immediate's self time excludes it
    links: dict[str, int | None] = {}
    submit = web.QueryRunner.submit

    def linked_submit(self, sql, immediate, ce):
        links[ce.permalink] = tracer.current()
        return submit(self, sql, immediate, ce)

    run_batch = web.QueryRunner._run_batch

    def linked_run_batch(self, batch):
        with tracer.span("web.runner", link=links.pop(batch[0].ce.permalink, None)):
            return run_batch(self, batch)

    web.QueryRunner.submit = linked_submit
    web.QueryRunner._run_batch = linked_run_batch
    get_or_begin = web.ResultCache.get_or_begin

    def counted_get_or_begin(self, sql):
        ce, created = get_or_begin(self, sql)
        tracer.count("web.result_cache_lookup")
        if not created:
            tracer.count("web.result_cache_hit")
        return ce, created

    web.ResultCache.get_or_begin = counted_get_or_begin


def warm_up(handle, rng, tally: dict) -> None:
    """Two rounds of inserts, every route, then a compaction, through the
    real transports: the second round warms the shape the timed phase runs
    (a persisted main part plus appended parts)."""
    from service_load import http_get, point_batch, record_tally
    from zenodb_spark.rpc import Client

    client = Client(*handle.rpc_addr)
    http = f"http://{handle.http_addr[0]}:{handle.http_addr[1]}"
    sql = SVC["dashboards"]["sql"]
    for rnd in range(2):
        for i in range(2):
            pts = point_batch(rng, SVC["insert"]["batch_points"], -10 + 2 * rnd + i)
            ins = client.new_inserter(SVC["stream"])
            for ts, host, region, v in pts:
                ins.insert(ts, {"host": host, "region": region}, {"v": v})
            report = ins.close()
            if report.get("succeeded") != len(pts):
                raise RuntimeError(f"warm-up insert failed: {report}")
            record_tally(tally, pts)
        for path in (
            "/query?sql=" + urllib.parse.quote(sql["query"].format(region="r0")),
            "/immediate?" + urllib.parse.quote(sql["immediate_hot"]),
            "/immediate?" + urllib.parse.quote(sql["immediate"].format(host=f"h{rnd + 1}")),
        ):
            http_get(http, path, SVC["dashboards"]["timeout_s"])
        fields, rows = client.query(sql["rpc"].format(host="h0"))
        list(rows)
        for t in handle.db.tables.values():
            t.compact()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", type=Path, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t_setup = now()
    from zenodb_spark import server
    from zenodb_spark.session import get_spark

    tracer = Tracer() if args.trace else NullTracer()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench_server", extra_conf=spark_conf(args.run_dir, bool(args.trace)))
    if args.trace:
        tracer.sc = spark.sparkContext
        install_engine_shims(tracer)
    policy_ref: list = [None]
    install_transport_shims(tracer, lambda: policy_ref[0].batch_acked())

    # warm the JIT on every route once, then restart the server on the
    # persisted store setup_replicates times (median counted); the last one
    # serves the timed phase
    rng = random.Random(args.seed * 7 + 1)
    dbdir = str(args.run_dir / "db")
    k = SVC["flush_policy"]["every_k_batches"]
    handle = server.start(spark, schema_yaml=SVC["schema"], dbdir=dbdir)
    policy_ref[0] = FlushPolicy(handle.db, k, tracer)
    tally: dict = {}
    warm_up(handle, rng, tally)
    restarts = []
    for _ in range(SPEC["setup_replicates"]):
        handle.stop()
        t0 = now()
        handle = server.start(spark, schema_yaml=SVC["schema"], dbdir=dbdir)
        policy_ref[0] = FlushPolicy(handle.db, k, tracer)
        restarts.append(now() - t0)
    policy = policy_ref[0]
    policy.start()
    setup_s = now() - t_setup - sum(restarts) + statistics.median(restarts)
    emit(
        {
            "ready": True,
            "rpc": list(handle.rpc_addr),
            "http": list(handle.http_addr),
            "setup_s": setup_s,
            "setup_restarts_s": restarts,
            "warm_tally": {"|".join(k): v for k, v in tally.items()},
        }
    )
    t_run = t_end = now()
    for line in sys.stdin:
        cmd = json.loads(line)["cmd"]
        if cmd == "run":
            tracer.phase = "run"
            t_run = now()
        elif cmd == "final":
            t_end = now()
            policy.stop()
            try:
                final_s = policy.compact_all()
                emit({"final": True, "final_compact_s": final_s})
            except Exception:
                emit({"final": False, "error": traceback.format_exc()[-600:]})
        elif cmd == "stop":
            break
    points = max(policy.points, 1)
    store = sum(f.stat().st_size for f in Path(handle.db.workdir).rglob("*.parquet"))
    summary = {
        "stopped": True,
        "compactions_s": policy.compactions,
        "maintenance_errors": policy.errors,
        "acked_batches": policy.acked,
        "writer_wait_s": policy.writer_wait_s,
        "store_bytes_per_point": store / points,
    }
    handle.stop()
    spark.stop()
    if args.trace:
        from common import parse_event_log

        tracer.counts["engine.store_bytes_per_point"] = store / points
        summary["layers"] = layer_metrics(
            tracer, parse_event_log(args.run_dir / "eventlog"), t_run, t_end
        )
        summary["spans"] = tracer.dump()
    emit(summary)


if __name__ == "__main__":
    main()
