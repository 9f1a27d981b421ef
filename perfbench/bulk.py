"""bulk_load worker: repeated load cycles of one seeded point set.

Set-up writes the point set to parquet and runs one untimed cycle. Each
timed cycle starts ``zenodb_spark.server`` on a fresh persisted dbdir,
folds the parquet points in with ``DB.insert`` and ``Table.compact()`` on
every table and appends one RPC insert batch. The last cycles then answer
the verification queries through the server's transports: each route (RPC
query, HTTP ``/query``, HTTP ``/immediate``) runs each of its SQL variants
once, and one ``/immediate`` query repeats from the result cache. The
queries merge the compacted store with the appended batch.

Run by perfbench/run.py; writes ``result.json`` into the run directory.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import urllib.parse
from pathlib import Path

import numpy as np

from common import SPEC, geomean, now, passes, spark_conf, summary
from tracing import NullTracer, Tracer, install_engine_shims, layer_metrics

BULK = SPEC["workloads"]["bulk_load"]


def zipf_choice(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def make_points(rng: np.random.Generator, n: int, path: Path) -> tuple[dict, list]:
    """Write ``n`` seeded points to parquet and draw one RPC batch; return
    the generator's tally of both, and the batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def draw(size: int):
        host = zipf_choice(rng, BULK["hosts"], BULK["zipf_s"], size)
        region = zipf_choice(rng, BULK["regions"], BULK["zipf_s"], size)
        v = rng.integers(0, BULK["value_max"] + 1, size=size)
        ts = BULK["epoch"] + rng.uniform(0, BULK["span_s"], size=size)
        return host, region, v, ts

    host, region, v, ts = draw(n)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array((ts * 1e6).astype("int64"), pa.timestamp("us", tz="UTC")),
                "host": pa.array([f"h{h}" for h in host]),
                "region": pa.array([f"r{r}" for r in region]),
                "v": pa.array(v.astype("float64")),
            }
        ),
        path,
    )
    bh, br, bv, bts = draw(BULK["rpc_batch_points"])
    batch = [(float(t), f"h{h}", f"r{r}", float(x)) for t, h, r, x in zip(bts, bh, br, bv)]
    host, region, v = np.concatenate([host, bh]), np.concatenate([region, br]), np.concatenate([v, bv])
    nr = BULK["regions"]
    cnt = np.bincount(region, minlength=nr)
    tot = np.bincount(region, weights=v, minlength=nr)
    tally = {
        "points": len(host),
        "region_cnt": {f"r{r}": int(c) for r, c in enumerate(cnt) if c},
        "region_sum": {f"r{r}": int(x) for r, (x, c) in enumerate(zip(tot, cnt)) if c},
        "h0_cnt": int((host == 0).sum()),
    }
    return tally, batch


def load_cycle(spark, dbdir: Path, points: str, batch: list):
    """Server start on a fresh dbdir + DB.insert of the parquet points +
    compaction + one RPC insert batch, which stays an appended part the
    queries merge; returns (server handle, seconds)."""
    from zenodb_spark import server
    from zenodb_spark.rpc import Client

    t0 = now()
    handle = server.start(spark, schema_yaml=BULK["schema"], dbdir=str(dbdir))
    handle.db.insert("points", spark.read.parquet(points))
    for t in handle.db.tables.values():
        t.compact()
    ins = Client(*handle.rpc_addr).new_inserter("points")
    for ts, host, region, v in batch:
        ins.insert(ts, {"host": host, "region": region}, {"v": v})
    report = ins.close()
    if report.get("succeeded") != len(batch):
        handle.stop()
        raise RuntimeError(f"RPC insert report {report}")
    return handle, now() - t0


def verify_calls() -> list[tuple[str, str]]:
    """(route, SQL) of one cycle's verification queries: the routes take
    turns over their SQL variants; the cached route repeats the first
    /immediate query right after it."""
    sql = BULK["sql"]
    calls = []
    for i in range(len(sql["one_host"])):
        calls += [(route, sql[route][i]) for route in ("total", "by_region", "one_host")]
        if i == 0:
            calls.append(("one_host_cached", sql["one_host"][0]))
    return calls


def verify(handle, tally: dict, walls: dict[str, list[float]], wrong: list[str],
           calls: list[tuple[str, str]]) -> int:
    """Run verification queries through the transports; returns how many
    failed (errors and wrong answers)."""
    from service_load import http_get
    from zenodb_spark.rpc import Client

    http = f"http://{handle.http_addr[0]}:{handle.http_addr[1]}"
    client = Client(*handle.rpc_addr)

    def rpc_rows(text):
        fields, rows = client.query(text)
        return [dict(zip(fields, r)) for r in rows]

    def query_rows(text):
        body = json.loads(http_get(http, "/query?sql=" + urllib.parse.quote(text), 120))
        return [dict(zip(body["columns"], r)) for r in body["rows"]]

    def immediate_rows(text):
        body = json.loads(http_get(http, "/immediate?" + urllib.parse.quote(text), 120))
        return [dict(zip(body["Fields"], r["Vals"])) for r in body["Rows"]]

    def checks(route: str, rows: list[dict]) -> list[tuple]:
        if route == "total":
            return [("SUM(cnt)", sum(r["cnt"] for r in rows), tally["points"])]
        if route == "by_region":
            cnt, tot = {}, {}
            for r in rows:
                cnt[r["region"]] = cnt.get(r["region"], 0) + r["cnt"]
                tot[r["region"]] = tot.get(r["region"], 0) + r["total"]
            return [("per-region COUNT", cnt, tally["region_cnt"]),
                    ("per-region SUM", tot, tally["region_sum"])]
        return [("h0 COUNT", sum(r["cnt"] for r in rows), tally["h0_cnt"])]

    transport = {"total": rpc_rows, "by_region": query_rows,
                 "one_host": immediate_rows, "one_host_cached": immediate_rows}
    failed = 0
    for route, text in calls:
        t0 = now()
        try:
            rows = transport[route](text)
        except Exception as e:  # counted and reported
            failed += 1
            wrong.append(f"{route}: {type(e).__name__}: {e}"[:300])
            continue
        walls.setdefault(route, []).append(now() - t0)
        bad = [f"{route} {what}: {got} != {want}" for what, got, want in checks(route, rows)
               if got != want]
        if bad:
            failed += 1
            wrong += [b[:300] for b in bad]
    return failed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", type=Path, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    work = args.run_dir / "bulk"
    work.mkdir(parents=True, exist_ok=True)

    t_setup = now()
    from zenodb_spark.session import get_spark

    tracer = Tracer() if args.trace else NullTracer()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench_bulk", extra_conf=spark_conf(args.run_dir, bool(args.trace)))
    if args.trace:
        from service_server import install_transport_shims

        tracer.sc = spark.sparkContext
        install_engine_shims(tracer)
        install_transport_shims(tracer)
    rng = np.random.default_rng(args.seed)
    points = str(work / "points.parquet")
    tally, batch = make_points(rng, BULK["points"], Path(points))
    # one full cycle warms the JIT (each route's first SQL variant and the
    # cache hit); the replicated step is a server restart on the persisted
    # store it left (median counted)
    wrong: list[str] = []
    warm_dir = work / "warm"
    handle, _ = load_cycle(spark, warm_dir, points, batch)
    verify(handle, tally, {}, wrong, verify_calls()[:4])
    handle.stop()
    if wrong:
        raise RuntimeError(f"warm-up load failed its checks: {wrong}")
    from zenodb_spark import server

    restarts = []
    for _ in range(SPEC["setup_replicates"]):
        t0 = now()
        server.start(spark, schema_yaml=BULK["schema"], dbdir=str(warm_dir)).stop()
        restarts.append(now() - t0)
    shutil.rmtree(warm_dir, ignore_errors=True)
    setup_s = now() - t_setup - sum(restarts) + statistics.median(restarts)

    tracer.phase = "run"
    # the load warms up over the first timed cycles, so every cycle loads
    # and only the last ones also run the verification queries
    cycles = passes(args.seconds, BULK["nominal_cycle_s"])
    verified = range(cycles - BULK["verified_cycles"], cycles)
    loads: list[float] = []
    query_walls: dict[str, list[float]] = {}
    attempted = failed = 0
    store_bytes = 0
    t_run = now()
    for cycle in range(cycles):
        calls = verify_calls() if cycle in verified else []
        attempted += 1 + len(calls)
        dbdir = work / f"c{cycle}"
        try:
            handle, dt = load_cycle(spark, dbdir, points, batch)
        except Exception as e:  # counted and reported
            failed += 1 + len(calls)
            wrong.append(f"load cycle {cycle}: {type(e).__name__}: {e}"[:300])
        else:
            loads.append(dt)
            failed += verify(handle, tally, query_walls, wrong, calls)
            handle.stop()
            store_bytes = sum(f.stat().st_size for f in dbdir.rglob("*.parquet"))
        shutil.rmtree(dbdir, ignore_errors=True)
    t_end = now()

    ms = [w * 1000 for v in query_walls.values() for w in v]
    q = summary(ms)
    # bench.py's estimator: a route's (or a load's) fastest repetition is its
    # steady-state cost; co-tenant load on a small box only adds time. The
    # result-cache hit is reported, not gated: a few milliseconds of HTTP
    # round trip would weigh as much as a full query in the geomean.
    best_ms = {k: min(v) * 1000 for k, v in query_walls.items()}
    gated = [best_ms[k] for k in ("total", "by_region", "one_host") if k in best_ms]
    rows_per_s = tally["points"] / min(loads)
    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": not wrong and len(gated) == 3,
        "errors": wrong,
        "metrics": {
            "setup_s": setup_s,
            "query_geomean_ms": geomean(gated),
            "queries_per_s": len(ms) / (t_end - t_run),
            "ingest_rows_per_s": rows_per_s,
        },
        "details": {
            "bulk_rows_per_s": rows_per_s,
            "load_cycles_s": loads,
            "query_p50_ms": q["p50"],
            "query_p90_ms": q["p90"],
            "query_samples": len(ms),
            "per_route_min_ms": best_ms,
            "per_route_median_ms": {k: statistics.median(v) * 1000 for k, v in query_walls.items()},
            "cache_hit_ms": best_ms.get("one_host_cached"),
            "setup_restarts_s": restarts,
            "points": tally["points"],
            "store_bytes_per_point": store_bytes / tally["points"],
            "timed_wall_s": t_end - t_run,
        },
    }
    spark.stop()
    if args.trace:
        from common import parse_event_log

        tracer.counts["engine.store_bytes_per_point"] = store_bytes / tally["points"]
        result["layers"] = layer_metrics(
            tracer, parse_event_log(args.run_dir / "eventlog"), t_run, t_end
        )
        result["spans"] = tracer.dump()
    (args.run_dir / "result.json").write_text(json.dumps(result))


if __name__ == "__main__":
    main()
