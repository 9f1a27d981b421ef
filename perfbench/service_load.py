"""service_mixed load generator (runs in the perfbench/run.py process).

One open-loop inserter thread sends fixed-size RPC insert batches on a fixed
schedule; each batch is timed from its due time, so a stall also delays the
batches queued behind it. Two closed-loop dashboard clients take turns
over HTTP ``/query``, HTTP ``/immediate`` (a stated share repeats one hot
SQL) and RPC ``query``; a dashboard query that errors is retried once, and
every error is counted. Parameters: spec.json, service_mixed.
"""

from __future__ import annotations

import functools
import gzip
import json
import random
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request
from pathlib import Path

from common import SPEC, RssSampler, geomean, now, summary

SVC = SPEC["workloads"]["service_mixed"]


@functools.lru_cache(maxsize=None)
def _zipf_cum(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return out


def zipf_index(rng: random.Random, n: int) -> int:
    return rng.choices(range(n), cum_weights=_zipf_cum(n, SVC["zipf_s"]))[0]


def point_batch(rng, n: int, batch_index: int) -> list[tuple]:
    """One insert batch: Zipf-skewed (host, region), integer values,
    timestamps inside the batch's minute of data time."""
    out = []
    base = SVC["epoch"] + batch_index * SVC["data_seconds_per_batch"]
    for _ in range(n):
        out.append(
            (
                base + rng.uniform(0, SVC["data_seconds_per_batch"]),
                f"h{zipf_index(rng, SVC['hosts'])}",
                f"r{zipf_index(rng, SVC['regions'])}",
                rng.randint(0, SVC["value_max"]),
            )
        )
    return out


def record_tally(tally: dict, points) -> None:
    for _, host, region, v in points:
        t = tally.setdefault((host, region), {"cnt": 0, "sum": 0})
        t["cnt"] += 1
        t["sum"] += v


def http_get(base: str, path: str, timeout: float) -> bytes:
    """GET with the dashboard's protocol: a 202 carries a /cached/ permalink
    to poll until the result is ready. Raises on any other non-200."""
    deadline = time.monotonic() + timeout
    url = base + path
    while True:
        left = deadline - time.monotonic()
        if left <= 0:
            raise TimeoutError(f"no result within {timeout}s for {path[:80]}")
        with urllib.request.urlopen(url, timeout=left) as resp:
            body = resp.read()
            if resp.status == 202:
                url = base + body.decode()
                continue
            if resp.headers.get("Content-Encoding") == "gzip":
                body = gzip.decompress(body)
            return body


def _check_rows(rows: list[dict], where: str) -> None:
    if not rows:
        raise ValueError(f"{where}: empty result")
    for r in rows:
        c = r.get("cnt")
        if c is None or c < 1 or c != int(c):
            raise ValueError(f"{where}: bad cnt {c!r}")


class Load:
    def __init__(self, seed: int, seconds: float, rpc_addr, http_addr):
        from zenodb_spark.rpc import Client

        self.seed = seed
        self.seconds = seconds
        self.client = Client(*rpc_addr, timeout=SVC["dashboards"]["timeout_s"])
        self.http = f"http://{http_addr[0]}:{http_addr[1]}"
        self.lock = threading.Lock()
        self.tally: dict = {}
        self.ack_ms: list[float] = []
        self.query_ms: list[float] = []
        self.route_ms: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.retried: list[str] = []
        self.query_errors = 0  # every failed dashboard attempt, retried or not
        self.acked_points = 0
        self.unsent = 0
        self.last_ack = self.last_due = self.last_query = 0.0
        self.t0 = 0.0

    def _fail(self, what: str, e: Exception) -> None:
        with self.lock:
            self.failed += 1
            if len(self.errors) < 50:
                self.errors.append(f"{what}: {type(e).__name__}: {e}"[:300])

    # -- inserts --------------------------------------------------------------
    def inserter(self) -> None:
        ins = SVC["insert"]
        rng = random.Random(self.seed)
        n_batches = max(1, int(self.seconds / ins["interval_s"]))
        for i in range(n_batches):
            due = self.t0 + i * ins["interval_s"]
            pts = point_batch(rng, ins["batch_points"], i)
            wait = due - now()
            if wait > 0:
                time.sleep(wait)
            elif now() - self.t0 >= self.seconds:
                self.unsent = n_batches - i  # still due when the window closed
                break
            with self.lock:
                self.attempted += 1
            try:
                inserter = self.client.new_inserter(SVC["stream"])
                for ts, host, region, v in pts:
                    inserter.insert(ts, {"host": host, "region": region}, {"v": v})
                report = inserter.close()
                if report.get("succeeded") != len(pts) or report.get("errors"):
                    raise RuntimeError(f"insert report {report}")
            except Exception as e:
                self._fail(f"insert batch {i}", e)
                continue
            done = now()
            with self.lock:
                record_tally(self.tally, pts)
                self.acked_points += len(pts)
                self.ack_ms.append((done - due) * 1000)
                self.last_ack, self.last_due = done, due

    # -- dashboards ----------------------------------------------------------------
    def dashboard(self, client_id: int) -> None:
        d = SVC["dashboards"]
        rng = random.Random(self.seed * 31 + client_id)
        routes = d["route_cycle"]
        turn = 2 * client_id
        while now() - self.t0 < self.seconds:
            label = routes[turn % len(routes)]
            turn += 1
            route, hot = label.removesuffix("_hot"), label.endswith("_hot")
            host = f"h{zipf_index(rng, SVC['hosts'])}"
            region = f"r{zipf_index(rng, SVC['regions'])}"
            with self.lock:
                self.attempted += 1
            t0 = now()
            for attempt in range(2):
                try:
                    self._dashboard_query(route, host, region, hot)
                    break
                except Exception as e:
                    with self.lock:
                        self.query_errors += 1
                    if attempt == 1:
                        self._fail(route, e)
                    elif len(self.errors) < 50:
                        self.retried.append(f"{route}: {type(e).__name__}: {e}"[:300])
            else:
                continue
            done = now()
            with self.lock:
                self.query_ms.append((done - t0) * 1000)
                self.route_ms.setdefault(label, []).append((done - t0) * 1000)
                self.last_query = max(self.last_query, done)

    def _dashboard_query(self, route: str, host: str, region: str, hot: bool) -> None:
        d = SVC["dashboards"]
        if route == "query":
            sql = d["sql"]["query"].format(region=region)
            body = json.loads(http_get(self.http, "/query?sql=" + urllib.parse.quote(sql), d["timeout_s"]))
            cols = body["columns"]
            _check_rows([dict(zip(cols, r)) for r in body["rows"]], "/query")
        elif route == "immediate":
            sql = d["sql"]["immediate_hot"] if hot else d["sql"]["immediate"].format(host=host)
            body = json.loads(http_get(self.http, "/immediate?" + urllib.parse.quote(sql), d["timeout_s"]))
            if body.get("SQL") != sql:
                raise ValueError("/immediate: response for another SQL")
            i = body["Fields"].index("cnt")
            _check_rows([{"cnt": r["Vals"][i]} for r in body["Rows"]], "/immediate")
        else:
            sql = d["sql"]["rpc"].format(host=host)
            fields, rows = self.client.query(sql)
            _check_rows([dict(zip(fields, r)) for r in rows], "rpc query")

    def run(self) -> None:
        self.t0 = now()
        threads = [threading.Thread(target=self.inserter, name="inserter")]
        threads += [
            threading.Thread(target=self.dashboard, args=(i,), name=f"dashboard{i}")
            for i in range(2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=self.seconds + 120)
            if t.is_alive():
                raise RuntimeError(f"{t.name} did not finish")

    def verify(self, warm_tally: dict) -> list[str]:
        """After the final compaction: per-(host, region) COUNT and SUM must
        equal the tally of every acknowledged point."""
        want: dict = {}
        for src in (self.tally, {tuple(k.split("|")): v for k, v in warm_tally.items()}):
            for k, v in src.items():
                w = want.setdefault(k, {"cnt": 0, "sum": 0})
                w["cnt"] += v["cnt"]
                w["sum"] += v["sum"]
        fields, rows = self.client.query(
            "SELECT cnt, total FROM svc_base GROUP BY host, region, period('24h')"
        )
        got: dict = {}
        for r in rows:
            r = dict(zip(fields, r))
            g = got.setdefault((r["host"], r["region"]), {"cnt": 0, "sum": 0})
            g["cnt"] += r["cnt"]
            g["sum"] += r["total"]
        if got == want:
            return []
        missing = sum(w["cnt"] for w in want.values()) - sum(g["cnt"] for g in got.values())
        diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return [
            f"stored COUNT/SUM differ from the acknowledged tally in {len(diff)} of "
            f"{len(want)} groups; {missing} acknowledged points missing (e.g. {diff[:3]})"
        ]


def _read_msg(proc: subprocess.Popen, key: str, deadline: float) -> dict:
    while True:
        if time.monotonic() > deadline:
            raise TimeoutError(f"server gave no {key!r} message in time")
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError(f"server exited before {key!r}")
        if line.startswith("{"):
            msg = json.loads(line)
            if key in msg:
                return msg


def _send(proc: subprocess.Popen, cmd: str) -> None:
    proc.stdin.write(json.dumps({"cmd": cmd}) + "\n")
    proc.stdin.flush()


def run_service(run_dir: Path, env: dict, seed: int, seconds: float, trace: bool, deadline: float) -> dict:
    from common import die, stop_group

    bench_dir = Path(__file__).resolve().parent
    log = open(run_dir / "server.log", "w")
    proc = subprocess.Popen(
        [sys.executable, str(bench_dir / "service_server.py"), "--run-dir", str(run_dir),
         "--seed", str(seed), "--trace", str(int(trace))],
        cwd=bench_dir.parent, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=log, text=True, start_new_session=True,
    )
    try:
        with RssSampler(proc.pid) as rss:
            ready = _read_msg(proc, "ready", deadline)
            load = Load(seed, seconds, ready["rpc"], ready["http"])
            _send(proc, "run")
            load.run()
            _send(proc, "final")
            final = _read_msg(proc, "final", deadline)
            wrong = list(load.errors)
            if final["final"]:
                wrong += load.verify(ready["warm_tally"])
            else:
                wrong.append(f"final compaction failed: {final['error']}")
            _send(proc, "stop")
            stopped = _read_msg(proc, "stopped", deadline)
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except (TimeoutError, RuntimeError, subprocess.TimeoutExpired) as e:
        stop_group(proc)
        log.close()
        tail = (run_dir / "server.log").read_text(errors="replace")[-3000:]
        die(f"service_mixed: {e}\n{tail}")
    finally:
        stop_group(proc)
        log.close()

    insert_wall = (load.last_ack - load.t0) if load.last_ack else float("nan")
    q = summary(load.query_ms)
    acks = summary(load.ack_ms)
    wrong += [f"maintenance: {e}" for e in stopped["maintenance_errors"]]
    check_failed = len(wrong) - len(load.errors)
    return {
        "attempted": load.attempted + 1,
        "failed": load.failed + min(check_failed, 1),
        "correct": check_failed == 0,
        "errors": wrong,
        "metrics": {
            "setup_s": ready["setup_s"],
            "query_geomean_ms": geomean(load.query_ms),
            "queries_per_s": len(load.query_ms) / (load.last_query - load.t0),
            "ingest_rows_per_s": load.acked_points / (insert_wall + final["final_compact_s"]),
        },
        "details": {
            "query_p50_ms": q["p50"],
            "query_p90_ms": q["p90"],
            "query_samples": q["n"],
            "route_p50_ms": {r: summary(v)["p50"] for r, v in load.route_ms.items()},
            "route_samples": {r: len(v) for r, v in load.route_ms.items()},
            "peak_rss_mb": rss.peak_mb,
            "insert_ack_geomean_ms": geomean(load.ack_ms),
            "insert_ack_p50_ms": acks["p50"],
            "insert_ack_p90_ms": acks["p90"],
            "insert_points_per_s": load.acked_points / insert_wall,
            "insert_ack_samples": acks["n"],
            "insert_lag_s": load.last_ack - load.last_due,
            "insert_unsent_batches": load.unsent,
            "query_errors": load.query_errors,
            "query_error_ratio": load.query_errors / max(1, load.query_errors + len(load.query_ms)),
            "retried_errors": load.retried,
            "acked_points": load.acked_points,
            "setup_restarts_s": ready["setup_restarts_s"],
            "final_compact_s": final.get("final_compact_s"),
            "compactions_s": stopped["compactions_s"],
            "acked_batches_server": stopped["acked_batches"],
            "flush_writer_wait_s": stopped["writer_wait_s"],
            "store_bytes_per_point": stopped["store_bytes_per_point"],
        },
        "layers": stopped.get("layers"),
        "spans": stopped.get("spans"),
    }
