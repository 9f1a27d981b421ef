"""Span recording for traced runs.

A span is (name, start, end, parent, request id, phase) around one call
into a layer's public entry point; the phase tells set-up from the timed
phase. Spans are recorded by wrapping those entry
points from the benchmark's side (``Tracer.wrap``); the engine itself is not
modified. While a span is open its name is the thread's Spark job group, so
Spark's event log attributes every job to the innermost open layer.

Spans stay in memory and are summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self):
        self.sc = None  # set once the session exists: spans then name job groups
        self.spans: list[list] = []  # [name, start, end, parent, request id, phase]
        self.counts: dict[str, float] = {}  # timed phase only
        self.phase = "setup"  # "setup", then "run" for the timed phase
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    # -- recording ---------------------------------------------------------
    def current(self) -> int | None:
        """Index of this thread's innermost open span, if any."""
        stack = self._local.__dict__.get("stack")
        return stack[-1] if stack else None

    def count(self, name: str, n: float = 1) -> None:
        if self.phase != "run":
            return
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    @contextlib.contextmanager
    def span(self, name: str, link: int | None = None):
        """Record a span. ``link`` is the index of an open span on another
        thread that this work is done for: the new top-level span becomes its
        child and shares its request id, so the linked span's self time
        excludes the time spent here."""
        stack = self._local.__dict__.setdefault("stack", [])
        if stack:
            parent, request = stack[-1], self._local.request
        elif link is not None:
            parent, request = link, self.spans[link][4]
        else:
            parent, request = None, next(self._ids)
        self._local.request = request
        rec = [name, time.perf_counter(), None, parent, request, self.phase]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        prev_group = self._set_group(f"{self.phase}:{name}")
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.remove(idx)
            self._set_group(prev_group)

    def _set_group(self, name):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        return prev

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs in span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- summary -----------------------------------------------------------
    def self_times(self, phase: str) -> dict[str, float]:
        """Seconds per span name in ``phase``, net of each span's children
        (a linked child on another thread counts only while its parent is open)."""
        child = [0.0] * len(self.spans)
        for _, t0, t1, parent, _, _ in self.spans:
            if parent is not None and t1 is not None:
                p0, p1 = self.spans[parent][1], self.spans[parent][2] or t1
                child[parent] += max(0.0, min(t1, p1) - max(t0, p0))
        out: dict[str, float] = {}
        for i, (name, t0, t1, _, _, ph) in enumerate(self.spans):
            if t1 is not None and ph == phase:
                out[name] = out.get(name, 0.0) + (t1 - t0) - child[i]
        return out

    def coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by at least one top-level span."""
        ivs = sorted(
            (max(t0, start), min(t1, end))
            for _, t0, t1, parent, _, _ in self.spans
            if parent is None and t1 is not None and t1 > start and t0 < end
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return covered / (end - start) if end > start else 0.0

    def dump(self) -> list[dict]:
        """Every span, times in seconds on the run's monotonic clock."""
        return [
            {"name": n, "start": t0, "end": t1, "parent": p, "request": r, "phase": ph}
            for n, t0, t1, p, r, ph in self.spans
        ]


class NullTracer(Tracer):
    """Untraced runs: spans cost one context-manager entry and nothing else."""

    @contextlib.contextmanager
    def span(self, name: str, link: int | None = None):
        yield

    def count(self, name: str, n: float = 1) -> None:
        pass

    def wrap(self, owner, attr: str, name: str) -> None:
        pass


def layer_metrics(tracer: Tracer, jobs: dict, start: float, end: float) -> dict:
    """Per-layer figures shared by every workload, over the timed phase
    (set-up excluded except for the session start): self time per layer,
    the Spark work attributed to each layer's job group, span coverage."""
    st = tracer.self_times("run")
    c = tracer.counts

    def g(group: str, key: str):
        return jobs.get(f"run:{group}", {}).get(key, 0)

    exec_keys = ("jobs", "stages", "tasks", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes")
    out = {
        "session.get_spark_s": tracer.self_times("setup").get("session.get_spark", 0.0),
        "catalog.load_table_s": st.get("catalog.load_table", 0.0),
        "catalog.load_table_calls": c.get("catalog.load_table", 0),
        "catalog.load_table_jobs": g("catalog.load_table", "jobs"),
        "queries.build_s": st.get("queries.build", 0.0),
        "queries.build_jobs": g("queries.build", "jobs"),
        "catalyst.plan_s": st.get("catalyst.plan", 0.0),
        "exec.s": st.get("exec", 0.0),
        "exec.max_task_s": g("exec", "max_task_s"),
        "sqlparser.parse_s": st.get("sqlparser.parse", 0.0),
        "engine.query_s": st.get("engine.query", 0.0),
        "engine.plan_cache_hit_ratio": _ratio(c, "engine.plan_cache_hit", "engine.query"),
        "engine.parts_per_query": _ratio(c, "engine.parts_scanned", "engine.query"),
        "engine.insert_s": st.get("engine.insert", 0.0),
        "engine.insert_jobs": g("engine.insert", "jobs"),
        "engine.compact_s": st.get("engine.compact", 0.0),
        "engine.compact_jobs": g("engine.compact", "jobs"),
        "engine.parts_folded": c.get("engine.parts_folded", 0),
        "engine.store_bytes_per_point": c.get("engine.store_bytes_per_point", 0.0),
        "rpc.insert_batch_s": st.get("rpc.insert_batch", 0.0),
        "rpc.query_s": st.get("rpc.query", 0.0),
        "web.query_s": st.get("web.query", 0.0),
        "web.immediate_s": st.get("web.immediate", 0.0),
        "web.encode_s": st.get("web.encode", 0.0),
        "web.result_cache_hit_ratio": _ratio(c, "web.result_cache_hit", "web.result_cache_lookup"),
        "trace.span_coverage": tracer.coverage(start, end),
    }
    for k in exec_keys:
        out[f"exec.{k}"] = g("exec", k)
    return out


def _ratio(c: dict, num: str, den: str) -> float:
    return c.get(num, 0) / c[den] if c.get(den) else 0.0


def install_engine_shims(tracer: Tracer) -> None:
    """Spans and counters around the engine's public entry points (DB,
    Table, the dialect parser and DataFrame draining). Shared by every
    workload that uses the engine."""
    from pyspark.sql.classic.dataframe import DataFrame

    from zenodb_spark import engine
    from zenodb_spark.sqlparser import parser

    parse = parser.parse

    def traced_parse(sql):
        with tracer.span("sqlparser.parse"):
            return parse(sql)

    parser.parse = traced_parse
    engine.parse = traced_parse

    query = engine.DB.query

    def traced_query(self, sql):
        tracer.count("engine.query")
        if sql in self._plan_cache:
            tracer.count("engine.plan_cache_hit")
        tracer.count("engine.parts_scanned", _parts_for(self, sql))
        with tracer.span("engine.query"):
            return query(self, sql)

    engine.DB.query = traced_query

    query_many = engine.DB.query_many

    def traced_query_many(self, sqls):
        tracer.count("engine.query", len(sqls))
        for sql in sqls:
            tracer.count("engine.parts_scanned", _parts_for(self, sql))
        with tracer.span("engine.query"):
            return query_many(self, sqls)

    engine.DB.query_many = traced_query_many
    tracer.wrap(engine.DB, "insert", "engine.insert")
    tracer.wrap(engine.DB, "insert_rows", "engine.insert")

    compact = engine.Table.compact

    def traced_compact(self):
        n = len(self._parts)
        if n > 1:
            tracer.count("engine.parts_folded", n)
        with tracer.span("engine.compact"):
            return compact(self)

    engine.Table.compact = traced_compact

    # Draining a result: force Catalyst's physical plan first, so planning
    # and execution are timed apart (the action reuses the forced plan).
    # The rows are drained eagerly inside the exec span, so the consumer's
    # per-row work (RPC sends, web's size guard) is not counted as exec.
    to_local_iterator = DataFrame.toLocalIterator

    def traced_iter(self, *args, **kwargs):
        with tracer.span("catalyst.plan"):
            self._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            rows = list(to_local_iterator(self, *args, **kwargs))
        yield from rows

    DataFrame.toLocalIterator = traced_iter


def _parts_for(db, sql: str) -> int:
    low = sql.lower().split()
    if "from" not in low:
        return 0
    name = low[low.index("from") + 1].strip("();")
    t = db.tables.get(name)
    return len(t._parts) if t is not None else 0
