"""headline_battery worker: a closed loop with one client over a fixed
subset of bench.py's HEADLINE queries, after bench.py's set-up (JVM and
parquet-footer warm-up, engine DB for the z-queries, untimed warm-up of
every query at sf0.001).

Each query is built, planned (Catalyst's physical plan is forced) and
drained: the planned query's RDD is counted, which computes every output
column like Spark's noop sink but reuses the plan forced in the planning
step. ``count()`` on the DataFrame would prune columns instead.

Run by perfbench/run.py; writes ``result.json`` into the run directory.
"""

from __future__ import annotations

import argparse
import json
import random
import statistics
from pathlib import Path

from common import SPEC, geomean, now, passes, spark_conf, summary
from tracing import NullTracer, Tracer, layer_metrics


def warm_up(spark, names: list[str], sf_dir: str, warm_dir: str) -> None:
    """bench.py's untimed warm-up: JVM and parquet footers at the timed
    scale, then every query once at the warm-up scale."""
    import bench
    from zenodb_spark import queries as Q

    sc = spark.sparkContext
    Q.QUERIES["q01_sum_period"](spark, sf_dir).limit(1).collect()
    protected = bench._persistent_ids(sc)
    for name in names:
        Q.QUERIES[name](spark, warm_dir).count()
    bench._unpersist_new(sc, protected)


def drain(spark, name: str, sf_dir: str, tracer: Tracer) -> int:
    """Build, plan and drain one query; returns its row count. The action
    runs on the plan forced in the planning step and computes every column."""
    from zenodb_spark import queries as Q

    with tracer.span("queries.build"):
        df = Q.QUERIES[name](spark, sf_dir)
    with tracer.span("catalyst.plan"):
        qe = df._jdf.queryExecution()
        qe.executedPlan()
    with tracer.span("exec"):
        return qe.toRdd().count()


def drop_engine_db(Q, sf_dir: str) -> None:
    db = Q._ENGINE_CACHE.pop(sf_dir, None)
    if db is not None:
        for t in db.tables.values():
            for p in t._parts:
                p.unpersist(False)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", type=Path, required=True)
    ap.add_argument("--data-dir", type=Path, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = SPEC["workloads"]["headline_battery"]
    expected = json.loads((Path(__file__).parent / "expected_rows.json").read_text())
    sf_dir = str(args.data_dir / f"sf{spec['sf']}")
    warm_dir = str(args.data_dir / f"sf{spec['warm_sf']}")

    t_setup = now()
    import bench
    from zenodb_spark import catalog
    from zenodb_spark import queries as Q
    from zenodb_spark.session import get_spark

    tracer = Tracer() if args.trace else NullTracer()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench_battery", extra_conf=spark_conf(args.run_dir, bool(args.trace)))
    sc = spark.sparkContext
    unknown = set(spec["queries"]) - set(bench.HEADLINE)
    if unknown:
        raise ValueError(f"battery queries not in bench.HEADLINE: {sorted(unknown)}")
    if args.trace:
        tracer.sc = sc
        install_battery_shims(tracer, Q, catalog)
    # bench.py's set-up: warm the JVM and parquet footers, then build the
    # engine DB the z-queries read (replicated; the median enters setup_s)
    warm_up(spark, spec["queries"], sf_dir, warm_dir)
    # the warm-up's z-queries built an sf0.001 engine DB, which warmed the
    # ingest path; the sf0.1 build the timed z-queries read is replicated
    builds = []
    for _ in range(SPEC["setup_replicates"]):
        drop_engine_db(Q, sf_dir)
        t0 = now()
        db = Q._engine_db(spark, sf_dir)
        for t in db.tables.values():
            t.state_df().count()
        builds.append(now() - t0)
    n_events = Q.load_table(spark, sf_dir, "events").count()
    protected = bench._persistent_ids(sc)
    setup_s = now() - t_setup - sum(builds) + statistics.median(builds)
    tracer.phase = "run"

    rng = random.Random(args.seed)
    walls: dict[str, list[float]] = {n: [] for n in spec["queries"]}
    rows: dict[str, int] = {}
    wrong: list[str] = []
    attempted = failed = 0
    t_run = now()
    for _ in range(passes(args.seconds, spec["nominal_pass_s"])):
        order = list(spec["queries"])
        rng.shuffle(order)
        for name in order:
            attempted += 1
            t0 = now()
            try:
                n = drain(spark, name, sf_dir, tracer)
            except Exception as e:  # counted, reported, and the loop goes on
                failed += 1
                wrong.append(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            finally:
                bench._unpersist_new(sc, protected)
            walls[name].append(now() - t0)
            rows[name] = n
            if n != expected[name]:
                failed += 1
                wrong.append(f"{name}: {n} rows, expected {expected[name]}")
    t_end = now()

    # bench.py's estimator for the gated figure: a query's fastest pass is
    # its steady-state cost; co-tenant load on a small box only adds time
    per_query = {n: min(v) for n, v in walls.items() if v}
    per_query_median = {n: statistics.median(v) for n, v in walls.items() if v}
    pooled = [x for v in walls.values() for x in v]
    ms = [v * 1000 for v in per_query.values()]
    med_ms = [v * 1000 for v in per_query_median.values()]
    build_s = statistics.median(builds)
    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": not wrong and len(per_query) == len(spec["queries"]),
        "errors": wrong,
        "metrics": {
            "setup_s": setup_s,
            "query_geomean_ms": geomean(ms),
            "queries_per_s": len(pooled) / (t_end - t_run),
            "ingest_rows_per_s": n_events / build_s,
        },
        "details": {
            "battery_total_s": sum(per_query_median.values()),
            "battery_geomean_ms": geomean(med_ms),
            "query_p50_ms": statistics.median(med_ms),
            "query_p90_ms": summary(med_ms)["p90"],
            "engine_db_build_ms": build_s * 1000,
            "per_query_min_s": per_query,
            "per_query_median_s": per_query_median,
            "per_query_samples": {n: len(v) for n, v in walls.items()},
            "rows": rows,
            "engine_db_builds_s": builds,
            "engine_db_events": n_events,
            "timed_wall_s": t_end - t_run,
        },
    }
    spark.stop()
    if args.trace:
        from common import parse_event_log

        result["layers"] = layer_metrics(
            tracer, parse_event_log(args.run_dir / "eventlog"), t_run, t_end
        )
        result["spans"] = tracer.dump()
    (args.run_dir / "result.json").write_text(json.dumps(result))


def install_battery_shims(tracer: Tracer, Q, catalog) -> None:
    """Spans around catalog.load_table (both bindings of it) plus the
    engine's entry points the z-queries use."""
    from tracing import install_engine_shims

    load_table = catalog.load_table

    def traced_load_table(*args, **kwargs):
        tracer.count("catalog.load_table")
        with tracer.span("catalog.load_table"):
            return load_table(*args, **kwargs)

    catalog.load_table = traced_load_table
    Q.load_table = traced_load_table
    install_engine_shims(tracer)


if __name__ == "__main__":
    main()
