"""Full-battery survey: how the headline_battery subset is chosen.

Runs every ``bench.HEADLINE`` query at the battery's scale, after the
battery's set-up, built, planned and drained exactly as the headline_battery
workload does (perfbench/battery.py ``drain``), in PASSES passes, and takes
each query's fastest pass. Queries whose one drain takes longer than a
run's measuring window (``run_seconds`` in BENCHMARK.json) cannot repeat
inside one run and are listed as excluded. The rest are sorted by that time
and cut into STRATA strata of equal count; the median query of each stratum
is picked. STRATA is as large as keeps a run within the benchmark's time
budget. The output, perfbench/results/battery_survey.json, records every
query's time and row count, the pick, and the pick's share of the full
battery's total and geometric mean.

    python3 perfbench/survey.py

Run from the root of a checkout; takes about 8 minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(BENCH_DIR), str(ROOT)]

from common import SPEC, env_record, geomean, now, run_env, spark_conf  # noqa: E402

PASSES = 2
STRATA = 6


def stratified_pick(times: dict[str, float], strata: int) -> list[str]:
    """The median query of each of ``strata`` equal-count strata of the
    queries sorted by time (earlier strata take the remainder)."""
    ranked = sorted(times, key=times.get)
    size, extra = divmod(len(ranked), strata)
    pick, lo = [], 0
    for i in range(strata):
        hi = lo + size + (1 if i < extra else 0)
        pick.append(ranked[(lo + hi - 1) // 2])
        lo = hi
    return pick


def main() -> None:
    spec = SPEC["workloads"]["headline_battery"]
    data_root = ROOT / SPEC["data_dir"]
    run_dir = ROOT / SPEC["run_root"] / f"survey-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    os.environ.update(run_env(run_dir))
    try:
        from run import ensure_data

        ensure_data(spec, data_root)
        survey(spec, data_root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def survey(spec: dict, data_root: Path, run_dir: Path) -> None:
    import bench
    from battery import drain, warm_up
    from tracing import NullTracer
    from zenodb_spark import queries as Q
    from zenodb_spark.session import get_spark

    max_query_s = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    expected = json.loads((BENCH_DIR / "expected_rows.json").read_text())
    sf_dir = str(data_root / f"sf{spec['sf']}")
    warm_dir = str(data_root / f"sf{spec['warm_sf']}")
    spark = get_spark("perfbench_survey", extra_conf=spark_conf(run_dir, False))
    sc = spark.sparkContext
    names = list(bench.HEADLINE)
    warm_up(spark, names, sf_dir, warm_dir)
    db = Q._engine_db(spark, sf_dir)
    for t in db.tables.values():
        t.state_df().count()
    protected = bench._persistent_ids(sc)
    walls: dict[str, list[float]] = {n: [] for n in names}
    rows: dict[str, int] = {}
    for p in range(PASSES):
        for name in names:
            t0 = now()
            rows[name] = drain(spark, name, sf_dir, NullTracer())
            walls[name].append(now() - t0)
            bench._unpersist_new(sc, protected)
            print(f"pass {p} {name}: {walls[name][-1]:.3f} s, {rows[name]} rows", flush=True)
    spark.stop()

    best = {n: min(v) for n, v in walls.items()}
    excluded = {n: t for n, t in best.items() if t > max_query_s}
    pick = stratified_pick({n: t for n, t in best.items() if n not in excluded}, STRATA)
    total, gm = sum(best.values()), geomean(list(best.values()))
    sub = [best[n] for n in pick]
    out = {
        "env": env_record(None),
        "passes": PASSES,
        "strata": STRATA,
        "max_query_s": max_query_s,
        "per_query_min_s": best,
        "per_query_s": walls,
        "rows": rows,
        "rows_match_expected": [n for n in names if rows[n] == expected.get(n)],
        "battery_total_s": total,
        "battery_geomean_s": gm,
        "battery_median_s": statistics.median(best.values()),
        "excluded": excluded,
        "pick": pick,
        "pick_pass_s": sum(sub),
        "pick_share_of_total": sum(sub) / total,
        "pick_geomean_over_battery_geomean": geomean(sub) / gm,
        "pick_share_of_total_without_excluded": sum(sub) / (total - sum(excluded.values())),
    }
    path = BENCH_DIR / "results" / "battery_survey.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(out, indent=1, sort_keys=True))
    for k in ("battery_total_s", "battery_geomean_s", "excluded", "pick", "pick_pass_s",
              "pick_share_of_total", "pick_geomean_over_battery_geomean"):
        print(f"{k}: {out[k]}")
    mismatched = sorted(set(names) - set(out["rows_match_expected"]))
    if mismatched:
        sys.exit(f"row counts differ from expected_rows.json: {mismatched}")


if __name__ == "__main__":
    main()
