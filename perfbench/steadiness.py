"""Steadiness report: the evidence behind each regression bound.

Runs every workload in two sets of untraced runs (a different seed per
run; workloads interleaved within a set), then one traced run per workload.
Prints, per workload and end-to-end metric, each set's median and
quartiles, the spread (quartile distance / median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), the difference
between the two sets' medians, and the metric's bound from BENCHMARK.json.
Each traced run follows an untraced run of the same seed; the traced
end-to-end figures relative to that pair's untraced ones give the tracing
overhead. The report exits non-zero unless, for every workload and
metric, both sets' spreads are within the metric's bound and the second
set's median is not worse than the first's by more than the bound.

    python3 perfbench/steadiness.py [--runs 10] [--workloads a,b]
        [--out perfbench/results]

Every run measures for BENCHMARK.json's ``run_seconds``.

Run from the root of a checkout. Writes ``steadiness.json`` (every run) and
``traced_<workload>.json`` (each traced pair's full results) into ``--out``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
TRACE_SEED = 3000
SETS = 2


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_cache") as tmp:
        out = Path(tmp) / "result.json"
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--out", str(out)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        rec = {
            "workload": workload, "seed": seed, "trace": trace, "exit": proc.returncode,
            "wall_s": wall, "printed": json.loads(last) if last.startswith("{") else None,
        }
        if out.exists():
            rec["result"] = json.loads(out.read_text())
        else:
            rec["stderr_tail"] = proc.stderr[-2000:]
        return rec


def spread_stats(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def main() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set (at least 2)")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", type=Path, default=BENCH_DIR / "results")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2: a set's quartiles need two runs")
    workloads = args.workloads.split(",")
    (ROOT / ".perfbench_cache").mkdir(exist_ok=True)
    args.out.mkdir(parents=True, exist_ok=True)

    runs: list[dict] = []
    for s in range(SETS):
        for i in range(args.runs):
            seed = 1000 * (s + 1) + i
            for w in workloads:
                rec = run_once(w, seed, bench["run_seconds"], 0)
                rec["set"] = s
                runs.append(rec)
                m = rec["printed"]["metrics"] if rec["printed"] else {}
                print(f"set {s} {w} seed {seed}: exit {rec['exit']} wall {rec['wall_s']:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)
    # tracing overhead: a traced run right after an untraced run of the same
    # seed, so the box's drift over a long report does not enter the pair
    overhead: dict[str, dict] = {}
    for w in workloads:
        base = run_once(w, TRACE_SEED, bench["run_seconds"], 0)
        rec = run_once(w, TRACE_SEED, bench["run_seconds"], 1)
        ovh = {}
        if "result" in rec and "result" in base:
            for name, t in rec["result"]["metrics"].items():
                u = base["result"]["metrics"].get(name)
                if u:
                    ovh[name] = (t - u) / u
        overhead[w] = ovh
        (args.out / f"traced_{w}.json").write_text(json.dumps(
            {"traced": rec, "untraced": base, "overhead": ovh}, indent=1, sort_keys=True))
        print(f"traced {w}: exit {rec['exit']} wall {rec['wall_s']:.1f}s overhead "
              + " ".join(f"{k}={v:+.3f}" for k, v in ovh.items()), flush=True)

    report: dict = {"seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for w in workloads:
        rows = {}
        for metric in bench["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            sets = []
            for s in range(SETS):
                vals = [r["printed"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and r["set"] == s and r["printed"]]
                # a failed run leaves a set short; it fails the report
                sets.append(spread_stats(vals) if len(vals) == args.runs else None)
            row = {"bound": bound, "better": metric["better"], "sets": sets}
            row["within_bound"] = None not in sets
            if row["within_bound"]:
                a, b = sets[0]["median"], sets[1]["median"]
                worse = (b - a) / a if metric["better"] == "lower" else (a - b) / a
                row["second_vs_first"] = worse
                row["within_bound"] = worse <= bound and all(x["spread"] <= bound for x in sets)
            ok &= row["within_bound"]
            if name in overhead.get(w, {}):
                row["trace_overhead"] = overhead[w][name]
            rows[name] = row
        walls = [r["wall_s"] for r in runs if r["workload"] == w]
        failed_runs = sum(1 for r in runs if r["workload"] == w and r["exit"] != 0)
        ok &= failed_runs == 0
        report["workloads"][w] = {
            "metrics": rows,
            "run_wall_s": spread_stats(walls),
            "failed_runs": failed_runs,
        }
    report["runs"] = runs
    (args.out / "steadiness.json").write_text(json.dumps(report, indent=1, sort_keys=True))

    print(f"\n{'workload':17s} {'metric':18s} {'bound':>5s} "
          + " ".join(f"{'set' + str(s) + ' median [q1, q3] spread':>42s}" for s in range(SETS))
          + f" {'2nd vs 1st':>10s} {'trace ovh':>9s}")
    for w, wr in report["workloads"].items():
        for name, row in wr["metrics"].items():
            cells = " ".join(
                f"{x['median']:12.5g} [{x['q1']:10.5g}, {x['q3']:10.5g}] {x['spread']:6.3f}"
                if x else f"{'(short of runs)':>42s}"
                for x in row["sets"]
            )
            diff = f"{row['second_vs_first']:+10.3f}" if "second_vs_first" in row else " " * 10
            ovh = f"{row['trace_overhead']:+9.3f}" if "trace_overhead" in row else " " * 9
            print(f"{w:17s} {name:18s} {row['bound']:5.2f} {cells} {diff} {ovh}")
        print(f"{w:17s} run wall {wr['run_wall_s']}; failed runs {wr['failed_runs']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
