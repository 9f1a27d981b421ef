"""The repo benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--out FILE]

Workloads (parameters in perfbench/spec.json): headline_battery,
service_mixed, bulk_load. Run from the root of a checkout; everything a run
writes stays under that root (.perfbench_cache/ for generated data that
depends on no seed, .perfbench_runs/ for the run's own directory, removed
when the run ends).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``, as
BENCHMARK.json at the checkout root names them.
``--out`` also writes the full result (details, environment, layers).
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent

def ensure_data(spec: dict, data_root: Path) -> None:
    """Generate the battery's input tables once per checkout (they depend on
    no seed): tools/gen_sf.py at the battery's scale factors."""
    gen = ROOT / "tools" / "gen_sf.py"
    stamp = hashlib.sha256(gen.read_bytes()).hexdigest()
    for sf in (spec["sf"], spec["warm_sf"]):
        out = data_root / f"sf{sf}"
        if (out / "STAMP").exists() and (out / "STAMP").read_text() == stamp:
            continue
        tmp = data_root / f"sf{sf}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, str(gen), sf, str(tmp)],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
        (tmp / "STAMP").write_text(stamp)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)


def run_worker(script: str, run_dir: Path, env: dict, argv: list[str], deadline: float) -> dict:
    """Run a worker to completion under the RSS sampler; returns its result."""
    from common import RssSampler, die, stop_group

    log = open(run_dir / "worker.log", "w")
    proc = subprocess.Popen(
        [sys.executable, str(BENCH_DIR / script), *argv],
        cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    try:
        with RssSampler(proc.pid) as rss:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        die(f"{script} did not finish within the run deadline")
    finally:
        stop_group(proc)
        log.close()
    if proc.returncode != 0:
        tail = (run_dir / "worker.log").read_text(errors="replace")[-3000:]
        die(f"{script} exited with {proc.returncode}:\n{tail}")
    result = json.loads((run_dir / "result.json").read_text())
    result["details"]["peak_rss_mb"] = rss.peak_mb
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, default=None)
    args = ap.parse_args()
    # a terminated run still stops its workers (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [str(BENCH_DIR), str(ROOT)]
    from common import SPEC, count_error_lines, die, env_record, run_env

    for need in ("zenodb_spark/__init__.py", "bench.py", "tools/gen_sf.py", "BENCHMARK.json"):
        if not (ROOT / need).is_file():
            die(f"{need} is missing: run from the root of a full checkout")

    if args.workload not in SPEC["workloads"]:
        die(f"unknown workload {args.workload!r}; one of {sorted(SPEC['workloads'])}")
    data_root = ROOT / SPEC["data_dir"]
    run_dir = ROOT / SPEC["run_root"] / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        env = run_env(run_dir)
        common_argv = [
            "--run-dir", str(run_dir), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        if args.workload == "headline_battery":
            ensure_data(SPEC["workloads"]["headline_battery"], data_root)
        # the deadline excludes the one-time data generation of a checkout
        deadline = time.monotonic() + SPEC["run_timeout_s"]
        if args.workload == "headline_battery":
            result = run_worker(
                "battery.py", run_dir, env,
                [*common_argv, "--data-dir", str(data_root)], deadline,
            )
        elif args.workload == "bulk_load":
            result = run_worker("bulk.py", run_dir, env, common_argv, deadline)
        else:
            from service_load import run_service

            result = run_service(run_dir, env, args.seed, args.seconds, bool(args.trace), deadline)
        log = run_dir / ("server.log" if args.workload == "service_mixed" else "worker.log")
        error_lines = count_error_lines(log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result["workload"] = args.workload
    result["env"] = env_record(args.seed)
    result["seconds"] = args.seconds
    result.setdefault("details", {})["error_ratio"] = result["failed"] / result["attempted"]
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        values = result["layers"]
        values["spark.error_log_lines"] = error_lines
        wanted = declared["per_layer"]
    else:
        result["details"]["spark_error_log_lines"] = error_lines
        values = result["metrics"]
        wanted = declared["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"{args.workload} produced no value for {missing}")
    printed = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        args.out.write_text(json.dumps(result, indent=1, sort_keys=True))
    for msg in result.get("errors", [])[:20]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": printed,
            }
        )
    )
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
