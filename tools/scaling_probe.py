"""Measure how headline query latency scales with data volume: run a
data-proportional subset at sf0.001 / sf0.01 / sf0.1 (100x row-count
span) and print per-query times + the 10x-step ratios.

Interpretation: on local[32] with seconds-scale queries, fixed overhead
(JIT, scheduling, parquet footers) dominates small SFs, so a scalable
operator shows a ratio WELL BELOW 10 per 10x data step; a ratio
substantially ABOVE 10 means super-linear work (quadratic pair growth,
driver materialization) and is a scale bug. min-of-2 passes after an
untimed warm-up, mirroring bench.py's methodology.

Usage: python tools/scaling_probe.py [out_markdown]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _persistent_ids, _unpersist_new
from zenodb_spark import queries as Q
from zenodb_spark.session import get_spark

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
# sf1.0 rehearsal data (tools/gen_sf.py) extends the span to 1000x when
# present — appended rather than inlined so the probe still runs in
# environments that only carry the driver's three SFs
import os

if os.path.isdir("/root/repo/.localdata/sf1.0"):
    SFS.append("/root/repo/.localdata/sf1.0")
PROBE = [
    "q21_pricing_summary",
    "q24_ngram_jaccard",
    "q25_minhash_lsh",
    "q32_embed_neardup",
    "q47_dedup_clusters",
    "q60_paragraph_dedup",
    "q64_bm25_topk",
    "q68_funnel",
    "q103_trade_flows",
    "q122_order_value_deciles",
    "q127_bucketed_join",
    "q128_time_weighted_avg",
    "q153_interval_join",
    "q154_heavy_hitters",
    "q155_pagerank",
    "q162_cdc_chunks",
    # round-4 continuation families: panels, CDF-grid stats, contingency,
    # LSH banding, FK audit
    "q188_gopher_rules",
    "q190_lsh_band_panel",
    "q192_length_ks",
    "q196_source_lang_chi2",
    "q199_data_profile",
    "q200_fk_integrity",
    # session-2 families: correlated min-per-group, retrieval eval,
    # privacy panels, inference stats, hashed features
    "q221_min_cost_supplier",
    "q223_retrieval_eval",
    "q224_k_anonymity",
    "q226_anova_length",
    "q227_mannwhitney_length",
    "q228_bootstrap_ci",
    "q230_hashed_features",
]


def main() -> int:
    spark = get_spark("zenodb_spark_scaling")
    sc = spark.sparkContext
    times: dict[str, list[float]] = {n: [] for n in PROBE}
    for sf in SFS:
        # the engine DB's stored tables stay persisted, as in bench.py
        Q._engine_db(spark, sf)
        for t in Q._ENGINE_CACHE[sf].tables.values():
            t.state_df().count()
        protected = _persistent_ids(sc)
        for name in PROBE:  # untimed warm-up (codegen/JIT)
            Q.QUERIES[name](spark, sf).count()
        _unpersist_new(sc, protected)
        for name in PROBE:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                Q.QUERIES[name](spark, sf).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                _unpersist_new(sc, protected)
            times[name].append(round(best, 3))
            print(f"# {sf.split('/')[-1]} {name}: {best:.3f}s", file=sys.stderr)
    sf_labels = [sf.rstrip("/").split("/")[-1] for sf in SFS]
    header_times = " | ".join(sf_labels)
    lines = [
        f"| query | {header_times} | x per 10x data step |",
        "|---" * (len(SFS) + 2) + "|",
    ]
    for name in PROBE:
        ts = times[name]
        cells = " | ".join(f"{t:.2f}s" for t in ts)
        ratios = ", ".join(f"{ts[i + 1] / ts[i]:.1f}x" for i in range(len(ts) - 1))
        lines.append(f"| {name} | {cells} | {ratios} |")
    out = "\n".join(lines)
    print(out)
    if len(sys.argv) > 1:
        Path(sys.argv[1]).write_text(out + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
