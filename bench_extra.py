"""Extra measurement harness for the optimization rounds (guide §1).

Same protocol as bench.py (noop sink, min-of-N, $SPARK_GRAFT_SF_DIR,
local[$SPARK_GRAFT_CPUS]) but runs ANY subset of registry ops — including
non-headline ones — and labels each job (guide §1.5) so the timings in
OPTIMIZATION_r07.md can be attributed. bench.py itself is frozen for the
driver's measurement; this file only produces the working numbers quoted
in the optimization report.

Usage: python bench_extra.py [op ...]   (default: the headline set)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = [
    "glre_infer_triples", "glre_extract_text", "agg_groupby", "join_broadcast",
    "join_salted_skew", "win_rownum_topk", "win_session", "minhash_sig",
    "lsh_candidates", "dedup_ngram_jaccard", "ann_cosine_topk", "ann_lsh_topk",
    "ann_ivf_topk", "text_fingerprint", "simhash_dedup", "cc_label_prop",
    "mm_image_ahash", "kg_pagerank", "domain_stats", "q3_shipping_priority",
    "filter_gopher_rules",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    names = sys.argv[1:] or HEADLINE

    from glre_spark.operators import REGISTRY, _ensure_loaded
    from glre_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark(
        "glre_bench_extra", cores=cores, shuffle_partitions=max(cores, 16),
        extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    warm = f"{sf_dir}/lineitem.parquet"
    if os.path.exists(warm):  # SF dirs with only the document tables skip it
        spark.read.parquet(warm).count()

    timings: dict[str, float] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        best = None
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            w = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            best = w if best is None else min(best, w)
        timings[name] = round(best, 3)
        print(f"## {name:24s} {best:7.3f}s", flush=True)

    print(json.dumps({
        "metric": "bench_extra_sec", "value": round(sum(timings.values()), 3),
        "unit": "sec", "queries": timings, "sf": sf, "cores": cores,
    }))


if __name__ == "__main__":
    main()
