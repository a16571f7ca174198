#!/usr/bin/env python
"""Targeted bench: measure named queries with bench.py's exact
methodology (System.gc + 25M-row mini-calib + best-of-3 full-result
count) without running the whole suite. For optimization iteration —
the committed record stays tools/bench_record.py.

    python tools/bench_some.py q237_curated_corpus q233_bpe_encode_pack
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from bigdataflink_spark import get_spark  # noqa: E402
from bigdataflink_spark.plans.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("BENCH_REPS", "3"))


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark("bench_some")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q02_revenue_by_region"](spark, SF_DIR).count()  # warmup
    n_warm = int(os.environ.get("SPARK_GRAFT_CPUS", "32")) * 4

    def _preimport(it):
        import bigdataflink_spark.operators.multimodal  # noqa: F401

        yield from it

    spark.range(n_warm, numPartitions=n_warm).mapInPandas(
        _preimport, "id long"
    ).count()

    out = {}
    for name in names:
        spark._jvm.System.gc()
        c = float("inf")
        for _ in range(3):
            c0 = time.perf_counter()
            spark.range(25_000_000).selectExpr("sum(id * 3 % 7)").collect()
            c = min(c, time.perf_counter() - c0)
        c *= 8.0
        best = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).count()
            best = min(best, time.perf_counter() - t0)
        out[name] = {
            "sec": round(best, 3),
            "calib": round(c, 3),
            "norm": round(best / c, 3),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
