"""Interleaved A/B of spark.sql.execution.arrow.maxRecordsPerBatch on the
pinned 8-core sf1 parse stage (the parse UDF — the only path that crosses
the Arrow boundary).

Round 4's ladder suggested 20k might beat 10k (19.8 vs 21.6 s medians) but
its full-pipeline confirmation run was confounded by host drift (the 10k
control moved just as much). This script removes the drift term: one
session, conf flipped per run (runtime-settable), strict A/B/A/B
interleaving so both arms see the same host window; medians + raws printed.

Run under the pinned protocol: nothing else on the host,
  taskset -c 0-7 python bench/ab_arrow_batch.py [sf] [runs-per-arm]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    arms = [int(x) for x in (sys.argv[3].split(",") if len(sys.argv) > 3 else ["10000", "20000"])]
    cores = int(os.environ.get("LUMBERMILL_AB_CORES", "8"))

    from lumbermill_spark import classify, datagen, parse, session

    tpath = datagen.ensure_transcripts(sf)
    spark = session.get_spark("lm-ab-arrow", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    df = classify.classify(spark.read.parquet(tpath))

    def one() -> float:
        p = parse.with_parsed(df).select("p.*")
        t0 = time.time()
        p.agg(
            F.sum("status"), F.sum("service"), F.sum(F.length("error_code")),
            F.sum(F.length("source")), F.sum("memory_rss"), F.sum("load_avg_1m"),
            F.sum(F.col("parse_error").cast("int")),
        ).collect()
        return round(time.time() - t0, 3)

    def median(xs):
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else round((s[m - 1] + s[m]) / 2, 3)

    results: dict[int, list[float]] = {a: [] for a in arms}
    # warmup both arms (JIT + python workers + page cache)
    for a in arms:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(a))
        one()
    for _ in range(runs):  # strict interleave: A B A B ...
        for a in arms:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(a))
            results[a].append(one())
    print(json.dumps({
        "sf": sf, "cores": cores,
        "arms": {str(a): {"runs": rs, "median_sec": median(rs)} for a, rs in results.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
