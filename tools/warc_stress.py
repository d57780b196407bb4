"""Targeted WARC-path stress runner: times ONLY the WARC ops from
bench.py's stress tier (warc_parse, warc_curate) at two corpus scales,
so the WARC read path gets its own BENCH.md scale row without paying
for the full 18-op sweep.

Usage:  SPARK_GRAFT_DRIVER_MEM=48g python tools/warc_stress.py [rows ...]
Defaults to the ratio-2 pair 320000 640000. Fixtures (multi-member
.warc.gz segments, one gzip member per record — the Common-Crawl
layout) are materialized once per scale OUTSIDE the timed region by
bench._stress_warc and reused across runs.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    rows_list = [int(a) for a in sys.argv[1:]] or [320_000, 640_000]
    spark = bench._get_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    from llm_aided_ocr_spark.operators.util import release_pinned

    report = {}
    try:
        for rows in rows_list:
            docs = spark.read.parquet(bench._stress_corpus(spark, rows))
            mb = docs.agg(F.sum(F.length("text"))).first()[0] / 1e6
            t0 = time.time()
            warc_dir = bench._stress_warc(spark, docs, rows)
            build_sec = time.time() - t0
            gz_mb = sum(
                os.path.getsize(os.path.join(warc_dir, f))
                for f in os.listdir(warc_dir)
            ) / 1e6
            rec = {"input_mb": round(mb, 1), "warc_gz_mb": round(gz_mb, 1),
                   "fixture_build_sec": round(build_sec, 1)}
            for name, build in bench._warc_ops(spark, warc_dir).items():
                t0 = time.time()
                df = build()
                bench._noop_sink(df)
                rec[f"{name}_sec"] = round(time.time() - t0, 2)
                rec[f"{name}_mb_per_sec"] = round(mb / (time.time() - t0), 1)
                release_pinned(df)
                print(f"[warc-stress] r{rows} {name}: {rec[f'{name}_sec']}s",
                      file=sys.stderr, flush=True)
            report[str(rows)] = rec
    finally:
        spark.stop()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
