#!/usr/bin/env python
"""Final-plan scan-multiplicity audit (round 9).

Runs every registry (and optionally shadow) query at a small SF, writes
each result through the noop sink, and reports queries whose FINAL
adaptive plan contains >= `--min-scans` parquet scans. Cached pipelines
are skipped: InMemoryTableScan expands its cache-fill child in
toString, so a naive scan count over-reports them (the caches
themselves materialize once).

Usage:
  python tools/scan_audit.py [--shadow] [--min-scans 3] [--sf sf0.001]
"""

from __future__ import annotations

import argparse
import collections
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--shadow", action="store_true",
                    help="audit the shadow registry too")
    ap.add_argument("--min-scans", type=int, default=3)
    ap.add_argument("--sf", default="sf0.001")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from legendary_data_pipeline_spark.queries import ALL_QUERIES, REGISTRY

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    specs = ALL_QUERIES if args.shadow else REGISTRY
    names = sorted(args.only.split(",")) if args.only else sorted(specs)
    sf_dir = f"/root/testdata/{args.sf}"
    flagged = 0
    for name in names:
        try:
            df = specs[name].spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit keeps going
            print(f"{name} ERR {str(exc)[:100]}")
            continue
        finally:
            spark.catalog.clearCache()
        if "InMemoryTableScan" in plan:
            continue
        scans = re.findall(r"(?:FileScan|Scan) parquet[^\n]*", plan)
        if len(scans) >= args.min_scans:
            flagged += 1
            tabs = collections.Counter(
                re.findall(r"(\w+)\.parquet", plan)
            )
            print(f"{name} scans={len(scans)} {dict(tabs)}")
    print(f"audit done: {flagged} flagged of {len(names)}")


if __name__ == "__main__":
    main()
