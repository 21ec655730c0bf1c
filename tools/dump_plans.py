#!/usr/bin/env python
"""Dump .explain("formatted") for named registry/shadow queries.

Usage: python tools/dump_plans.py <suffix> name1 name2 ...
Writes plans/r16/<name>_<suffix>.txt for each query (the round
directory comes from $LDP_PLANS_ROUND, default r16).

Streaming parity queries are skipped automatically — building their
returned frame would EXECUTE the availableNow job. Per-micro-batch
streaming phases come from the traced perfbench run instead
(`python3 perfbench/run.py --workload daily-pipeline --trace 1`, the
`streaming.*` metrics; see perfbench/README.md).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from legendary_data_pipeline_spark.queries import ALL_QUERIES  # noqa: E402
from legendary_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("LDP_PLANS_ROUND", "r16"),
)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(
        app_name="dump-plans",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name.startswith("stream_"):
            print(f"skip {name} (streaming parity — plan capture would run the job)")
            continue
        spec = ALL_QUERIES[name]
        df = spec.spark_fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        txt = buf.getvalue()
        n_ex = txt.count("Exchange")
        n_py = txt.count("EvalPython") + txt.count("MapInPandas") + txt.count(
            "FlatMapGroupsInPandas"
        ) + txt.count("MapInArrow") + txt.count("FlatMapCoGroupsIn")
        joins = [
            j for j in (
                "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                "BroadcastNestedLoopJoin", "CartesianProduct",
            ) if j in txt
        ]
        print(f"{name}: Exchange={n_ex} python_nodes={n_py} joins={joins} -> {path}")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
