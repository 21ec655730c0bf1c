#!/usr/bin/env python3
"""Self-test of the benchmark (a few minutes; run from the repository root):

    python3 perfbench/selftest.py

1. A smoke configuration (one analytics query; the full daily pipeline)
   runs every workload untraced and traced, and checks that every metric
   named in BENCHMARK.json is emitted with its unit, that end-to-end
   values are positive, and that all output checks pass.
2. Corrupted results are caught: a changed cell or a dropped row fails
   the oracle comparison, and stream sinks that miss a landed file fail
   their checks.
3. Span self-times are non-negative, on a synthetic span tree and in the
   traced pipeline run.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                       "--trace", str(trace)])
    assert rc == 0, f"{workload} trace={trace} exited {rc}"
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check_metrics_emitted() -> None:
    import wl_analytics

    bench = _bench()
    wl_analytics.QUERIES = ("ret_ndcg_at_10",)  # smoke configuration
    for w in bench["workloads"]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            detail, result = _run(w["name"], trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, detail["checks"]
            want = {m["name"]: m["unit"] for m in spec}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: {got} != {want}"
            for name, v in result["metrics"].items():
                value = v["value"]
                assert math.isfinite(value), (name, value)
                assert value > 0 if trace == 0 else value >= 0, (w["name"], name, value)
            if w["name"] == "daily-pipeline" and trace:
                assert result["metrics"]["cli.self_s"]["value"] >= 0
                assert result["metrics"]["streaming.batches"]["value"] > 0
            print(f"ok  {w['name']} trace={trace}: {len(want)} metrics", flush=True)


def check_corruption_caught() -> None:
    import common
    import gen
    import streamday

    ctx = run.prepare("selftest", 7, 0, False)
    from oracle import check_rows  # needs the repository root on sys.path

    spark = common.start_session(ctx)
    try:
        from legendary_data_pipeline_spark import queries as registry

        wh = ctx.path("wh")
        gen.warehouse(wh, 7)
        spec = registry.REGISTRY["ml_auc_by_segment"]
        df = spec.spark_fn(spark, wh)
        rows = [tuple(r) for r in df.collect()]
        args = (df.columns, df.dtypes, spec.oracle, wh)
        assert check_rows(rows, *args) == "ok"
        bad_cell = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
        assert check_rows(bad_cell, *args) != "ok"
        assert check_rows(rows[1:], *args) != "ok"

        spark.conf.set("spark.sql.shuffle.partitions", "4")
        files = gen.event_files(ctx.path("events"), 7, 3)
        stream = streamday.EventStream(ctx.path("stream"))
        for i, f in enumerate(files[:2]):
            stream.land(f, mtime=time.time() - 1000 + i)
        stream.drain(spark)
        assert streamday.check_sessions(spark, stream) == "ok"
        assert streamday.check_rollup(spark, stream) == "ok"
        # A file that landed but was never drained: both sinks now miss
        # events the batch references see.
        stream.land(files[2])
        assert streamday.check_sessions(spark, stream) != "ok"
        assert streamday.check_rollup(spark, stream) != "ok"
        print("ok  corrupted results are caught", flush=True)
    finally:
        spark.stop()
        run.cleanup(ctx)


def check_self_times() -> None:
    import types

    from tracing import Tracer

    tracer = Tracer(None, True)
    layer = types.SimpleNamespace(work=lambda s: time.sleep(s))
    tracer.wrap(layer, "work", "child")
    with tracer.span("root"):
        layer.work(0.01)
        with tracer.span("mid"):
            layer.work(0.02)
            layer.work(0.0)
    tracer.restore()
    assert [s.name for s in tracer.spans] == ["root", "child", "mid", "child", "child"]
    for i, s in enumerate(tracer.spans):
        assert tracer.self_time(i) >= 0, (s, tracer.self_time(i))
        if s.parent is not None:
            p = tracer.spans[s.parent]
            assert p.start <= s.start <= s.end <= p.end
    assert layer.work.__name__ == "<lambda>"  # restored
    print("ok  span self-times are non-negative", flush=True)


def main() -> int:
    check_self_times()
    check_corruption_caught()
    check_metrics_emitted()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
