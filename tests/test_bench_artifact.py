"""Bench artifact hygiene: the driver stores only the LAST 2000 chars
of bench stdout, and a JSON line longer than that loses its HEAD and
becomes unparseable (BENCH_r08.json recorded ``parsed: null``). Pin the
stdout payload — current gate registry with worst-case timing widths —
comfortably under that limit so gate growth fails here, not in the
driver artifact.
"""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_TAIL_CAPTURE = 2000


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stdout_line_fits_driver_tail_capture():
    from legendary_data_pipeline_spark.queries import REGISTRY

    bench = _load_bench()
    names = sorted(
        set(REGISTRY) | set(bench.PINNED_R1) | set(bench.PINNED_LEGACY)
    )
    # worst-case widths: every timing 3 integer digits + 3 decimals
    timings = {n: 999.999 for n in names}

    def pinned(pin):
        timed = [n for n in pin if n in timings]
        return {
            "n": len(timed),
            "total_sec": round(sum(timings[n] for n in timed), 3),
        }

    # Mirror bench.main's stdout payload (r14 shape): pinned_r1 +
    # pinned_legacy blocks + methodology marker + layout sha; per-query
    # map holds the current gate only (full map in BENCH_DETAIL.json).
    payload = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_timed": len(timings),
        "method": "r14",
        "sf": 0.1,
        "layout": "0123456789ab",
        "pinned_r1": pinned(bench.PINNED_R1),
        "pinned_legacy": pinned(bench.PINNED_LEGACY),
        "queries": {n: t for n, t in timings.items() if n in REGISTRY},
    }
    line = json.dumps(payload, separators=(",", ":"))
    # headroom for a trailing newline and a stray final log line
    assert len(line) <= DRIVER_TAIL_CAPTURE - 100, (
        f"bench stdout line would be {len(line)} chars; the driver tail "
        f"capture holds {DRIVER_TAIL_CAPTURE} — shrink the gate map or "
        "move more names to BENCH_DETAIL.json"
    )


def test_pinned_names_resolve_in_some_registry():
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    bench = _load_bench()
    pinned = set(bench.PINNED_R1) | set(bench.PINNED_LEGACY)
    missing = [n for n in pinned if n not in ALL_QUERIES]
    assert not missing, f"pinned bench names missing from registries: {missing}"
