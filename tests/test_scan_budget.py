"""Standing scan-multiplicity gate for NEWLY-registered queries
(r11 verdict #3).

The r11 registry-wide audit (tools/scan_audit.py) found 13 queries
whose final plans silently re-read the corpus 4-10x because a frame
with 2+ consumers lacked a lazy localCheckpoint pin — every one was
fixed post-hoc. This test makes the audit a REGISTRATION-TIME gate:
any query registered after the round-12 baseline
(tests/data_scan_budget_baseline.txt, 244 names) is executed at
sf0.001 through the noop sink and its executed-plan parquet FileScan
count must not exceed its declared budget. Plan capture is the SAME
mechanism as tools/scan_audit.py (a fresh QueryExecution of the
returned frame — the plan string may print `isFinalPlan=false`, i.e.
BEFORE any AQE exchange-reuse collapse): deliberately conservative,
since AQE reuse can only lower the count at runtime and the r11
audit's standing lesson is that exchange reuse is NOT a
scan-multiplicity guarantee. Budgets are therefore pre-AQE counts:

  - default budget: 2 (one corpus scan + one auxiliary side)
  - a query whose CONTRACT needs more (multi-source coalesce,
    exact-vs-sketch verification harness, single-column FK probes)
    declares `scan_budget=N` at its @register site —
    the machine-readable by-contract marker — with the rationale in
    its doc string.

Cached pipelines (InMemoryTableScan in the plan) are skipped the same
way tools/scan_audit.py skips them: the cache-fill child is expanded
in toString, so a naive scan count over-reports a frame that actually
materializes once.

Baseline names are exempt here because the r11 audit already
dispositioned all 244 (13 fixed, 4 by-contract, the rest clean);
tools/scan_audit.py remains the registry-wide sweep for re-audits.
"""

from __future__ import annotations

import os
import re

import pytest

_BASELINE_PATH = os.path.join(
    os.path.dirname(__file__), "data_scan_budget_baseline.txt"
)
_DEFAULT_BUDGET = 2
# Honors the suite-wide sf-dir override (the LDP_TEST_SF_DIR knob of
# tests/conftest.py — e.g. a checkout whose test data lives elsewhere);
# default stays the smallest scale, since the scan COUNT is
# scale-invariant and sf0.001 keeps the per-query execution cheap.
_SF_DIR = os.environ.get("LDP_TEST_SF_DIR", "/root/testdata/sf0.001")


def _baseline() -> set[str]:
    with open(_BASELINE_PATH) as fh:
        return {line.strip() for line in fh if line.strip()}


def _new_specs():
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    base = _baseline()
    return {n: s for n, s in ALL_QUERIES.items() if n not in base}


def test_baseline_is_the_r12_registry():
    # the baseline must stay a SUBSET of the live registry (renames /
    # deletions shrink it legitimately; a typo'd baseline name would
    # silently exempt nothing and audit everything, so pin the overlap)
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    stale = _baseline() - set(ALL_QUERIES)
    assert not stale, (
        f"baseline names no longer registered: {sorted(stale)} — if a "
        "query was renamed/removed, prune it from "
        "tests/data_scan_budget_baseline.txt"
    )


def test_new_queries_respect_scan_budget(spark):
    new = _new_specs()
    if not new:
        pytest.skip("no queries registered after the r12 baseline")
    failures = []
    for name in sorted(new):
        spec = new[name]
        budget = spec.scan_budget or _DEFAULT_BUDGET
        try:
            df = spec.spark_fn(spark, _SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.catalog.clearCache()
        if "InMemoryTableScan" in plan:
            continue
        scans = re.findall(r"(?:FileScan|Scan) parquet[^\n]*", plan)
        if len(scans) > budget:
            import collections

            tabs = dict(
                collections.Counter(re.findall(r"(\w+)\.parquet", plan))
            )
            failures.append(
                f"{name}: {len(scans)} parquet scans > budget {budget} "
                f"({tabs}) — pin the multi-consumer frame with a lazy "
                "localCheckpoint, or declare scan_budget=N at the "
                "registration site with the rationale in doc"
            )
    assert not failures, "\n".join(failures)
