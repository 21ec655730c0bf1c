"""Output checks against the engine's DuckDB oracles.

Uses the repository's own normalisation (`tests/oracle_utils.py`):
columns sorted by name, cells canonicalised, rows compared as sorted
multisets, so a result must be value-identical to the oracle's.
"""

from __future__ import annotations

from tests.oracle_utils import canon_types, normalize_rows, run_oracle


def check_rows(rows, columns, dtypes, oracle_sql: str | None, sf_dir: str) -> str:
    """Compare already-collected Spark rows with the oracle; returns "ok"
    or a one-line description of the first difference."""
    if oracle_sql is None:
        return "ok" if rows else "no rows"
    expected, e_cols, e_types = run_oracle(oracle_sql, sf_dir)
    if sorted(columns) != sorted(e_cols):
        return f"columns differ: {sorted(columns)} vs oracle {sorted(e_cols)}"
    spark_types = {
        c: ("timestamp" if t == "timestamp_ntz" else t) for c, t in dtypes
    }
    duck_types = canon_types(e_cols, e_types)
    bad = {c: (spark_types[c], duck_types[c]) for c in spark_types
           if spark_types[c] != duck_types[c]}
    if bad:
        return f"dtypes differ (spark, oracle): {bad}"
    _, a_rows = normalize_rows(rows, columns)
    _, e_rows = normalize_rows(expected, e_cols)
    if len(a_rows) != len(e_rows):
        return f"row count {len(a_rows)} vs oracle {len(e_rows)}"
    for i, (a, e) in enumerate(zip(a_rows, e_rows)):
        if a != e:
            return f"row {i} differs: {a} vs oracle {e}"[:300]
    return "ok"
