"""Priority-ladder rank expressions.

The reference's signature operation ranks price snapshots per item-day by
a CASE ladder over `source` (tcgplayer=10 … amazon=60 else 99) then
`price_type` (market=10 … tix=80 else 90), tie-broken by value
(reference `scripts/pricing/03_build_market_price_daily.js:117-147`).

`priority_rank` generalizes that: an ordered mapping value→rank compiled
to a `when()` chain — a pure JVM expression Catalyst folds into codegen
(vs. a join against a tiny rank dim, which would add a shuffle or
broadcast for a constant mapping).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's ladders (03:120-128, 03:129-145), kept for parity jobs.
SOURCE_PRIORITY: dict[str, int] = {
    "tcgplayer": 10,
    "scryfall": 20,
    "cardmarket": 30,
    "pricecharting": 40,
    "ebay": 50,
    "amazon": 60,
}
SOURCE_PRIORITY_DEFAULT = 99

# Exact reference values (03:129-145): the ORDER is the semantics —
# note low < high < loose, and the cib/new/graded/foil/etched tiers.
PRICE_TYPE_PRIORITY: dict[str, int] = {
    "market": 10,
    "trend": 12,
    "mid": 14,
    "avg_7d": 16,
    "avg_30d": 18,
    "low": 22,
    "high": 24,
    "loose": 30,
    "cib": 32,
    "new": 34,
    "graded": 36,
    "foil": 60,
    "etched": 62,
    "tix": 80,
}
PRICE_TYPE_PRIORITY_DEFAULT = 90


def priority_rank(col: Column, ladder: Mapping[str, int], default: int) -> Column:
    """Compile `{value: rank}` into a `when()` chain with a default."""
    expr: Column | None = None
    for value, rank in ladder.items():
        cond = col == value
        expr = F.when(cond, rank) if expr is None else expr.when(cond, rank)
    if expr is None:
        return F.lit(default)
    return expr.otherwise(default)
