"""Money parsing / formatting as integer cents.

Re-expresses the reference's money handling (all row-at-a-time JS / SQL):
- `centsFromMoney` — strip `[$,]`, validate numeric, `Math.round(n*100)`
  (reference `scripts/pricing/01_import_pricecharting_csv.js:78-90`)
- SQL cleaning — `regexp_replace(x,'[^0-9.\\-]','','g')` → `NULLIF` →
  `::numeric` → `ROUND(...*100)::int`
  (reference `scripts/pricing/02_normalize_scryfall_prices.js:108-109`)
- display — `(cents/100).toFixed(2) + " USD"`
  (reference `scripts/feeds/exportGoogleMerchantFeed.mjs:78-82`)

Money never touches floating point: strings parse into DecimalType, cents
are LongType. All expressions are ANSI-mode safe (casts are regex-guarded,
so they never throw on junk input).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A cleaned money string: optional sign, digits, optional fraction.
_NUMERIC_RE = r"^-?[0-9]+(\.[0-9]+)?$"


def parse_money_to_cents(col: Column) -> Column:
    """`'$1,234.56'` → 123456 (LongType); null/junk/empty → null.

    Mirrors `centsFromMoney` (01:78-90): strip `$`/`,`, validate, round
    half-up at the 4th decimal guard to integer cents.

    Known divergence (documented, negative .5 cents only): JS
    `Math.round` rounds -0.125 dollars to -12 cents (toward +inf);
    decimal HALF_UP rounds away from zero to -13. Vendor prices are
    non-negative in practice, and the reference rejects '-' via its own
    regex path anyway.
    """
    cleaned = F.regexp_replace(F.trim(col), r"[$,]", "")
    guarded = F.when(cleaned.rlike(_NUMERIC_RE), cleaned)
    return (
        F.round(guarded.cast("decimal(24,6)") * 100, 0).cast("long").alias("cents")
    )


def sql_money_clean_cents(col: Column) -> Column:
    """SQL-style cleaning (02:108-109): strip non `[0-9.\\-]`, NULLIF '',
    cast numeric, ROUND(*100) to integer cents."""
    cleaned = F.regexp_replace(col, r"[^0-9.\-]", "")
    guarded = F.when(
        (cleaned != "") & cleaned.rlike(_NUMERIC_RE), cleaned
    )
    return F.round(guarded.cast("decimal(24,6)") * 100, 0).cast("long")


def cents_to_display(col: Column) -> Column:
    """123456 → `'1234.56 USD'` (exportGoogleMerchantFeed.mjs:78-82).

    Built with pure integer arithmetic (div/mod/lpad) so the rendering is
    deterministic across engines — no float `%.2f` formatting.
    Negative cents render with a single leading sign.
    """
    sign = F.when(col < 0, F.lit("-")).otherwise(F.lit(""))
    abs_cents = F.abs(col)
    whole = F.floor(abs_cents / 100).cast("long").cast("string")
    frac = F.lpad((abs_cents % 100).cast("string"), 2, "0")
    return F.concat(sign, whole, F.lit("."), frac, F.lit(" USD"))
