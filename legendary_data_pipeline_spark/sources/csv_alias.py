"""CSV reader with header-alias resolution (SURVEY.md §2.1 S1, §2.8 F3).

The reference parses vendor CSVs by hand (char-by-char quote handling,
`scripts/pricing/01_import_pricecharting_csv.js:36-76`), normalizes
headers (lower/underscore/strip, 01:92-98) and resolves each logical
field from a list of header variants (`getCell(r, "loose-price",
"loose_price", "loose_price_cents")`, 01:136-142).

Spark-first: `spark.read.csv` handles quoting/escapes/CRLF natively and
in parallel; the alias layer becomes a schema-on-read rename performed
on `df.columns` (driver-side plan construction, zero data movement).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.text import normalize_header

#: logical field → normalized header variants, after the reference's
#: PriceCharting CSV surface (01:133-212).
PRICECHARTING_ALIASES: dict[str, tuple[str, ...]] = {
    # full getCell variant lists (01:194-212): id|pricecharting_id|
    # product_id and product-name|product_name|name
    "pricecharting_id": ("id", "pricecharting_id", "product_id"),
    "product_name": ("productname", "product_name", "name"),
    "console_name": ("consolename", "console_name"),
    "release_date": ("releasedate", "release_date"),
    "loose_price": ("looseprice", "loose_price", "loose_price_cents"),
    "cib_price": ("cibprice", "cib_price", "cib_price_cents"),
    "new_price": ("newprice", "new_price", "new_price_cents"),
    "graded_price": ("gradedprice", "graded_price", "graded_price_cents"),
    "box_only_price": ("boxonlyprice", "box_only_price", "box_only_price_cents"),
    "manual_only_price": (
        "manualonlyprice",
        "manual_only_price",
        "manual_only_price_cents",
    ),
    "bgs_10_price": ("bgs10price", "bgs_10_price", "bgs_10_price_cents"),
    "cgc_10_price": ("cgc10price", "cgc_10_price", "cgc_10_price_cents"),
    "psa_10_price": ("psa10price", "psa_10_price", "psa_10_price_cents"),
}


def read_csv_with_aliases(
    spark: SparkSession, path: str, aliases: Mapping[str, Sequence[str]]
) -> DataFrame:
    """Read a CSV and resolve logical fields from header variants.

    Missing fields become typed-null columns (dynamic schema adaptation —
    the engine analogue of the reference's `getCell` fallbacks). All
    output columns are StringType; downstream parsing is explicit.
    """
    df = (
        spark.read.option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    normalized = {}
    for col in df.columns:
        normalized.setdefault(normalize_header(col), col)

    selects = []
    for target, variants in aliases.items():
        source = next(
            (normalized[normalize_header(v)] for v in variants
             if normalize_header(v) in normalized),
            None,
        )
        if source is None:
            selects.append(F.lit(None).cast("string").alias(target))
        else:
            selects.append(F.col(f"`{source}`").cast("string").alias(target))
    return df.select(*selects)
