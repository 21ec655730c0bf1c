"""Flat-file feed sink (SURVEY.md §2.1 S9, §2.8 F5/F6).

The reference serializes a 37-column Google Merchant feed row-by-row in
JS with manual TSV/CSV escaping and CRLF line endings
(`scripts/feeds/exportGoogleMerchantFeed.mjs:29-113,316-398`).

Spark-first: sanitize with column expressions (F5), let the CSV writer
handle quoting, and coalesce to one part for byte-for-byte feed parity
(fine for feed-sized outputs; a 100 TB export would keep many parts
behind a manifest).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.text import sanitize_field


def write_feed(df: DataFrame, path: str, fmt: str = "tsv") -> None:
    """Write a string-typed feed DataFrame as TSV (default) or CSV.

    Every column is sanitized (control chars stripped, whitespace
    collapsed); TSV additionally has no in-field tabs by construction so
    no quoting is needed (mjs:101-113). Lines end CRLF (mjs:397).
    """
    if fmt not in ("tsv", "csv"):
        raise ValueError(f"fmt must be tsv|csv, got {fmt!r}")
    sep = "\t" if fmt == "tsv" else ","
    cleaned = df.select(
        *[sanitize_field(F.col(c).cast("string")).alias(c) for c in df.columns]
    )
    (
        cleaned.coalesce(1).write.mode("overwrite")
        .option("header", "true")
        .option("sep", sep)
        .option("lineSep", "\r\n")
        .option("emptyValue", "")
        .option("nullValue", "")
        # RFC-4180 quote doubling ("" inside quoted fields), matching the
        # reference's escapeForFormat (mjs:101-113) — not backslash escapes.
        .option("escape", '"')
        .csv(path)
    )


def collect_single_file(dir_path: str, out_path: str) -> str:
    """Promote the single part file of a feed directory to a flat file."""
    parts = sorted(glob.glob(os.path.join(dir_path, "part-*")))
    if len(parts) != 1:
        raise ValueError(f"expected exactly one part file in {dir_path}, got {parts}")
    shutil.copyfile(parts[0], out_path)
    return out_path
