"""Reusable column-expression library (SURVEY.md §2.8).

Everything here is a pure `pyspark.sql.Column` builder — JVM-side,
whole-stage-codegen friendly, no Python UDFs. These are the Spark-first
re-expressions of the reference's row-at-a-time JS helpers.
"""

from legendary_data_pipeline_spark.functions.money import (
    cents_to_display,
    parse_money_to_cents,
    sql_money_clean_cents,
)
from legendary_data_pipeline_spark.functions.priority import priority_rank
from legendary_data_pipeline_spark.functions.text import (
    encode_uri_component,
    normalize_header,
    sanitize_field,
    slugify,
)
from legendary_data_pipeline_spark.functions.hashing import md5_long, seeded_md5_long
from legendary_data_pipeline_spark.functions.numeric import e6

__all__ = [
    "cents_to_display",
    "parse_money_to_cents",
    "sql_money_clean_cents",
    "priority_rank",
    "encode_uri_component",
    "normalize_header",
    "sanitize_field",
    "slugify",
    "md5_long",
    "seeded_md5_long",
    "e6",
]
