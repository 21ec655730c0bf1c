"""The five reference pipeline jobs, recomposed Spark-first.

Each job is a PURE DataFrame transformation (inputs in, outputs out) so
logic is testable without I/O; thin writer wrappers apply the idempotent
sinks from `operators.upsert`. Run order mirrors the reference README
(pricing 01→02→03→10, then feeds, then revalue).

The revalue job is deliberately NOT a port of the reference's
pull-everything-to-the-driver loop (`revalueCollection.mjs`, SURVEY.md
§3.2) — price dims become broadcast joins and the per-user Map becomes a
groupBy, so nothing ever materializes on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions.money import (
    cents_to_display,
    parse_money_to_cents,
    sql_money_clean_cents,
)
from legendary_data_pipeline_spark.functions.priority import (
    PRICE_TYPE_PRIORITY,
    PRICE_TYPE_PRIORITY_DEFAULT,
    SOURCE_PRIORITY,
    SOURCE_PRIORITY_DEFAULT,
    priority_rank,
)
from legendary_data_pipeline_spark.functions.text import (
    encode_uri_component,
    product_url,
    sanitize_field,
)
from legendary_data_pipeline_spark.operators.ranking import best_of_group

_NUMERIC_RE = r"^[0-9]+(\.[0-9]+)?$"


# ---------------------------------------------------------------------------
# 01 — import vendor price CSV (01_import_pricecharting_csv.js)
# ---------------------------------------------------------------------------

PRICE_FIELDS = (
    "loose_price",
    "cib_price",
    "new_price",
    "graded_price",
    "box_only_price",
    "manual_only_price",
    "bgs_10_price",
    "cgc_10_price",
    "psa_10_price",
)

VALID_GAMES = ("pokemon", "yugioh", "mtg")


def import_pricecharting(
    aliased_csv: DataFrame, game: str, source_date: str
) -> DataFrame:
    """CSV rows → `pricecharting_prices_raw` rows (01:100-242).

    - validates the game whitelist (P10, 01:114-117)
    - drops rows missing id or product name (P7, 01:194-198)
    - parses each money column to integer cents (F1, 01:78-90)
    - preserves the raw row as JSON (01:214-217)
    Key: (game, pricecharting_id, source_date) — upsert at write time.
    """
    if game not in VALID_GAMES:
        raise ValueError(f"game must be one of {VALID_GAMES}, got {game!r}")
    valid = aliased_csv.filter(
        (F.length(F.trim(F.col("pricecharting_id"))) > 0)
        & (F.length(F.trim(F.col("product_name"))) > 0)
    )
    cols = [
        F.lit(game).alias("game"),
        F.trim(F.col("pricecharting_id")).alias("pricecharting_id"),
        sanitize_field(F.col("product_name")).alias("product_name"),
        sanitize_field(F.col("console_name")).alias("console_name"),
    ]
    for field in PRICE_FIELDS:
        cols.append(parse_money_to_cents(F.col(field)).alias(f"{field}_cents"))
    cols.extend(
        [
            F.when(
                F.col("release_date").rlike(r"^\d{4}-\d{2}-\d{2}$"),
                F.col("release_date"),
            )
            .cast("date")
            .alias("release_date"),
            F.lit(source_date).cast("date").alias("source_date"),
            F.to_json(
                F.struct(
                    *[
                        F.col(c)
                        for c in (
                            "pricecharting_id",
                            "product_name",
                            "console_name",
                            *PRICE_FIELDS,
                        )
                    ]
                )
            ).alias("raw"),
        ]
    )
    return valid.select(*cols)


# ---------------------------------------------------------------------------
# 02 — normalize vendor JSON into price snapshots
# ---------------------------------------------------------------------------

#: (currency, price_type, json key) — the lateral VALUES spec (02:101-153)
SCRYFALL_PRICE_SPEC: tuple[tuple[str, str, str], ...] = (
    ("USD", "market", "usd"),
    ("USD", "foil", "usd_foil"),
    ("USD", "etched", "usd_etched"),
    ("EUR", "market", "eur"),
    ("USD", "tix", "tix"),
)


def normalize_scryfall(
    cards_raw: DataFrame, market_items: DataFrame, as_of_date: str
) -> DataFrame:
    """JSON payloads → normalized `market_price_snapshots` rows (02:78-157).

    Join items to raw cards (cast-bridged J1), keep mtg/scryfall items
    whose payload has a `prices` object (P2/P3), unpivot the five price
    keys to rows (J2), clean money to cents (F2), drop null/non-positive
    values (P4). Key: (item, source, date, currency, price_type,
    condition) with a NULL condition (null-safe key, P8).
    """
    joined = market_items.alias("mi").join(
        cards_raw.alias("scr"),
        F.col("scr.id").cast("string") == F.col("mi.canonical_id"),
        "inner",
    )
    src = joined.filter(
        (F.col("mi.game") == "mtg")
        & (F.col("mi.canonical_source") == "scryfall")
        & F.get_json_object(F.col("scr.payload"), "$.prices").isNotNull()
    ).select(
        F.col("mi.id").alias("market_item_id"),
        F.get_json_object(F.col("scr.payload"), "$.prices").alias("prices"),
    )

    entries = F.array(
        *[
            F.struct(
                F.lit(currency).alias("currency"),
                F.lit(price_type).alias("price_type"),
                sql_money_clean_cents(
                    F.get_json_object(F.col("prices"), f"$.{key}")
                ).alias("value_cents"),
                F.to_json(
                    F.struct(
                        F.col("prices").alias("prices"), F.lit(key).alias("key")
                    )
                ).alias("raw"),
            )
            for currency, price_type, key in SCRYFALL_PRICE_SPEC
        ]
    )
    unpivoted = src.select("market_item_id", F.inline(entries))
    return unpivoted.filter(
        F.col("value_cents").isNotNull() & (F.col("value_cents") > 0)
    ).select(
        "market_item_id",
        F.lit("scryfall").alias("source"),
        F.lit(as_of_date).cast("date").alias("as_of_date"),
        "currency",
        "price_type",
        F.lit(None).cast("string").alias("condition"),
        "value_cents",
        "raw",
    )


# ---------------------------------------------------------------------------
# 03 — best price of day (the flagship W1 rollup)
# ---------------------------------------------------------------------------

def build_market_price_daily(
    snapshots: DataFrame,
    date: str | None = None,
    since: str | None = None,
    until: str | None = None,
    currency: str | None = None,
) -> DataFrame:
    """Priority-ranked best-of-day rollup (03:82-198).

    Filters are applied BEFORE the window (03:148-150) so partition
    pruning on `as_of_date` kicks in; ranking uses the reference's two
    CASE ladders then value DESC (03:117-147), with snapshot identity
    tie-breakers appended for determinism.
    """
    filtered = snapshots
    if date is not None:
        filtered = filtered.filter(F.col("as_of_date") == F.lit(date).cast("date"))
    if since is not None:
        filtered = filtered.filter(F.col("as_of_date") >= F.lit(since).cast("date"))
    if until is not None:
        filtered = filtered.filter(F.col("as_of_date") <= F.lit(until).cast("date"))
    if currency is not None:
        filtered = filtered.filter(F.col("currency") == currency)

    src_rank = priority_rank(
        F.col("source"), SOURCE_PRIORITY, SOURCE_PRIORITY_DEFAULT
    )
    type_rank = priority_rank(
        F.col("price_type"), PRICE_TYPE_PRIORITY, PRICE_TYPE_PRIORITY_DEFAULT
    )
    best = best_of_group(
        filtered,
        ["market_item_id", "currency", "as_of_date"],
        [
            src_rank.asc(),
            type_rank.asc(),
            F.col("value_cents").desc(),
            F.col("source").asc(),
            F.col("price_type").asc(),
        ],
    )
    return best.select(
        "market_item_id",
        "as_of_date",
        "currency",
        "value_cents",
        F.lit(70).alias("confidence"),
        F.to_json(
            F.array(
                F.struct(
                    F.col("source").alias("source"),
                    F.col("price_type").alias("price_type"),
                    F.col("value_cents").alias("value_cents"),
                )
            )
        ).alias("sources_used"),
        F.lit("priority_best_of_day").alias("method"),
    )


# ---------------------------------------------------------------------------
# 10 — percentile valuation rollup
# ---------------------------------------------------------------------------

_LOOKBACK_DAYS = 180  # the reference's sales window (10:33-48)


def rollup_market_values(sales: DataFrame, as_of_date: str) -> DataFrame:
    """`market_sales_comps` → `market_values_daily` (10:33-92).

    Per (card_key, grade) over the lookback window: median + quartiles
    (numeric(12,2)), count, latest sale (deterministic window top-1
    instead of the correlated LIMIT 1), confidence A/B/C/D.
    """
    from legendary_data_pipeline_spark.operators.rollup import percentile_rollup

    cutoff = F.lit(as_of_date).cast("timestamp") - F.expr(
        f"INTERVAL {_LOOKBACK_DAYS} DAYS"
    )
    windowed = sales.filter(
        (F.col("sold_at") >= cutoff)
        & (F.col("sold_at") < F.lit(as_of_date).cast("timestamp")
           + F.expr("INTERVAL 1 DAYS"))
    )
    rolled = percentile_rollup(
        windowed,
        ["card_key", "grade"],
        value_col="sold_price_usd",
        ts_col="sold_at",
        tie_breakers=["sold_price_usd"],
        percentiles=(0.25, 0.5, 0.75),
    )
    dec = "decimal(12,2)"
    return rolled.select(
        F.lit(as_of_date).cast("date").alias("as_of_date"),
        "card_key",
        "grade",
        F.col("p50").cast(dec).alias("market_value_usd"),
        F.col("p25").cast(dec).alias("range_low_usd"),
        F.col("p75").cast(dec).alias("range_high_usd"),
        F.col("last_value").cast(dec).alias("last_sale_usd"),
        F.col("last_ts").alias("last_sale_at"),
        F.col("sales_count").cast("int").alias(f"sales_count_{_LOOKBACK_DAYS}d"),
        "confidence",
    )


# ---------------------------------------------------------------------------
# feeds — Google Merchant export
# ---------------------------------------------------------------------------

FEED_HEADERS: tuple[str, ...] = (
    "id", "title", "description", "availability", "availability date",
    "expiration date", "link", "mobile link", "image link", "price",
    "sale price", "sale price effective date", "identifier exists", "gtin",
    "mpn", "brand", "product highlight", "product detail",
    "additional image link", "condition", "adult", "color", "size",
    "size type", "size system", "gender", "material", "pattern",
    "age group", "multipack", "is bundle", "unit pricing measure",
    "unit pricing base measure", "energy efficiency class",
    "min energy efficiency class", "item group id",
    "sell on google quantity",
)

_CARD_ID_CANDIDATES = (
    "card_id", "tcg_card_id", "pokemon_card_id", "ygo_card_id",
    "mtg_card_id", "scryfall_id", "scryfall_card_id",
)


def _scryfall_image(payload: Column) -> Column:
    """image_uris large→normal→small, else first card_face with any
    (exportGoogleMerchantFeed.mjs:158-187). get_json_object returns null
    on malformed JSON — the safe-parse semantics (F9) for free."""
    def uris(prefix: str) -> list[Column]:
        return [
            F.get_json_object(payload, f"$.{prefix}.{size}")
            for size in ("large", "normal", "small")
        ]

    faces = [
        col
        for i in range(2)  # reference scans all faces; two covers MTG DFCs
        for col in uris(f"card_faces[{i}].image_uris")
    ]
    return F.coalesce(*uris("image_uris"), *faces)


def export_google_merchant_feed(
    products: DataFrame,
    tcg_cards: DataFrame | None = None,
    ygo_card_images: DataFrame | None = None,
    scryfall_cards_raw: DataFrame | None = None,
    site_base: str = "https://example.com",
) -> DataFrame:
    """Products (+ per-game image dims) → 37-column feed rows
    (exportGoogleMerchantFeed.mjs:316-393), ordered like the reference
    (created_at ASC NULLS LAST, title ASC → O1).

    Dynamic schema adaptation (S4): the per-game joins are built only if
    a card-id column exists in `products.columns` and the dim is given —
    the Spark analogue of the information_schema probe (mjs:189-214).
    """
    card_id_col = next(
        (c for c in _CARD_ID_CANDIDATES if c in products.columns), None
    )
    has_feed_image = "feed_image_url" in products.columns

    out = products.alias("p")
    image_cols: list[Column] = []
    if has_feed_image:
        image_cols.append(
            F.when(
                F.length(F.trim(F.col("p.feed_image_url"))) > 0,
                F.trim(F.col("p.feed_image_url")),
            )
        )
    if card_id_col and tcg_cards is not None:
        out = out.join(
            F.broadcast(tcg_cards.alias("tcg")),
            (F.col("p.game") == "pokemon")
            & (F.col("tcg.id") == F.col(f"p.{card_id_col}")),
            "left",
        )
        image_cols.extend(
            [F.col("tcg.large_image"), F.col("tcg.small_image")]
        )
    if card_id_col and ygo_card_images is not None:
        out = out.join(
            F.broadcast(ygo_card_images.alias("ygo")),
            (F.col("p.game") == "yugioh")
            & (F.col("ygo.card_id") == F.col(f"p.{card_id_col}")),
            "left",
        )
        image_cols.append(F.col("ygo.image_url"))
    if card_id_col and scryfall_cards_raw is not None:
        out = out.join(
            F.broadcast(scryfall_cards_raw.alias("scr")),
            (F.col("p.game") == "mtg")
            & (F.col("scr.id") == F.col(f"p.{card_id_col}")),
            "left",
        )
        image_cols.append(_scryfall_image(F.col("scr.payload")))

    placeholder = (
        F.when(F.col("p.game") == "pokemon",
               F.lit(f"{site_base}/images/placeholder-pokemon.jpg"))
        .when(F.col("p.game") == "yugioh",
              F.lit(f"{site_base}/images/placeholder-yugioh.jpg"))
        .when(F.col("p.game") == "mtg",
              F.lit(f"{site_base}/images/placeholder-mtg.jpg"))
        .otherwise(F.lit(f"{site_base}/images/placeholder.jpg"))
    )
    image_link = F.coalesce(*image_cols, placeholder) if image_cols else placeholder

    pc = F.coalesce(F.col("p.price_cents"), F.lit(0)).cast("long")
    compare = F.col("p.compare_at_cents").cast("long")
    on_sale = compare.isNotNull() & (compare > pc)
    price_out = F.when(on_sale, cents_to_display(compare)).otherwise(
        cents_to_display(pc)
    )
    sale_out = F.when(on_sale, cents_to_display(pc)).otherwise(F.lit(""))

    status_active = F.lower(F.coalesce(F.col("p.status"), F.lit(""))) == "active"
    qty = F.coalesce(F.col("p.quantity"), F.lit(0))
    availability = F.when(
        status_active & (qty > 0), "in_stock"
    ).otherwise("out_of_stock")
    sell_qty = F.when(status_active & (qty > 0), qty).otherwise(F.lit(0))

    grade_str = F.when(
        F.col("p.grade_x10").isNotNull(),
        F.concat(
            (F.col("p.grade_x10").cast("long") / 10).cast("long").cast("string"),
            F.lit("."),
            (F.col("p.grade_x10").cast("long") % 10).cast("string"),
        ),
    )
    highlight = (
        F.when(
            F.col("p.is_graded"),
            F.concat_ws(
                " ",
                F.upper(F.col("p.grader")),
                F.when(grade_str.isNotNull(), F.concat(F.lit("Grade "), grade_str))
                .otherwise(F.lit("Graded")),
                F.lit("collectible"),
            ),
        )
        .when(F.col("p.sealed"), F.lit("Factory sealed product"))
        .when(
            F.lower(F.coalesce(F.col("p.format"), F.lit(""))) == "accessory",
            F.lit("Collector accessory"),
        )
        .otherwise(F.lit("Collector-quality single"))
    )

    # encodeURIComponent on the RAW slug — the reference does not
    # slugify (mjs:115-118); 'blue eyes!!' becomes 'blue%20eyes!!'.
    link = product_url(site_base, encode_uri_component(F.col("p.slug")))
    is_bundle = F.when(
        (F.col("p.format") == "bundle") | F.col("p.sealed"), "true"
    ).otherwise("false")

    empty = F.lit("")
    feed_cols = {
        "id": F.col("p.id").cast("string"),
        "title": F.col("p.title"),
        "description": F.coalesce(F.col("p.description"), empty),
        "availability": availability,
        "availability date": empty,
        "expiration date": empty,
        "link": link,
        "mobile link": link,
        "image link": image_link,
        "price": price_out,
        "sale price": sale_out,
        "sale price effective date": empty,
        "identifier exists": F.lit("false"),
        "gtin": empty,
        "mpn": empty,
        "brand": F.lit("Legendary Collectibles"),
        "product highlight": highlight,
        "product detail": F.coalesce(F.col("p.subtitle"), empty),
        "additional image link": empty,
        "condition": F.lit("new"),
        "adult": empty,
        "color": empty,
        "size": empty,
        "size type": empty,
        "size system": empty,
        "gender": empty,
        "material": empty,
        "pattern": empty,
        "age group": empty,
        "multipack": empty,
        "is bundle": is_bundle,
        "unit pricing measure": empty,
        "unit pricing base measure": empty,
        "energy efficiency class": empty,
        "min energy efficiency class": empty,
        "item group id": empty,
        "sell on google quantity": sell_qty.cast("string"),
    }
    ordered = out.orderBy(
        F.asc_nulls_last("p.created_at"), F.asc("p.title")
    )
    return ordered.select(
        *[feed_cols[h].alias(h) for h in FEED_HEADERS]
    )


# ---------------------------------------------------------------------------
# revalue — collection revaluation (broadcast joins + groupBy, not a loop)
# ---------------------------------------------------------------------------

def _guarded_numeric(col: Column) -> Column:
    """`CASE WHEN x ~ '^[0-9]+(\\.[0-9]+)?$' THEN x::numeric END` (P9)."""
    return F.when(col.rlike(_NUMERIC_RE), col).cast("decimal(18,6)")


def _trim_numeric(col: Column) -> Column:
    """`NULLIF(TRIM(x),'')::numeric` with a safety regex guard."""
    trimmed = F.trim(col.cast("string"))
    return F.when(
        (trimmed != "") & trimmed.rlike(_NUMERIC_RE), trimmed
    ).cast("decimal(18,6)")


def resolve_prices(
    tcg_prices: DataFrame,
    ygo_prices: DataFrame,
    mtg_prices: DataFrame,
    tcg_ebay: DataFrame | None = None,
) -> DataFrame:
    """Union of per-game price dims tagged with `game` (U2), each a
    COALESCE fallback chain (F12/J8, revalueCollection.mjs:186-290)."""
    pokemon = tcg_prices.select(
        F.lit("pokemon").alias("game"),
        F.col("card_id").cast("string").alias("card_id"),
        F.coalesce(
            F.col("market_price").cast("decimal(18,6)"),
            F.col("mid_price").cast("decimal(18,6)"),
            _guarded_numeric(F.col("normal")),
            _guarded_numeric(F.col("reverse_holofoil")),
            _guarded_numeric(F.col("holofoil")),
            _guarded_numeric(F.col("first_edition_holofoil")),
            _guarded_numeric(F.col("first_edition_normal")),
        ).alias("price"),
    )
    if tcg_ebay is not None:
        # eBay median only where tcgplayer has no price (mjs:214-224).
        ebay = tcg_ebay.filter(F.col("game") == "pokemon").select(
            F.col("card_id").cast("string").alias("card_id"),
            F.col("median").cast("decimal(18,6)").alias("ebay_price"),
        )
        pokemon = (
            pokemon.join(F.broadcast(ebay), "card_id", "full_outer")
            .select(
                F.lit("pokemon").alias("game"),
                "card_id",
                F.coalesce(F.col("price"), F.col("ebay_price")).alias("price"),
            )
        )
    ygo = ygo_prices.select(
        F.lit("yugioh").alias("game"),
        F.col("card_id").cast("string").alias("card_id"),
        F.coalesce(
            _trim_numeric(F.col("tcgplayer_price")),
            _trim_numeric(F.col("cardmarket_price")),
            _trim_numeric(F.col("amazon_price")),
            _trim_numeric(F.col("coolstuffinc_price")),
            _trim_numeric(F.col("ebay_price")),
        ).alias("price"),
    )
    mtg = mtg_prices.select(
        F.lit("mtg").alias("game"),
        F.col("scryfall_id").cast("string").alias("card_id"),
        F.col("effective_usd").cast("decimal(18,6)").alias("price"),
    )
    return (
        pokemon.unionByName(ygo)
        .unionByName(mtg)
        .filter(F.col("card_id").isNotNull() & F.col("price").isNotNull())
    )


_GAME_NORM = {"ygo": "yugioh", "magic": "mtg"}


def revalue_collection(
    items: DataFrame, prices: DataFrame, as_of_date: str
) -> tuple[DataFrame, DataFrame]:
    """Items × broadcast price dim → (repriced items, per-user valuations).

    Replaces the reference's driver-side Maps + row loop
    (revalueCollection.mjs:43-103): J7 broadcast hash join, A3 groupBy.
    Both outputs come from the one join. The repriced items are every
    input row with `last_value_cents` replaced, columns in table order
    (`id`, the other item columns, `last_value_cents` last), so the S8
    rewrite of the items table writes them as they are.
    Semantics preserved: qty null→0; per-unit `last_value_cents`
    = round(price*100) or NULL when unpriced (incl. null card_id);
    cost contributes only when non-null; value contributes only when
    priced; users keep a row even if nothing priced (zeros).
    """
    game_norm = F.lower(F.coalesce(F.col("game"), F.lit("")))
    for alias, canonical in _GAME_NORM.items():
        game_norm = F.when(
            F.lower(F.col("game")) == alias, canonical
        ).otherwise(game_norm)
    normalized = items.withColumn("__game", game_norm)

    joined = normalized.alias("i").join(
        F.broadcast(prices.alias("pr")),
        (F.col("i.__game") == F.col("pr.game"))
        & (F.col("i.card_id").cast("string") == F.col("pr.card_id")),
        "left",
    )
    kept = [c for c in items.columns if c not in ("id", "last_value_cents")]
    repriced = joined.select(
        F.col("i.id").alias("id"),
        *[F.col(f"i.`{c}`").alias(c) for c in kept],
        F.round(F.col("pr.price") * 100, 0).cast("long").alias("last_value_cents"),
    )

    qty = F.coalesce(F.col("quantity"), F.lit(0)).cast("long")
    valuations = repriced.groupBy("user_id").agg(
        F.sum(qty).alias("total_quantity"),
        F.count(F.lit(1)).alias("distinct_items"),
        F.coalesce(
            F.sum(F.col("cost_cents").cast("long") * qty), F.lit(0)
        ).alias("total_cost_cents"),
        F.coalesce(
            F.sum(F.col("last_value_cents") * qty), F.lit(0)
        ).alias("total_value_cents"),
    ).select(
        "user_id",
        F.lit(as_of_date).cast("date").alias("as_of_date"),
        "total_quantity",
        "distinct_items",
        "total_cost_cents",
        "total_value_cents",
    )
    return repriced, valuations
