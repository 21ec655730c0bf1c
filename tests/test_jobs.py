"""Pipeline parity jobs over reference-shaped fixtures (FIXTURES.md §B)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.plans import jobs
from legendary_data_pipeline_spark.sources.csv_alias import (
    PRICECHARTING_ALIASES,
    read_csv_with_aliases,
)


# ---------------------------------------------------------------------------
# 01 import
# ---------------------------------------------------------------------------

def test_import_pricecharting(spark, tmp_path):
    path = tmp_path / "in.csv"
    path.write_text(
        "id,product-name,console-name,loose-price,psa-10-price,release-date\r\n"
        '7,"Blastoise, Base",Pokemon,"$1,000.50",$9,1999-01-09\r\n'
        "8,Junk Price,Pokemon,N/A,,bad-date\r\n"
        ",No Id,Pokemon,$1.00,,1999-01-01\r\n"
    )
    aliased = read_csv_with_aliases(spark, str(path), PRICECHARTING_ALIASES)
    out = jobs.import_pricecharting(aliased, "pokemon", "2024-06-01")
    rows = {r.pricecharting_id: r for r in out.collect()}
    assert set(rows) == {"7", "8"}  # row without id dropped (P7)
    assert rows["7"].loose_price_cents == 100050  # '$1,000.50' → cents
    assert rows["7"].psa_10_price_cents == 900
    assert rows["8"].loose_price_cents is None  # junk rejected, not crashed
    assert str(rows["7"].release_date) == "1999-01-09"
    assert rows["8"].release_date is None
    raw = json.loads(rows["7"].raw)
    assert raw["loose_price"] == "$1,000.50"  # original cell preserved
    with pytest.raises(ValueError):
        jobs.import_pricecharting(aliased, "chess", "2024-06-01")


# ---------------------------------------------------------------------------
# 02 normalize
# ---------------------------------------------------------------------------

def test_normalize_scryfall(spark):
    cards = spark.createDataFrame(
        [
            ("c1", json.dumps({"prices": {"usd": "1.23", "usd_foil": None,
                                          "eur": "2,50", "tix": "0.5"}})),
            ("c2", json.dumps({"prices": {"usd": "0"}})),   # non-positive
            ("c3", json.dumps({"name": "no prices"})),       # no prices key
            ("c4", "not json"),
        ],
        "id string, payload string",
    )
    items = spark.createDataFrame(
        [
            (11, "mtg", "scryfall", "c1"),
            (12, "mtg", "scryfall", "c2"),
            (13, "mtg", "scryfall", "c3"),
            (14, "mtg", "scryfall", "c4"),
            (15, "pokemon", "tcg", "c1"),  # filtered by game/source
        ],
        "id long, game string, canonical_source string, canonical_id string",
    )
    out = jobs.normalize_scryfall(cards, items, "2024-06-01").collect()
    by_key = {(r.market_item_id, r.currency, r.price_type): r for r in out}
    # usd 1.23 → 123; eur '2,50' cleans to '250' (the reference strips the
    # comma with [^0-9.\-] before *100, so 2,50 → 25000 cents — preserved
    # quirk); tix 0.5 → 50; usd_foil null and usd=0 dropped
    assert set(by_key) == {
        (11, "USD", "market"),
        (11, "EUR", "market"),
        (11, "USD", "tix"),
    }
    assert by_key[(11, "USD", "market")].value_cents == 123
    assert by_key[(11, "EUR", "market")].value_cents == 25000
    row = by_key[(11, "USD", "tix")]
    assert row.source == "scryfall" and row.condition is None
    assert json.loads(row.raw)["key"] == "tix"


# ---------------------------------------------------------------------------
# 03 daily best
# ---------------------------------------------------------------------------

def test_build_market_price_daily_priority(spark):
    snaps = spark.createDataFrame(
        [
            # tcgplayer beats scryfall regardless of value
            (1, "scryfall", "2024-06-01", "USD", "market", None, 999, "{}"),
            (1, "tcgplayer", "2024-06-01", "USD", "market", None, 100, "{}"),
            # within a source: market beats foil
            (2, "scryfall", "2024-06-01", "USD", "foil", None, 500, "{}"),
            (2, "scryfall", "2024-06-01", "USD", "market", None, 400, "{}"),
            # tie on ladders → higher value wins
            (3, "ebay", "2024-06-01", "USD", "low", None, 300, "{}"),
            (3, "ebay", "2024-06-01", "USD", "low", "NM", 350, "{}"),
            # different day → separate group
            (1, "amazon", "2024-06-02", "USD", "market", None, 777, "{}"),
            # unknown source/type rank last
            (4, "randomsource", "2024-06-01", "USD", "weird", None, 1, "{}"),
        ],
        "market_item_id long, source string, as_of_date string, currency string,"
        " price_type string, condition string, value_cents long, raw string",
    ).withColumn("as_of_date", F.col("as_of_date").cast("date"))
    out = jobs.build_market_price_daily(snaps)
    best = {(r.market_item_id, str(r.as_of_date)): r for r in out.collect()}
    assert best[(1, "2024-06-01")].value_cents == 100  # tcgplayer wins
    assert best[(2, "2024-06-01")].value_cents == 400  # market wins
    assert best[(3, "2024-06-01")].value_cents == 350  # value desc
    assert best[(1, "2024-06-02")].value_cents == 777
    assert best[(4, "2024-06-01")].value_cents == 1
    meta = best[(1, "2024-06-01")]
    assert meta.confidence == 70 and meta.method == "priority_best_of_day"
    assert json.loads(meta.sources_used)[0]["source"] == "tcgplayer"
    # date filters prune
    assert (
        jobs.build_market_price_daily(snaps, date="2024-06-02").count() == 1
    )
    assert (
        jobs.build_market_price_daily(
            snaps, since="2024-06-01", until="2024-06-01"
        ).count() == 4
    )


def test_price_type_ladder_matches_reference(spark):
    """Pin the exact 03:129-145 ladder: low < high < loose < cib < new <
    graded < foil < etched < tix < unknown."""
    snaps = spark.createDataFrame(
        [
            (1, "ebay", "2024-06-01", "USD", pt, None, 100 + i, "{}")
            for i, pt in enumerate(
                ["tix", "etched", "foil", "graded", "new", "cib",
                 "loose", "high", "low"]
            )
        ],
        "market_item_id long, source string, as_of_date string, currency string,"
        " price_type string, condition string, value_cents long, raw string",
    ).withColumn("as_of_date", F.col("as_of_date").cast("date"))
    best = jobs.build_market_price_daily(snaps).collect()
    assert len(best) == 1
    assert json.loads(best[0].sources_used)[0]["price_type"] == "low"


# ---------------------------------------------------------------------------
# 10 rollup
# ---------------------------------------------------------------------------

def test_rollup_market_values(spark):
    rows = []
    # 10 in-window sales for PSA10 → confidence A; median computable
    for i in range(10):
        rows.append(("chz", "PSA10", float(100 + i), f"2024-05-{i+1:02d} 12:00:00"))
    # 1 sale for RAW → confidence D
    rows.append(("chz", "RAW", 50.0, "2024-05-20 09:00:00"))
    # out-of-window sale ignored (older than 180d from as_of)
    rows.append(("chz", "PSA10", 9999.0, "2023-01-01 00:00:00"))
    sales = spark.createDataFrame(
        rows, "card_key string, grade string, sold_price_usd double, sold_at string"
    ).withColumn("sold_at", F.col("sold_at").cast("timestamp"))
    out = {
        (r.card_key, r.grade): r
        for r in jobs.rollup_market_values(sales, "2024-06-01").collect()
    }
    psa = out[("chz", "PSA10")]
    assert float(psa.market_value_usd) == 104.5  # median of 100..109
    assert float(psa.range_low_usd) == 102.25
    assert float(psa.range_high_usd) == 106.75
    assert psa.sales_count_180d == 10 and psa.confidence == "A"
    assert float(psa.last_sale_usd) == 109.0  # latest sold_at
    raw = out[("chz", "RAW")]
    assert raw.confidence == "D" and float(raw.last_sale_usd) == 50.0


# ---------------------------------------------------------------------------
# feeds
# ---------------------------------------------------------------------------

def _products(spark, with_card_id=True, with_feed_image=False):
    cols = (
        "id string, title string, slug string, game string, format string,"
        " sealed boolean, is_graded boolean, grader string, grade_x10 int,"
        " condition string, price_cents long, compare_at_cents long,"
        " inventory_type string, quantity int, status string, subtitle string,"
        " description string, created_at timestamp"
    )
    rows = [
        ("p1", "Charizard Holo", "charizard-holo", "pokemon", "single",
         False, True, "psa", 95, "NM", 10000, 12000, "single", 3, "active",
         "sub1", "desc\nwith newline", None),
        ("p2", "Blue-Eyes", "blue eyes!!", "yugioh", "single",
         False, False, None, None, "LP", 2000, None, "single", 0, "active",
         None, "d2", None),
        ("p3", "Black Lotus", "black-lotus", "mtg", "single",
         False, False, None, None, "MP", 99999, 50, "single", 1, "draft",
         None, "d3", None),
        ("p4", "ETB Sealed", "etb", "pokemon", "bundle",
         True, False, None, None, "NM", 5000, None, "sealed", 5, "active",
         None, "d4", None),
    ]
    if with_card_id:
        cols += ", card_id string"
        rows = [r + (f"card-{r[0]}",) for r in rows]
    if with_feed_image:
        cols += ", feed_image_url string"
        rows = [r + ("https://cdn/x.jpg" if r[0] == "p4" else None,) for r in rows]
    return spark.createDataFrame(rows, cols)


def test_export_feed_full(spark):
    products = _products(spark, with_card_id=True, with_feed_image=True)
    tcg = spark.createDataFrame(
        [("card-p1", "small.jpg", "large.jpg")],
        "id string, small_image string, large_image string",
    )
    ygo = spark.createDataFrame(
        [("card-p2", "ygo.jpg")], "card_id string, image_url string"
    )
    scry = spark.createDataFrame(
        [
            ("card-p3",
             json.dumps({"card_faces": [
                 {"image_uris": {"normal": "face0.jpg"}}]})),
        ],
        "id string, payload string",
    )
    feed = jobs.export_google_merchant_feed(products, tcg, ygo, scry)
    assert list(feed.columns) == list(jobs.FEED_HEADERS)
    rows = {r["id"]: r.asDict() for r in feed.collect()}
    assert len(rows) == 4
    # sale-price swap: compare_at 12000 > price 10000
    assert rows["p1"]["price"] == "120.00 USD"
    assert rows["p1"]["sale price"] == "100.00 USD"
    # no swap when compare_at < price
    assert rows["p3"]["price"] == "999.99 USD" and rows["p3"]["sale price"] == ""
    # image priority: feed_image_url > game dims > scryfall faces > placeholder
    assert rows["p4"]["image link"] == "https://cdn/x.jpg"
    assert rows["p1"]["image link"] == "large.jpg"
    assert rows["p2"]["image link"] == "ygo.jpg"
    assert rows["p3"]["image link"] == "face0.jpg"
    # availability: draft → out_of_stock; qty 0 → out_of_stock
    assert rows["p3"]["availability"] == "out_of_stock"
    assert rows["p2"]["availability"] == "out_of_stock"
    assert rows["p1"]["availability"] == "in_stock"
    assert rows["p3"]["sell on google quantity"] == "0"
    # highlight: graded product formats grade_x10/10
    assert rows["p1"]["product highlight"] == "PSA Grade 9.5 collectible"
    assert rows["p4"]["product highlight"] == "Factory sealed product"
    assert rows["p4"]["is bundle"] == "true"
    # slug URL building: encodeURIComponent on the raw slug (mjs:115-118)
    assert rows["p2"]["link"] == "https://example.com/products/blue%20eyes!!"


def test_export_feed_without_card_id_column(spark):
    """S4 dynamic adaptation: no card-id column → joins skipped, placeholders."""
    products = _products(spark, with_card_id=False)
    feed = jobs.export_google_merchant_feed(products)
    rows = {r["id"]: r.asDict() for r in feed.collect()}
    assert rows["p1"]["image link"].endswith("placeholder-pokemon.jpg")
    assert rows["p2"]["image link"].endswith("placeholder-yugioh.jpg")


# ---------------------------------------------------------------------------
# revalue
# ---------------------------------------------------------------------------

def test_revalue_collection(spark):
    tcg = spark.createDataFrame(
        [
            ("pk1", None, None, "12.50", None, None, None, None),
            ("pk2", 3.0, None, "junk", None, None, None, None),
        ],
        "card_id string, market_price double, mid_price double, normal string,"
        " reverse_holofoil string, holofoil string,"
        " first_edition_holofoil string, first_edition_normal string",
    )
    ebay = spark.createDataFrame(
        [("pk3", 7.5, "pokemon"), ("pk1", 99.0, "pokemon")],
        "card_id string, median double, game string",
    )
    ygo = spark.createDataFrame(
        [("yg1", " 2.00 ", None, "", None, None)],
        "card_id string, tcgplayer_price string, cardmarket_price string,"
        " amazon_price string, coolstuffinc_price string, ebay_price string",
    )
    mtg = spark.createDataFrame(
        [("mg1", 1000.0)], "scryfall_id string, effective_usd double"
    )
    prices = jobs.resolve_prices(tcg, ygo, mtg, tcg_ebay=ebay)
    resolved = {(r.game, r.card_id): float(r.price) for r in prices.collect()}
    assert resolved[("pokemon", "pk1")] == 12.5   # guarded text, not ebay
    assert resolved[("pokemon", "pk2")] == 3.0    # market_price first
    assert resolved[("pokemon", "pk3")] == 7.5    # ebay fallback only
    assert resolved[("yugioh", "yg1")] == 2.0     # trimmed text
    assert resolved[("mtg", "mg1")] == 1000.0

    items = spark.createDataFrame(
        [
            ("i1", "u1", "pokemon", "pk1", 2, 500),
            ("i2", "u1", "ygo", "yg1", 1, None),      # game alias ygo→yugioh
            ("i3", "u1", "mtg", None, 4, 100),        # null card_id → unpriced
            ("i4", "u2", "magic", "mg1", 1, 2000),    # magic→mtg
            ("i5", "u3", "pokemon", "nope", 3, None), # unknown card
        ],
        "id string, user_id string, game string, card_id string,"
        " quantity int, cost_cents long",
    )
    repriced, valuations = jobs.revalue_collection(items, prices, "2024-06-01")
    upd = {r.id: r.last_value_cents for r in repriced.collect()}
    assert upd == {"i1": 1250, "i2": 200, "i3": None, "i4": 100000, "i5": None}
    # Every input row, unchanged apart from the appended price, in table
    # order: `id` first, `last_value_cents` last.
    assert repriced.columns == [*items.columns, "last_value_cents"]
    assert sorted(repriced.drop("last_value_cents").collect()) == sorted(
        items.collect()
    )
    # An items table that already has the column keeps its place last.
    stale = items.withColumn("last_value_cents", F.lit(1).cast("long")).select(
        "id", "last_value_cents", "user_id", "game", "card_id", "quantity",
        "cost_cents",
    )
    again, _ = jobs.revalue_collection(stale, prices, "2024-06-01")
    assert again.columns == repriced.columns
    assert sorted(again.collect()) == sorted(repriced.collect())
    vals = {r.user_id: r for r in valuations.collect()}
    u1 = vals["u1"]
    # qty=2+1+4; items=3; cost=500*2+100*4 (null cost skipped);
    # value=1250*2+200*1 (unpriced skipped)
    assert u1.total_quantity == 7 and u1.distinct_items == 3
    assert u1.total_cost_cents == 1400 and u1.total_value_cents == 2700
    u3 = vals["u3"]
    assert u3.total_value_cents == 0 and u3.total_cost_cents == 0
