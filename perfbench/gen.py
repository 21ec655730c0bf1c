"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same rows, and the files are written with pyarrow, so the bytes are the
same too. Nothing here starts Spark.

- `warehouse`: the ten-table star schema the registered queries read
  (the shape of the repo's sf testdata: TPC-H-like relational tables,
  an `events` stream table, a text corpus and an embedding table).
- `collectibles`: the marketplace warehouse the reference pipeline chain
  reads (vendor price CSV, card payloads, sales comps, products, price
  dimensions, user collections), plus the inputs that land each day.
- `event_files`: an event-time-ordered backlog of parquet files over a
  skewed user population, for the streaming entry points.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import date, datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated warehouse (the repo's sf0.01 testdata sizes).
WAREHOUSE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _days(rng, lo: date, hi: date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def warehouse(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten warehouse tables as `<out_dir>/<table>.parquet`.

    Returns table → row count.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = WAREHOUSE_ROWS
    i32, i64 = pa.int32(), pa.int64()

    region = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    c = n["customer"]
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(c, dtype="int64"),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                c,
            ),
        }
    )
    s = n["supplier"]
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(s, dtype="int64"),
            "s_name": [f"Supplier#{k:09d}" for k in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(p, dtype="int64"),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p
            ),
            "p_size": rng.integers(1, 51, p).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(o, dtype="int64"),
            "o_custkey": rng.integers(0, c, o).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, date(1995, 1, 1), date(2001, 8, 1), o),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        }
    )
    li = n["lineitem"]
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, o, li).astype("int64"),
            "l_partkey": rng.integers(0, p, li).astype("int64"),
            "l_suppkey": rng.integers(0, s, li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, li).astype("int32"),
            "l_quantity": rng.integers(1, 51, li).astype("float64"),
            "l_extendedprice": _money(rng, 900.68, 104999.91, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, date(1995, 1, 2), date(2001, 11, 4), li),
        }
    )
    ev = n["events"]
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, ev).astype("timedelta64[us]")
    )
    events = pd.DataFrame(
        {
            "event_id": np.arange(ev, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, EVENT_USERS, ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, ev),
            "value": np.round(rng.exponential(50.0, ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
        }
    )
    d = n["documents"]
    texts: list[str] = []
    for k in range(d):
        if k > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(d, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, d, p=_LANG_P),
            "source": [f"src{k % 20}" for k in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    e = n["embeddings"]
    vecs = rng.standard_normal((e, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(e, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, e).astype("int32"),
        }
    )
    emb_schema = pa.schema(
        [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]
    )
    frames = {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }
    for name, frame in frames.items():
        _write(frame, os.path.join(out_dir, f"{name}.parquet"))
    _write(embeddings, os.path.join(out_dir, "embeddings.parquet"), emb_schema)
    return {name: len(frame) for name, frame in {**frames, "embeddings": embeddings}.items()}


# ---------------------------------------------------------------------------
# collectibles warehouse (daily-pipeline)
# ---------------------------------------------------------------------------

COLLECTIBLES = {
    "cards": 2000,  # pricecharting products per vendor CSV
    "scryfall": 1500,  # mtg cards with payloads
    "sales_per_day": 150,  # new sales comps per day
    "sales_history_days": 180,
    "products": 2000,
    "tcg": 800,
    "ygo": 800,
    "items": 10000,
    "users": 1000,
}
_GRADES = ("raw", "PSA9", "PSA10", "BGS9.5", "CGC10")
_GAMES = ("pokemon", "yugioh", "mtg")


def _price_str(rng, cents: np.ndarray) -> list[str]:
    """Vendor money strings: `$1,234.56`, with some blanks and junk."""
    out = []
    kinds = rng.random(len(cents))
    for v, kind in zip(cents.tolist(), kinds.tolist()):
        if kind < 0.05:
            out.append("")
        elif kind < 0.07:
            out.append("N/A")
        else:
            out.append(f"${v // 100:,}.{v % 100:02d}")
    return out


def _csv_field(v: str) -> str:
    return '"' + v.replace('"', '""') + '"' if ("," in v or '"' in v) else v


def collectibles_base(wh: str, seed: int) -> dict[str, int]:
    """Write the tables the pipeline reads but never writes, plus the
    user collection it revalues. Returns table → row count."""
    os.makedirs(wh, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = COLLECTIBLES
    mtg_ids = [f"scr-{k:06d}" for k in range(n["scryfall"])]
    tcg_ids = [f"tcg-{k:06d}" for k in range(n["tcg"])]
    ygo_ids = [f"ygo-{k:06d}" for k in range(n["ygo"])]
    items_mi = pd.DataFrame(
        {
            "id": np.arange(n["scryfall"] + 200, dtype="int64"),
            "game": ["mtg"] * n["scryfall"] + ["pokemon"] * 200,
            "canonical_source": ["scryfall"] * n["scryfall"] + ["tcgplayer"] * 200,
            "canonical_id": mtg_ids + tcg_ids[:200],
        }
    )
    _write_dir(items_mi, os.path.join(wh, "market_items"))
    tcg_cards = pd.DataFrame(
        {
            "id": tcg_ids,
            "large_image": [f"https://img.example/tcg/{k}/large.png" for k in tcg_ids],
            "small_image": [f"https://img.example/tcg/{k}/small.png" for k in tcg_ids],
        }
    )
    _write_dir(tcg_cards, os.path.join(wh, "tcg_cards"))
    ygo_images = pd.DataFrame(
        {
            "card_id": ygo_ids,
            "image_url": [f"https://img.example/ygo/{k}.jpg" for k in ygo_ids],
        }
    )
    _write_dir(ygo_images, os.path.join(wh, "ygo_card_images"))

    pcount = n["products"]
    game = rng.choice(_GAMES, pcount)
    card_id = [
        (tcg_ids if g == "pokemon" else ygo_ids if g == "yugioh" else mtg_ids)[
            int(rng.integers(0, 800))
        ]
        for g in game
    ]
    graded = rng.random(pcount) < 0.2
    price = rng.integers(50, 500_000, pcount)
    compare = np.where(rng.random(pcount) < 0.3, price + rng.integers(1, 5000, pcount), -1)
    products = pd.DataFrame(
        {
            "id": [f"p{k:06d}" for k in range(pcount)],
            "title": [f"Card {k} \"{g}\", holo" for k, g in enumerate(game)],
            "slug": [f"card-{k}" for k in range(pcount)],
            "game": game,
            "format": rng.choice(["single", "bundle", "accessory"], pcount, p=[0.8, 0.1, 0.1]),
            "sealed": rng.random(pcount) < 0.1,
            "is_graded": graded,
            "grader": np.where(graded, "psa", None),
            "grade_x10": pd.Series(rng.integers(60, 101, pcount), dtype="Int32").where(graded),
            "condition": rng.choice(["NM", "LP", "MP"], pcount),
            "price_cents": price.astype("int64"),
            "compare_at_cents": pd.Series(compare, dtype="Int64").where(compare > 0),
            "inventory_type": "single",
            "quantity": rng.integers(0, 5, pcount).astype("int32"),
            "status": rng.choice(["active", "draft"], pcount, p=[0.9, 0.1]),
            "subtitle": None,
            "description": [f"Collectible card number {k}." for k in range(pcount)],
            "created_at": np.datetime64("2024-01-01", "us")
            + rng.integers(0, 200 * 86_400_000_000, pcount).astype("timedelta64[us]"),
            "card_id": card_id,
        }
    )
    products_schema = pa.schema(
        [
            ("id", pa.string()), ("title", pa.string()), ("slug", pa.string()),
            ("game", pa.string()), ("format", pa.string()), ("sealed", pa.bool_()),
            ("is_graded", pa.bool_()), ("grader", pa.string()),
            ("grade_x10", pa.int32()), ("condition", pa.string()),
            ("price_cents", pa.int64()), ("compare_at_cents", pa.int64()),
            ("inventory_type", pa.string()), ("quantity", pa.int32()),
            ("status", pa.string()), ("subtitle", pa.string()),
            ("description", pa.string()), ("created_at", pa.timestamp("us", tz="UTC")),
            ("card_id", pa.string()),
        ]
    )
    products["created_at"] = pd.to_datetime(products["created_at"]).dt.tz_localize("UTC")
    _write_dir(products, os.path.join(wh, "products"), products_schema)

    icount = n["items"]
    igame = rng.choice(["pokemon", "yugioh", "ygo", "mtg", "magic"], icount)
    icard = [
        (tcg_ids if g == "pokemon" else ygo_ids if g in ("yugioh", "ygo") else mtg_ids)[
            int(rng.integers(0, 800))
        ]
        for g in igame
    ]
    items = pd.DataFrame(
        {
            "id": [f"i{k:07d}" for k in range(icount)],
            "user_id": [f"u{k:05d}" for k in rng.integers(0, n["users"], icount)],
            "game": igame,
            "card_id": icard,
            "quantity": rng.integers(1, 5, icount).astype("int32"),
            "cost_cents": rng.integers(10, 100_000, icount).astype("int64"),
            "last_value_cents": pd.array([None] * icount, dtype="Int64"),
        }
    )
    _write_dir(items, os.path.join(wh, "user_collection_items"))
    return {
        "market_items": len(items_mi), "tcg_cards": len(tcg_cards),
        "ygo_card_images": len(ygo_images), "products": pcount,
        "user_collection_items": icount,
    }


def _write_dir(df: pd.DataFrame, path: str, schema: pa.Schema | None = None,
               name: str = "part-00000.parquet") -> None:
    os.makedirs(path, exist_ok=True)
    _write(df, os.path.join(path, name), schema)


def collectibles_day(wh: str, landing: str, seed: int, day: date, first: bool) -> dict[str, int]:
    """Land one day's vendor inputs: the price CSV (returned path under
    `landing`), fresh card payloads and price dimensions (overwritten),
    and the day's sales comps (appended; the first day also writes the
    sales history). Returns input name → rows landed, plus `csv` path."""
    rng = np.random.default_rng([seed, 3, day.toordinal()])
    n = COLLECTIBLES
    os.makedirs(landing, exist_ok=True)

    cards = n["cards"]
    cents = rng.integers(100, 2_000_000, (cards, 3))
    loose, cib, psa = (_price_str(rng, cents[:, j]) for j in range(3))
    lines = ["id,product-name,console-name,loose-price,cib-price,psa-10-price,release-date"]
    for k in range(cards):
        if rng.random() < 0.01:  # rows the importer must drop (no id)
            pid = ""
        else:
            pid = str(1000 + k)
        name = f"Card {k}, Edition {int(rng.integers(1, 9))}"
        rel = "bad-date" if rng.random() < 0.02 else (date(1999, 1, 1) + timedelta(days=int(rng.integers(0, 9000)))).isoformat()
        lines.append(",".join(_csv_field(v) for v in (pid, name, "Pokemon", loose[k], cib[k], psa[k], rel)))
    csv_path = os.path.join(landing, f"pricecharting-{day.isoformat()}.csv")
    with open(csv_path, "w", newline="") as fh:
        fh.write("\r\n".join(lines) + "\r\n")

    scr = n["scryfall"]
    payloads = []
    for k in range(scr):
        prices = {}
        for key in ("usd", "usd_foil", "eur", "tix"):
            if rng.random() < 0.8:
                v = int(rng.integers(1, 500_000))
                prices[key] = f"{v // 100}.{v % 100:02d}"
            else:
                prices[key] = None
        doc = {"id": f"scr-{k:06d}", "prices": prices}
        if rng.random() < 0.7:
            doc["image_uris"] = {"large": f"https://img.example/mtg/{k}/large.jpg"}
        payloads.append(json.dumps(doc))
    scryfall = pd.DataFrame({"id": [f"scr-{k:06d}" for k in range(scr)], "payload": payloads})
    _replace_dir(scryfall, os.path.join(wh, "scryfall_cards_raw"))

    tcg = n["tcg"]
    mp = np.where(rng.random(tcg) < 0.8, rng.integers(10, 100_000, tcg) / 100.0, np.nan)
    tcg_prices = pd.DataFrame(
        {
            "card_id": [f"tcg-{k:06d}" for k in range(tcg)],
            "market_price": mp,
            "mid_price": rng.integers(10, 100_000, tcg) / 100.0,
            "normal": [f"{v / 100:.2f}" for v in rng.integers(10, 100_000, tcg)],
            "reverse_holofoil": None, "holofoil": None,
            "first_edition_holofoil": None, "first_edition_normal": None,
        }
    )
    tcg_schema = pa.schema(
        [("card_id", pa.string()), ("market_price", pa.float64()), ("mid_price", pa.float64())]
        + [(c, pa.string()) for c in ("normal", "reverse_holofoil", "holofoil",
                                      "first_edition_holofoil", "first_edition_normal")]
    )
    _replace_dir(tcg_prices, os.path.join(wh, "tcg_card_prices_tcgplayer"), tcg_schema)
    ygo = n["ygo"]
    ygo_prices = pd.DataFrame(
        {
            "card_id": [f"ygo-{k:06d}" for k in range(ygo)],
            "tcgplayer_price": [f"{v / 100:.2f}" if v % 5 else " " for v in rng.integers(10, 50_000, ygo)],
            "cardmarket_price": [f"{v / 100:.2f}" for v in rng.integers(10, 50_000, ygo)],
            "amazon_price": None, "coolstuffinc_price": None, "ebay_price": None,
        }
    )
    ygo_schema = pa.schema([(c, pa.string()) for c in ygo_prices.columns])
    _replace_dir(ygo_prices, os.path.join(wh, "ygo_card_prices"), ygo_schema)
    mtg_prices = pd.DataFrame(
        {
            "scryfall_id": [f"scr-{k:06d}" for k in range(scr)],
            "effective_usd": rng.integers(1, 500_000, scr) / 100.0,
        }
    )
    _replace_dir(mtg_prices, os.path.join(wh, "mtg_prices_effective"))

    days = list(range(n["sales_history_days"], -1, -1)) if first else [0]
    per = n["sales_per_day"]
    frames = []
    for back in days:
        start = datetime.combine(day - timedelta(days=back), datetime.min.time())
        frames.append(
            pd.DataFrame(
                {
                    "card_key": [f"card-{k}" for k in rng.integers(0, 300, per)],
                    "grade": rng.choice(_GRADES, per),
                    "sold_price_usd": rng.integers(100, 200_000, per) / 100.0,
                    "sold_at": pd.to_datetime(start)
                    + pd.to_timedelta(rng.integers(0, 86_400, per), unit="s"),
                }
            )
        )
    sales = pd.concat(frames, ignore_index=True)
    sales["sold_at"] = sales["sold_at"].dt.tz_localize("UTC")
    sales_schema = pa.schema(
        [("card_key", pa.string()), ("grade", pa.string()),
         ("sold_price_usd", pa.float64()), ("sold_at", pa.timestamp("us", tz="UTC"))]
    )
    _write_dir(sales, os.path.join(wh, "market_sales_comps"), sales_schema,
               name=f"part-{day.isoformat()}.parquet")
    return {"csv": csv_path, "csv_rows": cards, "scryfall_cards_raw": scr,
            "price_dims": tcg + ygo + scr, "market_sales_comps": len(sales)}


def _replace_dir(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    if os.path.isdir(path):
        for f in os.listdir(path):
            os.remove(os.path.join(path, f))
    _write_dir(df, path, schema)


# ---------------------------------------------------------------------------
# event backlog (stream-catchup)
# ---------------------------------------------------------------------------

EVENT_FILE_ROWS = 600
EVENT_FILE_SPAN_H = 12
EVENT_ORIGIN_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z
STREAM_USERS = 300

_EVENTS_SCHEMA = pa.schema(
    [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
     ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
)


def event_files(out_dir: str, seed: int, n_files: int) -> list[dict]:
    """Write `n_files` event files, file i covering event-time hours
    [i*span, (i+1)*span) from 2024-03-01, users drawn from a Zipf-like
    skew. Returns per-file dicts: path, rows, t_min_us, t_max_us (offsets
    from EVENT_ORIGIN_US)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    weights = 1.0 / np.arange(1, STREAM_USERS + 1) ** 1.1
    weights /= weights.sum()
    perm = rng.permutation(STREAM_USERS)
    span_us = EVENT_FILE_SPAN_H * 3_600_000_000
    t0 = np.datetime64(EVENT_ORIGIN_US, "us")
    files = []
    for i in range(n_files):
        rows = EVENT_FILE_ROWS
        offs = np.sort(rng.integers(0, span_us, rows)) + i * span_us
        df = pd.DataFrame(
            {
                "event_id": np.arange(i * rows, (i + 1) * rows, dtype="int64"),
                "ts": t0 + offs.astype("timedelta64[us]"),
                "user_id": perm[rng.choice(STREAM_USERS, rows, p=weights)].astype("int64"),
                "event_type": rng.choice(_EVENT_TYPES, rows),
                "value": np.round(rng.exponential(50.0, rows), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
            }
        )
        path = os.path.join(out_dir, f"events-{i:04d}.parquet")
        _write(df, path, _EVENTS_SCHEMA)
        files.append({"path": path, "rows": rows, "t_min_us": int(offs.min()), "t_max_us": int(offs.max())})
    return files


# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------

def layout_fingerprint(paths: list[str]) -> str:
    """sha256 over each parquet file's physical layout (file name,
    row groups, rows): equal shas mean equal scan splits."""
    digest = hashlib.sha256()
    for path in sorted(paths):
        md = pq.ParquetFile(path).metadata
        digest.update(f"{os.path.basename(path)}:{md.num_row_groups}:{md.num_rows};".encode())
    return digest.hexdigest()[:16]


def content_fingerprint(paths: list[str]) -> str:
    """sha256 over the bytes of the generated input files."""
    digest = hashlib.sha256()
    for path in sorted(paths):
        digest.update(os.path.basename(path).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()[:16]
