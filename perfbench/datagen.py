"""Seeded synthetic inputs for the benchmark.

Two kinds of input:

- ``write_tables`` writes the ten fixture tables (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) as one parquet file
  each, at a scale factor. The shapes follow the engine's fixture
  schemas (``sources/catalog.TABLE_SCHEMAS``): uniform keys, events
  spread over 30 days, a 30-word vocabulary with 5% of documents
  being a copy of an earlier one plus " dup", and unit-norm 64-d
  float embeddings with ten labels. At sf0.1 the row counts are the
  ones the engine's bench fixture has (600k lineitem, 100k events,
  5k documents, 2k embeddings).
- ``write_market_csv`` writes the reference report's input: the wide
  CSV of ``Date``, ``DOLAR`` and ``S&P500`` adjusted closes, over
  business days from 2000, with empty cells where the two tickers'
  trading calendars differ.

Everything is a pure function of its arguments, so the same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "fr", "de", "zh"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("us"))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li),
    })
    # Strictly increasing micro timestamps over 30 days at every scale
    # (the streaming keys' watermarks need data well past their cutoff).
    gaps = np.maximum(1, rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_w = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), n_w)]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every fixture table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


#: Asset columns of the market-data CSV, as the reference names them:
#: yfinance's adjusted closes of ``BRL=X`` and ``^GSPC``, renamed.
ASSETS = ["DOLAR", "S&P500"]

#: The reference downloads from 2000-01-01 to the day it runs; the
#: benchmark fixes the last day so that the inputs stay reproducible.
MARKET_START, MARKET_END = dt.date(2000, 1, 1), dt.date(2026, 9, 30)

#: Unscheduled NYSE closures in that span (9/11, state funerals,
#: Hurricane Sandy).
_NYSE_CLOSURES = {
    dt.date(2001, 9, 11), dt.date(2001, 9, 12), dt.date(2001, 9, 13),
    dt.date(2001, 9, 14), dt.date(2004, 6, 11), dt.date(2007, 1, 2),
    dt.date(2012, 10, 29), dt.date(2012, 10, 30), dt.date(2018, 12, 5),
    dt.date(2025, 1, 9),
}


def _nth_weekday(year: int, month: int, weekday: int, n: int) -> dt.date:
    """The n-th ``weekday`` of a month; n = -1 is the last one."""
    if n > 0:
        d = dt.date(year, month, 1)
        return d + dt.timedelta(days=(weekday - d.weekday()) % 7 + 7 * (n - 1))
    d = dt.date(year + month // 12, month % 12 + 1, 1) - dt.timedelta(days=1)
    return d - dt.timedelta(days=(d.weekday() - weekday) % 7)


def _easter(year: int) -> dt.date:
    """Gregorian Easter Sunday (anonymous Gregorian algorithm)."""
    a, b, c = year % 19, year // 100, year % 100
    d, e = divmod(b, 4)
    g = (8 * b + 13) // 25
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7  # noqa: E741
    m = (a + 11 * h + 22 * l) // 451
    month, day = divmod(h + l - 7 * m + 114, 31)
    return dt.date(year, month, day + 1)


def _observed(d: dt.date) -> dt.date:
    """A fixed-date holiday on a weekend is observed on the nearest weekday."""
    return d - dt.timedelta(days=1) if d.weekday() == 5 else (
        d + dt.timedelta(days=1) if d.weekday() == 6 else d
    )


def nyse_holidays(year: int) -> set[dt.date]:
    """NYSE full-day holidays of a year (a Saturday New Year's Day is
    not moved to the Friday before)."""
    days = {
        _nth_weekday(year, 1, 0, 3),          # Martin Luther King Jr. Day
        _nth_weekday(year, 2, 0, 3),          # Washington's Birthday
        _easter(year) - dt.timedelta(days=2),  # Good Friday
        _nth_weekday(year, 5, 0, -1),         # Memorial Day
        _observed(dt.date(year, 7, 4)),
        _nth_weekday(year, 9, 0, 1),          # Labor Day
        _nth_weekday(year, 11, 3, 4),         # Thanksgiving
        _observed(dt.date(year, 12, 25)),
    }
    new_year = dt.date(year, 1, 1)
    if new_year.weekday() != 5:
        days.add(_observed(new_year))
    if year >= 2022:
        days.add(_observed(dt.date(year, 6, 19)))  # Juneteenth
    return days


def market_calendar() -> tuple[list[dt.date], list[bool]]:
    """Rows of the reference's downloaded frame and where S&P500 quotes.

    yfinance returns a row for every day on which either ticker quotes.
    ``BRL=X`` quotes every weekday except 1 January and 25 December;
    ``^GSPC`` follows the NYSE calendar. So a row exists on almost every
    weekday, and S&P500 is missing on NYSE holidays and closures that
    fall on a day the dollar quotes (about 2.7% of rows)."""
    holidays = set(_NYSE_CLOSURES)
    for y in range(MARKET_START.year, MARKET_END.year + 1):
        holidays |= nyse_holidays(y)
    dates, spx = [], []
    d = MARKET_START
    while d <= MARKET_END:
        if d.weekday() < 5:
            fx = (d.month, d.day) not in ((1, 1), (12, 25))
            sp = d not in holidays
            if fx or sp:
                dates.append(d)
                spx.append(sp)
        d += dt.timedelta(days=1)
    return dates, spx


def write_market_csv(path: str, seed: int) -> list[dt.date]:
    """The reference report's input (SURVEY.md R1): ``Date``, ``DOLAR``
    and ``S&P500`` adjusted closes over ``market_calendar()``, as seeded
    geometric random walks from their early-2000 levels. A close the
    ticker does not have that day is an empty cell. The reference fills
    these with 0 before writing (R2) and again after reading (R7); the
    report reads both the same way. Returns the dates written."""
    rng = np.random.default_rng([seed, 1])
    dates, spx = market_calendar()
    n = len(dates)
    start = np.array([1.80, 1455.0])
    drift, vol = np.array([0.00016, 0.00022]), np.array([0.010, 0.012])
    prices = start * np.exp(np.cumsum(rng.normal(drift, vol, (n, 2)), axis=0))
    with open(path, "w") as fh:
        fh.write(",".join(["Date", *ASSETS]) + "\n")
        for d, p, sp in zip(dates, prices, spx):
            cells = [f"{p[0]:.6f}", f"{p[1]:.4f}" if sp else ""]
            fh.write(",".join([d.isoformat(), *cells]) + "\n")
    return dates
