"""Seeded generator of Alpha Vantage landing documents, and the DuckDB
computation of the marts those documents must produce.

The documents have the API's shape: one pretty-printed JSON file per
symbol, string numerics with 2-4 decimals, weekday series with gap days,
a zero-open day, a symbol that needs normalizing (``BRK.B`` loads as
``BRK-B``), and a small share of error or rate-limit payloads that carry
no series. The program under test sees only the files; the expected
marts come from the generator's own rows through DuckDB, so they share
no code with the program.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

import duckdb
import pyarrow as pa

from perfbench.check import value_hash

END_DATE = date(2025, 10, 16)
REFERENCE_SYMBOLS = [
    "AAPL", "MSFT", "GOOGL", "AMZN", "META",
    "TSLA", "NVDA", "BRK.B", "V", "JPM",
]
LOADED_FORM = {"BRK.B": "BRK-B"}
ERROR_PAYLOADS = [
    {"Error Message": "Invalid API call. Please retry or visit the "
     "documentation (https://www.alphavantage.co/documentation/) for "
     "TIME_SERIES_DAILY."},
    {"Note": "Thank you for using Alpha Vantage! Our standard API call "
     "frequency is 5 calls per minute and 500 calls per day."},
    {"Information": "We have detected your API key and our standard API "
     "rate limit is 25 requests per day."},
]
INFO = "Daily Prices (open, high, low, close) and Volumes"
OHLCV = ("1. open", "2. high", "3. low", "4. close", "5. volume")


def weekdays_before(end: date, n: int) -> list[date]:
    """``n`` weekdays ending at ``end``, oldest first."""
    out, cur = [], end
    while len(out) < n:
        if cur.weekday() < 5:
            out.append(cur)
        cur -= timedelta(days=1)
    return out[::-1]


def next_weekday(d: date) -> date:
    d += timedelta(days=1)
    while d.weekday() >= 5:
        d += timedelta(days=1)
    return d


def _fmt(x: float, rng: random.Random) -> str:
    return f"{x:.{rng.choice((2, 3, 4))}f}"


def make_bar(rng: random.Random, px: float) -> tuple[dict[str, str], float]:
    """One day's bar around price ``px``; returns the bar and the next price."""
    o = px * (1 + rng.uniform(-0.01, 0.01))
    c = px * (1 + rng.uniform(-0.03, 0.03))
    h = max(o, c) * (1 + rng.uniform(0, 0.02))
    lo = min(o, c) * (1 - rng.uniform(0, 0.02))
    bar = {
        "1. open": _fmt(o, rng),
        "2. high": _fmt(h, rng),
        "3. low": _fmt(lo, rng),
        "4. close": f"{c:.2f}",
        "5. volume": str(rng.randrange(1_000, 999_999_999)),
    }
    return bar, max(c, 1.0)


@dataclass
class Landing:
    """Landing files written so far plus the series each loaded symbol
    must end up with in bronze (``series[symbol][date] = bar``)."""

    root: str
    rng: random.Random
    series: dict[str, dict[str, dict[str, str]]] = field(default_factory=dict)
    raw_symbol: dict[str, str] = field(default_factory=dict)
    last_px: dict[str, float] = field(default_factory=dict)
    files: int = 0
    bytes: int = 0
    deliveries: int = 0

    def write(self, key: str, doc: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        text = json.dumps(doc, indent=2)
        with open(os.path.join(self.root, f"{key}.json"), "w") as f:
            f.write(text)
        self.files += 1
        self.bytes += len(text)

    def doc(self, symbol: str) -> dict:
        bars = self.series[symbol]
        return {
            "Meta Data": {
                "1. Information": INFO,
                "2. Symbol": self.raw_symbol[symbol],
                "3. Last Refreshed": max(bars),
                "4. Output Size": "Full size",
                "5. Time Zone": "US/Eastern",
            },
            # the API lists the newest day first
            "Time Series (Daily)": {d: bars[d] for d in sorted(bars, reverse=True)},
        }

    def redeliver(self, symbol: str) -> None:
        """The symbol's next fetch: one appended day, one revised day,
        a newer ``Last Refreshed``, landed under a new key."""
        bars = self.series[symbol]
        last = date.fromisoformat(max(bars))
        bars[next_weekday(last).isoformat()], self.last_px[symbol] = make_bar(
            self.rng, self.last_px[symbol]
        )
        revised = self.rng.choice(sorted(bars)[:-1])
        bars[revised] = dict(bars[revised], **{"4. close": f"{self.rng.uniform(5, 900):.2f}"})
        self.deliveries += 1
        self.write(f"{self.raw_symbol[symbol]}__{self.deliveries:05d}", self.doc(symbol))

    def land_error(self) -> None:
        """A rate-limit or error payload: no series, so it must change nothing."""
        self.deliveries += 1
        self.write(f"ERR__{self.deliveries:05d}", self.rng.choice(ERROR_PAYLOADS))


def generate(root: str, seed: int, symbols: int, days: int) -> Landing:
    """Write the initial landing set: one document per symbol with
    ``days`` weekdays of bars, plus about 3% error payloads."""
    rng = random.Random(seed)
    land = Landing(root, rng)
    names = REFERENCE_SYMBOLS[:symbols] + [
        f"S{i:04d}" for i in range(max(0, symbols - len(REFERENCE_SYMBOLS)))
    ]
    dates = [d.isoformat() for d in weekdays_before(END_DATE, days)]
    zero_open = (rng.randrange(symbols), rng.randrange(days))
    for si, raw in enumerate(names):
        symbol = LOADED_FORM.get(raw, raw)
        px = rng.uniform(20, 500)
        bars: dict[str, dict[str, str]] = {}
        gaps = set(rng.sample(range(days - 1), k=max(1, days // 100)))
        for di, day in enumerate(dates):
            bar, px = make_bar(rng, px)
            if di in gaps:
                continue
            if (si, di) == zero_open:
                bar["1. open"] = "0.0"
            bars[day] = bar
        land.series[symbol] = bars
        land.raw_symbol[symbol] = raw
        land.last_px[symbol] = px
        land.write(raw, land.doc(symbol))
    for _ in range(max(1, symbols * 3 // 100)):
        land.land_error()
    return land


# -- expected marts, computed by DuckDB from the generator's rows ----------

FACT_SQL = """
    SELECT symbol, CAST(d AS DATE) AS trading_date,
           CAST(date_trunc('week', CAST(d AS DATE)) AS DATE) AS week_start,
           CAST(o AS DOUBLE) AS open, CAST(h AS DOUBLE) AS high,
           CAST(l AS DOUBLE) AS low, CAST(c AS DOUBLE) AS close,
           CAST(v AS BIGINT) AS volume,
           -- ROUND(x, 2) half away from zero on the shortest decimal
           -- form of the double, as Spark's ROUND on a double does
           CAST(round(CAST(CAST((CAST(c AS DOUBLE) - CAST(o AS DOUBLE))
                / nullif(CAST(o AS DOUBLE), 0) * 100.0 AS VARCHAR)
                AS DECIMAL(38, 24)), 2) AS DOUBLE) AS percent_change
    FROM new_bars
"""
MART_SQL = {
    "agg_weekly_prices": """
        SELECT symbol, week_start, avg(close) AS avg_close,
               avg(percent_change) AS avg_percent_change
        FROM fact GROUP BY ALL""",
    "agg_weekly_ohlc": """
        SELECT symbol, week_start,
               arg_min(open, trading_date) AS open, max(high) AS high,
               min(low) AS low, arg_max(close, trading_date) AS close,
               sum(volume) AS volume, count(*) AS n_trading_days
        FROM fact GROUP BY ALL""",
}


MARTS = tuple(MART_SQL)


class Expected:
    """The generator's rows in DuckDB, kept in step with the landing."""

    def __init__(self, landing: Landing) -> None:
        self.landing = landing
        self.con = duckdb.connect()
        self._load(list(landing.series), create=True)

    def _load(self, symbols: list[str], create: bool = False) -> None:
        cols: dict[str, list[str]] = {k: [] for k in ("symbol", "d", "o", "h", "l", "c", "v")}
        for symbol in symbols:
            for d, bar in self.landing.series[symbol].items():
                cols["symbol"].append(symbol)
                cols["d"].append(d)
                for k, field_name in zip("ohlcv", OHLCV):
                    cols[k].append(bar[field_name])
        self.con.register("new_bars", pa.table(cols))
        if create:
            self.con.execute(f"CREATE TABLE fact AS {FACT_SQL}")
        else:
            self.con.execute(f"INSERT INTO fact {FACT_SQL}")
        self.con.unregister("new_bars")

    def refresh(self, symbols: list[str]) -> None:
        """Reload the rows of re-delivered symbols."""
        for symbol in symbols:
            self.con.execute("DELETE FROM fact WHERE symbol = ?", [symbol])
        self._load(symbols)

    def marts(self) -> dict[str, object]:
        """Row counts of every table and value hashes of the two weekly
        marts."""
        n_fact = self.con.execute("SELECT count(*) FROM fact").fetchone()[0]
        n_sym = len(self.landing.series)
        counts = {
            "raw_alphavantage": n_sym,
            "stg_alphavantage": n_fact,
            "dim_stock": n_sym,
            "fact_stock_prices": n_fact,
        }
        hashes = {}
        for name, sql in MART_SQL.items():
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
            hashes[name] = value_hash(self.con, name)
            counts[name] = hashes[name][0]
        return {"counts": counts, "hashes": hashes}

    def close(self) -> None:
        self.con.close()
