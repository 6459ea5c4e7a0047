"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` lands the ten corpus tables the registry faces read
  (``region`` … ``embeddings``) as single-row-group parquet files with
  the column names, types and value ranges of the reference test data
  (TESTDATA.md).
  ``documents`` carries the same duplicate structure: about 5 % of the
  documents are another document with `` dup`` appended (near-duplicates)
  and a few are exact copies.
* ``TickerReplay`` generates the hourly REST ticker drops the options ETL
  reads, and knows which rows each hourly run must append, so the run's
  output can be checked without a second engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf 1; a table's rows are round(sf * base), at least 1.
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.0016


def _rows(sf: float, table: str) -> int:
    return max(1, round(sf * BASE_ROWS[table]))


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n):
        u = rng.random()
        if i > 0 and u < NEAR_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and u < NEAR_DUP_FRAC + EXACT_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    return texts


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten corpus tables under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {t: _rows(sf, t) for t in BASE_ROWS}
    n_users = max(1, round(sf * 15_000))
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))]),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n["part"]), 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"])}),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": (np.datetime64("2024-01-01", "us")
                   + rng.integers(0, 30 * 86_400_000_000, n["events"]).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n["events"]),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(50.0, n["events"]), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])])}),
        "embeddings": pa.table({
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(rng.standard_normal((n["embeddings"], EMBED_DIM),
                                                           dtype=np.float32)),
                                  pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32)}),
    }
    texts = _documents(rng, n["documents"])
    tables["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n["documents"], p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n["documents"])]),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)})
    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)


# -- hourly ticker drops ------------------------------------------------

SPOT = 3000.0
STRIKE_STEP = 17         # 25 strikes (k = -12..12) sit inside the ±7 % band
STRIKES_IN_BAND = 12     # for every spot within ±5 of SPOT; k = ±13 never do
SPOT_JITTER = 5.0
STRIKE_SPAN = 58         # k = -58..58: 117 strikes x 2 sides per expiry
DAILY_EXPIRIES = 7
WEEKLY_EXPIRIES = 2      # Fridays after the daily ladder
ROWS_PER_RUN = 150       # 3 nearest expiries x 25 strikes x 2 sides
DUP_FRAC = 0.02          # in-band tickers re-sent later in the drop


def _ddmmyy(d: dt.date) -> str:
    return d.strftime("%d%m%y")


class TickerReplay:
    """Hourly ticker drops and the rows each run must append.

    Every drop lists about 2k tickers: ``STRIKE_SPAN`` strikes either
    side of ``SPOT`` for each of ``DAILY_EXPIRIES`` daily and
    ``WEEKLY_EXPIRIES`` Friday expiries plus one expired date, a few
    tickers re-sent with a new mark and OI (keep-last must take the
    later one) and the malformed rows the pipeline guards against. Spot
    moves by at most ``SPOT_JITTER``, so the band keeps exactly 25
    strikes and each run appends exactly ``ROWS_PER_RUN`` rows; with
    ``state_tail = 300`` the previous state is then exactly the last two
    runs, which makes ``Open`` and ``OI_Change`` exactly predictable.
    Mark and OI move every hour.
    """

    def __init__(self, seed: int, start: dt.datetime, state_tail: int):
        if state_tail % ROWS_PER_RUN:
            raise ValueError("state_tail must be a multiple of ROWS_PER_RUN")
        self.rng = np.random.default_rng([seed, 2])
        self.start = start
        self.tail_runs = state_tail // ROWS_PER_RUN
        self.appended: list[dict[str, tuple[float, int]]] = []

    def as_of(self, hour: int) -> dt.datetime:
        return self.start + dt.timedelta(hours=hour)

    def drop(self, hour: int) -> tuple[list[dict], dict[str, tuple]]:
        """The ``hour``-th drop as JSON-ready dicts, and the rows its run
        must append: SYMBOL -> (Close, OI, Open, OI_Change)."""
        rng = self.rng
        ts = self.as_of(hour)
        today = ts.date()
        spot = round(SPOT + rng.uniform(-SPOT_JITTER, SPOT_JITTER), 2)
        dailies = [today + dt.timedelta(days=i) for i in range(DAILY_EXPIRIES)]
        last = dailies[-1]
        first_fri = last + dt.timedelta(days=(4 - last.weekday()) % 7 or 7)
        expiries = dailies + [first_fri + dt.timedelta(days=7 * i)
                              for i in range(WEEKLY_EXPIRIES)]
        expiries.append(today - dt.timedelta(days=3))
        targets = set(dailies[:3])

        rows: list[dict] = []
        final: dict[str, tuple[float, int]] = {}
        for exp in expiries:
            for k in range(-STRIKE_SPAN, STRIKE_SPAN + 1):
                strike = int(SPOT) + k * STRIKE_STEP
                for side, ctype in (("C", "call_options"), ("P", "put_options")):
                    sym = f"{side}-ETH-{strike}-{_ddmmyy(exp)}"
                    mark = round(abs(spot - strike) * 0.1 + 5.0 + float(rng.uniform(0, 20)), 2)
                    oi = int(rng.integers(0, 5000))
                    rows.append(_ticker(sym, ctype, strike, spot, mark, oi))
                    if exp in targets and abs(k) <= STRIKES_IN_BAND:
                        final[sym] = (mark, oi)
        resend = [s for s in final if rng.random() < DUP_FRAC]
        for sym in resend:
            side, _, strike, _ = sym.split("-")
            mark = round(float(rng.uniform(5, 200)), 2)
            oi = int(rng.integers(0, 5000))
            ctype = "call_options" if side == "C" else "put_options"
            rows.append(_ticker(sym, ctype, int(strike), spot, mark, oi))
            final[sym] = (mark, oi)
        rows += _edge_rows(today, spot)
        if len(final) != ROWS_PER_RUN:
            raise AssertionError(f"generator produced {len(final)} in-band rows")

        prev: dict[str, tuple[float, int]] = {}
        for earlier in self.appended[-self.tail_runs:]:
            prev.update(earlier)
        expected = {
            sym: (close, oi, prev[sym][0] if sym in prev else 0.0,
                  oi - prev[sym][1] if sym in prev else 0)
            for sym, (close, oi) in final.items()
        }
        self.appended.append(final)
        return rows, expected


def _ticker(sym, ctype, strike, spot, mark, oi) -> dict:
    return {"symbol": sym, "contract_type": ctype, "strike_price": str(strike),
            "spot_price": str(spot), "mark_price": str(mark), "oi_contracts": str(oi)}


def _edge_rows(today: dt.date, spot: float) -> list[dict]:
    """Rows every guard in the pipeline must drop (FIXTURES.md §1)."""
    exp = _ddmmyy(today)
    return [
        _ticker(None, "call_options", 3000, spot, 1, 1),
        _ticker("", "call_options", 3000, spot, 1, 1),
        _ticker(f"C-ETH-0-{exp}", "call_options", 0, spot, 1, 1),
        _ticker("ETH-3000", "call_options", 3000, spot, 1, 1),
        _ticker("C-ETH-3000-3110", "call_options", 3000, spot, 1, 1),
        _ticker("C-ETH-3000-31OCT5", "call_options", 3000, spot, 1, 1),
        _ticker(f"C-ETH-3000-{exp}", None, 3000, spot, 1, 1),
        {**_ticker(f"P-ETH-3000-{exp}", "put_options", 3000, spot, 1, 1), "spot_price": None},
    ]


def write_drop(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
