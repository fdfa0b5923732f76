"""Seeded inputs: the star-schema, events and corpus tables the query
registry reads, and the post-race event increments.

Every table is drawn from its own generator stream keyed by
(seed, table), so the same seed gives byte-identical parquet files. The
shapes follow the tables the query registry is written against: uniform
keys and measures, one row group per file, microsecond wall-clock
timestamps (parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)), a 30-word
corpus with 5 % near-duplicate documents and unit-norm 64-d embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window fast"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
COLORS = ("red", "blue", "green", "black", "white", "small", "large", "shiny")
NOUNS = ("widget", "anvil", "ring", "bolt", "gear", "spring", "valve", "plate")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
USER_PLANS = ("free", "pro", "team", "enterprise")

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
DAY_US = 86_400_000_000

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def events_frame(sf: float, seed: int) -> pd.DataFrame:
    """The events table, ordered by ts with event_id = row number."""
    rng = _rng(seed, "events")
    n = int(1_000_000 * sf)
    offs = np.sort(rng.integers(0, EVENTS_DAYS * DAY_US, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(sf: float, seed: int) -> pd.DataFrame:
    rng = _rng(seed, "documents")
    n = int(50_000 * sf)
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # near duplicates: an earlier document plus one trailing token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(sf: float, seed: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    n = max(500, int(20_000 * sf))
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _frames(sf: float, seed: int) -> dict:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    r = {t: _rng(seed, t) for t in TABLES}
    i32 = np.int32
    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS),
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
    }
    rc = r["customer"]
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rc.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rc, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rc.integers(0, 5, n_cust)],
    })
    rs = r["supplier"]
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rs.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rs, -999.99, 9999.99, n_supp),
    })
    rp = r["part"]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rp.integers(0, 8, n_part), rp.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in rp.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rp.integers(0, 6, n_part)],
        "p_size": rp.integers(1, 51, n_part).astype(i32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    ro = r["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": ro.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[ro.integers(0, 3, n_ord)],
        "o_totalprice": _money(ro, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ro, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(PRIORITIES)[ro.integers(0, 5, n_ord)],
    })
    rl = r["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rl.integers(0, n_ord, n_li),
        "l_partkey": rl.integers(0, n_part, n_li),
        "l_suppkey": rl.integers(0, n_supp, n_li),
        "l_linenumber": rl.integers(1, 8, n_li).astype(i32),
        "l_quantity": rl.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rl, 900.0, 105000.0, n_li),
        "l_discount": rl.integers(0, 11, n_li) / 100.0,
        "l_tax": rl.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rl.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rl.integers(0, 2, n_li)],
        "l_shipdate": _days(rl, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    out["events"] = events_frame(sf, seed)
    out["documents"] = _documents(sf, seed)
    out["embeddings"] = _embeddings(sf, seed)
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten tables as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, frame in _frames(sf, seed).items():
        table = frame if isinstance(frame, pa.Table) else pa.Table.from_pandas(
            frame, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
        counts[name] = table.num_rows
    return counts


# -- post-race increments ---------------------------------------------------

# The reference re-scans a 2-day late-data buffer after each race
# (BASELINE.md, "Late-data buffer"): late rows and updates reach back at
# most BUFFER_DAYS. The other four values are chosen, not measured: the
# reference loads one round per daily invocation but keeps no record of
# how many rows arrive late or change after landing. A quarter-day slice
# keeps an increment near a few seconds, so several fit in one run.
SLICE_HOURS = 6
BUFFER_DAYS = 2
BASE_DAYS = 20      # history merged before the first increment
LATE_FRAC = 0.05    # share of rows that land 1 to BUFFER_DAYS days late
UPDATE_FRAC = 0.10  # value updates per new row, to keys landed in the buffer


def users_frame(events: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The users dimension of the star-join read: one row per user_id."""
    rng = _rng(seed, "users")
    ids = np.arange(int(events["user_id"].max()) + 1, dtype=np.int64)
    return pd.DataFrame({
        "user_id": ids,
        "plan": np.array(USER_PLANS)[rng.integers(0, len(USER_PLANS), len(ids))],
        "country": [f"C{k:02d}" for k in rng.integers(0, 40, len(ids))],
    })


class Increments:
    """The events table cut into a base load plus post-race increments.

    Rows with ts before BASE_DAYS form the base. The rest is cut into
    SLICE_HOURS slices; each increment lands its slice's rows, except
    that LATE_FRAC of them arrive 1 to `max_late` slices late (inside
    the BUFFER_DAYS buffer), plus value updates for UPDATE_FRAC as many
    keys drawn from rows landed within the buffer. A key's ts never
    changes, so its `day` partition never moves.
    """

    def __init__(self, events: pd.DataFrame, seed: int):
        self._rng = _rng(seed, "increments")
        offs = (events["ts"] - pd.Timestamp(EVENTS_START)).to_numpy() \
            .astype("timedelta64[us]").astype(np.int64)
        cut = BASE_DAYS * DAY_US
        self.slice_us = SLICE_HOURS * 3_600_000_000
        self.base = events[offs < cut].reset_index(drop=True)
        rest = events[offs >= cut]
        slot = (offs[offs >= cut] - cut) // self.slice_us
        max_late = BUFFER_DAYS * 24 // SLICE_HOURS
        late = self._rng.random(len(rest)) < LATE_FRAC
        slot = slot + np.where(late, self._rng.integers(1, max_late + 1, len(rest)), 0)
        self._by_slot = {s: g.drop(columns="_slot") for s, g in
                         rest.assign(_slot=slot).groupby("_slot")}
        self.count = int((offs[-1] - cut) // self.slice_us) + 1
        self.state = self.base.set_index("event_id", drop=False)
        self._cut = np.datetime64(EVENTS_START, "us") + np.timedelta64(cut, "us")

    def slice_end(self, i: int) -> np.datetime64:
        return self._cut + np.timedelta64((i + 1) * self.slice_us, "us")

    def next(self, i: int) -> pd.DataFrame:
        """Increment `i` (call in order); folds it into `self.state`."""
        new = self._by_slot.get(i, self.base.iloc[:0])
        buffer = np.timedelta64(BUFFER_DAYS * DAY_US, "us")
        recent = self.state[self.state["ts"] >= self.slice_end(i) - buffer]
        n_upd = min(len(recent), int(round(len(new) * UPDATE_FRAC)))
        picks = self._rng.choice(len(recent), n_upd, replace=False)
        upd = recent.iloc[np.sort(picks)].copy()
        upd["value"] = np.round(upd["value"].to_numpy()
                                + self._rng.integers(1, 1000, n_upd) / 100.0, 2)
        inc = pd.concat([new, upd], ignore_index=True)
        self.state = pd.concat([self.state.drop(index=upd["event_id"]),
                                inc.set_index("event_id", drop=False)])
        return inc
