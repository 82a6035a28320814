"""Seeded input generators. The same seed always yields the same inputs;
sizes are fixed, only values vary with the seed."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np

DAY_MS = 86_400_000
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def utc_ms(d: dt.date, hour: int = 0) -> int:
    t = dt.datetime(d.year, d.month, d.day, hour, tzinfo=dt.timezone.utc)
    return int((t - EPOCH).total_seconds() * 1000)


def month_start(d: dt.date, back: int) -> dt.date:
    m = d.year * 12 + d.month - 1 - back
    return dt.date(m // 12, m % 12 + 1, 1)


# --------------------------------------------------------------- time entries


class EntryStream:
    """ClickUp time entries for a scheduled 60-day refresh.

    ``history()`` is the store's bootstrap: ``history_months`` whole
    months before the refresh window. Each ``tick()`` is what the API
    serves for the next refresh: the window's current entries, drawn
    from a bounded id pool (so the store levels off), with four kinds
    of change against the previous tick — inserts, updates of existing
    ids, ids served twice with a later ``at`` on one copy, and edits of
    history entries dated just before the window. Entries start at
    12:00 UTC, so the Europe/Oslo date equals the UTC date."""

    TODAY = dt.date(2024, 6, 1)
    DAYS = 60  # the package's DEFAULT_REFRESH_DAYS
    # The package's deployment refreshes every six hours; each tick
    # advances the clock (and every changed entry's ``at``) by that.
    TICK_HOURS = 6
    # Assumed change rates per tick, as shares of the window's entries;
    # nothing in the repository records real ones. They make every kind
    # of change appear in every tick, keep the window's size steady, and
    # leave most served entries unchanged, as a six-hourly re-fetch of a
    # 60-day window would.
    DROP_SHARE = 1 / 50  # entries deleted in ClickUp
    UPDATE_SHARE = 1 / 10  # entries edited (new ``at``)
    DUPLICATE_SHARE = 1 / 50  # entries served twice, one copy older
    LATE_EDITS = 10  # history entries just before the window edited

    def __init__(self, seed: int, window_entries: int, history_months: int, history_per_month: int):
        self.rng = np.random.default_rng([seed, 1])
        self.size = window_entries
        self.lo = self.TODAY - dt.timedelta(days=self.DAYS)
        self.window_days = [self.lo + dt.timedelta(days=i) for i in range(self.DAYS + 1)]
        self.history_months = [
            month_start(self.lo, k) for k in range(history_months, 0, -1)
        ]
        self.history_per_month = history_per_month
        self.pool = [f"w{seed}-{i}" for i in range(int(window_entries * 1.5))]
        self.active: dict[str, dict] = {}
        self.clock = utc_ms(self.TODAY)
        self._history: list[dict] | None = None
        # the client fetches from three days before the window (so the
        # pre-window edits come back) to the end of today, in 30-day chunks
        self.fetch_lo = utc_ms(self.lo - dt.timedelta(days=3))
        self.fetch_hi = utc_ms(self.TODAY + dt.timedelta(days=1))

    def chunk_windows(self, chunk_days: int = 30) -> list[tuple[int, int]]:
        out, cur = [], self.fetch_lo
        while cur < self.fetch_hi:
            out.append((cur, min(cur + chunk_days * DAY_MS, self.fetch_hi)))
            cur = out[-1][1]
        return out

    def _entry(self, eid: str, day: dt.date, at: int) -> dict:
        r = self.rng
        start = utc_ms(day, 12) + int(r.integers(0, 3_600_000))
        dur = int(r.integers(60_000, 4 * 3_600_000))
        user = int(r.integers(0, 40))
        task = int(r.integers(0, 400))
        return {
            "id": eid,
            "start": str(start),
            "end": str(start + dur),
            "duration": str(dur),
            "at": str(at),
            "billable": ("true", "false", "1", "0")[int(r.integers(0, 4))],
            "is_locked": ("false", "true")[int(r.integers(0, 2))],
            "description": f"work item {int(r.integers(0, 10_000))}",
            "source": "clickup",
            "approval_id": None,
            "task_url": f"https://app.clickup.com/t/t{task}",
            "task": {
                "id": f"t{task}",
                "name": f"Task {task}",
                "custom_type": None,
                "custom_id": None,
                "status": {
                    "status": "open",
                    "color": "#d3d3d3",
                    "type": "open",
                    "orderindex": str(task % 7),
                },
            },
            "user": {
                "id": f"u{user}",
                "username": f"user{user}",
                "email": f"user{user}@example.com" if user % 9 else "",
                "color": "#7b68ee",
                "initials": f"U{user % 10}",
                "profilePicture": None,
            },
            "task_location": {
                "list_id": f"l{task % 30}",
                "folder_id": f"f{task % 8}",
                "space_id": f"s{task % 3}",
            },
        }

    def _day_in(self, days: list[dt.date]) -> dt.date:
        return days[int(self.rng.integers(0, len(days)))]

    def history(self) -> list[dict]:
        if self._history is None:
            rows = []
            for m0 in self.history_months:
                m1 = month_start(m0, -1)
                days = [m0 + dt.timedelta(days=i) for i in range((m1 - m0).days)]
                for k in range(self.history_per_month):
                    at = utc_ms(m1)
                    rows.append(self._entry(f"h-{m0:%Y%m}-{k}", self._day_in(days), at))
            self._history = rows
        return self._history

    def tick(self) -> tuple[list[dict], int, int]:
        """(entries served, expected store rows, expected staged rows)."""
        r = self.rng
        self.clock += self.TICK_HOURS * 3_600_000
        at = self.clock
        ids = list(self.active)
        if ids:
            for eid in r.choice(ids, size=int(len(ids) * self.DROP_SHARE), replace=False):
                del self.active[eid]  # deleted in ClickUp: drops out of the window
            for eid in r.choice(list(self.active), size=int(len(self.active) * self.UPDATE_SHARE), replace=False):
                old = self.active[eid]
                day = dt.datetime.fromtimestamp(int(old["start"]) / 1000, dt.timezone.utc).date()
                self.active[eid] = self._entry(eid, day, at)
        free = [i for i in self.pool if i not in self.active]
        for eid in r.choice(free, size=self.size - len(self.active), replace=False):
            self.active[eid] = self._entry(eid, self._day_in(self.window_days), at)
        served = list(self.active.values())
        for eid in r.choice(list(self.active), size=int(len(self.active) * self.DUPLICATE_SHARE), replace=False):
            cur = self.active[eid]
            older = dict(cur, at=str(int(cur["at"]) - 60_000), duration="1")
            served.append(older)  # a second copy with an earlier `at` loses
        edge = [e for e in self.history() if int(e["start"]) >= self.fetch_lo]
        edits = [dict(e, at=str(at), description="late edit") for e in r.choice(edge, size=self.LATE_EDITS, replace=False)]
        served.extend(edits)
        served.sort(key=lambda e: e["start"])
        return served, len(self.history()) + len(self.active), len(self.active) + len(edits)


# ---------------------------------------------------------------- star schema

STAR_TABLES = ("customer", "orders", "lineitem", "events")


def write_star_schema(seed: int, out: Path, sf: float = 0.1) -> dict[str, int]:
    """TPC-H-shaped ``customer``/``orders``/``lineitem`` plus an
    ``events`` stream table, at the row counts of scale factor ``sf``.
    Returns {table: rows}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = np.random.default_rng([seed, 2])
    n_cust, n_ord, n_li, n_ev = (int(x * sf) for x in (150_000, 1_500_000, 6_000_000, 1_000_000))
    ts = lambda base, days: (np.datetime64(base) + r.integers(0, days, size=n).astype("timedelta64[D]")).astype("datetime64[us]")
    out.mkdir(parents=True, exist_ok=True)
    tables = {}

    n = n_cust
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": r.integers(0, 25, size=n, dtype=np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, size=n), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[r.integers(0, 5, size=n)],
        }
    )
    n = n_ord
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, size=n, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, size=n)],
            "o_totalprice": np.round(r.uniform(1000, 450_000, size=n), 2),
            "o_orderdate": ts("1995-01-01", 2404),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, size=n)],
        }
    )
    n = n_li
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n_ord, size=n, dtype=np.int64),
            "l_partkey": r.integers(0, int(200_000 * sf), size=n, dtype=np.int64),
            "l_suppkey": r.integers(0, int(10_000 * sf), size=n, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, size=n, dtype=np.int32),
            "l_quantity": r.integers(1, 51, size=n).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105_000, size=n), 2),
            "l_discount": r.integers(0, 11, size=n) / 100.0,
            "l_tax": r.integers(0, 9, size=n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, size=n)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, size=n)],
            "l_shipdate": ts("1995-01-02", 2498),
        }
    )
    n = n_ev
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.sort(np.datetime64("2024-01-01", "us") + r.integers(0, 30 * 86_400_000_000, size=n).astype("timedelta64[us]")),
            "user_id": r.integers(0, int(15_000 * sf), size=n, dtype=np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[r.integers(0, 5, size=n)],
            "value": np.round(r.exponential(60.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, size=n)],
        }
    )
    for name, t in tables.items():
        pq.write_table(t, out / f"{name}.parquet")
    return {k: t.num_rows for k, t in tables.items()}


# -------------------------------------------------------------------- vectors


class VectorSet:
    """Seeded 64-d vectors: ``sources`` random directions, each served
    as many jittered replicas. Vector ``(id, version)`` is replica
    jitter ``version`` of source ``id // replicas``; it is a pure
    function of its arguments, so any stored vector can be rebuilt."""

    def __init__(self, seed: int, sources: int, replicas: int, dim: int = 64):
        rng = np.random.default_rng([seed, 3])
        self.src = rng.standard_normal((sources, dim)).astype(np.float32)
        self.salt = float(rng.uniform(0, 1000))
        self.replicas = replicas
        self.dim = dim

    def vectors(self, ids: np.ndarray, version: int = 0) -> np.ndarray:
        ids = np.asarray(ids, dtype=np.int64)
        x = ids[:, None] * 12.9898 + np.arange(self.dim)[None, :] * 78.233 + version * 37.719 + self.salt
        h = np.sin(x) * 43758.5453
        base = self.src[(ids // self.replicas) % len(self.src)]
        return (base + 0.05 * (h - np.floor(h) - 0.5)).astype(np.float32)
