"""refresh_sync: the scheduled sync, one refresh tick per cycle.

A tick is two ops: ``fetch`` — fixture ClickUp API →
``ClickUpClient.fetch_all_time_entries`` (60-day window in 30-day
chunks) → ``readers.from_rows`` — and ``sync`` —
``pipelines.sync_refresh_manifest`` (flatten, keep-latest, month MERGE,
manifest commit, prune, CSV backup) against a month store that set-up
bootstraps from history."""

from __future__ import annotations

import glob
import json
import os
import time

import requests

from common import dir_stats, remove
from fixture_api import FixtureClickUp
from gen import EntryStream
from workload import Workload

WINDOW_ENTRIES = 5_000
HISTORY_MONTHS = 6
HISTORY_PER_MONTH = 1_000
WARMUP_TICKS = 5


class _CountingSession(requests.Session):
    def __init__(self):
        super().__init__()
        self.requests = 0
        self.bytes = 0

    def request(self, *args, **kwargs):
        resp = super().request(*args, **kwargs)
        self.requests += 1
        self.bytes += len(resp.content)
        return resp


class RefreshSync(Workload):
    headline = ("sync",)
    min_cycles = 3
    coverage_spans = (
        "sources.fetch_s",
        "sources.decode_s",
        "operators.transform_s",
        "operators.dedupe_s",
        "sinks.backup_s",
        "operators.merge_s",
        "sinks.prune_s",
        "sinks.count_s",
    )

    def __init__(self, seed: int, work):
        from hours_api_clickup_spark.sources.client import ClickUpClient
        from hours_api_clickup_spark.sources.rest import RetryPolicy

        self.work = work
        self.stream = EntryStream(seed, WINDOW_ENTRIES, HISTORY_MONTHS, HISTORY_PER_MONTH)
        # the store's first load: the history months plus the window as
        # the API served it on the tick before the run started
        self.initial, self.initial_rows, _ = self.stream.tick()
        self.history_path = work / "history.jsonl"
        with open(self.history_path, "w") as f:
            for e in self.stream.history() + self.initial:
                f.write(json.dumps(e) + "\n")
        self.api = FixtureClickUp().__enter__()
        self.http = _CountingSession()
        self.retries = 0
        self.client = ClickUpClient(
            "pk_bench",
            self.api.team_id,
            base_url=self.api.base_url,
            policy=RetryPolicy(sleep=self._on_retry),
            page_sleep_s=0.0,
            chunk_sleep_s=0.0,
            session=self.http,
        )
        self.backup = work / "backup"
        self.store = None
        self.tracer = None
        self.tick_state = None

    def _on_retry(self, _delay: float) -> None:
        self.retries += 1

    # ------------------------------------------------------------ set-up

    def setup_once(self, spark, rep: int) -> None:
        """Bootstrap a fresh month store from the history (the store's
        first load), through the package's own ingest path."""
        from hours_api_clickup_spark.operators.dedupe import dedupe_latest
        from hours_api_clickup_spark.operators.transform import transform_time_entries
        from hours_api_clickup_spark.sinks import versioned as V
        from hours_api_clickup_spark.sources.readers import read_raw_time_entries

        if self.store is not None:
            remove(self.store)
        self.store = self.work / f"store{rep}"
        raw = read_raw_time_entries(spark, str(self.history_path))
        V.bootstrap_months(dedupe_latest(transform_time_entries(raw), key="id", ts="at"), str(self.store))

    def check_setup(self) -> list[str]:
        want = self.initial_rows
        got = self._store_rows()
        return [] if got == want else [f"bootstrap rows {got} != {want}"]

    # ---------------------------------------------------------------- op

    def ops(self):
        """Endless op sequence: one refresh tick (fetch, sync) per cycle."""
        while True:
            yield "fetch", self.fetch
            yield "sync", self.sync
            yield "cycle", None

    def warmup_ops(self):
        """Tick latency keeps falling for several ticks while the JVM
        compiles the fetch, decode and merge paths: on 4 CPUs the sync
        took 3.1, 2.9, 2.7, 2.7 s on the 2nd to 5th tick of a run and
        2.2–2.5 s from the 6th on; with three warm-up ticks some runs
        still fell by a quarter across their measured ticks."""
        return [("fetch", self.fetch), ("sync", self.sync)] * WARMUP_TICKS

    def cycle_mix(self) -> dict[str, float]:
        return {"fetch": 1, "sync": 1}

    def figures(self) -> dict[str, float]:
        return {"store_bytes_per_row": self.store_bytes_per_row()}

    def fetch(self, spark) -> tuple[float, int, list[str]]:
        """The tick's source half: the REST fetch and the decode into a
        DataFrame of the raw schema."""
        from hours_api_clickup_spark.schemas import RAW_TIME_ENTRY_SCHEMA
        from hours_api_clickup_spark.sources import readers

        self.tick_state = None
        served, want_rows, want_staged = self.stream.tick()
        self.api.publish(served, self.stream.chunk_windows())
        req0, bytes0 = self.api.counters()
        creq0, cbytes0, retries0 = self.http.requests, self.http.bytes, self.retries
        t0 = time.perf_counter()
        rows = self.client.fetch_all_time_entries(self.stream.fetch_lo, self.stream.fetch_hi)
        raw = readers.from_rows(spark, rows, RAW_TIME_ENTRY_SCHEMA)
        seconds = time.perf_counter() - t0
        if self.tracer is not None:
            req1, bytes1 = self.api.counters()
            self.tracer.count("sources.server_requests", req1 - req0)
            self.tracer.count("sources.server_bytes", bytes1 - bytes0)
            self.tracer.count("sources.requests", self.http.requests - creq0)
            self.tracer.count("sources.bytes", self.http.bytes - cbytes0)
            self.tracer.count("sources.retries", self.retries - retries0)
        self.tick_state = (raw, want_rows, want_staged)
        errors = []
        if len(rows) != len(served):
            errors.append(f"fetched {len(rows)} of {len(served)} served entries")
        return seconds, len(served), errors

    def sync(self, spark) -> tuple[float, int, list[str]]:
        """The tick's store half: ``sync_refresh_manifest`` on the
        DataFrame the fetch op built."""
        from hours_api_clickup_spark import pipelines
        from hours_api_clickup_spark.operators.merge import window_months
        from hours_api_clickup_spark.sinks import versioned as V

        if self.tick_state is None:
            return float("nan"), 0, ["no fetched tick to sync"]
        raw, want_rows, want_staged = self.tick_state
        self.tick_state = None
        before = V.read_manifest(str(self.store))
        t0 = time.perf_counter()
        res = pipelines.sync_refresh_manifest(
            spark, raw, str(self.store), self.stream.TODAY, days=self.stream.DAYS, backup_path=str(self.backup)
        )
        seconds = time.perf_counter() - t0
        errors = []
        if res.rows != want_rows:
            errors.append(f"sync reported {res.rows} rows, expected {want_rows}")
        got = self._store_rows()
        if got != want_rows:
            errors.append(f"store holds {got} live rows, expected {want_rows}")
        after = V.read_manifest(str(self.store))
        window = set(window_months(self.stream.lo, self.stream.TODAY))
        moved = sorted(m for m in set(before) | set(after) if m not in window and before.get(m) != after.get(m))
        if moved:
            errors.append(f"months outside the window changed version: {moved}")
        staged = self._backup_rows()
        if staged != want_staged:
            errors.append(f"backup holds {staged} rows, expected {want_staged}")
        return seconds, 0, errors

    # ------------------------------------------------------------ checks

    def _store_rows(self) -> int:
        import pyarrow.parquet as pq

        from hours_api_clickup_spark.sinks import versioned as V

        total = 0
        for month, v in V.read_manifest(str(self.store)).items():
            for f in glob.glob(str(self.store / f"month={month}" / f"v={v}" / "*.parquet")):
                total += pq.ParquetFile(f).metadata.num_rows
        return total

    def _backup_rows(self) -> int:
        n = 0
        for f in glob.glob(str(self.backup / "part-*.csv")):
            with open(f, "rb") as fh:
                n += sum(1 for _ in fh) - 1
        return n

    def store_bytes_per_row(self) -> float:
        _, size = dir_stats(self.store, ".parquet")
        return size / max(1, self._store_rows())

    # ------------------------------------------------------------ tracing

    def wrap(self, tracer) -> None:
        from hours_api_clickup_spark import pipelines
        from hours_api_clickup_spark.operators import merge
        from hours_api_clickup_spark.sinks import versioned as V
        from hours_api_clickup_spark.sources import client, readers

        self.tracer = tracer
        tracer.wrap(client.ClickUpClient, "fetch_all_time_entries", "sources.fetch_s")
        tracer.wrap(readers, "from_rows", "sources.decode_s")
        tracer.wrap(pipelines, "sync_refresh_manifest", "pipelines.sync_s")
        # lazy plan building: analysis only, the work runs in the backup
        tracer.wrap(pipelines, "transform_time_entries", "operators.transform_s")
        tracer.wrap(pipelines, "dedupe_latest", "operators.dedupe_s")

        def backup_written(out, args, kwargs):
            files, size = dir_stats(args[1])
            tracer.count("sinks.files_written", files)
            tracer.count("sinks.bytes_written", size)

        tracer.wrap(pipelines, "csv_backup", "sinks.backup_s", after=backup_written)
        tracer.wrap(merge, "merge_refresh_partitioned_atomic", "operators.merge_s")
        tracer.wrap_context(V, "publish_lease", "sinks.lease_s")

        def month_written(version, args, kwargs):
            files, size = dir_stats(os.path.join(args[1], f"month={args[2]}", f"v={version}"))
            tracer.count("operators.months_rewritten")
            tracer.count("sinks.files_written", files)
            tracer.count("sinks.bytes_written", size)

        tracer.wrap(V, "write_month_version", "sinks.month_write_s", after=month_written)
        tracer.wrap(V, "publish_manifest", "sinks.publish_s")
        tracer.wrap(V, "prune_months", "sinks.prune_s", tail="sinks.count_s")

    def close(self) -> None:
        self.api.__exit__(None, None, None)
