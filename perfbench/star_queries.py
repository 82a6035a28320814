"""Star queries, the read half of the query_index workload: read-only
analytic queries from the registry over a generated TPC-H-shaped star
schema, one query per op.

Every query runs on the JVM only (joins, rollup/cube, pivot, windows,
correlated subqueries; no Python workers, no writes). Each op builds
the query through the registry and collects its rows; the rows must
match the query's DuckDB oracle SQL, evaluated once in set-up, by row
count and by an order-insensitive hash."""

from __future__ import annotations

import hashlib
import math
import time
from contextlib import nullcontext
from decimal import Decimal

from gen import STAR_TABLES, write_star_schema
from workload import Workload

SF = 0.1
QUERY_NAMES = (
    "agg_cube_hierarchy",
    "correlated_subquery_surface",
    "native_pivot_revenue",
    "topk_per_group",
)


def _cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b{v}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return "fNaN" if math.isnan(v) else f"f{v + 0.0!r}"
    if isinstance(v, Decimal):
        return f"d{v.normalize()}"
    if hasattr(v, "isoformat"):
        return f"t{v.isoformat()}"
    return f"s{v}"


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, hash of the sorted normalized rows, columns by name)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode() + b"\x1e")
    return len(lines), h.hexdigest()


class StarQueries(Workload):
    sf = SF
    coverage_spans = ("plans.build_s", "plans.execute_s")

    def __init__(self, seed: int, work):
        import duckdb

        from hours_api_clickup_spark.plans.registry import QUERIES

        self.dir = work / "star"
        self.table_rows = write_star_schema(seed, self.dir, SF)
        self.specs = {n: QUERIES[n] for n in QUERY_NAMES}
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir / t}.parquet')")
        self.oracle = {}
        for n, spec in self.specs.items():
            rel = con.sql(spec.oracle)
            self.oracle[n] = result_digest([d[0] for d in rel.description], rel.fetchall())
        con.close()
        self.tracer = None
        self.seen_counts: dict[str, int] = {}

    def setup_once(self, spark, rep: int) -> None:
        """Open the star schema: load every table through the registry
        loader and count it."""
        from hours_api_clickup_spark.plans.registry import load_table

        self.seen_counts = {t: load_table(spark, str(self.dir), t).count() for t in STAR_TABLES}

    def check_setup(self) -> list[str]:
        return [] if self.seen_counts == self.table_rows else [f"table rows {self.seen_counts} != {self.table_rows}"]

    def cycle_mix(self) -> dict[str, float]:
        return {f"query.{n}": 1 for n in QUERY_NAMES}

    def warmup_ops(self):
        """One pass: the first run of each query is ~30% slower."""
        return [(f"query.{n}", lambda spark, n=n: self.query(spark, n)) for n in QUERY_NAMES]

    def ops(self):
        while True:
            for n in QUERY_NAMES:
                yield f"query.{n}", lambda spark, n=n: self.query(spark, n)
            yield "cycle", None

    def query(self, spark, name: str) -> tuple[float, int, list[str]]:
        span = self.tracer.span if self.tracer is not None else (lambda name: nullcontext())
        t0 = time.perf_counter()
        with span("plans.build_s"):
            df = self.specs[name].fn(spark, str(self.dir))
        with span("plans.execute_s"):
            rows = df.collect()
        seconds = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.count("plans.rows_returned", len(rows))
        got = result_digest(df.columns, rows)
        want = self.oracle[name]
        errors = [] if got == want else [f"{name}: rows/hash {got} != oracle {want}"]
        return seconds, 1, errors

    def wrap(self, tracer) -> None:
        self.tracer = tracer

