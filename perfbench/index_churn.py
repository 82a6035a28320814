"""Index churn, the index half of the query_index workload: reads
beside appends on one persisted LSH index.

Set-up writes the index (``lsh_index_write``) from seeded jittered
replicas of 64-d vectors. A cycle appends a batch to the log, deletes
ids with a tombstone, and probes twice (a base vector and a vector of
the batch just appended), then compacts the log and tombstones into
the base and upserts a small batch of re-embedded ids."""

from __future__ import annotations

import time
from contextlib import nullcontext

import numpy as np

from common import dir_stats, remove
from gen import VectorSet
from workload import Workload

SOURCES = 1_000
REPLICAS = 5
APPEND = 200
DELETE = 10
UPSERT = 20
TOP_K = 10
DIM = 64


class IndexChurn(Workload):
    item_kinds = ("append", "upsert")
    coverage_spans = (
        "datapipe.index.append_s",
        "datapipe.index.delete_s",
        "datapipe.index.probe_s",
        "datapipe.index.upsert_s",
        "datapipe.index.compact_s",
    )

    def __init__(self, seed: int, work):
        self.work = work
        self.vs = VectorSet(seed, SOURCES, REPLICAS, DIM)
        self.rng = np.random.default_rng([seed, 5])
        self.n_base = SOURCES * REPLICAS
        self.path = None
        self.tracer = None

    def _frame(self, spark, ids, version=0):
        import pandas as pd

        vecs = self.vs.vectors(ids, version)
        pdf = pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64), "embedding": list(vecs)})
        return spark.createDataFrame(pdf, schema=f"vec_id long, embedding array<float>")

    def setup_once(self, spark, rep: int) -> None:
        """Write a fresh index of the base vectors."""
        from hours_api_clickup_spark.datapipe import similarity as S

        if self.path is not None:
            remove(self.path)
        self.path = str(self.work / f"index{rep}")
        S.lsh_index_write(self._frame(spark, np.arange(self.n_base)), "embedding", "vec_id", self.path, dim=DIM)
        self.live = {int(i): 0 for i in range(self.n_base)}  # id -> vector version
        self.deleted: set[int] = set()
        self.next_id = self.n_base
        self.seq = 0
        self.last_batch = np.arange(0)

    def warmup_ops(self):
        """One cycle without compaction: probe and append latency fall
        for several ops after the index writes while the JVM compiles
        their paths. The log then holds one batch when timing starts,
        the same on every run."""
        return self._cycle(compact=False)

    def cycle_mix(self) -> dict[str, float]:
        return {"append": 1, "delete": 1, "probe": 2, "compact": 1, "upsert": 1}

    def ops(self):
        while True:
            yield from self._cycle(compact=True)
            yield "cycle", None

    def _cycle(self, compact: bool) -> list:
        ops = [
            ("append", self.append),
            ("delete", self.delete),
            ("probe", lambda spark: self.probe(spark, from_batch=False)),
            ("probe", lambda spark: self.probe(spark, from_batch=True)),
        ]
        if compact:
            ops += [("compact", self.compact), ("upsert", self.upsert)]
        return ops

    # ------------------------------------------------------------- ops

    def _timed(self, fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def append(self, spark):
        from hours_api_clickup_spark.datapipe import similarity as S

        ids = np.arange(self.next_id, self.next_id + APPEND)
        self.next_id += APPEND
        self.seq += 1
        df = self._frame(spark, ids)
        secs = self._timed(lambda: S.lsh_index_append(df, "embedding", "vec_id", self.path, dim=DIM, seq=self.seq))
        self.live.update({int(i): 0 for i in ids})
        self.last_batch = ids
        return secs, APPEND, []

    def delete(self, spark):
        from hours_api_clickup_spark.datapipe import similarity as S

        fresh = set(int(i) for i in self.last_batch)
        pool = np.array(sorted(i for i in self.live if i not in fresh))
        ids = [int(i) for i in self.rng.choice(pool, size=DELETE, replace=False)]
        secs = self._timed(lambda: S.lsh_index_delete(spark, self.path, ids, seq=self.seq))
        for i in ids:
            del self.live[i]
        self.deleted.update(ids)
        return secs, DELETE, []

    def probe(self, spark, from_batch: bool):
        from hours_api_clickup_spark.datapipe import similarity as S

        pool = self.last_batch if from_batch and len(self.last_batch) else np.array(sorted(self.live))
        vid = int(self.rng.choice(pool))
        q = [float(x) for x in self.vs.vectors(np.array([vid]), self.live[vid])[0]]
        span = self.tracer.span("datapipe.index.probe_s") if self.tracer else nullcontext()
        t0 = time.perf_counter()
        with span:
            rows = S.lsh_probe_topk(spark, self.path, q, k=TOP_K).collect()
        secs = time.perf_counter() - t0
        got = [int(r["nbr_id"]) for r in rows]
        errors = []
        if not got or got[0] != vid:
            errors.append(f"probe with stored vector {vid} returned {got[:3]}")
        dead = sorted(set(got) & self.deleted)
        if dead:
            errors.append(f"probe returned deleted ids {dead}")
        return secs, 1, errors

    def compact(self, spark):
        from hours_api_clickup_spark.datapipe import similarity as S

        secs = self._timed(lambda: S.lsh_index_compact(spark, self.path))
        files, _ = dir_stats(f"{self.path}/log")
        errors = [f"log still holds {files} files after compaction"] if files else []
        return secs, 0, errors

    def upsert(self, spark):
        from hours_api_clickup_spark.datapipe import similarity as S

        ids = self.rng.choice(np.array(sorted(self.live)), size=UPSERT, replace=False)
        version = int(max(self.live[int(i)] for i in ids)) + 1
        df = self._frame(spark, ids, version)
        secs = self._timed(lambda: S.lsh_index_upsert(df, "embedding", "vec_id", self.path, dim=DIM))
        for i in ids:
            self.live[int(i)] = version
        self.last_batch = ids
        return secs, UPSERT, []

    # --------------------------------------------------------- figures

    def figures(self) -> dict[str, float]:
        _, size = dir_stats(self.path, ".parquet")
        return {"store_bytes_per_row": size / max(1, len(self.live)), "live_vectors": len(self.live)}

    def wrap(self, tracer) -> None:
        from hours_api_clickup_spark.datapipe import similarity as S

        self.tracer = tracer

        def tiers(out, args, kwargs):
            tracer.count("datapipe.index.log_files", dir_stats(f"{self.path}/log")[0])
            tracer.count("datapipe.index.tombstones", dir_stats(f"{self.path}/tombstones")[0])

        def rewritten(out, args, kwargs):
            tracer.count("datapipe.index.compact_bytes_rewritten", dir_stats(f"{self.path}/base")[1])
            tiers(out, args, kwargs)

        tracer.wrap(S, "lsh_index_append", "datapipe.index.append_s", after=tiers)
        tracer.wrap(S, "lsh_index_delete", "datapipe.index.delete_s", after=tiers)
        tracer.wrap(S, "lsh_index_compact", "datapipe.index.compact_s", after=rewritten)
        tracer.wrap(S, "lsh_index_upsert", "datapipe.index.upsert_s", after=tiers)

