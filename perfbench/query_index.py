"""query_index: the analytic read surface beside LSH index churn.

One cycle is a pass over the star-schema registry queries
(``star_queries.py``: JVM scans, joins, aggregation, shuffle) followed
by one index cycle (``index_churn.py``: append, delete, two probes,
compact, upsert). Together they measure the ``plans`` and
``datapipe.similarity`` layers in one run, so the round of runs fits
its time limit with two workloads."""

from __future__ import annotations

from index_churn import IndexChurn
from star_queries import StarQueries
from workload import Workload


class QueryIndex(Workload):
    # the read ops: every star query and the index probe
    headline = ("query", "probe")
    item_kinds = IndexChurn.item_kinds
    sf = StarQueries.sf
    coverage_spans = StarQueries.coverage_spans + IndexChurn.coverage_spans

    def __init__(self, seed: int, work):
        self.star = StarQueries(seed, work)
        self.index = IndexChurn(seed, work)

    def setup_once(self, spark, rep: int) -> None:
        """Open the star schema, then write a fresh index."""
        self.star.setup_once(spark, rep)
        self.index.setup_once(spark, rep)

    def check_setup(self) -> list[str]:
        return self.star.check_setup() + self.index.check_setup()

    def warmup_ops(self):
        """The index half first, so the timed query pass follows the
        warm-up query pass rather than index ops: the first query timed
        after index ops read up to 1.7x the next query's time."""
        return self.index.warmup_ops() + self.star.warmup_ops()

    def cycle_mix(self) -> dict[str, float]:
        return {**self.star.cycle_mix(), **self.index.cycle_mix()}

    def ops(self):
        star, index = self.star.ops(), self.index.ops()
        while True:
            for stream in (star, index):
                for kind, fn in stream:
                    if kind == "cycle":
                        break
                    yield kind, fn
            yield "cycle", None

    def figures(self) -> dict[str, float]:
        return self.index.figures()

    def wrap(self, tracer) -> None:
        self.star.wrap(tracer)
        self.index.wrap(tracer)

    def close(self) -> None:
        self.star.close()
        self.index.close()
