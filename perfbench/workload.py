"""What every workload provides, and how a traced run's spans, counts
and event-log counters become per-layer metrics."""

from __future__ import annotations

from common import median
from spans import ENGINE

# Layer spans (seconds), reported on every workload; 0 where a
# workload never enters the layer.
LAYER_SPANS = (
    "sources.fetch_s",
    "sources.decode_s",
    "pipelines.sync_s",
    "operators.transform_s",
    "operators.dedupe_s",
    "sinks.backup_s",
    "operators.merge_s",
    "sinks.lease_s",
    "sinks.month_write_s",
    "sinks.publish_s",
    "sinks.prune_s",
    "sinks.count_s",
    "plans.build_s",
    "plans.execute_s",
    "datapipe.index.append_s",
    "datapipe.index.delete_s",
    "datapipe.index.probe_s",
    "datapipe.index.upsert_s",
    "datapipe.index.compact_s",
)

# Work counts recorded at the same boundaries.
LAYER_COUNTS = (
    "sources.requests",
    "sources.bytes",
    "sources.retries",
    "sources.server_requests",
    "sources.server_bytes",
    "operators.months_rewritten",
    "sinks.files_written",
    "sinks.bytes_written",
    "plans.rows_returned",
    "datapipe.index.log_files",
    "datapipe.index.tombstones",
    "datapipe.index.compact_bytes_rewritten",
)

# Spans whose Spark work is split out per engine counter.
ENGINE_SPANS = (
    "sinks.backup_s",
    "operators.merge_s",
    "sinks.month_write_s",
    "sinks.count_s",
    "plans.build_s",
    "plans.execute_s",
    "datapipe.index.append_s",
    "datapipe.index.delete_s",
    "datapipe.index.probe_s",
    "datapipe.index.upsert_s",
    "datapipe.index.compact_s",
)
ENGINE_PER_SPAN = ("jobs", "tasks", "task_s", "shuffle_write_bytes", "spill_bytes", "python_rows")


def layer_catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    names = (
        ["session.start_s", "session.restart_s"]
        + list(LAYER_SPANS)
        + list(LAYER_COUNTS)
        + ["datapipe.index.probe_files_read"]
        + [f"engine.{c}" for c in ENGINE]
        + [f"{s}.{c}" for s in ENGINE_SPANS for c in ENGINE_PER_SPAN]
        + ["trace.overhead_s", "trace.span_coverage"]
        + ["peak_rss_mb", "peak_rss_mb.java", "peak_rss_mb.python"]
    )
    out = []
    for n in names:
        last = n.rsplit(".", 1)[-1]
        unit = (
            "MB" if n.startswith("peak_rss_mb")
            else "s" if last.endswith("_s")
            else "bytes" if "bytes" in last
            else "ratio" if last == "span_coverage"
            else "count"
        )
        out.append((n, unit, "higher" if unit == "ratio" else "lower"))
    return out


class Workload:
    headline: tuple[str, ...] = ()  # op kinds (before any ".") that make op_p50_s
    item_kinds: tuple[str, ...] | None = None  # op kinds items_per_s counts; None: all
    sf = None
    min_cycles = 1
    # spans that together should cover an op's wall time
    coverage_spans: tuple[str, ...] = ()

    def cycle_mix(self) -> dict[str, float]:
        """{op kind: runs per cycle}; cycle_s weights kind medians by it."""
        return {k: 1 for k in self.headline}

    def check_setup(self) -> list[str]:
        return []

    def warmup_ops(self):
        """Ops run once before timing; their outputs are checked too."""
        return []

    def figures(self) -> dict[str, float]:
        return {}

    def wrap(self, tracer) -> None:
        pass

    def close(self) -> None:
        pass

    def layer_metrics(self, tracer, engine, ops) -> dict[str, float]:
        per_op: dict[str, dict[int, float]] = {}
        for op, name, secs in tracer.spans:
            per_op.setdefault(name, {}).setdefault(op, 0.0)
            per_op[name][op] += secs
        for (op, name), v in tracer.counts.items():
            per_op.setdefault(name, {})[op] = v
        out = {n: median(list(per_op.get(n, {}).values())) if n in per_op else 0.0
               for n in LAYER_SPANS + LAYER_COUNTS}
        op_ids = sorted({op for op, _, _ in tracer.spans})

        def engine_median(span: str, counter: str, ops) -> float:
            """Median over ``ops`` of the counter's jobs under ``span``;
            an op that ran no job there counts 0."""
            vals = [engine[(op, span)][counter] if (op, span) in engine else 0.0 for op in ops]
            return median(vals) if vals else 0.0

        for c in ENGINE:
            out[f"engine.{c}"] = engine_median("*", c, op_ids)
        for s in ENGINE_SPANS:
            for c in ENGINE_PER_SPAN:
                out[f"{s}.{c}"] = engine_median(s, c, sorted(per_op.get(s, {})))
        probes = sorted(per_op.get("datapipe.index.probe_s", {}))
        out["datapipe.index.probe_files_read"] = engine_median("datapipe.index.probe_s", "files_read", probes)
        # share of each op's measured latency that the layer spans cover
        lat = {i + 1: o["s"] for i, o in enumerate(ops)}
        cov = [sum(per_op.get(s, {}).get(op, 0.0) for s in self.coverage_spans) / lat[op]
               for op in op_ids if lat.get(op)]
        out["trace.span_coverage"] = median(cov) if cov else 0.0
        return out
