"""Product benchmark: one workload, one closed-loop caller, on
``local[<cpus>]``.

    python3 perfbench/run.py --workload refresh_sync --seed 1 --seconds 15 --trace 0

``--workload all`` runs every workload in turn. Run from the root of a
checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it print every metric by name
with its unit, and stamp the run (seed, sf, cpus, Spark version, code
fingerprint). See perfbench/README.md for the workloads and the map
from layer metrics to end-to-end metrics."""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

from common import (
    BENCH_DIR,
    PACKAGE,
    TreeRss,
    adopt_orphans,
    code_fingerprint,
    cpus,
    median,
    prepare_environment,
    remove,
    rmdir_if_empty,
    start_session,
    stop_processes,
    tail,
)
from workload import layer_catalogue

SETUP_REPS = 3
WORKLOADS = ("refresh_sync", "query_index")


def load_workload(name: str, seed: int, work):
    if name == "refresh_sync":
        from refresh_sync import RefreshSync as W
    else:
        from query_index import QueryIndex as W
    return W(seed, work)


def run_op(spark, kind: str, fn) -> dict:
    """One op; an exception or a failed output check makes it failed."""
    try:
        secs, items, errors = fn(spark)
    except Exception:  # noqa: BLE001 — a raising op is a failed op
        secs, items, errors = float("nan"), 0, [traceback.format_exc(limit=3)]
    for e in errors:
        print(f"# FAILED {kind}: {e}", file=sys.stderr)
    return {"kind": kind, "s": secs, "items": items, "errors": errors}


def measure(ops, spark, seconds: float, min_cycles: int) -> list[dict]:
    """Closed loop over an op stream: run ops back to back, in whole
    cycles, until ``seconds`` have passed and at least ``min_cycles``
    cycles ran."""
    # Move everything alive now (imports, inputs, the harness's own
    # state) out of the Python collector's reach: a full collection
    # inside a timed op then scans what the ops allocate, not the
    # harness, whose objects doubled a refresh fetch whenever one ran.
    gc.collect()
    gc.freeze()
    done, end, cycles = [], time.perf_counter() + seconds, 0
    for kind, fn in ops:
        if kind == "cycle":
            cycles += 1
            if time.perf_counter() >= end and cycles >= min_cycles:
                break
            continue
        done.append(run_op(spark, kind, fn))
    return done


def summarize(w, ops: list[dict]) -> dict[str, float]:
    """Workload figures: per-kind medians and the generic end-to-end
    quantities (headline op p50, one cycle, items per second)."""
    good = [o for o in ops if not o["errors"] and o["kind"] != "setup"]
    by_kind: dict[str, list[float]] = {}
    for o in good:
        by_kind.setdefault(o["kind"], []).append(o["s"])
    med = {k: median(v) for k, v in by_kind.items()}
    cycle = sum(med.get(k, float("nan")) * n for k, n in w.cycle_mix().items())
    counted = [o for o in good if w.item_kinds is None or o["kind"] in w.item_kinds]
    items = sum(o["items"] for o in counted) / max(1e-9, sum(o["s"] for o in counted))
    # with several headline kinds (one per star query, the probe) the
    # geometric mean of their medians: a typical read's latency that
    # weighs every kind alike; the median of single samples of several
    # kinds jumped between the two middle kinds from run to run
    head = [m for k, m in med.items() if k.split(".")[0] in w.headline]
    head_s = statistics.geometric_mean(head) if head else float("nan")
    out = {"op_p50_s": head_s, "cycle_s": cycle, "items_per_s": items}
    out.update({f"{k}_p50_s": v for k, v in med.items()})
    for k, v in by_kind.items():
        t = tail(v)
        if t is not None:
            out[f"{k}_tail_s"] = t[0]
            out[f"{k}_tail_pct"] = t[1]
        out[f"{k}_n"] = len(v)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not PACKAGE.is_dir():
        print(f"error: package {PACKAGE.name}/ not found beside {BENCH_DIR.name}/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    if args.workload == "all":
        return run_all(args)

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    work = BENCH_DIR / ".work" / f"{args.workload}-{os.getpid()}"
    remove(work)
    prepare_environment(work)
    rss = TreeRss().start()
    w = spark = None
    phases, mark = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 2)
        mark = now

    try:
        import pyspark

        w = load_workload(args.workload, args.seed, work)
        phase("inputs")
        t0 = time.perf_counter()
        spark = start_session(work, event_log=False)
        session_s = time.perf_counter() - t0
        reps = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.setup_once(spark, i)
            reps.append(time.perf_counter() - t0)
        checked = [{"kind": "setup", "s": median(reps), "items": 0, "errors": w.check_setup()}]
        phase("session_and_setup")
        checked += [run_op(spark, kind, fn) for kind, fn in w.warmup_ops()]
        phase("warmup")

        ops = measure(w.ops(), spark, args.seconds, w.min_cycles)
        phase("measure")
        fig = summarize(w, ops)
        fig.update(w.figures())
        layer = None
        if args.trace:
            from spans import Tracer, parse_event_log

            spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, event_log=True)
            restart_s = time.perf_counter() - t0
            tracer = Tracer()
            tracer.sc, tracer.enabled = spark.sparkContext, True
            w.wrap(tracer)
            traced_ops = measure_traced(w, spark, tracer, args.seconds)
            tracer.enabled = False
            tracer.unwrap_all()
            traced = summarize(w, traced_ops)
            spark.stop()
            spark = None
            logs = glob.glob(str(work / "events" / "*"))
            engine = parse_event_log(logs[0]) if logs else {}
            layer = w.layer_metrics(tracer, engine, traced_ops)
            layer["session.start_s"] = session_s
            layer["session.restart_s"] = restart_s
            layer["trace.overhead_s"] = traced["cycle_s"] - fig["cycle_s"]
            checked += traced_ops
            phase("traced")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        # every step runs even if an earlier one raises
        with contextlib.ExitStack() as cleanup:
            cleanup.callback(phase, "teardown")
            cleanup.callback(rmdir_if_empty, work.parent)
            cleanup.callback(remove, work)
            cleanup.callback(rss.stop)
            cleanup.callback(stop_processes)
            if w is not None:
                cleanup.callback(w.close)
            if spark is not None:
                cleanup.callback(spark.stop)
    memory = {
        "peak_rss_mb": rss.peak / 2**20,
        "peak_rss_mb.java": rss.peak_by.get("java", 0) / 2**20,
        "peak_rss_mb.python": sum(v for k, v in rss.peak_by.items() if k != "java") / 2**20,
    }

    checked += ops
    attempted = len(checked)
    failed = sum(1 for o in checked if o["errors"])
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": w.sf,
        "cpus": cpus(),
        "spark": pyspark.__version__,
        "code": code_fingerprint(),
        "seconds": args.seconds,
        "trace": args.trace,
    }
    print("# stamp " + json.dumps(stamp))
    print("# phases_s " + json.dumps(phases))
    e2e = {
        "setup_s": (session_s + median(reps), "s"),
        "op_p50_s": (fig["op_p50_s"], "s"),
        "cycle_s": (fig["cycle_s"], "s"),
        "items_per_s": (fig["items_per_s"], "1/s"),
        "store_bytes_per_row": (fig["store_bytes_per_row"], "bytes"),
    }
    print(f"# setup: session {session_s:.3f} s + median of {SETUP_REPS} set-ups "
          f"{[round(r, 3) for r in reps]} s")
    print(f"# failed_op_ratio {failed / max(1, attempted):.4f} ({failed}/{attempted})")
    for k, (v, unit) in e2e.items():
        print(f"# e2e {k} {v:.6g} {unit}")
    samples: dict[str, list[float]] = {}
    for o in ops:
        samples.setdefault(o["kind"], []).append(round(o["s"], 3))
    print("# samples_s " + json.dumps(samples))
    for k, v in memory.items():
        print(f"# memory {k} {v:.6g} MB")
    for k, v in sorted(fig.items()):
        if k not in e2e:
            print(f"# {args.workload} {k} {v:.6g}")
    if layer is not None:
        layer.update(memory)
        for k, v in sorted(layer.items()):
            print(f"# layer {k} {v:.6g}")
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit, _ in layer_catalogue()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process (its own JVM);
    the last line merges their results, metric names prefixed by the
    workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True).stdout.splitlines()
        print("\n".join(out[:-1]), flush=True)
        try:
            res = json.loads(out[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"error: {name} printed no result", file=sys.stderr)
            return 1
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def measure_traced(w, spark, tracer, seconds: float) -> list[dict]:
    """``measure`` with each op numbered and wrapped in an ``op.<kind>``
    span, so every Spark job it runs carries the op's job group."""

    def numbered():
        for kind, fn in w.ops():
            if kind == "cycle":
                yield kind, fn
                continue
            tracer.op += 1

            def spanned(spark, fn=fn, kind=kind):
                with tracer.span(f"op.{kind}"):
                    return fn(spark)

            yield kind, spanned

    return measure(numbered(), spark, seconds, w.min_cycles)


if __name__ == "__main__":
    sys.exit(main())
