"""Pipeline benchmark: drain throughput, live freshness and serving latency
of the composed pipeline (file source -> tile and latest-position
streaming queries -> keyed parquet stores -> HTTP serving).

    python3 perfbench/run.py --workload {drain,live} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (the traced run also writes its spans, progress events and
self-time table to ``.perfbench/trace-<workload>-<seed>.json``). Every
file the run creates lives under ``.perfbench/`` in the working
directory. NOTES.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "real_time_mobility_heatmap_spark"
WORKLOAD_NAMES = ("drain", "live")

END_TO_END = {
    "setup_s": "s",
    "servable_p50_s": "s",
    "http_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "producers.land_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.lag_files": "count",
    "assembly.query_planning_ms": "ms",
    "assembly.wal_commit_ms": "ms",
    "assembly.commit_offsets_ms": "ms",
    "assembly.add_batch_ms.tiles": "ms",
    "assembly.trigger_ms.tiles": "ms",
    "assembly.trigger_ms.positions": "ms",
    "assembly.agg_self_ms": "ms",
    "assembly.input_rows": "count",
    "assembly.valid_ratio": "ratio",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "B",
    "state.rows_dropped_by_watermark": "count",
    "sinks.merge_ms.tiles": "ms",
    "sinks.merge_ms.positions": "ms",
    "sinks.manifest_commit_ms": "ms",
    "sinks.gc_ms": "ms",
    "sinks.buckets_touched": "count",
    "sinks.rows_rewritten": "count",
    "sinks.write_amplification": "ratio",
    "sinks.store_rows": "count",
    "pipeline.refresh_ms": "ms",
    "pipeline.refresh_failed": "count",
    "serving.payload_ms.tiles_latest": "ms",
    "serving.payload_ms.positions_latest": "ms",
    "serving.payload_ms.tiles_range": "ms",
    "serving.payload_bytes.tiles_latest": "B",
    "serving.payload_bytes.positions_latest": "B",
    "serving.payload_bytes.tiles_range": "B",
    "serving.features.tiles_latest": "count",
    "serving.features.positions_latest": "count",
    "serving.features.tiles_range": "count",
    "serving.http_ms.tiles_latest": "ms",
    "serving.http_ms.positions_latest": "ms",
    "http.samples": "count",
    "http.tail_ms": "ms",
    "http.late_p50_ms": "ms",
    "http.late_max_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.jobs_per_op": "count",
    "path.tiles_commit_ms": "ms",
    "path.positions_commit_ms": "ms",
    "path.to_commit_ms": "ms",
    "path.refresh_ms": "ms",
    "path.get_ms": "ms",
    "path.sum_ms": "ms",
    "path.servable_ms": "ms",
    "ops.servable_n": "count",
    "ops.servable_max_s": "s",
    "ops.pings_per_s": "pings/s",
    "trace.servable_p50_s": "s",
    "trace.http_p50_ms": "ms",
}


def tail(values: list[float]) -> float:
    """The highest of p99.9/p99/p98/p95/p90/p75 with at least ten samples
    beyond it (nearest rank); the median when there are fewer than 20."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99, 98, 95, 90, 75):
        if n * (1 - p / 100) >= 10:
            return xs[min(n - 1, math.ceil(p / 100 * n) - 1)]
    return statistics.median(xs)


def median(values, default=0.0) -> float:
    values = [v for v in values if v == v]
    return statistics.median(values) if values else default


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def configure(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    import tempfile

    for sub in ("local", "jtmp", "ptmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the package's own core-count setting; every core unless it is set
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a fixed 1 GiB heap: the peak RSS then tracks the memory the run
    # needs instead of when G1 chose to grow a larger heap
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -Xms1g -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )
    tempfile.tempdir = os.path.join(work, "ptmp")


def stop_jvm(spark) -> None:
    """Stop Spark and the gateway JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(run, timings: dict, rss_mb: float) -> dict:
    http = [s["latency_s"] * 1e3 for s in run.client.samples]
    return {
        "setup_s": timings["setup_s"],
        "servable_p50_s": median(run.servable),
        "http_p50_ms": median(http),
        "peak_rss_mb": rss_mb,
    }


def per_layer(run, tracer, progress, timings: dict, e2e: dict, jvm: dict, workload: str) -> dict:
    import spans as tr

    measured = [(t, p) for t, p in progress.events if t >= run.t_measure]
    by_kind = {"tiles": [], "positions": []}
    for _, p in measured:
        kind = run.kinds.get(p["id"])
        if kind:
            by_kind[kind].append(p)
    data = {k: [p for p in v if p["numInputRows"] > 0] for k, v in by_kind.items()}
    tiles = data["tiles"]

    def dur(ps, key):
        return median(p["durationMs"].get(key, 0) for p in ps)

    def state(ps, key):
        return [op.get(key, 0) for p in ps for op in p.get("stateOperators", [])[:1]]

    def span_ms(name):
        return [(s["end"] - s["start"]) * 1e3 for s in tracer.select(name)]

    def attr(name, key):
        return [s.get(key, 0) for s in tracer.select(name)]

    # addBatch minus the merge it contains, per tiles batch: pair the
    # batches' progress events with their merge spans in arrival order
    all_tiles = [p for _, p in progress.events if run.kinds.get(p["id"]) == "tiles"]
    merges = [s for s in tracer.spans if s["name"] == "sinks.merge.tiles"]
    agg_self = [
        p["durationMs"].get("addBatch", 0) - (s["end"] - s["start"]) * 1e3
        for p, s in zip(all_tiles, merges)
        if p["batchId"] == s.get("batch") and s["phase"] == "measure" and p["numInputRows"] > 0
    ]
    tile_merges = [s for s in tracer.select("sinks.merge.tiles") if s.get("buckets_touched")]
    rewritten = sum(s.get("rows_rewritten", 0) for s in tile_merges)
    updated = sum(state(tiles, "numRowsUpdated"))

    ops = tracer.select(f"op.{workload}")
    paths = {k: [] for k in ("tiles_commit", "positions_commit", "to_commit", "refresh", "get", "servable")}
    children: dict = {}
    for s in tracer.spans:
        children.setdefault(s["parent"], []).append(s)
    for op in ops:
        kids = children.get(op["id"], [])
        landed = max((k["end"] for k in kids if k["name"] == "producers.land"), default=op["start"])
        for kind in ("tiles", "positions"):
            ends = [
                s["end"] for s in tracer.spans
                if s["name"] == f"sinks.merge.{kind}" and s.get("buckets_touched")
                and op["start"] <= s["start"] and s["end"] <= op["end"]
            ]
            paths[f"{kind}_commit"].append((max(ends) - landed) * 1e3 if ends else float("nan"))
        part = {
            "to_commit": sum(k["end"] - k["start"] for k in kids if k["name"] in ("wait.commit", "pipeline.run_pipeline")),
            "refresh": sum(k["end"] - k["start"] for k in kids if k["name"] == "pipeline.refresh"),
            "get": sum(k["end"] - k["start"] for k in kids if k["name"] == "serving.get_latest"),
        }
        part["servable"] = op.get("servable_s", op["end"] - op["start"])
        for k, v in part.items():
            paths[k].append(v * 1e3)
    paths["sum"] = [a + b + c for a, b, c in zip(paths["to_commit"], paths["refresh"], paths["get"])]

    http = {p: [] for p in ("tiles_latest", "positions_latest")}
    for s in run.client.samples:
        http[s["path"].split("/api/")[1].replace("/", "_")].append(s["latency_s"] * 1e3)
    late = [(s["start"] - s["due"]) * 1e3 for s in run.client.samples]
    counts = run.series.get("counts", {})
    n_ops = max(1, len(ops))
    pings = run.series.get("pings_per_op", 0)
    out = {
        "session.start_s": timings["session_start_s"],
        "setup.generate_s": timings.get("generate_s", 0.0),
        "setup.warmup_s": timings.get("warmup_s", 0.0),
        "producers.land_ms": median(span_ms("producers.land")),
        "sources.latest_offset_ms": dur(tiles, "latestOffset"),
        "sources.get_batch_ms": dur(tiles, "getBatch"),
        "sources.lag_files": median(run.series.get("lag_files", [0])),
        "assembly.query_planning_ms": dur(tiles, "queryPlanning"),
        "assembly.wal_commit_ms": dur(tiles, "walCommit"),
        "assembly.commit_offsets_ms": dur(tiles, "commitOffsets"),
        "assembly.add_batch_ms.tiles": dur(tiles, "addBatch"),
        "assembly.trigger_ms.tiles": dur(tiles, "triggerExecution"),
        "assembly.trigger_ms.positions": dur(data["positions"], "triggerExecution"),
        "assembly.agg_self_ms": median(agg_self),
        "assembly.input_rows": counts.get("input_rows", 0),
        "assembly.valid_ratio": counts.get("valid_ratio", 0.0),
        "state.commit_ms": median(state(tiles, "commitTimeMs")),
        "state.rows_total": (state(by_kind["tiles"], "numRowsTotal") or [0])[-1],
        "state.rows_updated": median(state(tiles, "numRowsUpdated")),
        "state.memory_bytes": (state(by_kind["tiles"], "memoryUsedBytes") or [0])[-1],
        "state.rows_dropped_by_watermark": counts.get("dropped", 0),
        "sinks.merge_ms.tiles": median((s["end"] - s["start"]) * 1e3 for s in tile_merges),
        "sinks.merge_ms.positions": median(
            (s["end"] - s["start"]) * 1e3
            for s in tracer.select("sinks.merge.positions")
            if s.get("buckets_touched")
        ),
        "sinks.manifest_commit_ms": median(span_ms("sinks.manifest_commit.tiles")),
        "sinks.gc_ms": median(span_ms("sinks.gc.tiles")),
        "sinks.buckets_touched": median(s["buckets_touched"] for s in tile_merges),
        "sinks.rows_rewritten": median(s["rows_rewritten"] for s in tile_merges),
        "sinks.write_amplification": rewritten / updated if updated else 0.0,
        "sinks.store_rows": tr.store_rows(run.stores["tiles"].path) if run.stores else 0,
        "pipeline.refresh_ms": median(span_ms("pipeline.refresh")),
        "pipeline.refresh_failed": run.refresh_failed,
        "http.samples": len(run.client.samples),
        "http.tail_ms": tail([s["latency_s"] * 1e3 for s in run.client.samples]) if run.client.samples else 0.0,
        "http.late_p50_ms": median(late),
        "http.late_max_ms": max(late, default=0.0),
        "jvm.gc_ms": jvm["gc_ms"],
        "jvm.jobs_per_op": jvm["jobs"] / n_ops,
        **{f"path.{k}_ms": median(v) for k, v in paths.items()},
        "ops.servable_n": len(run.servable),
        "ops.servable_max_s": max(run.servable, default=0.0),
        "ops.pings_per_s": pings / e2e["servable_p50_s"] if pings and e2e["servable_p50_s"] else 0.0,
        "trace.servable_p50_s": e2e["servable_p50_s"],
        "trace.http_p50_ms": e2e["http_p50_ms"],
    }
    for ep in ("tiles_latest", "positions_latest", "tiles_range"):
        out[f"serving.payload_ms.{ep}"] = median(span_ms(f"serving.payload.{ep}"))
        out[f"serving.payload_bytes.{ep}"] = median(attr(f"serving.payload.{ep}", "bytes"))
        out[f"serving.features.{ep}"] = median(attr(f"serving.payload.{ep}", "features"))
    for ep, ms in http.items():
        out[f"serving.http_ms.{ep}"] = median(ms)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run from the repository root: no {PACKAGE}/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    configure(work)
    t_setup = time.perf_counter()
    from real_time_mobility_heatmap_spark.session import get_spark

    import spans as tr
    import workloads

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    timings = {"session_start_s": time.perf_counter() - t_setup}
    tracer = tr.Tracer() if args.trace else tr.NullTracer()
    if args.trace:
        tr.install(tracer)
    progress = tr.ProgressLog()
    spark.streams.addListener(progress)
    run = workloads.Run(spark, work, args.seed, args.seconds, tracer, progress, timings)
    try:
        workloads.WORKLOADS[args.workload](run)
        timings["setup_s"] = run.t_measure - t_setup
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)) / 1024
        e2e = end_to_end(run, timings, rss_mb)
        if args.trace:
            metrics = per_layer(run, tracer, progress, timings, e2e, run.jvm_since_measure(), args.workload)
        else:
            metrics = e2e
    finally:
        run.close()
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not op["ok"] for op in run.ops)
    if args.trace:
        tr.dump(
            os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"),
            tracer, progress, metrics,
            {"series": run.series, "problems": run.problems, "servable": run.servable},
        )
    units = PER_LAYER if args.trace else END_TO_END
    for p in run.problems[:20]:
        print(f"check: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not run.problems and failed == 0,
                "attempted": max(1, len(run.ops)),
                "failed": failed if run.ops else 1,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
