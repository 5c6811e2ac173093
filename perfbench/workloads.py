"""The two workloads. Each drives the package's public functions in this
process: ``pipeline.run_pipeline`` over a ``json_ping_stream`` source,
``pipeline.refresh_server_from_stores``, ``TileApiServer`` and the
``KeyedParquetStore`` pair, and returns the raw series the metrics are
computed from. See NOTES.md for why each workload looks the way it does.
"""

from __future__ import annotations

import os
import time

import check
import gen
import loadgen
import spans as tr

from real_time_mobility_heatmap_spark import pipeline
from real_time_mobility_heatmap_spark.serving.http_api import FEATURE_CAP, TileApiServer
from real_time_mobility_heatmap_spark.streaming.sources import json_ping_stream

LATEST = loadgen.POLL

# sizes -- see NOTES.md for how each was chosen
DRAIN = dict(
    spec=gen.Spec(n_files=6, pings_per_file=3500, n_vehicles=3000, late_per_file=2, late_from=4),
    files_per_trigger=2,
    # a fixed count, so every run times the same points of the JIT
    # warm-up curve (NOTES.md)
    timed_drains=2,
)
LIVE = dict(
    # 3 warm-up files, 5 timed, and the one generated ahead of the last
    spec=gen.Spec(n_files=9, pings_per_file=200, n_vehicles=400, late_per_file=1, late_from=2),
    warmup_files=3,
    timed_files=5,  # a fixed count, as drain's timed_drains
    think_s=0.2,
    deadline_s=30.0,
)


def _poll_versions(stores, target: int, deadline: float) -> bool:
    """Wait until every store's current manifest is at version >= target.
    The current pointer, not ``versions()``: the numbered snapshot lands
    before the pointer moves, and a refresh started in between reads the
    old snapshot while the merge's GC deletes its files."""
    while time.perf_counter() < deadline:
        if all(tr.manifest(s.path)["version"] >= target for s in stores):
            return True
        time.sleep(0.01)
    return False


def _get_latest(server, tracer) -> dict:
    out = {}
    for path in LATEST:
        with tracer.span("serving.get_latest", endpoint=path):
            out[path] = loadgen.get(server.port, path)
    return out


def _check_latest(bodies: dict, model: gen.Model) -> list[str]:
    problems = [f"{p}: HTTP {s}" for p, (s, _) in bodies.items() if s != 200]
    if problems:
        return problems
    return check.tiles_latest(bodies[LATEST[0]][1], model, FEATURE_CAP) + check.positions_latest(
        bodies[LATEST[1]][1], model, FEATURE_CAP
    )


def _check_range(server, model: gen.Model) -> list[str]:
    status, body = loadgen.get(server.port, "/api/tiles/range")
    if status != 200:
        return [f"/api/tiles/range: HTTP {status}"]
    return check.tiles_range(body, model, FEATURE_CAP)


def check_stores(spark, tiles, positions, model: gen.Model) -> list[str]:
    from pyspark.sql import functions as F

    t = tiles.read(spark).select(
        "tile_id", "cell_id", F.date_format("window_start", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        "ping_count", "avg_speed_kmh",
    )
    p = positions.read(spark).select(
        "position_id", F.date_format("event_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"), "loc_lon", "loc_lat"
    )
    return check.stores([tuple(r) for r in t.collect()], [tuple(r) for r in p.collect()], model)


# Spark 4.1 counts a late (window, cell) group twice in
# numRowsDroppedByWatermark: once in StateStoreRestore and once in
# StateStoreSave (measured: one day-old row per batch reports 2). The
# generator puts every late row in its own group, so the count is exact.
DROP_COUNTS_PER_LATE_GROUP = 2


def check_counts(spark, progress: list[dict], model: gen.Model, src: str) -> tuple[list[str], dict]:
    """Watermark drops from the tiles query's progress, and the valid
    ratio of the landed input under the engine's own validate rule."""
    from real_time_mobility_heatmap_spark.operators.validate import validate_pings
    from real_time_mobility_heatmap_spark.schema import WIRE_SCHEMA
    from real_time_mobility_heatmap_spark.streaming.sources import decode_pings

    dropped = tr.dropped_by_watermark(progress)
    lines = spark.read.text(src).count()
    valid = validate_pings(decode_pings(spark.read.schema(WIRE_SCHEMA).json(src))).count()
    valid_ratio = valid / lines if lines else 0.0
    want_dropped = DROP_COUNTS_PER_LATE_GROUP * model.late_rows
    problems = []
    if dropped != want_dropped:
        problems.append(f"rows dropped by watermark {dropped}, expected {want_dropped}")
    if valid_ratio != model.valid_rows / model.input_rows:
        problems.append(f"valid ratio {valid_ratio}, expected {model.valid_rows / model.input_rows}")
    return problems, {
        "dropped": dropped,
        "input_rows": sum(p["numInputRows"] for p in progress),
        "valid_ratio": valid_ratio,
    }


class Run:
    """State shared by one workload run: session, server, tracer, series."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer, progress, timings):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer, self.progress, self.timings = tracer, progress, timings
        self.server = TileApiServer().start()
        self.client = loadgen.OpenLoopClient(self.server.port)
        self.ops: list[dict] = []  # one per operation: {"servable_s", "ok"}
        self.refresh_failed = 0
        self.problems: list[str] = []
        self.servable: list[float] = []  # the servable_p50_s samples
        self.series: dict = {}  # warm-up series and counts for the trace
        self.queries: list = []
        self.kinds: dict[str, str] = {}  # streaming query id -> "tiles" | "positions"
        self.stores: dict = {}
        self.t_measure = float("inf")

    def track(self, res: dict) -> None:
        self.queries[:] = list(res["queries"])
        self.kinds.update({str(q.id): k for q, k in zip(res["queries"], ("tiles", "positions"))})

    def measure(self) -> None:
        """Mark the end of set-up and warm-up."""
        if self.tracer.enabled:
            self.jvm_at_measure = (tr.gc_ms(self.spark), tr.last_job_id(self.spark, self.queries))
        self.tracer.phase = "measure"
        self.t_measure = time.perf_counter()

    def jvm_since_measure(self) -> dict:
        gc0, job0 = self.jvm_at_measure
        return {
            "gc_ms": tr.gc_ms(self.spark) - gc0,
            "jobs": tr.last_job_id(self.spark, self.queries) - job0,
        }

    def join_client(self) -> None:
        self.client.join()
        for r in self.client.samples:
            self.tracer.add("serving.http", r["start"], r["end"], endpoint=r["path"])
        bad = sum(not r["ok"] for r in self.client.samples)
        if bad:
            self.problems.append(f"{bad} open-loop GETs failed, missed the deadline or were malformed")

    def close(self) -> None:
        self.client.stop()
        for q in self.queries:
            if q.isActive:
                q.stop()
        self.server.stop()

    def refresh(self, tiles, positions) -> None:
        """One serving refresh. A failure is counted and reported, and the
        server keeps its last good payloads (the loop keeps going)."""
        try:
            pipeline.refresh_server_from_stores(self.server, self.spark, tiles, positions)
        except Exception as e:  # noqa: BLE001 - a boundary that must keep running
            self.refresh_failed += 1
            self.problems.append(f"refresh failed: {type(e).__name__}: {str(e)[:300]}")


# -- drain ---------------------------------------------------------------------


def drain(run: Run) -> None:
    """Backlog catch-up: ``availableNow`` over a backlog into an empty
    store, then one refresh; one operation = one whole drain."""
    spark, cfg = run.spark, DRAIN
    t = time.perf_counter()
    batches = gen.Generator(cfg["spec"], run.seed).files()
    model = gen.Model()
    for b in batches:
        model.add(b)
    backlog = os.path.join(run.work, "backlog")
    lander = gen.Lander(backlog)
    for b in batches:
        lander.land(b)
    # the warm-up drains a backlog of the same shape from another seed:
    # a smaller one left the first timed drain ~30% slower than the second
    warm_dir = os.path.join(run.work, "warm")
    warm_lander = gen.Lander(warm_dir)
    for b in gen.Generator(cfg["spec"], run.seed + 1).files():
        warm_lander.land(b)
    run.timings["generate_s"] = time.perf_counter() - t

    def one(name: str, src: str) -> tuple[float, dict]:
        store_dir = os.path.join(run.work, name)
        with run.tracer.span("op.drain") as a:
            t0 = time.perf_counter()
            with run.tracer.span("pipeline.run_pipeline"):
                res = pipeline.run_pipeline(
                    spark, store_dir,
                    source_factory=lambda: json_ping_stream(spark, src, cfg["files_per_trigger"]),
                )
            run.refresh(res["tiles"], res["positions"])
            bodies = _get_latest(run.server, run.tracer)
            dt = time.perf_counter() - t0
            a["servable_s"] = dt
        run.track(res)
        res["bodies"] = bodies
        return dt, res

    t = time.perf_counter()
    run.tracer.phase = "warmup"
    dt, _ = one("warm-store", warm_dir)
    run.series["warmup_servable_s"] = [dt]
    run.timings["warmup_s"] = time.perf_counter() - t

    # the window is the timed drains, back to back; --seconds caps the
    # GET schedule, which ends with the last drain. Checks come after it.
    run.measure()
    run.client.start(run.seconds)
    timed = [one(f"store-{i}", backlog) for i in range(cfg["timed_drains"])]
    run.join_client()
    for dt, res in timed:
        q_tiles = res["queries"][0]
        run.progress.wait_for(q_tiles, q_tiles.lastProgress["batchId"])
        problems = _check_latest(res["bodies"], model)
        counts_problems, counts = check_counts(spark, run.progress.of(q_tiles), model, backlog)
        problems += counts_problems
        # backlog files landed but not yet committed, after each batch
        run.series.setdefault("lag_files", []).extend(
            cfg["spec"].n_files - min(cfg["spec"].n_files, (p["batchId"] + 1) * cfg["files_per_trigger"])
            for p in run.progress.of(q_tiles)
            if p["numInputRows"] > 0
        )
        run.ops.append({"servable_s": dt, "ok": not problems})
        run.problems += problems
        run.series["counts"] = counts
        run.stores = {"tiles": res["tiles"], "positions": res["positions"]}
    # every drain serves the same final state, so the last refresh's
    # range payload stands for all of them
    run.problems += _check_range(run.server, model)
    run.problems += check_stores(spark, run.stores["tiles"], run.stores["positions"], model)
    run.servable = [op["servable_s"] for op in run.ops]
    run.series["pings_per_op"] = model.valid_rows


# -- live ----------------------------------------------------------------------


def live(run: Run) -> None:
    """Closed loop at the reference's poll size: land one file, wait until
    both stores committed it, refresh, GET both latest endpoints, think,
    land the next. One operation = one landed file."""
    spark, cfg = run.spark, LIVE
    t = time.perf_counter()
    g = gen.Generator(cfg["spec"], run.seed)
    first = g.batch(0)
    run.timings["generate_s"] = time.perf_counter() - t
    src = os.path.join(run.work, "pings")
    lander = gen.Lander(src)
    res = pipeline.run_pipeline(
        spark,
        os.path.join(run.work, "store"),
        trigger={"processingTime": "0 seconds"},
        source_factory=lambda: json_ping_stream(spark, src),
    )
    run.track(res)
    tiles, positions = res["tiles"], res["positions"]
    model = gen.Model()
    k, batch = 0, first

    def one() -> tuple[float, list[str]]:
        nonlocal k, batch
        run.tracer.file_id = k
        model.add(batch)
        with run.tracer.span("op.live", file=k) as a:
            with run.tracer.span("producers.land"):
                lander.land(batch)
            t_land = time.perf_counter()
            with run.tracer.span("wait.commit"):
                committed = _poll_versions((tiles, positions), k + 1, t_land + cfg["deadline_s"])
            if not committed:
                return float("nan"), [f"file {k}: not committed within {cfg['deadline_s']} s"]
            run.refresh(tiles, positions)
            bodies = _get_latest(run.server, run.tracer)
            dt = time.perf_counter() - t_land
            a["servable_s"] = dt
        problems = _check_latest(bodies, model)
        if dt > cfg["deadline_s"]:
            problems.append(f"file {k}: servable after {dt:.1f} s")
        k += 1
        batch = g.batch(k)  # generated during the think time, outside the timed span
        time.sleep(cfg["think_s"])
        return dt, problems

    t = time.perf_counter()
    run.tracer.phase = "warmup"
    run.series["warmup_servable_s"] = []
    for _ in range(cfg["warmup_files"]):
        dt, problems = one()
        run.series["warmup_servable_s"].append(dt)
        run.problems += problems
    run.timings["warmup_s"] = time.perf_counter() - t

    # the window is the timed files; --seconds caps the GET schedule,
    # which ends with the last file
    run.measure()
    run.client.start(run.seconds)
    for _ in range(cfg["timed_files"]):
        dt, problems = one()
        run.ops.append({"servable_s": dt, "ok": not problems})
        run.problems += problems
        if dt != dt:  # a missed commit leaves the loop out of step
            break
    run.join_client()
    q_tiles = run.queries[0]
    run.progress.wait_for(q_tiles, q_tiles.lastProgress["batchId"])
    for q in run.queries:
        q.stop()
    counts_problems, counts = check_counts(spark, run.progress.of(q_tiles), model, src)
    run.problems += counts_problems + check_stores(spark, tiles, positions, model)
    run.problems += _check_range(run.server, model)
    run.series["counts"] = counts
    run.series["pings_per_op"] = model.valid_rows / k
    run.servable = [op["servable_s"] for op in run.ops]
    run.stores = {"tiles": tiles, "positions": positions}


WORKLOADS = {"drain": drain, "live": live}
