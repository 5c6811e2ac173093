"""Spans, streaming progress and JVM counters for the traced run.

The traced run wraps public engine calls at run time from this process
(no engine source is edited): ``KeyedParquetStore.merge`` with its
``_commit_manifest`` and ``_gc_versions`` steps, ``pipeline.
refresh_server_from_stores``, the per-endpoint payload build inside
``TileApiServer.refresh_features``, and the benchmark's own landing and
HTTP calls. Spans are kept in memory and written out at the end.

``ProgressLog`` collects every ``StreamingQueryProgress`` through a
``StreamingQueryListener`` (``recentProgress`` keeps only the last 100).
It is installed in untraced runs too, because the correctness check reads
the watermark drop counts from it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class NullTracer:
    """Untraced runs: spans cost one attribute lookup and a no-op."""

    enabled = False
    file_id = None
    phase = "setup"

    def span(self, name: str, **attrs):
        return contextlib.nullcontext(attrs)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        rec = dict(attrs, id=sid, name=name, start=start, parent=parent,
                   file=self.file_id, phase=self.phase)
        try:
            yield rec  # callers may add attributes, also after the span ends
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (the load generator's process)."""
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append(dict(attrs, id=sid, name=name, start=start, end=end, parent=None,
                                   file=None, phase=self.phase))

    def select(self, name: str, phase: str | None = "measure") -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if phase is not None and any(s["phase"] == phase for s in out):
            out = [s for s in out if s["phase"] == phase]
        return out

    def self_times(self) -> dict:
        """name -> {count, total_ms, self_ms}: self time is a span's
        duration minus the part of it its children cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        table: dict[str, dict] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            row = table.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["count"] += 1
            row["total_ms"] += (s["end"] - s["start"]) * 1e3
            row["self_ms"] += (s["end"] - s["start"] - covered) * 1e3
        return table


class ProgressLog(StreamingQueryListener):
    """Every progress event, with the local time it arrived."""

    def __init__(self):
        self.events: list[tuple[float, dict]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        rec = (time.perf_counter(), json.loads(event.progress.json))
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def of(self, query) -> list[dict]:
        qid = str(query.id)
        with self._lock:
            return [p for _, p in self.events if p["id"] == qid]

    def wait_for(self, query, batch_id: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for one batch's."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if any(p["batchId"] >= batch_id for p in self.of(query)):
                return
            time.sleep(0.01)


def dropped_by_watermark(progress: list[dict]) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )


def manifest(path: str) -> dict:
    """A store's current manifest (``KeyedParquetStore``'s on-disk format:
    ``MANIFEST.json`` is the pointer readers follow)."""
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"version": 0, "buckets": {}}


def _parquet_rows(dirs) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for d in dirs
        for f in glob.glob(os.path.join(d, "*.parquet"))
    )


def store_rows(path: str) -> int:
    return _parquet_rows(os.path.join(path, rel) for rel in manifest(path)["buckets"].values())


def install(tracer: Tracer) -> None:
    """Wrap the engine's public calls with spans (run-time patching of
    this process only)."""
    from real_time_mobility_heatmap_spark import pipeline
    from real_time_mobility_heatmap_spark.serving import http_api
    from real_time_mobility_heatmap_spark.streaming.sinks import KeyedParquetStore

    merge, commit, gc = (
        KeyedParquetStore.merge,
        KeyedParquetStore._commit_manifest,
        KeyedParquetStore._gc_versions,
    )

    def traced_merge(self, batch_df, epoch_id=None):
        kind = os.path.basename(self.path)
        before = manifest(self.path)["buckets"]
        with tracer.span(f"sinks.merge.{kind}", batch=epoch_id) as a:
            merge(self, batch_df, epoch_id)
        after = manifest(self.path)["buckets"]
        changed = [rel for b, rel in after.items() if before.get(b) != rel]
        a["buckets_touched"] = len(changed)
        a["rows_rewritten"] = _parquet_rows(os.path.join(self.path, rel) for rel in changed)

    def traced_commit(self, m):
        with tracer.span(f"sinks.manifest_commit.{os.path.basename(self.path)}"):
            commit(self, m)

    def traced_gc(self):
        with tracer.span(f"sinks.gc.{os.path.basename(self.path)}"):
            gc(self)

    KeyedParquetStore.merge = traced_merge
    KeyedParquetStore._commit_manifest = traced_commit
    KeyedParquetStore._gc_versions = traced_gc

    refresh = pipeline.refresh_server_from_stores

    def traced_refresh(server, spark, tiles, positions, *args, **kwargs):
        with tracer.span("pipeline.refresh") as a:
            refresh(server, spark, tiles, positions, *args, **kwargs)
        a["store_rows"] = store_rows(tiles.path) + store_rows(positions.path)

    pipeline.refresh_server_from_stores = traced_refresh

    build = http_api._feature_collection_json

    def traced_build(df, order_by, cap=http_api.FEATURE_CAP):
        props = df.schema["properties"].dataType.fieldNames()
        endpoint = (
            "positions_latest" if "vehicleId" in props
            else "tiles_range" if "n_windows" in props
            else "tiles_latest"
        )
        with tracer.span(f"serving.payload.{endpoint}") as a:
            body = build(df, order_by, cap)
        a["bytes"] = len(body)
        a["features"] = body.count('{"type":"Feature"')
        return body

    http_api._feature_collection_json = traced_build


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def last_job_id(spark, queries=()) -> int:
    st = spark.sparkContext.statusTracker()
    ids = list(st.getJobIdsForGroup(None))
    for q in queries:
        ids += list(st.getJobIdsForGroup(str(q.runId)))
    return max(ids, default=-1)


def dump(path: str, tracer: Tracer, progress: ProgressLog, metrics: dict, extra: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    with open(path, "w") as f:
        json.dump(
            {
                "metrics": metrics,
                "self_times": tracer.self_times(),
                "spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in tracer.spans],
                "progress": [dict(p, _arrived=t - t0) for t, p in progress.events],
                **extra,
            },
            f,
            indent=1,
            default=str,
        )
