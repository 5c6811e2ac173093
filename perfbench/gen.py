"""Seeded ping generator and the plain-Python model of what the pipeline
must serve for its output.

The generator writes files in the producer wire format
(``schema.WIRE_SCHEMA``, one JSON object per line, atomic rename like
``JsonFileSink``). File ``k`` holds one 5-minute event-time window
``[T0 + 5k min, T0 + 5(k+1) min)`` of pings, plus:

- a share of rows that fail ``operators.validate`` (null key fields,
  out-of-range coordinates, a null timestamp);
- a share of rows that arrive out of order: event time in window
  ``k - 1``, which is always inside the 10-minute watermark because the
  watermark trails the newest event already committed by 10 minutes;
- from file ``late_from`` on, a few rows far behind the watermark (one
  day back). Each such row sits in its own (window, cell) key, so the
  count Spark reports as dropped does not depend on how rows are split
  into partitions. ``late_from`` must fall in the third micro-batch or
  later: a stateful operator filters late input against the watermark
  of the batch before, and in batches 0 and 1 that is still the epoch
  (measured on Spark 4.1: day-old rows in batch 1 are kept).

Every (vehicle, second) pair is used at most once, so "latest position"
has no ties and does not depend on batch boundaries.

The model repeats the engine's arithmetic in plain Python: the validate
rule, the ``floor(lat*20):floor(lon*20)`` snap, int64 speed cents, the
per-window tiles, the newest-3-window merge, the latest position per
vehicle and the top-``FEATURE_CAP`` orderings of the three payloads. It
imports nothing from the engine; the constants it shares with the engine
(grid scale, window width, city, merge width) are restated here.
"""

from __future__ import annotations

import bisect
import math
import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

GRID_SCALE = 20
TILE_MINUTES = 5
MERGE_WINDOWS = 3
CITY = "boston"
GRID_NAME = f"grid{GRID_SCALE}"
T0 = datetime(2026, 1, 5, 6, 0, 0, tzinfo=timezone.utc)
ISO = "%Y-%m-%dT%H:%M:%SZ"
PROVIDERS = ("mbta", "opensky")
# the grid the pings fall on: cells (y, x) with y in [Y0, Y0+GRID_H),
# x in [X0, X0+GRID_W) -- a 12 x 12 degree box around Boston
Y0, X0 = 36 * GRID_SCALE, -77 * GRID_SCALE
GRID_H = GRID_W = 12 * GRID_SCALE


ZIPF_S = 1.0  # cell popularity: weight of the rank-r cell is 1 / r**ZIPF_S
MALFORMED_SHARE = 0.03
OUT_OF_ORDER_SHARE = 0.05


@dataclass(frozen=True)
class Spec:
    """Input sizes of one generated stream."""

    n_files: int
    pings_per_file: int
    n_vehicles: int
    late_per_file: int  # day-old rows a file, from file ``late_from`` on
    late_from: int


@dataclass
class Ping:
    provider: str
    vehicle: str
    ts: datetime
    lat: float
    lon: float
    speed: float

    def wire(self) -> dict:
        return {
            "provider": self.provider,
            "vehicleId": self.vehicle,
            "lat": self.lat,
            "lon": self.lon,
            "speedKmh": self.speed,
            "bearing": 90,
            "accuracyM": 5,
            "ts": self.ts.strftime(ISO),
        }


@dataclass
class Batch:
    """One generated file: its wire records and the valid pings among them."""

    records: list[dict]
    valid: list[Ping]  # valid and inside the watermark
    late: list[Ping]  # valid, but the tiles query must drop them


def _malformed(rng: random.Random, p: Ping) -> dict:
    """A wire record that ``operators.validate`` must reject."""
    w = p.wire()
    kind = rng.randrange(5)
    if kind == 0:
        w["ts"] = None
    elif kind == 1:
        w["provider"] = None
    elif kind == 2:
        del w["vehicleId"]
    elif kind == 3:
        w["lat"] = 90.5 + rng.random()
    else:
        w["lon"] = -180.5 - rng.random()
    return w


class Generator:
    """Deterministic for a seed: ``Generator(spec, seed).files()`` always
    yields the same records."""

    def __init__(self, spec: Spec, seed: int):
        self.spec = spec
        self.rng = random.Random(seed)
        cells = [(Y0 + i // GRID_W, X0 + i % GRID_W) for i in range(GRID_H * GRID_W)]
        self.rng.shuffle(cells)  # popularity rank -> cell, seeded
        self.cells = cells
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(cells))]
        acc, total = [], 0.0
        for w in weights:
            total += w
            acc.append(total)
        self.cum = acc
        self.vehicles = [
            (PROVIDERS[i % len(PROVIDERS)], f"v{i:06d}") for i in range(spec.n_vehicles)
        ]
        self.used: set[tuple[str, int]] = set()

    def _cell(self) -> tuple[int, int]:
        r = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.cells[min(r, len(self.cells) - 1)]

    def _ping(self, vehicle: tuple[str, str], lo: datetime, span_s: int) -> Ping:
        rng = self.rng
        while True:
            sec = rng.randrange(span_s)
            key = (vehicle[1], int(lo.timestamp()) + sec)
            if key not in self.used:
                self.used.add(key)
                break
        cy, cx = self._cell()
        return Ping(
            vehicle[0],
            vehicle[1],
            lo + timedelta(seconds=sec),
            round((cy + rng.uniform(0.02, 0.98)) / GRID_SCALE, 6),
            round((cx + rng.uniform(0.02, 0.98)) / GRID_SCALE, 6),
            round(rng.uniform(0.0, 90.0), 2),
        )

    def batch(self, k: int) -> Batch:
        spec, rng = self.spec, self.rng
        win = timedelta(minutes=TILE_MINUTES)
        lo = T0 + k * win
        records: list[dict] = []
        valid: list[Ping] = []
        n = spec.pings_per_file
        # one ping per vehicle per poll while the poll is narrower than the
        # fleet (the reference's <=200-vehicle poll), else a seeded draw
        order = (
            rng.sample(self.vehicles, n)
            if n <= len(self.vehicles)
            else [rng.choice(self.vehicles) for _ in range(n)]
        )
        for vehicle in order:
            ooo = k > 0 and rng.random() < OUT_OF_ORDER_SHARE
            p = self._ping(vehicle, lo - win if ooo else lo, 300)
            if rng.random() < MALFORMED_SHARE:
                records.append(_malformed(rng, p))
                self.used.discard((p.vehicle, int(p.ts.timestamp())))
            else:
                records.append(p.wire())
                valid.append(p)
        late: list[Ping] = []
        if k >= spec.late_from:
            for j in range(spec.late_per_file):
                # one day back, each row in its own 5-minute window
                slot = (k * spec.late_per_file + j) % (24 * 60 // TILE_MINUTES)
                p = self._ping(rng.choice(self.vehicles), T0 - timedelta(days=1) + slot * win, 300)
                records.append(p.wire())
                late.append(p)
        rng.shuffle(records)
        return Batch(records, valid, late)

    def files(self) -> list[Batch]:
        return [self.batch(k) for k in range(self.spec.n_files)]


class Lander:
    """Lands batches in a directory the stream watches, through the
    producer's ``JsonFileSink``: the sink writes and renames each file in
    a staging directory, and one more atomic rename moves it into the
    watched one. The sink's own temp file (``batch-N.json.tmp``) does not
    start with ``.`` or ``_``, so a file source polling the sink's
    directory directly could list it half-written; staging keeps it out
    of sight."""

    def __init__(self, directory: str):
        from real_time_mobility_heatmap_spark.producers.mobility_producer import JsonFileSink

        self.directory = directory
        self.sink = JsonFileSink(directory + ".staging")
        self.landed = 0
        self.t0 = int(time.time())
        os.makedirs(directory, exist_ok=True)

    def land(self, batch: Batch) -> str:
        for r in batch.records:
            self.sink.send(r.get("vehicleId") or "", r)
        self.sink.flush()  # one file per flush, named by the flush count
        staged = f"{self.sink.directory}/batch-{self.landed:06d}.json"
        # the file source orders a backlog by modification time; files
        # landed within one clock tick would tie, so space them 1 s apart
        # (a micro-batch then holds the files it should, in landing order)
        mtime = self.t0 + self.landed
        os.utime(staged, (mtime, mtime))
        self.landed += 1
        path = os.path.join(self.directory, os.path.basename(staged))
        os.rename(staged, path)
        return path


# -- the model ----------------------------------------------------------------


def snap(lat: float, lon: float) -> str:
    return f"{math.floor(lat * GRID_SCALE)}:{math.floor(lon * GRID_SCALE)}"


def cents(x: float) -> int:
    return math.floor(x * 100.0 + 0.5)


def round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def window_start(ts: datetime) -> datetime:
    epoch = int(ts.timestamp())
    return datetime.fromtimestamp(epoch - epoch % (TILE_MINUTES * 60), timezone.utc)


@dataclass
class Model:
    """Expected store contents and payloads after a set of batches."""

    # (cell, window_start) -> [ping_count, sum_speed_cents, n_speed]
    tiles: dict = field(default_factory=dict)
    # (provider, vehicle) -> Ping
    latest: dict = field(default_factory=dict)
    input_rows: int = 0
    valid_rows: int = 0
    late_rows: int = 0

    def add(self, batch: Batch) -> None:
        self.input_rows += len(batch.records)
        self.valid_rows += len(batch.valid) + len(batch.late)
        self.late_rows += len(batch.late)
        # the positions query has no watermark: late rows compete too
        for p in batch.valid + batch.late:
            key = (p.provider, p.vehicle)
            cur = self.latest.get(key)
            if cur is None or p.ts > cur.ts:
                self.latest[key] = p
        for p in batch.valid:
            t = self.tiles.setdefault((snap(p.lat, p.lon), window_start(p.ts)), [0, 0, 0])
            t[0] += 1
            t[1] += cents(p.speed)
            t[2] += 1

    # -- stores ------------------------------------------------------------

    def tile_rows(self) -> dict:
        """tile_id -> (cell_id, window_start ISO, ping_count, avg_speed)."""
        out = {}
        for (cell, ws), (n, c, ns) in self.tiles.items():
            tid = f"{CITY}|{GRID_NAME}|{cell}|{ws.strftime(ISO)}"
            out[tid] = (cell, ws.strftime(ISO), n, c / 100 / ns)
        return out

    def position_rows(self) -> dict:
        """position_id -> (event_ts ISO, lon, lat)."""
        return {
            f"{pr}|{v}": (p.ts.strftime(ISO), p.lon, p.lat)
            for (pr, v), p in self.latest.items()
        }

    # -- payloads ----------------------------------------------------------

    def tiles_latest(self, cap: int) -> list[tuple]:
        newest = max(ws for _, ws in self.tiles)
        end = newest + timedelta(minutes=TILE_MINUTES)
        rows = []
        for (cell, ws), (n, c, ns) in self.tiles.items():
            if ws == newest:
                tid = f"{CITY}|{GRID_NAME}|{cell}|{ws.strftime(ISO)}"
                rows.append((tid, cell, n, c / 100 / ns, ws.strftime(ISO), end.strftime(ISO)))
        rows.sort(key=lambda r: (-r[2], r[0]))
        return rows[:cap]

    def positions_latest(self, cap: int) -> list[tuple]:
        rows = [
            (f"{p.provider}|{p.vehicle}", p.provider, p.vehicle, p.ts.strftime(ISO), p.lon, p.lat)
            for p in self.latest.values()
        ]
        rows.sort(key=lambda r: r[0])
        rows.sort(key=lambda r: r[3], reverse=True)
        return rows[:cap]

    def tiles_range(self, cap: int) -> list[tuple]:
        newest = max(ws for _, ws in self.tiles)
        lo = newest - timedelta(minutes=(MERGE_WINDOWS - 1) * TILE_MINUTES)
        acc: dict[str, list] = {}
        for (cell, ws), (n, c, ns) in self.tiles.items():
            if ws < lo:
                continue
            a = acc.setdefault(cell, [0, 0, 0, set()])
            a[0] += n
            a[1] += c
            a[2] += ns
            a[3].add(ws)
        rows = []
        for cell, (n, c, ns, wins) in acc.items():
            start = min(wins)
            end = max(wins) + timedelta(minutes=TILE_MINUTES)
            avg = round6(float(c * 10000) / 1e6 / ns)
            rows.append((cell, cell, n, avg, len(wins), start.strftime(ISO), end.strftime(ISO)))
        rows.sort(key=lambda r: (-r[2], r[0]))
        return rows[:cap]
