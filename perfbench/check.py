"""Compare what the pipeline served and stored with the generator's model.

Every function returns a list of human-readable mismatches; an empty list
means the output is correct. Floats are compared exactly: the engine and
the model do the same IEEE operations in the same order (see gen.py).
"""

from __future__ import annotations

import json

from gen import Model

MAX_REPORTED = 5


def _diff(kind: str, got: list, want: list) -> list[str]:
    if got == want:
        return []
    out = []
    if len(got) != len(want):
        out.append(f"{kind}: {len(got)} features, expected {len(want)}")
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            out.append(f"{kind}[{i}]: got {g}, expected {w}")
            if len(out) >= MAX_REPORTED:
                break
    return out


def features(payload: str | bytes) -> list[dict]:
    doc = json.loads(payload)
    if doc.get("type") != "FeatureCollection":
        raise ValueError("not a FeatureCollection")
    return doc["features"]


def tiles_latest(payload: str | bytes, model: Model, cap: int) -> list[str]:
    got = []
    for f in features(payload):
        p = f["properties"]
        got.append(
            (f["id"], p["cell_id"], p["ping_count"], p["avg_speed_kmh"], p["windowStart"], p["windowEnd"])
        )
    return _diff("tiles/latest", got, model.tiles_latest(cap))


def positions_latest(payload: str | bytes, model: Model, cap: int) -> list[str]:
    got = []
    for f in features(payload):
        p = f["properties"]
        lon, lat = f["geometry"]["coordinates"]
        got.append((f["id"], p["provider"], p["vehicleId"], p["ts"], lon, lat))
    return _diff("positions/latest", got, model.positions_latest(cap))


def tiles_range(payload: str | bytes, model: Model, cap: int) -> list[str]:
    got = []
    for f in features(payload):
        p = f["properties"]
        got.append(
            (
                f["id"],
                p["cell_id"],
                p["ping_count"],
                p["avg_speed_kmh"],
                p["n_windows"],
                p["mergeStart"],
                p["mergeEnd"],
            )
        )
    return _diff("tiles/range", got, model.tiles_range(cap))


def stores(tile_rows: list, position_rows: list, model: Model) -> list[str]:
    """Full store snapshots. ``tile_rows``: (tile_id, cell_id,
    window_start ISO, ping_count, avg_speed_kmh); ``position_rows``:
    (position_id, event_ts ISO, loc_lon, loc_lat)."""
    got_t = {r[0]: tuple(r[1:]) for r in tile_rows}
    got_p = {r[0]: tuple(r[1:]) for r in position_rows}
    out = []
    for kind, got, want, n in (
        ("tile store", got_t, model.tile_rows(), len(tile_rows)),
        ("position store", got_p, model.position_rows(), len(position_rows)),
    ):
        if n != len(got):
            out.append(f"{kind}: {n - len(got)} duplicate keys")
        if got != want:
            missing = sorted(set(want) - set(got))[:MAX_REPORTED]
            extra = sorted(set(got) - set(want))[:MAX_REPORTED]
            wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])[:MAX_REPORTED]
            out.append(
                f"{kind}: {len(got)} rows, expected {len(want)}; missing {missing}, "
                f"unexpected {extra}, wrong {[(k, got[k], want[k]) for k in wrong]}"
            )
    return out
