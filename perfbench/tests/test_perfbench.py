"""The benchmark's own tests: no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import gen  # noqa: E402
import loadgen  # noqa: E402
import run  # noqa: E402

SPEC = gen.Spec(n_files=4, pings_per_file=300, n_vehicles=120, late_per_file=2, late_from=2)
CAP = 10_000


def _model(seed: int = 7) -> gen.Model:
    m = gen.Model()
    for b in gen.Generator(SPEC, seed).files():
        m.add(b)
    return m


def _tiles_payload(rows) -> str:
    feats = [
        {
            "type": "Feature",
            "id": tid,
            "geometry": {"type": "Polygon", "coordinates": []},
            "properties": {
                "cell_id": cell,
                "ping_count": n,
                "avg_speed_kmh": avg,
                "windowStart": ws,
                "windowEnd": we,
            },
        }
        for tid, cell, n, avg, ws, we in rows
    ]
    return json.dumps({"type": "FeatureCollection", "features": feats})


def test_generator_is_deterministic_for_a_seed():
    a = [b.records for b in gen.Generator(SPEC, 3).files()]
    b = [b.records for b in gen.Generator(SPEC, 3).files()]
    c = [b.records for b in gen.Generator(SPEC, 4).files()]
    assert a == b
    assert a != c


def test_generator_shares_are_as_stated():
    m = _model()
    # 3% malformed (drawn), 2 late rows per file from file 2 on
    assert 0.9 < m.valid_rows / m.input_rows < 1.0
    assert m.late_rows == 2 * (SPEC.n_files - SPEC.late_from)
    # one ping per (vehicle, second): latest position has no ties
    seen = set()
    for b in gen.Generator(SPEC, 7).files():
        for p in b.valid + b.late:
            key = (p.vehicle, p.ts)
            assert key not in seen
            seen.add(key)


def test_checker_accepts_the_model_and_rejects_one_count_off_by_one():
    m = _model()
    rows = m.tiles_latest(CAP)
    assert check.tiles_latest(_tiles_payload(rows), m, CAP) == []
    bad = list(rows)
    tid, cell, n, avg, ws, we = bad[len(bad) // 2]
    bad[len(bad) // 2] = (tid, cell, n + 1, avg, ws, we)
    problems = check.tiles_latest(_tiles_payload(bad), m, CAP)
    assert len(problems) == 1 and tid in problems[0]


def test_checker_rejects_a_store_row_off_by_one():
    m = _model()
    tiles = [(tid, *v) for tid, v in m.tile_rows().items()]
    positions = [(pid, *v) for pid, v in m.position_rows().items()]
    assert check.stores(tiles, positions, m) == []
    tid, cell, ws, n, avg = tiles[0]
    tiles[0] = (tid, cell, ws, n + 1, avg)
    assert len(check.stores(tiles, positions, m)) == 1


def test_snap_and_cents_follow_the_engine_arithmetic():
    assert gen.snap(42.3601, -71.0589) == "847:-1422"
    assert gen.snap(-0.01, -0.01) == "-1:-1"
    assert gen.cents(12.34) == 1234
    assert gen.cents(0.07) == 7


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 401))  # 400 samples: p95 is the highest rung with 10 beyond
    t = run.tail(xs)
    assert sum(x > t for x in xs) >= 10
    assert run.tail([1.0, 2.0, 3.0]) == 2.0


def test_load_is_the_map_page_poll():
    import re

    from real_time_mobility_heatmap_spark.serving import http_api

    page = http_api.map_page()
    assert tuple(re.findall(r"fetch\('([^']+)'\)", page)) == loadgen.POLL
    assert loadgen.REFRESH_MS == http_api.REFRESH_MS
    due = loadgen.schedule(0.0, 10.0)
    assert len(due) == loadgen.VIEWERS * 10 * 1000 // loadgen.REFRESH_MS


def test_client_stops_the_schedule_on_join():
    import http.server
    import threading
    import time

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = b"".join(loadgen.ENVELOPE)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        client = loadgen.OpenLoopClient(srv.server_address[1])
        first = client.start(60.0)
        time.sleep(max(0.0, first - time.perf_counter()) + 0.5)
        t = time.perf_counter()
        client.join()
        assert time.perf_counter() - t < 5.0
    finally:
        srv.shutdown()
    paths = [s["path"] for s in client.samples]
    assert 0 < len(paths) < 60 * 30
    assert set(paths) == set(loadgen.POLL)
    assert all(s["ok"] for s in client.samples)


def test_output_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOAD_NAMES)
    assert spec["paths"] == ["perfbench"]
