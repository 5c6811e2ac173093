"""Open-loop HTTP load generator, run in its own process.

The generator is a component separate from the system under test: its
Python work (connections, reading bodies, checksums) does not compete
with the server's threads for the pipeline process's interpreter lock.
Requests follow a fixed schedule that does not slow when the server
does; each is timed from the moment it was due, so a stall shows up in
the requests queued behind it.

The traffic is the package's own map page (``http_api.map_page``): every
``REFRESH_MS`` a viewer fetches ``/api/tiles/latest`` and
``/api/positions/latest`` together (``Promise.all``). A poll is
therefore a pair of GETs due at the same moment, and each of the two
threads takes one endpoint of every poll. ``VIEWERS`` viewers, their
poll phases spread evenly over the period, make ``VIEWERS * 1000 /
REFRESH_MS`` polls a second. The page never requests
``/api/tiles/range``, so neither does the load.

Times are ``time.perf_counter()``, which is CLOCK_MONOTONIC on Linux and
so comparable across the two processes.

The child is a plain ``python3 loadgen.py`` subprocess: it reads the
port and the schedule as one JSON line on stdin, skips the polls still
ahead once the parent closes stdin, and writes the samples as JSON on
stdout; the parent waits for it to exit.
"""

from __future__ import annotations

import http.client
import json
import subprocess
import sys
import threading
import time
import zlib

# what one viewer's poll fetches (http_api.map_page's refresh())
POLL = ("/api/tiles/latest", "/api/positions/latest")
REFRESH_MS = 5000  # http_api.REFRESH_MS, the page's poll period
VIEWERS = 75  # 15 polls = 30 GETs a second; NOTES.md says why
ENVELOPE = (b'{"type":"FeatureCollection","features":[', b"]}")
DEADLINE_S = 2.0


def get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=DEADLINE_S)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def schedule(start: float, seconds: float) -> list[float]:
    """Due times of the polls, one every REFRESH_MS / VIEWERS."""
    period = REFRESH_MS / 1000 / VIEWERS
    return [start + i * period for i in range(int(seconds / period))]


def _worker(port: int, path: str, slots: list[float], stop: threading.Event, out: list) -> None:
    for due in slots:
        if stop.wait(max(0.0, due - time.perf_counter())):
            return
        start = time.perf_counter()
        try:
            status, body = get(port, path)
        except OSError:
            status, body = -1, b""
        end = time.perf_counter()
        out.append(
            {
                "path": path,
                "due": due,
                "start": start,
                "end": end,
                "latency_s": end - due,
                "ok": status == 200
                and body.startswith(ENVELOPE[0])
                and body.endswith(ENVELOPE[1])
                and end - due <= DEADLINE_S,
                "crc": zlib.crc32(body),
            }
        )


def _main() -> None:
    job = json.loads(sys.stdin.readline())
    stop = threading.Event()

    def wait_for_eof() -> None:
        sys.stdin.read()
        stop.set()

    threading.Thread(target=wait_for_eof, daemon=True).start()
    outs: list[list] = [[] for _ in POLL]
    threads = [
        threading.Thread(target=_worker, args=(job["port"], path, job["slots"], stop, out))
        for path, out in zip(POLL, outs)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    json.dump(sorted(sum(outs, []), key=lambda r: r["due"]), sys.stdout)


class OpenLoopClient:
    """``start(seconds)`` begins a schedule of at most ``seconds``;
    ``join()`` skips the polls still ahead, waits for the child and fills
    ``samples``."""

    def __init__(self, port: int):
        self.port = port
        self.samples: list[dict] = []
        self._proc = None

    def start(self, seconds: float) -> float:
        """Start the child; returns the time the first poll is due."""
        self._proc = subprocess.Popen(
            [sys.executable, __file__], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        # the child needs a moment to start; the schedule begins after it
        slots = schedule(time.perf_counter() + 0.5, seconds)
        self._proc.stdin.write(json.dumps({"port": self.port, "slots": slots}) + "\n")
        self._proc.stdin.flush()
        return slots[0] if slots else time.perf_counter()

    def join(self) -> None:
        if self._proc is None:
            return
        self._proc.stdin.close()  # the child skips the polls still ahead
        out = self._proc.stdout.read()  # drain the pipe before waiting
        self._proc.wait()
        self._proc = None
        self.samples = json.loads(out)

    def stop(self) -> None:
        """End a schedule early (on an error elsewhere) and wait for it."""
        if self._proc is not None:
            self._proc.kill()
            self._proc.wait()
            self._proc = None


if __name__ == "__main__":
    _main()
