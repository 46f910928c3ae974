"""Open-loop HTTP load generator: one process, ``THREADS`` threads, one
connection per thread at a time.

Request ``i`` of a step is due at ``step_start + i / rate`` whatever happened
to earlier requests; a worker thread takes the next due request, sleeps until
it is due, sends it and records due, send and completion times. Latency is
measured from the due time, so a stall also counts against the requests that
queued behind it. Steps come from ``--steps rate:seconds,...``; a final step
with seconds 0 runs until stdin closes.

    python3 perfbench/loadgen.py --port P --keys keys.json --out out.json --steps 300:0

The output is one JSON object: ``{"rows": [[step, key_index, due, send,
done, status, body], ...]}``; times are epoch seconds and ``status`` is -1
for a connection error or timeout.
"""

from __future__ import annotations

import argparse
import http.client
import json
import sys
import threading
import time

TIMEOUT_S = 2.0
THREADS = 4  # the box's core count: load never needs more threads than cores


def _parse_steps(spec: str) -> list[tuple[float, float]]:
    out = []
    for part in spec.split(","):
        rate, secs = part.split(":")
        out.append((float(rate), float(secs)))
    return out


class Generator:
    def __init__(self, port: int, keys: list[str], steps: list[tuple[float, float]]):
        self.port = port
        self.keys = keys
        self.steps = steps
        self.lock = threading.Lock()
        self.stop = threading.Event()
        self.rows: list[list] = []
        self.step = 0
        self.i = 0  # next request index within the step
        self.n = 0  # next key index overall
        self.step_start = 0.0

    def _next(self) -> tuple[int, int, float] | None:
        with self.lock:
            while True:
                if self.stop.is_set():
                    return None
                rate, secs = self.steps[self.step]
                due = self.step_start + self.i / rate
                if secs and due >= self.step_start + secs:
                    if self.step + 1 == len(self.steps):
                        return None
                    self.step += 1
                    self.step_start = max(due, self.step_start + secs)
                    self.i = 0
                    continue
                item = (self.step, self.n % len(self.keys), due)
                self.i += 1
                self.n += 1
                return item

    def _send(self, key: str) -> tuple[int, str]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=TIMEOUT_S)
        try:
            conn.request("GET", f"/features/online/{key}")
            resp = conn.getresponse()
            return resp.status, resp.read().decode()
        except (OSError, http.client.HTTPException):
            return -1, ""
        finally:
            conn.close()

    def worker(self) -> None:
        local = []
        while True:
            item = self._next()
            if item is None:
                break
            step, k, due = item
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            send = time.time()
            status, body = self._send(self.keys[k])
            local.append([step, k, due, send, time.time(), status, body if status == 200 else ""])
        with self.lock:
            self.rows.extend(local)

    def run(self, threads: int) -> None:
        started = threading.Barrier(threads + 1)

        def worker() -> None:
            started.wait()
            self.worker()

        pool = [threading.Thread(target=worker) for _ in range(threads)]
        for t in pool:
            t.start()
        with self.lock:  # workers wait for the schedule's start time
            started.wait()
            self.step_start = time.time() + 0.1
        for t in pool:
            t.join()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--keys", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--steps", required=True)
    args = ap.parse_args()
    with open(args.keys) as f:
        keys = json.load(f)
    gen = Generator(args.port, keys, _parse_steps(args.steps))

    def watch_stdin() -> None:
        sys.stdin.read()
        gen.stop.set()

    threading.Thread(target=watch_stdin, daemon=True).start()
    print("ready", flush=True)
    gen.run(THREADS)
    with open(args.out, "w") as f:
        json.dump({"rows": gen.rows}, f)
    print("done", flush=True)


if __name__ == "__main__":
    main()
