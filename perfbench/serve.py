"""Feature HTTP server process for the benchmark.

Runs ``api.http_server.make_server`` over ``OnlineFeatureService`` and
``FileKVStore`` on an ephemeral port, prints the port on the first line of
stdout, and serves until its stdin closes. With ``--trace`` it times each
``OnlineFeatureService.get`` and ``FileKVStore.get`` call and prints their
statistics as one JSON line on shutdown.

    python3 perfbench/serve.py --kv <dir> [--trace]
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time

from mini_feature_store_spark.api.http_server import make_server
from mini_feature_store_spark.api.service import OnlineFeatureService
from mini_feature_store_spark.pipelines.online_sync import FileKVStore


class _Stats:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.service_ms: list[float] = []
        self.kv_ms: list[float] = []
        self.hits = 0
        self.gets = 0


class TimedKV(FileKVStore):
    def __init__(self, root: str, stats: _Stats):
        super().__init__(root)
        self.stats = stats

    def get(self, key: str) -> dict | None:
        t = time.perf_counter()
        v = super().get(key)
        ms = (time.perf_counter() - t) * 1e3
        with self.stats.lock:
            self.stats.kv_ms.append(ms)
            self.stats.gets += 1
            self.stats.hits += v is not None
        return v


class TimedService(OnlineFeatureService):
    def __init__(self, kv, stats: _Stats):
        super().__init__(kv)
        self.stats = stats

    def get(self, user_id: str):
        t = time.perf_counter()
        try:
            return super().get(user_id)
        finally:
            ms = (time.perf_counter() - t) * 1e3
            with self.stats.lock:
                self.stats.service_ms.append(ms)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kv", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    stats = _Stats()
    if args.trace:
        service = TimedService(TimedKV(args.kv, stats), stats)
    else:
        service = OnlineFeatureService(FileKVStore(args.kv))
    srv = make_server(online=service)
    srv.daemon_threads = True
    worker = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05})
    worker.start()
    print(srv.server_address[1], flush=True)
    sys.stdin.read()  # parent closes stdin to stop us
    srv.shutdown()
    worker.join()
    srv.server_close()
    print(
        json.dumps(
            {
                "service_ms": stats.service_ms,
                "kv_ms": stats.kv_ms,
                "hits": stats.hits,
                "gets": stats.gets,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
