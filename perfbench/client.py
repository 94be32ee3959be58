"""Dashboard load generator, run as its own process.

Reads one command per stdin line: ``<port> <seed> <threads>``. It then
requests every route of ``flink_spark.serving.ENDPOINTS`` once, in an
order shuffled by ``seed``, from ``threads`` concurrent closed-loop
clients (each sends its next request when its previous response has
arrived), and writes one JSON line with the load's timings and every
response body. The load generator never shares a Python process with
the server: under one GIL the clients would queue behind the server's
own threads and inflate every latency.
"""

from __future__ import annotations

import http.client
import json
import random
import sys
import threading
import time


def load(port: int, routes: list[str], seed: int, threads: int) -> dict:
    order = list(routes)
    random.Random(seed).shuffle(order)
    results: dict[str, dict] = {}
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                if not order:
                    return
                path = order.pop(0)
            t0 = time.monotonic()
            try:
                conn = http.client.HTTPConnection("127.0.0.1", port,
                                                  timeout=120)
                conn.request("GET", path)
                resp = conn.getresponse()
                body, status = resp.read(), resp.status
                conn.close()
            except OSError as e:
                body, status = str(e).encode(), -1
            t1 = time.monotonic()
            with lock:
                results[path] = {"status": status, "t0": t0, "t1": t1,
                                 "body": body.decode("utf-8", "replace")}

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return {
        "first_send": min(r["t0"] for r in results.values()),
        "last_recv": max(r["t1"] for r in results.values()),
        "requests": results,
    }


def main() -> None:
    routes = json.loads(sys.stdin.readline())
    for line in sys.stdin:
        port, seed, threads = (int(v) for v in line.split())
        sys.stdout.write(json.dumps(load(port, routes, seed, threads)) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
