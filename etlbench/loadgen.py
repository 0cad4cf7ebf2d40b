"""Closed-loop HTTP load generator for the report server.

Runs as its own process so client work never shares the server's
interpreter. Reads one JSON line on stdin::

    {"url": ..., "connections": C, "requests": [[id, {params}], ...]}

Connection ``c`` sends requests ``c, c+C, c+2C, ...`` of the list (cycling),
each only after the previous one completed, until stdin reaches EOF or
``MAX_SECONDS`` pass. Then writes one JSON object on stdout: per request
the connection, request index, send time (``time.monotonic()``, comparable across
processes on one host), latency, HTTP status, and the digest of the
returned rows or the error text.

Run: ``python3 etlbench/loadgen.py`` with the config line on stdin.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from expected import json_digest  # noqa: E402


#: clients stop on their own after this long
MAX_SECONDS = 150


#: the server is local: never route through a proxy from the environment
_OPENER = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _client(cfg: dict, c: int, stop: threading.Event, out: list) -> None:
    reqs = cfg["requests"]
    step = cfg["connections"]
    i = c
    while not stop.is_set():
        rid, params = reqs[i % len(reqs)]
        url = cfg["url"] + "?" + urllib.parse.urlencode({"report_id": rid, **params})
        sent = time.monotonic()
        try:
            with _OPENER.open(url, timeout=60) as resp:
                status, body = resp.status, resp.read()
            detail = json_digest(rid, json.loads(body)["results"])
        except urllib.error.HTTPError as e:
            status, detail = e.code, e.read().decode(errors="replace")[:500]
        except Exception as e:  # noqa: BLE001 — every failure is recorded
            status, detail = 0, f"{type(e).__name__}: {e}"[:500]
        out.append([c, i % len(reqs), sent, (time.monotonic() - sent) * 1000.0,
                    status, detail])
        i += step


def main() -> None:
    cfg = json.loads(sys.stdin.readline())
    start = time.monotonic()
    stop = threading.Event()
    results: list = []
    threads = [
        threading.Thread(target=_client, args=(cfg, c, stop, results))
        for c in range(cfg["connections"])
    ]
    for t in threads:
        t.start()
    timer = threading.Timer(MAX_SECONDS, stop.set)
    timer.daemon = True
    timer.start()
    sys.stdin.read()
    stop.set()
    timer.cancel()
    for t in threads:
        t.join()
    json.dump({"start": start, "end": time.monotonic(), "results": results},
              sys.stdout)


if __name__ == "__main__":
    main()
