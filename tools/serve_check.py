#!/usr/bin/env python3
"""Time kept-alive requests against the deployed serving path.

Usage: python3 tools/serve_check.py <layersParquet> [calls]

Boots `dist/bin/graft-serve` (build it with tools/mkdist.sh) over a layers
parquet on two free ports, with no extra JVM flags, then sends `calls`
(default 20) sequential POSTs of each request body to /search and then to
/mcp, each endpoint and body on one kept-alive connection (the shape of a
Python `http.client` user), after 5 warm-up calls each. The bodies are a
plain text query, the same with a point, and with a type filter and a
point, so the point variants (a spatial predicate per row) are timed apart.
Prints one JSON line with the median and maximum reply time per endpoint
and body, and stops the server before it exits, whatever happens. A median
near 40 ms on a small corpus means replies are waiting for the client's
delayed ACK (the server's sockets lack TCP_NODELAY).
"""
import http.client
import json
import os
import socket
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEARCH = {"request_string": "flood zones", "limit": 5}
POINT = {"longitude": 10.5, "latitude": 20.25}
BODIES = {"text": SEARCH,
          "point": dict(SEARCH, input_point=POINT),
          "type+point": dict(SEARCH, type_filter=["en"], input_point=POINT)}


def tool(arguments):
    return {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
            "params": {"name": "gis_layer_search", "arguments": arguments}}


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def post(conn, path, body):
    conn.request("POST", path, body=json.dumps(body).encode(),
                 headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    raw = resp.read()
    if resp.status != 200:
        raise RuntimeError(f"{path}: HTTP {resp.status}: {raw[:200]!r}")
    return raw


def wait_ready(port, server, deadline_s=180):
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        if server.poll() is not None:
            raise RuntimeError(f"graft-serve exited with {server.returncode}")
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            post(conn, "/search", SEARCH)
            conn.close()
            return
        except OSError:
            time.sleep(0.5)
    raise RuntimeError("graft-serve did not answer in time")


def timed(port, path, body, calls):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        for _ in range(5):
            post(conn, path, body)
        ms = []
        for _ in range(calls):
            t0 = time.perf_counter()
            post(conn, path, body)
            ms.append((time.perf_counter() - t0) * 1000.0)
        return ms
    finally:
        conn.close()


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    layers, calls = sys.argv[1], int(sys.argv[2]) if len(sys.argv) == 3 else 20
    ports = {"/search": free_port(), "/mcp": free_port()}
    server = subprocess.Popen(
        [os.path.join(ROOT, "dist", "bin", "graft-serve"), layers,
         str(ports["/search"]), str(ports["/mcp"])],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL)
    try:
        wait_ready(ports["/search"], server)
        out = {}
        for path, wrap in (("/search", dict), ("/mcp", tool)):
            out[path] = {}
            for name, body in BODIES.items():
                ms = timed(ports[path], path, wrap(body), calls)
                out[path][name] = {"median_ms": round(statistics.median(ms), 2),
                                   "max_ms": round(max(ms), 2), "calls": calls}
        print(json.dumps(out))
    finally:
        server.terminate()
        try:
            server.wait(timeout=30)
        except subprocess.TimeoutExpired:
            server.kill()
            server.wait()


if __name__ == "__main__":
    main()
