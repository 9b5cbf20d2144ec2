"""Closed-loop HTTP load: a fixed number of clients, each sending its next
request only after the previous reply arrives. Requests are taken in
sequence order from one shared counter, so the same seed always issues
the same sequence."""
import http.client
import json
import threading
import time


def mcp_envelope(rpc_id, args):
    return {"jsonrpc": "2.0", "id": rpc_id, "method": "tools/call",
            "params": {"name": "gis_layer_search", "arguments": args}}


def payload(index, endpoint, body):
    if endpoint == "search":
        return "/search", json.dumps(body).encode()
    return "/mcp", json.dumps(mcp_envelope(index, body)).encode()


class Call:
    __slots__ = ("index", "endpoint", "start", "end", "status", "reply", "error")

    def __init__(self, index, endpoint):
        self.index, self.endpoint = index, endpoint
        self.start = self.end = 0.0
        self.status, self.reply, self.error = 0, None, None

    @property
    def ms(self):
        return (self.end - self.start) * 1000.0


def send(conns, ports, index, endpoint, body, timeout_s):
    """One POST on the endpoint's kept-alive connection in `conns`."""
    call = Call(index, endpoint)
    path, data = payload(index, endpoint, body)
    call.start = time.perf_counter()
    try:
        conn = conns.get(endpoint)
        if conn is None:
            conn = conns[endpoint] = http.client.HTTPConnection(
                "127.0.0.1", ports[endpoint], timeout=timeout_s)
        conn.request("POST", path, body=data,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        raw = resp.read()
        call.end = time.perf_counter()
        call.status = resp.status
        call.reply = json.loads(raw) if raw else None
    except Exception as e:  # counted as a failed call
        call.end = time.perf_counter()
        call.error = f"{type(e).__name__}: {e}"
        old = conns.pop(endpoint, None)
        if old is not None:
            old.close()
    return call


class Load:
    """Drive `requests` ((endpoint, body) pairs, cycled) against the two
    ports from `clients` threads."""

    def __init__(self, ports, requests, clients, timeout_s=60.0):
        self.ports, self.requests = ports, requests
        self.clients, self.timeout_s = clients, timeout_s
        self.next_index = 0
        self.lock = threading.Lock()
        self.calls = []

    def take(self, last):
        with self.lock:
            i = self.next_index
            if i > last:
                return None
            self.next_index += 1
            return i

    def worker(self, stop_at, last):
        conns = {}
        while time.perf_counter() < stop_at:
            i = self.take(last)
            if i is None:
                break
            endpoint, body = self.requests[i % len(self.requests)]
            call = send(conns, self.ports, i, endpoint, body, self.timeout_s)
            with self.lock:
                self.calls.append(call)
        for conn in conns.values():
            conn.close()

    def run(self, seconds=float("inf"), calls=None):
        """Send until `seconds` have passed or `calls` requests were sent."""
        stop_at = time.perf_counter() + seconds
        last = self.next_index + calls - 1 if calls else float("inf")
        threads = [threading.Thread(target=self.worker, args=(stop_at, last))
                   for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        calls, self.calls = sorted(self.calls, key=lambda c: c.index), []
        return calls
