"""Open-loop HTTP load generator: one process, a bounded set of connections.

Requests are released on a precomputed arrival schedule (Poisson gaps) no
matter how fast the server answers, so a slow server builds a queue instead
of receiving less load. Each request is timed from the moment it was due, so
the wait a stall imposes on later requests is counted. ``lag`` is how late a
request actually left the generator (loop wake-up plus waiting for one of
the ``conns`` connections); a lag that keeps growing through a phase
means the offered rate is above what the server sustains.
"""

from __future__ import annotations

import collections
import http.client
import json
import selectors
import socket
import statistics
import time
from urllib.parse import urlencode


def request_path(req: dict) -> str:
    """The /search URL for one generated request."""
    params = {"q": req["q"], "k": req["k"], "mode": req.get("mode", "or")}
    for key in ("highlight", "fuzzy", "prefix", "from"):
        if req.get(key):
            params[key] = req[key]
    return "/search?" + urlencode(params)


def http_get(port: int, path: str, timeout: float = 30.0):
    """(status, parsed JSON body or None) for one GET on a fresh connection."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            return resp.status, None
        return 200, json.loads(body)
    finally:
        conn.close()


def open_loop(port: int, conns: int, requests: list[dict], due: list[float],
              timeout: float = 30.0) -> dict:
    """Run one phase: ``requests[i]`` is due at ``t0 + due[i]`` seconds, sent
    over at most ``conns`` connections at a time. A response is ok when it is
    a 200 with a JSON body; the caller compares the bodies afterwards.

    One thread does the dispatching and all socket I/O (non-blocking, one
    HTTP/1.0 connection per request, as the server closes it), so no time
    goes to handing the GIL between client threads; a body is parsed only
    after the phase."""
    n = len(requests)
    lat = [float("inf")] * n
    lag = [0.0] * n
    raw: list = [None] * n
    payload = [f"GET {request_path(r)} HTTP/1.0\r\nHost: 127.0.0.1\r\n\r\n".encode()
               for r in requests]
    sel = selectors.DefaultSelector()
    waiting: collections.deque = collections.deque()
    sent_at: dict[int, float] = {}
    t0 = time.perf_counter() + 0.05
    nxt = finished = 0

    def close(sock: socket.socket, i: int, data) -> None:
        nonlocal finished
        sel.unregister(sock)
        sock.close()
        del sent_at[i]
        if data is not None:
            lat[i] = time.perf_counter() - (t0 + due[i])
            raw[i] = bytes(data)
        finished += 1

    while finished < n:
        now = time.perf_counter()
        while nxt < n and t0 + due[nxt] <= now:
            waiting.append(nxt)
            nxt += 1
        while waiting and len(sent_at) < conns:
            i = waiting.popleft()
            sent_at[i] = time.perf_counter()
            lag[i] = sent_at[i] - (t0 + due[i])
            sock = socket.socket()
            try:
                sock.connect(("127.0.0.1", port))
                sock.sendall(payload[i])
            except OSError:
                sock.close()
                del sent_at[i]
                finished += 1
                continue
            sock.setblocking(False)
            sel.register(sock, selectors.EVENT_READ, (i, bytearray()))
        wake = t0 + due[nxt] if nxt < n else now + 0.5
        for key, _ in sel.select(max(0.0, min(wake - time.perf_counter(), 0.5))):
            i, data = key.data
            try:
                chunk = key.fileobj.recv(1 << 16)
            except OSError:
                close(key.fileobj, i, None)
                continue
            if chunk:
                data += chunk
            else:
                close(key.fileobj, i, data)
        now = time.perf_counter()
        for key in list(sel.get_map().values()):
            if now - sent_at[key.data[0]] > timeout:
                close(key.fileobj, key.data[0], None)
    t_end = time.perf_counter()
    sel.close()
    ok, bodies = [False] * n, [None] * n
    for i, data in enumerate(raw):
        head, _, body = (data or b"").partition(b"\r\n\r\n")
        if head.split(b" ", 2)[1:2] == [b"200"]:
            try:
                bodies[i], ok[i] = json.loads(body), True
            except ValueError:
                pass
    return {"latency_s": lat, "lag_s": lag, "ok": ok, "bodies": bodies,
            "due_s": list(due), "t0": t0, "t_end": t_end, "wall_s": t_end - t0}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def phase_stats(res: dict, pct: float, windows: int) -> dict:
    """Latency median and ``pct`` percentile, failures counted as infinitely
    late, each the median over ``windows`` equal slices of the schedule (one
    burst moves one slice, not the phase); plus how late dispatch ran."""
    lat = [x if good else float("inf") for x, good in zip(res["latency_s"], res["ok"])]
    span = res["due_s"][-1] + 1e-9
    slices: list[list[float]] = [[] for _ in range(windows)]
    for x, d in zip(lat, res["due_s"]):
        slices[min(windows - 1, int(windows * d / span))].append(x)
    slices = [sl for sl in slices if sl]
    return {
        "n": len(lat),
        "failed": res["ok"].count(False),
        "p50_s": statistics.median(percentile(sl, 50) for sl in slices),
        "tail_s": statistics.median(percentile(sl, pct) for sl in slices),
        "lag_p99_s": percentile(res["lag_s"], 99),
        "achieved_qps": len(lat) / res["wall_s"],
    }
