"""Load generator for the InfluxDB gateway, in its own process (stdlib only).

    python3 client.py <plan.json> <out.json>

The plan names the port, the closed-loop readers' statement deck and,
optionally, an open-loop writer's batches and period. Readers share one
deck: each sends its next statement only after the previous answer came
back, the way a Grafana panel waits. The writer POSTs batch k when it is
due, at start + k * period, whether or not the gateway has kept up; a
write is timed from when it was due.

At the end of the window the answers received so far go to out.json with
their bodies; reads still in flight are abandoned, writes in flight are
waited for, since their ack decides what the table must hold. With
``once`` the readers send the deck once and the run waits for all of it.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time
import urllib.parse


def query_path(q: str) -> str:
    return "/query?" + urllib.parse.urlencode({"q": q, "epoch": "ms"})


def request(port: int, method: str, path: str, body: bytes | None = None):
    """(status, body); status 0 when the connection failed."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request(method, path, body=body)
        resp = conn.getresponse()
        return resp.status, resp.read()
    except OSError as e:
        return 0, str(e).encode()
    finally:
        conn.close()


def main() -> int:
    with open(sys.argv[1]) as f:
        plan = json.load(f)
    port = plan["port"]
    deck = plan["deck"]
    once = plan.get("once", False)
    t_begin = time.monotonic()
    t_stop = t_begin + plan["seconds"]
    lock = threading.Lock()
    next_i = [0]
    reads: list[dict] = []
    writes: list[dict] = []

    def reader() -> None:
        while time.monotonic() < t_stop:
            with lock:
                i = next_i[0]
                if once and i >= len(deck):
                    return
                next_i[0] += 1
            stmt = deck[i % len(deck)]
            t0 = time.monotonic()
            status, body = request(port, "GET", query_path(stmt["q"]))
            t1 = time.monotonic()
            with lock:
                reads.append(
                    {"i": i, "sid": stmt["sid"], "kind": stmt["kind"], "start": t0,
                     "end": t1, "status": status, "body": body.decode(errors="replace")}
                )

    def writer() -> None:
        w = plan["writer"]
        for k, body in enumerate(w["bodies"]):
            due = t_begin + k * w["period_s"]
            if due >= t_stop:
                return
            time.sleep(max(0.0, due - time.monotonic()))
            t0 = time.monotonic()
            status, resp = request(port, "POST", "/write?precision=s", body.encode())
            t1 = time.monotonic()
            writes.append(
                {"k": k, "due": due, "start": t0, "end": t1, "status": status,
                 "body": resp.decode(errors="replace")[:2000]}
            )

    readers = [threading.Thread(target=reader, daemon=True) for _ in range(plan["readers"])]
    for t in readers:
        t.start()
    if plan.get("writer"):
        w = threading.Thread(target=writer)
        w.start()
        w.join()
    if once:
        for t in readers:
            t.join()
    else:
        time.sleep(max(0.0, t_stop - time.monotonic()))
    with lock:
        done = [r for r in reads if once or r["end"] <= t_stop]
    with open(sys.argv[2], "w") as f:
        json.dump({"t_begin": t_begin, "t_stop": t_stop, "reads": done, "writes": writes}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
