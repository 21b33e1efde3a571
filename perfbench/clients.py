"""Closed-loop HTTP load generator for the REST workloads.

Runs as its own process (``python3 clients.py <seed>``),
separate from the gateway under test, with one thread per client
connection.  Each client sends its next request only after the
previous reply arrived.  The process regenerates the channel's data
from the seed and checks every reply against the answer computed from
it; it never imports Spark or the program under test.

Protocol with the parent, one JSON object per line on stdin/stdout:
the generator writes ``{"ready": true}`` once its expected answers are
built; each line the parent writes is one phase's parameters, answered
by ``{"samples": [...], "wall": s}``; ``{"stop": true}`` or end of input
ends the process.  A ``read`` phase is ``cycles`` whole route cycles
per client; a ``write``
phase is one episode of ``iterations`` send/read iterations per client,
the clients sending each request of an iteration together.
"""

from __future__ import annotations

import datetime
import http.client
import itertools
import json
import sys
import threading
import time
import urllib.parse
from typing import Dict, List, Optional

import gen

CLIENTS = 2
API = "/api/v1"


#: one request: rid, route, t0, t1 (perf_counter), ok, err
Sample = dict


def request(port: int, method: str, path: str, rid: str, body=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"X-Request-Id": rid}
        if data is not None:
            headers["Content-Type"] = "application/json"
        conn.request(method, API + path, body=data, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, raw
    finally:
        conn.close()


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


# --- rest_read ------------------------------------------------------------
def _read_call(req: dict):
    r = req["route"]
    ch = gen.CHANNEL
    if r == "state_key":
        return "GET", f"/state/{ch}/{req['key']}", None
    if r == "lookup":
        return "GET", f"/lookup/{ch}/{req['id']}", None
    if r == "last":
        return "GET", f"/last/{ch}", None
    if r == "query":
        q = json.dumps(
            [
                {"attr": "event_type", "op": "==", "value": req["event_type"]},
                {"attr": "value", "op": ">", "value": req["min_value"]},
            ]
        )
        return "GET", f"/state/{ch}?limit={gen.QUERY_LIMIT}&query={urllib.parse.quote(q)}", None
    if r == "view":
        cfg = {"group_by": ["event_type"], "aggregates": {"value": req["agg"], gen.KEY: "count"}}
        return "POST", f"/perspective/view/{ch}", cfg
    raise ValueError(r)


def _read_check(req: dict, body, exp: gen.Expected) -> Optional[str]:
    """None when ``body`` is the right answer, else what was wrong."""
    r = req["route"]
    if r == "state_key":
        want = exp.by_key[req["key"]]
        ok = len(body) == 1 and body[0]["id"] == want["id"] and _close(body[0]["value"], want["value"])
    elif r == "lookup":
        want = exp.by_id[req["id"]]
        ok = (
            len(body) == 1
            and body[0][gen.KEY] == want[gen.KEY]
            and _close(body[0]["value"], want["value"])
        )
    elif r == "last":
        ok = len(body) == 1 and body[0]["id"] == exp.last["id"]
    elif r == "query":
        ok = [row["id"] for row in body] == exp.query(req["event_type"], req["min_value"], gen.QUERY_LIMIT)
    elif r == "view":
        want = exp.view(req["agg"])
        got = {
            row["event_type"]: (row[f"{req['agg']}_value"], row[f"count_{gen.KEY}"]) for row in body
        }
        ok = set(got) == set(want) and all(
            _close(got[t][0], want[t][0]) and got[t][1] == want[t][1] for t in want
        )
    else:
        ok = False
    return None if ok else f"{r}: unexpected reply"


def _call(port: int, method: str, path: str, rid: str, body, check):
    """Send one request and check its reply; ``check(reply)`` returns
    None when the reply is right, else what was wrong."""
    t0 = time.perf_counter()
    reply = None
    try:
        status, raw = request(port, method, path, rid, body)
        t1 = time.perf_counter()
        reply = json.loads(raw) if status == 200 else None
        err = f"HTTP {status}" if reply is None else check(reply)
    except (OSError, ValueError, KeyError, TypeError, IndexError) as e:
        t1 = time.perf_counter()
        err = f"{type(e).__name__}: {e}"
    return Sample(rid=rid, t0=t0, t1=t1, ok=err is None, err=err), reply


def read_client(port, spec, client, exp, ids, cycles, phase, out: List[Sample]):
    """Send ``cycles`` whole route cycles of planned reads."""
    plan = gen.read_plan(spec, client + 2 * phase, exp, ids)
    for i, req in enumerate(itertools.islice(plan, cycles * len(gen.READ_CYCLE))):
        method, path, body = _read_call(req)
        sample, _ = _call(port, method, path, f"p{phase}c{client}r{i}", body,
                          lambda reply: _read_check(req, reply, exp))
        out.append({**sample, "route": req["route"]})


# --- rest_write -----------------------------------------------------------
def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def write_client(port, seed, client, exp, iterations, phase, out: List[Sample], barrier=None):
    """One episode: a baseline read of one key, then ``iterations``
    times: POST /send of a small batch, GET /state of a key it just
    wrote (read-your-writes), GET /last (a sent row no older than this
    client's send).

    With a ``barrier`` the clients send each request of an iteration
    together, still each waiting for its own reply.  Two overlapping
    requests each take about twice as long as one alone; left to drift,
    how far the clients' requests overlapped changed from run to run,
    and the episode's mean latency with it."""

    def together():
        if barrier is not None:
            try:
                barrier.wait()
            except threading.BrokenBarrierError:  # the other client stopped early
                pass

    ch = gen.CHANNEL
    keys = gen.write_keys(seed, client, exp)
    base_id = exp.by_key[keys[0]]["id"]
    sample, _ = _call(
        port, "GET", f"/state/{ch}/{keys[0]}", f"p{phase}c{client}base", None,
        lambda b: None if len(b) == 1 and b[0]["id"] == base_id else "baseline state: wrong row",
    )
    out.append({**sample, "route": "state_key"})
    for it in range(iterations):
        together()
        batch = keys[(it * gen.SEND_BATCH) % len(keys):][: gen.SEND_BATCH]
        rows = gen.send_rows(seed, client, it + 10_000 * phase, batch)
        rid = f"p{phase}c{client}i{it}"
        sent, echoed = _call(
            port, "POST", f"/send/{ch}", rid + "send", rows,
            lambda b: None if [e[gen.KEY] for e in b] == batch else "send: echo mismatch",
        )
        out.append({**sent, "route": "send"})
        if not sent["ok"]:
            together()  # keep in step with the other client
            together()
            continue
        mine = echoed[0]
        together()
        sample, _ = _call(
            port, "GET", f"/state/{ch}/{batch[0]}", rid + "state", None,
            lambda b: None
            if len(b) == 1 and b[0]["id"] == mine["id"] and _close(b[0]["value"], rows[0]["value"])
            else "read-your-writes: stale or wrong row",
        )
        visible = (sample["t1"] - sent["t0"]) * 1e3 if sample["ok"] else None
        out.append({**sample, "route": "state_key", "visible_ms": visible})
        together()
        sample, _ = _call(
            port, "GET", f"/last/{ch}", rid + "last", None,
            lambda b: None
            if len(b) == 1 and b[0]["value"] >= gen.SENT_VALUE_BASE and _ts(b[0]["timestamp"]) >= _ts(mine["timestamp"])
            else "last: older than this client's send",
        )
        out.append({**sample, "route": "last"})


def generator_main(seed: int, rx, tx) -> None:
    """Serve phases read from ``rx`` until told to stop."""
    spec = gen.event_spec(seed)
    df = gen.events(spec)
    exp = gen.Expected.build(df)
    ids = list(df["id"])
    del df

    def send(obj) -> None:
        tx.write(json.dumps(obj) + "\n")
        tx.flush()

    send({"ready": True})
    for phase, line in enumerate(rx):
        params: Dict = json.loads(line)
        if params.get("stop"):
            return
        per_client: List[List[Sample]] = [[] for _ in range(CLIENTS)]
        barrier = threading.Barrier(CLIENTS, timeout=150)
        threads = []
        for c in range(CLIENTS):
            if params["kind"] == "read":
                args = (params["port"], spec, c, exp, ids, params["cycles"], phase, per_client[c])
                target = read_client
            else:
                args = (params["port"], seed, c, exp, params["iterations"], phase, per_client[c], barrier)
                target = write_client
            threads.append(threading.Thread(target=target, args=args, daemon=True))
        t_start = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t_start
        send({"samples": [x for lst in per_client for x in lst], "wall": wall})


if __name__ == "__main__":
    generator_main(int(sys.argv[1]), sys.stdin, sys.stdout)
