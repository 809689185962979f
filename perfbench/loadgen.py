"""HTTP load generator: one process, at most ``threads`` threads, one
connection per thread at a time.

    python3 perfbench/loadgen.py SPEC.json OUT.json

SPEC holds ``start_epoch``, ``threads``, ``mode`` and ``ops``. In ``open``
mode every op has a ``due`` offset from ``start_epoch`` and is sent then,
whatever happened to earlier ops (a late send is recorded, not skipped).
In ``closed`` mode the ops form ``groups`` that one client sends back to
back; no new group starts after ``deadline``. Each response is checked
here (see ``_check``) and OUT gets one record per op sent.
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402

TIMEOUT_S = 60.0


def _check(op: dict, status: int, body: bytes) -> str | None:
    """None when the response is right, else why not."""
    if not 200 <= status < 300:
        return f"HTTP {status}: {body[:200]!r}"
    doc = json.loads(body)
    if "expect_triples" in op:
        got = doc.get("tripleCount")
        return None if got == op["expect_triples"] else f"tripleCount {got}"
    if "expect_count" in op:
        got = oracle.count_answer(doc)
        return None if got == op["expect_count"] else f"count {got}"
    canon = oracle.canonical(op["kind"], doc)  # raises on a wrong shape
    if op.get("expect") is not None and oracle.digest(canon) != op["expect"]:
        return "answer differs from the oracle"
    return None


def _send(op: dict, rec: dict) -> None:
    conn = http.client.HTTPConnection("127.0.0.1", op["port"], timeout=TIMEOUT_S)
    body = op.get("body")
    headers = {"X-Bench-Id": op["id"]}
    if body is not None:
        headers["Content-Type"] = "application/sparql-query"
    try:
        rec["sent"] = time.time()
        conn.request(op.get("method", "POST"), op["path"],
                     body=None if body is None else body.encode(), headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        rec["done"] = time.time()
        rec["err"] = _check(op, resp.status, data)
    except Exception as e:  # a failed op is a result, not a crash
        rec["done"] = time.time()
        rec["err"] = repr(e)
    finally:
        conn.close()


def run_open(spec: dict) -> list[dict]:
    start = spec["start_epoch"]
    ops = sorted(spec["ops"], key=lambda o: o["due"])
    out: list[dict] = []
    lock = threading.Lock()
    nxt = [0]

    def worker() -> None:
        while True:
            with lock:
                if nxt[0] >= len(ops):
                    return
                op = ops[nxt[0]]
                nxt[0] += 1
            due = start + op["due"]
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            rec = {"id": op["id"], "kind": op.get("kind"), "due": due}
            _send(op, rec)
            with lock:
                out.append(rec)

    threads = [threading.Thread(target=worker) for _ in range(spec["threads"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def run_closed(spec: dict) -> list[dict]:
    start = spec["start_epoch"]
    wait = start - time.time()
    if wait > 0:
        time.sleep(wait)
    out = []
    for gi, group in enumerate(spec["groups"]):
        if time.time() - start >= spec["deadline"]:
            break
        for op in group:
            rec = {"id": op["id"], "kind": op.get("kind"), "group": gi}
            rec["due"] = time.time()  # closed loop: due when issued
            _send(op, rec)
            out.append(rec)
    return out


def main() -> None:
    spec_path, out_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as f:
        spec = json.load(f)
    recs = run_open(spec) if spec["mode"] == "open" else run_closed(spec)
    with open(out_path, "w") as f:
        json.dump(recs, f)


if __name__ == "__main__":
    main()
