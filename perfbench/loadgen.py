"""Load generator, run as its own process apart from the system under test.

Two modes, each driven by a JSON spec on the command line:

- ``backlog``: writes a Zipf-keyed backlog of Debezium-envelope files
  and the latest-wins model of the table they describe. Each file is
  written to a temporary path and renamed in, so the file source never
  lists a half-written file.
- ``api``: a closed-loop HTTP client on one thread and one persistent
  HTTP/1.1 connection.

Every mode writes a JSON report (CPU time, per-request records) to the path in the spec. Times are ``time.monotonic()``
readings, comparable across processes on the same machine.

Usage: python3 loadgen.py <mode> '<json spec>'
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import os
import random
import sys
import time

_TS = "2024-01-01T00:00:00"


def row(code: int, name: str, libram: str) -> dict:
    return {"code": code, "name": name, "class": "Lust", "libram": libram,
            "tendency": "chaotic", "created_at": _TS, "updated_at": _TS}


def envelope(op: str, lsn: int, before: dict | None, after: dict | None) -> str:
    return json.dumps({"payload": {
        "before": before, "after": after,
        "source": {"db": "bench", "schema": "public", "table": "sinners", "lsn": lsn},
        "op": op, "ts_ms": lsn}}, separators=(",", ":"))


def _write_atomic(src_dir: str, tmp_dir: str, name: str, text: str, mtime: float) -> None:
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as f:
        f.write(text)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(src_dir, name))


# Key skew of both workloads: the Zipfian constant of the YCSB core
# workloads (Cooper et al., "Benchmarking Cloud Serving Systems with
# YCSB", SoCC 2010).
ZIPF_S = 0.99


def zipf_sampler(rng: random.Random, n: int, s: float = ZIPF_S):
    """Bounded Zipf over ranks 0..n-1 (rank 0 most frequent)."""
    cdf = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))
    total = cdf[-1]
    return lambda: min(n - 1, bisect.bisect_left(cdf, rng.random() * total))


def backlog_events(seed: int, n_events: int, n_keys: int):
    """Zipf-keyed c/u/d changelog: yields (envelope line, key, after image).

    A key's first event is a create; later ones are updates, or a delete
    one time in ten, after which the key's next event creates it again.
    """
    rng = random.Random(seed)
    draw = zipf_sampler(rng, n_keys)
    state: dict[int, dict] = {}
    for lsn in range(1, n_events + 1):
        code = draw()
        before = state.get(code)
        if before is None:
            after = row(code, f"n{code}", f"v{lsn}")
            yield envelope("c", lsn, None, after), code, after
        elif rng.random() < 0.1:
            yield envelope("d", lsn, before, None), code, None
            after = None
        else:
            after = dict(before, libram=f"v{lsn}")
            yield envelope("u", lsn, before, after), code, after
        if after is None:
            state.pop(code, None)
        else:
            state[code] = after


def run_backlog(spec: dict) -> dict:
    per_file = spec["events_per_file"]
    model: dict[str, dict | None] = {}
    buf: list[str] = []
    n_file = 0
    base_mtime = time.time() - 3600
    for line, code, after in backlog_events(spec["seed"], spec["n_events"], spec["n_keys"]):
        buf.append(line)
        model[str(code)] = after
        if len(buf) == per_file:
            # Strictly increasing mtimes: the file source orders by them,
            # and latest-wins across batches relies on file order.
            _write_atomic(spec["src_dir"], spec["tmp_dir"], f"b{n_file:06d}.json",
                          "\n".join(buf) + "\n", base_mtime + n_file)
            buf, n_file = [], n_file + 1
    if buf:
        _write_atomic(spec["src_dir"], spec["tmp_dir"], f"b{n_file:06d}.json",
                      "\n".join(buf) + "\n", base_mtime + n_file)
        n_file += 1
    with open(spec["model_path"], "w") as f:
        json.dump({k: v for k, v in model.items() if v is not None}, f)
    return {"files": n_file}


# --- closed-loop API client ------------------------------------------------

# YCSB workload A ("update heavy": 50% reads, 50% updates, Zipfian keys),
# with a tenth of each taken for creates and deletes so those endpoints
# are timed too. Updates at this share are what give the invalidation
# lag enough samples for a tail in one run.
API_MIX = (("read", 0.45), ("update", 0.45), ("create", 0.05), ("delete", 0.05))
_PREFIX = "/api/v1/sinners"


def _request(conn, method: str, path: str, body: dict | None):
    payload = json.dumps(body).encode() if body is not None else None
    headers = {"Content-Type": "application/json"} if payload else {}
    conn.request(method, path, body=payload, headers=headers)
    resp = conn.getresponse()
    return resp.status, resp.read()


def run_api(spec: dict) -> dict:
    """Warm up with reads for ``warm_s``, touch ``marker_path``, then run
    the timed mix for ``seconds``. Only timed requests are recorded."""
    rng = random.Random(spec["seed"])
    n_keys = spec["n_keys"]
    draw = zipf_sampler(rng, n_keys)
    # The client's model of the table: key -> libram of the last acked
    # write, None once deleted.
    model: dict[int, str | None] = {k: "init" for k in range(n_keys)}
    next_create = n_keys
    # Deletes take the oldest key the client created, never a Zipf-drawn
    # one: the drawn keys all stay live, so the mix stays as drawn.
    created: list[int] = []
    # One connection: with two used in turn, responses alternate between
    # ~1 ms and ~43 ms (the delayed-ACK stall hits every other one), and
    # a median taken over a 50/50 mixture jumps between the two modes.
    conn = http.client.HTTPConnection("127.0.0.1", spec["port"])
    ops, weights = zip(*API_MIX)
    records, n = [], 0
    try:
        warm_rng = random.Random(spec["seed"] + 1)
        deadline = time.monotonic() + spec["warm_s"]
        while time.monotonic() < deadline:
            _request(conn, "GET", f"{_PREFIX}/read/{warm_rng.randrange(n_keys)}", None)
            n += 1
        open(spec["marker_path"], "w").close()
        deadline = time.monotonic() + spec["seconds"]
        while time.monotonic() < deadline:
            op = rng.choices(ops, weights)[0]
            key = draw()
            if op == "delete":
                if created:
                    key = created.pop(0)
                else:
                    op = "create"
            body = None
            if op == "create":
                key, next_create = next_create, next_create + 1
                created.append(key)
                method, path, body, expect = "POST", f"{_PREFIX}/create", row(key, f"n{key}", "init"), 201
            elif op == "read":
                method, path, expect = "GET", f"{_PREFIX}/read/{key}", 200
            elif op == "update":
                method, path, body, expect = "PUT", f"{_PREFIX}/update/{key}", {"libram": f"u{n}"}, 200
            else:
                method, path, expect = "DELETE", f"{_PREFIX}/delete/{key}", 200
            t0 = time.monotonic()
            status, data = _request(conn, method, path, body)
            t1 = time.monotonic()
            ok = status == expect
            if ok:
                got = json.loads(data)
                ok = got.get("code") == key and (op != "update" or got.get("libram") == body["libram"])
                if op in ("create", "update"):
                    model[key] = body["libram"]
                elif op == "delete":
                    model[key] = None
            records.append((op, key, t0, t1, status, ok))
            n += 1
    finally:
        conn.close()
    return {"records": records, "model": model}


def main(argv: list[str]) -> int:
    mode, spec = argv[1], json.loads(argv[2])
    run = {"backlog": run_backlog, "api": run_api}[mode]
    out = run(spec)
    out["cpu_s"] = time.process_time()
    with open(spec["report_path"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
