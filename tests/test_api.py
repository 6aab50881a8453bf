"""HTTP facade tests: the reference's manual curl script (README.md:
119-154) as automated checks, plus the signal-shutdown choreography."""

from __future__ import annotations

import json
import math
import socket
import time
import urllib.error
import urllib.request

import pytest

from cdc_cascade_spark.api import CdcApiServer, graceful_shutdown, install_signal_handlers
from cdc_cascade_spark.serving import CdcTableService
from cdc_cascade_spark.streaming.sinks import InMemoryKVStore


@pytest.fixture()
def server(spark):
    svc = CdcTableService(spark, InMemoryKVStore())
    svc.create({"code": 14, "name": "Deren", "class": "S"})
    srv = CdcApiServer(svc, port=0).start()
    yield srv
    srv.shutdown_with_timeout()


def _req(srv, method, path, body=None, timeout=30.0):
    url = f"http://127.0.0.1:{srv.port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, json.loads(resp.read() or b"null")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_crud_roundtrip_over_http(server):
    st, row = _req(server, "POST", "/api/v1/sinners/create",
                   {"code": 5, "name": "Augustus", "class": "A"})
    assert st == 201 and row["name"] == "Augustus"

    st, row = _req(server, "GET", "/api/v1/sinners/read/5")
    assert st == 200 and row["name"] == "Augustus"

    st, row = _req(server, "PUT", "/api/v1/sinners/update/5", {"name": "Aurelius"})
    assert st == 200 and row["name"] == "Aurelius"

    st, rows = _req(server, "GET", "/api/v1/sinners/read")
    assert st == 200 and [r["code"] for r in rows] == [5, 14]

    st, row = _req(server, "DELETE", "/api/v1/sinners/delete/5")
    assert st == 200
    # writes never touch the cache: until the CDC consumer runs, the
    # cached row from the earlier GET is (correctly) still served
    st, stale = _req(server, "GET", "/api/v1/sinners/read/5")
    assert st == 200 and stale["name"] == "Augustus"
    # the consumer's invalidation cycle restores coherence (scenario 3)
    server.service.run_invalidation_cycle()
    st, _ = _req(server, "GET", "/api/v1/sinners/read/5")
    assert st == 404


def test_http_error_codes_match_reference(server):
    st, _ = _req(server, "GET", "/api/v1/sinners/read/notanint")
    assert st == 400  # strconv.Atoi analog (controllers.go:53)
    st, _ = _req(server, "GET", "/api/v1/sinners/read/999")
    assert st == 404  # controllers.go:64
    st, _ = _req(server, "POST", "/api/v1/sinners/create",
                 {"code": 14, "name": "dup", "class": "S"})
    assert st == 400  # duplicate key (controllers.go:32)
    st, _ = _req(server, "GET", "/api/v1/nope")
    assert st == 404


def test_recreate_of_a_deleted_key_still_cached_returns_201(server):
    """Create's duplicate check reads the table, not the cache
    (init.sql:4): a deleted row that stays cached until the next cycle
    does not block re-creating its key."""
    assert _req(server, "GET", "/api/v1/sinners/read/14")[0] == 200  # cached
    assert _req(server, "DELETE", "/api/v1/sinners/delete/14")[0] == 200
    st, row = _req(server, "POST", "/api/v1/sinners/create",
                   {"code": 14, "name": "Reborn", "class": "A"})
    assert st == 201 and row["name"] == "Reborn"
    server.service.run_invalidation_cycle()
    assert _req(server, "GET", "/api/v1/sinners/read/14")[1]["name"] == "Reborn"


@pytest.mark.parametrize("method,path,body", [
    ("POST", "/api/v1/sinners/create", []),
    ("POST", "/api/v1/sinners/create", {"code": None}),
    ("PUT", "/api/v1/sinners/update/14", []),
    ("PUT", "/api/v1/sinners/update/14", "s"),
])
def test_malformed_body_gets_400(server, method, path, body):
    """A body that is not a JSON object, or a null key, is a 400
    (controllers.go:27,80), not a dropped connection."""
    assert _req(server, method, path, body)[0] == 400
    assert _req(server, "GET", "/api/v1/sinners/read/14")[0] == 200


def test_unread_full_scan_does_not_block_other_requests(server):
    """Handlers hold no lock while they write: a client that asks for
    the full scan and never reads it stalls only its own connection
    once the socket buffers are full."""
    assert server._lock is server.service._lock
    name = "x" * 4096
    for code in range(100, 4100):  # a ~16 MB body, past both socket buffers
        server.service.create({"code": code, "name": name, "class": "A"})
    stalled = socket.socket()
    stalled.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 65536)
    try:
        stalled.connect(("127.0.0.1", server.port))
        stalled.sendall(b"GET /api/v1/sinners/read HTTP/1.1\r\nHost: t\r\n\r\n")
        time.sleep(1.0)  # the scan's writer fills the buffers and blocks
        assert _req(server, "GET", "/api/v1/sinners/read/100", timeout=3.0)[0] == 200
    finally:
        stalled.close()


def test_stalled_full_scan_is_dropped_after_handler_timeout(server):
    """A client that asks for the full scan and never reads is dropped
    once the handler's write stalls past its socket timeout, instead of
    pinning the handler thread until the client closes."""
    handler = server._httpd.RequestHandlerClass
    assert isinstance(handler.timeout, (int, float))
    assert 30 <= handler.timeout < math.inf
    handler.timeout = 0.5  # this server's own Handler class
    name = "x" * 4096
    for code in range(100, 4100):  # a ~16 MB body, past both socket buffers
        server.service.create({"code": code, "name": name, "class": "A"})
    stalled = socket.socket()
    stalled.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 65536)
    got, closed = 0, False
    try:
        stalled.connect(("127.0.0.1", server.port))
        stalled.sendall(b"GET /api/v1/sinners/read HTTP/1.1\r\nHost: t\r\n\r\n")
        deadline = time.monotonic() + 5.0
        time.sleep(1.5)  # the writer fills the buffers, blocks, times out
        while not closed and time.monotonic() < deadline:
            stalled.settimeout(max(deadline - time.monotonic(), 0.01))
            try:
                data = stalled.recv(65536)
            except ConnectionResetError:
                closed = True
            except TimeoutError:
                break
            else:
                closed = not data
                got += len(data)
    finally:
        stalled.close()
    assert closed, "server kept the stalled connection open"
    assert got < 4000 * 4096, "the full body arrived before the drop"


def test_client_disconnects_print_no_traceback(spark, capsys):
    """A client that resets or stalls is routine: the server drops it
    quietly, while any other handler error still prints its traceback.
    The server is never started, and no client connects."""
    srv = CdcApiServer(CdcTableService(spark, InMemoryKVStore()), port=0)
    try:
        for exc in (ConnectionResetError, BrokenPipeError, TimeoutError):
            try:
                raise exc("client went away")
            except exc:
                srv._httpd.handle_error(None, ("127.0.0.1", 0))
        assert capsys.readouterr().err == ""
        try:
            raise RuntimeError("handler bug")
        except RuntimeError:
            srv._httpd.handle_error(None, ("127.0.0.1", 0))
        err = capsys.readouterr().err
        assert "Traceback" in err and "RuntimeError: handler bug" in err
    finally:
        srv._httpd.server_close()


def test_signal_handler_runs_bounded_shutdown(spark, monkeypatch):
    import os as _os
    import signal as _signal

    import cdc_cascade_spark.api as api_mod

    svc = CdcTableService(spark, InMemoryKVStore())
    srv = CdcApiServer(svc, port=0).start()
    saved = {s: _signal.getsignal(s) for s in (_signal.SIGINT, _signal.SIGTERM)}
    try:
        _signal.signal(_signal.SIGTERM, _signal.SIG_DFL)  # the normal case
        handler = install_signal_handlers(srv, queries=())
        handler(15, None)  # SIGTERM path, invoked directly (main.go:48)
        # server no longer accepts connections
        with pytest.raises(Exception):
            _req(srv, "GET", "/api/v1/sinners/read")
        # repeated signals chain to the previous disposition. SIGTERM's
        # previous is SIG_DFL: the handler must RESTORE the default and
        # re-deliver — a hung process stays killable after graceful
        # shutdown (ADVICE r3) — rather than silently swallowing it.
        delivered = []
        monkeypatch.setattr(api_mod.os, "kill", lambda pid, s: delivered.append((pid, s)))
        handler(15, None)
        assert delivered == [(_os.getpid(), 15)]
        assert _signal.getsignal(_signal.SIGTERM) == _signal.SIG_DFL
        # ... while SIGINT's previous is Python's default → a second
        # Ctrl-C still raises KeyboardInterrupt instead of vanishing
        with pytest.raises(KeyboardInterrupt):
            handler(2, None)
    finally:
        for s, h in saved.items():
            _signal.signal(s, h)


def test_graceful_shutdown_reports_query_drain(spark, tmp_path):
    """Streaming consumers drain within the bounded wait (main.go:57-68)."""
    import json as _json

    from cdc_cascade_spark.streaming.pipeline import (
        read_cdc_files,
        start_invalidation_pipeline,
    )

    src = tmp_path / "src"
    src.mkdir()
    env = {"payload": {"before": None,
                       "after": {"code": 1, "name": "x", "class": "S",
                                 "created_at": None, "updated_at": None},
                       "source": {"db": "d", "schema": "public",
                                  "table": "sinners", "lsn": 1, "txId": 1},
                       "op": "c", "ts_ms": 1}}
    (src / "b.txt").write_text(_json.dumps(env) + "\n")
    q = start_invalidation_pipeline(
        read_cdc_files(spark, str(src)), InMemoryKVStore(), str(tmp_path / "ck")
    )
    q.processAllAvailable()
    report = graceful_shutdown(None, queries=[q])
    assert report == {"http_stopped": True, "queries_stopped": True}
    assert not q.isActive


def test_read_all_streams_without_collect(server, replayed_rows, monkeypatch):
    """GET /read must stream the scan (chunked transfer) — never a
    full-table collect on the driver (VERDICT r3) — and the body must be
    byte-identical to json.dumps of the Spark log-replay rows."""
    from pyspark.sql import DataFrame

    for code in (3, 1, 2):
        server.service.create({"code": code, "name": f"n{code}", "class": "A"})
    replayed = json.dumps(replayed_rows(server.service))

    def _no_collect(self):
        raise AssertionError("GET /read must not collect() the full table")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    url = f"http://127.0.0.1:{server.port}/api/v1/sinners/read"
    with urllib.request.urlopen(url) as resp:
        assert resp.status == 200
        assert resp.headers.get("Transfer-Encoding") == "chunked"
        body = resp.read().decode()
    rows = json.loads(body)
    assert [r["code"] for r in rows] == [1, 2, 3, 14]
    assert rows[0]["name"] == "n1"
    # exact byte shape of the old Spark-compacted response
    assert body == replayed


def test_no_route_starts_a_spark_job(server, monkeypatch):
    """Every route serves from the driver-held view and cache: with
    Spark's entry points poisoned, all still work."""
    from pyspark.sql import DataFrame, SparkSession

    def _no_spark(*_a, **_kw):
        raise AssertionError("serving started a Spark job")

    monkeypatch.setattr(SparkSession, "createDataFrame", _no_spark)
    monkeypatch.setattr(DataFrame, "collect", _no_spark)
    monkeypatch.setattr(DataFrame, "toLocalIterator", _no_spark)

    assert _req(server, "POST", "/api/v1/sinners/create",
                {"code": 5, "name": "A", "class": "S"})[0] == 201
    assert _req(server, "GET", "/api/v1/sinners/read/14")[0] == 200
    assert _req(server, "PUT", "/api/v1/sinners/update/14", {"name": "B"})[0] == 200
    assert _req(server, "DELETE", "/api/v1/sinners/delete/5")[0] == 200
    st, rows = _req(server, "GET", "/api/v1/sinners/read")
    assert st == 200 and [(r["code"], r["name"]) for r in rows] == [(14, "B")]


def test_quarantine_reader_tolerates_missing_dir(spark, tmp_path):
    """Clean pipelines never create the quarantine dir; read_quarantine
    must return an empty typed frame, not raise (ADVICE r3)."""
    from cdc_cascade_spark.streaming.pipeline import read_quarantine

    df = read_quarantine(spark, str(tmp_path / "never_written"))
    assert df.count() == 0
    assert set(df.columns) == {"raw_value", "batch_id"}
