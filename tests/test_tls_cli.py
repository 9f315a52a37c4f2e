"""TLS + CLI parity tests, modeled on the reference's SSL e2e matrix
(/root/reference/test/test_api.py:644-747 — server TLS, client-cert
verification via CA, basic auth only over TLS) with certificates
generated at test time (the reference ships static fixtures in tls/;
generating them keeps expiry out of the picture)."""
from __future__ import annotations

import base64
import json
import os
import re
import signal
import ssl
import subprocess
import sys
import time
import urllib.error
import urllib.parse
import urllib.request

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _openssl(*args, cwd):
    subprocess.run(["openssl", *args], cwd=cwd, check=True, capture_output=True)


@pytest.fixture(scope="module")
def certs(tmp_path_factory):
    """CA + CA-signed server cert (SAN 127.0.0.1) + client cert."""
    d = tmp_path_factory.mktemp("tls")
    _openssl("req", "-x509", "-newkey", "rsa:2048", "-nodes", "-days", "2",
             "-keyout", "ca-key.pem", "-out", "ca.pem",
             "-subj", "/CN=qcache-test-ca", cwd=d)
    ext = d / "san.cnf"
    ext.write_text("subjectAltName=IP:127.0.0.1,DNS:localhost\n")
    _openssl("req", "-newkey", "rsa:2048", "-nodes",
             "-keyout", "host-key.pem", "-out", "host.csr",
             "-subj", "/CN=127.0.0.1", cwd=d)
    _openssl("x509", "-req", "-in", "host.csr", "-CA", "ca.pem",
             "-CAkey", "ca-key.pem", "-CAcreateserial", "-days", "2",
             "-extfile", "san.cnf", "-out", "host.pem", cwd=d)
    _openssl("req", "-newkey", "rsa:2048", "-nodes",
             "-keyout", "client-key.pem", "-out", "client.csr",
             "-subj", "/CN=qcache-test-client", cwd=d)
    _openssl("x509", "-req", "-in", "client.csr", "-CA", "ca.pem",
             "-CAkey", "ca-key.pem", "-CAcreateserial", "-days", "2",
             "-out", "client.pem", cwd=d)
    return d


def _client_ctx(certs, with_client_cert=False) -> ssl.SSLContext:
    ctx = ssl.create_default_context(
        purpose=ssl.Purpose.SERVER_AUTH, cafile=str(certs / "ca.pem")
    )
    if with_client_cert:
        ctx.load_cert_chain(str(certs / "client.pem"), str(certs / "client-key.pem"))
    return ctx


def _fetch(url, ctx, headers=None):
    req = urllib.request.Request(url, headers=headers or {})
    try:
        with urllib.request.urlopen(req, context=ctx, timeout=10) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _tls_server(spark, certs, **kw):
    from qcache_spark.server import make_server, serve_forever_in_thread

    srv = make_server(
        spark,
        certfile=str(certs / "host.pem"),
        keyfile=str(certs / "host-key.pem"),
        **kw,
    )
    serve_forever_in_thread(srv)
    return srv, f"https://127.0.0.1:{srv.server_address[1]}"


def test_tls_status_roundtrip(spark, certs):
    srv, base = _tls_server(spark, certs)
    try:
        code, body = _fetch(base + "/qcache/status", _client_ctx(certs))
        assert (code, body) == (200, b"OK")
    finally:
        srv.shutdown()


def test_tls_query_roundtrip(spark, certs):
    srv, base = _tls_server(spark, certs)
    ctx = _client_ctx(certs)
    try:
        req = urllib.request.Request(
            base + "/qcache/dataset/t1",
            data=b"a,b\n1,2\n3,4\n",
            method="POST",
            headers={"Content-Type": "text/csv"},
        )
        with urllib.request.urlopen(req, context=ctx, timeout=30) as resp:
            assert resp.status == 201
        q = urllib.parse.quote(json.dumps({"where": [">", "a", 1]}))
        code, body = _fetch(
            f"{base}/qcache/dataset/t1?q={q}", ctx,
            headers={"Accept": "application/json"},
        )
        assert code == 200 and json.loads(body) == [{"a": 3, "b": 4}]
    finally:
        srv.shutdown()


def test_client_cert_required(spark, certs):
    """cafile → CERT_REQUIRED: handshake succeeds only with a
    CA-signed client certificate (reference app.py:329-333,
    test_api.py TestSSLServerRequireClientCert)."""
    srv, base = _tls_server(spark, certs, cafile=str(certs / "ca.pem"))
    try:
        code, body = _fetch(
            base + "/qcache/status", _client_ctx(certs, with_client_cert=True)
        )
        assert (code, body) == (200, b"OK")
        with pytest.raises((ssl.SSLError, urllib.error.URLError, ConnectionError)):
            _fetch(base + "/qcache/status", _client_ctx(certs))
    finally:
        srv.shutdown()


def test_basic_auth_requires_tls(spark):
    """Parity with run()'s refusal (reference qcache/app.py:338-341)."""
    from qcache_spark.server import make_server

    with pytest.raises(ValueError, match="TLS"):
        make_server(spark, basic_auth="u:p")


def test_basic_auth_over_tls(spark, certs):
    srv, base = _tls_server(spark, certs, basic_auth="admin:sesame")
    ctx = _client_ctx(certs)
    try:
        code, _ = _fetch(base + "/qcache/status", ctx)
        assert code == 401
        good = {"Authorization": "Basic " + base64.b64encode(b"admin:sesame").decode()}
        code, body = _fetch(base + "/qcache/status", ctx, headers=good)
        assert (code, body) == (200, b"OK")
    finally:
        srv.shutdown()


def test_cli_refuses_plaintext_basic_auth():
    proc = subprocess.run(
        [sys.executable, "-m", "qcache_spark", "--basic-auth", "u:p"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert "TLS must be enabled" in proc.stderr


def test_cli_boots_and_serves():
    """python -m qcache_spark --port 0 prints the bound port and
    round-trips a store+query (the reference's console-script front
    door, qcache/__init__.py:30-47)."""
    proc = subprocess.Popen(
        [sys.executable, "-m", "qcache_spark", "--port", "0",
         "--host", "127.0.0.1", "--cpus", "2"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        line = proc.stdout.readline()
        m = re.search(r"Starting on port (\d+)", line)
        assert m, f"unexpected startup line: {line!r}"
        base = f"http://127.0.0.1:{m.group(1)}"
        req = urllib.request.Request(
            base + "/qcache/dataset/clitest",
            data=b"x,y\n1,10\n2,20\n",
            method="POST",
            headers={"Content-Type": "text/csv"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 201
        q = urllib.parse.quote(json.dumps({"select": [["sum", "y"]]}))
        with urllib.request.urlopen(
            urllib.request.Request(
                f"{base}/qcache/dataset/clitest?q={q}",
                headers={"Accept": "application/json"},
            ),
            timeout=60,
        ) as resp:
            assert json.loads(resp.read()) == [{"y": 30}]
    finally:
        proc.terminate()
        proc.wait(timeout=30)


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies have exited)."""
    members = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, _pgrp, session = stat[stat.rindex(")") + 2:].split()[:4]
        if int(session) == sid and state != "Z":
            members.append(int(name))
    return members


def test_cli_stopped_while_spark_boots_leaves_no_process(tmp_path):
    """SIGTERM to the server while its Spark session is still booting:
    the server and the JVM it was starting are gone within 30 s."""
    proc = subprocess.Popen(
        [sys.executable, "-m", "qcache_spark", "--port", "0",
         "--host", "127.0.0.1", "--cpus", "2"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        env=dict(os.environ, TMPDIR=str(tmp_path)), start_new_session=True,
    )
    try:
        line = proc.stdout.readline()
        m = re.search(r"Starting on port (\d+)", line)
        assert m, f"unexpected startup line: {line!r}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{m.group(1)}/qcache/dataset/early",
            data=b"x,y\n1,10\n", method="POST",
            headers={"Content-Type": "text/csv"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 201
        proc.send_signal(signal.SIGTERM)
        proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while _session_members(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        assert not _session_members(proc.pid)
    finally:
        for pid in _session_members(proc.pid):
            os.kill(pid, signal.SIGKILL)
        proc.wait(timeout=30)


def test_cli_exits_when_spark_fails_to_boot(monkeypatch, capsys):
    """A server whose Spark session cannot start does not stay up half
    working: main reports the error on stderr and returns 1."""
    import qcache_spark.session
    from qcache_spark.__main__ import main

    def no_spark(*args, **kwargs):
        raise RuntimeError("JVM would not start")

    monkeypatch.setattr(qcache_spark.session, "get_spark", no_spark)
    assert main(["--port", "0", "--host", "127.0.0.1"]) == 1
    out, err = capsys.readouterr()
    assert "Starting on port" in out
    assert "JVM would not start" in err
