"""Distributed HTTP fetch stage (sources/fetch) against a REAL local
HTTP server: success payloads + checksums, 404s and timeouts as error
rows (never task failures), retry-until-success on flaky endpoints,
and the payload size cap. The server binds 127.0.0.1 on an ephemeral
port — reachable from Spark's local-mode Python workers."""

from __future__ import annotations

import hashlib
import http.server
import threading

import numpy as np
import pytest

from data_pipeline_spark.sources.fetch import DEFAULT_MAX_BYTES, fetch_urls

_MEDIA: dict[str, bytes] = {}

_FLAKY_HITS: dict[str, int] = {}


class _Handler(http.server.BaseHTTPRequestHandler):
    def log_message(self, *args):  # keep pytest output clean
        pass

    def do_GET(self):
        if self.path.startswith("/ok/"):
            body = f"payload-for-{self.path[4:]}".encode() * 3
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/big":
            body = b"x" * 10_000
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/huge":
            body = b"x" * (DEFAULT_MAX_BYTES + 1)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path.startswith("/media/"):
            body = _MEDIA[self.path[7:]]
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path.startswith("/flaky/"):
            n = _FLAKY_HITS.get(self.path, 0) + 1
            _FLAKY_HITS[self.path] = n
            if n < 2:  # first attempt: refuse mid-request
                self.send_response(500)
                self.end_headers()
            else:
                self.send_response(200)
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"ok")
        else:
            self.send_response(404)
            self.end_headers()


@pytest.fixture(scope="module")
def server():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_fetch_success_and_error_rows(spark, server):
    urls = [
        (f"{server}/ok/a",),
        (f"{server}/ok/b",),
        (f"{server}/missing",),
    ]
    df = spark.createDataFrame(urls, "url string")
    out = {r["url"]: r for r in fetch_urls(df, retries=0).collect()}
    a = out[f"{server}/ok/a"]
    assert a["status"] == 200 and a["error"] is None
    body = bytes(a["content"])
    assert body == b"payload-for-a" * 3
    assert a["n_bytes"] == len(body)
    assert a["sha256"] == hashlib.sha256(body).hexdigest()
    # 404: an error ROW with null content — the stage never throws
    miss = out[f"{server}/missing"]
    assert miss["status"] == 404 and miss["content"] is None
    assert "404" in miss["error"] and miss["n_bytes"] == -1


def test_fetch_retries_flaky_endpoint(spark, server):
    df = spark.createDataFrame([(f"{server}/flaky/x",)], "url string")
    row = fetch_urls(df, retries=3, backoff=0.01).collect()[0]
    assert row["status"] == 200 and bytes(row["content"]) == b"ok"
    assert row["n_attempts"] == 2  # failed once, succeeded on retry
    # 4xx is deterministic: no retry budget burned
    df404 = spark.createDataFrame([(f"{server}/nope",)], "url string")
    row = fetch_urls(df404, retries=3, backoff=0.01).collect()[0]
    assert row["status"] == 404 and row["n_attempts"] == 1


def test_fetch_composes_with_media_decode(spark, server):
    """The ingestion shape end to end: fetch real image payloads over
    HTTP, then run the fetched binary column straight through the
    Arrow-batched metadata stage — two mapInPandas stages composing
    without a collect between them."""
    from data_pipeline_spark.operators import jpeg_codec, png_codec
    from data_pipeline_spark.operators.multimodal import decode_metadata

    _MEDIA["a.png"] = png_codec.encode_pixels(
        np.full((12, 20, 3), 55, np.uint8)
    )
    _MEDIA["b.jpg"] = jpeg_codec.encode_baseline(
        np.full((8, 16), 99, np.uint8), quality=90
    )
    df = spark.createDataFrame(
        [(f"{server}/media/a.png",), (f"{server}/media/b.jpg",)], "url string"
    )
    fetched = fetch_urls(df, retries=0).selectExpr(
        "xxhash64(url) AS id", "content AS media", "url"
    )
    meta = {r["url"]: r for r in (
        fetched.join(decode_metadata(fetched), "id").collect()
    )}
    a = meta[f"{server}/media/a.png"]
    assert (a["width"], a["height"]) == (20, 12)
    b = meta[f"{server}/media/b.jpg"]
    assert (b["width"], b["height"]) == (16, 8)


def test_fetch_size_cap_and_unreachable(spark, server):
    rows = [
        (f"{server}/big",),
        ("http://127.0.0.1:9/nothing-listens-here",),
    ]
    df = spark.createDataFrame(rows, "url string")
    out = {r["url"]: r for r in fetch_urls(df, retries=0, max_bytes=1000, timeout=2).collect()}
    big = out[f"{server}/big"]
    assert big["content"] is None and "max_bytes" in big["error"]
    dead = out["http://127.0.0.1:9/nothing-listens-here"]
    assert dead["content"] is None and dead["error"] is not None


def test_fetch_malformed_url_skips_retry_budget(spark):
    """A garbage URL is deterministic — one attempt, no backoff sleeps."""
    df = spark.createDataFrame([("htp://not-a-scheme/x",)], "url string")
    row = fetch_urls(df, retries=3, backoff=5.0).collect()[0]
    assert row["content"] is None and "bad URL" in row["error"]
    assert row["n_attempts"] == 1  # backoff=5s x3 would be obvious


def test_fetch_refuses_local_files_and_caps_by_default(spark, server, tmp_path):
    """A file:// row is an error row with status 0 — no local bytes leak
    into the table and the int32 status cast survives — and with no
    max_bytes given, a body one byte over the 20 MB default is refused."""
    local = tmp_path / "secret.txt"
    local.write_bytes(b"local bytes")
    rows = [(local.as_uri(),), (f"{server}/huge",)]
    df = spark.createDataFrame(rows, "url string")
    out = {r["url"]: r for r in fetch_urls(df, retries=2, backoff=5.0).collect()}
    f = out[local.as_uri()]
    assert f["status"] == 0 and f["content"] is None
    assert "scheme" in f["error"] and f["n_attempts"] == 1
    huge = out[f"{server}/huge"]
    assert huge["status"] == 200 and huge["content"] is None
    assert "max_bytes" in huge["error"] and huge["n_bytes"] == -1
