"""Distributed HTTP fetch stage (SURVEY S11): URL column in, payload
column out — the reference's dataset-download step re-expressed as a
fault-isolated Spark stage instead of a driver-side shell loop
(/root/reference/data-prep/msfp-usbuildings/download-and-prep.sh:11 and
geocode/usa-shapes/get-shapefiles.sh:17-18, `curl -O` per file).

Design for a 1000-executor fetch of millions of URLs:

* mapInPandas: one Python worker drives a whole Arrow batch of URLs —
  the parallelism knob is plain `repartition(n)`, and each task is an
  independent polite client (per-task min-interval rate limiting, not a
  global coordinator — at scale the politeness budget is per-connection
  anyway).
* Fault isolation, not fault propagation: a 404, timeout, truncation,
  or DNS error becomes an ERROR ROW (status/error/n_attempts columns),
  never a task failure — the fetch of 10M URLs must not die at 99% on
  one bad link. Retries with exponential backoff + deterministic
  per-URL jitter handle transient failures; the caller routes rows
  with `content IS NULL` to a DLQ table, exactly like cdc/apply's
  quarantine path.
* Untrusted URLs: only http and https are fetched; any other scheme
  (file://, ftp://) is an error row with status 0, and no request goes
  out.
* Bounded memory: `max_bytes` (default 20 MB) caps each payload at read
  time (an over-limit body is an error row, not an OOM); payloads land as a
  `binary` column sized for the 20 MB Arrow batch discipline the
  multimodal stages already follow.
* Reproducibility: sha256 per payload so a re-fetch (or a mirror) can
  be verified against the recorded digest.

stdlib urllib only — no extra dependencies; https works wherever the
Python build has TLS.
"""

from __future__ import annotations

import hashlib
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# the payload cap when the caller sets none: one fetched body must fit the
# 20 MB Arrow-batch bound the module docstring promises
DEFAULT_MAX_BYTES = 20 * 1024 * 1024
# file://, ftp:// and the like would read local files or leave the
# response status unset — only web schemes are fetched
_SCHEMES = ("http", "https")

FETCH_SCHEMA = (
    "url string, status int, content binary, n_bytes long, "
    "sha256 string, error string, n_attempts int"
)


def _fetch_one(
    url: str,
    timeout: float,
    retries: int,
    backoff: float,
    max_bytes: int | None,
) -> tuple[int, bytes | None, str | None, int]:
    """(status, content, error, n_attempts). Never raises."""
    try:
        scheme = urllib.parse.urlsplit(url).scheme.lower()
    except ValueError as exc:
        return 0, None, f"bad URL: {exc}", 1
    if scheme not in _SCHEMES:
        return 0, None, f"bad URL: scheme {scheme!r} not in {_SCHEMES}", 1
    attempt = 0
    last_err = "no attempts made"
    status = 0
    while attempt <= retries:
        attempt += 1
        try:
            req = urllib.request.Request(
                url, headers={"User-Agent": "data-pipeline-spark/1.0"}
            )
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                status = resp.status
                if max_bytes is not None:
                    body = resp.read(max_bytes + 1)
                    if len(body) > max_bytes:
                        return (
                            status,
                            None,
                            f"payload exceeds max_bytes={max_bytes}",
                            attempt,
                        )
                else:
                    body = resp.read()
                return status, body, None, attempt
        except urllib.error.HTTPError as exc:
            # 4xx are deterministic — retrying them wastes the budget
            status = exc.code
            last_err = f"HTTP {exc.code}"
            if 400 <= exc.code < 500:
                return status, None, last_err, attempt
        except urllib.error.URLError as exc:
            # urllib wraps unknown-scheme/malformed URLs in URLError
            # with a str or ValueError reason — deterministic, no
            # retry; network failures (OSError reasons: connection
            # refused, DNS, timeout) stay retryable
            if isinstance(getattr(exc, "reason", None), (str, ValueError)):
                return 0, None, f"bad URL: {exc.reason}", attempt
            last_err = f"URLError: {exc.reason}"
        except ValueError as exc:
            # malformed URL rejected before the request went out
            return 0, None, f"bad URL: {exc}", attempt
        except Exception as exc:  # timeout, TLS, protocol violations
            last_err = f"{type(exc).__name__}: {exc}"
        if attempt <= retries:
            # exponential backoff with deterministic per-URL jitter
            # (md5, not hash(): PYTHONHASHSEED varies across workers)
            h = int(hashlib.md5(url.encode()).hexdigest()[:4], 16)
            time.sleep(backoff * (2 ** (attempt - 1)) * (1.0 + (h % 100) / 400.0))
    return status, None, last_err, attempt


def fetch_urls(
    df: DataFrame,
    url_col: str = "url",
    timeout: float = 10.0,
    retries: int = 2,
    backoff: float = 0.2,
    max_bytes: int | None = DEFAULT_MAX_BYTES,
    min_interval: float = 0.0,
) -> DataFrame:
    """URL rows -> (url, status, content, n_bytes, sha256, error,
    n_attempts). Failures are rows, not exceptions; `min_interval`
    seconds between requests per task is the politeness knob."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_req = 0.0
        for pdf in it:
            rows = {k: [] for k in (
                "url", "status", "content", "n_bytes", "sha256", "error",
                "n_attempts",
            )}
            for url in pdf[url_col]:
                if min_interval > 0.0:
                    wait = last_req + min_interval - time.monotonic()
                    if wait > 0:
                        time.sleep(wait)
                    last_req = time.monotonic()
                status, body, err, n_att = _fetch_one(
                    str(url), timeout, retries, backoff, max_bytes
                )
                rows["url"].append(url)
                # a response without a status (non-HTTP handlers) must
                # not break the int32 cast below — it is status 0
                rows["status"].append(status or 0)
                rows["content"].append(body)
                rows["n_bytes"].append(-1 if body is None else len(body))
                rows["sha256"].append(
                    None if body is None else hashlib.sha256(body).hexdigest()
                )
                rows["error"].append(err)
                rows["n_attempts"].append(n_att)
            out = pd.DataFrame(rows)
            out["status"] = out["status"].astype("int32")
            out["n_bytes"] = out["n_bytes"].astype("int64")
            out["n_attempts"] = out["n_attempts"].astype("int32")
            yield out

    return df.select(url_col).mapInPandas(_batches, FETCH_SCHEMA)
