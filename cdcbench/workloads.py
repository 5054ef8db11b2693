"""The benchmark's workloads: single process, one client, closed loop.

Each workload has a set-up phase (untimed: data generation, seeding and a
warm-up of every timed operation at its timed size) and a timed phase: a
fixed amount of writes, then a fixed number of read rounds. Every run does
the same work, however fast the machine is. Both workloads run every
operation type the end-to-end metrics name, on the table state their write
shape produces:

* ``bulk_backfill``: 40k-event delta batches into an empty 32-bucket table,
  one compaction, then reads of the clean (compacted) table.
* ``trickle_stream``: a Structured Streaming drain of one 5k-event file per
  trigger into a clean base, no maintenance, then merge-on-read reads of the
  base plus the delta commits the stream left (just short of what the
  ``compact_ratio=0.5`` policy would fold).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from . import gen
from .oracle import Oracle

BULK = {
    "n_docs": 50_000,
    "batch_events": 40_000,
    "warm_batches": 3,
    "timed_batches": 5,
    "n_buckets": 32,
    "compact_ratio": 0.5,
    "lookup_keys": 10,
    "read_rounds": 3,  # one change feed per round
    "scans": 7,
    "lookups": 5,
    "changes_commits": 2,  # the last batch's merge and the compaction
}

TRICKLE = {
    # 56k base docs: 1750 rows per bucket, and an epoch adds ~136 winners
    # per bucket, so the compact_ratio=0.5 policy would fold buckets from
    # about the 6th epoch on; the 5 deltas read stay just below it
    "n_docs": 56_000,
    "epoch_events": 5_000,
    "warm_epochs": 4,
    "timed_epochs": 5,
    "n_buckets": 32,
    "fold_ratio": 0.5,
    "lookup_keys": 10,
    "read_rounds": 3,
    "scans": 3,
    "lookups": 3,
    "changes_commits": 3,
}


def _spark_event_schema():
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField, StructType,
    )

    return StructType(
        [
            StructField("lsn", LongType()),
            StructField("batch_id", IntegerType()),
            StructField("op", StringType()),
            StructField("doc_id", StringType()),
            StructField("tokens", ArrayType(IntegerType())),
            StructField("n_tok", IntegerType()),
            StructField("source", StringType()),
        ]
    )


def _table_schema():
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    return StructType(
        [
            StructField("doc_id", StringType()),
            StructField("tokens", ArrayType(IntegerType())),
            StructField("n_tok", IntegerType()),
            StructField("source", StringType()),
        ]
    )


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


class Bench:
    """State shared by the workloads: session, tracer, counters, samples."""

    def __init__(self, spark, tracer, work: str, seed: int, t_process: float):
        self.spark = spark
        self.t_process = t_process  # perf_counter at process start
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.ev_schema = _spark_event_schema()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.meta: dict = {}
        self.facts: dict = {}
        self.timed_start = self.timed_end = None  # (perf_counter, wall) pairs
        self._last_mark = t_process
        self.lookups: list[tuple[list, list]] = []  # (keys, rows) per timed lookup
        self.changes: list[dict] = []  # per-type counts per timed changes call

    # -- helpers ---------------------------------------------------------

    def events(self, path: str):
        return self.spark.read.schema(self.ev_schema).parquet(path)

    def timed_op(self, kind: str, fn, span: str | None = None):
        """Run one timed operation; a raise counts as a failed operation."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            if span is None:
                out = fn()
            else:
                with self.tracer.span(span):
                    out = fn()
        except Exception:  # the run goes on and reports the failure
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc()[-1500:]}")
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t)
        return out

    def mark(self, phase: str) -> None:
        """Record the time since the previous mark (set-up breakdown)."""
        now = time.perf_counter()
        self.meta.setdefault("phases_s", {})[phase] = round(now - self._last_mark, 3)
        self._last_mark = now

    def start_timed(self) -> None:
        """Set-up ends here: JVM start, data generation, seeding, warm-up."""
        self.timed_start = (time.perf_counter(), time.time())
        self.meta["setup_s"] = self.timed_start[0] - self.t_process

    def end_timed(self) -> None:
        self.timed_end = (time.perf_counter(), time.time())
        self.meta["timed_s"] = self.timed_end[0] - self.timed_start[0]

    # -- reads -----------------------------------------------------------

    def scan(self, table) -> None:
        table.read().write.format("noop").mode("overwrite").save()

    def lookup(self, table, keys):
        return [
            (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
            for r in table.lookup(keys).collect()
        ]

    def changes_counts(self, table, from_sid: int) -> dict:
        rows = table.changes(from_sid).groupBy("_change_type").count().collect()
        return {r["_change_type"]: int(r["count"]) for r in rows}

    def warm_reads(self, table, key_batches, from_sid: int) -> None:
        """Each read type once, with a key batch the timed phase does not use."""
        self.scan(table)
        self.lookup(table, key_batches[-1])
        self.changes_counts(table, from_sid)

    def read_rounds(self, table, key_batches, from_sid: int, cfg: dict) -> None:
        """``read_rounds`` rounds of a share of the ``scans``, a share of the
        ``lookups`` and one change feed. The counts are fixed and odd, so
        each median is the middle sample, not the mean of two."""
        n = cfg["read_rounds"]
        for r in range(n):
            for _ in range(r, cfg["scans"], n):
                self.timed_op("scan", lambda: self.scan(table), span="bench.scan")
            for k in range(r, cfg["lookups"], n):
                keys = key_batches[k]
                rows = self.timed_op(
                    "lookup", lambda: self.lookup(table, keys), span="bench.lookup"
                )
                if rows is not None:
                    self.lookups.append((keys, rows))
            got = self.timed_op(
                "changes", lambda: self.changes_counts(table, from_sid),
                span="bench.changes",
            )
            if got is not None:
                self.changes.append(got)

    # -- checks ----------------------------------------------------------

    def check(self, table, all_files: list[str], files_at_from: list[str]) -> Oracle:
        """Compare the final table, every timed lookup and every timed change
        feed with the DuckDB oracle; a mismatch is a failed operation."""
        actual = os.path.join(self.work, "check", "actual")
        table.read().write.mode("overwrite").parquet(actual)
        oracle = Oracle(all_files)
        self.attempted += 1
        bad = oracle.table_mismatches(actual)
        if bad:
            self.failed += 1
            self.errors.append(f"table: {bad} rows differ from the oracle")
        for keys, rows in self.lookups:
            if not oracle.lookup_ok(keys, rows):
                self.failed += 1
                self.errors.append(f"lookup {keys[:3]}...: rows differ from the oracle")
        want = oracle.change_counts(files_at_from, all_files)
        for got in self.changes:
            if got != want:
                self.failed += 1
                self.errors.append(f"changes: got {got}, oracle {want}")
        self.meta["changes_rows_expected"] = want
        return oracle

    def key_batches(self, keys: gen.KeySpace, size: int, n: int = 64) -> list[list[str]]:
        rng = np.random.default_rng([self.seed, 2])
        return [list(keys.keys[rng.integers(0, len(keys), size)]) for _ in range(n)]

    def finish_metrics(self, oracle: Oracle, ingest_events: int,
                       write_s: float, rss_mb: float, table_bytes: int) -> dict:
        live = oracle.live_rows()
        s = self.samples
        self.facts["live_rows"] = live
        self.meta["live_rows"] = live
        return {
            "setup_s": (self.meta["setup_s"], "s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "ingest_events_per_s": (ingest_events / write_s, "events/s"),
            "commit_s_p50": (statistics.median(s["commit"]), "s"),
            "stored_bytes_per_live_row": (table_bytes / live, "bytes"),
            "scan_rows_per_s": (live / statistics.median(s["scan"]), "rows/s"),
            "lookup_s_p50": (statistics.median(s["lookup"]), "s"),
            "changes_s_p50": (statistics.median(s["changes"]), "s"),
        }


def _delta_key_buckets(root: str, deltas: list[dict]) -> list[dict]:
    """Per delta entry: {bucket: keys it really holds} (read from its files)."""
    out = []
    for d in deltas:
        holds: dict[str, set] = {}
        for f in _parquet_files(os.path.join(root, d["path"])):
            t = pq.read_table(f, columns=["_b", "doc_id"])
            for b, k in zip(t.column("_b").to_pylist(), t.column("doc_id").to_pylist()):
                holds.setdefault(str(b), set()).add(k)
        out.append(holds)
    return out


def _commit_dir_facts(root: str, rels: list[str], events: int) -> dict:
    sizes = [dir_bytes(os.path.join(root, r)) for r in rels]
    files = [len(_parquet_files(os.path.join(root, r))) for r in rels]
    return {
        "data_bytes_per_event": sum(sizes) / events if events else 0.0,
        "files_per_commit": float(statistics.median(files)) if files else 0.0,
    }


def _manifest_bytes(root: str) -> int:
    meta = os.path.join(root, "metadata")
    with open(os.path.join(meta, "CURRENT")) as f:
        return os.path.getsize(os.path.join(meta, f.read().strip()))


# ----------------------------------------------------------------- bulk


def bulk_backfill(b: Bench, rss) -> dict:
    from data_pipeline_spark.cdc import apply as apply_mod
    from data_pipeline_spark.icebox.table import IceboxTable

    cfg = BULK
    b.meta["config"] = cfg
    keys = gen.KeySpace(b.seed, cfg["n_docs"])
    n_batches = cfg["warm_batches"] + cfg["timed_batches"]
    files, lsn = [], 0
    for i in range(n_batches):
        t = gen.make_events(b.seed, 1 + i, keys, lsn, cfg["batch_events"], i)
        files.append(gen.write_events(t, os.path.join(b.work, "events", f"batch-{i:03d}.parquet")))
        lsn += cfg["batch_events"]
    key_batches = b.key_batches(keys, cfg["lookup_keys"])
    b.mark("generate")
    root = os.path.join(b.work, "table")
    table = IceboxTable.create(b.spark, root, _table_schema(), n_buckets=cfg["n_buckets"])

    # warm-up at timed size: batches (the JIT keeps speeding them up for
    # several), the compaction that folds them, each read type
    for i in range(cfg["warm_batches"]):
        table = apply_mod.apply_batch(table, b.events(files[i]), batch_id=i,
                                      merge_strategy="delta")
    b.mark("warm_batch")
    table = table.compact_if_needed(ratio=cfg["compact_ratio"])
    b.mark("warm_compact")
    b.warm_reads(table, key_batches, max(table.snapshot_id - cfg["changes_commits"], 0))
    b.mark("warm_reads")

    b.start_timed()
    delta_rels = []
    sid_before_last = None
    for i in range(cfg["warm_batches"], n_batches):
        sid_before_last = table.snapshot_id
        ev = b.events(files[i])
        out = b.timed_op(
            "commit",
            lambda: apply_mod.apply_batch(table, ev, batch_id=i, merge_strategy="delta"),
        )
        if out is not None:
            table = out
            delta_rels.append(table.manifest["deltas"][-1]["path"])
    pre_compact = table.snapshot_id
    out = b.timed_op("compact", lambda: table.compact_if_needed(ratio=cfg["compact_ratio"]))
    if out is not None:
        table = out
    write_s = time.perf_counter() - b.timed_start[0]
    from_sid = sid_before_last
    b.read_rounds(table, key_batches, from_sid, cfg)
    b.end_timed()
    rss_mb = rss()
    table_bytes = dir_bytes(root)

    timed_events = cfg["batch_events"] * cfg["timed_batches"]
    b.meta.update(
        events_total=cfg["batch_events"] * n_batches,
        events_timed=timed_events,
        batch_events=cfg["batch_events"],
        live_deltas_at_read=len(table.manifest.get("deltas") or []),
        compacted=table.snapshot_id > pre_compact,
    )
    b.facts.update(
        timed_events=timed_events,
        manifest_bytes=_manifest_bytes(root),
        **_commit_dir_facts(root, delta_rels, timed_events),
        compact_bytes=(
            dir_bytes(os.path.join(root, os.path.dirname(
                next(iter(table.manifest["buckets"].values()))["path"])))
            if table.snapshot_id > pre_compact else 0
        ),
    )
    if b.tracer.enabled:
        b.facts["delta_key_buckets"] = _delta_key_buckets(
            root, table.manifest.get("deltas") or [])
    oracle = b.check(table, files, files[: n_batches - 1])
    metrics = b.finish_metrics(oracle, timed_events, write_s, rss_mb, table_bytes)
    oracle.close()
    return metrics


# -------------------------------------------------------------- trickle


def _epoch_files(ckpt: str) -> dict[int, list[str]]:
    """Files each micro-batch read, from the file source's own metadata log
    in the stream checkpoint."""
    out: dict[int, list[str]] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                p = e["path"]
                out.setdefault(int(e["batchId"]), []).append(
                    p[len("file://"):] if p.startswith("file://") else p
                )
    return out


def _delta_to_base(manifest: dict) -> list[float]:
    """Per bucket: live delta rows / base rows. ``compact_if_needed(ratio)``
    folds the buckets where this reaches ``ratio``."""
    rows: dict[str, int] = {}
    for d in manifest.get("deltas") or []:
        for bkt, n in d["bucket_rows"].items():
            rows[bkt] = rows.get(bkt, 0) + n
    return [
        n / max(manifest["buckets"].get(bkt, {}).get("rows", 0), 1)
        for bkt, n in rows.items()
    ]


def trickle_stream(b: Bench, rss) -> dict:
    from data_pipeline_spark.cdc import stream as stream_mod
    from data_pipeline_spark.icebox.table import IceboxTable

    cfg = TRICKLE
    b.meta["config"] = cfg
    keys = gen.KeySpace(b.seed, cfg["n_docs"])
    base_file = gen.write_events(
        gen.make_events(b.seed, 0, keys, 0, cfg["n_docs"], 0, inserts_only=True),
        os.path.join(b.work, "events", "base", "base.parquet"),
    )
    lsn = cfg["n_docs"]
    warm_dir = os.path.join(b.work, "events", "warm")
    stream_dir = os.path.join(b.work, "events", "stream")
    all_files = [base_file]  # what the measured table applies
    for i in range(cfg["warm_epochs"] + cfg["timed_epochs"]):
        warm = i < cfg["warm_epochs"]
        d, j = (warm_dir, i) if warm else (stream_dir, i - cfg["warm_epochs"])
        t = gen.make_events(b.seed, 1 + i, keys, lsn, cfg["epoch_events"], 1 + i)
        f = gen.write_events(t, os.path.join(d, f"epoch-{j:04d}.parquet"))
        if not warm:
            all_files.append(f)
        lsn += cfg["epoch_events"]
    key_batches = b.key_batches(keys, cfg["lookup_keys"])
    b.mark("generate")

    base = b.events(base_file).selectExpr("doc_id", "tokens", "n_tok", "source", "lsn AS _lsn")
    root = os.path.join(b.work, "table")
    table = IceboxTable.create(b.spark, root, _table_schema(), n_buckets=cfg["n_buckets"])
    table = table.overwrite_all(base)
    b.mark("seed_base")

    # warm-up at timed size on a copy of the seeded table (manifest paths
    # are relative to the root), so the measured table's delta count stays
    # the timed epochs': the same stream shape at the same epoch size, then
    # each read type over the same base plus the warm-up deltas
    stream_kw = dict(max_files_per_trigger=1, merge_strategy="delta")
    warm_root = os.path.join(b.work, "warm-table")
    shutil.copytree(root, warm_root)
    stream_mod.run_stream(b.spark, warm_dir, b.ev_schema, warm_root,
                          os.path.join(b.work, "ckpt-warm"), query_name="warmup",
                          **stream_kw)
    b.mark("warm_stream")
    warm = IceboxTable.load(b.spark, warm_root)
    b.warm_reads(warm, key_batches, warm.snapshot_id - 1)
    b.mark("warm_reads")

    b.start_timed()
    ckpt = os.path.join(b.work, "ckpt")
    q = b.timed_op(
        "drain",
        lambda: stream_mod.run_stream(b.spark, stream_dir, b.ev_schema, root, ckpt,
                                      query_name="cdc", **stream_kw),
        span="cdc.stream.run",
    )
    write_s = time.perf_counter() - b.timed_start[0]
    progress = [p for p in (q.recentProgress if q else []) if p.numInputRows > 0]
    for p in progress:
        b.samples.setdefault("commit", []).append(p.durationMs["triggerExecution"] / 1000)
    b.facts["stream_overhead_s"] = [
        (p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1000
        for p in progress
    ]
    b.attempted += cfg["timed_epochs"] - 1  # one op per epoch; the drain counted one
    if len(progress) != cfg["timed_epochs"]:
        b.failed += 1
        b.errors.append(f"stream: {len(progress)} epochs with data, "
                        f"expected {cfg['timed_epochs']}")
    table = IceboxTable.load(b.spark, root)
    from_sid = table.snapshot_id - cfg["changes_commits"]
    b.read_rounds(table, key_batches, from_sid, cfg)
    b.end_timed()
    rss_mb = rss()
    table_bytes = dir_bytes(root)

    # which files the last `changes_commits` epochs read: the change feed's
    # start state is every applied file but those
    by_epoch = _epoch_files(ckpt)
    recent = set()
    for sid in range(from_sid + 1, table.snapshot_id + 1):
        m = IceboxTable.load(b.spark, root, sid).manifest
        epoch = int(m["tag"].rsplit(":", 1)[1])
        recent |= set(by_epoch.get(epoch, []))
    files_at_from = [f for f in all_files if f not in recent]

    deltas = table.manifest.get("deltas") or []
    timed_events = cfg["epoch_events"] * cfg["timed_epochs"]
    b.meta.update(
        events_total=cfg["n_docs"] + timed_events,
        events_timed=timed_events,
        epoch_events=cfg["epoch_events"],
        base_docs=cfg["n_docs"],
        live_deltas_at_read=len(deltas),
        max_bucket_delta_to_base=max(_delta_to_base(table.manifest), default=0.0),
        buckets_over_fold_ratio=sum(
            r >= cfg["fold_ratio"] for r in _delta_to_base(table.manifest)),
    )
    b.facts.update(
        timed_events=timed_events,
        manifest_bytes=_manifest_bytes(root),
        **_commit_dir_facts(root, [d["path"] for d in deltas[-cfg["timed_epochs"]:]],
                            timed_events),
    )
    if b.tracer.enabled:
        b.facts["delta_key_buckets"] = _delta_key_buckets(root, deltas)
    oracle = b.check(table, all_files, files_at_from)
    metrics = b.finish_metrics(oracle, timed_events, write_s, rss_mb, table_bytes)
    oracle.close()
    return metrics


WORKLOADS = {"bulk_backfill": bulk_backfill, "trickle_stream": trickle_stream}
