"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and, as the north metric, a large-scale CDC
replay measuring sustained change-events/sec applied through the icebox
MERGE path. Prints exactly ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ..., "cdc_events_per_sec": ...}

Knobs (env):
    SPARK_GRAFT_SF_DIR   parquet table dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[k] parallelism (default 32)
    BENCH_CDC_EVENTS     CDC replay size (default 8_000_000)
    BENCH_CDC_BATCHES    number of micro-batches (default 4)
    BENCH_SKIP_QUERIES   "1" → only the CDC throughput run (scaling bench)

Each query is forced end-to-end with a ``noop``-format write (full
execution, no driver collect). Query time excludes session startup.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from data_pipeline_spark.cdc.apply import replay_log  # noqa: E402
from data_pipeline_spark.gen import gen_event_log  # noqa: E402
from data_pipeline_spark.icebox.table import IceboxTable  # noqa: E402
from data_pipeline_spark.session import get_spark  # noqa: E402

BASE_SCHEMA = entrymod.BASE_SCHEMA


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


_WRITE_PATHS_WARM = False  # set once either warmup path has run this JVM


def _warmup(spark, sf_dir: str) -> None:
    """Warm JVM JIT / whole-stage-codegen / shuffle paths before timing.

    Root cause of the r1→r2 'regressions' in window_lww (0.35→1.22s) and
    cdc_lww_dedup (0.65→1.50s): both were measured on COLD codegen paths —
    the first execution of a window/sort pipeline in a fresh JVM pays
    ~1s of JIT; measured steady-state medians are 0.40s / 0.62s, matching
    r1. Adding new queries between rounds shifts which entries absorb the
    warmup, so times weren't comparable across rounds. One untimed
    exercise of scan+filter, window, and hash-agg+exchange paths fixes the
    ordering artifact without touching any measured plan."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    _force(e.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1))
    _force(e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))
    _warm_write_paths(spark)


def _warm_write_paths(spark) -> None:
    """Untimed warmup of the parquet-write + icebox-commit paths (delta
    AND copy-on-write): the replay-style queries (cdc_* replays,
    dedup_incremental) each build a table, and profiling showed the FIRST
    tiny apply_batch in a fresh JVM costs ~6s vs ~1s warm — all
    write/commit JIT, the same measurement-order artifact _warmup already
    fixes for scan/window/agg. One 50k-event replay through each merge
    path absorbs it outside any timed window. Runs at most once per JVM:
    in the default flow bench_cdc_throughput has already exercised both
    merge paths (its own warm replay + timed reps), so repeating it here
    would be pure wall-clock overhead."""
    global _WRITE_PATHS_WARM
    if _WRITE_PATHS_WARM:
        return
    _WRITE_PATHS_WARM = True
    work = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        warm_ev = gen_event_log(spark, 50_000, 5_000, batch_size=25_000,
                                hot_frac=0.10)
        for strat in ("delta", "auto"):
            t_w = IceboxTable.create(
                spark, os.path.join(work, f"w_{strat}"), BASE_SCHEMA,
                n_buckets=16,
            )
            replay_log(t_w, warm_ev, merge_strategy=strat)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# Replay-style queries measure commit-protocol latency × #commits, not
# a scan/shuffle plan — on this VM (±30% drift) a single shot whipsaws
# for machine reasons (the r4 CoW lesson: single-shot 20-41s vs
# interleaved A/B ~14s). These are measured as the MEAN of 2 COLD reps
# (entry-module replay caches cleared before each, so every rep pays
# the full build-and-replay protocol), with the raw reps riding in the
# JSON as "<name>_reps". r4 and earlier recorded one shot with
# whatever cache state the dict order produced — r5 numbers for these
# six are cold-protocol means, not comparable to r4 single-shots.
REPLAY_REP_QUERIES = {
    "cdc_partial_replay",
    "cdc_agg_merge",
    "cdc_incremental_agg",
    "dedup_incremental",
    "cdc_delete_where",
    "cdc_changes",
}
N_REPLAY_REPS = 2


def _clear_replay_caches() -> None:
    entrymod._REPLAY_CACHE.clear()
    entrymod._INC_ROOT_CACHE.clear()


def bench_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, list[float]]]:
    _warmup(spark, sf_dir)
    times: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    for name, fn in entrymod.queries().items():
        if name in REPLAY_REP_QUERIES:
            # snapshot the caches: the reps must be cold for THIS query,
            # but clearing shared base keys (e.g. the replayed-table
            # root many cdc_* queries reuse) must not force queries
            # later in the dict into untimed-in-r4 rebuilds
            saved_replay = dict(entrymod._REPLAY_CACHE)
            saved_inc = dict(entrymod._INC_ROOT_CACHE)
            rs = []
            for _ in range(N_REPLAY_REPS):
                _clear_replay_caches()
                t0 = time.perf_counter()
                _force(fn(spark, sf_dir))
                rs.append(round(time.perf_counter() - t0, 3))
            entrymod._REPLAY_CACHE.update(saved_replay)
            entrymod._INC_ROOT_CACHE.update(saved_inc)
            times[name] = round(sum(rs) / len(rs), 3)
            reps[name] = rs
        else:
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            times[name] = round(time.perf_counter() - t0, 3)
    return times, reps


def bench_cdc_throughput(
    spark, n_events: int, n_batches: int, n_buckets: int = 64
) -> dict:
    """The north metric: sustained events/sec applied to the table.

    Materializes the binlog to parquet first (apply time must not be
    diluted by generation), then replays batch-by-batch through the
    exactly-once MERGE path. Skew: 10% of events hit one hot doc.
    """
    work = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        events_dir = os.path.join(work, "events")
        n_docs = max(n_events // 10, 1)
        batch_size = max(n_events // n_batches, 1)
        ev = gen_event_log(
            spark, n_events, n_docs, batch_size=batch_size, hot_frac=0.10
        )
        ev.write.partitionBy("batch_id").parquet(events_dir)

        log = spark.read.parquet(events_dir)

        # untimed write-path warmup: the query _warmup covers scan/window/
        # agg codegen but NOT the parquet-write + commit paths, so the
        # first replay in a fresh JVM used to absorb their JIT (same
        # measurement-order artifact as the r2 window_lww case). A tiny
        # replay exercises dedup→delta-write→commit once, untimed.
        warm_ev = gen_event_log(spark, 50_000, 5_000, batch_size=25_000,
                                hot_frac=0.10)
        t_w = IceboxTable.create(
            spark, os.path.join(work, "t_warm"), BASE_SCHEMA, n_buckets=n_buckets
        )
        replay_log(t_w, warm_ev, merge_strategy="delta")
        # this run + the CoW reps below warm both merge paths — the
        # query-phase _warm_write_paths would be a duplicate
        global _WRITE_PATHS_WARM
        _WRITE_PATHS_WARM = True

        # steady-state merge-on-read path (delta commits, O(batch)
        # writes): 2 reps on fresh tables, median reported — this VM's
        # same-hour drift is the dominant error bar (BENCH/BASELINE.md),
        # and single-shot numbers have whipsawed across rounds for
        # machine, not engine, reasons. Raw reps ride along.
        mor_reps = []
        for rep in range(2):
            t_mor = IceboxTable.create(
                spark, os.path.join(work, f"t_mor{rep}"), BASE_SCHEMA,
                n_buckets=n_buckets,
            )
            t0 = time.perf_counter()
            t_mor = replay_log(t_mor, log, merge_strategy="delta")
            mor_reps.append(time.perf_counter() - t0)
        mor_sec = sum(mor_reps) / len(mor_reps)
        t0 = time.perf_counter()
        t_mor = t_mor.compact_if_needed(ratio=0.5)
        compact_sec = time.perf_counter() - t0
        final_rows = t_mor.read().count()

        # copy-on-write broadcast-join path (r01 protocol, comparable).
        # 2 reps averaged, like MoR: a single-shot CoW number whipsawed
        # 16.9→41s across identical code (r3→r4 A/B showed NO code-path
        # delta at 4M events — the spread was all machine variance).
        cow_reps = []
        for rep in range(2):
            t_cow = IceboxTable.create(
                spark, os.path.join(work, f"t_cow{rep}"), BASE_SCHEMA,
                n_buckets=n_buckets,
            )
            t0 = time.perf_counter()
            t_cow = replay_log(t_cow, log)
            cow_reps.append(time.perf_counter() - t0)
        cow_sec = sum(cow_reps) / len(cow_reps)

        return {
            "cdc_events": n_events,
            "cdc_batches": n_batches,
            "cdc_apply_sec": round(mor_sec, 3),
            "cdc_apply_sec_reps": [round(s, 3) for s in mor_reps],
            "cdc_events_per_sec": round(n_events / mor_sec, 1),
            "cdc_compact_sec": round(compact_sec, 3),
            "cdc_apply_cow_sec": round(cow_sec, 3),
            "cdc_apply_cow_sec_reps": [round(s, 3) for s in cow_reps],
            "cdc_events_per_sec_cow": round(n_events / cow_sec, 1),
            "cdc_final_rows": final_rows,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("BENCH_CDC_EVENTS", "8000000"))
    n_batches = int(os.environ.get("BENCH_CDC_BATCHES", "4"))
    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    cdc = bench_cdc_throughput(spark, n_events, n_batches)
    if os.environ.get("BENCH_SKIP_QUERIES") == "1":
        queries, query_reps = {}, {}
    else:
        queries, query_reps = bench_queries(spark, sf_dir)
    total = round(cdc["cdc_apply_sec"] + sum(queries.values()), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {
            "cdc_apply": cdc["cdc_apply_sec"],
            "cdc_apply_cow": cdc["cdc_apply_cow_sec"],
            **queries,
        },
        "query_reps": {f"{k}_reps": v for k, v in query_reps.items()},
        "sf": sf,
        "cpus": cpus,
        **cdc,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
