"""Apply a change-event batch to an icebox table (the MERGE heart).

Semantics (the engine's correctness contract, also implemented by the
pandas oracle in tests/oracle.py and by the DuckDB oracle SQL):

  * events carry (lsn:int64 unique monotone, op, doc_id, payload...);
  * within a batch, the winner per doc_id is the event with the highest
    (lsn, op_rank) — last-writer-wins; op_rank breaks redelivered-LSN ties
    deterministically (delete > upsert > update > insert);
  * a non-delete winner materializes its payload (Debezium-style log
    compaction: insert/update/upsert all set the row — valid binlogs never
    update a key that does not exist, and compaction of a valid log equals
    sequential replay);
  * a delete winner removes the key (a tombstone row with the delete's
    LSN is retained so late-arriving older events cannot resurrect it);
  * across batches, the merge is LWW on the row's stored _lsn vs the
    incoming winner's lsn — apply is therefore ORDER-INDEPENDENT over any
    partitioning of the log into micro-batches (the streaming file source
    does not guarantee LSN-ordered file delivery across epochs);
  * replaying a batch whose tag is already committed is a no-op
    (exactly-once).

This generalizes the reference's source-precedence fold — master rows win,
non-colliding newcomers union in
(/root/reference/footprint-res/resolve-footprints.scala:121-188) — with
LSN order replacing source order, and upgrades its arbitrary-winner
dropDuplicates (resolve-footprints.scala:96) to a deterministic window.

Scale design (what survives a 1000-executor / 100 TB target):

  * dedup: apply_batch runs ONE hash aggregate
    `max_by(payload, (lsn, op_rank))` per key (_dedup_with_stats).
    Tungsten's PARTIAL aggregation reduces every map partition to one
    candidate per key BEFORE the exchange — each map task acts as a salt
    bucket, so a hot key ships at most #map-tasks rows through the
    shuffle. This is the salted two-phase pattern executed by the engine
    itself, one exchange, no sort. The explicit two-phase form (phase 1
    ranks within (doc_id, salt), phase 2 ranks the ≤ n_salts survivors —
    the reference's shifted-grid trick,
    resolve-footprints.scala:104-110,128-133, re-applied to hash salts)
    is the standalone operator lww_dedup(strategy="window"), tested equal
    to the aggregate; no apply path uses it.
  * merge strategies:
      - "delta" (merge-on-read — the steady-state production shape at
        100 TB): the deduped winners are appended as per-bucket delta
        files (icebox stage_delta + commit_staged_delta); per-batch
        write cost is O(batch), never O(table). Reads LWW-merge base ∪
        deltas; compact_if_needed folds deltas back when they outgrow a
        ratio of the base.
      - "join" (copy-on-write when the deduped batch is broadcastable):
        `target LEFT JOIN broadcast(winners)` — the big side never
        shuffles and never sorts; additions come from an existence probe
        against the SAME bucket-pruned target scan. Zero exchanges over
        target data, but each touched bucket is rewritten in full.
      - "shuffle" (batch ~ table size, e.g. initial backfill): union +
        one exchange on the bucket column + one per-bucket sort shared by
        the LWW window AND the partitioned, key-clustered write.
  * every target scan (merge and existence probe alike) is
    partition-pruned to the buckets the batch touches (the analog of the
    reference reading one cty= prefix,
    /root/reference/citygml/build-citygml.sh:37); no job ever scans the
    full table for bookkeeping;
  * per batch, the delta path (_apply_delta_fused) runs 4 Spark jobs
    (cdc.apply.jobs_per_batch in the traced benchmark; adaptive
    execution runs each exchange's map side as a job of its own): the
    heavy scan→dedup→sorted-write (2 jobs; per-winner stats ride along
    as hidden parquet columns) and the tiny per-bucket rollup over the
    written compact file (2 jobs) — no persist of the batch, exactly
    one pass over raw events. The CoW paths fold the same stats into
    the dedup aggregate (_dedup_with_stats), persist its winners for
    the same rollup, then run the merge+write plan. Every engine shares
    one batch tail (_bucket_rollup → _commit_batch) and one schema
    rollback guard (_schema_rollback). Driver work is O(#touched
    buckets) — one small collect, one O(buckets) manifest write —
    never O(#events).
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..icebox.table import (
    INTERNAL_FIELDS,
    IceboxTable,
    key_bloom_agg_exprs,
    key_bloom_prep,
    pack_key_blooms,
)

OP_RANK = {"insert": 0, "update": 1, "upsert": 2, "delete": 3}

_META_COLS = {"lsn", "batch_id", "op"}

# above this many deduped rows the batch stops being broadcastable and the
# merge falls back to the shuffle plan (≈ ~100 MB of token rows); the
# broadcast build is serial driver work, so it must stay small
BROADCAST_ROW_LIMIT = 500_000
# the join plan only pays off when the batch is small relative to the
# table — otherwise shuffling both sides scales better with cores
JOIN_TABLE_RATIO = 4


def _op_rank_col():
    m = F.create_map(*[x for k, v in OP_RANK.items() for x in (F.lit(k), F.lit(v))])
    return m[F.col("op")]


def normalize_events(events: DataFrame, table: IceboxTable) -> DataFrame:
    """Schema normalization + evolution, reference-parity:

    * column names lowercased (footprint.js:161-164 lowercases property
      keys);
    * ops lowercased/validated;
    * payload columns unknown to the table are ADDED to the table schema
      (nullable), numeric widenings widen the table schema — the engine's
      version of the Try(properties.height) probe
      (resolve-footprints.scala:84);
    * payload columns the table has but the batch lacks are backfilled
      with typed nulls.
    Mutates `table`'s in-memory schema (persisted at next commit).
    """
    df = events.toDF(*[c.lower() for c in events.columns])
    payload_fields = [f for f in df.schema.fields if f.name not in _META_COLS]
    table.evolve_schema(StructType(payload_fields))
    schema = table.schema
    have = {f.name for f in df.schema.fields}
    cols = [F.col("lsn").cast("long").alias("lsn"), F.lower(F.col("op")).alias("op")]
    if "batch_id" in have:
        cols.append(F.col("batch_id").cast("int").alias("batch_id"))
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def lww_dedup(
    events: DataFrame,
    key: str = "doc_id",
    n_salts: int = 16,
    strategy: str = "window",
) -> DataFrame:
    """Deterministic last-writer-wins: one row per key.

    strategy="window" — explicit two-phase salted ranking (skew-proof):
      phase 1: row_number over (key, salt) — salt = pmod(xxhash64(lsn), S)
               spreads a hot key's events across S window partitions;
      phase 2: row_number over (key) on the ≤S survivors per key.
    strategy="agg" — max_by hash aggregate; Tungsten partial aggregation
      performs phase 1 per map partition (no sort, one exchange). Same
      result (tests/test_dedup_lww.py asserts equivalence).
    Order: lsn DESC, op_rank DESC (redelivery-safe tie-break).
    """
    rank = _op_rank_col()
    if strategy == "agg":
        payload = F.struct(*[F.col(c) for c in events.columns])
        ordc = F.struct(F.col("lsn").alias("l"), rank.alias("r"))
        return (
            events.groupBy(key)
            .agg(F.max_by(payload, ordc).alias("_w"))
            .select("_w.*")
        )
    if n_salts and n_salts > 1:
        salted = events.withColumn("_salt", F.pmod(F.xxhash64("lsn"), F.lit(n_salts)))
        w1 = Window.partitionBy(key, "_salt").orderBy(F.col("lsn").desc(), rank.desc())
        survivors = (
            salted.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_salt")
        )
    else:
        survivors = events
    w2 = Window.partitionBy(key).orderBy(F.col("lsn").desc(), rank.desc())
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _bad_event_pred(key: str):
    """An event is malformed iff its op is unknown, its lsn is null, or
    its key is null (a null key cannot be bucketed or merged)."""
    return (
        ~F.coalesce(F.col("op").isin(list(OP_RANK)), F.lit(False))
        | F.col("lsn").isNull()
        | F.col(key).isNull()
    )


def _dedup_with_stats(ev: DataFrame, key: str, table: IceboxTable) -> DataFrame:
    """One hash aggregate producing BOTH the LWW winners and the per-key
    batch statistics — the engine's single scan over the raw events.

    Per key: winner payload via max_by over (lsn, op_rank) (nulls coerced
    to sort last so a malformed row can never beat a valid one), event
    count, LSN watermark, malformed count. Tungsten partial aggregation
    still acts as the salt phase for hot keys (see lww_dedup "agg").
    The per-bucket rollup of these columns replaces the separate stats
    job AND the full-table existence probe apply_batch used to run —
    driver work per batch stays O(#touched buckets), and no job ever
    scans the target for bookkeeping.
    """
    rank = F.coalesce(_op_rank_col(), F.lit(-1))
    lsn_safe = F.coalesce(F.col("lsn"), F.lit(-(1 << 62)))
    payload = F.struct(*[F.col(c) for c in ev.columns])
    ordc = F.struct(lsn_safe.alias("l"), rank.alias("r"))
    return (
        ev.groupBy(key)
        .agg(
            F.max_by(payload, ordc).alias("_w"),
            F.count(F.lit(1)).alias("_n_ev"),
            F.max("lsn").alias("_wm"),
            F.sum(_bad_event_pred(key).cast("long")).alias("_bad"),
        )
        .select("_w.*", "_n_ev", "_wm", "_bad")
        .withColumn("_b", table.bucket_of())
    )


def _expectation_preds(expectations: dict[str, str] | None):
    """(name, violation-predicate) pairs. A non-delete event VIOLATES
    expectation `pred` when the SQL predicate is false OR null (an
    unevaluable expectation is a failed one — the reference counts a
    polygon whose validity probe throws among BAD_POLYGONS, not among
    the good ones). Deletes carry no payload and bypass every
    expectation."""
    if not expectations:
        return []
    not_delete = F.col("op") != "delete"
    return [
        (name, not_delete & ~F.coalesce(F.expr(pred), F.lit(False)))
        for name, pred in expectations.items()
    ]


def _quarantine_split(
    ev: DataFrame,
    key: str,
    batch_id,
    quarantine_dir: str,
    expectations: dict[str, str] | None = None,
):
    """Dead-letter split (see apply_batch quarantine_dir): route malformed
    events AND expectation violations to `quarantine_dir/batch_id=<id>/`
    with a reason column and return only the valid remainder. One guard
    count means clean batches pay a single cheap aggregate; the
    per-batch OVERWRITE makes crash-replays idempotent on the DLQ (both
    reason families share the one write, so a batch with both kinds of
    bad rows still lands exactly one DLQ dir)."""
    bad_pred = _bad_event_pred(key)
    viols = _expectation_preds(expectations)
    drop_pred = bad_pred
    for _, vp in viols:
        drop_pred = drop_pred | vp
    n_bad = ev.filter(drop_pred).count()
    if not n_bad:
        return ev
    # malformed reasons first (structural beats semantic), then
    # expectations in declaration order — first match names the row
    reason = (
        F.when(
            ~F.coalesce(F.col("op").isin(list(OP_RANK)), F.lit(False)),
            F.lit("unknown_op"),
        )
        .when(F.col("lsn").isNull(), F.lit("null_lsn"))
        .when(F.col(key).isNull(), F.lit(f"null_{key}"))
    )
    for name, vp in viols:
        reason = reason.when(vp, F.lit(f"expect:{name}"))
    (
        ev.filter(drop_pred)
        .withColumn("_quarantine_reason", reason)
        .write.mode("overwrite")
        .parquet(os.path.join(quarantine_dir, f"batch_id={batch_id}"))
    )
    return ev.filter(~drop_pred)


@contextmanager
def _schema_rollback(table: IceboxTable):
    """The one schema-rollback guard of every merge engine.

    normalize_events evolves the handle's schema in memory (added
    columns, widened types); only the batch's commit persists it.
    apply_batch and _apply_columnar run everything from normalize_events
    to the publish inside this guard, so ANY failed apply — malformed
    rows, expectation violations, a quarantine-write error, an
    out-of-order refusal, ConcurrentCommitError on any plan — leaves the
    handle's schema as it was before the batch."""
    saved_id = table.manifest["current_schema_id"]
    saved = dict(table.manifest["schemas"])
    try:
        yield
    except Exception:
        table.manifest["current_schema_id"] = saved_id
        table.manifest["schemas"] = saved
        raise


def _bucket_rollup(df: DataFrame, key: str, dead, key_stats: bool = False) -> list:
    """The per-bucket rollup of a folded batch (one row per key carrying
    _b, _n_ev, _wm, _bad; `dead` marks a delete winner) — one small
    collect, O(#touched buckets) rows: events applied, LSN watermark and
    its minimum, malformed count, winners (n) and deletes (n_dels).

    key_stats adds the per-bucket key bounds and key bloom that delta
    commits record as manifest file statistics (keyed reads skip a delta
    when no probe fits the range or the key set); copy-on-write commits
    record neither, so they do not pay for the 32 bloom aggregates."""
    aggs = [
        F.sum("_n_ev").alias("events_applied"),
        F.max("_wm").alias("lsn_watermark"),
        F.min("_wm").alias("_wm_min"),
        F.sum("_bad").alias("bad_events"),
        F.count(F.lit(1)).alias("n"),
        F.sum(dead.cast("long")).alias("n_dels"),
    ]
    if key_stats:
        df = key_bloom_prep(df, key)
        aggs += [F.min(key).alias("_kmin"), F.max(key).alias("_kmax"),
                 *key_bloom_agg_exprs()]
    return df.groupBy("_b").agg(*aggs).collect()


def _delta_file_stats(stats: list) -> dict:
    """bucket_rows, key_bounds and key_blooms of a delta commit, from a
    key_stats rollup."""
    return {
        "bucket_rows": {int(r["_b"]): int(r["n"]) for r in stats},
        "key_bounds": {int(r["_b"]): (r["_kmin"], r["_kmax"]) for r in stats},
        "key_blooms": pack_key_blooms(stats),
    }


def _commit_batch(table, stats, batch_id, tag, retry_on_conflict, publish, **summary):
    """The batch tail every merge engine shares after its rollup: refuse
    a batch holding malformed events, commit an empty batch as an empty
    tagged snapshot, else build the lineage (one row per bucket: batch
    id, bucket, events, upserts, deletes, watermark) and the summary
    (`summary` holds the engine's own fields) and return
    `publish(touched, kw)` — the engine plans its merge over the sorted
    touched buckets and commits with `kw` (tag, lineage, summary,
    retry_on_conflict)."""
    bad = sum(r["bad_events"] or 0 for r in stats)
    if bad:
        raise ValueError(
            f"batch {batch_id}: {bad} events with unknown op, null lsn, "
            f"or null {table.key} (valid ops: {sorted(OP_RANK)}) — refusing to apply"
        )
    touched = sorted(int(r["_b"]) for r in stats if r["n"])
    if not touched:
        return table.commit_rewrite(
            table.spark.createDataFrame([], _merged_schema(table)),
            [],
            tag=tag,
            summary={"operation": "merge", "events": 0},
            retry_on_conflict=retry_on_conflict,
        )
    bid = int(batch_id) if str(batch_id).lstrip("-").isdigit() else -1
    lineage = [
        (
            bid,
            int(r["_b"]),
            int(r["events_applied"]),
            int(r["n"]) - int(r["n_dels"] or 0),
            int(r["n_dels"] or 0),
            int(r["lsn_watermark"]),
        )
        for r in stats
    ]
    summary = {
        "operation": "merge",
        **summary,
        "touched_buckets": len(touched),
        # ids let changes() bucket-prune across commits and let
        # concurrent rewrites prove bucket-disjointness when rebasing
        "bucket_ids": touched,
        "winners": sum(int(r["n"]) for r in stats),
    }
    return publish(touched, {"tag": tag, "lineage": lineage, "summary": summary,
                             "retry_on_conflict": retry_on_conflict})


def apply_batch(
    table: IceboxTable,
    events: DataFrame,
    batch_id: int | str,
    tag_prefix: str = "batch",
    merge_strategy: str = "auto",
    retry_on_conflict: int = 0,
    quarantine_dir: str | None = None,
    expectations: dict[str, str] | None = None,
) -> IceboxTable:
    """Apply one change batch; returns the table at the new snapshot.

    quarantine_dir: dead-letter queue. Default (None) keeps the strict
    contract — ANY malformed event (unknown op, null lsn, null key)
    rejects the whole batch with a schema-evolution rollback, leaving no
    trace. With a directory set, malformed rows are instead written to
    `quarantine_dir/batch_id=<id>/` (with a `_quarantine_reason` column)
    and the valid remainder applies normally — the production binlog
    shape, where one producer bug must not stall the feed. The
    quarantine write OVERWRITES its own batch subdir, so a crash-replay
    of the batch is idempotent on both the table (tag) and the DLQ
    (per-batch overwrite); lineage still counts the quarantined rows
    via the batch summary. Costs one extra scan of the raw events ONLY
    when malformed rows are actually present (a cheap bad-count
    aggregate guards the split).

    expectations: declarative row-level validity gates — {name: SQL
    predicate over the normalized event columns}, e.g.
    {"n_tok_matches": "n_tok = size(tokens)", "has_source":
    "source is not null"}. A non-delete event violating any predicate
    (false OR null — an unevaluable expectation is a failed one) is
    handled like a malformed event: with quarantine_dir it routes to the
    DLQ with reason `expect:<name>` and the remainder applies; without,
    the whole batch rejects (schema rollback, no trace) naming the
    per-expectation counts. Deletes bypass expectations (no payload).
    This is the engine's generalization of the reference's validity
    guards — skip the bad polygon, count it, keep going
    (/root/reference/grid-and-attrs/app.js:136-141 BAD_POLYGONS /
    ALL_ERRORS counters; footprint.js:86-103 repair-then-validate).
    Costs one extra aggregate job per batch only when declared.

    Exactly-once: the commit is tagged `{tag_prefix}:{batch_id}`; if that
    tag is already committed the whole call is a no-op (idempotent replay
    from any checkpoint).

    retry_on_conflict: optimistic-concurrency rebases when ANOTHER writer
    (a second ingest stream, a compactor, a materialized-view maintainer)
    commits between this handle's load and its publish. Delta merges
    always rebase (appends commute under LWW); copy-on-write merges
    rebase only across provably bucket-disjoint winners — otherwise
    ConcurrentCommitError still propagates and the caller reloads and
    re-applies (the batch itself is replayable: the tag makes a second
    application of an already-won batch a no-op).

    merge_strategy: "auto" broadcasts the deduped batch when it is small
    enough (steady-state CDC), else shuffles; "join"/"shuffle" force.
    "delta" writes the winners as merge-on-read delta files — per-batch
    write cost is O(batch), never O(table) (see _apply_delta_fused).

    Lineage semantics: rows_upserted counts non-delete winners,
    rows_deleted counts delete winners (tombstones written) — both are
    batch-intrinsic, so lineage needs no target probe.

    Per-batch Spark jobs (adaptive execution runs each exchange's map
    side as a job of its own): 4 on the delta path, as the traced
    benchmark measures (cdc.apply.jobs_per_batch) — see
    _apply_delta_fused; the copy-on-write paths add the merge plan's
    exchanges and broadcasts on top. A failed apply of any kind leaves
    no trace in the handle: the schema evolution normalize_events
    applied in memory is rolled back (_schema_rollback).
    """
    tag = f"{tag_prefix}:{batch_id}"
    if table.has_tag(tag):
        return table

    key = table.key
    with _schema_rollback(table):
        ev = normalize_events(events, table)
        if quarantine_dir is not None:
            ev = _quarantine_split(ev, key, batch_id, quarantine_dir,
                                   expectations=expectations)
        elif expectations:
            # strict mode: violations reject the whole batch, same contract
            # as malformed events (one aggregate job, only when declared)
            viols = _expectation_preds(expectations)
            row = ev.select(
                *[F.sum(vp.cast("long")).alias(f"_x{i}")
                  for i, (_, vp) in enumerate(viols)]
            ).first()
            counts = {
                name: int(row[f"_x{i}"] or 0)
                for i, (name, _) in enumerate(viols)
                if row[f"_x{i}"]
            }
            if counts:
                raise ValueError(
                    f"batch {batch_id}: expectation violations {counts} — "
                    "refusing to apply (set quarantine_dir to route them to "
                    "the dead-letter queue instead)"
                )
        if merge_strategy == "delta":
            return _apply_delta_fused(table, ev, batch_id, tag, retry_on_conflict)
        winners = _dedup_with_stats(ev, key, table).persist()
        try:
            stats = _bucket_rollup(winners, key, F.col("op") == "delete")

            def publish(touched, kw):
                strategy = merge_strategy
                if strategy == "auto":
                    n_winners = kw["summary"]["winners"]
                    small_batch = n_winners <= BROADCAST_ROW_LIMIT
                    vs_table = table.total_rows >= JOIN_TABLE_RATIO * n_winners
                    strategy = "join" if (small_batch and vs_table) else "shuffle"
                kw["summary"]["strategy"] = strategy
                cols = [f.name for f in table.schema.fields]
                # target rows (incl. tombstones) of touched buckets only —
                # the analog of the reference reading one cty= prefix,
                # /root/reference/citygml/build-citygml.sh:37
                target = table.read(buckets=touched, internal=True)
                if strategy == "join":
                    merged = _merge_join(table, target, winners, cols)
                else:
                    merged = _merge_shuffle(table, target, winners, cols, len(touched))
                return table.commit_rewrite(
                    merged,
                    touched,
                    repartition=False,  # both merge plans already cluster by _b
                    collect_stats=False,  # hot per-batch path: analyze()/compaction harvest later
                    **kw,
                )

            return _commit_batch(table, stats, batch_id, tag, retry_on_conflict, publish)
        finally:
            winners.unpersist()


def _apply_delta_fused(
    table: IceboxTable,
    ev: DataFrame,
    batch_id: int | str,
    tag: str,
    retry_on_conflict: int = 0,
) -> IceboxTable:
    """Merge-on-read apply with the per-batch job count minimized — 4
    Spark jobs in all (cdc.apply.jobs_per_batch in the traced benchmark):

      jobs 1-2 (heavy, the ONLY pass over raw events): scan → one hash
             aggregate (LWW winners + per-key stats, _dedup_with_stats)
             → sorted delta-file write; the dedup exchange's map side and
             the write each run as one job. Output partitioning is
             whatever AQE coalesced the dedup exchange to (stage_delta's
             8 MB advisory), so small batches land in one file without
             an explicit coalesce.
      jobs 3-4 (tiny, O(winners) over ONE compact file set): the shared
             per-bucket rollup (_bucket_rollup, map side + collect) of the
             stats columns that rode along in the parquet (schema-projected
             reads never see them) → _commit_batch: validation,
             bucket_rows, lineage.
      then the metadata-only manifest publish.

    Unlike the copy-on-write paths it persists no winners (no cache
    serialization of token arrays — the dominant per-batch constant
    measured at small batch sizes) and runs no separate write job. ANY
    failure after the stage (malformed batch, executor loss during the
    stats job, ConcurrentCommitError at publish) deletes the staged dir
    (apply_batch's _schema_rollback restores the schema) — a failed
    apply leaves no orphan data and no half-evolved handle state.
    """
    key = table.key
    cols = [f.name for f in table.schema.fields]
    winners = _dedup_with_stats(ev, key, table)
    deltas = winners.select(
        "_b",
        F.col(key),
        *[F.col(c) for c in cols if c != key],
        F.col("lsn").alias("_lsn"),
        (F.col("op") == "delete").alias("_tombstone"),
        "_n_ev",
        "_wm",
        "_bad",
    )
    snap_rel = table.stage_delta(deltas, extra_cols=["_n_ev", "_wm", "_bad"])
    snap_abs = os.path.join(table.root, snap_rel)

    try:
        stats_schema = StructType(
            [
                StructField("_b", IntegerType()),
                *table.schema.fields,
                *INTERNAL_FIELDS,
                StructField("_n_ev", LongType()),
                StructField("_wm", LongType()),
                StructField("_bad", LongType()),
            ]
        )
        stats = _bucket_rollup(
            table.spark.read.schema(stats_schema).parquet(snap_abs),
            key,
            F.coalesce(F.col("_tombstone"), F.lit(False)),
            key_stats=True,
        )
        if not any(r["n"] for r in stats):
            # empty batch: _commit_batch publishes no data dir
            shutil.rmtree(snap_abs, ignore_errors=True)
        return _commit_batch(
            table, stats, batch_id, tag, retry_on_conflict,
            lambda touched, kw: table.commit_staged_delta(
                snap_rel, **_delta_file_stats(stats), **kw
            ),
            strategy="delta",
        )
    except Exception:
        # nothing committed — reclaim the staged dir now (not waiting for
        # expire_snapshots); idempotent with the empty-batch rmtree above
        shutil.rmtree(snap_abs, ignore_errors=True)
        raise


def _merge_join(
    table: IceboxTable,
    target: DataFrame,
    winners: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Broadcast copy-on-write merge: the target (big side) streams through
    a broadcast hash join with NO exchange and NO sort — rows stay in the
    bucket-dir layout they were scanned in, so the partitioned write needs
    no repartition either. The per-key LWW decision (take the incoming
    winner iff its lsn >= the stored row's _lsn; ties prefer incoming,
    matching the shuffle plan's `_in DESC` tie-break) happens row-side.

    The existence probe for additions is computed from the SAME
    bucket-pruned target scan (winner keys can only live in touched
    buckets), never a full-table scan.
    """
    key = table.key
    # winner keys already present in the (pruned) target — small: ≤ |winners|
    existing = target.select(key).join(
        F.broadcast(winners.select(key)), key, "left_semi"
    )
    wpref = F.broadcast(
        winners.select(
            F.col(key),
            F.col("lsn").alias("_w_lsn"),
            (F.col("op") == "delete").alias("_w_tomb"),
            *[F.col(c).alias(f"_w_{c}") for c in cols if c != key],
        )
    )
    joined = target.withColumn("_b", table.bucket_of()).join(wpref, key, "left")
    take_w = F.col("_w_lsn").isNotNull() & (F.col("_w_lsn") >= F.col("_lsn"))
    resolved = joined.select(
        "_b",
        F.col(key),
        *[
            F.when(take_w, F.col(f"_w_{c}")).otherwise(F.col(c)).alias(c)
            for c in cols
            if c != key
        ],
        F.when(take_w, F.col("_w_lsn")).otherwise(F.col("_lsn")).alias("_lsn"),
        F.when(take_w, F.col("_w_tomb")).otherwise(F.col("_tombstone")).alias(
            "_tombstone"
        ),
    )
    # winners whose key is absent from the target: brand-new rows (and
    # tombstones for never-seen keys, kept to block late older events).
    # Repartitioned by bucket — additions otherwise sit in the batch's
    # arbitrary partitioning and the dynamic-partition writer would emit
    # (#tasks × #buckets) tiny files; this shuffle moves only the small
    # additions set, never the target.
    additions = (
        winners.join(F.broadcast(existing), key, "left_anti")
        .select(
            "_b",
            F.col(key),
            *[F.col(c) for c in cols if c != key],
            F.col("lsn").alias("_lsn"),
            (F.col("op") == "delete").alias("_tombstone"),
        )
        .repartition(table.n_buckets, "_b")
    )
    return resolved.unionByName(additions)


def _merge_shuffle(
    table: IceboxTable,
    target: DataFrame,
    winners: DataFrame,
    cols: list[str],
    n_touched: int,
) -> DataFrame:
    """Shuffle merge for batches too big to broadcast: LWW across
    target ∪ batch keyed on (_lsn, _in). Single-exchange plan: repartition
    by bucket, then the window over (_b, key) needs no further exchange
    (hash(_b) clusters (_b, key)), and neither does the partitionBy(_b)
    write — the window's sort doubles as the write's clustering sort.
    """
    key = table.key
    t = (
        target.withColumn("_b", table.bucket_of())
        .withColumn("_in", F.lit(0))
    )
    incoming = winners.select(
        *cols,
        "_b",
        F.col("lsn").alias("_lsn"),
        (F.col("op") == "delete").alias("_tombstone"),
        F.lit(1).alias("_in"),
    )
    merged_all = t.unionByName(incoming).repartition(max(n_touched, 1), "_b")
    w = Window.partitionBy("_b", key).orderBy(F.col("_lsn").desc(), F.col("_in").desc())
    return (
        merged_all.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_in")
    )


def _merged_schema(table: IceboxTable) -> StructType:
    return StructType([*table.schema.fields]).add("_b", IntegerType())


def replay_log(
    table: IceboxTable,
    log: DataFrame,
    merge_strategy: str = "auto",
) -> IceboxTable:
    """Batch-mode replay: apply the log's batches in batch_id order.

    Driver loop is O(#batches); each iteration is one distributed
    apply_batch. Used by tests and the bench; the streaming path in
    stream.py is the production shape.
    """
    batch_ids = sorted(
        r["batch_id"] for r in log.select("batch_id").distinct().collect()
    )
    for b in batch_ids:
        table = apply_batch(
            table,
            log.filter(F.col("batch_id") == b),
            b,
            merge_strategy=merge_strategy,
        )
    return table
