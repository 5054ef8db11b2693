"""Partial-update (column-level LWW) merge — the sparse-CDC merge engine.

Change feeds from wide tables often carry only the CHANGED columns of a
row (Debezium after-image pruning, Flink/Paimon's partial-update merge
engine, BigQuery CDC sparse UPSERTs). Row-level LWW would wipe the
columns a sparse event omits; this module resolves each column
independently:

* op = insert/update/upsert with a NULL payload column means "column
  unchanged" — NOT "set to null" (the Paimon convention; true nulling
  needs a full-row op, which row-level `apply_batch` provides).
* op = delete kills the row. A LATER partial update resurrects it with
  only the columns it sets — values from before the delete never leak
  through it, within a batch or across batches.
* Each column resolves to its last set (non-null) value by
  (lsn, op_rank); row existence is the last live-vs-delete event.

Unlike row-level LWW (whose winners are batch-intrinsic), partial
resolution must consult the OLD row, so the apply reads the standing
state restricted to the batch's keys — bucket-pruned, then (for the
delta path) key-bounds-pruned and semi-joined down to batch keys:
O(batch) rows read, never O(table). The emitted winners are COMPLETE
resolved rows, so the committed delta is an ordinary full-row delta and
the whole stack above — MoR read merge, compaction, changes(),
ChangeCursor, MaterializedAggregate, OCC rebase — works unchanged.

In-order contract: the stored row keeps ONE `_lsn` (the fold's
watermark), not per-column LSNs, so batches must arrive in LSN order —
the streaming spine's contract anyway. A batch entirely older than the
stored row is guarded per key (the old row is re-emitted unchanged);
interleaved out-of-order columns are out of scope by design and
documented here rather than silently half-supported.

Reference parity: the reference's resolution stage folds
attribute-bearing updates onto standing footprints field-by-field,
preferring present values over absent ones
(/root/reference/footprint-res/resolve-footprints.scala:84-102 probes
Try(properties.height) per field); this is that semantic as a
column-level LWW over a keyed change feed.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..icebox.table import IceboxTable
from .apply import (
    _bad_event_pred,
    _bucket_rollup,
    _commit_batch,
    _delta_file_stats,
    _op_rank_col,
    _schema_rollback,
    normalize_events,
)

def _NEG():
    """Ordering floor: sorts before every real (lsn, rank) pair.

    A function, not a module constant — Column construction needs an
    active SparkContext, which doesn't exist at import time."""
    return F.struct(
        F.lit(-(1 << 62)).cast("long").alias("l"), F.lit(-1).alias("r")
    )


# Commits that move/relabel physical bytes or metadata but apply no
# change events; the enforce_order watermark chain must look THROUGH
# them, or a compact/split/cluster interleaved by run_stream between two
# columnar epochs silently disables the out-of-order refusal for the
# next batch. Same op set the change feed skips (icebox.table changes()),
# plus split_buckets (rows move between buckets, no logical change).
_MAINTENANCE_OPS = frozenset(
    {
        "compact",
        "rewrite_clustered",
        "rename_column",
        "drop_column",
        "analyze",
        "compact_lineage",
        "split_buckets",
    }
)


def _last_logical_summary(table: IceboxTable) -> dict:
    """Summary of the most recent NON-maintenance commit, walking parent
    pointers driver-side (tiny snap-*.json reads, O(length of the
    current maintenance run) — bounded by cluster_every/compact cadence).
    Logical ops (merge, rollback, overwrite, create) stop the walk:
    row-mode merges and rollbacks deliberately RESET the columnar
    watermark chain."""
    m = table.manifest
    meta_dir = os.path.join(table.root, "metadata")
    s = m.get("summary") or {}
    pid = m.get("parent_id")
    while s.get("operation") in _MAINTENANCE_OPS and pid is not None:
        with open(os.path.join(meta_dir, f"snap-{pid:08d}.json")) as f:
            m = json.load(f)
        s = m.get("summary") or {}
        pid = m.get("parent_id")
    return s


def fold_partial_updates(
    ev: DataFrame, key: str, payload_cols: list[str]
) -> DataFrame:
    """One hash aggregate resolving a batch column-by-column.

    Per key and per payload column c: the value at the max (lsn,
    op_rank) among non-delete events that SET c (struct max_by — rows
    with a null ordering key are ignored, so unset events never win),
    plus the ordering position that set it. Per key: the last delete
    position, the last live position, the LSN watermark, event count,
    malformed count. Everything the merge and the lineage need, one
    shuffle on the key — Tungsten partial aggregation salts hot keys
    map-side exactly as in the row-level fold (_dedup_with_stats).

    Post-aggregate resolution (pure projection): a column value
    survives only if it was set AFTER the key's last delete; the row is
    live only if its last live event outranks its last delete. Output:
    key, resolved payload columns (null = not set since the last
    delete), `_live`, `_wm` (max lsn), `_n_ev`, `_bad`.
    """
    rank = F.coalesce(_op_rank_col(), F.lit(-1))
    lsn_safe = F.coalesce(F.col("lsn"), F.lit(-(1 << 62)))
    ordc = F.struct(lsn_safe.alias("l"), rank.alias("r"))
    is_del = F.col("op") == "delete"

    aggs = []
    for c in payload_cols:
        set_ord = F.when(F.col(c).isNotNull() & ~is_del, ordc)
        aggs.append(F.max_by(F.col(c), set_ord).alias(f"_v_{c}"))
        aggs.append(F.max(set_ord).alias(f"_so_{c}"))
    aggs += [
        F.max(F.when(is_del, ordc)).alias("_del_ord"),
        F.max(F.when(~is_del, ordc)).alias("_live_ord"),
        F.max("lsn").alias("_wm"),
        F.count(F.lit(1)).alias("_n_ev"),
        F.sum(_bad_event_pred(key).cast("long")).alias("_bad"),
    ]
    g = ev.groupBy(key).agg(*aggs)

    dord = F.coalesce(F.col("_del_ord"), _NEG())
    sel = [
        F.col(key),
        (F.coalesce(F.col("_live_ord"), _NEG()) > dord).alias("_live"),
        # was there a delete in this batch at all? (gates old-row values)
        F.col("_del_ord").isNotNull().alias("_had_del"),
        F.coalesce(F.col("_del_ord.l"), F.lit(-(1 << 62))).alias("_del_lsn"),
        F.col("_wm"),
        F.col("_n_ev"),
        F.col("_bad"),
    ]
    for c in payload_cols:
        sel.append(
            F.when(F.coalesce(F.col(f"_so_{c}"), _NEG()) > dord, F.col(f"_v_{c}"))
            .alias(c)
        )
    return g.select(*sel)


def apply_batch_partial(
    table: IceboxTable,
    events: DataFrame,
    batch_id: int | str,
    tag_prefix: str = "batch",
    merge_strategy: str = "delta",
    retry_on_conflict: int = 0,
    enforce_order: bool = False,
) -> IceboxTable:
    """Apply one SPARSE change batch with column-level LWW; returns the
    table at the new snapshot. Same exactly-once tag contract, lineage
    shape, schema evolution (an added column backfills null = "unchanged"
    — exactly the partial semantic), and OCC retry as apply_batch.

    merge_strategy: "delta" (merge-on-read append, the default; old rows
    are read key-restricted so the whole apply is O(batch)) or
    "shuffle"/"join"/"auto" (copy-on-write rewrite of touched buckets —
    "join"/"auto" accepted as aliases, the rewrite is one full-outer
    join either way since partial resolution needs the old side).

    Plan shape per batch: ONE aggregate over raw events (fold), one
    bucket-pruned (+ key-bound-pruned, delta path) read of old rows, one
    key equi-join, one write. The stale-batch guard re-emits the old row
    unchanged instead of filtering (keeps bucket stats exact without a
    second driver collect; the re-emitted row is bit-identical so the
    LWW read is indifferent).
    """

    def combine(c: str, old_ok, types):
        # last set value wins; an unset batch column keeps the old value
        # (gated: the old row must be live and not deleted-past)
        return F.coalesce(F.col(c), F.when(old_ok, F.col(f"_old_{c}")))

    return _apply_columnar(
        table,
        events,
        batch_id,
        fold_partial_updates,
        combine,
        mode="partial",
        tag_prefix=tag_prefix,
        merge_strategy=merge_strategy,
        retry_on_conflict=retry_on_conflict,
        enforce_order=enforce_order,
    )


def _apply_columnar(
    table: IceboxTable,
    events: DataFrame,
    batch_id: int | str,
    fold_fn,
    combine_fn,
    mode: str,
    tag_prefix: str = "batch",
    merge_strategy: str = "delta",
    retry_on_conflict: int = 0,
    enforce_order: bool = False,
) -> IceboxTable:
    """Shared columnar-merge core (partial-update AND aggregation merge
    engines — see cdc/aggregate.py). fold_fn(ev, key, cols) must return
    one row per key carrying the payload cols (batch-resolved values,
    null = "nothing to contribute") plus the meta contract
    (_live, _had_del, _del_lsn, _wm, _n_ev, _bad); combine_fn(c, old_ok,
    types) builds the fresh+live merged value of column c from the batch
    column `c` and the stored `_old_{c}`."""
    tag = f"{tag_prefix}:{batch_id}"
    if table.has_tag(tag):
        return table
    key = table.key
    with _schema_rollback(table):
        ev = normalize_events(events, table)
        cols = [f.name for f in table.schema.fields if f.name != key]
        folded = (
            fold_fn(ev, key, cols)
            .withColumn("_b", table.bucket_of())
            .persist()
        )
        try:
            delta_mode = merge_strategy == "delta"
            stats = _bucket_rollup(folded, key, ~F.col("_live"), key_stats=delta_mode)

            def publish(touched, kw):
                # optional in-order transport check: the columnar engines
                # require LSN-ordered batches; an entirely-stale key is
                # rendered HARMLESS by the row-level fresh/stale guard
                # (_resolve), but its presence proves the transport is
                # delivering out of order — and a key MIXING stale and
                # fresh lsns in one batch folds stale column values
                # silently (the disclosed columnar hole). enforce_order
                # turns the detectable symptom (some key's newest lsn at or
                # below the previous same-mode merge's global watermark)
                # into a loud refusal so the disorder is caught before the
                # mixed case bites. The watermark chain resets across
                # non-columnar LOGICAL commits (rollback, row-mode merges)
                # but looks THROUGH maintenance commits (compact/split/
                # cluster/lineage — _last_logical_summary), or run_stream's
                # interleaved maintenance would silently disable the
                # refusal for the following epoch.
                if enforce_order:
                    prev = _last_logical_summary(table)
                    if prev.get("mode") == mode and prev.get("lsn_watermark") is not None:
                        batch_min = min(int(r["_wm_min"]) for r in stats if r["n"])
                        if batch_min <= int(prev["lsn_watermark"]):
                            raise ValueError(
                                f"batch {batch_id}: out-of-order feed — a key's "
                                f"newest lsn {batch_min} is <= the previous "
                                f"{mode}-merge watermark {prev['lsn_watermark']}; "
                                "the columnar engines require LSN-ordered batches "
                                "(use merge_mode='row' for order-independent "
                                "transports)"
                            )
                # feeds the next batch's in-order enforcement
                kw["summary"]["lsn_watermark"] = max(
                    int(r["lsn_watermark"]) for r in stats if r["n"]
                )
                resolved = _resolve(table, folded, touched, cols, combine_fn, delta_mode)
                if delta_mode:
                    return table.commit_delta(resolved, **_delta_file_stats(stats), **kw)
                return table.commit_rewrite(
                    resolved, touched, collect_stats=False, **kw  # hot per-batch path
                )

            return _commit_batch(
                table, stats, batch_id, tag, retry_on_conflict, publish,
                strategy="delta" if delta_mode else "shuffle", mode=mode,
            )
        finally:
            folded.unpersist()


def _resolve(table, folded, touched, cols, combine_fn, delta_mode) -> DataFrame:
    """The merged rows of a columnar batch: the fold joined to the
    stored rows of the touched buckets (key-restricted on the delta
    path), each column resolved per combine_fn, with `_lsn`,
    `_tombstone` and `_b`."""
    key = table.key
    old = table.read(buckets=touched, internal=True)
    if delta_mode:
        # O(batch): only rows the batch's keys can touch; the keyed
        # read path's manifest bounds already skipped foreign deltas
        old = old.join(folded.select(key), key, "left_semi")
    old = old.select(
        F.col(key),
        *[F.col(c).alias(f"_old_{c}") for c in cols],
        F.col("_lsn").alias("_old_lsn"),
        F.coalesce(F.col("_tombstone"), F.lit(False)).alias("_old_tomb"),
    )

    j = folded.join(old, key, "left" if delta_mode else "full_outer")
    in_batch = F.col("_wm").isNotNull()
    # stale guard: the whole batch predates the stored row → re-emit
    # the stored row unchanged (see apply_batch_partial)
    fresh = in_batch & (
        F.col("_old_lsn").isNull() | (F.col("_wm") >= F.col("_old_lsn"))
    )
    # old values survive only when the old row is live AND the batch
    # did not delete past it (an intra-batch delete kills old values
    # even when a later intra-batch event resurrects the key)
    old_ok = (~F.coalesce(F.col("_old_tomb"), F.lit(True))) & (
        ~F.col("_had_del")
        | (F.col("_del_lsn") < F.coalesce(F.col("_old_lsn"), F.lit(-(1 << 62))))
    )
    types = {f.name: f.dataType for f in table.schema.fields}
    merged_cols = []
    for c in cols:
        merged_cols.append(
            F.when(
                ~fresh,  # old-only row or stale batch: keep stored
                F.col(f"_old_{c}"),
            )
            .when(~F.col("_live"), F.lit(None).cast(types[c]))
            .otherwise(combine_fn(c, old_ok, types))
            .alias(c)
        )
    return j.select(
        F.col(key),
        *merged_cols,
        F.when(~fresh, F.col("_old_lsn"))
        .otherwise(F.greatest(F.col("_wm"), F.coalesce(F.col("_old_lsn"), F.col("_wm"))))
        .alias("_lsn"),
        F.when(~fresh, F.col("_old_tomb"))
        .otherwise(~F.col("_live"))
        .alias("_tombstone"),
    ).withColumn("_b", table.bucket_of())


def replay_log_partial(
    table: IceboxTable,
    log: DataFrame,
    merge_strategy: str = "delta",
) -> IceboxTable:
    """Batch-mode partial-update replay in batch_id order (the in-order
    contract the stored single `_lsn` requires)."""
    batch_ids = sorted(
        r["batch_id"] for r in log.select("batch_id").distinct().collect()
    )
    for b in batch_ids:
        table = apply_batch_partial(
            table,
            log.filter(F.col("batch_id") == b),
            b,
            merge_strategy=merge_strategy,
        )
    return table
