"""Structured Streaming driver: tail a change-event directory, apply each
micro-batch via foreachBatch, resume from checkpoint.

Exactly-once layering:
  * Spark's checkpoint gives deterministic micro-batch replay (the same
    epoch re-delivers the same files after a crash);
  * apply_batch tags every commit `stream:{name}:{epoch}` — a replayed
    epoch whose tag is already committed is a no-op at the table layer.
  Together: crash anywhere, restart with the same checkpoint dir, and the
  final table equals the single-clean-run table (tested in
  tests/test_checkpoint_resume.py).

The reference's closest analog is its idempotent SaveMode.Overwrite
re-runs (/root/reference/footprint-res/resolve-footprints.scala:207); the
engine upgrades that to per-micro-batch transactional commits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..icebox.table import IceboxTable
from .aggregate import apply_batch_agg
from .apply import apply_batch
from .partial import apply_batch_partial


def run_stream(
    spark: SparkSession,
    events_path: str,
    events_schema: StructType,
    table_root: str,
    checkpoint_dir: str,
    query_name: str = "cdc",
    max_files_per_trigger: int | None = None,
    await_all: bool = True,
    merge_strategy: str = "auto",
    compact_ratio: float | None = None,
    split_rows: int | None = None,
    lineage_max_paths: int | None = None,
    dedup_index=None,
    dedup_text_col: str = "tokens",
    dedup_compact_segments: int | None = None,
    materialized_views=None,
    view_compact_ratio: float | None = None,
    merge_mode: str = "row",
    agg_specs: dict[str, str] | None = None,
    event_transform=None,
    quarantine_dir: str | None = None,
    expectations: dict[str, str] | None = None,
    cluster_cols: list[str] | None = None,
    cluster_every: int = 8,
    cluster_files_per_bucket: int = 4,
):
    """Tail `events_path` (parquet file source) into the icebox table.

    Returns the StreamingQuery (stopped already if await_all=True).
    The table must exist; reload it per epoch so a restarted stream sees
    the committed snapshot chain.

    merge_strategy="delta" is the steady-state production shape (O(batch)
    writes, see cdc.apply); pair it with compact_ratio (e.g. 0.5) to fold
    deltas back into base files after the epochs that outgrow it.
    Compaction runs AFTER the tagged epoch commit and moves no logical
    data, so a crash between the two leaves a replayable, correct table.
    split_rows doubles the bucket count when mean rows/bucket exceed it
    (split_if_needed) — the long-running-stream growth policy; like
    compaction it runs post-commit and is crash-safe.

    lineage_max_paths: fold the table's per-batch lineage dirs into
    merged segments whenever the tail outgrows this budget
    (compact_lineage: driver-side pyarrow, no Spark job, history
    preserved) — bounds the manifest's otherwise O(#commits)
    lineage_paths growth on a long-running stream. Runs AFTER the
    tagged epoch commit like the other maintenance knobs; moves no
    logical data, so a crash between commit and fold just re-folds on
    the replayed epoch (idempotent), and the fold's commit is
    whitelisted in changes() so incremental consumers stay O(changes).

    dedup_index: an operators.incremental_dedup.IncrementalDeduper —
    per epoch, the batch's non-delete LWW winners are probed against the
    standing near-dup band index and appended to it (O(batch·cap) per
    epoch, never O(corpus)). The index tags each epoch in its own STATE,
    so a replayed epoch after a crash/restart is a no-op on BOTH the
    table and the index; it runs after the table commit, so a crash
    between the two replays the epoch into the index only (idempotent).
    dedup_text_col names the payload column whose array/text forms the
    near-dup shingle text (default: the token array). Rep assignment is
    first-seen-wins in epoch arrival order — the reference's master-wins
    source fold (resolve-footprints.scala:121-188) with arrival order as
    precedence — and is stable under checkpoint replay because the same
    checkpoint re-delivers identical epochs.

    dedup_compact_segments: fold the index's LSM segments whenever at
    least this many have accumulated (IncrementalDeduper.
    compact_if_needed) — the index twin of compact_ratio; runs after
    the epoch's index commit, moves no logical data, crash-safe.

    merge_mode: which merge engine folds each epoch into the table —
    "row" (full-row LWW, apply_batch — order-independent: a late-arriving
    stale epoch loses by LSN, so file-source epoch reordering is safe),
    "partial" (column-level LWW for sparse feeds, apply_batch_partial) or
    "aggregate" (per-column fold specs via agg_specs, apply_batch_agg).
    The partial/aggregate engines store ONE LSN watermark per row, so
    they require epochs to arrive in LSN order — true of real binlog
    transports (Kafka partition order, Debezium), NOT guaranteed by the
    parquet file source when a trigger splits a multi-file backlog;
    feed them one file per commit-ordered batch (or any source whose
    arrival order is the log order). All three modes share the same
    exactly-once tag contract, so checkpoint replay is a table no-op in
    any mode.

    materialized_views: derived-table maintainers to fold forward after
    each epoch's table commit — materialize.MaterializedAggregate,
    index.InvertedIndex, or anything with the same ``refresh()``
    contract (delta-apply tagged in the DERIVED table's own commit log,
    cursor position recovered from that tag). Each refresh is
    independently exactly-once, so a crash between the table commit and
    a refresh — or between two refreshes — just widens the interval the
    next refresh folds; nothing is counted twice and nothing is lost.
    Views lag the table by at most one epoch during the outage window
    and are exactly consistent at every quiet point.
    view_compact_ratio: if set, each view's ``maintain(ratio)`` runs
    after its refresh — the views' twin of compact_ratio (refreshes are
    MoR delta appends; long streams need the fold). Post-commit,
    crash-safe, moves no logical data.

    event_transform: optional ``DataFrame -> DataFrame`` applied to each
    epoch's raw events BEFORE the merge — the in-stream enrichment hook.
    The canonical use is tokenize-on-ingest: upstream emits change events
    carrying raw text, the transform runs the broadcast-ranks BPE encode
    (operators/bpe.py) and the merged table stores token arrays — the
    full "binlog tail → tokenize → lake" production shape in one stream.
    MUST be deterministic and per-row/narrow (no cross-epoch state): a
    replayed epoch re-runs the transform, and exactly-once holds because
    the tag guards the COMMIT, not the transform. The transform's output
    must match the TABLE schema (plus lsn/op); the raw event schema may
    differ — pass that as events_schema.

    quarantine_dir: dead-letter queue for malformed events (row-mode
    only; see apply_batch) — without it one producer bug rejects its
    whole epoch and stalls the stream at that file.

    expectations: row-level validity gates ({name: SQL predicate},
    row-mode only; see apply_batch) — with quarantine_dir violations
    route to the DLQ with reason `expect:<name>` and the stream keeps
    flowing; without it a violating epoch refuses loudly.

    cluster_cols: z-order maintenance on the spine (rewrite_clustered)
    — every `cluster_every` epochs the table is rewritten Morton-
    clustered on these columns, `cluster_files_per_bucket` z-range
    files per bucket, so multi-column slice reads stay prunable as the
    stream grows. Like compaction (which it subsumes — the rewrite
    folds deltas) it runs AFTER the tagged epoch commit, moves no
    logical data, and is crash-safe: a replayed epoch re-clusters
    harmlessly.
    """

    if merge_mode not in ("row", "partial", "aggregate"):
        raise ValueError(f"unknown merge_mode {merge_mode!r}")
    if merge_mode == "aggregate" and not agg_specs:
        raise ValueError("merge_mode='aggregate' requires agg_specs")

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        if event_transform is not None:
            batch_df = event_transform(batch_df)
        table = IceboxTable.load(spark, table_root)
        # columnar modes REQUIRE in-order epochs (see module docstring);
        # on a stream the ordered-transport contract is load-bearing, so
        # disorder refuses loudly (enforce_order) instead of silently
        # risking the mixed-lsn columnar fold — replayed epochs are tag
        # no-ops and never trip it
        if merge_mode == "partial":
            table = apply_batch_partial(
                table,
                batch_df,
                batch_id=epoch_id,
                tag_prefix=f"stream:{query_name}",
                merge_strategy=merge_strategy,
                enforce_order=True,
            )
        elif merge_mode == "aggregate":
            table = apply_batch_agg(
                table,
                batch_df,
                batch_id=epoch_id,
                specs=agg_specs,
                tag_prefix=f"stream:{query_name}",
                merge_strategy=merge_strategy,
                enforce_order=True,
            )
        else:
            table = apply_batch(
                table,
                batch_df,
                batch_id=epoch_id,
                tag_prefix=f"stream:{query_name}",
                merge_strategy=merge_strategy,
                quarantine_dir=quarantine_dir,
                expectations=expectations,
            )
        if dedup_index is not None:
            import pyspark.sql.functions as F

            from .apply import lww_dedup

            winners = lww_dedup(batch_df, key=table.key, strategy="agg").filter(
                F.lower(F.col("op")) != "delete"
            )
            docs = winners.select(
                F.col(table.key).alias(dedup_index.id_col),
                F.concat_ws(" ", dedup_text_col).alias(dedup_index.text_col),
            )
            dedup_index.apply_batch(docs, f"stream:{query_name}:{epoch_id}")
            if dedup_compact_segments is not None:
                dedup_index.compact_if_needed(dedup_compact_segments)
        for mv in materialized_views or ():
            mv.refresh()  # cursor reloads the source; O(epoch changes)
            if view_compact_ratio is not None:
                mv.maintain(view_compact_ratio)
        if split_rows is not None:
            table = table.split_if_needed(max_rows_per_bucket=split_rows)
        if compact_ratio is not None:
            table = table.compact_if_needed(ratio=compact_ratio)
        if lineage_max_paths is not None:
            # bounds the manifest's O(#commits) lineage-path growth on a
            # long stream (compact_lineage: driver-side fold, no Spark
            # job, crash-safe like compaction)
            table = table.compact_lineage(max_paths=lineage_max_paths)
        if cluster_cols is not None and (epoch_id + 1) % cluster_every == 0:
            table.rewrite_clustered(
                list(cluster_cols),
                files_per_bucket=cluster_files_per_bucket,
            )

    reader = spark.readStream.schema(events_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_path)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    if await_all:
        q.awaitTermination()
    return q
