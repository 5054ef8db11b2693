"""Optimistic-concurrency rebase-and-retry (Iceberg's commit-retry
analog): a writer that loses the manifest race replays its pending
commit on top of the winner instead of failing, whenever that is
provably safe — always for delta appends (they commute under LWW), and
for copy-on-write rewrites only across bucket-disjoint winners. Unsafe
rebases (overlapping buckets, concurrent split, diverging schema
evolution) must still raise ConcurrentCommitError.

Concurrency is simulated the honest way: two handles loaded at the SAME
snapshot, the first commits (making the second stale), then the second
commits with retry_on_conflict — exactly the interleaving two
independent ingest jobs / a compactor racing a stream produce."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from data_pipeline_spark.cdc import apply_batch
from data_pipeline_spark.cdc.aggregate import apply_batch_agg
from data_pipeline_spark.cdc.partial import apply_batch_partial
from data_pipeline_spark.icebox import IceboxTable
from data_pipeline_spark.icebox.table import ConcurrentCommitError, bucket_expr

from .oracle import assert_tables_equal
from .test_cdc_apply import BASE_SCHEMA

N_BUCKETS = 4


def _batch(spark, lsn0, rows):
    """rows: [(doc_id, tokens, n_tok, source)] -> upsert events."""
    ev = [(lsn0 + i, "upsert", *r) for i, r in enumerate(rows)]
    return spark.createDataFrame(
        ev,
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )


def _keys_by_bucket(spark) -> dict[int, list[str]]:
    cand = spark.createDataFrame(
        [(f"doc_{i:04d}",) for i in range(200)], "doc_id string"
    ).select("doc_id", bucket_expr(N_BUCKETS).alias("_b"))
    out: dict[int, list[str]] = {}
    for r in cand.collect():
        out.setdefault(int(r["_b"]), []).append(r["doc_id"])
    assert set(out) == set(range(N_BUCKETS))
    return out


@pytest.fixture()
def two_handles(spark, tdir):
    """Two independent handles of the same table at the same snapshot."""
    root = os.path.join(tdir, "t")
    a = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=N_BUCKETS)
    b = IceboxTable.load(spark, root)
    assert a.snapshot_id == b.snapshot_id
    return a, b


def _state(t: IceboxTable) -> dict:
    return {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in t.read().collect()
    }


def test_delta_retry_lands_both_writers(spark, two_handles):
    a, b = two_handles
    ba = _batch(spark, 100, [("a1", [1], 1, "s1"), ("a2", [2], 1, "s1")])
    bb = _batch(spark, 200, [("b1", [3], 1, "s2"), ("b2", [4], 1, "s2")])

    a2 = apply_batch(a, ba, "wa", merge_strategy="delta")
    # b is now stale; without retry this must fail ...
    with pytest.raises(ConcurrentCommitError):
        apply_batch(b, bb, "wb0", merge_strategy="delta")
    # ... and with retry it rebases and lands on top
    b2 = apply_batch(
        IceboxTable.load(spark, b.root),  # reload: the failed fused apply rolled back
        bb, "wb", merge_strategy="delta", retry_on_conflict=2,
    )
    assert b2.snapshot_id == a2.snapshot_id + 1
    final = IceboxTable.load(spark, a.root)
    assert set(_state(final)) == {"a1", "a2", "b1", "b2"}
    # both idempotency tags are durable
    assert {"batch:wa", "batch:wb"} <= set(final.manifest["committed_tags"])


def test_delta_retry_is_stale_handle_not_reloaded(spark, two_handles):
    """The common case: the stale handle itself retries (no manual
    reload) — rebase happens inside commit, data written once."""
    a, b = two_handles
    a2 = apply_batch(a, _batch(spark, 1, [("x", [1], 1, "s")]), 0,
                     merge_strategy="delta")
    b2 = apply_batch(b, _batch(spark, 2, [("y", [2], 1, "s")]), 1,
                     merge_strategy="delta", retry_on_conflict=1)
    assert b2.snapshot_id == 2
    assert set(_state(b2)) == {"x", "y"}


def test_delta_retry_lww_across_writers(spark, two_handles):
    """Two writers race on the SAME key: the final value is the higher
    LSN regardless of commit order (delta appends commute under LWW) —
    the property that makes the delta rebase unconditionally safe."""
    a, b = two_handles
    apply_batch(a, _batch(spark, 500, [("k", [5], 1, "hi")]), "hi",
                merge_strategy="delta")
    b2 = apply_batch(b, _batch(spark, 100, [("k", [1], 1, "lo")]), "lo",
                     merge_strategy="delta", retry_on_conflict=1)
    # the LOWER-lsn writer committed LAST; LWW must still pick lsn=500
    assert _state(b2)["k"] == ([5], 1, "hi")


def test_rewrite_retry_disjoint_buckets(spark, two_handles):
    a, b = two_handles
    kb = _keys_by_bucket(spark)
    ba = _batch(spark, 10, [(k, [1], 1, "s") for k in kb[0][:3]])
    bb = _batch(spark, 20, [(k, [2], 1, "s") for k in kb[1][:3]])

    a2 = apply_batch(a, ba, "wa", merge_strategy="shuffle")
    b2 = apply_batch(b, bb, "wb", merge_strategy="shuffle", retry_on_conflict=2)
    assert b2.snapshot_id == a2.snapshot_id + 1
    final = _state(IceboxTable.load(spark, a.root))
    assert set(final) == set(kb[0][:3]) | set(kb[1][:3])


def test_rewrite_retry_overlapping_buckets_refuses(spark, two_handles):
    """A CoW rewrite computed from a stale snapshot must NOT rebase past
    a winner that touched the same bucket — its contents would silently
    drop the winner's rows."""
    a, b = two_handles
    kb = _keys_by_bucket(spark)
    k1, k2 = kb[0][:2]  # same bucket, different keys
    apply_batch(a, _batch(spark, 10, [(k1, [1], 1, "s")]), "wa",
                merge_strategy="shuffle")
    with pytest.raises(ConcurrentCommitError, match="overlapping"):
        apply_batch(b, _batch(spark, 20, [(k2, [2], 1, "s")]), "wb",
                    merge_strategy="shuffle", retry_on_conflict=3)
    # the winner's row survived untouched
    assert set(_state(IceboxTable.load(spark, a.root))) == {k1}


def test_rewrite_retry_across_compaction_disjoint(spark, two_handles):
    """Compaction records its bucket ids, so a disjoint rewrite rebases
    across it."""
    a, b = two_handles
    kb = _keys_by_bucket(spark)
    a2 = apply_batch(a, _batch(spark, 1, [(kb[2][0], [9], 1, "s")]), 0,
                     merge_strategy="delta")
    a3 = a2.compact_if_needed(ratio=0.0)
    assert a3.manifest["summary"]["operation"] == "compact"
    b2 = apply_batch(b, _batch(spark, 2, [(kb[3][0], [8], 1, "s")]), 1,
                     merge_strategy="shuffle", retry_on_conflict=3)
    assert set(_state(b2)) == {kb[2][0], kb[3][0]}


def test_retry_same_tag_is_noop(spark, two_handles):
    """Two workers replay the SAME batch (same idempotency tag) from
    different handles: the loser's rebase discovers the tag already
    committed and returns the winner's state — never a double apply."""
    a, b = two_handles
    batch = _batch(spark, 1, [("dup", [1], 1, "s")])
    apply_batch(a, batch, "same", merge_strategy="delta")
    b2 = apply_batch(b, batch, "same", merge_strategy="delta",
                     retry_on_conflict=1)
    assert b2.manifest["committed_tags"].count("batch:same") == 1
    assert len(b2.manifest.get("deltas") or []) == 1  # one file set, not two
    assert _state(b2) == {"dup": ([1], 1, "s")}


def test_delta_retry_across_winner_schema_evolution(spark, two_handles):
    """Winner adds a column; the stale writer's staged files (old schema)
    rebase cleanly — their delta entry keeps the schema they were written
    with and reads conform (null-fill) through the evolved schema."""
    a, b = two_handles
    evolved = spark.createDataFrame(
        [(1, "insert", "a", [1], 1, "s", "en")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, "
        "source string, lang string",
    )
    apply_batch(a, evolved, 0, merge_strategy="delta")
    b2 = apply_batch(b, _batch(spark, 2, [("b", [2], 1, "s")]), 1,
                     merge_strategy="delta", retry_on_conflict=1)
    rows = {r["doc_id"]: r["lang"] for r in b2.read().collect()}
    assert rows == {"a": "en", "b": None}
    assert b2.manifest["current_schema_id"] == 1  # winner's evolution kept


def test_stale_writer_schema_evolution_survives_rebase(spark, two_handles):
    """The STALE side evolves (its batch adds a column) while the winner
    doesn't: the in-memory evolution must ride the rebase into the
    committed manifest, not be lost to the winner's schema list."""
    a, b = two_handles
    apply_batch(a, _batch(spark, 1, [("a", [1], 1, "s")]), 0,
                merge_strategy="delta")
    evolved = spark.createDataFrame(
        [(2, "insert", "b", [2], 1, "s", "de")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, "
        "source string, lang string",
    )
    b2 = apply_batch(b, evolved, 1, merge_strategy="delta", retry_on_conflict=1)
    assert b2.manifest["current_schema_id"] == 1
    rows = {r["doc_id"]: r["lang"] for r in b2.read().collect()}
    assert rows == {"a": None, "b": "de"}


def test_retry_refuses_concurrent_split(spark, two_handles):
    """A concurrent bucket split changes what `_b` means — staged files
    from the old layout must never be republished."""
    a, b = two_handles
    a2 = apply_batch(a, _batch(spark, 1, [("x", [1], 1, "s")]), 0,
                     merge_strategy="delta")
    a2.split_buckets(factor=2)
    with pytest.raises(ConcurrentCommitError, match="layout"):
        apply_batch(b, _batch(spark, 2, [("y", [2], 1, "s")]), 1,
                    merge_strategy="delta", retry_on_conflict=3)


def test_retry_exhaustion_raises(spark, two_handles):
    """retry_on_conflict=0 keeps the old fail-fast contract."""
    a, b = two_handles
    apply_batch(a, _batch(spark, 1, [("x", [1], 1, "s")]), 0,
                merge_strategy="delta")
    with pytest.raises(ConcurrentCommitError):
        apply_batch(b, _batch(spark, 2, [("y", [2], 1, "s")]), 1,
                    merge_strategy="delta")


def test_delta_retry_matches_sequential_oracle(spark, tdir):
    """Interleaved writers with retries == one writer applying all
    batches in LSN order (the commute property, end-to-end): final state
    compared row-for-row including token arrays."""
    root_r = os.path.join(tdir, "race")
    root_s = os.path.join(tdir, "seq")
    tr = IceboxTable.create(spark, root_r, BASE_SCHEMA, n_buckets=N_BUCKETS)
    ts = IceboxTable.create(spark, root_s, BASE_SCHEMA, n_buckets=N_BUCKETS)

    batches = [
        _batch(spark, 100 * i, [(f"d{j % 7}", [i, j], 2, f"s{i}") for j in range(5)])
        for i in range(1, 5)
    ]
    # sequential referee
    for i, bt in enumerate(batches):
        ts = apply_batch(ts, bt, i, merge_strategy="delta")
    # racing writers: every batch applied from a handle pinned at snapshot 0
    handles = [IceboxTable.load(spark, root_r) for _ in batches]
    for i, (h, bt) in enumerate(zip(handles, batches)):
        apply_batch(h, bt, i, merge_strategy="delta",
                    retry_on_conflict=len(batches))
    tr = IceboxTable.load(spark, root_r)
    assert_tables_equal(tr.read().toPandas(), ts.read().toPandas())


def _stage_one(spark, t):
    rows = spark.createDataFrame([("z", [9], 1, "s")], BASE_SCHEMA)
    staged = t.stage_delta(
        rows.withColumn("_b", t.bucket_of())
        .withColumn("_lsn", F.lit(999).cast("long"))
        .withColumn("_tombstone", F.lit(False))
    )
    return t.commit_staged_delta(staged, {0: 1}, tag="stale")


def _rewrite_all(spark, t):
    rows = spark.createDataFrame([("z", [9], 1, "s")], BASE_SCHEMA)
    return t.commit_rewrite(
        rows.withColumn("_b", t.bucket_of()), list(range(N_BUCKETS))
    )


STALE_OPS = {
    "commit_staged_delta": _stage_one,
    "commit_rewrite": _rewrite_all,
    "rename_column": lambda spark, t: t.rename_column("source", "src"),
    "drop_column": lambda spark, t: t.drop_column("source"),
    "rollback": lambda spark, t: t.rollback(0),
    "analyze": lambda spark, t: t.analyze(),
    "compact_lineage": lambda spark, t: t.compact_lineage(max_paths=1),
}


@pytest.mark.parametrize("op", sorted(STALE_OPS))
def test_stale_handle_loses_every_snapshot_op(spark, tdir, op):
    """Every snapshot-producing op goes through the one publish path, so
    each refuses from a stale handle the same way: ConcurrentCommitError,
    CURRENT and the manifest chain untouched, and a reload sees the
    winner. The table carries two unanalyzed delta commits with lineage,
    so analyze and compact_lineage(max_paths=1) have work to publish."""
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=N_BUCKETS)
    for i in range(2):
        t = apply_batch(t, _batch(spark, 10 * i, [(f"d{i}", [i], 1, "s")]), i,
                        merge_strategy="delta")
    assert all(d.get("col_bounds") is None for d in t.manifest["deltas"])
    stale = IceboxTable.load(spark, root)
    winner = apply_batch(IceboxTable.load(spark, root),
                         _batch(spark, 100, [("w", [7], 1, "s")]), "win",
                         merge_strategy="delta")
    meta = os.path.join(root, "metadata")

    def chain():
        with open(os.path.join(meta, "CURRENT")) as f:
            return f.read(), sorted(
                n for n in os.listdir(meta)
                if n.startswith("snap-") and n.endswith(".json")
            )

    before = chain()
    with pytest.raises(ConcurrentCommitError):
        STALE_OPS[op](spark, stale)
    assert chain() == before
    fresh = IceboxTable.load(spark, root)
    assert fresh.snapshot_id == winner.snapshot_id
    assert fresh.manifest["committed_tags"] == winner.manifest["committed_tags"]
    assert set(_state(fresh)) == {"d0", "d1", "w"}


ENGINES = {
    "row-delta": lambda t, ev: apply_batch(t, ev, "wb", merge_strategy="delta"),
    "row-shuffle": lambda t, ev: apply_batch(t, ev, "wb", merge_strategy="shuffle"),
    "row-join": lambda t, ev: apply_batch(t, ev, "wb", merge_strategy="join"),
    "partial-delta": lambda t, ev: apply_batch_partial(
        t, ev, "wb", merge_strategy="delta"),
    "partial-shuffle": lambda t, ev: apply_batch_partial(
        t, ev, "wb", merge_strategy="shuffle"),
    "aggregate-delta": lambda t, ev: apply_batch_agg(
        t, ev, "wb", {"n_tok": "sum"}, merge_strategy="delta"),
}


@pytest.mark.parametrize("engine", sorted(ENGINES))
def test_failed_apply_rolls_back_schema_on_every_engine(spark, two_handles, engine):
    """Schema-evolution rollback holds for every engine and strategy: a
    stale handle applies a batch that adds a column, loses the commit
    race with ConcurrentCommitError, and keeps its pre-batch schema."""
    a, b = two_handles
    apply_batch(a, _batch(spark, 100, [("a1", [1], 1, "s1")]), "wa",
                merge_strategy="delta")
    schema, schemas = b.schema, dict(b.manifest["schemas"])
    ev = _batch(spark, 200, [("b1", [2], 1, "s2")]).withColumn("lang", F.lit("en"))
    with pytest.raises(ConcurrentCommitError):
        ENGINES[engine](b, ev)
    assert b.schema == schema
    assert b.manifest["schemas"] == schemas
