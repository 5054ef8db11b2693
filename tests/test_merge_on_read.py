"""Merge-on-read delta path, compaction, bucket-pruned merges, space
reclamation, and commit-race hardening.

The MoR path exists because copy-on-write is the one genuine 100 TB
blocker: a uniformly-spread micro-batch touches every bucket and CoW then
rewrites the whole table per batch. Delta commits write O(batch) bytes;
these tests pin that property plus read-equivalence with CoW.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from data_pipeline_spark.cdc import apply_batch, replay_log
from data_pipeline_spark.gen import gen_event_log
from data_pipeline_spark.icebox import IceboxTable
from data_pipeline_spark.icebox.table import ConcurrentCommitError

from .oracle import assert_tables_equal
from .test_cdc_apply import BASE_SCHEMA, PAYLOAD


def _delta_rows(t: IceboxTable) -> int:
    return sum(
        sum(d["bucket_rows"].values()) for d in t.manifest.get("deltas") or []
    )


def _base_rows(t: IceboxTable) -> int:
    return sum(e.get("rows", 0) for e in t.manifest["buckets"].values())


def _n_data_files(t: IceboxTable) -> int:
    paths = [e["path"] for e in t.manifest["buckets"].values() if e.get("path")]
    paths += [d["path"] for d in t.manifest.get("deltas") or []]
    n = 0
    for p in paths:
        d = os.path.join(t.root, p)
        n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return n


def test_delta_replay_equals_cow_replay(spark, tdir):
    log = gen_event_log(spark, n_events=2000, n_docs=250, batch_size=500, partitions=4)
    t_cow = replay_log(
        IceboxTable.create(spark, os.path.join(tdir, "cow"), BASE_SCHEMA, n_buckets=8),
        log,
    )
    t_mor = replay_log(
        IceboxTable.create(spark, os.path.join(tdir, "mor"), BASE_SCHEMA, n_buckets=8),
        log,
        merge_strategy="delta",
    )
    assert_tables_equal(
        t_cow.read().select(*PAYLOAD).toPandas(),
        t_mor.read().select(*PAYLOAD).toPandas(),
    )
    # the whole point: delta commits never rewrote the base
    assert _base_rows(t_mor) == 0
    # per-batch write cost is O(batch): total delta rows ≤ total winners
    # (≤ one row per (batch, key)), never O(table × batches)
    assert _delta_rows(t_mor) <= 2000


def test_delta_write_amplification_is_batch_sized(spark, tdir):
    """Delta commit k writes ~|batch k| rows even when every bucket is
    touched AND the standing table is ~15× a batch — so an
    O(table)-per-commit regression (rewriting merged state into the
    delta dir) overshoots the bound by an order of magnitude instead of
    hiding under it (a fixture with n_docs ≤ batch_size cannot catch
    that regression: whole-table ≈ batch there)."""
    seed = gen_event_log(spark, n_events=4000, n_docs=2000, batch_size=4000,
                         partitions=4)
    inc = gen_event_log(spark, n_events=400, n_docs=2000, batch_size=100,
                        partitions=4)
    t = IceboxTable.create(spark, os.path.join(tdir, "t"), BASE_SCHEMA,
                           n_buckets=8)
    t = apply_batch(t, seed, "seed", merge_strategy="delta")
    assert t.read().count() > 1500  # standing table >> every later batch
    per_commit = []
    prev = _delta_rows(t)
    for b in range(4):
        t = apply_batch(
            t, inc.filter(F.col("batch_id") == b), f"inc{b}",
            merge_strategy="delta",
        )
        now = _delta_rows(t)
        per_commit.append(now - prev)
        prev = now
    # each commit's written rows ≤ that batch's event count (post-dedup);
    # an O(table) write would be >1500 per commit
    assert all(0 < w <= 100 for w in per_commit), per_commit


def test_compaction_bounds_files_and_preserves_reads(spark, tdir):
    """20 delta batches with periodic compaction: file count stays bounded
    and reads are unchanged by compaction."""
    log = gen_event_log(spark, n_events=2000, n_docs=150, batch_size=100, partitions=4)
    t = IceboxTable.create(spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4)
    max_files = 0
    for b in range(20):
        t = apply_batch(
            t, log.filter(F.col("batch_id") == b), b, merge_strategy="delta"
        )
        if b % 5 == 4:
            before = t.read().orderBy("doc_id").toPandas()
            t = t.compact_if_needed(ratio=0.5)
            after = t.read().orderBy("doc_id").toPandas()
            assert_tables_equal(before, after)
        max_files = max(max_files, _n_data_files(t))
    # without compaction: ≥ 20 batches × 4 buckets = 80 delta files;
    # with it the live file count stays bounded
    assert max_files < 40
    # final state still matches a clean CoW replay
    t_cow = replay_log(
        IceboxTable.create(spark, os.path.join(tdir, "cow"), BASE_SCHEMA, n_buckets=4),
        log,
    )
    assert_tables_equal(
        t_cow.read().select(*PAYLOAD).toPandas(),
        t.read().select(*PAYLOAD).toPandas(),
    )


def test_merge_reads_only_touched_buckets(spark, tdir):
    """Partition-pruning proof by sabotage: corrupt the parquet files of
    every bucket the batch does NOT touch — if any merge or stats job
    scanned them, the apply would fail."""
    target_doc = "doc_7"
    b7 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(target_doc)), F.lit(8)).cast("int").alias("b")
    ).collect()[0]["b"]
    ev = spark.createDataFrame(
        [(1000, "update", target_doc, [9, 9], 2, "s2")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    docs = [(f"doc_{i}", [i], 1, "s") for i in range(64)]

    for strategy in ("join", "shuffle", "delta"):
        root = os.path.join(tdir, strategy)
        t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=8)
        t = t.overwrite_all(spark.createDataFrame(docs, BASE_SCHEMA))
        for b, e in t.manifest["buckets"].items():
            if int(b) == b7:
                continue
            bdir = os.path.join(root, e["path"])
            for f in os.listdir(bdir):
                if f.endswith(".parquet"):
                    with open(os.path.join(bdir, f), "wb") as fh:
                        fh.write(b"corrupt")
        t2 = apply_batch(t, ev, 0, merge_strategy=strategy)
        got = t2.read(buckets=[b7]).filter(F.col("doc_id") == target_doc).collect()
        assert [r["tokens"] for r in got] == [[9, 9]], strategy


def test_expire_reclaims_space_for_cdc_tables(spark, tdir):
    """expire_snapshots must actually delete superseded bucket data for
    tables maintained by apply_batch (lineage lives outside snapshot
    dirs, so old snap dirs become unreferenced)."""
    log = gen_event_log(spark, n_events=1200, n_docs=100, batch_size=200, partitions=4)
    t = replay_log(
        IceboxTable.create(spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4),
        log,
    )
    before = t.read().orderBy("doc_id").toPandas()
    res = t.expire_snapshots(keep_last=2)
    assert res["removed_dirs"] > 0, "CoW-superseded snapshot dirs must be reclaimed"
    t2 = IceboxTable.load(spark, t.root)
    assert_tables_equal(before, t2.read().orderBy("doc_id").toPandas())
    # lineage history survives expiration (it is the metrics table)
    assert t2.read_lineage().count() == t.read_lineage().count()


def test_schema_evolution_through_delta_path(spark, tdir):
    """Column-add arriving in a delta batch: older base/delta files read
    back conformed (null-filled) through the MoR merge."""
    from pyspark.sql.types import StructType

    schema_no_src = StructType([f for f in BASE_SCHEMA.fields if f.name != "source"])
    t = IceboxTable.create(spark, os.path.join(tdir, "t"), schema_no_src, n_buckets=4)
    b0 = spark.createDataFrame(
        [(1, "insert", "a", [1], 1), (2, "insert", "b", [2], 1)],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int",
    )
    t = apply_batch(t, b0, 0, merge_strategy="delta")
    b1 = spark.createDataFrame(
        [(3, "update", "a", [1, 1], 2, "web")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    t = apply_batch(t, b1, 1, merge_strategy="delta")
    rows = {r["doc_id"]: (r["tokens"], r["source"]) for r in t.read().collect()}
    assert rows == {"a": ([1, 1], "web"), "b": ([2], None)}


def test_rejected_batch_leaves_no_schema_evolution(spark, tdir):
    """A batch that fails validation must not leave its schema evolution
    behind to ride along with the next commit."""
    t = IceboxTable.create(spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4)
    bad = spark.createDataFrame(
        [(1, "frobnicate", "a", [1], 1, "s", "sneaky")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, "
        "source string, extra_col string",
    )
    with pytest.raises(ValueError, match="unknown op"):
        apply_batch(t, bad, 0)
    assert "extra_col" not in [f.name for f in t.schema.fields]
    assert t.manifest["current_schema_id"] == 0


def test_null_key_rejected(spark, tdir):
    t = IceboxTable.create(spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4)
    bad = spark.createDataFrame(
        [(1, "insert", None, [1], 1, "s"), (2, "insert", "b", [2], 1, "s")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(ValueError, match="null doc_id"):
        apply_batch(t, bad, 0)
    assert IceboxTable.load(spark, t.root).snapshot_id == 0


def test_commit_race_single_winner_without_precheck(spark, tdir):
    """The TOCTOU hole: two writers both pass _check_current, then race
    the manifest write. The exclusive snapshot-file publish must let
    exactly one win even with the advisory check disabled."""
    root = os.path.join(tdir, "t")
    IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t1 = IceboxTable.load(spark, root)
    t2 = IceboxTable.load(spark, root)
    t1._check_current = lambda: None
    t2._check_current = lambda: None
    df = spark.createDataFrame([("a", [1], 1, "s")], BASE_SCHEMA)
    t1.overwrite_all(df)  # wins
    with pytest.raises(ConcurrentCommitError):
        t2.overwrite_all(df)  # same snapshot name → exclusive create fails
    assert IceboxTable.load(spark, root).snapshot_id == 1


def test_rollback_restores_state_and_blocks_replay_confusion(spark, tdir):
    """Rollback to an earlier snapshot as a NEW commit: state equals the
    old snapshot, history stays append-only, and an already-applied tag
    remains a no-op after rollback (no accidental double-apply)."""
    log = gen_event_log(spark, n_events=900, n_docs=100, batch_size=300, partitions=4)
    t = IceboxTable.create(spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4)
    t = apply_batch(t, log.filter(F.col("batch_id") == 0), 0, merge_strategy="delta")
    sid_after_b0 = t.snapshot_id
    state_b0 = t.read().orderBy("doc_id").toPandas()
    t = apply_batch(t, log.filter(F.col("batch_id") == 1), 1, merge_strategy="delta")

    t = t.rollback(sid_after_b0)
    assert_tables_equal(t.read().orderBy("doc_id").toPandas(), state_b0)
    assert t.snapshot_id == sid_after_b0 + 2  # append-only chain

    # batch 1's tag is still committed → replay is a no-op (operator must
    # feed corrected data under a fresh tag)
    sid = t.snapshot_id
    t2 = apply_batch(t, log.filter(F.col("batch_id") == 1), 1, merge_strategy="delta")
    assert t2.snapshot_id == sid
    # a fresh tag applies cleanly on the rolled-back state
    t3 = apply_batch(
        t, log.filter(F.col("batch_id") == 1), "1-corrected", merge_strategy="delta"
    )
    assert t3.snapshot_id == sid + 1


def test_crashed_delta_commit_is_invisible_and_reclaimed(spark, tdir):
    """Torn MoR commit: delta files written but the manifest publish never
    happened. Two failure classes:
    * the PROCESS SURVIVES the failure (manifest write raised) — the
      fused apply's failure path deletes the staged dir EAGERLY, so no
      orphan lingers at all;
    * the process DIES mid-apply (no except-handler ran) — the orphan
      dir stays, referenced by no manifest, and expire_snapshots
      reclaims it.
    Either way the table is unchanged and the batch replays exactly once."""
    log = gen_event_log(spark, n_events=600, n_docs=80, batch_size=200, partitions=4)
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = apply_batch(t, log.filter(F.col("batch_id") == 0), 0, merge_strategy="delta")
    dirs_before = set(os.listdir(os.path.join(root, "data")))

    # failure injection: the manifest write raises AFTER data files land
    orig = IceboxTable._write_manifest
    IceboxTable._write_manifest = lambda self, m: (_ for _ in ()).throw(
        OSError("simulated crash before manifest publish")
    )
    try:
        with pytest.raises(OSError, match="simulated crash"):
            apply_batch(
                IceboxTable.load(spark, root),
                log.filter(F.col("batch_id") == 1),
                1,
                merge_strategy="delta",
            )
    finally:
        IceboxTable._write_manifest = orig

    # invisible: loader sees the pre-crash snapshot, reads are unchanged
    t2 = IceboxTable.load(spark, root)
    assert t2.snapshot_id == t.snapshot_id
    assert_tables_equal(
        t2.read().orderBy("doc_id").toPandas(), t.read().orderBy("doc_id").toPandas()
    )
    # surviving-process path: the staged dir was reclaimed EAGERLY
    assert set(os.listdir(os.path.join(root, "data"))) == dirs_before

    # hard-crash path: a process that died before the except-handler
    # leaves the staged dir — plant one exactly as stage_delta names them
    orphan = os.path.join(root, "data", "snap-99999999-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"torn")
    t3 = apply_batch(t2, log.filter(F.col("batch_id") == 1), 1, merge_strategy="delta")
    # grace=0: single-writer deployment, reclaim immediately. With the
    # default grace the fresh dir is indistinguishable from a concurrent
    # writer's staged-not-yet-committed delta and must survive:
    res = t3.expire_snapshots(keep_last=100)
    assert res["removed_dirs"] == 0 and res["skipped_orphans"] >= 1
    assert os.path.exists(orphan)
    res = t3.expire_snapshots(keep_last=100, orphan_grace=0)
    assert res["removed_dirs"] >= 1
    assert not os.path.exists(orphan)
    # replayed batch applied exactly once
    assert t3.read_lineage().toPandas()["events_applied"].sum() == 400


def test_fused_delta_rejects_malformed_and_cleans_staged_dir(spark, tdir):
    """The fused delta path stages files BEFORE validating; a rejected
    batch must delete the staged dir, roll back in-memory schema
    evolution, and advance no snapshot."""
    root = os.path.join(tdir, "tfbad")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    bad = spark.createDataFrame(
        [
            (1, "frobnicate", "doc_1", [1], 1, "s"),
            (2, "insert", "doc_2", [2], 1, "s"),
        ],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(ValueError, match="unknown op"):
        apply_batch(t, bad, 0, merge_strategy="delta")
    assert IceboxTable.load(spark, root).snapshot_id == 0
    # no orphan staged dir left behind
    assert os.listdir(os.path.join(root, "data")) == []


def test_fused_delta_empty_batch_commits_tag_only(spark, tdir):
    root = os.path.join(tdir, "tfe")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    empty = spark.createDataFrame(
        [],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    t = apply_batch(t, empty, 7, merge_strategy="delta")
    assert t.has_tag("batch:7")
    assert t.read().count() == 0
    assert _delta_rows(t) == 0
    # replay of the committed empty batch is still a no-op
    sid = t.snapshot_id
    t = apply_batch(t, empty, 7, merge_strategy="delta")
    assert t.snapshot_id == sid


def test_fused_delta_hidden_stats_columns_invisible(spark, tdir):
    """stage_delta writes _n_ev/_wm/_bad into the delta parquet; schema-
    projected reads (normal AND internal) must never surface them."""
    root = os.path.join(tdir, "tfh")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    ev = gen_event_log(spark, 400, 60, batch_size=400, partitions=2)
    t = apply_batch(t, ev, 0, merge_strategy="delta")
    assert set(t.read().columns) == {f.name for f in BASE_SCHEMA.fields}
    internal_cols = set(t.read(internal=True).columns)
    assert "_n_ev" not in internal_cols and "_bad" not in internal_cols
    # but the raw staged file does carry them (that is the fusion)
    dpath = os.path.join(root, t.manifest["deltas"][0]["path"])
    raw_cols = set(spark.read.parquet(dpath).columns)
    assert {"_n_ev", "_wm", "_bad"} <= raw_cols


def _keyed_batch(spark, lsn0, keys):
    rows = [(lsn0 + i, "upsert", k, [i], 1, "s") for i, k in enumerate(keys)]
    return spark.createDataFrame(
        rows,
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )


def test_keyed_read_skips_out_of_range_deltas(spark, tdir):
    """Manifest per-(delta, bucket) key bounds let a keyed read skip whole
    delta commits DRIVER-SIDE (the Iceberg lower/upper_bounds analog) —
    proven by corrupting every delta whose bounds exclude the probed keys:
    if the pruning didn't happen, the read would crash on the corrupt
    parquet."""
    t = IceboxTable.create(spark, os.path.join(tdir, "tkb"), BASE_SCHEMA, n_buckets=4)
    t = apply_batch(
        t, _keyed_batch(spark, 0, [f"a{i:03d}" for i in range(40)]), 0,
        merge_strategy="delta",
    )
    t = apply_batch(
        t, _keyed_batch(spark, 100, [f"m{i:03d}" for i in range(40)]), 1,
        merge_strategy="delta",
    )
    t = apply_batch(
        t, _keyed_batch(spark, 200, [f"z{i:03d}" for i in range(40)]), 2,
        merge_strategy="delta",
    )
    deltas = t.manifest["deltas"]
    assert len(deltas) == 3
    assert all(d.get("key_bounds") for d in deltas)
    # every probed key is lexically below both later deltas' bounds
    for d in deltas[1:]:
        ddir = os.path.join(t.root, d["path"])
        for f in os.listdir(ddir):
            if f.endswith(".parquet"):
                with open(os.path.join(ddir, f), "wb") as fh:
                    fh.write(b"corrupt")
    got = {r["doc_id"]: list(r["tokens"]) for r in t.lookup(["a005", "a017"]).collect()}
    assert got == {"a005": [5], "a017": [17]}


def test_keyed_read_without_bounds_is_conservative(spark, tdir):
    """Bounds are an optimization, never a correctness dependency: a delta
    entry with no key_bounds (older manifest, non-scalar key) must still
    be read by keyed lookups."""
    t = IceboxTable.create(spark, os.path.join(tdir, "tkc"), BASE_SCHEMA, n_buckets=4)
    t = apply_batch(
        t, _keyed_batch(spark, 0, [f"a{i:03d}" for i in range(20)]), 0,
        merge_strategy="delta",
    )
    for d in t.manifest["deltas"]:
        d.pop("key_bounds", None)  # simulate a pre-bounds manifest
    got = {r["doc_id"] for r in t.lookup(["a007"]).collect()}
    assert got == {"a007"}


def test_key_bounds_travel_through_compaction(spark, tdir):
    """commit_rewrite prunes compacted buckets out of surviving delta
    entries; their key_bounds must be pruned in lockstep (a stale bound
    for a dropped bucket would mis-skip after a later re-add)."""
    t = IceboxTable.create(spark, os.path.join(tdir, "tkt"), BASE_SCHEMA, n_buckets=4)
    t = apply_batch(
        t, _keyed_batch(spark, 0, [f"d{i:03d}" for i in range(60)]), 0,
        merge_strategy="delta",
    )
    live = sorted(int(b) for b in t.manifest["deltas"][0]["bucket_rows"])
    assert len(live) >= 2
    target = [live[0]]
    merged = t.read(buckets=target, internal=True).withColumn("_b", t.bucket_of())
    t = t.commit_rewrite(merged, target)
    for d in t.manifest.get("deltas") or []:
        assert set(d.get("key_bounds", {})) <= set(d["bucket_rows"])
        assert str(target[0]) not in d.get("key_bounds", {})
    # and lookups on both compacted and still-delta'd keys stay correct
    got = {r["doc_id"] for r in t.lookup([f"d{i:03d}" for i in range(60)]).collect()}
    assert got == {f"d{i:03d}" for i in range(60)}
