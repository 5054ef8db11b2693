"""Metadata tables (snapshots()/files(), the Iceberg t$snapshots /
t$files analog), commit timestamps, age-based snapshot expiry, and the
validate() integrity check."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F

from data_pipeline_spark.cdc import replay_log
from data_pipeline_spark.gen import gen_event_log
from data_pipeline_spark.icebox import IceboxTable
from data_pipeline_spark.sql import register_metadata

from .test_cdc_apply import BASE_SCHEMA


def _mk(spark, tdir, merge_strategy="delta"):
    log = gen_event_log(spark, n_events=600, n_docs=80, batch_size=200,
                        partitions=4)
    t = IceboxTable.create(
        spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4
    )
    return replay_log(t, log, merge_strategy=merge_strategy)


def test_snapshots_table_shape_and_lineage(spark, tdir):
    t = _mk(spark, tdir)
    t.set_ref("pin")
    snaps = t.snapshots().orderBy("snapshot_id").collect()
    # create + 3 batches
    assert [r["snapshot_id"] for r in snaps] == [0, 1, 2, 3]
    assert [r["parent_id"] for r in snaps] == [None, 0, 1, 2]
    assert snaps[0]["operation"] == "create"
    assert all(r["operation"] == "merge" for r in snaps[1:])
    assert sum(r["is_current"] for r in snaps) == 1 and snaps[-1]["is_current"]
    assert snaps[-1]["refs"] == ["pin"]
    ts = [r["committed_at"] for r in snaps]
    assert all(b >= a for a, b in zip(ts, ts[1:]))  # monotone commit times
    assert time.time() - 300 < ts[-1] <= time.time()


def test_files_table_accounts_every_parquet_byte(spark, tdir):
    import glob

    t = _mk(spark, tdir, merge_strategy="auto")
    files = t.files().collect()
    assert files and all(r["kind"] == "base" for r in files)
    on_disk = {
        os.path.relpath(p, t.root): os.path.getsize(p)
        for p in glob.glob(os.path.join(t.root, "data", "**", "*.parquet"),
                           recursive=True)
    }
    # the CURRENT snapshot references a subset of on-disk files (older
    # snapshots keep theirs until expiry); every listed file must exist
    # with the exact size
    got = {r["path"]: r["bytes"] for r in files}
    assert set(got) <= set(on_disk)
    assert all(on_disk[p] == b for p, b in got.items())
    # delta commits show up as delta-kind rows
    t2 = _mk(spark, os.path.join(tdir, "d"))
    kinds = {r["kind"] for r in t2.files().collect()}
    assert any(k.startswith("delta-") for k in kinds)


def test_register_metadata_sql_surface(spark, tdir):
    t = _mk(spark, tdir)
    register_metadata(t, "tm")
    n = spark.sql(
        "SELECT count(*) c FROM tm__snapshots WHERE operation = 'merge'"
    ).first()["c"]
    assert n == 3
    total = spark.sql("SELECT sum(bytes) s FROM tm__files").first()["s"]
    assert total and total > 0


def test_partitions_table_rollup(spark, tdir):
    """partitions(): per-bucket base/delta accounting must reconcile
    with the manifest and files(), and the delta read-tax must reset
    after compaction."""
    t = _mk(spark, tdir)  # delta strategy: 3 delta commits, no base
    p = {r["bucket"]: r for r in t.partitions().collect()}
    assert p  # every touched bucket present
    want_delta = {}
    for d in t.manifest["deltas"]:
        for b, n in d["bucket_rows"].items():
            want_delta[int(b)] = want_delta.get(int(b), 0) + int(n)
    assert {b: r["delta_rows"] for b, r in p.items()} == want_delta
    assert all(r["delta_commits"] >= 1 for r in p.values())
    # SQL surface
    register_metadata(t, "tp")
    assert spark.sql(
        "SELECT sum(delta_rows) s FROM tp__partitions"
    ).first()["s"] == sum(want_delta.values())

    t2 = t.compact_if_needed(ratio=0.0)
    p2 = {r["bucket"]: r for r in t2.partitions().collect()}
    assert all(r["delta_commits"] == 0 for r in p2.values())
    # post-compaction base bytes/files reconcile with files()
    fl = t2.files().groupBy("bucket").agg(
        F.sum("bytes").alias("b"), F.count("*").alias("n")
    ).collect()
    for r in fl:
        assert p2[r["bucket"]]["base_bytes"] == r["b"]
        assert p2[r["bucket"]]["base_files"] == r["n"]


def test_compact_lineage_bounds_manifest_and_reclaims(spark, tdir):
    """compact_lineage folds the per-batch lineage dirs into one
    (read_lineage identical, manifest list bounded); superseded dirs are
    reclaimed once the manifests referencing them expire — lineage
    subdirs are expiry-tracked individually."""
    t = _mk(spark, tdir)  # 3 batches -> 3 lineage dirs
    assert len(t.manifest["lineage_paths"]) == 3
    before = sorted(map(tuple, t.read_lineage().collect()))
    lin_dir = os.path.join(t.root, "data", "lineage")
    n_sub_before = len(os.listdir(lin_dir))

    assert t.compact_lineage(max_paths=8) is t  # under budget: no-op
    t = t.compact_lineage(max_paths=2)
    assert len(t.manifest["lineage_paths"]) == 1
    assert t.manifest["summary"] == {
        "operation": "compact_lineage", "folded": 3, "bucket_ids": [],
    }
    assert sorted(map(tuple, t.read_lineage().collect())) == before
    # old dirs still on disk (older manifests reference them)...
    assert len(os.listdir(lin_dir)) == n_sub_before + 1
    # ...and reclaimed exactly once those manifests expire (exact
    # removal — no grace needed for expired-referenced dirs)
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_manifests"] >= 3
    assert os.listdir(lin_dir) == [
        t.manifest["lineage_paths"][0].split(os.sep)[2]
    ]
    assert sorted(map(tuple, t.read_lineage().collect())) == before
    # a fresh unreferenced lineage subdir (concurrent commit mid-write)
    # survives the default grace
    staged = os.path.join(lin_dir, "snap-99999999-feedface")
    os.makedirs(staged)
    res = t.expire_snapshots(keep_last=1)
    assert os.path.isdir(staged) and res["skipped_orphans"] >= 1
    os.rmdir(staged)

    # two-level steady state: more batches -> tail folds into a NEW
    # segment, the prior segment is NOT rewritten (non-quadratic I/O)
    seg0 = t.manifest["lineage_paths"][0]
    log2 = (
        gen_event_log(spark, n_events=600, n_docs=80, batch_size=200,
                      partitions=4)
        .withColumn("lsn", F.col("lsn") + 10_000)
        .withColumn("batch_id", F.col("batch_id") + 3)
    )
    from data_pipeline_spark.cdc import replay_log as _rl
    t = _rl(t, log2, merge_strategy="delta")
    t = t.compact_lineage(max_paths=2)
    ps = t.manifest["lineage_paths"]
    assert ps[0] == seg0 and len(ps) == 2  # old segment untouched
    assert t.read_lineage().select("batch_id").distinct().count() == 6

    # retention: a refold under retention_batches drops old batches
    t2 = t.compact_lineage(max_paths=1, retention_batches=0)
    assert t2.read_lineage().select("batch_id").distinct().count() == 1


def test_expire_older_than_keeps_recent(spark, tdir):
    t = _mk(spark, tdir)
    # cutoff BEFORE every commit: nothing but keep_last applies → age
    # axis keeps everything newer than the cutoff
    stats = t.expire_snapshots(keep_last=1, older_than=time.time() - 3600)
    assert stats["removed_manifests"] == 0
    # cutoff in the future: age protects nothing, keep_last=1 prunes
    stats = t.expire_snapshots(keep_last=1, older_than=time.time() + 3600)
    assert stats["removed_manifests"] == 3  # create + batches 0,1


def test_validate_clean_and_sabotaged(spark, tdir):
    import shutil

    t = _mk(spark, tdir, merge_strategy="auto")
    rep = t.validate(deep=True)
    assert rep["ok"] and not rep["missing"] and not rep["mismatched"]
    # compaction-free CoW table: every older dir is still referenced by
    # a retained manifest → no orphans
    assert rep["orphan_dirs"] == []
    # sabotage: remove one referenced bucket dir
    victim = next(
        e["path"] for e in t.manifest["buckets"].values()
        if e.get("path") is not None
    )
    shutil.rmtree(os.path.join(t.root, victim))
    rep = t.validate()
    assert not rep["ok"] and victim in rep["missing"]


def test_validate_detects_orphans_after_unclean_stage(spark, tdir):
    t = _mk(spark, tdir)
    orphan = os.path.join(t.root, "data", "snap-zzorphan")
    os.makedirs(orphan)
    rep = t.validate()
    assert rep["orphan_dirs"] == ["snap-zzorphan"]
    # expiry reclaims it
    t.expire_snapshots(keep_last=10_000, orphan_grace=0)
    assert not os.path.exists(orphan)
    assert t.validate()["orphan_dirs"] == []
