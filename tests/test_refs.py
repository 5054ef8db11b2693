"""Named refs (Iceberg tag analog): pinned snapshot anchors that
survive further commits AND snapshot expiry — the reproducible-corpus
primitive. Covers create/resolve/immutability/drop, load-by-ref time
travel, expiry protection of both manifest and data, and the SQL
surface's FOR VERSION AS OF '<ref>' form."""

from __future__ import annotations

import os

import pytest

from data_pipeline_spark.cdc import replay_log
from data_pipeline_spark.gen import gen_event_log
from data_pipeline_spark.icebox import IceboxTable
from data_pipeline_spark.sql import register

from .test_cdc_apply import BASE_SCHEMA


def _mk(spark, tdir, n_events=900, n_docs=120):
    log = gen_event_log(spark, n_events=n_events, n_docs=n_docs,
                        batch_size=300, partitions=4)
    t = IceboxTable.create(
        spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4
    )
    return replay_log(t, log, merge_strategy="delta")


def test_ref_pins_snapshot_across_commits(spark, tdir):
    t = _mk(spark, tdir)
    t.set_ref("corpus-v1")
    pinned_rows = t.read().count()
    pinned_sid = t.snapshot_id
    # keep mutating: compaction + another replayed batch
    t = t.compact_if_needed(ratio=0.0)
    more = gen_event_log(spark, n_events=400, n_docs=120, batch_size=400,
                         partitions=2)
    from data_pipeline_spark.cdc import apply_batch
    t = apply_batch(t, more.withColumn("batch_id", more.batch_id + 100),
                    batch_id=100, merge_strategy="delta")
    assert t.snapshot_id > pinned_sid
    back = IceboxTable.load(spark, t.root, ref="corpus-v1")
    assert back.snapshot_id == pinned_sid
    assert back.read().count() == pinned_rows


def test_ref_immutable_unless_overwrite(spark, tdir):
    t = _mk(spark, tdir, n_events=300, n_docs=40)
    t.set_ref("v1", snapshot_id=1)
    with pytest.raises(ValueError, match="already points"):
        t.set_ref("v1")
    t.set_ref("v1", overwrite=True)
    assert t.refs()["v1"] == t.snapshot_id
    assert t.drop_ref("v1") is True
    assert t.drop_ref("v1") is False
    assert t.refs() == {}


def test_ref_name_and_target_validation(spark, tdir):
    t = _mk(spark, tdir, n_events=300, n_docs=40)
    with pytest.raises(ValueError, match="invalid ref name"):
        t.set_ref("../escape")
    with pytest.raises(ValueError, match="does not exist"):
        t.set_ref("ok", snapshot_id=99)
    with pytest.raises(ValueError, match="unknown ref"):
        IceboxTable.load(spark, t.root, ref="never-made")


def test_expiry_preserves_refd_snapshot_and_data(spark, tdir):
    """expire_snapshots(keep_last=1) would normally drop everything but
    the head; a ref must keep its manifest AND the data dirs it
    references readable."""
    t = _mk(spark, tdir)
    t.set_ref("training-run")
    pinned_sid = t.snapshot_id
    expected = {
        r["doc_id"]: r["n_tok"] for r in t.read().collect()
    }
    # churn: compact (rewrites buckets into NEW dirs, so the pinned
    # snapshot's dirs become unreferenced by the head), then expire hard
    t = t.compact_if_needed(ratio=0.0)
    stats = t.expire_snapshots(keep_last=1)
    assert stats["removed_manifests"] > 0  # expiry did real work
    back = IceboxTable.load(spark, t.root, ref="training-run")
    assert back.snapshot_id == pinned_sid
    got = {r["doc_id"]: r["n_tok"] for r in back.read().collect()}
    assert got == expected
    # dropping the ref releases the pin: next expiry reclaims it
    t.drop_ref("training-run")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        IceboxTable.load(spark, t.root, snapshot_id=pinned_sid)


def test_sql_register_by_ref(spark, tdir):
    t = _mk(spark, tdir, n_events=300, n_docs=40)
    t.set_ref("v1")
    n_v1 = t.read().count()
    more = gen_event_log(spark, n_events=200, n_docs=80, batch_size=200,
                         partitions=2)
    from data_pipeline_spark.cdc import apply_batch
    t = apply_batch(t, more.withColumn("batch_id", more.batch_id + 50),
                    batch_id=50, merge_strategy="delta")
    register(t, "t_v1", ref="v1")
    register(t, "t_head")
    assert spark.sql("SELECT count(*) c FROM t_v1").first()["c"] == n_v1
    assert spark.sql("SELECT count(*) c FROM t_head").first()["c"] \
        == t.read().count()
