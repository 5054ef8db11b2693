"""Predicate / keyed deletes (cdc.delete): final state equals the
replay oracle with matches removed; purges are exactly-once, visible in
the change feed, resurrection-safe, and pruned to the keys' buckets."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from data_pipeline_spark.cdc import replay_log
from data_pipeline_spark.cdc.delete import delete_where, purge_keys
from data_pipeline_spark.gen import gen_event_log
from data_pipeline_spark.icebox import IceboxTable

from .oracle import assert_tables_equal, replay_oracle
from .test_cdc_apply import BASE_SCHEMA, PAYLOAD


def _replayed(spark, tdir, n_events=1500, n_docs=200, merge_strategy="delta"):
    log = gen_event_log(spark, n_events=n_events, n_docs=n_docs,
                        batch_size=500, partitions=4)
    t = IceboxTable.create(
        spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=8
    )
    t = replay_log(t, log, merge_strategy=merge_strategy)
    return t, replay_oracle(log.toPandas(), PAYLOAD)


def _final(t):
    return t.read().select(*PAYLOAD).toPandas()


def test_delete_where_matches_filter_oracle(spark, tdir):
    t, oracle = _replayed(spark, tdir)
    t = delete_where(t, "n_tok % 3 = 0", op_id="purge1")
    expected = oracle[~(oracle["n_tok"] % 3 == 0)].reset_index(drop=True)
    assert_tables_equal(_final(t), expected)
    # dead rows are tombstones until compaction folds them out
    t = t.compact_if_needed(ratio=0.0)
    assert_tables_equal(_final(t), expected)


def test_delete_where_column_predicate_and_cow(spark, tdir):
    """Column predicate + copy-on-write strategy path."""
    t, oracle = _replayed(spark, tdir, merge_strategy="auto")
    t = delete_where(t, F.col("source") == "s1", op_id=7,
                     merge_strategy="auto")
    expected = oracle[oracle["source"] != "s1"].reset_index(drop=True)
    assert_tables_equal(_final(t), expected)


def test_delete_where_no_match_is_noop_commit(spark, tdir):
    t, oracle = _replayed(spark, tdir, n_events=600, n_docs=80)
    t = delete_where(t, "n_tok < 0", op_id="never")
    assert_tables_equal(_final(t), oracle)
    # and the tag still sticks: a replay of the same op is a no-op
    sid = t.snapshot_id
    t = delete_where(t, "n_tok < 0", op_id="never")
    assert t.snapshot_id == sid


def test_purge_keys_removes_exactly_those_keys(spark, tdir):
    t, oracle = _replayed(spark, tdir)
    present = list(oracle["doc_id"].head(5))
    t = purge_keys(t, present + ["doc_nonexistent_a", "doc_nonexistent_b"],
                   op_id="gdpr1")
    expected = oracle[~oracle["doc_id"].isin(present)].reset_index(drop=True)
    assert_tables_equal(_final(t), expected)


def test_purge_exactly_once_replay(spark, tdir):
    t, oracle = _replayed(spark, tdir, n_events=800, n_docs=100)
    victims = list(oracle["doc_id"].head(3))
    t = purge_keys(t, victims, op_id="op42")
    sid = t.snapshot_id
    # crash-replay: same op_id applied again must be a pure no-op
    t2 = purge_keys(t, victims, op_id="op42")
    assert t2.snapshot_id == sid
    expected = oracle[~oracle["doc_id"].isin(victims)].reset_index(drop=True)
    assert_tables_equal(_final(t2), expected)


def test_deletes_flow_into_change_feed(spark, tdir):
    t, oracle = _replayed(spark, tdir, n_events=800, n_docs=100)
    pre = t.snapshot_id
    victims = sorted(oracle["doc_id"].head(4))
    t = purge_keys(t, victims, op_id="cf")
    chg = t.changes(pre)
    got = {(r["doc_id"], r["_change_type"]) for r in chg.collect()}
    assert got == {(k, "delete") for k in victims}


def test_later_write_resurrects_deleted_key(spark, tdir):
    """A delete is point-in-time: a LATER binlog event with a higher LSN
    re-inserts the key (documented contract in cdc/delete.py)."""
    from data_pipeline_spark.cdc import apply_batch

    t, oracle = _replayed(spark, tdir, n_events=600, n_docs=80)
    victim = oracle["doc_id"].iloc[0]
    t = delete_where(t, F.col("doc_id") == victim, op_id="d1")
    assert t.lookup([victim]).count() == 0
    big_lsn = 10_000_000
    ev = spark.createDataFrame(
        [(victim, "upsert", big_lsn, [9, 9, 9], 3, "resurrected")],
        "doc_id string, op string, lsn long, tokens array<int>, "
        "n_tok int, source string",
    )
    t = apply_batch(t, ev, batch_id=999, merge_strategy="delta")
    rows = t.lookup([victim]).collect()
    assert len(rows) == 1 and rows[0]["source"] == "resurrected"


def test_purge_reads_only_key_buckets(spark, tdir):
    """purge_keys must touch only the victims' buckets — proven by
    corrupting every other bucket's base files before the purge."""
    t, oracle = _replayed(spark, tdir, n_events=900, n_docs=120,
                          merge_strategy="auto")
    victims = list(oracle["doc_id"].head(2))
    key_buckets = {
        int(r["_b"])
        for r in spark.createDataFrame([(k,) for k in victims],
                                       "doc_id string")
        .select(t.bucket_of().alias("_b"))
        .collect()
    }
    for b, e in t.manifest["buckets"].items():
        if int(b) in key_buckets:
            continue
        bdir = os.path.join(t.root, e["path"])
        if not os.path.isdir(bdir):
            continue
        for f in os.listdir(bdir):
            if f.endswith(".parquet"):
                with open(os.path.join(bdir, f), "wb") as fh:
                    fh.write(b"corrupt")
    t = purge_keys(t, victims, op_id="pruned")
    assert t.lookup(victims).count() == 0
