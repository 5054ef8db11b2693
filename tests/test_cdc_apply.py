"""Replay-equivalence suite: engine final state == pandas oracle,
per-row token-array equality (SURVEY §5.2 suite 1)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_pipeline_spark.cdc import apply_batch, replay_log
from data_pipeline_spark.gen import gen_base_table, gen_event_log
from data_pipeline_spark.icebox import IceboxTable

from .oracle import assert_tables_equal, replay_oracle

BASE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
    ]
)
PAYLOAD = ["doc_id", "tokens", "n_tok", "source"]


def _engine_final(spark, tdir, log_df, n_buckets=8):
    root = os.path.join(tdir, "table")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=n_buckets)
    t = replay_log(t, log_df)
    return t


def _check(spark, tdir, log_df, **kw):
    t = _engine_final(spark, tdir, log_df, **kw)
    actual = t.read().select(*[f.name for f in t.schema.fields]).toPandas()
    expected = replay_oracle(log_df.toPandas(), PAYLOAD)
    cols = list(actual.columns)
    assert_tables_equal(actual[cols], expected[cols] if len(expected) else expected.reindex(columns=cols))
    return t


def test_replay_matches_oracle_basic(spark, tdir):
    log = gen_event_log(spark, n_events=2000, n_docs=300, batch_size=500, partitions=4)
    _check(spark, tdir, log)


def test_replay_matches_oracle_heavy_deletes(spark, tdir):
    log = gen_event_log(
        spark, n_events=1500, n_docs=100, batch_size=400,
        delete_frac=0.4, insert_frac=0.3, update_frac=0.2, partitions=4,
    )
    _check(spark, tdir, log)


def test_replay_matches_oracle_skewed(spark, tdir):
    log = gen_event_log(
        spark, n_events=2000, n_docs=200, batch_size=1000, hot_frac=0.5, partitions=4,
    )
    t = _check(spark, tdir, log)
    # the hot key must have exactly one surviving row (or none if deleted)
    hot = t.read().filter(F.col("doc_id") == "doc_00000000").count()
    assert hot in (0, 1)


def test_single_batch_equals_multi_batch(spark, tdir):
    """Batch boundaries must not change the final state."""
    log = gen_event_log(spark, n_events=1200, n_docs=150, batch_size=300, partitions=4)
    as_one = log.withColumn("batch_id", F.lit(0))
    t1 = _engine_final(spark, os.path.join(tdir, "a"), log)
    t2 = _engine_final(spark, os.path.join(tdir, "b"), as_one)
    p1 = t1.read().toPandas()
    p2 = t2.read().toPandas()
    assert_tables_equal(p1, p2)


def test_lineage_counters(spark, tdir):
    log = gen_event_log(spark, n_events=1000, n_docs=120, batch_size=250, partitions=4)
    t = _engine_final(spark, tdir, log)
    lin = t.read_lineage().toPandas()
    # every event is accounted for exactly once
    assert lin["events_applied"].sum() == 1000
    # watermark of the last batch is the max lsn
    assert lin["lsn_watermark"].max() == 999
    # upserts never exceed events
    assert (lin["rows_upserted"] <= lin["events_applied"]).all()
    assert set(lin["batch_id"]) == {0, 1, 2, 3}


def test_generator_scales_to_design_magnitude(spark):
    """The binlog generator must be pure f(ordinal) over spark.range —
    planning a 10^10-event log must not materialize anything on the
    driver, and executing a thin slice of it must work (the design-scale
    claim in BASELINE.md is this property, not a faked full run)."""
    big = gen_event_log(spark, 10_000_000_000, 1_000_000_000, batch_size=100_000_000)
    assert big.limit(3).count() == 3
    row = big.filter(F.col("lsn") == 9_999_999_999).collect()
    assert len(row) == 1 and row[0]["batch_id"] == 99


def test_malformed_events_rejected(spark, tdir):
    """Unknown op / null lsn must fail the batch loudly, not corrupt the
    table (the engine's version of the reference's row-validity guards,
    grid-and-attrs/footprint.js:88-103 — upgraded from skip to refuse)."""
    from data_pipeline_spark.cdc import apply_batch

    root = os.path.join(tdir, "tbad")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    bad = spark.createDataFrame(
        [(1, "frobnicate", "doc_1", [1], 1, "s"), (2, "insert", "doc_2", [2], 1, "s")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(ValueError, match="unknown op"):
        apply_batch(t, bad, 0)
    # table unchanged (no snapshot advanced)
    assert IceboxTable.load(spark, root).snapshot_id == 0
