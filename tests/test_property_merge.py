"""Property-based replay equivalence (hypothesis): ANY event log —
including duplicate LSNs (redelivery), delete-before-insert, empty
batches, all-delete batches, arbitrary batch boundaries — must replay
to exactly the pandas oracle's state, under all three merge strategies
(broadcast copy-on-write, shuffle, merge-on-read delta).

The reference has no property tests at all (footprint-res/package.json:6
is a no-op test script); this suite is the engine's upgrade of its
golden-value style to adversarial coverage.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_pipeline_spark.cdc import apply_batch
from data_pipeline_spark.icebox import IceboxTable

from .oracle import OP_RANK, assert_tables_equal, replay_oracle
from .test_cdc_apply import BASE_SCHEMA, PAYLOAD

OPS = ["insert", "update", "upsert", "delete"]

event_st = st.tuples(
    st.integers(min_value=0, max_value=40),  # lsn (small domain → collisions)
    st.sampled_from(OPS),
    st.integers(min_value=0, max_value=6),  # doc ordinal (small → hot keys)
    st.lists(st.integers(min_value=0, max_value=99), max_size=4),  # tokens
)

log_st = st.lists(event_st, min_size=0, max_size=30)
splits_st = st.lists(st.integers(min_value=0, max_value=40), max_size=3)


def _to_rows(events):
    rows = []
    for lsn, op, doc, toks in events:
        is_del = op == "delete"
        rows.append(
            (
                lsn,
                op,
                f"doc_{doc}",
                None if is_del else toks,
                None if is_del else len(toks),
                None if is_del else "src",
            )
        )
    return rows


def _dedupe_ties(rows):
    """The LWW contract resolves equal (lsn, op_rank) ties arbitrarily
    among identical events only; drop conflicting same-(lsn,rank)
    payloads PER KEY — the way a real binlog cannot produce them.
    Different keys sharing an lsn are perfectly valid (per-key LWW is
    unambiguous across keys) and must stay in the generated log, or the
    property tests silently stop exercising that case."""
    best = {}
    for r in rows:
        key = (r[0], OP_RANK[r[1]], r[2])  # (lsn, rank, doc_id)
        best.setdefault(key, r)
    return list(best.values())


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,  # the driver's gate must be deterministic
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=log_st,
    splits=splits_st,
    strategy=st.sampled_from(["join", "shuffle", "delta"]),
)
def test_any_log_any_batching_matches_oracle(
    spark, tmp_path_factory, events, splits, strategy
):
    rows = _dedupe_ties(_to_rows(events))
    tdir = str(tmp_path_factory.mktemp("prop"))
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    bounds = sorted(set(splits)) + [41]
    lo = -1
    schema = StructType(
        [
            StructField("lsn", LongType()),
            StructField("op", StringType()),
            StructField("doc_id", StringType()),
            StructField("tokens", ArrayType(IntegerType())),
            StructField("n_tok", IntegerType()),
            StructField("source", StringType()),
        ]
    )
    df_all = spark.createDataFrame(rows, schema) if rows else None
    for b, hi in enumerate(bounds):
        if df_all is None:
            batch = spark.createDataFrame([], schema)
        else:
            batch = df_all.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        t = apply_batch(t, batch, b, merge_strategy=strategy)
        lo = hi

    import pandas as pd

    actual = t.read().select(*PAYLOAD).toPandas()
    expected = replay_oracle(
        pd.DataFrame(rows, columns=["lsn", "op", "doc_id", "tokens", "n_tok", "source"]),
        PAYLOAD,
    )
    if len(expected) == 0:
        assert len(actual) == 0
        return
    assert_tables_equal(actual[list(expected.columns)], expected)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,  # the driver's gate must be deterministic
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=log_st,
    splits=splits_st,
    maintenance=st.lists(
        st.sampled_from(["compact", "split", "none"]), min_size=4, max_size=4
    ),
)
def test_maintenance_ops_preserve_replay_state(
    spark, tmp_path_factory, events, splits, maintenance
):
    """Interleaving compaction and bucket-splits between delta batches
    must never change the replayed state (maintenance moves no logical
    data)."""
    rows = _dedupe_ties(_to_rows(events))
    tdir = str(tmp_path_factory.mktemp("maint"))
    t = IceboxTable.create(
        spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=2
    )

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("lsn", LongType()),
            StructField("op", StringType()),
            StructField("doc_id", StringType()),
            StructField("tokens", ArrayType(IntegerType())),
            StructField("n_tok", IntegerType()),
            StructField("source", StringType()),
        ]
    )
    df_all = spark.createDataFrame(rows, schema) if rows else None
    bounds = sorted(set(splits)) + [41]
    lo = -1
    for b, hi in enumerate(bounds):
        if df_all is None:
            batch = spark.createDataFrame([], schema)
        else:
            batch = df_all.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        t = apply_batch(t, batch, b, merge_strategy="delta")
        op = maintenance[b % len(maintenance)]
        if op == "compact":
            t = t.compact_if_needed(ratio=0.0)
        elif op == "split" and t.n_buckets <= 4:
            t = t.split_buckets(factor=2)
        lo = hi

    import pandas as pd

    actual = t.read().select(*PAYLOAD).toPandas()
    expected = replay_oracle(
        pd.DataFrame(rows, columns=["lsn", "op", "doc_id", "tokens", "n_tok", "source"]),
        PAYLOAD,
    )
    if len(expected) == 0:
        assert len(actual) == 0
        return
    assert_tables_equal(actual[list(expected.columns)], expected)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,  # the driver's gate must be deterministic
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=log_st,
    splits=splits_st,
    maintenance=st.lists(
        st.sampled_from(["compact", "split", "none"]), min_size=4, max_size=4
    ),
)
def test_keyed_lookup_equals_filtered_read_any_history(
    spark, tmp_path_factory, events, splits, maintenance
):
    """The bounds-pruned lookup() must agree with an unpruned full-read
    filter for ANY log, batching and maintenance interleaving — probing
    live, deleted and never-existing keys. Guards the driver-side
    key-bounds delta skipping against every manifest shape the engine
    can produce (bounds present, pruned by compaction, re-bucketed by
    splits)."""
    rows = _dedupe_ties(_to_rows(events))
    tdir = str(tmp_path_factory.mktemp("lkp"))
    t = IceboxTable.create(spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=2)

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("lsn", LongType()),
            StructField("op", StringType()),
            StructField("doc_id", StringType()),
            StructField("tokens", ArrayType(IntegerType())),
            StructField("n_tok", IntegerType()),
            StructField("source", StringType()),
        ]
    )
    df_all = spark.createDataFrame(rows, schema) if rows else None
    bounds = sorted(set(splits)) + [41]
    lo = -1
    for b, hi in enumerate(bounds):
        if df_all is None:
            batch = spark.createDataFrame([], schema)
        else:
            batch = df_all.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        t = apply_batch(t, batch, b, merge_strategy="delta")
        op = maintenance[b % len(maintenance)]
        if op == "compact":
            t = t.compact_if_needed(ratio=0.0)
        elif op == "split" and t.n_buckets <= 4:
            t = t.split_buckets(factor=2)
        lo = hi

    # doc_0..doc_6 cover the live/deleted domain; doc_9 never exists
    probes = [f"doc_{i}" for i in (0, 3, 6, 9)]
    via_lookup = {
        r["doc_id"]: r["tokens"] for r in t.lookup(probes).collect()
    }
    via_full = {
        r["doc_id"]: r["tokens"]
        for r in t.read().filter(F.col("doc_id").isin(probes)).collect()
    }
    assert via_lookup == via_full
    assert "doc_9" not in via_lookup
