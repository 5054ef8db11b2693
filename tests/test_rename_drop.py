"""Column rename/drop via stable field ids (Iceberg ALTER TABLE
analog): zero data-file rewrites — old generations resolve by id at
read time. Covers value travel across a rename, MoR merges over
mixed-generation files, no-leak re-add after a drop (the classic
field-id correctness trap), change-feed behavior across DDL, time
travel, rollback, and the key guards."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from data_pipeline_spark.cdc import apply_batch, replay_log
from data_pipeline_spark.gen import gen_event_log
from data_pipeline_spark.icebox import IceboxTable
from data_pipeline_spark.icebox.table import SchemaEvolutionError

from .test_cdc_apply import BASE_SCHEMA


def _mk(spark, tdir, merge_strategy="delta", n_events=600, n_docs=80):
    log = gen_event_log(spark, n_events=n_events, n_docs=n_docs,
                        batch_size=200, partitions=4)
    t = IceboxTable.create(
        spark, os.path.join(tdir, "t"), BASE_SCHEMA, n_buckets=4
    )
    return replay_log(t, log, merge_strategy=merge_strategy)


def test_rename_travels_values_without_rewrite(spark, tdir):
    t = _mk(spark, tdir)
    before = {r["doc_id"]: r["source"] for r in t.read().collect()}
    import glob
    n_files_before = len(glob.glob(os.path.join(t.root, "data", "**", "*.parquet"),
                                   recursive=True))
    t = t.rename_column("source", "origin")
    n_files_after = len(glob.glob(os.path.join(t.root, "data", "**", "*.parquet"),
                                  recursive=True))
    assert n_files_after == n_files_before  # metadata-only
    names = [f.name for f in t.schema.fields]
    assert "origin" in names and "source" not in names
    after = {r["doc_id"]: r["origin"] for r in t.read().collect()}
    assert after == before  # values travel to the new name


def test_rename_then_mor_batch_merges_generations(spark, tdir):
    """Files under the OLD name and a delta under the NEW name must LWW
    together."""
    t = _mk(spark, tdir)
    victim = t.read().select("doc_id").orderBy("doc_id").first()["doc_id"]
    t = t.rename_column("source", "origin")
    ev = spark.createDataFrame(
        [(victim, "upsert", 10_000_000, [1, 2], 2, "renamed-writer")],
        "doc_id string, op string, lsn long, tokens array<int>, "
        "n_tok int, origin string",
    )
    t = apply_batch(t, ev, batch_id=500, merge_strategy="delta")
    rows = {r["doc_id"]: r["origin"] for r in t.read().collect()}
    assert rows[victim] == "renamed-writer"
    # old-generation rows still carry their value under the new name
    others = {k: v for k, v in rows.items() if k != victim}
    assert others and all(v is not None for v in others.values())
    # and compaction folds mixed generations correctly
    t = t.compact_if_needed(ratio=0.0)
    assert {r["doc_id"]: r["origin"] for r in t.read().collect()} == rows


def test_drop_then_readd_does_not_leak_old_values(spark, tdir):
    """THE field-id semantics test: after drop+re-add, a column with the
    same NAME is a DIFFERENT column — bytes in old files must not leak
    into it."""
    t = _mk(spark, tdir)
    all_ids = sorted(r["doc_id"] for r in t.read().collect())
    t = t.drop_column("source")
    assert "source" not in [f.name for f in t.schema.fields]
    assert "source" not in t.read().columns  # projected away at scan
    # re-add via a CDC batch that carries a column of the same name
    victim = all_ids[0]
    ev = spark.createDataFrame(
        [(victim, "upsert", 20_000_000, [7], 1, "fresh")],
        "doc_id string, op string, lsn long, tokens array<int>, "
        "n_tok int, source string",
    )
    t = apply_batch(t, ev, batch_id=600, merge_strategy="delta")
    got = {r["doc_id"]: r["source"] for r in t.read().collect()}
    assert got[victim] == "fresh"
    assert all(v is None for k, v in got.items() if k != victim), \
        "old-generation bytes leaked into the re-added column"


def test_changes_across_rename_emits_nothing_spurious(spark, tdir):
    t = _mk(spark, tdir)
    pre = t.snapshot_id
    t = t.rename_column("source", "origin")
    assert t.changes(pre).count() == 0  # DDL is not a data change
    # a real change after the rename comes out under the NEW name
    victim = t.read().select("doc_id").orderBy("doc_id").first()["doc_id"]
    ev = spark.createDataFrame(
        [(victim, "upsert", 30_000_000, [5], 1, "post-rename")],
        "doc_id string, op string, lsn long, tokens array<int>, "
        "n_tok int, origin string",
    )
    t = apply_batch(t, ev, batch_id=700, merge_strategy="delta")
    chg = t.changes(pre).filter(F.col("_change_type") == "update_post")
    rows = chg.collect()
    assert len(rows) == 1 and rows[0]["origin"] == "post-rename"
    # pre-image carries the OLD value under the NEW name (id translation)
    pre_rows = t.changes(pre).filter(
        F.col("_change_type") == "update_pre"
    ).collect()
    assert len(pre_rows) == 1 and pre_rows[0]["origin"] is not None


def test_time_travel_and_rollback_across_ddl(spark, tdir):
    t = _mk(spark, tdir)
    pre_sid = t.snapshot_id
    pre = {r["doc_id"]: r["source"] for r in t.read().collect()}
    t = t.rename_column("source", "origin")
    t = t.drop_column("n_tok")
    # time travel: the old snapshot reads with ITS schema (old names)
    old = IceboxTable.load(spark, t.root, snapshot_id=pre_sid)
    assert [f.name for f in old.schema.fields] == \
        ["doc_id", "tokens", "n_tok", "source"]
    assert {r["doc_id"]: r["source"] for r in old.read().collect()} == pre
    # rollback restores names AND values as a new commit
    t = t.rollback(pre_sid)
    assert [f.name for f in t.schema.fields] == \
        ["doc_id", "tokens", "n_tok", "source"]
    assert {r["doc_id"]: r["source"] for r in t.read().collect()} == pre


def test_ddl_guards(spark, tdir):
    t = _mk(spark, tdir, n_events=200, n_docs=30)
    with pytest.raises(SchemaEvolutionError, match="merge key"):
        t.rename_column("doc_id", "id")
    with pytest.raises(SchemaEvolutionError, match="merge key"):
        t.drop_column("doc_id")
    with pytest.raises(SchemaEvolutionError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(SchemaEvolutionError, match="already exists"):
        t.rename_column("source", "n_tok")
    with pytest.raises(SchemaEvolutionError, match="already exists"):
        t.rename_column("source", "_lsn")


def test_field_ids_never_reused_and_widen_keeps_id(spark, tdir):
    from data_pipeline_spark.icebox.table import _field_id

    t = _mk(spark, tdir, n_events=200, n_docs=30)
    ids0 = {f.name: _field_id(f) for f in t.schema.fields}
    assert sorted(ids0.values()) == [0, 1, 2, 3]
    dropped_id = ids0["source"]
    t = t.drop_column("source")
    # re-add same name via evolve: must get a FRESH id
    ev = spark.createDataFrame(
        [("doc_x", "insert", 1_000_000, [1], 1, "v")],
        "doc_id string, op string, lsn long, tokens array<int>, "
        "n_tok int, source string",
    )
    t = apply_batch(t, ev, batch_id=800, merge_strategy="delta")
    ids1 = {f.name: _field_id(f) for f in t.schema.fields}
    assert ids1["source"] != dropped_id
    # widen keeps the id
    from pyspark.sql.types import LongType, StructField, StructType
    t.evolve_schema(StructType([StructField("n_tok", LongType())]))
    ids2 = {f.name: _field_id(f) for f in t.schema.fields}
    assert ids2["n_tok"] == ids1["n_tok"]