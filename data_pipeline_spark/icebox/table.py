"""Snapshot-committed Parquet table with bucket partitioning.

On-disk layout (all paths relative to the table root):

    metadata/CURRENT            -> "snap-00000007.json" (atomic swap)
    metadata/snap-00000007.json -> full manifest (immutable, never edited)
    data/snap-00000007-<uid>/_b=3/*.parquet  (base: buckets rewritten at s7)
    data/snap-00000009-<uid>/*.parquet       (delta: one compact file set,
                                              _b stored as a data column)
    data/lineage/snap-.../lineage.parquet

Manifest (JSON):
    snapshot_id, parent_id, tag, committed_tags (cumulative),
    n_buckets, current_schema_id, schemas {id: spark-schema-json},
    buckets {bucket: {"path": <leaf dir>, "schema_id": id, "rows": n}},
    deltas [{"path": dir, "schema_id": id,
             "bucket_rows": {bucket: n, ...}}, ...]  (commit order),
    lineage_paths [ ... cumulative ... ], summary {...}

Invariants:
  * data files are immutable; a snapshot's file set is fully described by
    its own manifest → time travel = read an old manifest;
  * a bucket's BASE maps to exactly ONE leaf dir (the snapshot that last
    rewrote it); merge-on-read delta commits layer on top in list order,
    and compaction prunes a bucket from delta entries' bucket_rows
    without touching the immutable delta files;
  * commit (always through IceboxTable._publish) = exclusive-create
    manifest file (the durable commit point)
    then os.replace CURRENT; a crash before the manifest link leaves
    orphans only, a crash between link and swap is rolled forward by the
    next load().

Driver-side work per commit is O(#touched buckets), never O(#events).
"""

from __future__ import annotations

import json
import os
import re
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# Hidden per-row merge metadata, the engine's analog of Iceberg/Hudi
# sequence numbers: _lsn is the LSN of the event that produced the row,
# _tombstone marks a deleted key (retained so a LATE-arriving older event
# can never resurrect it — makes batch apply order-independent).
INTERNAL_FIELDS = [
    StructField("_lsn", LongType(), True),
    StructField("_tombstone", BooleanType(), True),
]
INTERNAL_NAMES = [f.name for f in INTERNAL_FIELDS]

# ------------------------------------------------------- key blooms
# Per-(delta, bucket) key bloom filters in the manifest — the Iceberg
# puffin-blob / parquet-bloom analog, held at the METADATA level so a
# keyed read skips whole delta commits with zero file opens. Key bounds
# (min/max) already skip by range, but uniformly-hashed string keys
# (doc_000123…) span the whole range after a handful of rows, so bounds
# stop helping exactly when deltas accumulate; the bloom keeps skipping.
# 2048 bits / 2 hashes ≈ 4.4% false positives at 500 keys per (delta,
# bucket), 344 base64 chars of manifest per entry. Hashes derive from
# the portable h64 (md5 of the key's string form), so the driver probes
# with hashlib — no Spark job. Pruning is an optimization, never a
# correctness dependency: absent/undecodable blooms, or key types whose
# Spark string cast may differ from str() (floats, dates), degrade to
# "might contain".
BLOOM_BITS = 2048
BLOOM_WORDS = BLOOM_BITS // 64
_BLOOM_SALT = "kb"


def key_bloom_prep(df: DataFrame, key: str) -> DataFrame:
    """Stage the two bloom bit positions of `key` as real columns
    (_kp1, _kp2) so the 32 per-word aggregates share ONE md5 per row
    (expression inlining would re-hash per aggregate — the SPARK-36718
    staging rule)."""
    from ..functions.portable import h64

    h = h64(F.col(key).cast("string"), salt=_BLOOM_SALT)
    return df.withColumn("_kp1", F.pmod(h, F.lit(BLOOM_BITS))).withColumn(
        "_kp2", F.pmod(F.shiftright(h, 11), F.lit(BLOOM_BITS))
    )


def key_bloom_agg_exprs() -> list:
    """32 bit_or aggregate columns (_kb0.._kb31) building the per-group
    bloom bitset from _kp1/_kp2 — rides whatever stats aggregate the
    caller already runs (no extra pass, no extra shuffle)."""
    return [
        F.bit_or(
            F.expr(
                f"coalesce(case when shiftright(_kp1, 6) = {w} then "
                f"shiftleft(1L, cast(_kp1 % 64 as int)) end, 0L) | "
                f"coalesce(case when shiftright(_kp2, 6) = {w} then "
                f"shiftleft(1L, cast(_kp2 % 64 as int)) end, 0L)"
            )
        ).alias(f"_kb{w}")
        for w in range(BLOOM_WORDS)
    ]


def pack_key_blooms(stats_rows) -> dict:
    """{bucket: base64 bitset} from stats rows carrying _b and
    _kb0.._kb31; rows without the columns are skipped (callers that
    don't compute blooms lose only the optimization)."""
    import base64
    import struct

    out = {}
    for r in stats_rows:
        try:
            words = [r[f"_kb{w}"] for w in range(BLOOM_WORDS)]
        except (KeyError, ValueError):
            continue
        if any(w is None for w in words):
            continue
        out[int(r["_b"])] = base64.b64encode(
            struct.pack(f"<{BLOOM_WORDS}q", *words)
        ).decode("ascii")
    return out


def _bloom_positions(keys) -> list[tuple[int, int]] | None:
    """Bit positions for each probe key, or None when the key values
    are not safely stringable the same way Spark casts them (then the
    bloom must not be consulted)."""
    from ..functions.portable import h64_py

    pos = []
    for k in keys:
        if not isinstance(k, (str, int)) or isinstance(k, bool):
            return None
        h = h64_py(str(k), salt=_BLOOM_SALT)
        pos.append((h % BLOOM_BITS, (h >> 11) % BLOOM_BITS))
    return pos


def bloom_might_contain(b64: str | None, positions) -> bool:
    """Conservative membership: True unless EVERY probe key has at
    least one unset bit."""
    import base64
    import struct

    if b64 is None or positions is None:
        return True
    try:
        words = struct.unpack(f"<{BLOOM_WORDS}q", base64.b64decode(b64))
    except Exception:
        return True
    for p1, p2 in positions:
        if (words[p1 >> 6] >> (p1 & 63)) & 1 and (words[p2 >> 6] >> (p2 & 63)) & 1:
            return True
    return False


class SchemaEvolutionError(ValueError):
    pass


class ConcurrentCommitError(RuntimeError):
    """Another writer committed since this handle's snapshot was loaded.

    The table layer is optimistic-concurrency single-winner, like
    Iceberg's atomic swap: commits from a stale handle are rejected
    instead of silently clobbering the other writer's snapshot. Reload
    the table and re-apply."""


# widenings allowed, mirroring Iceberg's promotion rules
_WIDEN_OK = {
    (IntegerType(), LongType()),
    (FloatType(), DoubleType()),
}


def _field_id(f: StructField) -> int | None:
    try:
        return f.metadata.get("field_id") if f.metadata else None
    except AttributeError:
        return None


def _stamp_field_ids(schema: StructType, start: int = 0) -> StructType:
    """Assign stable field ids 0..n-1 (Iceberg's column-id scheme) to a
    schema that lacks them; existing ids are preserved."""
    fields, nxt = [], start
    for f in schema.fields:
        fid = _field_id(f)
        if fid is None:
            fid, nxt = nxt, nxt + 1
        else:
            nxt = max(nxt, fid + 1)
        fields.append(
            StructField(f.name, f.dataType, f.nullable,
                        {**(f.metadata or {}), "field_id": fid})
        )
    return StructType(fields)


def _rename_by_field_ids(
    df: DataFrame, src_schema: StructType, tgt_schema: StructType
) -> DataFrame:
    """Project a frame read under an OLDER schema generation into the
    TARGET generation's column names by stable field id — the Iceberg
    name-mapping read: a renamed column keeps its id (values travel to
    the new name), a dropped id is projected away, and a field without
    an id (legacy generation) passes through by name (pre-rename tables
    only ever added/widened, so by-name is exact for them). Columns not
    in src_schema (internal merge metadata, _b) pass through untouched."""
    tgt_by_id = {
        _field_id(f): f.name for f in tgt_schema.fields
        if _field_id(f) is not None
    }
    src_names = {f.name for f in src_schema.fields}
    cols = []
    for f in src_schema.fields:
        fid = _field_id(f)
        if fid is None:
            cols.append(F.col(f.name))
            continue
        new = tgt_by_id.get(fid)
        if new is None:
            continue  # dropped column: project away
        cols.append(F.col(f.name).alias(new) if new != f.name else F.col(f.name))
    extra = [F.col(c) for c in df.columns if c not in src_names]
    return df.select(*cols, *extra)


def _is_widening(old, new) -> bool:
    return (old, new) in _WIDEN_OK


def bucket_expr(n_buckets: int, key: str = "doc_id", sep: str | None = None):
    """Partition transform: pmod(xxhash64(key), n) — the engine's analog of
    the reference's PlusCode grid bucketing
    (/root/reference/grid-and-attrs/footprint.js:117-118).

    `sep`: PREFIX bucketing for composite keys — hash only the part of
    the key before the first `sep`. Still a pure function of the key
    (merge/LWW correctness holds: every version of a key lands in one
    bucket), but all keys sharing a prefix co-locate, so a prefix probe
    reads ONE bucket. The inverted index's `term|doc` pairs use this."""
    c = F.col(key)
    if sep is not None:
        c = F.substring_index(c, sep, 1)
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


class IceboxTable:
    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self.manifest = manifest

    # ---------- lifecycle ----------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: StructType,
        n_buckets: int = 32,
        key: str = "doc_id",
        immutable_cols: list[str] | None = None,
        bucket_sep: str | None = None,
    ) -> "IceboxTable":
        """immutable_cols: columns the writer CONTRACTS never change
        across versions of a key (every change event for a doc carries
        the same value — e.g. source, ingest date class). Zone-map reads
        may then prune individual files/delta commits on predicates over
        these columns (safe because any version witnesses the key's
        value); mutable columns only ever prune at whole-bucket
        granularity. The contract is the user's, like Iceberg partition
        columns — the engine does not re-verify it per batch.

        bucket_sep: prefix bucketing for composite keys (see
        bucket_expr) — rows bucket by the key part before the first
        separator, so all keys sharing a prefix co-locate."""
        meta_dir = os.path.join(root, "metadata")
        os.makedirs(meta_dir, exist_ok=False)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        schema = _stamp_field_ids(schema)
        by_name = {f.name: _field_id(f) for f in schema.fields}
        imm = []
        for c in immutable_cols or []:
            if c not in by_name:
                raise ValueError(f"immutable col {c!r} not in schema")
            imm.append(by_name[c])
        # the empty parent: _publish numbers the first snapshot 0
        parent = {
            "snapshot_id": None,
            "committed_tags": [],
            "key": key,
            "n_buckets": n_buckets,
            "bucket_sep": bucket_sep,
            "current_schema_id": 0,
            "schemas": {"0": schema.json()},
            "last_field_id": len(schema.fields) - 1,
            "immutable_fields": imm,
            "buckets": {},
            "deltas": [],
            "lineage_paths": [],
        }
        return IceboxTable(spark, root, parent)._publish(
            {"summary": {"operation": "create"}}
        )

    @staticmethod
    def load(
        spark: SparkSession,
        root: str,
        snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> "IceboxTable":
        meta_dir = os.path.join(root, "metadata")
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref, not both")
            ref_path = os.path.join(meta_dir, "refs", ref)
            try:
                with open(ref_path) as f:
                    snapshot_id = int(f.read().strip())
            except FileNotFoundError:
                raise ValueError(f"unknown ref {ref!r} for table {root}") from None
        if snapshot_id is None:
            with open(os.path.join(meta_dir, "CURRENT")) as f:
                name = f.read().strip()
            # torn-publish roll-forward: the exclusive snap-file link is
            # the durable commit point (content fsync'd before link); a
            # crash between the link and the CURRENT swap leaves a
            # published manifest CURRENT doesn't point at. Without this,
            # every future commit would recompute the same snapshot name,
            # collide, and wedge the table. The chain is linear (sid =
            # parent+1 and the link is single-winner), so at most a
            # contiguous run of successors can exist — adopt the newest
            # and repair CURRENT.
            sid = int(name[5:13])
            while os.path.exists(os.path.join(meta_dir, f"snap-{sid + 1:08d}.json")):
                sid += 1
            newest = f"snap-{sid:08d}.json"
            if newest != name:
                _swap_current(meta_dir, newest)
                name = newest
        else:
            name = f"snap-{snapshot_id:08d}.json"
        with open(os.path.join(meta_dir, name)) as f:
            return IceboxTable(spark, root, json.load(f))

    # ---------- introspection ----------

    @property
    def key(self) -> str:
        return self.manifest["key"]

    @property
    def n_buckets(self) -> int:
        return self.manifest["n_buckets"]

    @property
    def snapshot_id(self) -> int:
        return self.manifest["snapshot_id"]

    @property
    def schema(self) -> StructType:
        sid = str(self.manifest["current_schema_id"])
        return StructType.fromJson(json.loads(self.manifest["schemas"][sid]))

    def has_tag(self, tag: str) -> bool:
        return tag in self.manifest["committed_tags"]

    @property
    def total_rows(self) -> int:
        """Physical row count (incl. tombstones and live delta rows) from
        manifest metadata; 0 for pre-row-tracking manifests (heuristics
        treat that as 'unknown, assume small')."""
        return sum(
            e.get("rows", 0) for e in self.manifest["buckets"].values()
        ) + sum(
            sum(d["bucket_rows"].values())
            for d in self.manifest.get("deltas") or []
        )

    def bucket_of(self):
        return bucket_expr(
            self.n_buckets, self.key, self.manifest.get("bucket_sep")
        )

    # ---------- schema evolution ----------

    def evolve_schema(self, new_schema: StructType) -> None:
        """Add-nullable-column and int→long/float→double widen only.

        Mirrors the reference's tolerant column-add probe
        (/root/reference/footprint-res/resolve-footprints.scala:84).
        Existing data files are NOT rewritten — readers reconcile.
        """
        cur = self.schema
        cur_by_name = {f.name: f for f in cur.fields}
        merged_fields = list(cur.fields)
        changed = False
        nxt = self._next_field_id()
        for f in new_schema.fields:
            old = cur_by_name.get(f.name)
            if old is None:
                merged_fields.append(
                    StructField(f.name, f.dataType, True, {"field_id": nxt})
                )
                nxt += 1
                changed = True
            elif old.dataType != f.dataType:
                if _is_widening(old.dataType, f.dataType):
                    i = [x.name for x in merged_fields].index(f.name)
                    # widen in place: the field KEEPS its id (and any
                    # other metadata) — widening is not a new column
                    merged_fields[i] = StructField(
                        f.name, f.dataType, True, old.metadata
                    )
                    changed = True
                elif _is_widening(f.dataType, old.dataType):
                    pass  # incoming is narrower → current schema already covers it
                else:
                    raise SchemaEvolutionError(
                        f"illegal type change for {f.name}: {old.dataType} -> {f.dataType}"
                    )
        if not changed:
            return
        new_id = max(int(k) for k in self.manifest["schemas"]) + 1
        self.manifest["schemas"][str(new_id)] = StructType(merged_fields).json()
        self.manifest["current_schema_id"] = new_id
        self.manifest["last_field_id"] = nxt - 1
        # schema change is metadata-only; it rides along with the next commit

    def _next_field_id(self) -> int:
        """Monotonic field-id allocator: the high-water mark over the
        manifest counter AND every id stamped in any schema generation
        (ids are never reused, even after drop_column — a reused id
        would alias an old file's column into the wrong current one)."""
        hi = self.manifest.get("last_field_id", -1)
        for sj in self.manifest["schemas"].values():
            for f in StructType.fromJson(json.loads(sj)).fields:
                fid = _field_id(f)
                if fid is not None:
                    hi = max(hi, fid)
        return hi + 1

    def _ensure_field_ids(self) -> None:
        """Lazily backfill field ids BY NAME across every schema
        generation of a pre-field-id table (legacy generations only ever
        added/widened columns, so same-name ⇒ same column and by-name
        backfill is exact). No-op when the current generation has ids."""
        schemas = {
            sid: StructType.fromJson(json.loads(sj))
            for sid, sj in self.manifest["schemas"].items()
        }
        if all(
            _field_id(f) is not None
            for sch in schemas.values()
            for f in sch.fields
        ):
            return
        # pre-scan: names already bound to a stamped id anywhere keep it;
        # fresh ids start above every stamped id (a partially-stamped
        # table — legacy create + new-code evolve — must not collide)
        by_name: dict[str, int] = {}
        hi = self.manifest.get("last_field_id", -1)
        for sch in schemas.values():
            for f in sch.fields:
                fid = _field_id(f)
                if fid is not None:
                    by_name.setdefault(f.name, fid)
                    hi = max(hi, fid)
        nxt = hi + 1
        new_schemas = {}
        for sid in sorted(schemas, key=int):
            fields = []
            for f in schemas[sid].fields:
                fid = _field_id(f)
                if fid is None:
                    fid = by_name.get(f.name)
                if fid is None:
                    fid, nxt = nxt, nxt + 1
                by_name.setdefault(f.name, fid)
                fields.append(
                    StructField(f.name, f.dataType, f.nullable,
                                {**(f.metadata or {}), "field_id": fid})
                )
            new_schemas[sid] = StructType(fields).json()
        self.manifest["schemas"] = new_schemas
        self.manifest["last_field_id"] = nxt - 1

    def _commit_schema_change(self, new_fields: list, summary: dict) -> "IceboxTable":
        """Metadata-only DDL commit (rename/drop): new schema generation,
        new snapshot, zero data movement — like rollback/split it needs
        no exactly-once tag and is safe to re-run after a crash."""
        new_id = max(int(k) for k in self.manifest["schemas"]) + 1
        return self._publish({
            "schemas": {
                **self.manifest["schemas"],
                str(new_id): StructType(new_fields).json(),
            },
            "current_schema_id": new_id,
            "summary": summary,
        })

    def rename_column(self, old: str, new: str) -> "IceboxTable":
        """Rename a column WITHOUT rewriting any data file (Iceberg
        ALTER TABLE RENAME COLUMN): the field keeps its stable id, so
        files written under any older generation keep resolving to it by
        id at read time. The merge key cannot be renamed (bucket layout,
        manifest stats, and the CDC contract all key on it). Incoming
        CDC batches must use the NEW name afterwards — an event column
        with the OLD name would be a fresh column-add (by design: that
        is exactly what a renamed upstream looks like to a by-name
        transport, and the engine must not guess)."""
        if old == self.key:
            raise SchemaEvolutionError(f"cannot rename the merge key {old!r}")
        names = [f.name for f in self.schema.fields]
        if old not in names:
            raise SchemaEvolutionError(f"no such column {old!r}")
        if new in names or new in INTERNAL_NAMES or new == "_b":
            raise SchemaEvolutionError(f"column {new!r} already exists/reserved")
        self._ensure_field_ids()
        fields = [
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old else f
            for f in self.schema.fields
        ]
        return self._commit_schema_change(
            fields, {"operation": "rename_column", "from": old, "to": new}
        )

    def drop_column(self, name: str) -> "IceboxTable":
        """Drop a column WITHOUT rewriting any data file: the current
        generation stops listing its field id, so every reader projects
        it away at scan time; old files keep the bytes (time travel to a
        pre-drop snapshot still sees them), and the id is never reused
        (_next_field_id). The merge key cannot be dropped."""
        if name == self.key:
            raise SchemaEvolutionError(f"cannot drop the merge key {name!r}")
        names = [f.name for f in self.schema.fields]
        if name not in names:
            raise SchemaEvolutionError(f"no such column {name!r}")
        self._ensure_field_ids()
        fields = [f for f in self.schema.fields if f.name != name]
        return self._commit_schema_change(
            fields, {"operation": "drop_column", "column": name}
        )

    # ---------- read ----------

    def read(
        self,
        buckets: list[int] | None = None,
        internal: bool = False,
        keys: list | None = None,
        where: list[tuple] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Read the table at this snapshot, optionally pruned to buckets.

        Files written under older schemas are read with THEIR schema and
        cast/backfilled to the current one (null for added columns) —
        the P2 probe-and-backfill pattern, vectorized by Spark's parquet
        reader per schema group, one scan per schema generation.

        internal=True exposes merge metadata (_lsn, _tombstone) and
        INCLUDES tombstone rows — the merge path needs them; normal reads
        see only live rows and logical columns.

        keys: restrict the result to these key values. Dropping foreign
        keys BEFORE the merge-on-read LWW aggregate is safe (the merge is
        per-key), shrinks the agg to O(|keys|), pushes a literal isin
        predicate into every parquet scan (row-group pruning — files are
        sorted by (_b, key)), and lets the manifest's per-(delta, bucket)
        key bounds skip whole delta commits DRIVER-SIDE with zero file
        opens — the Iceberg-manifest-stats analog. At 100 TB a point
        lookup touches one bucket and only the delta files whose key
        range can contain the probe.
        """
        cur_schema = self.schema
        # column projection PUSHED THROUGH the merge: Catalyst prunes
        # columns into clean-bucket scans by itself, but the MoR LWW
        # aggregate materializes max_by(struct(<fields>)) — a struct over
        # every column blocks pruning, so a 2-column projection of a
        # delta'd table would still read the token arrays. `columns`
        # narrows the payload struct itself; the key and any `where`
        # columns ride along for the merge/filter and are dropped from
        # the result if not requested.
        drop_extra: list[str] = []
        if columns is not None:
            have = {f.name for f in cur_schema.fields}
            missing = [c for c in columns if c not in have]
            if missing:
                raise ValueError(f"unknown columns {missing}")
            need = set(columns) | {self.key}
            for c, _, _ in where or []:
                need.add(c)
            drop_extra = sorted(need - set(columns))
            cur_schema = StructType(
                [f for f in cur_schema.fields if f.name in need]
            )
        phys_target = StructType([*cur_schema.fields, *INTERNAL_FIELDS])
        key_pred = F.col(self.key).isin(list(keys)) if keys is not None else None
        entries = self.manifest["buckets"]
        wanted = None if buckets is None else {str(b) for b in buckets}
        if wanted is not None:
            entries = {b: e for b, e in entries.items() if b in wanted}

        # zone-map pruning (see prune_plan): semantics == read().filter(
        # conjunction) — the filter below is ALWAYS applied, pruning only
        # removes files that provably contribute no surviving winner
        zp = self.prune_plan(where) if where else None
        if zp:
            entries = {
                b: e for b, e in entries.items()
                if b not in zp["skip_buckets"] and b not in zp["dead_base"]
            }

        # which wanted buckets have live delta rows (merge-on-read)?
        # A (delta, bucket) whose manifest key bounds OR key bloom
        # exclude every probed key contributes nothing — drop it here,
        # driver-side with zero file opens; a bucket whose EVERY delta
        # is excluded needs no LWW aggregate at all.
        delta_entries = self.manifest.get("deltas") or []
        delta_live = self.prune_delta_buckets(keys, wanted)
        if zp:
            delta_live = [
                set() if i in zp["dead_deltas"] else live - zp["skip_buckets"]
                for i, live in enumerate(delta_live)
            ]
        mor_buckets: set[str] = set()
        for live in delta_live:
            mor_buckets |= live

        def _read_group(sid: str, paths: list[str], with_b: bool) -> DataFrame:
            logical = StructType.fromJson(json.loads(self.manifest["schemas"][sid]))
            fields = [*logical.fields, *INTERNAL_FIELDS]
            if with_b:
                fields = [StructField("_b", IntegerType()), *fields]
            df = self.spark.read.schema(StructType(fields)).parquet(*paths)
            if sid != str(self.manifest["current_schema_id"]):
                # field-id name mapping: renamed columns resolve to their
                # current name, dropped ids are projected away; _conform
                # below then only backfills/casts (by now-current names)
                df = _rename_by_field_ids(df, logical, cur_schema)
            return df

        # clean buckets: base files only, grouped by schema generation
        clean_groups: dict[str, list[str]] = {}
        mor_base_groups: dict[str, list[str]] = {}
        for b, e in entries.items():
            if e.get("path") is None:
                continue
            tgt = mor_base_groups if b in mor_buckets else clean_groups
            tgt.setdefault(str(e["schema_id"]), []).append(
                os.path.join(self.root, e["path"])
            )
        def _keyed(df: DataFrame) -> DataFrame:
            return df.filter(key_pred) if key_pred is not None else df

        parts = [
            _keyed(_conform(_read_group(sid, paths, with_b=False), phys_target))
            for sid, paths in sorted(clean_groups.items())
        ]

        # merge-on-read: base files get _seq=0, the i-th delta commit gets
        # _seq=i+1 (each filtered to its LIVE buckets — compaction prunes
        # buckets from bucket_rows without rewriting the delta file), then
        # one hash aggregate picks the LWW row per key via max_by over
        # (_lsn, _seq) — later commits win exact-LSN ties, identical to
        # the copy-on-write plans' `>=` / `_in DESC` tie-break. Keys never
        # cross buckets (bucket = f(key)), so one aggregate over all
        # delta'd buckets is per-bucket-correct.
        mor_parts = [
            _keyed(
                _conform(_read_group(sid, paths, with_b=False), phys_target)
            ).withColumn("_seq", F.lit(0))
            for sid, paths in sorted(mor_base_groups.items())
        ]
        for i, d in enumerate(delta_entries):
            live = delta_live[i]
            if not live:
                continue
            df = _read_group(str(d["schema_id"]), [os.path.join(self.root, d["path"])],
                             with_b=True)
            # rows sorted by _b at write → row-group min/max stats prune
            df = df.filter(F.col("_b").isin([int(b) for b in live]))
            mor_parts.append(
                _keyed(_conform(df, phys_target)).withColumn("_seq", F.lit(i + 1))
            )
        if mor_parts:
            u = mor_parts[0]
            for p in mor_parts[1:]:
                u = u.unionByName(p)
            payload = F.struct(*[F.col(f.name) for f in phys_target.fields])
            ordc = F.struct(F.col("_lsn").alias("l"), F.col("_seq").alias("s"))
            parts.append(
                u.groupBy(self.key)
                .agg(F.max_by(payload, ordc).alias("_w"))
                .select("_w.*")
            )
        if not parts:
            out = self.spark.createDataFrame([], phys_target)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if where:
            # post-merge filter: the semantic definition of where= (the
            # predicate applies to WINNER rows). Catalyst pushes it into
            # the clean-bucket scans automatically (no agg in their way);
            # the MoR side correctly filters only after the LWW aggregate.
            out = out.filter(self._where_expr(where))
        if internal:
            return out
        return (
            out.filter(~F.coalesce(F.col("_tombstone"), F.lit(False)))
            .drop(*INTERNAL_NAMES)
            .drop(*drop_extra)
        )

    def prune_delta_buckets(
        self, keys=None, wanted: set[str] | None = None
    ) -> list[set[str]]:
        """Driver-side manifest-statistics pruning (zero file opens):
        for each delta entry in commit order, the set of bucket ids that
        can still hold any probed key — buckets excluded by the entry's
        key bounds (range) or key bloom (set membership) are dropped.
        Conservative everywhere: missing/malformed stats, uncomparable
        bound types, or probe keys the bloom can't hash portably all
        degrade to 'might contain'."""

        def _bounds_hit(bounds) -> bool:
            if keys is None or not bounds:
                return True
            try:
                lo, hi = bounds
                return any(lo <= k <= hi for k in keys)
            except TypeError:
                return True

        probe_pos = _bloom_positions(keys) if keys is not None else None
        out: list[set[str]] = []
        for d in self.manifest.get("deltas") or []:
            live = set(d["bucket_rows"])
            if wanted is not None:
                live &= wanted
            if keys is not None:
                kb = d.get("key_bounds") or {}
                blooms = d.get("key_blooms") or {}
                live = {
                    b
                    for b in live
                    if _bounds_hit(kb.get(b))
                    and bloom_might_contain(blooms.get(b), probe_pos)
                }
            out.append(live)
        return out

    def prune_plan(self, where: list[tuple]) -> dict:
        """Driver-side zone-map pruning plan for a conjunction of simple
        predicates ``[(col, op, value), ...]`` (ops: = < <= > >= in),
        from manifest statistics alone — zero file opens.

        Two sound rules (read()'s post-merge filter guarantees semantic
        equality either way; pruning only removes work):

        * BUCKET rule (any column): a bucket is skipped iff EVERY file
          that can hold its rows — base entry and every delta commit
          covering it — provably excludes some conjunct (min/max bounds,
          harvested with a zero-null guard, or the file's schema lacking
          the field entirely, which backfills to null and null never
          satisfies a comparison). Keys never cross buckets, so dropping
          all of a bucket's versions together cannot change any winner
          that survives the filter.
        * FILE rule (immutable columns only): a single delta entry / base
          group may be dropped when an immutable-column conjunct excludes
          it — every version of a key shares the value, and the excluded
          file's non-null bounds witness that value fails the predicate,
          so the key is post-filtered out no matter which of its versions
          wins. Missing-field exclusion does NOT apply here (an old file
          without the column does not witness the key's current value).

        Mutable-column predicates therefore prune at bucket granularity
        only; batch-correlated IMMUTABLE columns (source, ingest day) are
        what make delta-commit skipping bite at 100 TB.
        """
        imm = set(self.manifest.get("immutable_fields") or [])
        zf = _zone_fields(self.schema)
        conj = [(zf.get(c), op, v) for (c, op, v) in where]
        schema_fids: dict[str, set] = {}
        for sid, js in self.manifest["schemas"].items():
            st = StructType.fromJson(json.loads(js))
            schema_fids[sid] = {
                _field_id(f) for f in st.fields if _field_id(f) is not None
            }

        def excluded(bounds, sid, immutable_only: bool) -> bool:
            for fid, op, v in conj:
                if fid is None:
                    continue
                if immutable_only and fid not in imm:
                    continue
                if fid not in schema_fids[str(sid)]:
                    if immutable_only:
                        continue
                    return True
                b = (bounds or {}).get(str(fid))
                if b and _bounds_exclude(b, op, v):
                    return True
            return False

        deltas = self.manifest.get("deltas") or []
        d_any = [excluded(d.get("col_bounds"), d["schema_id"], False)
                 for d in deltas]
        d_imm = [excluded(d.get("col_bounds"), d["schema_id"], True)
                 for d in deltas]
        buckets = self.manifest["buckets"]
        universe = set(buckets)
        for d in deltas:
            universe |= set(d["bucket_rows"])
        skip: set[str] = set()
        dead_base: set[str] = set()
        for b in universe:
            e = buckets.get(b)
            has_base = e is not None and e.get("path") is not None
            base_any = (not has_base) or excluded(
                e.get("col_bounds"), e["schema_id"], False
            )
            if has_base and excluded(e.get("col_bounds"), e["schema_id"], True):
                dead_base.add(b)
            if base_any and all(
                d_any[i] for i, d in enumerate(deltas) if b in d["bucket_rows"]
            ):
                skip.add(b)
        return {
            "skip_buckets": skip,
            "dead_base": dead_base,
            "dead_deltas": {i for i, x in enumerate(d_imm) if x},
            "n_buckets_total": len(universe),
        }

    @staticmethod
    def _where_expr(where: list[tuple]):
        expr = None
        for c, op, v in where:
            col = F.col(c)
            x = {
                "=": lambda: col == v,
                "<": lambda: col < v,
                "<=": lambda: col <= v,
                ">": lambda: col > v,
                ">=": lambda: col >= v,
                "in": lambda: col.isin(list(v)),
            }[op]()
            expr = x if expr is None else expr & x
        return expr

    def lookup(self, keys: list, columns: list[str] | None = None) -> DataFrame:
        """Point read: live rows for the given keys, touching only their
        buckets (bucket = f(key) computed driver-side) and, inside each
        file, only matching row groups (files are sorted by (_b, key), so
        the pushed key predicate prunes via parquet min/max stats). The
        engine's analog of the reference's indexed grid probe
        (/root/reference/grid-and-attrs/footprint.js:134-144).
        """
        buckets = self.buckets_for_keys(keys)
        # keys= pushes the isin predicate into every scan AND lets the
        # manifest's per-(delta, bucket) key bounds skip whole delta
        # commits driver-side (see read())
        return self.read(buckets=buckets, keys=list(keys), columns=columns)

    def buckets_for_keys(self, keys: list) -> list[int]:
        """Bucket ids the given keys hash into — the driver-side keyed
        probe every point read/delete shares. The same transform as
        bucket_expr, evaluated on a tiny keys frame whose schema comes
        from the table's ACTUAL key type — xxhash64 over a mistyped
        column would compute different buckets and silently miss rows."""
        key_field = next(f for f in self.schema.fields if f.name == self.key)
        keys_schema = StructType([StructField(self.key, key_field.dataType)])
        bucket_rows = (
            self.spark.createDataFrame([(k,) for k in keys], keys_schema)
            .select(self.bucket_of().alias("_b"))
            .collect()
        )
        return sorted({int(r["_b"]) for r in bucket_rows})

    def read_lineage(self) -> DataFrame:
        paths = [os.path.join(self.root, p) for p in self.manifest["lineage_paths"]]
        if not paths:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(*paths)

    # ---------- write / commit ----------

    def commit_rewrite(
        self,
        merged: DataFrame,
        touched_buckets: list[int],
        tag: str | None = None,
        lineage: "DataFrame | list[tuple] | None" = None,
        summary: dict | None = None,
        repartition: bool = True,
        retry_on_conflict: int = 0,
        collect_stats: bool = True,
        sort_expr: list | None = None,
    ) -> "IceboxTable":
        """Copy-on-write commit: `merged` holds the COMPLETE new contents of
        `touched_buckets` (with a `_b` bucket column; merge metadata
        _lsn/_tombstone defaulted if absent); all other buckets carry over
        untouched. Returns the table at the new snapshot.

        repartition=False when the caller already clustered by `_b`
        (the merge path does) — avoids a second exchange before the write.

        retry_on_conflict: optimistic-concurrency rebases (Iceberg-style).
        A rewrite's contents were computed FROM this handle's snapshot, so
        losing the manifest race is only recoverable when every concurrent
        commit provably touched a DISJOINT bucket set (each merge/compact
        commit records its bucket ids): then the already-written files are
        re-published on top of the winner's manifest — no data moves. An
        overlapping bucket, an op that doesn't record its buckets
        (rollback/overwrite), a bucket-layout change, or diverging schema
        evolution still raises ConcurrentCommitError.
        """
        if tag is not None and self.has_tag(tag):
            return self  # exactly-once: replay of a committed tag is a no-op
        if retry_on_conflict <= 0:
            # fail fast before the heavy write; with retries the stale
            # state is still readable (files are immutable) and the
            # publish loop arbitrates
            self._check_current()
        snap_dirname = f"snap-{self.snapshot_id + 1:08d}-{uuid.uuid4().hex[:8]}"
        snap_rel = os.path.join("data", snap_dirname)
        snap_abs = os.path.join(self.root, snap_rel)

        have = set(merged.columns)
        for f in INTERNAL_FIELDS:
            if f.name not in have:
                default = F.lit(-1).cast(f.dataType) if f.name == "_lsn" else F.lit(False)
                merged = merged.withColumn(f.name, default)
        cols = [f.name for f in self.schema.fields] + INTERNAL_NAMES
        out = merged.select("_b", *cols)
        if repartition:
            out = out.repartition(max(len(touched_buckets), 1), "_b")
        (
            # sort by (_b, key): satisfies the dynamic-partition writer's
            # required ordering AND clusters rows by key inside each file —
            # the reference's orderBy(grid) output clustering
            # (resolve-footprints.scala:205). sort_expr overrides the
            # within-bucket order (rewrite_clustered's z-key).
            out.sortWithinPartitions(
                "_b", *(sort_expr if sort_expr is not None else [self.key])
            )
            .write.partitionBy("_b")
            .mode("overwrite")
            .parquet(snap_abs)
        )

        written = {
            int(d.split("=", 1)[1])
            for d in os.listdir(snap_abs)
            if d.startswith("_b=")
        }
        # schema the files were WRITTEN with — stays pinned across a
        # rebase even if a concurrent winner evolved the current schema
        file_schema_id = self.manifest["current_schema_id"]
        # row count from parquet footers (driver O(#files), footer-only
        # reads) — feeds the merge-strategy heuristic (batch size vs
        # table size)
        rows_by_bucket = {
            b: _parquet_rows(os.path.join(snap_abs, f"_b={b}"))
            for b in touched_buckets
            if b in written
        }
        # zone maps: per-bucket column min/max, driver-side footer reads.
        # collect_stats=False on hot per-batch merge paths (the harvest's
        # per-rowgroup Python loop costs real driver seconds on a
        # many-batch replay); maintenance commits (compaction, split,
        # overwrite) keep it on, and analyze() backfills anything missed.
        bounds_by_bucket: dict = {}
        if collect_stats:
            write_logical = StructType.fromJson(
                json.loads(self.manifest["schemas"][str(file_schema_id)])
            )
            bounds_by_bucket = {
                b: _harvest_col_bounds([os.path.join(snap_abs, f"_b={b}")],
                                       write_logical)
                for b in touched_buckets
                if b in written
            }
        touched_strs = {str(b) for b in touched_buckets}

        def fields(base: dict) -> dict:
            new_buckets = dict(base["buckets"])
            for b in touched_buckets:
                if b in written:
                    new_buckets[str(b)] = {
                        "path": os.path.join(snap_rel, f"_b={b}"),
                        "schema_id": file_schema_id,
                        "rows": rows_by_bucket[b],
                    }
                    if bounds_by_bucket.get(b):
                        new_buckets[str(b)]["col_bounds"] = bounds_by_bucket[b]
                else:
                    new_buckets.pop(str(b), None)  # bucket emptied by deletes

            # the rewrite holds the COMPLETE new contents of touched
            # buckets, so any delta rows for them are now folded in: prune
            # those buckets from every delta entry (files are left in
            # place — immutable — and reclaimed by expire_snapshots once
            # no kept manifest's entries reference them). On a rebase this
            # runs over the WINNER's delta list — safe because the rebase
            # validated that no concurrent commit touched these buckets,
            # so every pruned row was already visible to (and folded by)
            # this rewrite's read.
            new_deltas = []
            for d in base.get("deltas") or []:
                remaining = {
                    b: n for b, n in d["bucket_rows"].items() if b not in touched_strs
                }
                if remaining:
                    nd = {**d, "bucket_rows": remaining}
                    # bounds and blooms travel with their buckets
                    for stat in ("key_bounds", "key_blooms"):
                        if stat in nd:
                            kb = {b: v for b, v in nd[stat].items() if b in remaining}
                            if kb:
                                nd[stat] = kb
                            else:
                                nd.pop(stat)
                    new_deltas.append(nd)
            return {
                "buckets": new_buckets,
                "deltas": new_deltas,
                "summary": summary or {},
            }

        return self._publish(
            fields, tag=tag, lineage=lineage, data_rel=snap_rel,
            retry_on_conflict=retry_on_conflict, touched_buckets=touched_buckets,
        )

    def stage_delta(self, deltas: DataFrame, extra_cols: list[str] | None = None) -> str:
        """Write a delta file set for the NEXT snapshot WITHOUT committing;
        returns the staged dir (relative). The single heavy pass over the
        batch and every delta's one writer: partition count is whatever
        AQE coalesced the upstream exchange to under the 8 MB advisory
        scoped below (small batches land in ONE file, big ones in
        size-bounded files), rows sorted by (_b, key) for row-group
        pruning. `extra_cols` (e.g. per-winner stats the
        caller aggregates AFTER the write) ride along in the parquet —
        schema-projected reads never see them. A crash before the
        manifest publish leaves only this orphan dir (expire_snapshots
        reclaims it)."""
        sid = self.snapshot_id + 1
        snap_dirname = f"snap-{sid:08d}-{uuid.uuid4().hex[:8]}"
        snap_rel = os.path.join("data", snap_dirname)
        cols = [f.name for f in self.schema.fields] + INTERNAL_NAMES
        # Scope a small AQE advisory size around this write: the default
        # 64 MB coalesces a multi-million-winner batch to ~3 post-agg
        # partitions, serializing the sort + parquet encode onto 3 cores
        # (measured +30% on a 16M-event replay). 8 MB keeps small batches
        # in ONE file while giving big batches enough write tasks to use
        # the machine. Driver-side set/restore — commits are sequential.
        conf = self.spark.conf
        key_adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old_adv = conf.get(key_adv, None)
        conf.set(key_adv, "8m")
        try:
            (
                deltas.select("_b", *cols, *(extra_cols or []))
                .sortWithinPartitions("_b", self.key)
                .write.mode("overwrite")
                .parquet(os.path.join(self.root, snap_rel))
            )
        finally:
            if old_adv is None:
                conf.unset(key_adv)
            else:
                conf.set(key_adv, old_adv)
        return snap_rel

    def commit_staged_delta(
        self,
        snap_rel: str,
        bucket_rows: dict[int, int],
        tag: str | None = None,
        lineage: "DataFrame | list[tuple] | None" = None,
        summary: dict | None = None,
        key_bounds: dict | None = None,
        key_blooms: dict | None = None,
        col_bounds: dict | None = None,
        retry_on_conflict: int = 0,
    ) -> "IceboxTable":
        """Publish a delta file set previously written by stage_delta —
        the metadata half of commit_delta (manifest append + lineage),
        no Spark job.

        key_bounds: optional {bucket: (min_key, max_key)} over the delta's
        rows — manifest-level file statistics (the Iceberg
        lower_bounds/upper_bounds analog). Keyed reads use them to skip
        this delta entirely when no probed key can fall in range. Only
        JSON-safe scalar bounds are recorded; anything else is dropped
        (pruning is an optimization, never a correctness dependency).

        key_blooms: optional {bucket: base64 bloom bitset} over the
        delta's keys (pack_key_blooms) — skips deltas whose key RANGE
        overlaps the probe but whose key SET provably lacks it.

        retry_on_conflict: optimistic-concurrency rebases (Iceberg's
        fast-append analog). A delta append COMMUTES with other merge
        commits — the read path LWW-resolves per key on (_lsn, commit
        order), so any serialization of independent writers' batches
        yields the same final state. Losing the manifest race therefore
        just means rebase: reload CURRENT, merge any in-memory schema
        evolution (ids are append-only; a true id collision or a
        concurrent bucket-layout change refuses), and re-publish the SAME
        staged files — no data is rewritten."""
        if tag is not None and self.has_tag(tag):
            return self

        entry = {
            "path": snap_rel,
            # schema the staged files were WRITTEN with — pinned across a
            # rebase even if a concurrent winner evolved the current schema
            "schema_id": self.manifest["current_schema_id"],
            "bucket_rows": {str(b): int(n) for b, n in bucket_rows.items()},
        }
        # zone maps (col_bounds) are {field_id: [lo, hi]} over the WHOLE
        # delta commit (entry granularity — its files span buckets).
        # JSON-safe scalars only; anything else is dropped, pruning degrades.
        for stat, bounds in (("key_bounds", key_bounds), ("col_bounds", col_bounds)):
            safe = {
                str(k): [lo, hi]
                for k, (lo, hi) in (bounds or {}).items()
                if isinstance(lo, (str, int, float))
                and isinstance(hi, (str, int, float))
                and not isinstance(lo, bool)
                and not isinstance(hi, bool)
            }
            if safe:
                entry[stat] = safe
        if key_blooms:
            entry["key_blooms"] = {
                str(b): v for b, v in key_blooms.items() if isinstance(v, str)
            }
        return self._publish(
            lambda base: {
                "deltas": list(base.get("deltas") or []) + [entry],
                "summary": summary or {},
            },
            tag=tag, lineage=lineage, data_rel=snap_rel,
            retry_on_conflict=retry_on_conflict,
        )

    def commit_delta(
        self,
        deltas: DataFrame,
        bucket_rows: dict[int, int],
        tag: str | None = None,
        lineage: "DataFrame | list[tuple] | None" = None,
        summary: dict | None = None,
        key_bounds: dict | None = None,
        key_blooms: dict | None = None,
        collect_stats: bool = False,
        retry_on_conflict: int = 0,
    ) -> "IceboxTable":
        """Merge-on-read commit: append ONE compact delta file set instead
        of rewriting buckets — stage_delta, then (collect_stats) the zone
        maps off the staged footers, then commit_staged_delta. `deltas`
        holds the batch's deduped winners (payload + `_b` + `_lsn` +
        `_tombstone`, one row per key, deletes as tombstone rows);
        `bucket_rows` maps touched bucket → winner count (the caller's
        stats — no parquet footer reads needed).

        Write cost is O(batch) — copy-on-write's O(touched-table)
        amplification (a uniformly-spread micro-batch rewrites every
        bucket) never happens. Files are sized by stage_delta's scoped
        8 MB adaptive advisory over the input's last exchange, so a
        deduped micro-batch writes a SINGLE file, not #buckets
        hive-partitioned ones (per-commit file-commit overhead is what
        caps small-batch throughput); an input with no exchange keeps its
        own partitioning. `_b` is stored as a data column, rows sorted by
        (_b, key) within each file, so bucket-pruned reads skip foreign
        row groups via parquet min/max stats. Reads LWW-merge base ∪
        deltas per key on (_lsn, commit order); compact_if_needed folds
        deltas back into base files.

        The reference's analog is appending new version= partitions
        instead of rewriting releases
        (/root/reference/athena-schema/add-buildings-partitions.js:4-10).
        """
        if tag is not None and self.has_tag(tag):
            return self
        if retry_on_conflict <= 0:
            self._check_current()  # fail fast before the delta write
        snap_rel = self.stage_delta(deltas)
        # zone maps off the staged footers (driver-side, O(#files) footer
        # reads). OFF by default: the hot CDC apply path's per-batch
        # constant matters more than analytics pruning on never-compacted
        # deltas — compaction harvests bounds anyway.
        col_bounds = (
            _harvest_col_bounds([os.path.join(self.root, snap_rel)], self.schema)
            if collect_stats else None
        )
        return self.commit_staged_delta(
            snap_rel, bucket_rows, tag=tag, lineage=lineage, summary=summary,
            key_bounds=key_bounds, key_blooms=key_blooms,
            col_bounds=col_bounds,
            retry_on_conflict=retry_on_conflict,
        )

    def compact_if_needed(
        self,
        ratio: float = 0.5,
        min_deltas: int = 1,
        tag: str | None = None,
    ) -> "IceboxTable":
        """Maintenance: fold delta rows back into base files for buckets
        whose accumulated delta rows exceed `ratio` × base rows (or whose
        base is empty). One copy-on-write commit covering every chosen
        bucket (the MoR read view IS the merge); a no-op returns self.
        Compaction moves no logical data, so it needs no exactly-once tag
        and is safe to re-run after a crash."""
        per_bucket: dict[str, tuple[int, int]] = {}  # b -> (delta_rows, n_deltas)
        for d in self.manifest.get("deltas") or []:
            for b, n in d["bucket_rows"].items():
                dr, nd = per_bucket.get(b, (0, 0))
                per_bucket[b] = (dr + n, nd + 1)
        chosen = []
        for b, (drows, ndeltas) in per_bucket.items():
            if ndeltas < min_deltas:
                continue
            base_rows = self.manifest["buckets"].get(b, {}).get("rows", 0)
            if base_rows == 0 or drows >= ratio * base_rows:
                chosen.append(int(b))
        if not chosen:
            return self
        merged = self.read(buckets=chosen, internal=True).withColumn(
            "_b", self.bucket_of()
        )
        return self.commit_rewrite(
            merged,
            chosen,
            tag=tag,
            summary={
                "operation": "compact",
                "buckets": len(chosen),
                # ids let concurrent rewrites prove bucket-disjointness
                # when rebasing past this compaction (_intervening_touched)
                "bucket_ids": sorted(chosen),
            },
        )

    def rewrite_clustered(
        self,
        cols: list[str],
        bits: int | None = None,
        files_per_bucket: int = 1,
        tag: str | None = None,
        max_dict: int = 256,
    ) -> "IceboxTable":
        """Maintenance: rewrite the whole table z-ordered on `cols`
        (functions/zorder.py) — Iceberg's OPTIMIZE ... ZORDER analog.

        One copy-on-write pass over the merged view (this IS a full
        compaction: deltas fold in), range-partitioned on (_b, z) so
        each bucket splits into ~files_per_bucket files each covering a
        contiguous z-range, rows sorted by z inside every file. After
        it, min/max stats — parquet row-group footers AND the manifest
        zone maps commit_rewrite harvests — are selective on EVERY
        clustered column: a file's z-range is an axis-aligned box, so a
        predicate on the second or third clustering column skips files
        the same way one on the first does. A linear sort gives that
        only to its leading column.

        Normalization bounds come from one tiny min/max aggregate over
        the merged view (the same scan the rewrite reads; at 100 TB use
        analyze()-maintained manifest bounds instead — both are exact).
        Numeric columns normalize by range; STRING columns must be
        low-cardinality categoricals (source, language, domain class —
        ≤ max_dict distinct values, enforced by a countDistinct in the
        same stats aggregate) and cluster by lexicographic dictionary
        rank (zorder.dict_cells), so raw-string file min/max stats stay
        selective after the z-sort. High-cardinality strings are
        rejected loudly — rank them yourself into a numeric column if
        you really mean it. NULLs sort first and cluster together.

        Scale shape: identical to compact — one range exchange of the
        table, O(#buckets·files_per_bucket) driver metadata, no extra
        pass. Safe to re-run (moves no logical data), needs no
        exactly-once tag.
        """
        from data_pipeline_spark.functions.zorder import (
            _cells,
            default_bits,
            dict_cells,
            zkey_cells,
        )

        numeric = {
            "byte", "short", "integer", "long", "float", "double",
        }
        by_name = {f.name: f for f in self.schema.fields}
        str_cols = []
        for c in cols:
            if c not in by_name:
                raise ValueError(f"unknown column {c!r}")
            tn = by_name[c].dataType.typeName()
            if tn == "string":
                str_cols.append(c)
            elif tn not in numeric:
                raise ValueError(
                    f"z-order needs numeric or string columns, {c!r} is {tn}"
                )
        b = default_bits(len(cols)) if bits is None else bits
        merged = self.read(internal=True).withColumn("_b", self.bucket_of())
        # one stats pass: min/max for numeric, distinct-count guard for
        # strings, row count for the empty-table bail
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            if c in str_cols:
                aggs.append(F.countDistinct(c).alias(f"_nd_{c}"))
            else:
                aggs += [
                    F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")
                ]
        stat = merged.agg(*aggs).first()
        if stat["_n"] == 0:  # empty table
            return self
        for c in str_cols:
            nd = stat[f"_nd_{c}"]
            if nd > max_dict:
                raise ValueError(
                    f"string z-order column {c!r} has {nd} distinct values"
                    f" (> max_dict={max_dict}); dictionary-rank clustering"
                    " needs a low-cardinality categorical"
                )
        dicts: dict[str, list] = {}
        if str_cols:
            # ≤ max_dict values each by the guard above: ONE extra pass
            # collects every dictionary (not one scan per column)
            sets = merged.agg(
                *[F.collect_set(c).alias(c) for c in str_cols]
            ).first()
            dicts = {c: sorted(sets[c]) for c in str_cols}
        cells, bounds = [], []
        for c in cols:
            # a degenerate column (all NULL → no dictionary / no numeric
            # bounds) gets a CONSTANT cell, not a NULL one — a NULL cell
            # would NULL the whole interleaved key and void clustering on
            # the OTHER columns
            if c in dicts:
                cells.append(
                    dict_cells(c, dicts[c], b) if dicts[c]
                    else F.lit(0).cast("bigint")
                )
                bounds.append([None, None])
            else:
                lo, hi = stat[f"_lo_{c}"], stat[f"_hi_{c}"]
                if lo is None:  # all-NULL numeric column
                    cells.append(F.lit(0).cast("bigint"))
                    bounds.append([None, None])
                else:
                    cells.append(_cells(F.col(c), lo, hi, b))
                    bounds.append([lo, hi])
        z = zkey_cells(cells, b)
        touched = sorted(
            {int(k) for k in self.manifest["buckets"]}
            | {
                int(bk)
                for d in self.manifest.get("deltas") or []
                for bk in d["bucket_rows"]
            }
        )
        n_parts = max(1, len(touched)) * max(1, files_per_bucket)
        out = merged.repartitionByRange(n_parts, F.col("_b"), z)
        return self.commit_rewrite(
            out,
            touched,
            tag=tag,
            repartition=False,
            sort_expr=[z],
            summary={
                "operation": "rewrite_clustered",
                "cols": list(cols),
                "bits": b,
                "bounds": bounds,
                "dicts": dicts,
                "files_per_bucket": files_per_bucket,
                "bucket_ids": touched,
            },
        )

    def rollback(self, snapshot_id: int) -> "IceboxTable":
        """Roll the table back to an earlier snapshot's STATE as a NEW
        commit (Iceberg-style rollback): the chain stays append-only and
        auditable, no data files move. `committed_tags` keeps the CURRENT
        cumulative set — replay of batches applied after the rollback
        point stays a no-op (rollback is an operator's state decision,
        not an invitation to double-apply); feed corrected batches with
        fresh tags instead."""
        meta_dir = os.path.join(self.root, "metadata")
        with open(os.path.join(meta_dir, f"snap-{snapshot_id:08d}.json")) as f:
            old = json.load(f)
        return self._publish({
            "buckets": old["buckets"],
            "deltas": old.get("deltas") or [],
            # layout travels WITH the state: rolling back across a
            # split_buckets must restore the old bucket count, or
            # bucket_of() disagrees with the physical layout and every
            # bucket-pruned read/merge silently drops keys
            "n_buckets": old["n_buckets"],
            "current_schema_id": old["current_schema_id"],
            "schemas": old["schemas"],
            "summary": {"operation": "rollback", "to": snapshot_id},
        })

    def changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        include_pre: bool = True,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """NET row-level change feed between two committed snapshots —
        the Iceberg incremental-read / Delta CDF analog: what a
        downstream consumer must apply to move a derived copy from
        snapshot A's state to snapshot B's. Output is B-schema logical
        columns plus `_change_type` ∈ {insert, delete, update_pre,
        update_post} (update_pre rows carry the A-side image; omit with
        include_pre=False; delete rows carry the A image, insert/
        update_post the B image). Changes are NET over the interval: a
        key inserted then deleted between A and B emits nothing —
        intermediate versions collapse exactly as the table's own LWW
        read does.

        Scale shape — the interval's commit manifests (O(#commits)
        driver-side JSON, no file opens) pick the plan:
          * every change-carrying commit is a MoR delta merge →
            candidate keys are read from JUST the interval's delta file
            sets (O(changes) rows, key column only), both snapshot
            states are bucket-pruned to the touched buckets and
            semi-joined down to the candidates before the diff join —
            scan O(touched buckets), shuffle O(changes), never
            O(table);
          * a CoW merge commit records its touched bucket ids → bucket
            pruning still applies, the candidate semi-join doesn't;
          * compact / split_buckets are logical no-ops and contribute
            nothing (a split drops bucket pruning for the interval —
            bucket ids refer to a different layout);
          * rollback, overwrite, or an unrecognized operation forces
            the safe full state diff.
        The whole interval's snapshots must still be retained
        (expire_snapshots not run past from_snapshot_id — the walk reads
        every interval manifest, and the fast path reads interval delta
        files). The reference's consumers diff whole releases by
        re-reading them (/root/reference/athena-schema/
        add-buildings-partitions.js:4-10 appends version= partitions);
        this is that diff made O(changes).

        where: filtered CDF — the change feed OF THE FILTERED VIEW
        ``read(where=...)``: exactly what a consumer maintaining a
        derived copy of `SELECT * WHERE P` must apply. A row UPDATED
        into the predicate emits `insert`, updated out of it emits
        `delete` (its old image) — the filtered view's own lifecycle,
        not a per-row post-filter of the unfiltered feed. Both state
        reads go through zone-map pruning, so immutable-column
        predicates (source, ingest day) skip foreign delta commits
        driver-side on BOTH sides of the diff.
        """
        to_sid = self.snapshot_id if to_snapshot_id is None else to_snapshot_id
        if not 0 <= from_snapshot_id <= to_sid <= self.snapshot_id:
            raise ValueError(
                f"need 0 <= from {from_snapshot_id} <= to {to_sid} <= "
                f"current {self.snapshot_id}"
            )
        src = (
            self
            if to_sid == self.snapshot_id
            else IceboxTable.load(self.spark, self.root, to_sid)
        )
        old = IceboxTable.load(self.spark, self.root, from_snapshot_id)

        meta_dir = os.path.join(self.root, "metadata")
        full_diff = False
        prune_buckets = old.n_buckets == src.n_buckets
        candidates_ok = True
        touched: set[int] = set()
        delta_reads: list[tuple[str, str]] = []  # (schema_id, rel path)
        for sid in range(from_snapshot_id + 1, to_sid + 1):
            with open(os.path.join(meta_dir, f"snap-{sid:08d}.json")) as f:
                m = json.load(f)
            s = m.get("summary") or {}
            op = s.get("operation")
            if op in (
                "compact", "rewrite_clustered", "rename_column",
                "drop_column", "analyze", "compact_lineage",
            ):
                # no logical rows move: compaction and the z-order
                # rewrite fold/reorder physical files only; rename/drop
                # change the SCHEMA only (the feed's output is B-schema
                # and pre-images translate by field id); analyze and
                # compact_lineage are metadata/lineage-only. Leaving any
                # of these off this list silently degrades every
                # incremental consumer to the full-state diff whenever
                # spine maintenance (cluster_every / lineage_max_paths /
                # analyze windows) commits between cursor polls.
                continue
            if op == "split_buckets":
                prune_buckets = False
                continue
            if op == "merge":
                if s.get("events") == 0:
                    continue  # rejected/empty batch: committed, no rows
                if s.get("strategy") == "delta":
                    if m.get("deltas"):
                        d = m["deltas"][-1]  # commit_staged_delta appends last
                        delta_reads.append((str(d["schema_id"]), d["path"]))
                        touched |= {int(b) for b in d["bucket_rows"]}
                    continue
                if isinstance(s.get("bucket_ids"), list):
                    touched |= {int(b) for b in s["bucket_ids"]}
                    candidates_ok = False  # CoW folded keys into base files
                    continue
            full_diff = True  # rollback / overwrite / unknown: be safe
            break

        bsel = (
            sorted(touched) if (prune_buckets and not full_diff) else None
        )
        # `where` names columns in B's (current) schema; the A snapshot
        # may predate a rename/add, so push it into the A read only when
        # every predicate column exists there under the same name —
        # otherwise filter A after the field-id rename/conform below
        # (same semantics, loses only A-side pruning for that interval)
        # field-id identity, not just the name: a rename a->b followed by
        # a new column named a would otherwise push B's predicate onto
        # A's OLD field
        a_ids = {f.name: _field_id(f) for f in old.schema.fields}
        b_ids = {f.name: _field_id(f) for f in src.schema.fields}
        a_pushable = where is not None and all(
            c in a_ids and a_ids[c] == b_ids.get(c) for (c, _, _) in where
        )
        a_state = old.read(buckets=bsel, where=where if a_pushable else None)
        b_state = src.read(buckets=bsel, where=where)

        # conform the A side to B's schema: field-id translation first
        # (renames map values to the new name, dropped columns project
        # away), then typed-null backfill for added columns — the payload
        # structs then compare field-for-field
        tgt = src.schema
        a_state = _rename_by_field_ids(a_state, old.schema, tgt)
        a_state = _conform(a_state, tgt)
        if where is not None and not a_pushable:
            a_state = a_state.filter(self._where_expr(where))

        key = self.key
        others = [f.name for f in tgt.fields if f.name != key]
        if candidates_ok and not full_diff and not delta_reads:
            # no change-carrying commits at all (or an empty interval):
            # a statically-empty frame in the output shape, no Spark job
            empty = self.spark.createDataFrame([], tgt)
            return empty.select(
                key, *others, F.lit("").alias("_change_type")
            ).limit(0)
        if candidates_ok and not full_diff:
            key_field = next(f for f in tgt.fields if f.name == key)
            kschema = StructType([key_field])
            cand = None
            for schema_id, rel in delta_reads:
                part = self.spark.read.schema(kschema).parquet(
                    os.path.join(self.root, rel)
                )
                cand = part if cand is None else cand.unionByName(part)
            cand = cand.drop_duplicates([key])
            a_state = a_state.join(cand, key, "left_semi")
            b_state = b_state.join(cand, key, "left_semi")

        a = a_state.select(key, F.struct(*others).alias("_pa"))
        b = b_state.select(key, F.struct(*others).alias("_pb"))
        # one full-outer diff join; each row classifies ONCE into an
        # array of (type, image) rows which a single explode emits —
        # unchanged keys yield NULL and are filtered before the explode
        # (building four filtered branches and unioning them would
        # recompute the join per branch)
        j = a.join(b, key, "full_outer")
        ina, inb = F.col("_pa").isNotNull(), F.col("_pb").isNotNull()
        row = lambda typ, p: F.struct(  # noqa: E731
            F.lit(typ).alias("_change_type"), F.col(p).alias("_pay")
        )
        upd = (
            F.array(row("update_pre", "_pa"), row("update_post", "_pb"))
            if include_pre
            else F.array(row("update_post", "_pb"))
        )
        j = j.withColumn(
            "_chg",
            F.when(~ina & inb, F.array(row("insert", "_pb")))
            .when(ina & ~inb, F.array(row("delete", "_pa")))
            .when(~F.col("_pa").eqNullSafe(F.col("_pb")), upd),
        ).filter(F.col("_chg").isNotNull())
        return j.select(key, F.explode("_chg").alias("_c")).select(
            F.col(key),
            *[F.col(f"_c._pay.{c}").alias(c) for c in others],
            F.col("_c._change_type").alias("_change_type"),
        )

    def split_buckets(self, factor: int = 2) -> "IceboxTable":
        """Partition evolution: multiply n_buckets by `factor` and rewrite
        the data into the finer layout (one-time maintenance commit, the
        engine's answer to 'n_buckets is fixed at create' — at 100 TB a
        bucket outgrowing its rewrite budget gets split before it hurts).

        Because bucket = pmod(xxhash64(key), n), new = old × factor means
        h mod (f·n) ≡ h mod n (mod n): every old bucket's rows land in
        exactly `factor` new buckets — the rewrite is per-old-bucket
        local, no cross-bucket shuffle is semantically required. Old
        snapshots keep their own n_buckets in their manifests, so time
        travel across the split stays correct.
        """
        if factor < 2:
            raise ValueError("factor must be ≥ 2")
        old_n = self.n_buckets
        new_n = old_n * factor
        # commit through a CLONED handle: a failed split must leave this
        # handle's manifest untouched (a live handle claiming the new
        # bucket count over the old physical layout would mis-prune every
        # subsequent merge)
        clone = IceboxTable(
            self.spark, self.root, {**self.manifest, "n_buckets": new_n}
        )
        merged = self.read(internal=True).withColumn("_b", clone.bucket_of())
        # range(new_n) ⊇ range(old_n): commit_rewrite prunes every old
        # bucket id from delta entries (the read above folded deltas in)
        touched = list(range(new_n))
        return clone.commit_rewrite(
            merged,
            touched,
            summary={"operation": "split_buckets", "from": old_n, "to": new_n},
        )

    def split_if_needed(
        self, max_rows_per_bucket: int, factor: int = 2
    ) -> "IceboxTable":
        """Maintenance policy: double the bucket count when the average
        PHYSICAL rows per bucket (base + delta, from manifest counters —
        no Spark job) exceed `max_rows_per_bucket`. The counters include
        tombstones and count a key once per delta commit it appears in,
        so they are an UPPER BOUND on live rows — a split can trigger
        before the live-row budget is truly exceeded. That bias is the
        right direction for a write-amplification bound (physical rows
        are what a compaction/CoW rewrite actually moves), and
        compact_if_needed collapses the per-delta duplicates that drive
        the bound back down. The auto-scaling partner
        of compact_if_needed: compaction bounds per-bucket READ cost
        between folds, this bounds per-bucket REWRITE cost as the table
        grows (a compaction or CoW merge rewrites whole buckets, so
        bucket size is the table's unit of write amplification). Keys
        hash uniformly by construction, so mean ≈ max and a global
        factor-split is the right growth step. A no-op returns self;
        like compaction it moves no logical data, needs no exactly-once
        tag, and is safe to re-run after a crash."""
        base = sum(e.get("rows", 0) for e in self.manifest["buckets"].values())
        delta = sum(
            n
            for d in self.manifest.get("deltas") or []
            for n in d["bucket_rows"].values()
        )
        if (base + delta) <= max_rows_per_bucket * self.n_buckets:
            return self
        return self.split_buckets(factor=factor)

    # ---------- metadata tables (Iceberg t$snapshots / t$files analog) ----------

    def snapshots(self) -> DataFrame:
        """The table's commit history as a DataFrame — Iceberg's
        `t$snapshots` metadata table: one row per retained manifest with
        id, parent, commit time, operation, summary JSON, and whether it
        is the current snapshot / a ref target. Driver-side manifest
        walk, O(#snapshots) metadata, no data-file access."""
        meta_dir = os.path.join(self.root, "metadata")
        ref_by_sid: dict[int, list[str]] = {}
        for n, sid in self.refs().items():
            ref_by_sid.setdefault(sid, []).append(n)
        rows = []
        for f in sorted(os.listdir(meta_dir)):
            if not (f.startswith("snap-") and f.endswith(".json")):
                continue
            with open(os.path.join(meta_dir, f)) as fh:
                m = json.load(fh)
            s = m.get("summary") or {}
            rows.append(
                (
                    int(m["snapshot_id"]),
                    m.get("parent_id"),
                    float(
                        m.get("committed_at")
                        or os.path.getmtime(os.path.join(meta_dir, f))
                    ),
                    s.get("operation"),
                    json.dumps(s, sort_keys=True),
                    m.get("tag"),
                    int(m["snapshot_id"]) == self.snapshot_id,
                    sorted(ref_by_sid.get(int(m["snapshot_id"]), [])),
                )
            )
        schema = (
            "snapshot_id long, parent_id long, committed_at double, "
            "operation string, summary string, tag string, "
            "is_current boolean, refs array<string>"
        )
        return self.spark.createDataFrame(rows, schema)

    def _file_rows(self) -> list:
        """One driver-side walk of the snapshot's referenced dirs —
        shared by files() and partitions() (and register_metadata, which
        feeds both views from a single walk)."""
        rows = []

        def _dir_files(rel: str):
            absd = os.path.join(self.root, rel)
            if not os.path.isdir(absd):
                return
            for dirpath, _dirs, names in os.walk(absd):
                for n in sorted(names):
                    if n.endswith(".parquet"):
                        p = os.path.join(dirpath, n)
                        yield os.path.relpath(p, self.root), os.path.getsize(p)

        for b, e in sorted(self.manifest["buckets"].items(), key=lambda kv: int(kv[0])):
            if e.get("path") is None:
                continue
            for rel, size in _dir_files(e["path"]):
                rows.append(
                    (rel, "base", int(b), int(e.get("schema_id", 0)),
                     int(e.get("rows", 0)), size)
                )
        for i, d in enumerate(self.manifest.get("deltas") or []):
            live_rows = sum(int(n) for n in d["bucket_rows"].values())
            for rel, size in _dir_files(d["path"]):
                rows.append(
                    (rel, f"delta-{i}", -1, int(d.get("schema_id", 0)),
                     live_rows, size)
                )
        return rows

    FILES_SCHEMA = (
        "path string, kind string, bucket int, schema_id int, "
        "manifest_rows long, bytes long"
    )

    def files(self, _rows: list | None = None) -> DataFrame:
        """Physical layout of THIS snapshot as a DataFrame — Iceberg's
        `t$files`: one row per data file with bucket, kind (base/delta),
        schema generation, manifest row count (bucket granularity), and
        on-disk bytes. Driver-side os.walk of referenced dirs only."""
        rows = self._file_rows() if _rows is None else _rows
        return self.spark.createDataFrame(rows, self.FILES_SCHEMA)

    def partitions(self, _rows: list | None = None) -> DataFrame:
        """Per-bucket layout rollup — Iceberg's `t$partitions` analog:
        one row per bucket with base rows/files/bytes, the physical
        delta rows covering it (tombstones and per-commit duplicates
        included — the same upper-bound counters split_if_needed uses),
        and how many live delta commits touch it (the bucket's MoR
        read-tax: files merged per read until compaction folds them).
        Driver-side manifest walk + the same single file walk files()
        uses (shared via _file_rows) — no Spark job; the
        skew/compaction dashboard query."""
        base: dict[int, list] = {}
        for b, e in self.manifest["buckets"].items():
            if e.get("path") is not None:
                base[int(b)] = [int(e.get("rows", 0)), 0, 0]
        for _path, kind, bucket, _sid, _rows_, size in (
            self._file_rows() if _rows is None else _rows
        ):
            if kind == "base" and bucket in base:
                base[bucket][1] += 1
                base[bucket][2] += size
        delta_rows: dict[int, int] = {}
        delta_commits: dict[int, int] = {}
        for d in self.manifest.get("deltas") or []:
            for b, n in d["bucket_rows"].items():
                delta_rows[int(b)] = delta_rows.get(int(b), 0) + int(n)
                delta_commits[int(b)] = delta_commits.get(int(b), 0) + 1
        rows = [
            (
                b,
                *(base.get(b) or [0, 0, 0]),
                delta_rows.get(b, 0),
                delta_commits.get(b, 0),
            )
            for b in sorted(set(base) | set(delta_rows))
        ]
        schema = (
            "bucket int, base_rows long, base_files int, base_bytes long, "
            "delta_rows long, delta_commits int"
        )
        return self.spark.createDataFrame(rows, schema)

    def validate(self, deep: bool = False) -> dict:
        """Integrity check of THIS snapshot (maintenance tool, mutates
        nothing): every referenced bucket/delta/lineage dir must exist
        and hold parquet files; with deep=True, base-bucket footer row
        counts (pyarrow, driver-side) are compared to the manifest's
        counters. Returns {"ok": bool, "missing": [...], "mismatched":
        [...], "orphan_dirs": [...]} — orphans are data/ dirs no retained
        manifest references (reclaimable via expire_snapshots)."""
        missing, mismatched = [], []

        def _check_dir(rel: str) -> bool:
            absd = os.path.join(self.root, rel)
            if not os.path.isdir(absd):
                missing.append(rel)
                return False
            return True

        for b, e in self.manifest["buckets"].items():
            if e.get("path") is None:
                continue
            if _check_dir(e["path"]) and deep:
                actual = _parquet_rows(os.path.join(self.root, e["path"]))
                if actual != e.get("rows", actual):
                    mismatched.append(
                        {"path": e["path"], "manifest": e.get("rows"),
                         "actual": actual}
                    )
        for d in self.manifest.get("deltas") or []:
            _check_dir(d["path"])
        for p in self.manifest["lineage_paths"]:
            if not os.path.exists(os.path.join(self.root, p)):
                missing.append(p)
        # orphans: data dirs referenced by NO retained manifest
        meta_dir = os.path.join(self.root, "metadata")
        referenced: set[str] = set()
        for f in os.listdir(meta_dir):
            if not (f.startswith("snap-") and f.endswith(".json")):
                continue
            with open(os.path.join(meta_dir, f)) as fh:
                m = json.load(fh)
            for e in m["buckets"].values():
                if e.get("path") is not None:
                    referenced.add(e["path"].split(os.sep)[1])
            for d in m.get("deltas") or []:
                referenced.add(d["path"].split(os.sep)[1])
            for p in m["lineage_paths"]:
                referenced.add(p.split(os.sep)[1])
        data_dir = os.path.join(self.root, "data")
        orphans = sorted(
            d for d in os.listdir(data_dir) if d not in referenced
        ) if os.path.isdir(data_dir) else []
        return {
            "ok": not missing and not mismatched,
            "missing": missing,
            "mismatched": mismatched,
            "orphan_dirs": orphans,
        }

    # ---------- named refs (Iceberg tag analog) ----------

    def _refs_dir(self) -> str:
        return os.path.join(self.root, "metadata", "refs")

    def set_ref(
        self, name: str, snapshot_id: int | None = None, overwrite: bool = False
    ) -> None:
        """Pin a NAME to a snapshot (default: this handle's) — the
        Iceberg tag analog, the reproducibility primitive a training
        lake needs: `set_ref("corpus-v3")` freezes the exact table
        version a training run consumed; `load(root, ref="corpus-v3")`
        reproduces it verbatim years of commits later, and
        expire_snapshots never reclaims a ref'd snapshot's manifest or
        data. Refs are names → snapshot ids, nothing more: the snapshot
        chain stays strictly linear (sid = parent+1 is what the OCC
        arbiter, crash roll-forward, and changes() all rely on), so
        divergent BRANCH writes are deliberately not offered — fork by
        creating a new table from a ref'd read instead.

        Durability matches commits: content fsync'd, atomic rename,
        refs-dir fsync. `overwrite=False` refuses to move an existing
        ref (tags are immutable by default, like Iceberg's)."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
            raise ValueError(f"invalid ref name {name!r}")
        sid = self.snapshot_id if snapshot_id is None else int(snapshot_id)
        snap = os.path.join(self.root, "metadata", f"snap-{sid:08d}.json")
        if not os.path.exists(snap):
            raise ValueError(f"snapshot {sid} does not exist (expired?)")
        refs_dir = self._refs_dir()
        os.makedirs(refs_dir, exist_ok=True)
        path = os.path.join(refs_dir, name)
        if os.path.exists(path) and not overwrite:
            raise ValueError(
                f"ref {name!r} already points at snapshot "
                f"{self.refs()[name]}; pass overwrite=True to move it"
            )
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(sid))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        _fsync_dir(refs_dir)

    def write_audit_publish(
        self,
        commit_fn,
        audit_fn=None,
        ref: str = "published",
    ) -> "IceboxTable":
        """Write-audit-publish (Iceberg's WAP pattern, on refs instead of
        branches — the snapshot chain stays linear, see set_ref).

        Reader contract: production consumers read ``load(root,
        ref="published")``, never CURRENT. A writer then runs

        * WRITE   — ``commit_fn(table) -> table'`` performs any normal
          commit(s); CURRENT advances but the published ref does not, so
          consumers keep reading the audited state;
        * AUDIT   — ``audit_fn(table')`` (default: ``validate()`` with a
          clean-report check) inspects the REAL committed files. A falsy
          return or an exception fails the audit: the table rolls back
          to the pre-write snapshot (append-only rollback commit — the
          bad snapshot stays for forensics until expiry) and the ref
          never moves;
        * PUBLISH — on success the ref fast-forwards to the new snapshot
          (fsync'd atomic rename, same durability as a commit).

        Returns the post-publish (or post-rollback) table handle."""
        base_sid = self.snapshot_id
        if ref in self.refs() and self.refs()[ref] > base_sid:
            raise ValueError(
                f"ref {ref!r} is ahead of this handle — load CURRENT first"
            )
        try:
            t2 = commit_fn(self)
            if audit_fn is None:
                ok = t2.validate(deep=True)["ok"]
            else:
                ok = audit_fn(t2)
        except Exception:
            IceboxTable.load(self.spark, self.root).rollback(base_sid)
            raise
        if not ok:
            return IceboxTable.load(self.spark, self.root).rollback(base_sid)
        t2.set_ref(ref, overwrite=True)
        return t2

    def refs(self) -> dict[str, int]:
        """All named refs: {name: snapshot_id}."""
        refs_dir = self._refs_dir()
        if not os.path.isdir(refs_dir):
            return {}
        out = {}
        for name in os.listdir(refs_dir):
            if ".tmp-" in name:
                continue
            with open(os.path.join(refs_dir, name)) as f:
                out[name] = int(f.read().strip())
        return out

    def drop_ref(self, name: str) -> bool:
        """Remove a ref; returns False if it didn't exist. The snapshot
        it pointed at becomes reclaimable by expire_snapshots again."""
        path = os.path.join(self._refs_dir(), name)
        try:
            os.remove(path)
        except FileNotFoundError:
            return False
        _fsync_dir(self._refs_dir())
        return True

    def analyze(self) -> "IceboxTable":
        """Backfill zone-map statistics for entries that lack them, as a
        METADATA-ONLY commit (no data moves) — the out-of-band partner of
        ``collect_stats``: the hot CDC apply path commits deltas without
        footer harvesting (per-batch constant first), then a maintenance
        window runs analyze() and every older delta becomes prunable by
        read(where=). Base bucket entries written before zone maps (or by
        older engine versions) are covered too. Idempotent; returns self
        unchanged when nothing is missing. Driver-side footer reads only,
        O(#files lacking stats), zero Spark jobs."""
        changed = False
        new_deltas = []
        for d in self.manifest.get("deltas") or []:
            if d.get("col_bounds") is None:
                logical = StructType.fromJson(
                    json.loads(self.manifest["schemas"][str(d["schema_id"])])
                )
                cb = _harvest_col_bounds(
                    [os.path.join(self.root, d["path"])], logical
                )
                if cb:
                    d = {**d, "col_bounds": cb}
                    changed = True
            new_deltas.append(d)
        new_buckets = {}
        for b, e in self.manifest["buckets"].items():
            if e.get("path") is not None and e.get("col_bounds") is None:
                logical = StructType.fromJson(
                    json.loads(self.manifest["schemas"][str(e["schema_id"])])
                )
                cb = _harvest_col_bounds(
                    [os.path.join(self.root, e["path"])], logical
                )
                if cb:
                    e = {**e, "col_bounds": cb}
                    changed = True
            new_buckets[b] = e
        if not changed:
            return self
        return self._publish({
            "buckets": new_buckets,
            "deltas": new_deltas,
            # bucket_ids: [] — metadata-only, touches no buckets, so a
            # concurrent rewrite's retry_on_conflict rebase can prove
            # disjointness instead of failing
            "summary": {"operation": "analyze", "bucket_ids": []},
        })

    def compact_lineage(
        self, max_paths: int = 64, retention_batches: int | None = None
    ) -> "IceboxTable":
        """Maintenance: fold lineage dirs into merged segments — a
        metadata + tiny-data commit bounding two O(#commits) growths a
        long-running stream otherwise accrues: the manifest's
        lineage_paths list (rewritten with every commit) and the
        lineage dir count (read_lineage opens one file set per batch).

        Two-level fold so total I/O is NOT quadratic in stream length:
        when the per-batch TAIL outgrows `max_paths`, only the tail
        folds into a new merged segment (O(max_paths) rows per fold —
        the steady-state case); when the merged segments themselves
        outgrow `max_paths`, they refold into one (every ~max_paths²
        commits). History is preserved row-for-row — read_lineage()
        returns the identical frame — unless `retention_batches` is
        set, which drops rows older than (max folded batch_id −
        retention) at fold time: the metrics-retention knob that keeps
        even the rare full refold bounded on a months-long stream.

        Superseded dirs stay referenced by OLDER manifests until
        expire_snapshots drops those manifests, after which expiry
        reclaims them (lineage subdirs are expiry-tracked
        individually). Lineage is O(#batches·#buckets) tiny rows, so
        this is driver-side pyarrow only — no Spark job; idempotent
        (no-op under budget); safe to re-run after a crash (an orphan
        merged dir from a crash before the manifest publish is grace-
        swept). The commit records "bucket_ids": [] so concurrent
        rewrites with retry_on_conflict rebase across it (it touches no
        buckets) instead of failing."""
        if max_paths < 1:
            raise ValueError("max_paths must be >= 1")
        paths = self.manifest["lineage_paths"]
        segs = [
            p for p in paths if os.path.basename(p).startswith("merged-")
        ]
        tail = [
            p for p in paths
            if not os.path.basename(p).startswith("merged-")
        ]
        if len(tail) > max_paths:
            fold, keep = tail, segs  # steady state: tail-only fold
        elif len(segs) > max_paths:
            fold, keep = segs, tail  # rare: refold the segments
        else:
            return self
        import pyarrow as pa
        import pyarrow.parquet as pq

        tables = []
        for rel in fold:
            absd = os.path.join(self.root, rel)
            for f in sorted(os.listdir(absd)):
                if f.endswith(".parquet"):
                    tables.append(pq.read_table(os.path.join(absd, f)))
        merged = pa.concat_tables(tables)
        if retention_batches is not None and merged.num_rows:
            import pyarrow.compute as pc

            wm = pc.max(merged["batch_id"]).as_py()
            merged = merged.filter(
                pc.greater_equal(
                    merged["batch_id"], wm - int(retention_batches)
                )
            )
        rel = os.path.join(
            "data", "lineage",
            f"merged-{self.snapshot_id + 1:08d}-{uuid.uuid4().hex[:8]}",
        )
        os.makedirs(os.path.join(self.root, rel), exist_ok=True)
        pq.write_table(
            merged, os.path.join(self.root, rel, "lineage.parquet")
        )
        return self._publish({
            "lineage_paths": (
                keep + [rel] if fold is tail else [rel] + keep
            ),
            "summary": {
                "operation": "compact_lineage",
                "folded": len(fold),
                "bucket_ids": [],
            },
        })

    def expire_snapshots(
        self, keep_last: int = 5, older_than: float | None = None,
        orphan_grace: float = 3600.0,
    ) -> dict:
        """Iceberg-style maintenance: drop manifests older than the last
        `keep_last` snapshots and delete data directories no kept
        manifest references (copy-on-write carries old dirs forward, so
        the reference set is the union over KEPT manifests, not just the
        current one). Tags survive — `committed_tags` is cumulative in
        every manifest, so exactly-once replay detection is unaffected.

        `older_than` (epoch seconds) adds the age axis Iceberg retention
        policies use: a snapshot newer than the cutoff is kept even
        beyond keep_last (commit times from the manifest's committed_at,
        mtime fallback for pre-timestamp manifests). Named refs pin
        their snapshots unconditionally on both axes.

        Two removal classes, mirroring Iceberg's expire vs
        remove_orphan_files split:

        * EXPIRED data — referenced only by manifests this call removes —
          is deleted exactly: the reference witness makes it dead.
        * ORPHANS — dirs NO manifest (kept or expired) references: crash
          leftovers from a writer that staged files but died before its
          manifest publish... or a CONCURRENT writer's staged-not-yet-
          committed delta. Indistinguishable by listing alone, so
          orphans are removed only when their newest file mtime is older
          than `orphan_grace` seconds (Iceberg's remove_orphan_files
          defaults to 3 days for the same race). Grace 0 = the old
          aggressive behavior, safe only with a single writer.

        Returns {"removed_dirs": n, "removed_manifests": m,
        "skipped_orphans": k}.
        """
        import shutil
        import time

        meta_dir = os.path.join(self.root, "metadata")
        snaps = sorted(
            int(f[5:13])
            for f in os.listdir(meta_dir)
            if f.startswith("snap-") and f.endswith(".json")
        )
        # named refs pin their snapshots (and data) unconditionally
        keep_ids = set(snaps[-keep_last:]) | {self.snapshot_id} | set(
            self.refs().values()
        )
        if older_than is not None:
            for sid in snaps:
                if sid in keep_ids:
                    continue
                p = os.path.join(meta_dir, f"snap-{sid:08d}.json")
                with open(p) as f:
                    ts = json.load(f).get("committed_at")
                if float(ts if ts is not None else os.path.getmtime(p)) >= older_than:
                    keep_ids.add(sid)

        def _dirs_of(manifest: dict) -> set[str]:
            out = set()
            for e in manifest["buckets"].values():
                if e.get("path") is not None:
                    out.add(e["path"].split(os.sep)[1])  # data/<dir>/_b=k
            for d in manifest.get("deltas") or []:
                out.add(d["path"].split(os.sep)[1])
            return out

        def _lineage_of(manifest: dict) -> set[str]:
            # data/lineage/<dir> — tracked at SUBDIR granularity so
            # compact_lineage-superseded dirs become reclaimable once
            # the manifests referencing them expire
            return {
                p.split(os.sep)[2]
                for p in manifest["lineage_paths"]
                if len(p.split(os.sep)) > 2
            }

        referenced: set[str] = set()
        expired_refs: set[str] = set()
        lin_ref: set[str] = set()
        lin_expired: set[str] = set()
        for sid in snaps:
            with open(os.path.join(meta_dir, f"snap-{sid:08d}.json")) as f:
                m = json.load(f)
            if sid in keep_ids:
                referenced.update(_dirs_of(m))
                lin_ref.update(_lineage_of(m))
            else:
                expired_refs.update(_dirs_of(m))
                lin_expired.update(_lineage_of(m))
        expired_refs -= referenced
        lin_expired -= lin_ref

        def _newest_mtime(absd: str) -> float:
            try:
                newest = os.path.getmtime(absd)
            except OSError:
                # dir vanished (a concurrent expire already took it):
                # treat as ancient — the rmtree below is a no-op
                return 0.0
            for base, _, files in os.walk(absd):
                for fn in files:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(base, fn)))
                    except OSError:
                        pass
            return newest

        data_dir = os.path.join(self.root, "data")
        cutoff = time.time() - orphan_grace
        removed_dirs = skipped = 0

        def _sweep(parent: str, ref: set[str], expired: set[str]) -> None:
            nonlocal removed_dirs, skipped
            if not os.path.isdir(parent):
                return
            for d in os.listdir(parent):
                if d in ref:
                    continue
                absd = os.path.join(parent, d)
                if d not in expired and _newest_mtime(absd) >= cutoff:
                    skipped += 1  # possibly a live writer's staged dir
                    continue
                shutil.rmtree(absd, ignore_errors=True)
                removed_dirs += 1

        # top-level data dirs (bucket snapshots, delta sets); the
        # lineage parent is swept at subdir granularity below
        # (_dirs_of never emits "lineage", so expired_refs can't hold it)
        _sweep(data_dir, referenced | {"lineage"}, expired_refs)
        _sweep(os.path.join(data_dir, "lineage"), lin_ref, lin_expired)
        removed_manifests = 0
        for sid in snaps:
            if sid not in keep_ids:
                os.remove(os.path.join(meta_dir, f"snap-{sid:08d}.json"))
                removed_manifests += 1
        return {"removed_dirs": removed_dirs, "removed_manifests": removed_manifests,
                "skipped_orphans": skipped}

    def overwrite_all(self, df: DataFrame, tag: str | None = None) -> "IceboxTable":
        """Full rewrite of every bucket (initial load path)."""
        merged = df.withColumn("_b", self.bucket_of())
        return self.commit_rewrite(
            merged, list(range(self.n_buckets)), tag=tag, summary={"operation": "overwrite"}
        )

    def _publish(
        self,
        fields,
        tag: str | None = None,
        lineage: "DataFrame | list[tuple] | None" = None,
        data_rel: str | None = None,
        retry_on_conflict: int = 0,
        touched_buckets: "list[int] | None" = None,
    ) -> "IceboxTable":
        """The table's one write path (Iceberg's SnapshotProducer.commit):
        every snapshot — create, merge, compaction, DDL, rollback,
        analyze, lineage fold — is published here. Returns the table at
        the new snapshot.

        `fields` holds the manifest keys the operation changes, or a
        function of the parent manifest returning them (a rebase
        recomputes them over the winner's manifest). On top of those the
        snapshot is numbered parent + 1, `tag` joins committed_tags, and
        `lineage` rows land once, before the first attempt, in
        data/lineage/<basename of data_rel> — outside the per-snapshot
        data dirs, because lineage_paths is cumulative and co-locating it
        with snapshot data would pin every historical snapshot dir
        forever, so expire_snapshots could never reclaim superseded
        bucket data.

        Single winner: _check_current fails fast, and the exclusive
        manifest link in _write_manifest arbitrates a true race. A loser
        rebases up to `retry_on_conflict` times (_rebase_for_retry, which
        checks `touched_buckets` for disjointness when given) and
        re-publishes on the winner's manifest; if the winner already
        committed `tag`, the loser returns the winner's table."""
        lineage_rel = None
        if lineage is not None:
            if isinstance(lineage, DataFrame):
                lineage = [tuple(r) for r in lineage.collect()]
            lineage_rel = os.path.join("data", "lineage", os.path.basename(data_rel))
            _write_lineage_local(os.path.join(self.root, lineage_rel), lineage)
        tbl, retries = self, retry_on_conflict
        while True:
            base = tbl.manifest
            parent = base["snapshot_id"]  # None only for create()'s empty parent
            manifest = {
                **base,
                **(fields(base) if callable(fields) else fields),
                "snapshot_id": 0 if parent is None else parent + 1,
                "parent_id": parent,
                "tag": tag,
                "committed_tags": base["committed_tags"] + ([tag] if tag else []),
            }
            if lineage_rel:
                manifest["lineage_paths"] = [*manifest["lineage_paths"], lineage_rel]
            try:
                if parent is not None:
                    tbl._check_current()
                tbl._write_manifest(manifest)
                return IceboxTable(self.spark, self.root, manifest)
            except ConcurrentCommitError:
                if retries <= 0:
                    raise
                retries -= 1
                fresh = self._rebase_for_retry(tbl.manifest, tag, touched_buckets)
                if fresh is None:  # our tag won via the other writer
                    return IceboxTable.load(self.spark, self.root)
                tbl = fresh

    def _rebase_for_retry(
        self,
        stale_manifest: dict,
        tag: str | None,
        touched_buckets: "list[int] | None" = None,
    ) -> "IceboxTable | None":
        """Reload CURRENT after losing the commit race and validate that
        the pending commit can be replayed on top of the winner(s).

        Returns the fresh handle (with the stale side's in-memory schema
        evolution merged into it), or None when `tag` is already committed
        (a racing writer published the same idempotency tag — the pending
        commit is a logical no-op). Raises ConcurrentCommitError when the
        rebase is not provably safe:
          * the bucket layout changed (concurrent split, or a rollback
            across one) — the pending files' `_b` values refer to a
            different layout;
          * both sides evolved the schema to DIFFERENT new schemas, or
            allocated the same schema id for different schemas;
          * for rewrites (touched_buckets given): a concurrent commit
            touched an overlapping bucket, or an intervening operation
            doesn't record its touched buckets (rollback/overwrite) —
            the rewrite's contents were computed from a stale state.
        """
        fresh = IceboxTable.load(self.spark, self.root)
        if tag is not None and fresh.has_tag(tag):
            return None
        if fresh.n_buckets != stale_manifest["n_buckets"]:
            raise ConcurrentCommitError(
                f"bucket layout changed ({stale_manifest['n_buckets']} -> "
                f"{fresh.n_buckets}) while this commit was pending; "
                "recompute from the fresh snapshot"
            )
        schemas, cur = _rebase_schemas(stale_manifest, fresh.manifest)
        if touched_buckets is not None:
            overlap = self._intervening_touched(
                stale_manifest["snapshot_id"], fresh.snapshot_id
            ) & {int(b) for b in touched_buckets}
            if overlap:
                raise ConcurrentCommitError(
                    f"concurrent writer touched buckets {sorted(overlap)[:8]}"
                    " overlapping this rewrite; recompute from the fresh "
                    "snapshot"
                )
        fresh.manifest["schemas"] = schemas
        fresh.manifest["current_schema_id"] = cur
        # field-id allocation is monotonic across BOTH racers
        fresh.manifest["last_field_id"] = max(
            stale_manifest.get("last_field_id", -1),
            fresh.manifest.get("last_field_id", -1),
        )
        return fresh

    def _intervening_touched(self, from_sid: int, to_sid: int) -> set[int]:
        """Union of bucket ids touched by commits (from_sid, to_sid] —
        O(#commits) driver-side manifest JSON, same walk as changes().
        Raises ConcurrentCommitError on any commit whose touched set is
        unknowable (rollback/overwrite/split/unrecognized): a rewrite
        cannot prove disjointness against those."""
        meta_dir = os.path.join(self.root, "metadata")
        touched: set[int] = set()
        for sid in range(from_sid + 1, to_sid + 1):
            with open(os.path.join(meta_dir, f"snap-{sid:08d}.json")) as f:
                m = json.load(f)
            s = m.get("summary") or {}
            op = s.get("operation")
            if op == "merge" and s.get("events") == 0:
                continue  # rejected/empty batch: committed, no rows
            if isinstance(s.get("bucket_ids"), list):
                touched |= {int(b) for b in s["bucket_ids"]}
                continue
            if op == "merge" and s.get("strategy") == "delta" and m.get("deltas"):
                # older delta commits without summary ids: the appended
                # entry (always last) carries its buckets
                touched |= {int(b) for b in m["deltas"][-1]["bucket_rows"]}
                continue
            raise ConcurrentCommitError(
                f"cannot rebase across a concurrent "
                f"{op or 'unrecognized'} commit (snapshot {sid}) — it does "
                "not record its touched buckets; recompute from the fresh "
                "snapshot"
            )
        return touched

    def _check_current(self) -> None:
        cur_path = os.path.join(self.root, "metadata", "CURRENT")
        with open(cur_path) as f:
            current = f.read().strip()
        expected = f"snap-{self.snapshot_id:08d}.json"
        if current != expected:
            raise ConcurrentCommitError(
                f"table at {self.root} moved to {current} while this handle "
                f"holds {expected}; reload and re-apply"
            )

    def _write_manifest(self, manifest: dict) -> None:
        """Single-winner commit swap.

        Snapshot names are deterministic (parent+1), so two writers racing
        from the same loaded snapshot compute the SAME manifest name; the
        hard-link publish below is an atomic exclusive create — exactly one
        writer wins, the other gets ConcurrentCommitError instead of
        silently clobbering the winner's manifest (the _check_current at
        commit start is advisory only; this is the arbiter)."""
        import time as _time

        # overwrite, not setdefault: child manifests built by spreading
        # the parent's dict must not inherit the parent's commit time
        manifest["committed_at"] = _time.time()
        meta_dir = os.path.join(self.root, "metadata")
        name = f"snap-{manifest['snapshot_id']:08d}.json"
        path = os.path.join(meta_dir, name)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # atomic O_EXCL-style publish
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot {name} already committed by another writer; "
                f"reload {self.root} and re-apply"
            ) from None
        finally:
            os.remove(tmp)
        # COMMIT-RECORD durability (not full-table power-loss durability):
        # the link's directory entry must reach disk before the commit is
        # reported, so the manifest chain itself survives power loss. The
        # parquet data files it references are written by Spark WITHOUT
        # fsync — after a power cut a durable commit record may point at
        # missing/truncated data (readers fail loudly on the missing
        # files; recovery = rollback to the previous snapshot). Closing
        # that gap needs an fsync sweep of the data dir before this link,
        # or an object store with close-to-durable semantics (S3 et al.,
        # the deployment target this layout models).
        _fsync_dir(meta_dir)
        _swap_current(meta_dir, name)
        _fsync_dir(meta_dir)
        self.manifest = manifest


LINEAGE_SCHEMA = StructType(
    [
        StructField("batch_id", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("events_applied", LongType()),
        StructField("rows_upserted", LongType()),
        StructField("rows_deleted", LongType()),
        StructField("lsn_watermark", LongType()),
    ]
)


def _rebase_schemas(stale: dict, fresh: dict) -> tuple[dict, int]:
    """Merge a stale handle's (possibly in-memory-evolved) schema list
    into a freshly loaded manifest's, for an optimistic-concurrency
    rebase. Schema ids are append-only, so the fresh list is a superset
    of the stale handle's COMMITTED ids; anything extra on the stale side
    is its own in-memory evolution and carries over. The same id bound to
    different JSON means two writers allocated it concurrently — refuse.
    current_schema_id resolves to whichever side evolved; BOTH evolving
    to different schemas is a true conflict (no automatic union of two
    divergent evolutions)."""
    merged = dict(fresh["schemas"])
    for k, v in stale["schemas"].items():
        if merged.get(k, v) != v:
            raise ConcurrentCommitError(
                f"concurrent schema evolution both allocated schema id {k}"
                " for different schemas; reload and re-apply"
            )
        merged[k] = v
    s_cur, f_cur = stale["current_schema_id"], fresh["current_schema_id"]
    s_new = str(s_cur) not in fresh["schemas"]
    f_new = str(f_cur) not in stale["schemas"]
    if s_new and f_new and s_cur != f_cur:
        raise ConcurrentCommitError(
            f"concurrent schema evolution diverged (ids {s_cur} vs {f_cur});"
            " reload and re-apply"
        )
    cur = s_cur if s_new else (f_cur if f_new else max(s_cur, f_cur))
    return merged, cur


def _swap_current(meta_dir: str, name: str) -> None:
    """Point CURRENT at snapshot file `name`: fsync'd temp file, then an
    atomic rename over CURRENT."""
    cur_tmp = os.path.join(meta_dir, f"CURRENT.tmp-{uuid.uuid4().hex[:8]}")
    with open(cur_tmp, "w") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    os.replace(cur_tmp, os.path.join(meta_dir, "CURRENT"))


def _fsync_dir(path: str) -> None:
    """fsync a directory so freshly-linked/renamed entries survive power
    loss (POSIX: file fsync does not cover its directory entry)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _parquet_rows(bucket_dir: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for f in os.listdir(bucket_dir):
        if f.endswith(".parquet"):
            n += pq.read_metadata(os.path.join(bucket_dir, f)).num_rows
    return n


# ---------- column zone maps (manifest min/max statistics) ----------
#
# The Iceberg lower_bounds/upper_bounds analog for NON-key columns:
# harvested from parquet footers the commit already has open (driver-side,
# O(#files) footer reads, zero Spark jobs), recorded per bucket entry
# (base) / per delta entry, KEYED BY FIELD ID so renames keep pruning
# working. Pruning is an optimization, never a correctness dependency:
# any missing/odd stat degrades to "might match".

_ZONE_TYPES = ("byte", "short", "integer", "long", "float", "double", "string")
_ZONE_MAX_STR = 64  # parquet writers may truncate long string stats


def _zone_fields(logical: StructType) -> dict[str, int]:
    """{column name: field id} for columns zone maps can cover."""
    out = {}
    for f in logical.fields:
        fid = _field_id(f)
        if fid is not None and f.dataType.typeName() in _ZONE_TYPES:
            out[f.name] = fid
    return out


def _harvest_col_bounds(paths: list[str], logical: StructType) -> dict:
    """{field_id_str: [lo, hi]} over every row group of `paths`.

    A column qualifies only if EVERY row group has exact min/max and ZERO
    nulls for it: the null-count guard is what makes immutable-column
    file pruning safe — a tombstone carrying a null payload value would
    otherwise let an excluded delta's delete resurrect an older live row.
    """
    import math

    import pyarrow.parquet as pq

    fields = _zone_fields(logical)
    agg: dict[str, list] = {}
    dead: set[str] = set()
    for p in paths:
        files = (
            [p]
            if p.endswith(".parquet")
            else [
                os.path.join(p, f)
                for f in os.listdir(p)
                if f.endswith(".parquet")
            ]
        )
        for fp in files:
            md = pq.read_metadata(fp)
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for ci in range(rg.num_columns):
                    col = rg.column(ci)
                    name = col.path_in_schema
                    if name not in fields or name in dead:
                        continue
                    st = col.statistics
                    if (
                        st is None
                        or not st.has_min_max
                        or st.null_count is None
                        or st.null_count > 0
                    ):
                        dead.add(name)
                        continue
                    lo, hi = st.min, st.max
                    ok = (
                        isinstance(lo, (int, float, str))
                        and not isinstance(lo, bool)
                        and type(lo) is type(hi)
                    )
                    if ok and isinstance(lo, float) and (
                        math.isnan(lo) or math.isnan(hi)
                    ):
                        ok = False
                    if ok and isinstance(lo, str) and (
                        len(lo) >= _ZONE_MAX_STR or len(hi) >= _ZONE_MAX_STR
                    ):
                        ok = False
                    if not ok:
                        dead.add(name)
                        continue
                    k = str(fields[name])
                    if k in agg:
                        agg[k][0] = min(agg[k][0], lo)
                        agg[k][1] = max(agg[k][1], hi)
                    else:
                        agg[k] = [lo, hi]
    dead_fids = {str(fields[n]) for n in dead}
    return {k: v for k, v in agg.items() if k not in dead_fids}


def _bounds_exclude(bounds, op: str, val) -> bool:
    """True iff [lo, hi] proves no row can satisfy `col op val`.
    Conservative: uncomparable types or any error -> False."""
    try:
        lo, hi = bounds
        if isinstance(val, bool) or isinstance(lo, bool):
            return False
        num = isinstance(lo, (int, float)) and not isinstance(lo, bool)
        if op == "in":
            vs = list(val)
            return all(_bounds_exclude(bounds, "=", v) for v in vs)
        if num != isinstance(val, (int, float)) or (
            isinstance(lo, str) != isinstance(val, str)
        ):
            return False
        if op == "=":
            return val < lo or val > hi
        if op == "<":
            return lo >= val
        if op == "<=":
            return lo > val
        if op == ">":
            return hi <= val
        if op == ">=":
            return hi < val
        return False
    except TypeError:
        return False


def _write_lineage_local(dir_path: str, rows: list[tuple]) -> None:
    """Lineage is O(#buckets) rows — write it driver-side with pyarrow
    (a Spark job for a 64-row file costs seconds of fixed overhead).
    Read back by read_lineage with LINEAGE_SCHEMA (types match)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("batch_id", pa.int32()),
            ("partition_id", pa.int32()),
            ("events_applied", pa.int64()),
            ("rows_upserted", pa.int64()),
            ("rows_deleted", pa.int64()),
            ("lsn_watermark", pa.int64()),
        ]
    )
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    t = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(t, os.path.join(dir_path, "lineage.parquet"))


def _conform(df: DataFrame, target: StructType) -> DataFrame:
    """Project df onto target schema: missing columns → typed nulls,
    narrower numerics → cast (the read-side half of schema evolution)."""
    have = {f.name for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
