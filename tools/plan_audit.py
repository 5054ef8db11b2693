"""Plan audit: capture formatted physical plans for representative
queries and assert the properties a 100 TB deployment needs —
filter/projection pushdown into the parquet scan, broadcast joins for
small dims, whole-stage codegen coverage, no Python row-UDFs in hot
paths. Writes PLANS.md at the repo root.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__ as E  # noqa: E402

# Conf save/restore that preserves UNSET-ness: writing back a guessed
# default (e.g. '64MB' for the adaptive broadcast threshold, whose real
# unset behavior is "fall back to spark.sql.autoBroadcastJoinThreshold")
# would leave the session with an explicit non-default value and every
# later audit section running under an inflated threshold.
_UNSET = object()


def _save_confs(conf, keys):
    saved = {}
    for k in keys:
        try:
            v = conf.get(k)
        except Exception:  # unset and no resolvable default (raises)
            v = None  # ...while some Spark versions return null instead
        saved[k] = _UNSET if v is None else v
    return saved


def _restore_confs(conf, saved):
    for k, v in saved.items():
        if v is _UNSET:
            conf.unset(k)
        else:
            conf.set(k, v)

AUDITED = {
    "filter_project": [
        ("PushedFilters with actual predicates", r"PushedFilters: \[.*GreaterThan"),
        ("scan reads only needed columns", r"ReadSchema: [^\n]*p_partkey[^\n]*p_retailprice"),
        ("whole-stage codegen", r"\*\(\d+\)"),
    ],
    "revenue_by_nation": [
        ("broadcast joins for small dims", r"BroadcastHashJoin"),
        ("partial aggregation before exchange", r"partial_sum"),
        (
            "fact scan pruned to 3 columns",
            r"ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>",
        ),
        ("dim filter pushed into region scan", r"PushedFilters: \[In\(r_name"),
    ],
    "pricing_summary": [
        ("filter pushed to scan", r"PushedFilters: \[[^\]]*LessThanOrEqual"),
        ("partial aggregation", r"partial_sum"),
    ],
    "set_ops": [
        ("semi join strategy", r"LeftSemi"),
        ("anti join strategy", r"LeftAnti"),
    ],
    "text_rarity": [
        # the (doc,word)-pair stream crosses ONE explicit exchange keyed
        # on _word; the (doc_id,_word) dedup aggregate REUSES it
        # (HashPartitioning(_word) satisfies ClusteredDistribution(doc,
        # word)), as does the document-frequency agg and the dw⋈dfreq
        # join — asserted by the ABSENCE of any (doc,word) exchange
        ("pairs repartitioned on the word key", r"hashpartitioning\(_word"),
        (
            "dedup aggregate adds NO (doc_id,_word) exchange — reuses the "
            "word partitioning",
            r"!hashpartitioning\(doc_id\S*, _word",
        ),
        # the lm_score fold (r5): the (doc,bigram) stream is keyed on
        # the bigram and the count-join reuses it; the 1-row vocabulary
        # aggregate rides a broadcast, never a shuffle
        ("bigram stream repartitioned on the bigram key", r"hashpartitioning\(_bg"),
        ("vocabulary size joins via broadcast", r"BroadcastNestedLoopJoin"),
    ],
    "corpus_curation": [
        # split/sample/mix are pure column exprs over the portable hash —
        # the only exchanges are the LSH banding aggregates (band,bucket)
        # and the tiny rate/count frames; nothing is all-pairs
        ("no row-at-a-time Python UDFs anywhere", r"!BatchEvalPython"),
        ("LSH band buckets aggregate on (band, bucket)", r"hashpartitioning\(band"),
        ("domain-mix rate frame broadcasts back", r"BroadcastHashJoin"),
        ("no cartesian product anywhere", r"!CartesianProduct"),
    ],
    "corpus_prep_scored": [
        (
            "model gate scores via ArrowEvalPython (Arrow-batched), never "
            "BatchEvalPython",
            r"ArrowEvalPython",
        ),
        ("no row-at-a-time Python eval", r"!BatchEvalPython"),
        ("gate joins broadcast at audited sf", r"BroadcastHashJoin"),
    ],
    "window_lww": [
        ("exchanges only on the window key", r"hashpartitioning\(user_id"),
        (
            "map-side top-1 per key before the exchange (WindowGroupLimit "
            "Partial — automatic hot-key containment)",
            r"WindowGroupLimit[\s\S]{0,200}?row_number\(\), 1, Partial",
        ),
    ],
    "asof_join": [
        (
            "ONE exchange, keyed on the join key (union+window fill — "
            "never a pairwise temporal join)",
            r"hashpartitioning\(user_id",
        ),
        ("no join node anywhere in the plan", r"!(?:SortMerge|BroadcastHash|BroadcastNestedLoop)Join"),
        ("window fill carries the build payload", r"Window"),
    ],
    "range_join": [
        (
            "never a nested loop / cartesian (grid cells make it an equi-join)",
            r"!(?:CartesianProduct|BroadcastNestedLoopJoin)",
        ),
        ("join keyed on the (user, grid-cell) composite", r"_cell"),
    ],
    "dedup_exact": [("partial agg (map-side combine)", r"partial_")],
    "corpus_stats": [
        # the r5 checked composition carries BOTH paths: the sketch
        # family must stay mergeable (constant-size sketches cross the
        # exchange — the 100 TB contract), and nothing drops to Python
        (
            "sketch percentiles partially aggregated map-side",
            r"partial_percentile_approx",
        ),
        (
            "HLL++ distinct partially aggregated map-side",
            r"partial_approx_count_distinct",
        ),
        ("pure codegen — no Python eval", r"!(?:BatchEvalPython|ArrowEvalPython)"),
    ],
    "scalar_group_funcs": [
        (
            "scalar surface + Morton z-key are pure codegen (no Python "
            "eval anywhere)",
            r"!(?:BatchEvalPython|ArrowEvalPython)",
        ),
    ],
    "tok_corpus": [
        ("explode then partial count before exchange", r"partial_count"),
    ],
    "model_impute": [
        (
            "model scoring is Arrow-batched Python (ArrowEvalPython), "
            "never row-at-a-time BatchEvalPython",
            r"ArrowEvalPython",
        ),
    ],
    "dedup_contamination": [
        (
            "benchmark gram set broadcasts — corpus probe is a map-side "
            "join, the corpus never shuffles on gram hashes",
            r"BroadcastHashJoin \[_g",
        ),
        ("overlap count partially aggregated before the id exchange", r"partial_count"),
    ],
    "corpus_prep_pipeline": [
        (
            "id-only gate frames broadcast (AQE) — no sort-merge join, "
            "the text column never shuffles at audited sf",
            r"BroadcastHashJoin",
        ),
    ],
    "text_pii_scrub": [
        (
            "only exchange is the scan-parallelism round-robin (regex "
            "scrub rides the scan — no key shuffle, no Python eval)",
            r"RoundRobinPartitioning",
        ),
        (
            "scan pruned to id+text only",
            r"ReadSchema: struct<doc_id:bigint,text:string>",
        ),
    ],
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        "plan_audit",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    out = ["# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)", ""]
    out.append(
        "Every assertion below is grepped against the `explain('formatted')` output "
        "of the live plan at the audited sf. A failed assertion fails the script.\n"
    )
    failures = []
    for name, checks in AUDITED.items():
        df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        # formatted carries scan/exchange detail; simple carries the
        # *(n) whole-stage-codegen markers — audit the union
        plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        plan += "\n" + df._sc._jvm.PythonSQLUtils.explainString(qe, "simple")
        out.append(f"## {name}\n")
        for desc, pat in checks:
            # a leading "!" inverts the assertion: the pattern must NOT
            # appear anywhere in the plan
            if pat.startswith("!"):
                ok = re.search(pat[1:], plan) is None
            else:
                ok = re.search(pat, plan) is not None
            mark = "✅" if ok else "❌"
            out.append(f"- {mark} {desc} (`{pat}`)")
            if not ok:
                failures.append((name, desc))
        # keep plans short: scan/join/agg lines only
        keep = [
            ln
            for ln in plan.splitlines()
            if re.search(
                r"Scan parquet|PushedFilters|ReadSchema|BroadcastHashJoin|SortMergeJoin|"
                r"HashAggregate|Exchange|Window|WholeStageCodegen \(",
                ln,
            )
        ]
        out.append("\n```")
        out.extend(keep[:24])
        out.append("```\n")

    # ---- corpus_prep at-scale regime (VERDICT r3 Missing #3): force the
    # documented fallback — broadcast disabled (as it would be when the
    # gate frames outgrow the threshold at corpus scale) — and assert the
    # at-scale shape: sort-merge joins co-partitioned on the ONE doc_id
    # key, and the text column crossing AT MOST ONE exchange (the
    # clean_text branch's doc_id exchange; every other gate branch ships
    # ids or gram hashes, never text). ensure_parallelism's small-input
    # round-robin is neutralized for this audit by shrinking
    # maxPartitionBytes (at 100 TB it is a no-op by construction).
    out.append("## corpus_prep_pipeline — at-scale regime (broadcast disabled)\n")
    conf = spark.conf
    saved = _save_confs(
        conf,
        (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.files.maxPartitionBytes",
        ),
    )
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        df = qs["corpus_prep_pipeline"](spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    finally:
        _restore_confs(conf, saved)
    # formatted output is numbered node blocks "(n) NodeName" followed by
    # detail lines (Input/Arguments) up to the next block — parse them so
    # "which columns cross which exchange" is answerable
    blocks = re.split(r"^\(\d+\) ", plan, flags=re.M)[1:]
    ex_blocks = [b for b in blocks if b.startswith("Exchange")]
    text_ex = [
        b for b in ex_blocks if re.search(r"\b(text|clean_text)#\d+", b)
    ]
    smj = re.search(r"SortMergeJoin", plan) is not None
    # every exchange must key on doc_id (join co-partitioning) or on an
    # aggregate's own uniform key (content_hash for exact-dedup, _g for
    # gram hashes) — anything else (round-robin, a surprise key) fails
    allowed = re.compile(r"hashpartitioning\((doc_id|content_hash|_g)")
    bad_ex = []
    for b in ex_blocks:
        if not allowed.search(b):  # spec is on the block's Arguments: line
            m = re.search(r"Arguments: [^\n]*", b)
            bad_ex.append(m.group(0)[:80] if m else b.splitlines()[0])
    scale_checks = [
        ("no-broadcast regime engages sort-merge joins", smj),
        (
            f"text crosses AT MOST ONE exchange (found {len(text_ex)} "
            f"text-bearing of {len(ex_blocks)} total)",
            len(text_ex) <= 1,
        ),
        (
            "every exchange keys on doc_id or an aggregate's uniform hash "
            f"key — no stray shuffles (bad: {bad_ex[:2]})",
            not bad_ex,
        ),
    ]
    for desc, ok in scale_checks:
        mark = "✅" if ok else "❌"
        out.append(f"- {mark} {desc}")
        if not ok:
            failures.append(("corpus_prep_at_scale", desc))
    keep = [
        ln
        for ln in plan.splitlines()
        if re.search(r"SortMergeJoin|Exchange hashpartitioning|BroadcastHashJoin", ln)
    ]
    out.append("\n```")
    out.extend(keep[:24])
    out.append("```\n")

    # ---- runtime bloom-filter join (the 100 TB selective-join shape):
    # when a selective dim filter survives on the build side of a
    # shuffle join, Catalyst injects a bloom filter built from the dim
    # keys and applies it as a might_contain semi-filter ON THE FACT
    # SCAN SIDE — most fact rows die before the exchange, the shuffle
    # shrinks to the semi-join reduction. At sf0.01-0.1 the fact table
    # is far below the 10 GB applicationSideScanSizeThreshold default,
    # so the audit pins the threshold to 0 to exercise the path the
    # 100 TB plan takes automatically; broadcast is disabled (a 100 TB
    # dim side wouldn't broadcast either).
    out.append("## runtime bloom-filter join (selective fact⋈dim, no broadcast)\n")
    saved = _save_confs(
        conf,
        (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ),
    )
    rf_keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in rf_keys.items():
        conf.set(k, v)
    try:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).filter(
            "o_totalprice > 400000"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy()
            .count()
        )
        qe = j._jdf.queryExecution()
        plan = j._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    finally:
        _restore_confs(conf, saved)
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "10GB",
        )
    rf_checks = [
        (
            "fact side pre-filtered by the dim-key bloom (might_contain "
            "semi-filter before the exchange)",
            r"might_contain",
        ),
        ("bloom built from the filtered dim keys", r"bloom_filter_agg"),
        ("join itself is a co-partitioned sort-merge", r"SortMergeJoin"),
    ]
    for desc, pat in rf_checks:
        ok = re.search(pat, plan) is not None
        mark = "✅" if ok else "❌"
        out.append(f"- {mark} {desc} (`{pat}`)")
        if not ok:
            failures.append(("runtime_bloom_join", desc))
    keep = [
        ln
        for ln in plan.splitlines()
        if re.search(r"might_contain|bloom_filter_agg|SortMergeJoin|Exchange", ln)
    ]
    out.append("\n```")
    out.extend(keep[:12])
    out.append("```\n")

    # ---- CDC merge-plan audit: the scale claims, asserted on live plans
    import tempfile

    import pyspark.sql.functions as F

    from data_pipeline_spark.cdc import apply as A
    from data_pipeline_spark.gen import gen_event_log
    from data_pipeline_spark.icebox.table import IceboxTable

    def _fmt(df):
        qe = df._jdf.queryExecution()
        return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")

    work = tempfile.mkdtemp(prefix="plan_audit_cdc_")
    tbl = IceboxTable.create(spark, os.path.join(work, "t"), E.BASE_SCHEMA, n_buckets=16)
    log = gen_event_log(spark, 20_000, 2_000, batch_size=10_000, partitions=4)
    tbl = A.apply_batch(tbl, log.filter(F.col("batch_id") == 0), 0)
    nev = A.normalize_events(log.filter(F.col("batch_id") == 1), tbl)
    winners = A._dedup_with_stats(nev, tbl.key, tbl)
    cols = [f.name for f in tbl.schema.fields]
    target = tbl.read(buckets=list(range(16)), internal=True)

    out.append("## CDC merge plans\n")
    merge_checks = []

    join_plan = _fmt(A._merge_join(tbl, target, winners, cols))
    merge_checks += [
        ("CoW merge: target streams through a BROADCAST hash join",
         re.search(r"BroadcastHashJoin", join_plan) is not None),
        ("CoW merge: no sort-merge join anywhere (target never sorts)",
         re.search(r"SortMergeJoin", join_plan) is None),
    ]

    # the fused delta-stage plan exactly as _apply_delta_fused builds it:
    # stats columns ride along, partition-local sort, no coalesce (AQE
    # sizes the write), and — the scale property — ONE exchange total
    deltas = winners.select(
        "_b", F.col(tbl.key),
        *[F.col(c) for c in cols if c != tbl.key],
        F.col("lsn").alias("_lsn"),
        (F.col("op") == "delete").alias("_tombstone"),
        "_n_ev", "_wm", "_bad",
    )
    delta_plan = _fmt(
        deltas.select("_b", *cols, "_lsn", "_tombstone", "_n_ev", "_wm", "_bad")
        .sortWithinPartitions("_b", tbl.key)
    )
    # formatted plans print each operator twice (tree + detail section);
    # count the unique "(n) Exchange" detail headers
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange\b", delta_plan, re.M))
    merge_checks += [
        ("MoR delta write: exactly ONE exchange per batch (the dedup "
         f"aggregate's; found {n_exchanges})", n_exchanges == 1),
        ("MoR delta write: no global sort (a global orderBy would add a "
         "rangepartitioning exchange)",
         "rangepartitioning" not in delta_plan),
    ]
    for desc, ok in merge_checks:
        mark = "✅" if ok else "❌"
        out.append(f"- {mark} {desc}")
        if not ok:
            failures.append(("cdc_merge", desc))
    keep = [
        ln for ln in (join_plan + "\n" + delta_plan).splitlines()
        if re.search(r"BroadcastHashJoin|SortMergeJoin|Exchange|HashAggregate|Sort |Scan parquet", ln)
    ]
    out.append("\n```")
    out.extend(keep[:20])
    out.append("```\n")

    # ---- inverted-index probe (index.InvertedIndex.docs_with): the
    # driver-side prefix-bucket pruning is pytest-pinned (one bucket per
    # term); here the audit asserts the IN-PLAN half of the ladder — the
    # term filter reaching the parquet scan as a pushed predicate, the
    # scan pruned to the probe's columns, and no Python eval anywhere.
    from data_pipeline_spark.index import InvertedIndex

    idxo = InvertedIndex(spark, tbl, os.path.join(work, "idx"), n_buckets=16)
    idxo.refresh()
    # audit the read-optimized steady state: compacted (base-only) index —
    # live refresh deltas interpose the LWW merge aggregate, which blocks
    # scan-level pushdown until maintain() folds them (the same read-tax
    # trade the spine's compact_ratio governs)
    idxo.view = idxo.view.compact_if_needed(ratio=0.0)
    terms = [
        r["term"]
        for r in idxo.view.read().select("term").distinct().limit(3).collect()
    ]
    probe_plan = _fmt(idxo.docs_with(terms))
    out.append("## inverted-index probe (docs_with)\n")
    idx_checks = [
        ("term predicate pushed into the parquet scan (In / EqualTo)",
         re.search(
             r"PushedFilters: \[[^\]]*(?:In|EqualTo)\(term", probe_plan
         ) is not None),
        ("no Python eval in the probe path",
         re.search(r"BatchEvalPython|ArrowEvalPython", probe_plan) is None),
        ("probe plan is join-free (driver prunes buckets, scan filters)",
         re.search(r"Join", probe_plan) is None),
    ]
    for desc, ok in idx_checks:
        mark = "✅" if ok else "❌"
        out.append(f"- {mark} {desc}")
        if not ok:
            failures.append(("inverted_index_probe", desc))
    keep = [
        ln for ln in probe_plan.splitlines()
        if re.search(r"Scan parquet|PushedFilters|ReadSchema|Exchange|Filter", ln)
    ]
    out.append("\n```")
    out.extend(keep[:12])
    out.append("```\n")

    # ---- columnar merge engines (partial-update / aggregation): the
    # scale claims from cdc/partial.py + cdc/aggregate.py, asserted on
    # live plans. Audited on a compacted (base-only) table so the old-row
    # read contributes a plain pruned scan and the exchange count is
    # attributable.
    from data_pipeline_spark.cdc.aggregate import fold_agg_batch
    from data_pipeline_spark.cdc.partial import fold_partial_updates

    out.append("## Columnar merge plans (partial-update / aggregation engines)\n")
    pcols = [f.name for f in tbl.schema.fields if f.name != tbl.key]
    col_checks = []

    pf = fold_partial_updates(nev, tbl.key, pcols)
    pf_plan = _fmt(pf)
    n_ex = len(re.findall(r"^\(\d+\) Exchange\b", pf_plan, re.M))
    col_checks += [
        ("partial fold: the batch crosses exactly ONE exchange "
         f"(found {n_ex})", n_ex == 1),
        ("partial fold: map-side partial aggregation salts hot keys "
         "before the exchange", "partial_" in pf_plan),
        # max_by over array-typed payloads always plans as SortAggregate
        # (arrays are not mutable-buffer types) — identical to the row-LWW
        # fold. The sorts are PARTITION-LOCAL over the batch; the claim
        # that matters at scale is: no global sort, no range exchange.
        ("partial fold: no range partitioning (sorts are partition-local, "
         "batch-sized)", "rangepartitioning" not in pf_plan),
    ]

    af_plan = _fmt(
        fold_agg_batch(nev, tbl.key, pcols, {"n_tok": "sum", "source": "max"})
    )
    a_ex = re.findall(r"^\(\d+\) Exchange\b.*\n(?:.*\n)*?.*?Arguments: ([^\n]*)",
                      af_plan, re.M)
    n_ex = len(re.findall(r"^\(\d+\) Exchange\b", af_plan, re.M))
    col_checks += [
        ("aggregation fold: TWO exchanges statically — full events once, "
         f"the delete sliver once (found {n_ex}; AQE broadcasts the "
         "sliver at runtime)", n_ex == 2),
        ("aggregation fold: every exchange keys on doc_id",
         all("doc_id" in a for a in a_ex) if a_ex else False),
        ("aggregation fold: the delete-barrier side scans only delete "
         "events (pushed op = delete filter)",
         re.search(r"= delete", af_plan) is not None),
    ]

    # merge step: folded (already key-partitioned by its own aggregate)
    # joins the pruned old-row read — ONE more exchange (old side), no
    # re-exchange of the folded side, never a range partitioning
    tblc = tbl.compact_if_needed(ratio=0.0)
    foldedp = pf.withColumn("_b", tblc.bucket_of())
    oldp = (
        tblc.read(buckets=list(range(16)), internal=True)
        .join(foldedp.select(tblc.key), tblc.key, "left_semi")
    )
    jp = _fmt(foldedp.join(oldp, tblc.key, "left"))
    n_ex = len(re.findall(r"^\(\d+\) Exchange\b", jp, re.M))
    col_checks += [
        ("partial merge join: ≤3 exchanges total — batch fold, old-row "
         f"semi-probe, old-row join side; the folded side is NOT "
         f"re-exchanged (found {n_ex})", n_ex <= 3),
        ("partial merge join: no range partitioning (no global sort)",
         "rangepartitioning" not in jp),
    ]
    for desc, ok in col_checks:
        mark = "✅" if ok else "❌"
        out.append(f"- {mark} {desc}")
        if not ok:
            failures.append(("columnar_merge", desc))
    keep = [
        ln for ln in (pf_plan + "\n" + af_plan + "\n" + jp).splitlines()
        if re.search(r"Exchange|HashAggregate|SortMergeJoin|BroadcastHashJoin|Scan parquet", ln)
    ]
    out.append("\n```")
    out.extend(keep[:24])
    out.append("```\n")

    # ---- delete paths (cdc/delete.py): the matched-row read must stay a
    # narrow pushed-down scan — no exchange before the apply's one dedup
    # aggregate. Audited on the compacted (base-only) table so the scan
    # is attributable; the MoR form adds only the usual per-key LWW fold.
    from data_pipeline_spark.cdc.delete import _delete_events

    out.append("## Delete paths (delete_where / purge_keys)\n")
    del_checks = []

    live = tblc.read(internal=True).filter(
        ~F.coalesce(F.col("_tombstone"), F.lit(False))
    )
    dw_plan = _fmt(_delete_events(live.filter(F.col("source") == "s1"), tblc.key))
    n_ex = len(re.findall(r"^\(\d+\) Exchange\b", dw_plan, re.M))
    del_checks += [
        ("delete_where event build: predicate pushed into the parquet "
         "scan (PushedFilters shows the source equality)",
         re.search(r"PushedFilters: \[[^\]]*EqualTo\(source", dw_plan)
         is not None),
        ("delete_where event build: ZERO exchanges — a narrow "
         f"scan→project pipeline, O(matched) rows (found {n_ex})",
         n_ex == 0),
    ]

    victims = [r["doc_id"] for r in log.select("doc_id").distinct().limit(2).collect()]
    vb = sorted({
        int(r["_b"])
        for r in spark.createDataFrame([(k,) for k in victims], "doc_id string")
        .select(tblc.bucket_of().alias("_b")).collect()
    })
    pk_live = tblc.read(buckets=vb, internal=True, keys=victims).filter(
        ~F.coalesce(F.col("_tombstone"), F.lit(False))
    )
    pk_plan = _fmt(_delete_events(pk_live, tblc.key))
    n_ex = len(re.findall(r"^\(\d+\) Exchange\b", pk_plan, re.M))
    del_checks += [
        ("purge_keys event build: key list pushed into the scan "
         "(PushedFilters shows doc_id In)",
         re.search(r"PushedFilters: \[[^\]]*In\(doc_id", pk_plan) is not None),
        ("purge_keys event build: ZERO exchanges — bucket-pruned scan → "
         f"project, O(|keys|) rows (found {n_ex})", n_ex == 0),
    ]
    for desc, ok in del_checks:
        mark = "✅" if ok else "❌"
        out.append(f"- {mark} {desc}")
        if not ok:
            failures.append(("delete_paths", desc))
    keep = [
        ln for ln in (dw_plan + "\n" + pk_plan).splitlines()
        if re.search(r"Exchange|PushedFilters|Scan parquet", ln)
    ]
    out.append("\n```")
    out.extend(keep[:12])
    out.append("```\n")

    # python-UDF audit: no row-at-a-time Python UDFs anywhere in the package
    import subprocess

    grep = subprocess.run(
        ["grep", "-rn", "F.udf\\|udf(", "data_pipeline_spark/"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    rowudf = [
        ln
        for ln in grep.stdout.splitlines()
        if "pandas" not in ln
        and not ln.split(":", 2)[-1].lstrip().startswith("#")
    ]
    out.append("## Python-UDF audit\n")
    if rowudf:
        out.append("❌ row-at-a-time Python UDFs found:\n")
        out.extend(f"    {ln}" for ln in rowudf)
        failures.append(("udf-audit", "row-Python UDFs present"))
    else:
        out.append(
            "- ✅ no row-at-a-time Python UDFs in `data_pipeline_spark/` — Python "
            "appears only as Arrow-batched mapInPandas/applyInPandas "
            "(multimodal decode, sequence packing)."
        )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # expression and plan-node ids renumber on every run; the assertions
    # above ran on the raw plans, and PLANS.md keeps only the plan shape,
    # so an unchanged plan rewrites it byte-identical
    text = re.sub(r"#\d+L?", "#N", "\n".join(out) + "\n")
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write(text)
    print(f"PLANS.md written, {len(failures)} failures")
    if failures:
        for f_ in failures:
            print("FAIL:", f_)
        sys.exit(1)


if __name__ == "__main__":
    main()
