"""Physical-plan invariants: the 100 TB design assertions (SCALE.md).

Correctness says the operator computes the right answer; these tests pin
the *plan shape* that makes it viable at scale — filters pushed to the
parquet scan, columns pruned, small dims broadcast, exactly one shuffle
where one is needed, and no accidental cartesian products in the LSH
paths. A regression here is a silent 10-100x cliff at scale that sf0.001
correctness tests would never catch.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from etl_procesos_odo_spark.registry import registry

from .conftest import SF_DIR

QS = {q.name: q for q in registry()}


@pytest.fixture(scope="module")
def plan(spark):
    def _plan(name: str, mode: str = "simple") -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            QS[name].spark_fn(spark, SF_DIR).explain(mode)
        return buf.getvalue()

    return _plan


@pytest.fixture(scope="module")
def registry_lints(spark):
    """Build every registry query ONCE and collect the offenders of the
    three registry-wide lints from that one frame: complex-typed output
    columns (schema), unbounded global windows (optimized plan) and
    CartesianProduct (physical plan). Building a plan runs jobs (eager
    checkpoints, streaming backfills), so one pass instead of three;
    each frame is dropped once it has been checked."""
    complex_cols: list[str] = []
    windows: dict[str, list[str]] = {}
    cartesian: list[str] = []
    for q in registry():
        df = q.spark_fn(spark, SF_DIR)
        for f in df.schema.fields:
            if f.dataType.typeName() in ("array", "map", "struct"):
                complex_cols.append(
                    f"{q.name}.{f.name}: {f.dataType.simpleString()}"
                )
        bad = _lint_unpartitioned_windows(df)
        if bad:
            windows[q.name] = bad
        if "CartesianProduct" in (
            df._jdf.queryExecution().executedPlan().toString()
        ):
            cartesian.append(q.name)
        del df
    return {"complex": complex_cols, "windows": windows, "cartesian": cartesian}


def test_filter_pushdown_reaches_scan(plan):
    p = plan("q02_filter_project", "formatted")
    assert "GreaterThan(value,50.0)" in p  # predicate at the parquet scan
    assert "In(event_type," in p


def test_column_pruning_reaches_scan(plan):
    p = plan("q03_dim_join_agg", "formatted")
    # customer has 5 columns; the scan must read only the 2 the query needs
    assert "struct<c_nationkey:int,c_acctbal:double>" in p


def test_narrow_query_has_no_shuffle(plan):
    assert plan("q02_filter_project").count("Exchange") == 0


@pytest.mark.parametrize(
    "name",
    [
        "q01_pricing_summary",  # groupBy(flag, status)
        "q30_dedup_exact",  # groupBy(digest)
        "q35_langid",  # scan-side scoring, one confusion-matrix agg
        "q56_sessionize",  # session_window keyed by user_id
    ],
)
def test_single_shuffle_aggregates(plan, name):
    p = plan(name)
    assert p.count("Exchange") == 1, f"{name} should shuffle exactly once"
    # partial (map-side combine) + final aggregate
    assert p.count("HashAggregate") >= 2 or "SessionWindowStateStore" in p


def test_dim_joins_broadcast(plan):
    p = plan("q03_dim_join_agg")
    assert p.count("BroadcastHashJoin") == 2  # nation, region dims
    assert "SortMergeJoin" not in p


def test_rollup_joins_broadcast_no_cartesian(plan):
    p = plan("q57_narrative_verdicts")
    assert p.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize("name", ["q32_minhash_lsh", "q48_embedding_neardup"])
def test_lsh_joins_are_equi_joins(plan, name):
    """The LSH bucket self-join must be an equi-join on (band/bucket) keys;
    a nested-loop fallback here is the quadratic cliff LSH exists to avoid."""
    p = plan(name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert (
        p.count("BroadcastHashJoin")
        + p.count("SortMergeJoin")
        + p.count("ShuffledHashJoin")
        >= 1
    )


def test_partitioner_has_no_per_unit_serial_window(plan, spark):
    """The X4/X5 rank must come from (unit, stripe) windows, never a
    window partitioned by the unit alone over the raw key frame — that
    funnels a whole unit through one task at scale (and AQE cannot split
    window partitions). The only unit-only windows allowed are the
    prefix-offset sums over the tiny per-(unit, stripe) count aggregate."""
    import re

    for name in ("q19_balanced_partition", "q46_constrained_partition"):
        p = plan(name)
        rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", p)
        assert rn_specs, f"{name}: expected a row_number window in the plan"
        for spec in rn_specs:
            assert "_stripe" in spec, (
                f"{name}: row_number window not striped: {spec}"
            )


def test_ivf_centroid_join_is_tiny_broadcast(plan):
    """The only nested-loop joins allowed in the IVF plan are the two
    16-row centroid-assignment cross joins (corpus + queries); the cell
    join itself must be an equi-join."""
    p = plan("q49_ann_ivf")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 2
    assert (
        p.count("BroadcastHashJoin")
        + p.count("SortMergeJoin")
        + p.count("ShuffledHashJoin")
        >= 1
    )


def test_scan_speed_corpus_ops_have_no_shuffle(plan):
    """hash sampling (q72) and chunking (q76) are per-row pipelines —
    any Exchange in their plans means an accidental wide dependency."""
    assert plan("q72_hash_sample").count("Exchange") == 0
    assert plan("q76_chunk_documents").count("Exchange") == 0


def test_repetition_metrics_single_barrier(plan):
    """q73 must have exactly its one deliberate exchange barrier (the
    tokenize-once materialization) — more means an accidental shuffle,
    zero means the barrier was optimized away and the tokenizer is being
    re-inlined per metric."""
    assert plan("q73_repetition_metrics").count("Exchange") == 1


def test_pack_sequences_single_stratum_shuffle(plan):
    """q75: one hash exchange for the per-stratum cumulative-sum window;
    the window must be keyed by the stratum, not unpartitioned (an
    unpartitioned running sum is a single-task serial pass at scale)."""
    p = plan("q75_pack_sequences")
    assert p.count("Exchange") == 1
    assert "windowspecdefinition(lang" in p


def test_ivf_multiprobe_same_plan_shape_as_nprobe1(plan):
    """SCALE.md claim: nprobe>1 is a union of cell keys on the query
    side — operator mix must be identical to q49's nprobe=1 plan."""
    import re

    def shape(name):
        ops = re.findall(r"(BroadcastNestedLoopJoin|BroadcastHashJoin|"
                         r"SortMergeJoin|ShuffledHashJoin|CartesianProduct|"
                         r"Window|HashAggregate)", plan(name))
        return sorted(set(ops)), len(ops)

    assert shape("q74_ann_ivf_multiprobe") == shape("q49_ann_ivf")



@pytest.mark.parametrize(
    "name",
    ["q89_linear_trend", "q93_cube_subtotals", "q96_longest_streak"],
)
def test_round2_single_exchange_queries(plan, name):
    """Round-2 ops that must stay single-shuffle: OLS sufficient
    statistics partial-aggregate before their one exchange (q89), CUBE
    expands rows then shuffles ONCE for all four grouping sets (q93),
    and gaps-and-islands reuses the one user_id exchange for both
    windows AND the island aggregate — hashpartitioning(user_id)
    satisfies the (user_id, event_type) clustering requirement (q96)."""
    p = plan(name)
    assert p.count("Exchange hashpartitioning") == 1, p


def test_block_dedup_two_shuffles_only(plan):
    """q82's documented shape: one shuffle on the block hash (keep-first
    window), one on the doc id (reassembly); the join back to the id
    spine is broadcast at this sf (SMJ at scale — either way not a third
    mandatory exchange on the block path)."""
    p = plan("q82_block_dedup")
    assert p.count("Exchange hashpartitioning") == 2, p


def test_scan_expression_ops_no_shuffle_round2(plan):
    """q83 (PII masking) is a pure scan expression over a union — zero
    exchanges of any kind."""
    assert "Exchange" not in plan("q83_pii_mask")


def test_no_complex_typed_output_columns(registry_lints):
    """Driver-canonicalizer guard (round-2 VERDICT): the external harness
    materializes results through pandas, and Array/Map/Struct cells crash
    its sort (``TypeError: unhashable type: 'list'`` — q80/q62 in r2).
    Every registry query must end in a scalar-only projection: operators
    may carry arrays internally, but the registry surface serializes them
    (array_join / to_json). Checked on each query's schema in the shared
    registry_lints pass."""
    offenders = registry_lints["complex"]
    assert not offenders, offenders


def test_driver_head_curation():
    """The external driver's correctness artifact covers only the first 50
    registry entries (round-2 finding): pin that the curated head is
    exactly 50 unique names, is the registry prefix, and spans every
    operator family (one sentinel per family group)."""
    from etl_procesos_odo_spark.registry import DRIVER_HEAD

    names = [q.name for q in registry()]
    assert len(DRIVER_HEAD) == 50 == len(set(DRIVER_HEAD))
    assert names[:50] == list(DRIVER_HEAD)
    missing = {k: v for k, v in FAMILY_SENTINELS.items() if v not in DRIVER_HEAD}
    assert not missing, missing


# One sentinel per operator family. Referenced by BOTH
# test_driver_head_curation (every sentinel must hold a driver-head row)
# and test_contained_tier_invariants (every sentinel must stay in the
# core census tier — the machine check behind registry.CONTAINED's
# "every §2 family and every LLM family keeps >=1 core row" claim).
FAMILY_SENTINELS = {
        "pipelines": "q53_callcenter_demand",
        "streaming": "q58_stateful_user_stats",
        "ml": "q41_forecast_demand",
        "ml_features_oracle": "q104_demand_features",
        # r7 swaps: q30/q75/q42 rotate out (exact dedup contained in
        # q67/q82/q102's head rows, packing carried by q76's chunking,
        # q42 widened by q62's fused transform — COVERAGE.md round-7);
        # the round-6 families get their first driver rows
        "dedup": "q67_minhash_lsh_collapsed",
        # r7 fourth-wave swap: q103 rotates out (cell-keyed cosine
        # equi-join contained in q107's recall row, keep-best policy in
        # q70's big-star row — COVERAGE.md round-7); association mining
        # gets its first driver row
        "association_mining": "q176_frequent_itemsets",
        # r7 swaps: q74 rotates out (its IVF multi-probe arm is contained
        # in q107's recall row, documented since r4), q82/q71 rotate out
        # (block keep-first widened by q160's line dedup; the exact
        # decontamination join runs inside q155's verify stage) —
        # COVERAGE.md round-7; the new r7 families get driver rows
        "similarity": "q107_ann_recall",
        # r7 second-wave swaps: q159 widened by q164's register rollup
        # (same expression generator + sketch-union algebra); q38's
        # hash-fold fingerprint family carried by q78's SimHash
        # signatures; q109's hash-uniform draw carried by q100's split
        # stage — COVERAGE.md round-7
        # r11 swap: q164 rotates out (q161 evaluates the identical p=6
        # register/estimate expression strings and its per-batch
        # max-merge is the register-union algebra the rollup applies at
        # rest — registry.py r11 note); the streaming-cardinality arm
        # gets its first driver row
        "cardinality_sketch": "q161_streaming_hll",
        "intersection_sketch": "q168_kmv_source_sketch",
        # r11 swap: q167 rotates out (digest-groupBy cluster map inside
        # q67's exact-first collapse; cluster-keyed hash split = q100's
        # split stage — registry.py r11 note); the governance split
        # family's sentinel is the stratified eval-split row
        # r13 swap: q126 rotates out (hash-order quota draw = q169's
        # selection discipline; quota broadcast = the q53/q57 rate-table
        # pattern — registry.py r13 note); the split family's sentinel
        # is the embargoed temporal split
        "split_governance": "q179_embargo_split",
        # r13 swap: q160 rotates out (line-key counting = the q152/q157
        # gram discipline; keep-first + reassembly = q100's block-dedup
        # stage — registry.py r13 note)
        "line_dedup": "q100_corpus_prep_v3",
        "pii_hygiene": "q158_pii_redaction",
        # r9 swaps: q35/q70/q154/q80/q88 rotate out (containment notes in
        # registry.py + COVERAGE.md round-9); the round-8 wave gets its
        # first driver rows
        "record_linkage": "q199_fs_linkage",
        "cdc_chunking": "q200_cdc_chunks",
        "layout_governance": "q201_zonemap_audit",
        "scd2_warehouse": "q202_scd2_build",
        "ml_backtest_oracle": "q203_seasonal_backtest",
        # q35's scan shape carried by q100's tokenize stage (r9 note);
        # r12: q190 rotates out, the tokenize-scan sentinel is the
        # corpus-prep capstone that carries that stage
        "text": "q100_corpus_prep_v3",
        # r5 swap: q97's stateful smoothing is evidenced by q58; r10:
        # q137 rotates out (trailing-frame window shape — registry.py
        # note), the enrich/anomaly family's head rows are the exact
        # drift pair (q190 MWU below + q186 KS)
        "enrich": "q186_ks_drift",
        # r12 swap: q190 rotates out (shared compressed-value-table +
        # exact-BIGINT-cross-statistic + cumulative-window discipline
        # with q186 — registry.py r12 note); the exact-drift kit keeps
        # the KS head row
        "drift_stats": "q186_ks_drift",
        # r12 swap: q184 rotates out (execute draw = q100's split-stage
        # primitive, allocation broadcast = the q53/q57 rate-table
        # pattern — registry.py r12 note); the sampling-governance
        # discipline's sentinel is the estimation arm
        "mixture_governance": "q169_priority_sample",
        # r11 swap: q189 rotates out (same order-independent
        # content-digest reduce discipline, strictly widened by q165's
        # bucket-keyed digests + full-outer localization diff —
        # registry.py r11 note); r13: q165 itself rotates out (digest
        # reduce = the q189 shape, diff = a bucket-key equi-join —
        # registry.py r13 note), the ops/integrity audit row carries
        # the family
        "integrity_manifest": "q201_zonemap_audit",
        "prefix_filter_similarity": "q175_ppjoin_pairs",
        # r13 swap: q178 rotates out (generate-and-prune = q176's
        # A-priori discipline on ordered items; per-user support
        # collapse = q54's W3 chain — registry.py r13 note); the
        # sequence family's sentinel is the live path-mining row
        "sequential_mining": "q140_top_session_paths",
        "multimodal": "q62_multimodal_transform",
        # r5 swaps: q02's filter shapes run inside the pipeline rows
        # (q50/q51/q53/q54); q12 carries the relational family
        "relational": "q12_pareto_brands",
        # r10 swap: q116 rotates out (ordered-funnel reachability is the
        # q178 order-statistics collapse with a fixed 3-step pattern —
        # registry.py r10 note); r13: q178 rotates out too, the funnel
        # family's sentinel is the session path-mining head row
        "funnel": "q140_top_session_paths",
        # r12 swap: q177 rotates out (rules = one exact division over
        # q176's frequent-pair counts; exact-ratio ranking also headed
        # by q194/q198 — registry.py r12 note)
        "association_rules": "q176_frequent_itemsets",
        "streaming_sketch": "q113_streaming_heavy_hitters",
        "streaming_decontaminate": "q156_streaming_decontaminate",
        "ks_drift": "q186_ks_drift",
        # r12 swap: q191 rotates out (grouped-count histograms +
        # tiny-table exact-product join — registry.py r12 note); the
        # audit discipline's sentinel is the zone-map pruning audit
        "ops_integrity_audit": "q201_zonemap_audit",
        "retrieval_lexical": "q110_bm25_search",
        "retrieval_hybrid_routed": "q120_hybrid_rrf_routed",
        # r6 swaps: q59/q60/q72/q18 rotate out (families doubly covered,
        # see COVERAGE.md round-6); these four carry previously
        # driver-unseen families
        "ml_predict_oracle": "q151_lr_forecast_grid",
        "range_join": "q121_attribution_range_join",
        # r10 swap: q149 rotates out (neighbor-window candidate gen +
        # pair-verify join — registry.py note); FS linkage carries the
        # entity-resolution family
        "entity_resolution": "q199_fs_linkage",
        "graph_analytics": "q134_pagerank_neardup",
        # r12 swap: q155 rotates out (q156 carries the IDENTICAL oracle
        # and runs the same bloom probe + exact verify join —
        # registry.py r12 note)
        "decontamination_bloom": "q156_streaming_decontaminate",
        # r12 swap: q153 rotates out (bucket-explode equi-join =
        # q121's binned-range discipline; islands = q54's LAG chain —
        # registry.py r12 note)
        "interval_overlap": "q121_attribution_range_join",
        # r9: q154 rotates out (index build = q110's, verify join =
        # q175's verify stage); the exact-pairs discipline's head row is
        # the prefix-filter arm
        "exact_similarity": "q175_ppjoin_pairs",
        # r11: the never-headed families get their first driver rows
        # (q84/q78/q63 rotate out — containment notes in registry.py)
        "erasure_governance": "q192_deletion_cascade",
        "priority_sampling": "q169_priority_sample",
        "collocation_mining": "q194_pmi_collocations",
        # r12: six more never-headed families get their first driver
        # rows (q177/q155/q190/q153/q191/q184 rotate out — containment
        # notes in registry.py)
        "quality_buckets": "q122_ccnet_quality_buckets",
        "keyness_ranking": "q198_keyness_terms",
        "layout_build": "q129_zorder_keys",
        "embargo_governance": "q179_embargo_split",
        "cohort_analytics": "q128_cohort_retention",
        "behavioral_segments": "q133_rfm_segments",
        # r13: six more never-headed families get their first driver
        # rows (q43/q91/q160/q178/q126/q165 rotate out — containment
        # notes in registry.py)
        "histogram_quantiles": "q173_histogram_quantiles",
        "quantile_selection": "q185_quantile_grid_selection",
        "markov_behavior": "q132_event_transitions",
        "session_paths": "q140_top_session_paths",
        "waterfill_allocation": "q183_hierarchical_budget",
        "contract_gate": "q141_data_contract",
}


def test_shingle_filter_not_pushed_below_spread(spark):
    """Round-3 perf regression guard: the empty-shingle filter in
    minhash_lsh_pairs must evaluate against the materialised shingle
    array, NOT be predicate-pushed below the spread exchange — pushed, it
    re-evaluates the whole tokenize+shingle expression single-threaded in
    the scan task (measured: 2.5 s of q47's 6 s at sf0.1, the r2
    regression). The session.materialize boundary is the barrier: no
    Filter node in the physical plan may contain the shingle expression
    tree."""
    import re

    from etl_procesos_odo_spark.llm.dedup import minhash_lsh_pairs
    from etl_procesos_odo_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    p = minhash_lsh_pairs(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    for line in p.splitlines():
        if re.search(r"\bFilter\b", line):
            assert "array_distinct" not in line and "sequence(" not in line, line


def test_multimodal_transform_single_pass(plan):
    """q62's fused shape: exactly ONE mapInPandas over the payload and no
    join — the two-branch composition (resize ⋈ frames) reads and, at
    scale, shuffles the opaque payload twice. Payload bytes dominate
    multimodal traffic, so transforms sharing a decode must share the
    Arrow pass."""
    p = plan("q62_multimodal_transform")
    assert p.count("MapInPandas") == 1, p
    assert "Join" not in p, p


def test_salted_join_is_broadcast_no_cartesian(plan):
    """q63: the salted skew join replicates the small side across salt
    buckets and joins as ONE broadcast hash join — no cartesian product,
    no shuffle of the big side on the (possibly skewed) raw key."""
    p = plan("q63_salted_segments")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_asof_join_no_range_explosion(plan):
    """q81: the backward as-of join is union + window (last quote carried
    forward per key), NOT an inequality range join — the plan must have
    no join node at all, so candidate-pair blow-up is impossible at any
    scale."""
    p = plan("q81_asof_join")
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert "Window" in p, p


def test_decontaminate_no_cartesian(plan):
    """q71: the inverted-index decontamination joins are all equi-joins on
    the shingle / id keys (broadcast at this sf, SMJ at scale) — never a
    nested-loop or cartesian pairing of train x bench docs."""
    p = plan("q71_decontaminate")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_decontaminate_bloom_probe_is_scan_side(plan):
    """q155: the Bloom bitmap enters the corpus-side plan as a LITERAL
    inside the probe filter (the InjectRuntimeFilter shape — shipped once
    per task with the plan, never row-joined: a 1-row broadcast join was
    measured at 56 s vs 4 s because the 256 KB bitmap is copied into
    every joined row), so the probe plan must contain the xxhash64 bit
    tests but NO nested-loop/cartesian join and no bitmap-side
    aggregate."""
    p = plan("q155_decontaminate_bloom")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "xxhash64" in p and "bit_get" in p, p
    assert "bit_or" not in p, p  # bitmap build ran as its own bounded job
    # the bitmap ships as a JSON string literal that ConstantFolding
    # evaluates JVM-side into the array Literal (the cheap path: ~10 ms
    # vs ~7 s for a py4j-converted ndarray literal) — the OPTIMIZED plan
    # must not retain the from_json node
    assert "from_json" not in p, p


def test_quantized_rerank_ivf_no_full_crossjoin(spark):
    """The large-batch rerank variant: stage 1 must pair queries with
    posting lists via an EQUI-join on the cell id — the query x corpus
    cross join of the exact-scan baseline must not appear. The only
    nested-loop joins are the two broadcast centroid assignments
    (build side = n_cells rows)."""
    from etl_procesos_odo_spark.llm.similarity import quantized_rerank_topk_ivf
    from etl_procesos_odo_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    df = quantized_rerank_topk_ivf(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, overfetch=4, n_cells=8, nprobe=2,
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") == 2, p


def test_semantic_dedup_no_cross_cluster_pairs(plan, monkeypatch):
    """q103: the only nested-loop joins are the BROADCAST centroid
    assignments inherited from the Lloyd step (build side = n_cells
    rows); the pairwise-cosine stage is an EQUI-join on the cluster id,
    so cross-cluster pairs are structurally impossible and the quadratic
    term stays bounded per cluster at any corpus size. The assignment
    runs below q103's materialised frames, which a checkpoint hides, so
    the plan is taken with materialisation passed through."""
    from etl_procesos_odo_spark.llm import similarity

    monkeypatch.setattr(similarity, "materialize", lambda df, eager=False: df)
    p = plan("q103_semantic_dedup")
    assert "CartesianProduct" not in p, p
    # centroid broadcasts exist (Lloyd-step shape, same as q87)...
    assert "BroadcastNestedLoopJoin" in p, p
    # ...and the pair stage joins on the cell key, not a loop: every
    # non-broadcast join in the plan is a hash/sort-merge equi-join
    import re as _re

    equi = _re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p)
    assert equi, p


def test_kmeans_assignment_broadcasts_centroids(plan):
    """q87: the Lloyd-step assignment pairs every vector with the n_cells
    centroid set via a BROADCAST nested-loop (build side = 8 centroid
    rows — the documented broadcast; cost n_cells per row, never a
    shuffled cartesian), and the centroid update shuffles once on
    (cell, component) equi-keys."""
    p = plan("q87_kmeans_step")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p


def test_source_quota_count_join_broadcast_no_extra_wide_shuffle(plan):
    """q105: the per-domain count table (one row per domain) must come
    back as a BROADCAST join on both branches — a shuffled join here
    would re-shuffle the full corpus twice just to read a tiny count."""
    p = plan("q105_source_quota")
    assert p.count("BroadcastHashJoin") == 2, p  # under- and over-quota arms
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_heavy_hitters_candidate_join_is_broadcast_semi(plan):
    """q106: the exact-verify pass must filter the corpus with a BROADCAST
    left-semi join on the tiny candidate set — shuffling the corpus
    against candidates would defeat the sketch's whole purpose."""
    p = plan("q106_heavy_hitters")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "SortMergeJoin" not in p, p


def test_mix_rebalance_rate_join_is_broadcast_scan_filter(plan):
    """q109: the derived rate table (one row per language) joins back as a
    broadcast, keeping the corpus pass a scan-side filter; the only wide
    shuffle is the partial-agg token total on the language key."""
    p = plan("q109_mix_rebalance")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_bm25_no_explode_and_takeordered(plan):
    """q110: tf's are per-row array expressions — the plan must contain
    NO Generate (explode) node and no per-doc aggregation shuffle beyond
    the single spread barrier + 1-row stats aggregate; the final top-k
    must plan as TakeOrderedAndProject — per-partition heaps, never a
    global sort."""
    p = plan("q110_bm25_search", "formatted")
    assert "TakeOrderedAndProject" in p, p
    assert "Generate" not in p, p  # no explode of the corpus
    assert "vector" in p, p  # term literals inlined as array filters
    assert "CartesianProduct" not in p, p


def test_kmeans_train_broadcasts_every_round(plan):
    """q111: all four assignment passes (seed + 3 refined) must broadcast
    the tiny centroid frame — a shuffled join on any round would move the
    corpus once per round."""
    p = plan("q111_kmeans_train")
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") >= 2, p


def test_bucketed_join_is_shuffle_free(spark):
    """Storage-bucketing evidence for the 100 TB co-located-join claim:
    two tables bucketed 8-ways on the join key must SortMergeJoin with
    ZERO Exchange on either side — the shuffle was paid once at write
    time and every subsequent join of the pair rides the layout. (This is
    the sink-side counterpart of the repartition/broadcast discipline the
    registry queries prove; bucketed writes aren't oracle-checkable, so
    the evidence lives here as a plan invariant.)"""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    for name in ("t_bucket_orders", "t_bucket_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    saved_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    try:
        # at this sf the dim would broadcast; the claim under test is the
        # big-big case, so force the sort-merge path. The session default
        # prefers shuffled-hash when it fits (r13); this test's claim is
        # the bucketed+sorted LAYOUT (zero exchange, zero sort), which is
        # what sort-merge rides, so pin the planner policy explicitly.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        (spark.read.parquet(f"{sf}/orders.parquet")
         .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .saveAsTable("t_bucket_orders"))
        (spark.read.parquet(f"{sf}/lineitem.parquet")
         .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .saveAsTable("t_bucket_lineitem"))
        joined = spark.table("t_bucket_lineitem").join(
            spark.table("t_bucket_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderstatus").count()
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("simple")
        p = buf.getvalue()
        assert "SortMergeJoin" in p, p
        # the ONLY exchange allowed is the tiny post-join groupBy; the
        # join inputs themselves must read bucket-aligned
        join_part = p.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in join_part, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_thresh)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", saved_smj)
        for name in ("t_bucket_orders", "t_bucket_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_funnel_chained_windows_share_one_user_exchange(plan):
    """q116: the three stage-gate windows, the per-user verdict aggregate,
    and the row_number ordering must all ride ONE hashpartitioning
    (user_id) exchange; the only other exchange is the tiny final rollup
    on the 4-value reached key."""
    p = plan("q116_funnel")
    assert p.count("Exchange hashpartitioning") == 2, p


def test_hard_negatives_ivf_no_full_crossjoin(spark):
    """q118: candidate generation pairs anchors with posting lists via an
    EQUI-join on the cell id — the anchors x corpus cross join of the
    exact-scan baseline (q117) must not appear. The only nested-loop
    joins are the two broadcast centroid assignments (build side =
    n_cells rows)."""
    from etl_procesos_odo_spark.llm.similarity import hard_negatives_topk_ivf
    from etl_procesos_odo_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    df = hard_negatives_topk_ivf(
        emb, emb.filter(F.col("vec_id") < 10),
        band_lo=0.05, band_hi=0.25, n=5, n_cells=8, nprobe=4,
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") == 2, p


def test_hybrid_rrf_lsh_routes_lexical_arm(spark):
    """q119: with lex_route='lsh' the lexical arm pairs the panel with
    band-key candidates via EQUI-joins — the panel x corpus nested loop
    of the scan variant disappears; the one remaining nested loop is the
    bounded vector arm (panel x corpus cosine). The scan variant (q112)
    carries two."""
    from etl_procesos_odo_spark.llm.similarity import hybrid_rrf_topk
    from etl_procesos_odo_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    routed = hybrid_rrf_topk(docs, emb, lex_route="lsh")
    p = routed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") == 1, p

    scan = hybrid_rrf_topk(docs, emb, lex_route="scan")
    ps = scan._jdf.queryExecution().executedPlan().toString()
    assert ps.count("BroadcastNestedLoopJoin") == 2, ps


def test_hybrid_rrf_fully_routed_no_corpus_nested_loop(spark):
    """q120: with BOTH arms routed, no panel x corpus nested loop
    remains anywhere — the only BroadcastNestedLoopJoins are the two
    broadcast centroid assignments of the IVF vector arm (build side =
    n_cells rows); the lexical arm is pure equi-joins on band keys."""
    from etl_procesos_odo_spark.llm.similarity import hybrid_rrf_topk
    from etl_procesos_odo_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    df = hybrid_rrf_topk(
        docs, emb, lex_route="lsh", vec_route="ivf", n_cells=16, nprobe=2
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") == 2, p


def test_band_min_k_no_window_sort(spark):
    """The hot-band cap must not plan a per-bucket window sort of the
    raw band frame: map-side Arrow trim + bounded survivor merge only —
    no Window node anywhere in the capped plan."""
    from etl_procesos_odo_spark.llm.dedup import band_min_k

    banded = spark.createDataFrame(
        [(i, 0, "h") for i in range(50)], "_id long, band_idx int, band_hash string"
    )
    p = band_min_k(banded, 5)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p, p
    assert "MapInPandas" in p or "ArrowEvalPython" in p, p


def test_range_join_binned_is_equi_join(plan):
    """q121: the binned range join must plan as a hash/sort-merge
    EQUI-join on (key, bucket) — never the nested-loop pairing Spark
    gives a naive ts BETWEEN start AND end predicate."""
    p = plan("q121_attribution_range_join")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    import re as _re

    assert _re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p


def test_bpe_pair_topk_is_heap_not_global_sort(plan):
    """q124: the top-50 over the pair table must plan as
    TakeOrderedAndProject (per-partition heap + one bounded merge); the
    only Window sort permitted is over the 50 survivors."""
    p = plan("q124_bpe_pair_counts")
    assert "TakeOrderedAndProject" in p, p


def test_entity_resolution_blocking_is_equi_join(plan):
    """q130: the blocking join must be a hash/SMJ EQUI-join on the
    blocking keys (block-local pairs only) — never an all-pairs nested
    loop with the edit distance as a join predicate."""
    p = plan("q130_entity_resolution")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


@pytest.mark.parametrize(
    "name,max_hashpart",
    [
        ("q127_batch_sessionize", 1),   # LAG + cumsum + session agg share it
        ("q139_scd2_intervals", 1),     # one LEAD window pass
        ("q132_event_transitions", 1),  # count table checkpointed once
        ("q140_top_session_paths", 2),  # shared LAG exchange + path rollup
        ("q144_conversion_latency", 2), # user groupBy + <=8-key rollup
        ("q150_rolling_wau", 3),        # dedup + fan-out distinct-count
    ],
)
def test_round5_event_queries_exchange_budget(plan, name, max_hashpart):
    """Pin the documented shuffle budgets of the round-5 event-analytics
    queries — a regression here is a silently recomputed base frame or
    an accidental extra wide dependency (q132/q150 shipped with exactly
    that bug: lazy frames re-executed per reference, 5 exchanges where
    1-3 suffice, caught by this probe and fixed with checkpoint
    barriers)."""
    p = plan(name)
    assert p.count("Exchange hashpartitioning") <= max_hashpart, p
    assert "CartesianProduct" not in p, p


def test_top_paths_heap_topk(plan):
    """q140's top-20 must be TakeOrderedAndProject, not a global sort."""
    assert "TakeOrderedAndProject" in plan("q140_top_session_paths")


def test_triangles_only_stat_row_nested_loop(plan):
    """q146: the only nested loop is the final 1-row x 1-row stats join;
    the triangle enumeration itself is pure equi-joins."""
    p = plan("q146_neardup_triangles")
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime-filter scale lever: when a selective dim filter feeds a
    SHUFFLE join (broadcast disabled — the big-big case), Spark's
    InjectRuntimeFilter must push a bloom-filter probe
    (``might_contain``) onto the FACT side scan, so fact rows that
    cannot join are dropped before the shuffle. This is the free
    companion to the engine's salting/AQE skew strategy at 100 TB —
    pin that our plain equi-join plans stay eligible for it."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # local fixtures are far below the production 10 MB / 10 GB
        # defaults, so scale the thresholds down to the fixture sizes —
        # the RULE under test is size-gated, not shape-gated
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "1GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "1KB",
        )
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        ords = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet"
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        # and the probe targets the fact side's join key
        assert any(
            "might_contain" in l and "l_orderkey" in l
            for l in plan.splitlines()
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name", ["q176_frequent_itemsets", "q177_association_rules"]
)
def test_basket_mining_no_shuffle_joins(plan, name):
    """The basket-mining one-shuffle architecture: itemset enumeration
    is a map-side array-comprehension explode, so the ONLY joins in the
    plan are broadcasts (dim lookup, 1-row stat frames, tiny candidate
    semi-joins) — a SortMergeJoin or ShuffledHashJoin would mean the
    basket table is being re-shuffled per itemset position again."""
    p = plan(name, "simple")
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "CartesianProduct" not in p
    assert "Generate explode" in p  # the enumeration is the explode


@pytest.mark.parametrize(
    "name",
    ["q180_budget_waterfill", "q183_hierarchical_budget",
     "q184_mixture_execute"],
)
def test_allocation_family_no_shuffle_joins(plan, name):
    """The waterfill family's joins are all tiny frames behind
    stats-less windowed plans — they must be broadcast explicitly
    (the q176 lesson); a SortMergeJoin here means a |sources|-sized
    frame is being shuffle-joined."""
    p = plan(name, "simple")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


# ---------------------------------------------------------------------------
# Registry-wide window-boundedness lint (r7-verdict item 2)
# ---------------------------------------------------------------------------

def _lint_unpartitioned_windows(df) -> list[str]:
    """Walk a DataFrame's optimized logical plan and return the
    simpleStrings of every UNPARTITIONED Window whose input frame the
    lint cannot bound. SCALE.md's discipline says a global (no
    PARTITION BY) window may only run on a compressed frame — a
    post-aggregate table, a literal, or a rank-pinned stripe summary —
    never on raw facts; this turns that prose claim into a plan walk.

    A subtree is *bounded* when its cardinality is governed by a
    grouping domain rather than the fact-table row count:

    - ``Aggregate`` / ``Deduplicate`` (distinct groups), ``GlobalLimit``,
      and literal leaves (``LocalRelation`` / ``OneRowRelation`` /
      ``Range``) bound their subtree outright;
    - a ``Filter`` that pins a ``row_number()``/``rank()`` computed over
      a PARTITIONED window to a small integer (``rk = 1`` / ``rk <= k``)
      bounds output by the window's distinct partition keys — the
      striped-rank offset-table pattern (q50/q170), whose checkpoint
      otherwise hides the upstream plan behind a LogicalRDD leaf;
    - any other node is bounded iff ALL its children are (Project /
      Filter / Join / Union / Sort / Window never increase cardinality
      beyond the product of bounded inputs; Generate multiplies by a
      per-row array length, lint-accepted as pass-through);
    - leaves (parquet relations, LogicalRDD checkpoints, streaming
      relations) are NOT bounded.
    """
    import re

    BOUNDING = {"Aggregate", "GlobalLimit", "Deduplicate"}
    BOUNDED_LEAVES = {"LocalRelation", "OneRowRelation", "Range"}

    def rank_filter_bounded(filt) -> bool:
        cond = filt.condition().sql()
        # Catalyst splits multi-function window selects into STACKED
        # Window nodes — descend the whole narrow chain and collect
        # rank-ish aliases from every PARTITIONED Window in it.
        rank_names: list[str] = []
        n = filt.children().apply(0)
        while (
            n.nodeName() in ("Project", "Filter", "Window")
            and n.children().size() == 1
        ):
            if n.nodeName() == "Window" and not n.partitionSpec().isEmpty():
                we = n.windowExpressions()
                for i in range(we.size()):
                    e = we.apply(i)
                    s = e.toString()
                    if "row_number()" in s or "rank(" in s:
                        rank_names.append(e.name())
            n = n.children().apply(0)
        for raw in rank_names:
            nm = re.escape(raw)
            if re.search(rf"\b{nm}\b\s*(=|<=|<)\s*\d+", cond) or re.search(
                rf"\d+\s*(=|>=|>)\s*\b{nm}\b", cond
            ):
                return True
        return False

    def bounded(n) -> bool:
        nn = n.nodeName()
        if nn in BOUNDING or nn in BOUNDED_LEAVES:
            return True
        if nn == "Filter" and rank_filter_bounded(n):
            return True
        cs = n.children()
        if cs.size() == 0:
            return False
        return all(bounded(cs.apply(i)) for i in range(cs.size()))

    bad: list[str] = []

    def walk(n):
        if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
            if not bounded(n.children().apply(0)):
                bad.append(n.simpleString(120))
        cs = n.children()
        for i in range(cs.size()):
            walk(cs.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return bad


def test_no_unbounded_global_windows_anywhere(registry_lints):
    """Every query in the registry: any Window without a PARTITION BY
    must sit on a frame the lint can bound (see
    _lint_unpartitioned_windows). Adding a raw-facts global window —
    the single-reducer cliff at 100 TB — fails this test with the
    offending query name and window."""
    violations = registry_lints["windows"]
    assert not violations, violations


def test_window_lint_catches_raw_global_window(spark):
    """The lint itself must fire on the anti-pattern it exists for: a
    global row_number over the raw fact table."""
    from pyspark.sql import Window, functions as F

    from etl_procesos_odo_spark.session import load_table

    ev = load_table(spark, SF_DIR, "events")
    df = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("event_id"))
    )
    assert _lint_unpartitioned_windows(df)
    # ...and stay silent on the sanctioned shape: global window over an
    # aggregate
    agg = ev.groupBy("event_type").count()
    ok = agg.withColumn(
        "rn", F.row_number().over(Window.orderBy("event_type"))
    )
    assert not _lint_unpartitioned_windows(ok)


def test_pmi_collocation_joins_are_salted(plan):
    """r7-verdict item 3: q194's two vocab-count joins key on single
    tokens whose distinct-bigram fan-in is Zipf-hot (bounded only by the
    token's unigram count), so both must join on (token, _salt) — the
    q63 salted pattern — not the raw token. The salt must appear in the
    JOIN keys, not merely as a projected column."""
    import re

    p = plan("q194_pmi_collocations")
    salted = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) "
        r"\[[^\]]*_salt[^\]]*\]", p
    )
    assert len(salted) >= 2, p


def test_keyness_join_inputs_are_post_aggregate(plan):
    """q198's term join needs NO salt: both sides are post-aggregate
    (<= n_langs + 1 rows per term key). Pin that shape — every join
    input in the plan must sit above a HashAggregate, so a refactor
    that joins raw exploded tokens (where stopword skew IS real) fails
    here."""
    simple = plan("q198_keyness_terms")
    assert "HashAggregate" in simple
    # single-corpus-pass shape: the tokenize-explode runs once, INSIDE
    # the materialised cl subtree, which the checkpoint
    # (session.materialize) shows as Scan ExistingRDD. So the boundary
    # must exist and no Generate may be visible outside it. Removing the
    # barrier (4 live re-tokenizations, the pre-r8 shape) or adding a raw
    # explode outside it breaks the check.
    n_gen = simple.count("Generate explode")
    n_ckpt = simple.count("Scan ExistingRDD")
    assert n_ckpt >= 1 and n_gen == 0, (n_gen, n_ckpt)


def test_cdc_chunks_scan_speed_no_shuffle(plan):
    """q200 is pure array-side per-row work + one explode — the ONLY
    allowed exchange is the deliberate small-input spread (round-robin,
    before the per-token md5 work; measured 27.5 -> 3.1 s on a
    2-partition 50k-doc file). Any hash/range exchange is an accidental
    wide dependency."""
    p = plan("q200_cdc_chunks")
    assert p.count("Exchange") == p.count("Exchange RoundRobinPartitioning")
    assert p.count("Exchange") <= 1


def test_no_cartesian_product_anywhere(registry_lints):
    """Registry-wide machine-check of the anti-pattern sweep: NO query's
    physical plan may contain a CartesianProduct. All of the repo's
    crossJoins are broadcast 1-row/tiny frames, which plan as
    BroadcastNestedLoopJoin — an actual CartesianProduct means a
    broadcast hint was lost (e.g. behind a checkpoint/persist boundary,
    where the frame has no stats) and a quadratic shuffle ships at
    scale."""
    offenders = registry_lints["cartesian"]
    assert not offenders, offenders


def test_no_python_row_udfs_or_topandas_in_package():
    """Source-level gate for the standing U1 claim: zero row-at-a-time
    Python UDFs (F.udf / @udf) and zero driver-side toPandas() in the
    package — the only sanctioned Python paths are Arrow-batched
    mapInPandas/applyInPandas(WithState). A hit here is the 10-100x
    per-row-Python cliff."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl_procesos_odo_spark"
    bad: list[str] = []
    for f in sorted(pkg.rglob("*.py")):
        src = f.read_text()
        for pat in (r"\bF\.udf\s*\(", r"@udf\b", r"\.toPandas\s*\("):
            for m in re.finditer(pat, src):
                line = src[: m.start()].count("\n") + 1
                bad.append(f"{f.name}:{line}:{m.group(0)}")
    assert not bad, bad


def test_contained_tier_invariants():
    """Round-9 two-tier census: the CONTAINED map must (a) keep the core
    tier at or under 150 queries, (b) never demote a DRIVER_HEAD row,
    (c) name only real, CORE covering queries in the prefix before the
    em-dash (a contained query may not be covered by another contained
    query — no containment chains), and (d) reference only registered
    names."""
    import re

    from etl_procesos_odo_spark.registry import CONTAINED, DRIVER_HEAD

    names = {q.name for q in registry()}
    core = names - set(CONTAINED)
    assert set(CONTAINED) <= names, sorted(set(CONTAINED) - names)
    assert len(core) <= 150, len(core)
    assert not set(CONTAINED) & set(DRIVER_HEAD)
    by_prefix = {n.split("_")[0]: n for n in names}
    for demoted, note in CONTAINED.items():
        covering_prefix = note.split("—")[0]
        covers = re.findall(r"q\d+", covering_prefix)
        assert covers, f"{demoted}: no covering queries named"
        for c in covers:
            full = by_prefix.get(c)
            assert full is not None, f"{demoted}: covering {c} not registered"
            assert full in core, (
                f"{demoted}: covering {c} is itself contained (chain)"
            )
    # every sentinel family from the head-curation test is core by
    # construction (head ⊆ core) — re-assert the subset relation
    assert set(DRIVER_HEAD) <= core
    # explicit per-family core coverage (r9 advice): registry.CONTAINED's
    # comment claims every §2 / LLM family keeps >=1 core row — check it
    # directly against the family sentinel map rather than leaving it
    # implied by head membership
    demoted_sentinels = {
        fam: q for fam, q in FAMILY_SENTINELS.items() if q not in core
    }
    assert not demoted_sentinels, demoted_sentinels


_SQL_TYPE_WORDS = frozenset((
    "varchar", "double", "bigint", "decimal", "integer", "int", "hugeint",
    "float", "real", "date", "timestamp", "boolean", "smallint", "tinyint",
    "text", "blob", "interval",
))


def _decimal_cast_offenders(src: str) -> list[str]:
    """Offending spans where a decimal-valued expression is cast straight
    to DOUBLE instead of routing through VARCHAR (see the r11 ulp note in
    registry.py). r12 hardening (r11 advice): the scan is case-folded,
    and aliases DEFINED via a DECIMAL expression anywhere in the oracle
    are taint-tracked, so `WITH t AS (SELECT SUM(CAST(x AS
    DECIMAL(25,6))) AS total ...) SELECT CAST(total AS DOUBLE)` is
    flagged even though the final cast body never mentions DECIMAL."""
    import re

    def cast_spans(text: str):
        for m in re.finditer(r"(?i)\bCAST\s*\(", text):
            i, depth, j = m.end(), 1, m.end()
            while j < len(text) and depth > 0:
                if text[j] == "(":
                    depth += 1
                elif text[j] == ")":
                    depth -= 1
                j += 1
            if not depth:
                yield i, j - 1, text[i:j - 1]

    # pass 1: taint every alias whose defining expression is decimal-
    # typed — any `CAST(... AS DECIMAL...)` span followed (past closing
    # parens of enclosing SUM/aggregates) by `AS <ident>`
    tainted: set[str] = set()
    for _, end, inner in cast_spans(src):
        if not re.search(r"(?is)\sAS\s+DECIMAL\s*[\s(]*[\d,)]*\s*$", inner):
            continue
        k = end + 1
        while k < len(src) and (src[k].isspace() or src[k] == ")"):
            k += 1
        mm = re.match(r"(?i)AS\s+(\w+)", src[k:])
        if mm and mm.group(1).lower() not in _SQL_TYPE_WORDS:
            tainted.add(mm.group(1).lower())

    offenders = []
    for _, _, inner in cast_spans(src):
        mm = re.match(r"(?is)^(.*)\s+AS\s+DOUBLE\s*$", inner)
        if not mm:
            continue
        body = mm.group(1)
        if re.search(r"(?i)AS\s+VARCHAR", body):
            continue  # the sanctioned string bridge
        direct_decimal = re.search(r"(?i)DECIMAL\s*\(\d+|\bdec\b", body)
        bare = re.match(r"^\s*([A-Za-z_]\w*)\s*$", body)
        via_taint = bare and bare.group(1).lower() in tainted
        if direct_decimal or via_taint:
            offenders.append(" ".join(body.split())[:90])
    return offenders


def test_recommend_salting_contract():
    """r11 verdict item 8: the documented when-to-salt rule. AQE-capable
    joins never salt (measured parity at sf1); salting engages only when
    the split can't fire AND the hot key materially exceeds a fair
    reducer share, with n_salt clamped to [2, n_reducers]."""
    from etl_procesos_odo_spark.operators.joins import recommend_salting

    # AQE available -> never salt, even at extreme skew
    salt, n, why = recommend_salting(0.95, 200)
    assert not salt and "AQE" in why
    # AQE unavailable + mild skew (hot key < 3x fair share) -> still no
    salt, n, why = recommend_salting(0.01, 200, aqe_skew_split_available=False)
    assert not salt and "2.0x" in why
    # AQE unavailable + real skew -> salt, n_salt ~ excess share
    salt, n, why = recommend_salting(0.2, 200, aqe_skew_split_available=False)
    assert salt and n == 40
    # partitioning reuse blocks the AQE split -> same engagement rule
    salt, n, why = recommend_salting(0.5, 32, output_partitioning_reused=True)
    assert salt and n == 16 and "partitioning" in why
    # clamp: never more salts than reducers
    salt, n, _ = recommend_salting(1.0, 8, aqe_skew_split_available=False)
    assert salt and n == 8
    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError):
        recommend_salting(1.5, 8)
    with _pytest.raises(ValueError):
        recommend_salting(0.5, 0)


def test_recommend_state_store_contract():
    """r12 verdict item 6: the documented state-store provider rule,
    encoding the measured 100M-event crossover (SCALE.md round-12
    streaming table): churn-heavy join state -> on-heap default at any
    size; churn-light state at heap scale (>= ~40% of executor heap)
    -> RocksDB; small churn-light state -> on-heap default."""
    from etl_procesos_odo_spark.streaming.temporal import (
        recommend_state_store,
    )

    GB = 1 << 30
    # the measured session-op crossover: ~10.3 GB state on a 24 GB heap
    prov, cls, why = recommend_state_store(10 * GB, 0.05, 24 * GB)
    assert prov == "rocksdb" and cls.endswith("RocksDBStateStoreProvider")
    assert "heap" in why
    # churn-heavy join state stays on-heap even at heap-scale size
    prov, cls, why = recommend_state_store(10 * GB, 0.9, 24 * GB)
    assert prov == "hdfs_backed_default"
    assert cls.endswith("HDFSBackedStateStoreProvider")
    assert "churn" in why
    # small churn-light state: RocksDB's serde tax not repaid
    prov, _, why = recommend_state_store(1 * GB, 0.05, 24 * GB)
    assert prov == "hdfs_backed_default" and "not repaid" in why
    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError):
        recommend_state_store(-1, 0.1, GB)
    with _pytest.raises(ValueError):
        recommend_state_store(GB, 1.5, GB)
    with _pytest.raises(ValueError):
        recommend_state_store(GB, 0.1, 0)


def test_oracle_decimal_double_casts_varchar_routed():
    """r11 lint: DuckDB's direct DECIMAL->DOUBLE cast double-rounds
    (scaled int128 first, /10^scale second) and is off by one ulp for
    ~25% of values whose scaled integer exceeds 2^53 — the sf>=1 census
    magnitudes (caught by the sf1-skew census's q12 OTROS row). Every
    decimal-typed CAST(... AS DOUBLE) in every registered oracle must
    therefore route through VARCHAR (strtod is correctly rounded and
    matches Spark's BigDecimal->double). Scan mechanics (case-folded,
    alias taint tracking) live in _decimal_cast_offenders and are
    negative-tested below."""
    offenders = []
    for q in registry():
        if q.oracle is None:
            continue
        offenders += [f"{q.name}: {o}" for o in _decimal_cast_offenders(q.oracle)]
    assert not offenders, offenders


def test_decimal_cast_lint_catches_evasions():
    """The r11 advice's two evasion shapes must be caught, and the
    sanctioned patterns must stay clean."""
    # lowercase cast, direct decimal
    assert _decimal_cast_offenders(
        "select cast(sum(cast(x as decimal(25,6))) as double) from t"
    )
    # decimal-typed CTE alias with a non-'dec' name, cast straight later
    assert _decimal_cast_offenders("""
        WITH a AS (SELECT SUM(CAST(x AS DECIMAL(25,6))) AS revenue FROM t)
        SELECT CAST(revenue AS DOUBLE) FROM a
    """)
    # sanctioned: VARCHAR bridge at the cast site
    assert not _decimal_cast_offenders(
        "SELECT CAST(CAST(SUM(CAST(x AS DECIMAL(25,6))) AS VARCHAR)"
        " AS DOUBLE) FROM t"
    )
    # sanctioned: tainted alias routed through VARCHAR at use site
    assert not _decimal_cast_offenders("""
        WITH a AS (SELECT SUM(CAST(x AS DECIMAL(25,6))) AS revenue FROM t)
        SELECT CAST(CAST(revenue AS VARCHAR) AS DOUBLE) FROM a
    """)
    # non-decimal double casts stay allowed
    assert not _decimal_cast_offenders(
        "SELECT CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 FROM t"
    )


def test_duckdb_decimal_double_cast_hazard_is_real():
    """Documents WHY the varchar routing exists: DuckDB's direct cast of
    a >2^53-scaled decimal to double really is off by one ulp where the
    string round-trip (and Python, and Spark) are correctly rounded —
    the concrete value the sf1-skew census caught. If a future DuckDB
    fixes the cast, this starts failing and the routing can be retired."""
    import duckdb
    from decimal import Decimal

    v = "109971850836.893000"
    con = duckdb.connect()
    direct, routed = con.sql(
        f"SELECT CAST(CAST('{v}' AS DECIMAL(38,6)) AS DOUBLE), "
        f"CAST(CAST(CAST('{v}' AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)"
    ).fetchone()
    con.close()
    assert routed == float(Decimal(v))          # strtod: correctly rounded
    assert direct != routed                      # the documented hazard
