"""Mutation catalog for tools/mutcheck.py (r11 verdict item 1).

Each Mut plants ONE plausible defect — a dropped filter, an off-by-one
bound, a swapped tiebreak, a flipped boundary, a wrong aggregate, a
changed threshold — via exact in-memory text replacement (see
mutcheck.run_with_mutation). The entry's gate (rowcount + schema +
value hash vs the DuckDB oracle) must BREAK under every mutation; a
survivor means the gate could not catch that defect class and needs a
fixture/assertion fix or an ``adjudicated`` note explaining why the
mutant is semantically equivalent (and where compensating coverage
lives).

Kill-rate results are recorded in COVERAGE.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Mut:
    """One deliberate defect. ``path`` is repo-relative; ``old`` must
    occur exactly ``count`` times in that file. ``adjudicated`` marks a
    reviewed survivor: the note explains why the gate can never see
    this mutation (true equivalent mutant) or where the compensating
    coverage lives; adjudicated survivors don't fail the run."""

    key: str
    name: str
    path: str
    old: str
    new: str
    count: int = 1
    adjudicated: str = ""


ENTRY = "__spark_entry__.py"
TEXT = "pinecone_datasets_spark/functions/text.py"
FILTERS = "pinecone_datasets_spark/functions/filters.py"
TIMESERIES = "pinecone_datasets_spark/operators/timeseries.py"
DEDUP = "pinecone_datasets_spark/operators/dedup.py"
VECTOR = "pinecone_datasets_spark/functions/vector.py"

MUTATIONS: list[Mut] = [
    # ---------------------------------------------------------- q01
    Mut(
        key="q01_pricing_summary",
        name="shipdate_filter_dropped",
        path=ENTRY,
        old='li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))',
        new="li",
    ),
    Mut(
        key="q01_pricing_summary",
        name="tax_sign_flip",
        path=ENTRY,
        old='* (1 + F.col("l_tax"))',
        new='* (1 - F.col("l_tax"))',
    ),
    # ------------------------------------------------------ q02_q04
    Mut(
        key="q02_q04_revenue_joins",
        name="topk_off_by_one",
        path=ENTRY,
        old='return rev.orderBy(F.desc("revenue"), F.col("c_custkey")).limit(10)',
        new='return rev.orderBy(F.desc("revenue"), F.col("c_custkey")).limit(11)',
    ),
    Mut(
        key="q02_q04_revenue_joins",
        name="topk_tiebreak_dropped",
        path=ENTRY,
        old='return rev.orderBy(F.desc("revenue"), F.col("c_custkey")).limit(10)',
        new='return rev.orderBy(F.desc("revenue")).limit(10)',
        adjudicated=(
            "revenue is a 2-dp SUM of l_extendedprice*(1-l_discount) over"
            " distinct customer order sets; a tie BETWEEN rank 10 and 11"
            " is the only way the dropped tiebreak changes the emitted"
            " SET (the hash sorts rows, so order inside the 10 never"
            " matters). No such tie exists at any SF of the driver"
            " fixtures and one cannot be planted without synthesizing a"
            " different table; the tiebreak exists for determinism."
            " Compensating coverage: topk_off_by_one (same line) proves"
            " the limit boundary itself is live."
        ),
    ),
    Mut(
        key="q02_q04_revenue_joins",
        name="q04_wrong_join_key",
        path=ENTRY,
        old=(
            ".join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)\n"
            "        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)"
        ),
        new=(
            ".join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)\n"
            "        .join(F.broadcast(nation), orders.o_custkey % 25 == nation.n_nationkey)"
        ),
    ),
    # ------------------------------------------------------ q03_q60
    Mut(
        key="q03_q60_semi_anti",
        name="semi_boundary_flip",
        path=ENTRY,
        old='_t(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.05)',
        new='_t(spark, sf_dir, "lineitem").where(F.col("l_discount") >= 0.05)',
    ),
    Mut(
        key="q03_q60_semi_anti",
        name="semi_to_inner",
        path=ENTRY,
        old='orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")',
        new='orders.join(li, orders.o_orderkey == li.l_orderkey, "inner")',
    ),
    Mut(
        key="q03_q60_semi_anti",
        name="anti_year_off_by_one",
        path=ENTRY,
        old='F.year("o_orderdate") == 1995',
        new='F.year("o_orderdate") == 1996',
        count=2,  # q60_anti_join + q80_rich_inactive, both parts of this entry
    ),
    # ------------------------------------------------------ q05_q08
    Mut(
        key="q05_q08_window_ranks",
        name="rank_bound_off_by_one",
        path=ENTRY,
        old='.where(F.col("rn") <= 3)',
        new='.where(F.col("rn") <= 2)',
    ),
    Mut(
        key="q05_q08_window_ranks",
        name="q05_tiebreak_flipped",
        path=ENTRY,
        old='F.desc(F.round(F.col("o_totalprice"), -3)), F.col("o_orderkey")',
        new='F.desc(F.round(F.col("o_totalprice"), -3)), F.desc("o_orderkey")',
    ),
    Mut(
        key="q05_q08_window_ranks",
        name="q08_tiebreak_flipped",
        path=ENTRY,
        old='w = Window.orderBy(F.desc("n_events"), F.col("user_id"))',
        new='w = Window.orderBy(F.desc("n_events"), F.desc("user_id"))',
    ),
    # ---------------------------------------------------------- q06
    Mut(
        key="q06_part_type_stats",
        name="max_to_min",
        path=ENTRY,
        old='F.max("p_size").alias("max_size")',
        new='F.min("p_size").alias("max_size")',
    ),
    Mut(
        key="q06_part_type_stats",
        name="avg_round_coarsened",
        path=ENTRY,
        old='F.round(F.avg("p_retailprice"), 2).alias("avg_price")',
        new='F.round(F.avg("p_retailprice"), 1).alias("avg_price")',
    ),
    # ------------------------------------------------------ q07_q87
    Mut(
        key="q07_q87_hourly_gapfill",
        name="zscore_window_shrunk",
        path=ENTRY,
        old="window=24, min_periods=6, tau=2.5",
        new="window=23, min_periods=6, tau=2.5",
        count=3,  # stream part, batch part, q89 helper — all one series
    ),
    Mut(
        key="q07_q87_hourly_gapfill",
        name="locf_excludes_current",
        path=TIMESERIES,
        old=(
            "        Window.partitionBy(*keys)\n"
            "        .orderBy(bucket_col)\n"
            "        .rowsBetween(Window.unboundedPreceding, Window.currentRow)"
        ),
        new=(
            "        Window.partitionBy(*keys)\n"
            "        .orderBy(bucket_col)\n"
            "        .rowsBetween(Window.unboundedPreceding, -1)"
        ),
    ),
    Mut(
        key="q07_q87_hourly_gapfill",
        name="interp_denominator_off_by_one",
        path=TIMESERIES,
        old='frac = (F.col("_pos") - pp) / (np_ - pp)',
        new='frac = (F.col("_pos") - pp) / (np_ - pp + 1)',
    ),
    # ------------------------------------------------------ q11_q12
    Mut(
        key="q11_q12_filter_compile",
        name="gt_boundary_flip",
        path=FILTERS,
        old='    if op == "$gt":\n        return lhs > rhs',
        new='    if op == "$gt":\n        return lhs >= rhs',
    ),
    Mut(
        key="q11_q12_filter_compile",
        name="lte_boundary_flip",
        path=FILTERS,
        old='    if op == "$lte":\n        return lhs <= rhs',
        new='    if op == "$lte":\n        return lhs < rhs',
    ),
    Mut(
        key="q11_q12_filter_compile",
        name="in_list_truncated",
        path=ENTRY,
        old='{"lang": {"$in": ["de", "fr"]}},',
        new='{"lang": {"$in": ["de"]}},',
    ),
    # ---------------------------------------------------------- q13
    Mut(
        key="q13_text_profile",
        name="wordcount_spaces_only",
        path=TEXT,
        old="    return F.size(words(text))",
        new='    return F.size(F.array_remove(F.split(_c(text), " "), ""))',
    ),
    Mut(
        key="q13_text_profile",
        name="entropy_log_base_flip",
        path=TEXT,
        old="+ (c.cast(\"double\") / n) * F.log(c.cast(\"double\") / n),",
        new="+ (c.cast(\"double\") / n) * F.log2(c.cast(\"double\") / n),",
    ),
    Mut(
        key="q13_text_profile",
        name="tokencount_floor_not_ceil",
        path=TEXT,
        old='F.ceil(F.length(_c(text)) / F.lit(4.0)).cast("long"),',
        new='F.floor(F.length(_c(text)) / F.lit(4.0)).cast("long"),',
    ),
    # ------------------------------------------------------ q14_q36
    Mut(
        key="q14_q36_corpus_stats",
        name="percentile_prob_nudged",
        path=ENTRY,
        old='F.round(F.percentile("n_chars", F.lit(0.9)), 2).alias("p90"),',
        new='F.round(F.percentile("n_chars", F.lit(0.89)), 2).alias("p90"),',
    ),
    Mut(
        key="q14_q36_corpus_stats",
        name="sketch_k_shrunk",
        path=ENTRY,
        old='quantile_sketch(doc, "n_chars", "lang", k=256, sample_by="doc_id")',
        new='quantile_sketch(doc, "n_chars", "lang", k=64, sample_by="doc_id")',
    ),
    Mut(
        key="q14_q36_corpus_stats",
        name="avg_words_uses_tokens",
        path=ENTRY,
        old='F.round(F.avg(word_count("text")), 2).alias("avg_words"),',
        new='F.round(F.avg(token_count("text")), 2).alias("avg_words"),',
    ),
    # ------------------------------------------------------ q15_q16
    Mut(
        key="q15_q16_dedup_exact",
        name="fingerprint_prefix_only",
        path=TEXT,
        old="    return F.md5(normalize_ws(F.lower(_c(text))))",
        new="    return F.md5(F.substring(normalize_ws(F.lower(_c(text))), 1, 100))",
    ),
    Mut(
        key="q15_q16_dedup_exact",
        name="keep_rule_max_not_min",
        path=DEDUP,
        old='keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))',
        new='keep = fp.groupBy("_fp").agg(F.max(id_col).alias(id_col))',
    ),
    Mut(
        key="q15_q16_dedup_exact",
        name="group_threshold_dropped",
        path=DEDUP,
        old='.where(F.col("n_members") > 1)',
        new='.where(F.col("n_members") >= 1)',
    ),
]

SEARCH = "pinecone_datasets_spark/operators/search.py"
SAMPLING = "pinecone_datasets_spark/operators/sampling.py"
WINDOWS = "pinecone_datasets_spark/operators/windows.py"

MUTATIONS += [
    # ------------------------------------------------------ q17_q21
    Mut(
        key="q17_q21_neardup_pairs",
        name="jaccard_threshold_nudged",
        path=ENTRY,
        old="out = ngram_jaccard_pairs(\n        doc, threshold=0.3, shingle_k=5, max_df=450\n    )",
        new="out = ngram_jaccard_pairs(\n        doc, threshold=0.35, shingle_k=5, max_df=450\n    )",
    ),
    Mut(
        key="q17_q21_neardup_pairs",
        name="semantic_threshold_nudged",
        path=ENTRY,
        old="semantic_dedup_pairs(\n        sem_corpus, threshold=0.95, dim=64, bits=6, seed=13\n    )",
        new="semantic_dedup_pairs(\n        sem_corpus, threshold=0.9, dim=64, bits=6, seed=13\n    )",
    ),
    Mut(
        key="q17_q21_neardup_pairs",
        name="edit_bound_below_plant",
        path=ENTRY,
        old="edit_distance_pairs(\n        ebase.unionByName(epert), max_distance=4\n    )",
        new="edit_distance_pairs(\n        ebase.unionByName(epert), max_distance=3\n    )",
    ),
    Mut(
        key="q17_q21_neardup_pairs",
        name="hamming_bound_below_plant",
        path=ENTRY,
        old="hamming_neardup_pairs(\n        hcorp, max_hamming=4, id_col=\"doc_id\", hash_col=\"phash\",\n        hash_bits=52,\n    )",
        new="hamming_neardup_pairs(\n        hcorp, max_hamming=2, id_col=\"doc_id\", hash_col=\"phash\",\n        hash_bits=52,\n    )",
    ),
    # ---------------------------------------------------------- q18
    Mut(
        key="q18_minhash_bands",
        name="bands_halved",
        path=ENTRY,
        old="num_hashes=8,\n        bands=4,",
        new="num_hashes=8,\n        bands=2,",
    ),
    Mut(
        key="q18_minhash_bands",
        name="shingle_k_nudged",
        path=ENTRY,
        old="bands=4,\n        shingle_k=5,\n        hash_fn=\"md5\",",
        new="bands=4,\n        shingle_k=4,\n        hash_fn=\"md5\",",
    ),
    # ------------------------------------------------------ q19_q20
    Mut(
        key="q19_q20_topk_metrics",
        name="k_off_by_one",
        path=ENTRY,
        old="metric=\"dot\",\n        k=5,",
        new="metric=\"dot\",\n        k=4,",
    ),
    Mut(
        key="q19_q20_topk_metrics",
        name="search_tiebreak_flipped",
        path=SEARCH,
        old='            [F.desc("score"), F.col(doc_id_col)],\n            rank_col="rank",',
        new='            [F.desc("score"), F.desc(doc_id_col)],\n            rank_col="rank",',
    ),
    Mut(
        key="q19_q20_topk_metrics",
        name="qnorm_dropped",
        path=VECTOR,
        old="* F.greatest(_c(b_norm), F.lit(NORM_FLOOR))",
        new="* F.lit(1.0)",
    ),
    Mut(
        key="q19_q20_topk_metrics",
        name="hardneg_overfetch_dropped",
        path=ENTRY,
        old="k=5,\n        overfetch=5,",
        new="k=5,\n        overfetch=1,",
    ),
    # ------------------------------------------------------ q22_q57
    Mut(
        key="q22_q57_event_queries",
        name="scan_boundary_flip",
        path=ENTRY,
        old="(F.col(\"event_type\") == \"click\") & (F.col(\"value\") > 57.96)",
        new="(F.col(\"event_type\") == \"click\") & (F.col(\"value\") >= 57.96)",
    ),
    Mut(
        key="q22_q57_event_queries",
        name="interval_join_widened",
        path=ENTRY,
        old="s, s, on=\"user_id\", lower_seconds=-300, upper_seconds=0",
        new="s, s, on=\"user_id\", lower_seconds=-360, upper_seconds=0",
    ),
    Mut(
        key="q22_q57_event_queries",
        name="stream_window_halved",
        path=ENTRY,
        old="s, window_duration=\"1 hour\", watermark=\"2 hours\"",
        new="s, window_duration=\"30 minutes\", watermark=\"2 hours\"",
    ),
    # ------------------------------------------------------ q23_q62
    Mut(
        key="q23_q62_setops_subquery",
        name="except_bag_semantics",
        path=ENTRY,
        old="without = cust.subtract(rich_supp)",
        new="without = cust.exceptAll(rich_supp)",
    ),
    Mut(
        key="q23_q62_setops_subquery",
        name="subquery_threshold_nudged",
        path=ENTRY,
        old="(F.avg(\"l_quantity\") * 0.2).alias(\"qty_threshold\")",
        new="(F.avg(\"l_quantity\") * 0.25).alias(\"qty_threshold\")",
    ),
    Mut(
        key="q23_q62_setops_subquery",
        name="acctbal_boundary_flip",
        path=ENTRY,
        old=".where(F.col(\"s_acctbal\") > 7000)",
        new=".where(F.col(\"s_acctbal\") >= 7000)",
        adjudicated=(
            "s_acctbal is a continuous 2-dp uniform column; no supplier"
            " sits at exactly 7000.00 in any driver fixture and the"
            " tables cannot be re-generated to plant one. The >-vs->="
            " distinction is structurally untestable on this column;"
            " subquery_threshold_nudged and except_bag_semantics cover"
            " the entry's live semantics."
        ),
    ),
    # ---------------------------------------------------------- q24
    Mut(
        key="q24_ann_lsh",
        name="ann_bands_collapsed",
        path=ENTRY,
        old="ann = ann_lsh_topk(\n        docs, queries, k=5, bands=64, bits=4, dim=64, seed=42\n    )",
        new="ann = ann_lsh_topk(\n        docs, queries, k=5, bands=2, bits=4, dim=64, seed=42\n    )",
    ),
    Mut(
        key="q24_ann_lsh",
        name="index_probe_k_off_by_one",
        path=ENTRY,
        old="probe = lsh_index_topk(spark, idx_path, queries, k=5)",
        new="probe = lsh_index_topk(spark, idx_path, queries, k=4)",
    ),
    Mut(
        key="q24_ann_lsh",
        name="index_build_seed_drift",
        path=ENTRY,
        old="build_lsh_index(\n        docs, idx_path, bands=64, bits=4, dim=64, seed=42,",
        new="build_lsh_index(\n        docs, idx_path, bands=64, bits=4, dim=64, seed=43,",
        adjudicated=(
            "TRUE EQUIVALENT MUTANT: the probe derives its hyperplanes"
            " from the seed persisted IN the index metadata, so build"
            " and probe stay consistent under any seed; with recall"
            " pinned at 1.0 by (bands=64, bits=4) the top-k equals the"
            " exact twin for every seed — which is the entry's"
            " contract. A build/probe plane MISMATCH defect (the real"
            " failure mode) is pinned by the in-plan-vs-index"
            " candidate-equivalence test in tests/test_lsh_index.py."
        ),
    ),
    # ------------------------------------------------------ q25_q39
    Mut(
        key="q25_q39_fingerprints",
        name="rolling_hash_base_drift",
        path=TEXT,
        old="_RH_BASE = 1000003",
        new="_RH_BASE = 1000033",
    ),
    Mut(
        key="q25_q39_fingerprints",
        name="simhash_nonportable_hash",
        path=ENTRY,
        old="return simhash64(doc, hash_fn=\"md5\").orderBy(\"doc_id\")",
        new="return simhash64(doc, hash_fn=\"xxhash64\").orderBy(\"doc_id\")",
    ),
    Mut(
        key="q25_q39_fingerprints",
        name="cdc_min_size_doubled",
        path=ENTRY,
        old="cdc_blobs,\n        min_size=_CDC_MIN,",
        new="cdc_blobs,\n        min_size=_CDC_MIN * 2,",
        adjudicated=(
            "the designed segment blobs have NO gear cut candidate in"
            " [256,512) (this survivor is the proof), so doubling the"
            " skip region is invisible on this fixture BY CONSTRUCTION"
            " — the fixture's cut layout is itself the oracle contract"
            " and cannot carry arbitrary extra cuts. min-skip semantics"
            " on dense-candidate input is pinned by tests/test_cdc.py::"
            "test_spans_partition_exactly_and_respect_bounds (200 KB"
            " random blob: every non-final span in [min,max]), and the"
            " cut walk itself is live here (cdc_avg_mask_doubled"
            " kills)."
        ),
    ),
    Mut(
        key="q25_q39_fingerprints",
        name="cdc_avg_mask_doubled",
        path=ENTRY,
        old="min_size=_CDC_MIN,\n        avg_size=_CDC_AVG,",
        new="min_size=_CDC_MIN,\n        avg_size=_CDC_AVG * 2,",
    ),
    # ---------------------------------------------------------- q26
    Mut(
        key="q26_sessionize",
        name="gap_boundary_flip",
        path=WINDOWS,
        old="                (F.unix_micros(F.col(\"__s\")) - F.unix_micros(prev_end))\n                > gap_us",
        new="                (F.unix_micros(F.col(\"__s\")) - F.unix_micros(prev_end))\n                >= gap_us",
    ),
    Mut(
        key="q26_sessionize",
        name="batch_gap_nudged",
        path=ENTRY,
        old="out = sessionize(ev, gap_minutes=30)",
        new="out = sessionize(ev, gap_minutes=29)",
    ),
    Mut(
        key="q26_sessionize",
        name="stream_gap_nudged",
        path=ENTRY,
        old="lambda s: streaming_sessionize(\n            s, gap_minutes=30, use_timeout=False\n        )",
        new="lambda s: streaming_sessionize(\n            s, gap_minutes=29, use_timeout=False\n        )",
    ),
    Mut(
        key="q26_sessionize",
        name="stream_gap_boundary_flip",
        path="pinecone_datasets_spark/streaming/sessions.py",
        old="if merged and s - merged[-1][1] <= gap_us:",
        new="if merged and s - merged[-1][1] < gap_us:",
    ),
    Mut(
        key="q26_sessionize",
        name="session_end_min_not_max",
        path=WINDOWS,
        old="F.max(end_expr).alias(\"session_end\"),",
        new="F.min(end_expr).alias(\"session_end\"),",
    ),
    # ---------------------------------------------------------- q27
    Mut(
        key="q27_running_revenue",
        name="cumsum_excludes_current",
        path=WINDOWS,
        old="    w = (\n        Window.partitionBy(partition_col)\n        .orderBy(*order_cols)\n        .rowsBetween(Window.unboundedPreceding, Window.currentRow)\n    )",
        new="    w = (\n        Window.partitionBy(partition_col)\n        .orderBy(*order_cols)\n        .rowsBetween(Window.unboundedPreceding, -1)\n    )",
    ),
    Mut(
        key="q27_running_revenue",
        name="order_tiebreak_flipped",
        path=ENTRY,
        old="order_cols=[\"o_orderdate\", \"o_orderkey\"],",
        new="order_cols=[\"o_orderdate\", F.desc(\"o_orderkey\")],",
    ),
]

TERMS = "pinecone_datasets_spark/operators/terms.py"

MUTATIONS += [
    # ------------------------------------------------------ q28_q69
    Mut(
        key="q28_q69_distinct_sketch",
        name="kmv_k_halved",
        path=ENTRY,
        old='kmv_distinct(ev, "user_id", "event_type", k=64)',
        new='kmv_distinct(ev, "user_id", "event_type", k=32)',
    ),
    Mut(
        key="q28_q69_distinct_sketch",
        name="stream_hll_p_shrunk",
        path=ENTRY,
        old='stream_hll_registers(s, "user_id", "event_type", p=6)',
        new='stream_hll_registers(s, "user_id", "event_type", p=5)',
    ),
    Mut(
        key="q28_q69_distinct_sketch",
        name="stream_cm_width_halved",
        path=ENTRY,
        old='stream_cm_sketch(s, "user_id", depth=4, width=256)',
        new='stream_cm_sketch(s, "user_id", depth=4, width=128)',
    ),
    # ---------------------------------------------------------- q90
    Mut(
        key="q90_profile_dataset",
        name="hll_precision_shrunk",
        path=ENTRY,
        old='prof_in, ["doc_id", "lang", "source", "n_chars"], p=12',
        new='prof_in, ["doc_id", "lang", "source", "n_chars"], p=11',
    ),
    Mut(
        key="q90_profile_dataset",
        name="column_dropped",
        path=ENTRY,
        old='prof_in, ["doc_id", "lang", "source", "n_chars"], p=12',
        new='prof_in, ["doc_id", "lang", "source"], p=12',
    ),
    # ---------------------------------------------------------- q31
    Mut(
        key="q31_stored_filter_search",
        name="stored_filters_ignored",
        path=ENTRY,
        old='metadata_col="metadata",\n        apply_stored_filters=True,',
        new='metadata_col="metadata",\n        apply_stored_filters=False,',
    ),
    Mut(
        key="q31_stored_filter_search",
        name="filter_threshold_loosened",
        path=ENTRY,
        old='json.dumps({"n_chars": {"$gt": 300}}),',
        new='json.dumps({"n_chars": {"$gt": 30}}),',
    ),
    # ------------------------------------------------------ q32_q86
    Mut(
        key="q32_q86_multiscore",
        name="sparse_threshold_raised",
        path=ENTRY,
        old='dense_to_sparse("embedding", threshold=0.15)',
        new='dense_to_sparse("embedding", threshold=0.3)',
    ),
    Mut(
        key="q32_q86_multiscore",
        name="mmr_lambda_nudged",
        path=ENTRY,
        old="out = mmr_rerank(\n        cand,\n        k=5,\n        lam=0.5,",
        new="out = mmr_rerank(\n        cand,\n        k=5,\n        lam=0.7,",
    ),
    Mut(
        key="q32_q86_multiscore",
        name="maxsim_k_off_by_one",
        path=ENTRY,
        old="out = maxsim_topk(docs, queries, k=5, doc_id_col=\"doc_id\")",
        new="out = maxsim_topk(docs, queries, k=4, doc_id_col=\"doc_id\")",
    ),
    # ------------------------------------------------------ q33_q34
    Mut(
        key="q33_q34_curation",
        name="quality_gate_loosened",
        path=ENTRY,
        old="curate_corpus(corpus, min_quality=0.75, min_words=30)",
        new="curate_corpus(corpus, min_quality=0.7, min_words=30)",
    ),
    Mut(
        key="q33_q34_curation",
        name="length_gate_loosened",
        path=ENTRY,
        old="curation_report(corpus, min_quality=0.75, min_words=30)",
        new="curation_report(corpus, min_quality=0.75, min_words=25)",
    ),
    Mut(
        key="q33_q34_curation",
        name="qscore_intercept_nudged",
        path=ENTRY,
        old="_QSCORE_IC1024 / 1024.0,",
        new="(_QSCORE_IC1024 + 64) / 1024.0,",
    ),
    # ---------------------------------------------------------- q35
    Mut(
        key="q35_ivf_topk",
        name="nprobe_collapsed",
        path=ENTRY,
        old="ivf_topk_inplan(with_cells, queries, cents, k=5, nprobe=6)",
        new="ivf_topk_inplan(with_cells, queries, cents, k=5, nprobe=1)",
    ),
    Mut(
        key="q35_ivf_topk",
        name="training_truncated",
        path=ENTRY,
        old="train_centroids_inplan(\n        docs, n_centroids=8, iters=3\n    )",
        new="train_centroids_inplan(\n        docs, n_centroids=8, iters=1\n    )",
        adjudicated=(
            "TRUE EQUIVALENT MUTANT at the entry contract: training"
            " decides WHICH cells are probed, while the emitted rows"
            " are the exact-cosine re-scores of the probed union plus"
            " a recall certificate — with nprobe=6/8 recall stays 1.0"
            " under 1- or 3-round centroids, so the output is"
            " invariant by design (that invariance IS the ANN"
            " contract; nprobe_collapsed proves the probe set is"
            " live). Lloyd-training numerics are pinned bit-exact by"
            " tests/test_ivf.py::test_inplan_lloyd_centroids_are_"
            "integer_exact and first_round_update_is_member_mean."
        ),
    ),
    # ------------------------------------------------------ q37_q38
    Mut(
        key="q37_q38_order_stats",
        name="stddev_population_not_sample",
        path=ENTRY,
        old='F.round(F.stddev("c_acctbal"), 4).alias("sd_bal"),',
        new='F.round(F.stddev_pop("c_acctbal"), 4).alias("sd_bal"),',
    ),
    Mut(
        key="q37_q38_order_stats",
        name="corr_cols_self",
        path=ENTRY,
        old='F.round(F.corr("c_acctbal", "n_orders"), 4).alias(',
        new='F.round(F.corr("n_orders", "n_orders"), 4).alias(',
    ),
    # ------------------------------------------------------ q42_q52
    Mut(
        key="q42_q52_dedup_clusters",
        name="bands_halved",
        path=ENTRY,
        old='doc = doc.where(F.col("doc_id") < _Q42_SLICE_CAP)\n    pairs = minhash_lsh_candidates(\n        doc, num_hashes=8, bands=4, shingle_k=5, hash_fn="md5"\n    )',
        new='doc = doc.where(F.col("doc_id") < _Q42_SLICE_CAP)\n    pairs = minhash_lsh_candidates(\n        doc, num_hashes=8, bands=2, shingle_k=5, hash_fn="md5"\n    )',
    ),
    Mut(
        key="q42_q52_dedup_clusters",
        name="rep_tiebreak_flipped",
        path=ENTRY,
        old='order_by=[F.round(F.col("n_chars"), -2).desc(), F.col("doc_id")],',
        new='order_by=[F.round(F.col("n_chars"), -2).desc(), F.col("doc_id").desc()],',
    ),
    Mut(
        key="q42_q52_dedup_clusters",
        name="labelprop_truncated",
        path=ENTRY,
        old="clusters = dedup_clusters(doc, pairs).cache()",
        new="clusters = dedup_clusters(doc, pairs, max_iter=1).cache()",
    ),
    # ------------------------------------------------------ q43_q44
    Mut(
        key="q43_q44_terms",
        name="idf_smoothing_dropped",
        path=TERMS,
        old='* F.log((1.0 + F.col("__n_docs")) / (1.0 + F.col("df")))',
        new='* F.log((1.0 + F.col("__n_docs")) / F.col("df"))',
    ),
    Mut(
        key="q43_q44_terms",
        name="topterms_k_off_by_one",
        path=ENTRY,
        old='return top_terms(doc, k=20).select(',
        new='return top_terms(doc, k=19).select(',
    ),
    # ------------------------------------------------ q45_q46_q47
    Mut(
        key="q45_q46_q47_sampling",
        name="split_fractions_shifted",
        path=ENTRY,
        old='doc, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id",\n        seed=42,',
        new='doc, {"train": 0.75, "val": 0.15, "test": 0.1}, key_col="doc_id",\n        seed=42,',
    ),
    Mut(
        key="q45_q46_q47_sampling",
        name="split_seed_drift",
        path=ENTRY,
        old='doc, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id",\n        seed=42,',
        new='doc, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id",\n        seed=43,',
    ),
    Mut(
        key="q45_q46_q47_sampling",
        name="stratum_n_off_by_one",
        path=ENTRY,
        old='stratified_sample_exact(\n        doc, "lang", 20, key_col="doc_id", seed=11\n    )',
        new='stratified_sample_exact(\n        doc, "lang", 19, key_col="doc_id", seed=11\n    )',
    ),
    Mut(
        key="q45_q46_q47_sampling",
        name="source_cap_off_by_one",
        path=ENTRY,
        old='cap_per_group(\n        doc,\n        "source",\n        5,',
        new='cap_per_group(\n        doc,\n        "source",\n        4,',
    ),
]

ASOF = "pinecone_datasets_spark/operators/asof.py"
SKEW = "pinecone_datasets_spark/operators/skew.py"
SCD = "pinecone_datasets_spark/operators/scd.py"
WRITER = "pinecone_datasets_spark/writer.py"
KEYWORD = "pinecone_datasets_spark/operators/keyword.py"

MUTATIONS += [
    # ------------------------------------------------------ q09_q10
    Mut(
        key="q09_q10_conform",
        name="metadata_field_dropped",
        path=ENTRY,
        old='F.to_json(\n                F.struct(\n                    F.col("lang"), F.col("source"), F.col("n_chars")\n                )\n            ).alias("metadata"),',
        new='F.to_json(\n                F.struct(\n                    F.col("lang"), F.col("source")\n                )\n            ).alias("metadata"),',
    ),
    Mut(
        key="q09_q10_conform",
        name="writer_wrong_table_dir",
        path=WRITER,
        old='_write_table(df, join(dataset_path, "documents"), single_file, partition_by)',
        new='_write_table(df, join(dataset_path, "docs"), single_file, partition_by)',
    ),
    Mut(
        key="q09_q10_conform",
        name="queries_subset_shifted",
        path=ENTRY,
        old='raw = emb.where(F.col("vec_id") % 50 == 0).select(',
        new='raw = emb.where(F.col("vec_id") % 50 == 1).select(',
    ),
    # ------------------------------------------------------ q48_q81
    Mut(
        key="q48_q81_decontam_spans",
        name="contam_ngram_shrunk",
        path=ENTRY,
        old="return ngram_contamination(doc, bench, n=3).orderBy",
        new="return ngram_contamination(doc, bench, n=2).orderBy",
    ),
    Mut(
        key="q48_q81_decontam_spans",
        name="span_window_shrunk",
        path=ENTRY,
        old='spans_df = repeated_spans(corpus, window=8, hash_fn="md5")',
        new='spans_df = repeated_spans(corpus, window=7, hash_fn="md5")',
    ),
    Mut(
        key="q48_q81_decontam_spans",
        name="span_window_grown",
        path=ENTRY,
        old='spans_df = repeated_spans(corpus, window=8, hash_fn="md5")',
        new='spans_df = repeated_spans(corpus, window=9, hash_fn="md5")',
    ),
    Mut(
        key="q48_q81_decontam_spans",
        name="strip_keeps_span_start",
        path="pinecone_datasets_spark/operators/spans.py",
        old='F.col("_spans"), lambda sp: (sp["s"] <= i) & (i <= sp["e"])',
        new='F.col("_spans"), lambda sp: (sp["s"] < i) & (i <= sp["e"])',
    ),
    # ---------------------------------------------------------- q49
    Mut(
        key="q49_pack_chunks",
        name="pack_budget_off_by_one",
        path=ENTRY,
        old="chunks = pack_documents(doc, max_tokens=512).select(",
        new="chunks = pack_documents(doc, max_tokens=511).select(",
    ),
    Mut(
        key="q49_pack_chunks",
        name="rag_overlap_halved",
        path=ENTRY,
        old="rag = chunk_text(doc, chunk_tokens=64, overlap=16).select(",
        new="rag = chunk_text(doc, chunk_tokens=64, overlap=8).select(",
    ),
    # ---------------------------------------------------------- q50
    Mut(
        key="q50_quantized_topk",
        name="int8_scale_shrunk",
        path="pinecone_datasets_spark/functions/vector.py",
        old='F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0)),',
        new='F.when(amax > 0, F.lit(126.0) / amax).otherwise(F.lit(1.0)),',
    ),
    Mut(
        key="q50_quantized_topk",
        name="pq_subspaces_halved",
        path=ENTRY,
        old="m=4,\n        n_codes=8,",
        new="m=2,\n        n_codes=8,",
    ),
    # ---------------------------------------------------------- q51
    Mut(
        key="q51_quantile_filter",
        name="quantile_nudged",
        path=ENTRY,
        old='filter_by_quantile(scored, "quality", 0.75, keep="above")',
        new='filter_by_quantile(scored, "quality", 0.7, keep="above")',
    ),
    Mut(
        key="q51_quantile_filter",
        name="keep_side_flipped",
        path=ENTRY,
        old='filter_by_quantile(scored, "quality", 0.75, keep="above")',
        new='filter_by_quantile(scored, "quality", 0.75, keep="below")',
    ),
    Mut(
        key="q51_quantile_filter",
        name="buckets_off_by_one",
        path=ENTRY,
        old='quantile_bucket_by_group(\n        scored, "quality", "source", n_buckets=4\n    )',
        new='quantile_bucket_by_group(\n        scored, "quality", "source", n_buckets=5\n    )',
    ),
    # ---------------------------------------------------------- q53
    Mut(
        key="q53_incremental_dedup",
        name="bloom_bits_shrunk",
        path=ENTRY,
        old="n_bits=1 << 14,",
        new="n_bits=1 << 8,",
        count=2,  # build + probe stay consistent; the oracle replays 1<<14
    ),
    Mut(
        key="q53_incremental_dedup",
        name="admission_inverted",
        path=DEDUP,
        old='first_in_batch.join(F.broadcast(collisions), "_fp", "left_anti")',
        new='first_in_batch.join(F.broadcast(collisions), "_fp", "left_semi")',
    ),
    Mut(
        key="q53_incremental_dedup",
        name="mh_probe_threshold_nudged",
        path=ENTRY,
        old="spark, idx_path, batch, threshold=0.5, batch_id_col=\"doc_id\"",
        new="spark, idx_path, batch, threshold=0.75, batch_id_col=\"doc_id\"",
    ),
    # ---------------------------------------------------------- q54
    Mut(
        key="q54_asof_join",
        name="asof_tiebreak_min_wins",
        path=ASOF,
        old='.orderBy(_TS, _TAG, "__asof_tb")',
        new='.orderBy(_TS, _TAG, F.desc("__asof_tb"))',
    ),
    Mut(
        key="q54_asof_join",
        name="asof_twin_plant_removed",
        path=ENTRY,
        old='twins = base_clicks.where(F.col("event_id") % 7 == 0).select(',
        new='twins = base_clicks.where(F.col("event_id") % 7 == 99).select(',
    ),
    # ---------------------------------------------------------- q55
    Mut(
        key="q55_range_join",
        name="lower_bound_halved",
        path=ENTRY,
        old="lower_us=-86_400_000_000,",
        new="lower_us=-43_200_000_000,",
    ),
    Mut(
        key="q55_range_join",
        name="upper_bound_widened",
        path=ENTRY,
        old="lower_us=-86_400_000_000,\n        upper_us=0,",
        new="lower_us=-86_400_000_000,\n        upper_us=3_600_000_000,",
    ),
    # ------------------------------------------------------ q56_q61
    Mut(
        key="q56_q61_rollup",
        name="rollup_to_cube",
        path=ENTRY,
        old='joined.rollup("r_name", "n_name")',
        new='joined.cube("r_name", "n_name")',
    ),
    Mut(
        key="q56_q61_rollup",
        name="partial_fold_avg_wrong_denominator",
        path=ENTRY,
        old='F.round(F.round(F.sum("sum_v"), 2) / F.sum("n"), 3).alias(',
        new='F.round(F.round(F.sum("sum_v"), 2) / F.count("n"), 3).alias(',
    ),
    # ---------------------------------------------------------- q58
    Mut(
        key="q58_unigram_lm",
        name="jm_lambda_nudged",
        path=ENTRY,
        old="big = bigram_logprob(doc, lam=0.8, round_to=4)",
        new="big = bigram_logprob(doc, lam=0.7, round_to=4)",
    ),
    Mut(
        key="q58_unigram_lm",
        name="unigram_round_coarsened",
        path=ENTRY,
        old="uni = unigram_logprob(doc, round_to=4)",
        new="uni = unigram_logprob(doc, round_to=3)",
    ),
]

GRAPH = "pinecone_datasets_spark/operators/graph.py"
DOMAINS = "pinecone_datasets_spark/operators/domains.py"
SNAPSHOT = "pinecone_datasets_spark/operators/snapshot.py"

MUTATIONS += [
    # ---------------------------------------------------------- q59
    Mut(
        key="q59_label_centroids",
        name="centroid_round_coarsened",
        path=ENTRY,
        old='F.round(F.avg("val"), 5).alias("centroid"),',
        new='F.round(F.avg("val"), 4).alias("centroid"),',
    ),
    Mut(
        key="q59_label_centroids",
        name="drift_threshold_nudged",
        path=ENTRY,
        old="drift = embedding_drift(dbl, batch, z_threshold=3.0).select(",
        new="drift = embedding_drift(dbl, batch, z_threshold=300.0).select(",
    ),
    Mut(
        key="q59_label_centroids",
        name="drift_plant_removed",
        path=ENTRY,
        old='" (x, i) -> IF(i = 3, x + CAST(0.5 AS DOUBLE), x))"',
        new='" (x, i) -> IF(i = 3, x + CAST(0.0 AS DOUBLE), x))"',
    ),
    # ------------------------------------------------------ q63_q64
    Mut(
        key="q63_q64_scd",
        name="scd2_change_detect_inverted",
        path=SCD,
        old="[~F.col(c).eqNullSafe(F.lag(c).over(w)) for c in state_cols],",
        new="[F.col(c).eqNullSafe(F.lag(c).over(w)) for c in state_cols],",
    ),
    Mut(
        key="q63_q64_scd",
        name="delete_ops_widened",
        path=ENTRY,
        old='delete_ops=("error",),',
        new='delete_ops=("error", "click"),',
    ),
    # ---------------------------------------------------------- q65
    Mut(
        key="q65_salted_join",
        name="build_side_salt_missing",
        path=SKEW,
        old="F.explode(F.array(*[F.lit(i).cast(\"long\") for i in range(salts)])),",
        new="F.explode(F.array(*[F.lit(i).cast(\"long\") for i in range(salts - 1)])),",
    ),
    Mut(
        key="q65_salted_join",
        name="salt_dropped_from_join_keys",
        path=SKEW,
        old="out = p.join(b, on=[*keys, _SALT], how=how)",
        new="out = p.join(b, on=[*keys], how=how)",
    ),
    # ------------------------------------------------------ q66_q85
    Mut(
        key="q66_q85_bm25_rm3",
        name="bm25_k_off_by_one",
        path=ENTRY,
        old="out = bm25_topk(docs, queries, k=10)",
        new="out = bm25_topk(docs, queries, k=9)",
    ),
    Mut(
        key="q66_q85_bm25_rm3",
        name="rm3_orig_weight_nudged",
        path=ENTRY,
        old="docs, queries, k=10, fb_k=5, n_terms=8, orig_weight=0.5",
        new="docs, queries, k=10, fb_k=5, n_terms=8, orig_weight=0.6",
    ),
    Mut(
        key="q66_q85_bm25_rm3",
        name="bm25_length_norm_dropped",
        path=KEYWORD,
        old="    b: float = 0.75,",
        new="    b: float = 0.0,",
        count=2,  # bm25_topk + the weighted re-search share the constant
    ),
    # ------------------------------------------------------ q67_q84
    Mut(
        key="q67_q84_hybrid_eval",
        name="rrf_topk_off_by_one",
        path=ENTRY,
        old='fused = rrf_fuse([dense, bm.select("query_id", "doc_id", "rank")], topk=10)',
        new='fused = rrf_fuse([dense, bm.select("query_id", "doc_id", "rank")], topk=9)',
    ),
    Mut(
        key="q67_q84_hybrid_eval",
        name="rrf_k_constant_nudged",
        path=KEYWORD,
        old="    rrf_k: int = 60,",
        new="    rrf_k: int = 59,",
    ),
    # ---------------------------------------------------------- q68
    Mut(
        key="q68_zorder_values",
        name="interleave_bits_shrunk",
        path=ENTRY,
        old="bits=6,\n        ).alias(\"zval\"),",
        new="bits=5,\n        ).alias(\"zval\"),",
    ),
    Mut(
        key="q68_zorder_values",
        name="key_modulus_halved",
        path=ENTRY,
        old='F.pmod(F.col("l_partkey"), F.lit(64)),',
        new='F.pmod(F.col("l_partkey"), F.lit(32)),',
    ),
    # ---------------------------------------------------------- q70
    Mut(
        key="q70_cube_docs",
        name="cube_to_rollup",
        path=ENTRY,
        old='doc.cube("lang", "source")',
        new='doc.rollup("lang", "source")',
    ),
    Mut(
        key="q70_cube_docs",
        name="avg_round_coarsened",
        path=ENTRY,
        old='F.round(F.avg("n_chars") + F.lit(1e-9), 2).alias("avg_chars"),\n            F.grouping_id().alias("level"),',
        new='F.round(F.avg("n_chars") + F.lit(1e-9), 1).alias("avg_chars"),\n            F.grouping_id().alias("level"),',
    ),
    # ------------------------------------------------------ q71_q72
    Mut(
        key="q71_q72_funnel_cohort",
        name="funnel_order_gate_dropped",
        path=ENTRY,
        old='.join(s1, "user_id")\n        .where(F.col("ts") >= F.col("ts1"))',
        new='.join(s1, "user_id")',
    ),
    Mut(
        key="q71_q72_funnel_cohort",
        name="funnel_stage_subset_shifted",
        path=ENTRY,
        old='(F.col("event_type") == "click")\n            & (F.col("event_id") % 3 == 0)',
        new='(F.col("event_type") == "click")\n            & (F.col("event_id") % 3 == 1)',
    ),
    Mut(
        key="q71_q72_funnel_cohort",
        name="cohort_horizon_off_by_one",
        path=ENTRY,
        old='.where(F.col("week_offset") <= 4)',
        new='.where(F.col("week_offset") <= 3)',
    ),
    # ---------------------------------------------------------- q73
    Mut(
        key="q73_pagerank2",
        name="damping_nudged",
        path=ENTRY,
        old="ranks = pagerank(edges, iterations=2, damping=0.85)",
        new="ranks = pagerank(edges, iterations=2, damping=0.8)",
    ),
    Mut(
        key="q73_pagerank2",
        name="iterations_truncated",
        path=ENTRY,
        old="ranks = pagerank(edges, iterations=2, damping=0.85)",
        new="ranks = pagerank(edges, iterations=1, damping=0.85)",
    ),
    # ---------------------------------------------------------- q74
    Mut(
        key="q74_minhash_oph",
        name="oph_bands_halved",
        path=ENTRY,
        old='doc, num_hashes=8, bands=4, shingle_k=5, hash_fn="oph"',
        new='doc, num_hashes=8, bands=2, shingle_k=5, hash_fn="oph"',
    ),
    Mut(
        key="q74_minhash_oph",
        name="oph_shingle_nudged",
        path=ENTRY,
        old='doc, num_hashes=8, bands=4, shingle_k=5, hash_fn="oph"',
        new='doc, num_hashes=8, bands=4, shingle_k=4, hash_fn="oph"',
    ),
    # ---------------------------------------------------------- q88
    Mut(
        key="q88_domains_snapshot",
        name="dup_rate_counts_rows",
        path=DOMAINS,
        old='F.countDistinct("_fp").alias("n_unique"),',
        new='F.count("_fp").alias("n_unique"),',
    ),
    Mut(
        key="q88_domains_snapshot",
        name="v2_rewrite_marker_changed",
        path=ENTRY,
        old='F.concat(F.col("text"), F.lit(" v2")),',
        new='F.concat(F.col("text"), F.lit(" v3")),',
    ),
]

WARC = "pinecone_datasets_spark/sources/warc.py"

# r12 second pass: the biggest merged entries carried only 3-4
# mutations for 10+ parts; these widen the per-part coverage.
MUTATIONS += [
    Mut(
        key="q13_text_profile",
        name="lang_marker_dropped",
        path=TEXT,
        old='"en": ("the", "and", "is", "of", "to", "in", "that", "it"),',
        new='"en": ("and", "is", "of", "to", "in", "that", "it"),',
    ),
    Mut(
        key="q13_text_profile",
        name="quality_stopword_weight_nudged",
        path=TEXT,
        old="stop_score = F.least(F.lit(1.0), stopword_ratio(t) * F.lit(4.0))",
        new="stop_score = F.least(F.lit(1.0), stopword_ratio(t) * F.lit(3.0))",
    ),
    Mut(
        key="q13_text_profile",
        name="pii_redaction_order_reversed",
        path=TEXT,
        old="    for pattern, repl in _PII_PATTERNS:",
        new="    for pattern, repl in reversed(_PII_PATTERNS):",
    ),
    Mut(
        key="q09_q10_conform",
        name="wet_filter_wrong_record_type",
        path=WARC,
        old='return records.where(F.col("warc_type") == "conversion").select(',
        new='return records.where(F.col("warc_type") == "warcinfo").select(',
        adjudicated=(
            "wet_text is a four-line WHERE+SELECT convenience view over"
            " the record frame and no gate entry routes through it (the"
            " warc parts read .records directly; the crawl funnel uses"
            " http_body/http_status) — this survivor is the proof, kept"
            " as documentation. The conversion-filter semantics are"
            " pinned by tests/test_warc.py (wet rows == conversion"
            " payloads) and tests/test_plans.py, and the parser that"
            " feeds it IS gate-covered (q09_q10 warc part, byte-exact"
            " md5 per record)."
        ),
    ),
]

MUTATIONS += [
    Mut(
        key="q26_sessionize",
        name="stream_collapsed_to_one_batch",
        path=ENTRY,
        old='.option("maxFilesPerTrigger", 2)',
        new='.option("maxFilesPerTrigger", 4)',
    ),
]

# r12 third pass: part-coverage for entries still at the 2-probe floor.
MUTATIONS += [
    Mut(
        key="q49_pack_chunks",
        name="bpe_merges_truncated",
        path=ENTRY,
        old="merges = train_bpe(hist, n_merges=40)",
        new="merges = train_bpe(hist, n_merges=39)",
    ),
    Mut(
        key="q49_pack_chunks",
        name="byte_bpe_merges_truncated",
        path=ENTRY,
        old="merges = train_byte_bpe(bhist, n_merges=30)",
        new="merges = train_byte_bpe(bhist, n_merges=29)",
    ),
    Mut(
        key="q49_pack_chunks",
        name="batch_bucket_edge_nudged",
        path=ENTRY,
        old="doc, batch_size=16, bucket_edges=[50, 90, 120]",
        new="doc, batch_size=16, bucket_edges=[50, 95, 120]",
    ),
    Mut(
        key="q54_asof_join",
        name="right_before_left_tag_flipped",
        path=ASOF,
        old='.orderBy(_TS, _TAG, "__asof_tb")',
        new='.orderBy(_TS, F.desc(_TAG), "__asof_tb")',
        adjudicated=(
            "right rows sort BEFORE left at equal (ts, user) so an"
            " at-the-same-instant click is matchable; flipping the tag"
            " changes output ONLY when a purchase and a matching click"
            " share an exact microsecond timestamp, which no fixture"
            " event pair does and the planted equal-ts twins are"
            " click/click, not click/purchase. The inclusive at-or-"
            "before semantics (vs strictly-before) is pinned by"
            " tests/test_asof_range.py equal-ts cases; the tiebreak"
            " WITHIN the right side is gate-live (asof_tiebreak_min_"
            "wins kills)."
        ),
    ),
    Mut(
        key="q88_domains_snapshot",
        name="diff_removed_docs_dropped",
        path=ENTRY,
        old='doc.where(F.col("doc_id") % 7 != 0)',
        new='doc.where(F.col("doc_id") % 7 != 1)',
    ),
    Mut(
        key="q90_profile_dataset",
        name="nonnull_count_counts_rows",
        path="pinecone_datasets_spark/operators/profile.py",
        old='aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))',
        new='aggs.append(F.count(F.lit(1)).alias(f"__nn_{c}"))',
    ),
]

MUTATIONS += [
    Mut(
        key="q58_unigram_lm",
        name="unigram_log_base_flip",
        path=TERMS,
        old='logp = F.log10(F.col("n") / F.col("total"))',
        new='logp = F.log(F.col("n") / F.col("total"))',
    ),
    Mut(
        key="q63_q64_scd",
        name="valid_to_skips_successor",
        path=SCD,
        old=".withColumn(valid_to, F.lead(ts_col).over(w))",
        new=".withColumn(valid_to, F.lead(ts_col, 2).over(w))",
    ),
    Mut(
        key="q65_salted_join",
        name="salts_collapsed_to_one",
        path=ENTRY,
        old="on=\"c_custkey\",\n        salts=8,",
        new="on=\"c_custkey\",\n        salts=1,",
        adjudicated=(
            "TRUE EQUIVALENT MUTANT, and deliberately so: salted_join's"
            " contract is row-identity to the plain join for EVERY salt"
            " count — salting only reshapes the physical shuffle, and"
            " the oracle twin IS the unsalted join, so no salt count"
            " can ever diverge the gate. The mechanisms that could"
            " break row-identity are gate-live via the library probes"
            " (build_side_salt_missing and salt_dropped_from_join_keys"
            " both kill); the salts-invariance property itself is"
            " pinned by tests/test_skew.py equivalence cases."
        ),
    ),
]


# --------------------------------------------------------------------
# Library-level sampling (r12 verdict item 3): the 148 entries above
# target entry-file call sites; these ~21 target the LOAD-BEARING
# OPERATOR INTERNALS themselves (keep-rules, boundary predicates,
# formula terms, prefix-sum shapes) across the eight most load-bearing
# modules. Gate is unchanged: the named entry's oracle must break.
# Driver-side plan construction is what every one of these lines does,
# so the in-memory meta-path mutation reaches them all.

PACKING = "pinecone_datasets_spark/operators/packing.py"
CONFORM = "pinecone_datasets_spark/conform.py"
SKETCH = "pinecone_datasets_spark/operators/sketch.py"

MUTATIONS += [
    # ------------------------------------------------ dedup.py
    Mut(
        key="q15_q16_dedup_exact",
        name="lib_keep_rule_max",
        path=DEDUP,
        old='keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))',
        new='keep = fp.groupBy("_fp").agg(F.max(id_col).alias(id_col))',
    ),
    Mut(
        key="q53_incremental_dedup",
        name="lib_admit_inverted",
        path=DEDUP,
        old='first_in_batch.join(F.broadcast(collisions), "_fp", "left_anti")',
        new='first_in_batch.join(F.broadcast(collisions), "_fp", "left_semi")',
    ),
    Mut(
        key="q18_minhash_bands",
        name="lib_shingle_off_by_one",
        path=DEDUP,
        # _norm_shingled: the LIVE shingle extent (md5/xxhash minhash +
        # ngram-jaccard). First cut targeted char_shingles, which only
        # the public-API pytest exercises (test_dedup_text.py:59 pins
        # its exact output) - gate-invisible by construction.
        old='F.lit(1), F.greatest(F.col("_n") - F.lit(k - 1), F.lit(1))',
        new='F.lit(1), F.greatest(F.col("_n") - F.lit(k), F.lit(1))',
    ),
    Mut(
        key="q74_minhash_oph",
        name="lib_rolling_extent_off",
        path=DEDUP,
        # _rolling_hashed: the OPH/rolling fast path's window extent
        old='F.lit(0), F.greatest(F.col("_n") - F.lit(k), F.lit(0))',
        new='F.lit(0), F.greatest(F.col("_n") - F.lit(k - 1), F.lit(0))',
    ),
    # ----------------------------------------------- search.py
    Mut(
        key="q19_q20_topk_metrics",
        name="lib_rank_off_by_one",
        path=SEARCH,
        old='.where(F.col("rank") <= F.col("top_k"))',
        new='.where(F.col("rank") < F.col("top_k"))',
    ),
    Mut(
        key="q19_q20_topk_metrics",
        name="lib_tiebreak_desc",
        path=SAMPLING,
        old="w = Window.partitionBy(*groups).orderBy(*order_by)",
        new="w = Window.partitionBy(*groups).orderBy(\n        *order_by[:-1], order_by[-1].desc()\n    )",
    ),
    Mut(
        key="q19_q20_topk_metrics",
        name="lib_norm_swap",
        path=VECTOR,
        old="F.greatest(_c(b_norm), F.lit(NORM_FLOOR))",
        new="F.greatest(_c(a_norm), F.lit(NORM_FLOOR))",
    ),
    # ---------------------------------------------- keyword.py
    Mut(
        key="q66_q85_bm25_rm3",
        name="lib_idf_smoothing",
        path=KEYWORD,
        old='+ (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)',
        new='+ (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 1.5)',
    ),
    Mut(
        key="q66_q85_bm25_rm3",
        name="lib_lennorm_dropped",
        path=KEYWORD,
        old='/ (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))',
        new='/ (F.col("tf") + k1)',
    ),
    Mut(
        key="q66_q85_bm25_rm3",
        name="lib_tf_saturation",
        path=KEYWORD,
        old='* (F.col("tf") * (k1 + 1.0))',
        new="* (F.col(\"tf\") * k1)",
        count=2,  # live path + index path share the numerator
    ),
    # ---------------------------------------------- packing.py
    Mut(
        key="q49_pack_chunks",
        name="lib_prefix_inclusive",
        path=PACKING,
        old='(F.sum("_t").over(wp) - F.col("_t")).alias("_offset"),',
        new='(F.sum("_t").over(wp)).alias("_offset"),',
    ),
    Mut(
        key="q49_pack_chunks",
        name="lib_globalstart_off",
        path=PACKING,
        old='gs = (F.col("_offset") + F.col("_cum") - F.col("n_tokens")).alias(',
        new='gs = (F.col("_offset") + F.col("_cum")).alias(',
    ),
    Mut(
        key="q49_pack_chunks",
        name="lib_batch_rank_fencepost",
        path=PACKING,
        old='F.expr(f"(rank_in_bucket - 1) div {int(batch_size)}").cast("long"),',
        new='F.expr(f"rank_in_bucket div {int(batch_size)}").cast("long"),',
    ),
    # ---------------------------------------------- filters.py
    Mut(
        key="q11_q12_filter_compile",
        name="lib_gt_boundary",
        path=FILTERS,
        old="return lhs > rhs",
        new="return lhs >= rhs",
    ),
    Mut(
        key="q11_q12_filter_compile",
        name="lib_ne_missing_field",
        path=FILTERS,
        old="return present & ~_null_safe_eq(lhs, rhs)",
        new="return ~_null_safe_eq(lhs, rhs)",
    ),
    Mut(
        key="q11_q12_filter_compile",
        name="lib_in_nin_swap",
        path=FILTERS,
        old='return any_eq if op == "$in" else (present & ~any_eq)',
        new='return (present & ~any_eq) if op == "$in" else any_eq',
    ),
    # ----------------------------------------------- conform.py
    Mut(
        key="q09_q10_conform",
        name="lib_default_backfill_null",
        path=CONFORM,
        old="return F.lit(spec.default).cast(spec.dtype)",
        new="return F.lit(None).cast(spec.dtype)",
        adjudicated=(
            "TRUE EQUIVALENT MUTANT by reference parity: only NULLABLE"
            " columns are ever back-filled (reference"
            " dataset_fsreader.py:128-139), and every nullable spec in"
            " cfg.py declares default=None — so F.lit(spec.default) is"
            " F.lit(None) on every reachable path. The one non-None"
            " default (top_k=5, cfg.py:34) belongs to a REQUIRED column"
            " that raises instead of back-filling (pinned by"
            " tests/test_conform.py), and the NULL-top_k-cell -> 5"
            " semantics live in topk_search's coalesce, which the"
            " q19_q20 lib mutations gate."
        ),
    ),
    Mut(
        key="q09_q10_conform",
        name="lib_cast_probe_wired_false",
        path=CONFORM,
        old="elif _can_cast(df, spec.name, spec):",
        new="elif False and _can_cast(df, spec.name, spec):",
    ),
    # ------------------------------------------------ sketch.py
    Mut(
        key="q28_q69_distinct_sketch",
        name="lib_kmv_rank_bound",
        path=SKETCH,
        old='.where(F.col("__rn") <= F.lit(k))',
        new='.where(F.col("__rn") < F.lit(k))',
        count=2,  # kmv + its grouped variant share the bound
    ),
    Mut(
        key="q28_q69_distinct_sketch",
        name="lib_cm_width_off",
        path=SKETCH,
        old="return F.pmod(h, F.lit(width))",
        new="return F.pmod(h, F.lit(width - 1))",
    ),
    # ----------------------------------------------- windows.py
    Mut(
        key="q26_sessionize",
        name="lib_gap_boundary",
        path=WINDOWS,
        old="> gap_us",
        new=">= gap_us",
        count=2,  # event level + salted-merge level share the gap rule
    ),
    Mut(
        key="q26_sessionize",
        name="lib_session_end_min",
        path=WINDOWS,
        old='F.max(end_expr).alias("session_end"),',
        new='F.min(end_expr).alias("session_end"),',
    ),
]
