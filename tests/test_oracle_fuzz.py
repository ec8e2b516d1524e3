"""Cross-engine property fuzz (SURVEY §5 stretch letter): Hypothesis
generates tiny random `events` / `documents` tables, writes them as parquet
next to the fixed sf0.001 copies of the other tables, and checks a random
sample of declared queries on Spark against their DuckDB oracles over the
SAME files — columns, row count, and canonical values must match.

This hardens oracle parity beyond the fixed driver fixtures: duplicate
timestamps, empty-ish groups, single-user streams, and adversarial text are
all shapes the deterministic seed-42 testdata never produces.

The query pools below are exactly the declared queries whose Spark side
reads ONLY events/documents and whose oracle is declared (verified by a
source scan); results are compared with the same canonicalization as
``tools/check_oracles.py`` so a fuzz failure here is a real parity bug.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import shutil

import duckdb
import pandas as pd
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# round 11: randomized whole-pool fuzz sweeps — slow tier (the driver runs
# -m 'not slow'; tools/gate.py runs both tiers)
pytestmark = pytest.mark.slow

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SF0001 = "/root/testdata/sf0.001"
_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def _load_check_oracles():
    spec = importlib.util.spec_from_file_location("check_oracles", os.path.join(_REPO, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_co = _load_check_oracles()
normalize = _co.normalize


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries(), entrymod.oracle_sql()


# Queries reading ONLY the events table (all oracle-declared).
EVENT_QUERIES = [
    "q_tumbling_window", "q_session_window", "q_sliding_window",
    "q_transition_matrix", "q_funnel", "q_histogram", "q_dedup",
    "q_scalar_funcs", "q_gap_fill", "q_absence_pattern",
    "q_watermark_cadence", "q_acf_daily", "q_data_freshness", "q_hll_portable",
    "q_time_weighted_avg",
    "q_active_users", "q_weekday_profile", "q_cohort_retention",
    "q_retention_curve", "q_time_to_convert", "q_rolling_time_window",
    "q_dynamic_session_window", "q_timeseries_similarity",
    "q_interval_concurrency", "q_rolling_zscore", "q_merge_upsert",
    "q_ewma_smooth", "q_burst_detection", "q_audience_overlap",
    "q_asof_tolerance", "q_mutual_information", "q_topk_with_other",
    "q_period_over_period", "q_user_saturation", "q_lift_table",
    "q_debounce", "q_lateness_audit", "q_salt_advisor",
    "q_cohort_ltv", "q_nearest_event_join",
    "q_kmv_sketch", "q_srm_check", "q_seasonal_decompose",
    "q_holt_linear", "q_cuped", "q_theil_sen",
    "q_mann_kendall", "q_runs_test", "q_ccf_leadlag", "q_xmr_control",
    "q_growth_accounting", "q_stratified_ate", "q_nelson_aalen",
    "q_welch_ttest", "q_new_returning_revenue", "q_max_drawdown",
    "q_seasonality_strength", "q_seasonal_anomaly", "q_interarrival_stats",
    "q_qini_curve", "q_kmv_intersection", "q_bootstrap_ci",
    "q_shapley_attribution", "q_mann_whitney", "q_markov_entropy_rate",
    "q_block_maxima", "q_overdispersion", "q_spearman",
    "q_kendall_tau", "q_pettitt_changepoint", "q_kruskal_wallis",
    "q_anova", "q_cramers_v", "q_tukey_fences", "q_holt_winters", "q_sax_words",
    "q_top_paths", "q_forecast_eval", "q_changepoint_cusum",
    "q_survival_curve", "q_k_anonymity", "q_ab_test", "q_lag_features",
    "q_power_analysis", "q_grouped_udaf", "q_full_outer_reconcile",
    "q_scd2_intervals", "q_latest_snapshot", "q_linear_attribution",
    "q_topk_per_group", "q_count_window", "q_asof_join", "q_range_join",
    "q_pivot", "q_window_frames", "q_recover_value",
    "q_recover_with_stream",
    "q_macd", "q_anderson_darling", "q_theta_forecast",
    "q_mcnemar", "q_brown_forsythe", "q_ohlc_bars", "q_page_hinkley",
    "q_bot_detection", "q_time_decay_attribution", "q_pit_join",
    "q_session_stats", "q_dtw_distance", "q_isotonic_calibration",
    "q_logrank_test",
    "q_cochran_q", "q_hurst_exponent", "q_weibull_fit", "q_croston",
    "q_seasonal_mann_kendall", "q_poisson_rate_test", "q_friedman_test",
    # round-9: the distribution/trend/market-signal family (all try_divided)
    "q_jarque_bera", "q_cox_stuart", "q_bollinger_bands", "q_durbin_watson",
    "q_rsi_cutler", "q_jonckheere",
    # round-10 wave 2: outlier / AR-order / structural-break trio
    "q_grubbs_test", "q_pacf", "q_chow_test",
]
# Queries reading ONLY the documents table (all oracle-declared).
DOC_QUERIES = [
    "q_token_stats", "q_lang_id", "q_dedup_text_exact", "q_text_normalize",
    "q_quality_score", "q_repetition_filter", "q_doc_fingerprint",
    "q_flatmap_explode", "q_ngram_heavy_hitters", "q_bm25_topterms",
    "q_source_cap", "q_lang_confusion", "q_dedup_rate_report",
    "q_classifier_report",
    "q_inverted_index", "q_cms_heavy_hitters", "q_unigram_surprisal",
    "q_mixture_resample", "q_auc_eval", "q_calibration", "q_zipf_fit",
    "q_bloom_index", "q_training_order", "q_corpus_entropy",
    "q_weighted_sample", "q_cross_source_overlap", "q_ks_drift",
    "q_decision_stump", "q_dup_span_coverage", "q_group_split",
    "q_char_bigram_entropy",
    "q_quantile_normalize", "q_quality_prune", "q_dedup_keep_rule",
    "q_corpus_delta", "q_sequence_pack", "q_mixture_weights",
    "q_pii_redact", "q_multimodal_decode", "q_multimodal_bmp", "q_multimodal_png",
    "q_multimodal_meta",
    "q_stratified_sample", "q_schema_evolution_union", "q_chi_square",
    "q_simhash_dedup", "q_tfidf_topterms", "q_training_pipeline",
    "q_text_tokens", "q_decontaminate", "q_minhash_recall", "q_dsir_select",
    "q_bm25_search", "q_bigram_surprisal", "q_conformal_threshold",
    "q_wasserstein_drift", "q_rrf_fusion",
    "q_pmi_collocations", "q_ngram_novelty", "q_bpe_fertility",
    "q_heaps_fit", "q_js_divergence", "q_minhash_precision",
    "q_cluster_size_dist", "q_bpe_generalization", "q_word_burstiness",
    "q_hashed_features", "q_template_detect", "q_dedup_threshold_curve",
    "q_dedup_savings", "q_quality_trend",
    "q_set_similarity_join", "q_good_turing", "q_span_corruption",
    "q_rake_keyphrases", "q_winnowing_fingerprint", "q_image_dhash_dedup",
    "q_audio_loudness", "q_kneser_ney_surprisal",
    "q_psi_drift", "q_cohens_kappa", "q_gopher_rules", "q_mojibake_audit",
    "q_textrank_keywords",
    "q_fleiss_kappa", "q_rbo_rankings", "q_burrows_delta",
    "q_code_switch_audit", "q_token_budget_fill", "q_keyword_trend",
    "q_bm25_k1_sweep",
    # round-9: readability + vocabulary-coverage audits
    "q_flesch_reading", "q_oov_rate",
    # round-10: GIF codec roundtrip, CvM drift, blocklist scrub
    "q_multimodal_gif", "q_cvm_drift", "q_blocklist_scrub",
]

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "zh", "fr", "es"]
WORDS = [
    "spark", "group", "query", "row", "data", "slow", "small", "filter",
    "the", "join", "window", "stream", "sort", "merge", "key", "scan",
    "a", "batch", "value", "customer", "line", "fast", "table", "part",
]

_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z, matches the fixture range

# Row-count multiplier for deep soaks: SPARK_GRAFT_FUZZ_SCALE=20 grows the
# random tables ~20x (hundreds of rows), which multiplies the chance of
# hitting sum/rounding boundaries and drives multi-group shapes — CI keeps 1.
_SCALE = max(1, int(os.environ.get("SPARK_GRAFT_FUZZ_SCALE", "1")))


@st.composite
def _events_frame(draw):
    n = draw(st.integers(min_value=15, max_value=45 * _SCALE))
    ts_off = draw(st.lists(st.integers(0, 5 * 86_400_000), min_size=n, max_size=n))
    users = draw(st.lists(st.integers(1, 6), min_size=n, max_size=n))
    types = draw(st.lists(st.sampled_from(EVENT_TYPES), min_size=n, max_size=n))
    values = draw(st.lists(st.floats(0, 500, allow_nan=False, allow_infinity=False), min_size=n, max_size=n))
    ks = draw(st.lists(st.integers(0, 99), min_size=n, max_size=n))
    return pd.DataFrame(
        {
            "event_id": pd.array(range(n), dtype="int64"),
            "ts": pd.to_datetime([_EPOCH_2024 * 1000 + ms for ms in ts_off], unit="ms"),
            "user_id": pd.array(users, dtype="int64"),
            "event_type": types,
            "value": [round(v, 2) for v in values],
            "props": [json.dumps({"k": k}) for k in ks],
        }
    )


@st.composite
def _documents_frame(draw):
    n = draw(st.integers(min_value=8, max_value=25 * _SCALE))
    texts = draw(
        st.lists(
            st.lists(st.sampled_from(WORDS), min_size=0, max_size=40).map(" ".join),
            min_size=n,
            max_size=n,
        )
    )
    langs = draw(st.lists(st.sampled_from(LANGS), min_size=n, max_size=n))
    srcs = draw(st.lists(st.sampled_from([f"src{i}" for i in range(5)]), min_size=n, max_size=n))
    return pd.DataFrame(
        {
            "doc_id": pd.array(range(n), dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": srcs,
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _write_table(tmpdir: str, name: str, df: pd.DataFrame) -> None:
    """Write a fuzzed table with MICROSECOND timestamps — the testdata
    contract load_table normalizes (pandas' default ns unit would hit the
    legacy nanosAsLong read path, which load_table only maps for events.ts)."""
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    df.to_parquet(os.path.join(tmpdir, f"{name}.parquet"), index=False)


def _materialize(tmpdir: str, events: pd.DataFrame, documents: pd.DataFrame) -> str:
    """Write the fuzzed tables + fixed sf0.001 copies of everything else."""
    for t in _TABLES:
        if t not in ("events", "documents"):
            shutil.copy(os.path.join(_SF0001, f"{t}.parquet"), os.path.join(tmpdir, f"{t}.parquet"))
    _write_table(tmpdir, "events", events)
    _write_table(tmpdir, "documents", documents)
    return tmpdir


def _check_parity(spark, sf_dir: str, names: list[str]) -> None:
    queries, oracles = _registry()
    con = duckdb.connect()
    try:
        for t in _TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            sdf = queries[name](spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).fetchdf()
            scols, srows = normalize(sdf)
            ocols, orows = normalize(odf)
            assert scols == ocols, f"{name}: column mismatch {scols} vs {ocols}"
            assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
            assert srows == orows, f"{name}: value mismatch\nspark={srows[:5]}\noracle={orows[:5]}"
    finally:
        con.close()


# SPARK_GRAFT_FUZZ_ONLY=q_a,q_b restricts every pool to the named queries —
# the per-batch targeted soak (new operators get a concentrated example
# budget instead of a diluted share of the ~200-query pools).
_ONLY = {q for q in os.environ.get("SPARK_GRAFT_FUZZ_ONLY", "").split(",") if q}
if _ONLY:
    EVENT_QUERIES = [q for q in EVENT_QUERIES if q in _ONLY]
    DOC_QUERIES = [q for q in DOC_QUERIES if q in _ONLY]

# One Spark query ≈ 0.3-1.5 s on the 4-cpu pytest session; 10 queries per
# example × 3 examples keeps the suite's fuzz cost ~1 min while still
# exploring shapes the fixed fixtures can't. derandomize pins CI stability;
# crank max_examples locally when hunting (see docs/EVIDENCE.md).
_FUZZ_SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "3")),
    deadline=None,
    derandomize="SPARK_GRAFT_FUZZ_EXAMPLES" not in os.environ,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@settings(**_FUZZ_SETTINGS)
@given(
    events=_events_frame(),
    documents=_documents_frame(),
    picks=st.permutations(EVENT_QUERIES + DOC_QUERIES),
)
def test_random_tables_match_duckdb_oracles(spark, tmp_path_factory, events, documents, picks):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_sf"))
    _materialize(tmpdir, events, documents)
    _check_parity(spark, tmpdir, list(picks[:10]))


# Standing unicode fuzz dimension (r9 judge task #6): the r9 payload-contract
# bug (char/byte divergence in text->bytes builders) was latent for six
# rounds because every fixture AND this file's WORDS alphabet were pure
# ASCII. Any operator that ENCODES text to bytes — md5/hash on
# encode(UTF-8), shingle signatures, fingerprints — plus the
# unicode-sensitive audits now fuzzes over a mixed-unicode corpus by
# default: accented Latin (2-byte), CJK (3-byte), emoji (4-byte), Cyrillic/
# Greek, and an all-multibyte token whose ASCII projection is empty.
UNICODE_WORDS = WORDS + [
    "café", "naïve", "über", "résumé",          # 2-byte Latin
    "日本語", "中文", "데이터",                    # 3-byte CJK/Hangul
    "\U0001f600", "x\U0001f680y",               # 4-byte emoji, embedded
    "данные", "αβγ",                            # Cyrillic, Greek
    "ééé中文",                                   # all-multibyte
]

# Queries whose Spark side hashes/encodes document text (or audits its
# byte/codepoint structure) — the class the r9 bug lived in.
ENCODE_QUERIES = [
    "q_dedup_text_exact", "q_doc_fingerprint", "q_minhash_dedup",
    "q_simhash_dedup", "q_ngram_jaccard", "q_ngram_containment",
    "q_winnowing_fingerprint", "q_hashed_features", "q_set_similarity_join",
    "q_mojibake_audit", "q_code_switch_audit", "q_text_normalize",
    # round-10: the GIF builder shares the text->payload ASCII projection
    "q_multimodal_gif",
]
if _ONLY:
    ENCODE_QUERIES = [q for q in ENCODE_QUERIES if q in _ONLY]


@st.composite
def _documents_frame_unicode(draw):
    n = draw(st.integers(min_value=8, max_value=25 * _SCALE))
    texts = draw(
        st.lists(
            st.lists(st.sampled_from(UNICODE_WORDS), min_size=0, max_size=40).map(" ".join),
            min_size=n,
            max_size=n,
        )
    )
    langs = draw(st.lists(st.sampled_from(LANGS), min_size=n, max_size=n))
    srcs = draw(st.lists(st.sampled_from([f"src{i}" for i in range(5)]), min_size=n, max_size=n))
    return pd.DataFrame(
        {
            "doc_id": pd.array(range(n), dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": srcs,
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )


@settings(**_FUZZ_SETTINGS)
@given(
    events=_events_frame(),
    documents=_documents_frame_unicode(),
    picks=st.permutations(ENCODE_QUERIES),
)
def test_unicode_documents_match_duckdb_oracles(spark, tmp_path_factory, events, documents, picks):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_unicode"))
    _materialize(tmpdir, events, documents)
    _check_parity(spark, tmpdir, list(picks[:6]))


# Streaming twins over the events/documents streams (file source on the
# fuzz dir). Each drains bounded state via AvailableNow and shares its
# oracle with the batch twin, so this fuzzes the state-machine front half —
# out-of-order arrival, duplicate keys/days across micro-batches — that the
# fixed fixtures exercise only at one shape. Kept to the cheap twins
# (~3-6 s each); 3 sampled per example.
STREAMING_QUERIES = [
    "q_streaming_tumbling", "q_streaming_dedup", "q_streaming_session",
    "q_streaming_sliding", "q_streaming_funnel", "q_streaming_weekday_profile",
    "q_streaming_retention", "q_streaming_active_users",
    "q_streaming_cms", "q_streaming_bloom", "q_streaming_entropy",
    "q_streaming_dsir", "q_streaming_hll", "q_streaming_wasserstein",
    "q_streaming_srm", "q_streaming_kmv", "q_streaming_holt",
    "q_streaming_seasonal", "q_streaming_ccf", "q_streaming_growth",
    "q_streaming_xmr", "q_streaming_mann_kendall", "q_streaming_runs",
    "q_streaming_welch",
    "q_streaming_kruskal", "q_streaming_anova", "q_streaming_cramers",
    "q_streaming_holt_winters", "q_streaming_sax",
    # round-9 twins over the daily state
    "q_streaming_jarque_bera", "q_streaming_cox_stuart", "q_streaming_bollinger",
    "q_streaming_durbin_watson", "q_streaming_rsi", "q_streaming_jonckheere",
    # the applyInPandasWithState production bar state (streaming/ohlc.py)
    "q_streaming_ohlc",
    # round-9 wave 2: the vocab-state Zipf twin + the live hybrid-retrieval
    # twin (hit-doc BM25 statistics state + sentinel corpus row)
    "q_streaming_zipf", "q_streaming_rrf",
    # round-10 twins: daily-state MACD/A-D/Theta + doc-counter CvM/blocklist
    "q_streaming_macd", "q_streaming_anderson", "q_streaming_theta",
    "q_streaming_cvm", "q_streaming_blocklist",
    # round-10 wave 2 twins over the daily state
    "q_streaming_grubbs", "q_streaming_pacf", "q_streaming_chow",
]


@settings(**_FUZZ_SETTINGS)
@given(events=_events_frame(), documents=_documents_frame(), picks=st.permutations(STREAMING_QUERIES))
def test_random_events_match_streaming_twins(spark, tmp_path_factory, events, documents, picks):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_stream"))
    _materialize(tmpdir, events, documents)
    _check_parity(spark, tmpdir, list(picks[:3]))


# Queries whose Spark side reads ONLY orders/customer/lineitem (verified by
# source scan) — the relational/TPC-H surface plus the graph/iterative
# algorithms (cheap at fuzz scale: the tables are ≤70 rows).
TPCH_QUERIES = [
    "q_group_agg", "q_join_orders_customer", "q_semi_anti", "q_topk",
    "q_distinct", "q_rank_window", "q_exact_percentile", "q_rollup",
    "q_salted_join", "q_map_project", "q_filter_predicate", "q_sink_fold_sum",
    "q_take_limit", "q_cube", "q_hash_sample", "q_analytic_distribution",
    "q_stats_agg", "q_robust_stats_mad", "q_winsorize", "q_integrity_audit",
    "q_skew_report", "q_rfm_segmentation", "q_interval_join",
    "q_target_encoding", "q_tpch_q1", "q_tpch_q3", "q_tpch_q4", "q_tpch_q6",
    "q_tpch_q13", "q_tpch_q18", "q_tpch_q22",
    "q_pagerank", "q_densest_subgraph", "q_triangle_count",
    "q_market_basket", "q_table_profile", "q_benford_audit",
    "q_gini_concentration", "q_link_prediction", "q_degree_assortativity",
    "q_adamic_adar",
    "q_mix_shift", "q_hill_tail_index", "q_lorenz_curve",
    "q_xyz_classification", "q_encoding_advisor", "q_price_elasticity",
    "q_k_core",
    "q_abc_xyz_matrix", "q_price_index",
    # round-9: the base-4 bracket-narrowing rewrite put the bisection
    # invariant under random lineitem shapes, plus the pricing/stocking trio
    "q_bisect_median", "q_vwap", "q_newsvendor", "q_promo_uplift",
]

ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAG = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
MKTSEGMENT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

_EPOCH_1995 = 788_918_400  # 1995-01-01, start of the fixtures' date domain


def _days(draw, n, span_days=2400):
    offs = draw(st.lists(st.integers(0, span_days), min_size=n, max_size=n))
    return pd.to_datetime([(_EPOCH_1995 + d * 86_400) * 1000 for d in offs], unit="ms")


@st.composite
def _customer_frame(draw):
    n = draw(st.integers(min_value=8, max_value=20 * _SCALE))
    return pd.DataFrame(
        {
            "c_custkey": pd.array(range(n), dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pd.array(draw(st.lists(st.integers(0, 24), min_size=n, max_size=n)), dtype="int32"),
            "c_acctbal": [round(v, 2) for v in draw(st.lists(st.floats(-1000, 10_000, allow_nan=False, allow_infinity=False), min_size=n, max_size=n))],
            "c_mktsegment": draw(st.lists(st.sampled_from(MKTSEGMENT), min_size=n, max_size=n)),
        }
    )


@st.composite
def _orders_frame(draw, n_cust):
    n = draw(st.integers(min_value=15, max_value=40 * _SCALE))
    return pd.DataFrame(
        {
            "o_orderkey": pd.array(range(n), dtype="int64"),
            # +3: dangling custkeys — referential integrity is NOT assumed,
            # so anti-joins and outer reconciles see genuine orphans
            "o_custkey": pd.array(draw(st.lists(st.integers(0, n_cust + 3), min_size=n, max_size=n)), dtype="int64"),
            "o_orderstatus": draw(st.lists(st.sampled_from(ORDER_STATUS), min_size=n, max_size=n)),
            "o_totalprice": [round(v, 2) for v in draw(st.lists(st.floats(1000, 500_000, allow_nan=False, allow_infinity=False), min_size=n, max_size=n))],
            "o_orderdate": _days(draw, n),
            "o_orderpriority": draw(st.lists(st.sampled_from(ORDER_PRIORITY), min_size=n, max_size=n)),
        }
    )


@st.composite
def _lineitem_frame(draw, n_orders):
    n = draw(st.integers(min_value=25, max_value=70 * _SCALE))
    return pd.DataFrame(
        {
            "l_orderkey": pd.array(draw(st.lists(st.integers(0, n_orders + 2), min_size=n, max_size=n)), dtype="int64"),
            "l_partkey": pd.array(draw(st.lists(st.integers(0, 199), min_size=n, max_size=n)), dtype="int64"),
            "l_suppkey": pd.array(draw(st.lists(st.integers(0, 9), min_size=n, max_size=n)), dtype="int64"),
            "l_linenumber": pd.array(draw(st.lists(st.integers(1, 7), min_size=n, max_size=n)), dtype="int32"),
            "l_quantity": [float(q) for q in draw(st.lists(st.integers(1, 50), min_size=n, max_size=n))],
            "l_extendedprice": [round(v, 2) for v in draw(st.lists(st.floats(900, 105_000, allow_nan=False, allow_infinity=False), min_size=n, max_size=n))],
            "l_discount": [d / 100 for d in draw(st.lists(st.integers(0, 10), min_size=n, max_size=n))],
            "l_tax": [t / 100 for t in draw(st.lists(st.integers(0, 8), min_size=n, max_size=n))],
            "l_returnflag": draw(st.lists(st.sampled_from(RETURNFLAG), min_size=n, max_size=n)),
            "l_linestatus": draw(st.lists(st.sampled_from(LINESTATUS), min_size=n, max_size=n)),
            "l_shipdate": _days(draw, n),
        }
    )


@st.composite
def _tpch_triple(draw):
    customer = draw(_customer_frame())
    orders = draw(_orders_frame(n_cust=len(customer)))
    lineitem = draw(_lineitem_frame(n_orders=len(orders)))
    return customer, orders, lineitem


# Queries whose Spark side reads ONLY the embeddings table (verified by
# source scan), all oracle-declared. Top-k shapes are tie-broken by vec_id
# in both engines, so random vectors cannot flicker the frontier.
EMBEDDING_QUERIES = [
    "q_embedding_quantize", "q_batch_ann", "q_kmeans", "q_pca_top_component",
    "q_hard_negatives", "q_pq_codes", "q_embedding_drift", "q_ann_recall",
    "q_ann_pq", "q_label_noise", "q_embedding_dedup", "q_cosine_topk",
    "q_srp_simhash",
    "q_ann_ivf", "q_ann_bucketed", "q_semantic_dedup", "q_random_projection",
    "q_jl_recall", "q_embedding_norm_audit", "q_nearest_centroid",
    "q_silhouette",
    "q_embedding_discrimination", "q_ivf_nprobe_curve", "q_ndcg_eval",
    "q_matryoshka",
    # round-10: diversified re-rank + per-probe retrieval eval
    "q_mmr_rerank", "q_mrr_eval",
]
if _ONLY:
    STREAMING_QUERIES = [q for q in STREAMING_QUERIES if q in _ONLY]
    TPCH_QUERIES = [q for q in TPCH_QUERIES if q in _ONLY]
    EMBEDDING_QUERIES = [q for q in EMBEDDING_QUERIES if q in _ONLY]


@st.composite
def _embeddings_frame(draw):
    import numpy as np

    n = draw(st.integers(min_value=12, max_value=30 * _SCALE))
    dim = 64  # the fixtures' embedding width; PQ subspace math assumes it
    # n*dim drawn ints would exceed Hypothesis's list-size cap at deep
    # SPARK_GRAFT_FUZZ_SCALE — draw one seed and expand it deterministically
    seed = draw(st.integers(0, 2**31 - 1))
    flat = np.random.default_rng(seed).integers(-1000, 1001, size=(n, dim))
    vecs = []
    for i in range(n):
        row = [v / 1000 for v in flat[i]]
        # pin a nonzero first component: zero-norm vectors are outside the
        # embedding contract (cosine denominators divide by the norm)
        if abs(row[0]) < 0.1:
            row[0] = 0.5
        vecs.append(np.asarray(row, dtype=np.float32))
    labels = draw(st.lists(st.integers(0, 9), min_size=n, max_size=n))
    return pd.DataFrame(
        {
            "vec_id": pd.array(range(n), dtype="int64"),
            "embedding": vecs,
            "label": pd.array(labels, dtype="int32"),
        }
    )


@settings(**_FUZZ_SETTINGS)
@given(embeddings=_embeddings_frame(), picks=st.permutations(EMBEDDING_QUERIES))
def test_random_embeddings_match_duckdb_oracles(spark, tmp_path_factory, embeddings, picks):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmpdir = str(tmp_path_factory.mktemp("fuzz_emb"))
    for t in _TABLES:
        if t != "embeddings":
            shutil.copy(os.path.join(_SF0001, f"{t}.parquet"), os.path.join(tmpdir, f"{t}.parquet"))
    # explicit float32 list schema — pandas would infer float64, and the
    # fixtures' column is FLOAT[]
    tbl = pa.Table.from_pydict(
        {
            "vec_id": pa.array(embeddings["vec_id"], type=pa.int64()),
            "embedding": pa.array([list(map(float, v)) for v in embeddings["embedding"]], type=pa.list_(pa.float32())),
            "label": pa.array(embeddings["label"], type=pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(tmpdir, "embeddings.parquet"))
    _check_parity(spark, tmpdir, list(picks[:6]))


@settings(**_FUZZ_SETTINGS)
@given(triple=_tpch_triple(), picks=st.permutations(TPCH_QUERIES))
def test_random_tpch_tables_match_duckdb_oracles(spark, tmp_path_factory, triple, picks):
    customer, orders, lineitem = triple
    tmpdir = str(tmp_path_factory.mktemp("fuzz_tpch"))
    for t in _TABLES:
        if t not in ("customer", "orders", "lineitem"):
            shutil.copy(os.path.join(_SF0001, f"{t}.parquet"), os.path.join(tmpdir, f"{t}.parquet"))
    _write_table(tmpdir, "customer", customer)
    _write_table(tmpdir, "orders", orders)
    _write_table(tmpdir, "lineitem", lineitem)
    _check_parity(spark, tmpdir, list(picks[:10]))


# Q1's shipdate cutoff, 1998-09-02, in days after _EPOCH_1995.
_Q1_CUTOFF_DAYS = 1340


def _duckdb_rounds_half_cent_down(s: int) -> bool:
    """``round(s / 10000.0, 2)`` sits on a half-cent, and DuckDB's double
    round — ``round(x * 100) / 100`` — sends it down while rounding the
    decimal ``s / 10000`` half-up sends it up."""
    return s % 100 == 50 and (s / 10000.0) * 100.0 < s / 100.0


@st.composite
def _half_cent_lineitem_frame(draw):
    """lineitem whose every (l_returnflag, l_linestatus) group has a
    discounted-cents sum ``sum(cents(price) * (100 - pct(discount)))``
    ending in 50 at a half-cent DuckDB rounds down: the ``sum_disc_price``
    tie of q_tpch_q1 and q_group_agg. Every row passes Q1's date filter."""
    groups = draw(
        st.lists(st.sampled_from([(f, s) for f in RETURNFLAG for s in LINESTATUS]), min_size=1, max_size=6, unique=True)
    )
    cents, pcts, keys = [], [], []
    for key in groups:
        k = draw(st.integers(0, 6 * _SCALE))
        c = draw(st.lists(st.integers(90_000, 10_500_000), min_size=k, max_size=k))
        p = draw(st.lists(st.integers(0, 10), min_size=k, max_size=k))
        s = sum(ci * (100 - pi) for ci, pi in zip(c, p))
        # Two closing rows make the group sum exactly a target t: cents b at
        # a 1% discount (b * 99 = -b mod 100 sets the residue) and cents a at
        # none (any multiple of 100). Only about 6% of sums ending in 50 round
        # down in DuckDB, and none do in stretches where x * 100 lands in a
        # binade whose ulp is 128x that of x, so t is drawn at random from a
        # range spanning several binades.
        rng = random.Random(draw(st.integers(0, 2**32 - 1)))
        lo = (s + 18_000_000) // 100
        tries = ((lo + rng.randrange(20_000_000)) * 100 + 50 for _ in range(10_000))
        t = next(t for t in tries if _duckdb_rounds_half_cent_down(t))
        b = 90_000 + (s - t) % 100
        cents += c + [b, (t - s - 99 * b) // 100]
        pcts += p + [1, 0]
        keys += [key] * (k + 2)
    n = len(cents)
    return pd.DataFrame(
        {
            "l_orderkey": pd.array(range(n), dtype="int64"),
            "l_partkey": pd.array(draw(st.lists(st.integers(0, 199), min_size=n, max_size=n)), dtype="int64"),
            "l_suppkey": pd.array(draw(st.lists(st.integers(0, 9), min_size=n, max_size=n)), dtype="int64"),
            "l_linenumber": pd.array([1] * n, dtype="int32"),
            "l_quantity": [float(q) for q in draw(st.lists(st.integers(1, 50), min_size=n, max_size=n))],
            "l_extendedprice": [c / 100 for c in cents],
            "l_discount": [p / 100 for p in pcts],
            "l_tax": [t / 100 for t in draw(st.lists(st.integers(0, 8), min_size=n, max_size=n))],
            "l_returnflag": [f for f, _ in keys],
            "l_linestatus": [s for _, s in keys],
            "l_shipdate": _days(draw, n, span_days=_Q1_CUTOFF_DAYS),
        }
    )


@settings(**_FUZZ_SETTINGS)
@given(lineitem=_half_cent_lineitem_frame())
def test_half_cent_sums_match_duckdb_oracles(spark, tmp_path_factory, lineitem):
    tmpdir = str(tmp_path_factory.mktemp("fuzz_half_cent"))
    for t in _TABLES:
        if t != "lineitem":
            shutil.copy(os.path.join(_SF0001, f"{t}.parquet"), os.path.join(tmpdir, f"{t}.parquet"))
    _write_table(tmpdir, "lineitem", lineitem)
    _check_parity(spark, tmpdir, ["q_tpch_q1", "q_group_agg"])
