"""Consolidated driver-facing query panels.

The driver contract's correctness gate records at most 50 ``queries()``
entries, so the contract exports a CONSOLIDATED view: every fine-grained
query stays registered (tests and ``tools/check_queries.py --full``
verify each one individually), and same-family queries are additionally
unioned into tagged PANELS so the exported surface stays well under the
cap.

A panel is a UNION ALL of its parts over the superset of their output
columns: each part's rows carry a ``probe`` tag naming the operator, and
columns a part doesn't produce are NULL of the panel type. The panel's
DuckDB oracle is built the same way from the parts' oracles, so the
driver's rows+schema+value-hash comparison verifies every part's values
exactly as before — one panel row set is the disjoint union of the
part row sets, tag included.

The builder is declarative: ``PANEL_SPECS`` maps each panel to
(columns, parts); nothing about any operator's implementation changes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkextract.queries.base import ORACLE_SQL, SPARK_QUERIES

# panel column type names, Spark -> DuckDB
_DUCK_TYPES = {
    "string": "VARCHAR",
    "long": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
}

# a panel column a part does not produce is filled with a typed SENTINEL,
# not NULL: the driver's value-hash implementation is a black box, and a
# row sort that compares NULL against a number is a crash in plain
# Python — sentinels are deterministic, identical on both engines, and
# unambiguous because every row carries its probe tag
_SENTINEL = {
    "string": ("''", ""),
    "long": ("CAST(-1 AS BIGINT)", -1),
    "int": ("CAST(-1 AS INTEGER)", -1),
    "double": ("CAST(-1.0 AS DOUBLE)", -1.0),
    "boolean": ("FALSE", False),
}

# name: (columns [(name, type)], parts [(probe tag, fine query name,
# {panel col: source col})]). Unmapped panel columns are NULL.
PANEL_SPECS: dict[str, tuple[list[tuple[str, str]], list[tuple[str, str, dict]]]] = {
    # J1/D6 family: every near-dup pair join, one row set per method,
    # plus the containment relation. score = jaccard / cosine / hamming
    # per the probe (exact pairs carry no score).
    "panel_dup_pairs": (
        [("left_id", "long"), ("right_id", "long"), ("score", "double"),
         ("n_shared_keys", "long"), ("jaccard_u", "long"),
         ("edit_dist", "long"), ("sim_u", "long"), ("n_union", "long"),
         ("c_left", "double"), ("c_right", "double"), ("relation", "string")],
        [
            ("sorted_neighborhood", "q194_sorted_neighborhood",
             {"left_id": "left_id", "right_id": "right_id",
              "n_shared_keys": "n_common", "n_union": "n_union",
              "jaccard_u": "jac_u"}),
            ("edit_distance", "q146_edit_distance_near_dup",
             {"left_id": "left_id", "right_id": "right_id",
              "edit_dist": "edit_dist", "sim_u": "sim_u"}),
            ("bitext_blocked", "q139_bitext_candidates",
             {"left_id": "left_id", "right_id": "right_id",
              "n_shared_keys": "n_shared_keys", "jaccard_u": "jaccard_u"}),
            ("exact_hash", "q13_dup_pairs_selfjoin",
             {"left_id": "left_id", "right_id": "right_id"}),
            ("ngram_jaccard", "q20_jaccard_neighbors",
             {"left_id": "left_id", "right_id": "right_id", "score": "jaccard"}),
            ("lsh_bucket16", "q34_lsh_near_dup_join",
             {"left_id": "left_id", "right_id": "right_id", "score": "cosine"}),
            ("lsh_banded", "q53_banded_lsh_near_dup",
             {"left_id": "left_id", "right_id": "right_id", "score": "cosine"}),
            ("simhash_hamming", "q68_simhash_near_dup",
             {"left_id": "left_id", "right_id": "right_id", "score": "hamming"}),
            ("containment", "q124_containment_dedup",
             {"left_id": "left_id", "right_id": "right_id", "c_left": "c_left",
              "c_right": "c_right", "relation": "relation"}),
        ],
    ),
    # D4/D6 clusters: pair output -> connected components (label
    # propagation and two-phase) -> survivors (min-id and quality-aware),
    # the keyed cluster variants (exact content-hash, minhash band,
    # canonical URL), soft-dedup weights, neighbour quality and the dedup
    # ROI curve.
    "panel_dup_clusters": (
        [("vec_id", "long"), ("component", "long"), ("cluster_size", "long"),
         ("survivor_id", "long"), ("is_survivor", "boolean"),
         ("group_key", "string"), ("n_raw_forms", "long"), ("n_in", "long"),
         ("sum_src_logit_u", "long"), ("mean_src_logit_u", "long"),
         ("low_quality_neighborhood", "boolean"), ("source", "string"),
         ("n_docs", "long"), ("n_dup_docs", "long"), ("raw_tokens", "long"),
         ("eff_tokens_u", "long"), ("keeper_quality", "long"),
         ("best_logit_u", "long"), ("differs", "boolean"), ("rank", "long"),
         ("removable_chars", "long"), ("cum_removable", "long"),
         ("total_chars", "long"), ("cum_saved_frac_u", "long")],
        [
            ("quality_survivor", "q162_quality_survivor",
             {"group_key": "sig0", "cluster_size": "cluster_size",
              "survivor_id": "keeper_min_id",
              "keeper_quality": "keeper_quality",
              "best_logit_u": "best_logit_u", "differs": "differs"}),
            ("soft_dedup", "q159_soft_dedup_weights",
             {"source": "source", "n_docs": "n_docs",
              "n_dup_docs": "n_dup_docs", "raw_tokens": "raw_tokens",
              "eff_tokens_u": "eff_tokens_u"}),
            ("neighbor_quality", "q152_neighbor_quality",
             {"vec_id": "node", "n_in": "n_in",
              "sum_src_logit_u": "sum_src_logit_u",
              "mean_src_logit_u": "mean_src_logit_u",
              "low_quality_neighborhood": "low_quality_neighborhood"}),
            ("url_canonical", "q149_url_canonicalize",
             {"group_key": "canonical_url", "cluster_size": "n_docs",
              "survivor_id": "first_doc", "n_raw_forms": "n_raw_forms"}),
            ("components", "q71_dup_components",
             {"vec_id": "vec_id", "component": "component",
              "cluster_size": "cluster_size"}),
            ("dedup_roi", "q211_dedup_roi_curve",
             {"rank": "rank", "group_key": "ckey",
              "cluster_size": "cluster_size",
              "removable_chars": "removable_chars",
              "cum_removable": "cum_removable",
              "total_chars": "total_chars",
              "cum_saved_frac_u": "cum_saved_frac_u"}),
            ("two_phase_cc", "q165_two_phase_cc",
             {"vec_id": "doc_id", "component": "component",
              "cluster_size": "cluster_size"}),
            ("survivors", "q72_dup_survivors",
             {"vec_id": "vec_id", "survivor_id": "survivor_id",
              "is_survivor": "is_survivor"}),
            ("exact_hash_clusters", "q11_dedup_exact",
             {"group_key": "content_hash", "cluster_size": "cluster_size",
              "survivor_id": "keeper_doc_id"}),
            ("minhash_clusters", "q38_minhash_clusters",
             {"group_key": "sig0", "cluster_size": "cluster_size",
              "survivor_id": "keeper_doc_id"}),
        ],
    ),
    # quality family: weighted score (source-grain), per-doc rule and LM
    # gates, token entropy, the linear quality classifier, the Kneser-Ney
    # bigram cross-entropy, and the classifier's evaluation (ROC-AUC, PR
    # sweep, calibration, kappa, filter disparity, Pareto frontier).
    "panel_quality": (
        [("source", "string"), ("avg_quality", "double"), ("n_good", "long"),
         ("doc_id", "long"), ("n_words", "long"), ("n_distinct", "long"),
         ("diversity", "double"), ("mean_word_len", "double"),
         ("reject_reason", "string"), ("keep", "boolean"), ("lang", "string"),
         ("n_docs", "long"), ("n_bigrams", "long"),
         ("n_distinct_bigrams", "long"), ("dup_frac", "double"),
         ("top_word_frac", "double"), ("avg_logp", "double"),
         ("entropy", "double"), ("n_stop", "long"), ("logit_u", "long"),
         ("n_pos", "long"), ("n_neg", "long"), ("n_bins", "long"),
         ("auc_u", "long"), ("threshold_u", "long"), ("tp", "long"),
         ("fp", "long"), ("fn", "long"), ("precision_u", "long"),
         ("recall_u", "long"), ("f1_u", "long"), ("keep_rate_u", "long"),
         ("gini_u", "long"), ("range_u", "long"), ("n00", "long"),
         ("n01", "long"), ("n10", "long"), ("n11", "long"), ("po_u", "long"),
         ("pe_u", "long"), ("kappa_u", "long"), ("y_max", "long"),
         ("frontier", "boolean"), ("bin_b", "int"), ("conf_u", "long"),
         ("acc_u", "long"), ("gap_u", "long"), ("ece_u", "long"),
         ("xent", "double")],
        [
            ("kneser_ney", "q189_kneser_ney_lm",
             {"doc_id": "doc_id", "n_bigrams": "n_bigrams",
              "xent": "xent"}),
            ("pareto_frontier", "q155_pareto_frontier",
             {"lang": "lang", "n_distinct": "x", "y_max": "y_max",
              "n_docs": "n_docs", "frontier": "frontier"}),
            ("calibration_ece", "q157_calibration_ece",
             {"bin_b": "b", "n_docs": "n_b", "n_pos": "pos_b",
              "conf_u": "conf_u", "acc_u": "acc_u", "gap_u": "gap_u",
              "ece_u": "ece_u"}),
            ("detector_kappa", "q151_detector_kappa",
             {"n_docs": "n", "n00": "n00", "n01": "n01", "n10": "n10",
              "n11": "n11", "po_u": "po_u", "pe_u": "pe_u",
              "kappa_u": "kappa_u"}),
            ("filter_disparity", "q148_filter_disparity",
             {"source": "source", "n_docs": "n_docs", "n_good": "n_keep",
              "keep_rate_u": "keep_rate_u", "gini_u": "gini_u",
              "range_u": "range_u"}),
            ("weighted_score", "q25_quality_score",
             {"source": "source", "avg_quality": "avg_quality",
              "n_good": "n_good"}),
            ("rule_cascade", "q75_quality_rules",
             {"doc_id": "doc_id", "n_words": "n_words",
              "n_distinct": "n_distinct", "diversity": "diversity",
              "mean_word_len": "mean_word_len",
              "reject_reason": "reject_reason", "keep": "keep"}),
            ("repetition_rules", "q84_repetition_rules",
             {"doc_id": "doc_id", "n_bigrams": "n_bigrams",
              "n_distinct_bigrams": "n_distinct_bigrams",
              "dup_frac": "dup_frac", "top_word_frac": "top_word_frac",
              "keep": "keep", "reject_reason": "reject_reason"}),
            ("lm_score", "q87_lm_quality_score",
             {"doc_id": "doc_id", "n_bigrams": "n_bigrams",
              "avg_logp": "avg_logp", "keep": "keep"}),
            ("token_entropy", "q130_token_entropy",
             {"doc_id": "doc_id", "n_words": "n_tokens",
              "n_distinct": "n_types", "entropy": "entropy",
              "keep": "keep"}),
            ("classifier", "q135_quality_classifier",
             {"doc_id": "doc_id", "n_words": "n_tokens",
              "n_stop": "n_stop", "logit_u": "logit_u", "keep": "keep"}),
            ("roc_auc", "q137_roc_auc",
             {"n_pos": "n_pos", "n_neg": "n_neg", "n_bins": "n_bins",
              "auc_u": "auc_u"}),
            ("pr_thresholds", "q138_pr_thresholds",
             {"threshold_u": "threshold_u", "tp": "tp", "fp": "fp",
              "fn": "fn", "precision_u": "precision_u",
              "recall_u": "recall_u", "f1_u": "f1_u"}),
        ],
    ),
    # D4/F13 signature tables (64-bit simhash; 4-band minhash) and the
    # AMS / AGMS join-size sketches.
    "panel_signatures": (
        [("doc_id", "long"), ("simhash", "long"), ("sig0", "string"),
         ("sig1", "string"), ("sig2", "string"), ("sig3", "string"),
         ("n_rows", "long"), ("n_keys", "long"), ("exact_f2", "long"),
         ("est_f2", "long"), ("ratio_u", "long"), ("n_orders", "long"),
         ("n_lineitem", "long"), ("exact_join_size", "long"),
         ("est_join_size", "long")],
        [
            ("agms_join_size", "q175_agms_join_size",
             {"n_orders": "n_orders", "n_lineitem": "n_lineitem",
              "exact_join_size": "exact_join_size",
              "est_join_size": "est_join_size", "ratio_u": "ratio_u"}),
            ("ams_f2", "q174_ams_f2_join_size",
             {"n_rows": "n_rows", "n_keys": "n_keys",
              "exact_f2": "exact_f2", "est_f2": "est_f2",
              "ratio_u": "ratio_u"}),
            ("simhash64", "q32_simhash", {"doc_id": "doc_id", "simhash": "simhash"}),
            ("minhash", "q19_minhash_signature",
             {"doc_id": "doc_id", "sig0": "sig0", "sig1": "sig1",
              "sig2": "sig2", "sig3": "sig3"}),
        ],
    ),
    # malformed-input semantics through real extraction.
    "panel_extract_edges": (
        [("doc_id", "string"), ("kind", "string"), ("text", "string"),
         ("offset", "int")],
        [
            ("unknown_kind", "q62_unknown_kind_fallback",
             {"doc_id": "doc_id", "kind": "kind", "text": "text", "offset": "offset"}),
            ("dup_offsets", "q63_duplicate_offsets",
             {"doc_id": "doc_id", "text": "text", "offset": "offset"}),
        ],
    ),
    # table + form capture through real extraction, pdf-layout and html.
    "panel_table_form": (
        [("doc_id", "string"), ("kind", "string"), ("text", "string"),
         ("offset", "int")],
        [
            ("pdf_layout", "q64_pdf_table_form",
             {"doc_id": "doc_id", "kind": "kind", "text": "text", "offset": "offset"}),
            ("html", "q65_html_table_form",
             {"doc_id": "doc_id", "kind": "kind", "text": "text", "offset": "offset"}),
        ],
    ),
    # cluster audits over the seed-centroid cells: simplified silhouette,
    # graph modularity, semantic dedup per cell and the Rand-index drift
    # between two clusterings.
    "panel_kmeans": (
        [("cell", "long"), ("vec_id", "long"), ("a_u", "long"),
         ("b_u", "long"), ("sil_u", "long"), ("n_nodes", "long"),
         ("deg_sum", "long"), ("e_within", "long"), ("m_edges", "long"),
         ("q_contrib", "double"), ("n_members", "long"), ("n_dups", "long"),
         ("n_survivors", "long"), ("n_points", "long"), ("n_cells", "long"),
         ("pairs_both", "long"), ("pairs_a", "long"), ("pairs_b", "long"),
         ("rand_index", "double")],
        [
            ("modularity", "q187_graph_modularity",
             {"cell": "cell", "n_nodes": "n_nodes", "deg_sum": "deg_sum",
              "e_within": "e_within", "m_edges": "m_edges",
              "q_contrib": "q_contrib"}),
            ("silhouette", "q131_simplified_silhouette",
             {"vec_id": "vec_id", "cell": "cell", "a_u": "a_u",
              "b_u": "b_u", "sil_u": "sil_u"}),
            ("semantic_dedup", "q110_semantic_dedup",
             {"cell": "cell", "n_members": "n_members", "n_dups": "n_dups",
              "n_survivors": "n_survivors"}),
            ("cluster_drift", "q120_cluster_drift",
             {"n_points": "n_points", "n_cells": "n_cells",
              "pairs_both": "pairs_both", "pairs_a": "pairs_a",
              "pairs_b": "pairs_b", "rand_index": "rand_index"}),
        ],
    ),
    # token and vocabulary statistics: fingerprint uniqueness per
    # language, Misra-Gries heavy hitters, KMV distinct counts, vocabulary
    # richness and growth, chi-square language drift, template profiles
    # the min-df pruning sweep, top-k vocabulary coverage and the Zipf
    # slope.
    "panel_token_lang_stats": (
        [("lang", "string"), ("n_docs", "long"), ("n_unique", "long"),
         ("total_tokens", "long"), ("token", "string"), ("source", "string"),
         ("n_prefixes", "long"), ("max_prefix_docs", "long"),
         ("template_share_u", "long"), ("est", "long"), ("exact", "long"),
         ("err", "long"), ("bound", "long"), ("within_bound", "boolean"),
         ("v_obs", "long"), ("f1", "long"), ("f2", "long"),
         ("chao1_u", "long"), ("p0_u", "long"), ("coverage_u", "long"),
         ("bucket", "long"), ("n_cum", "long"), ("v_cum", "long"),
         ("beta", "double"), ("o0", "long"), ("o1", "long"), ("e0", "double"),
         ("e1", "double"), ("chi2_lang", "double"), ("chi2_total", "double"),
         ("dof", "long"), ("part", "string"), ("n_exact", "long"),
         ("k_eff", "long"), ("kth_min", "long"), ("est_kmv", "double"),
         ("min_df", "long"), ("v_kept", "long"), ("v_total", "long"),
         ("mass_kept", "long"), ("m_total", "long"), ("v_kept_frac_u", "long"),
         ("mass_kept_frac_u", "long"), ("vocab_size", "long"),
         ("covered_tokens", "long"), ("coverage", "double"),
         ("n_points", "long"), ("zipf_slope", "double"),
         ("intercept", "double")],
        [
            ("df_pruning", "q209_df_pruning_advisor",
             {"min_df": "min_df", "v_kept": "v_kept",
              "v_total": "v_total", "mass_kept": "mass_kept",
              "m_total": "m_total", "v_kept_frac_u": "v_kept_frac_u",
              "mass_kept_frac_u": "mass_kept_frac_u"}),
            ("kmv_theta", "q196_kmv_theta_sketch",
             {"part": "part", "n_exact": "n_exact", "k_eff": "k_eff",
              "kth_min": "kth_min", "est_kmv": "est"}),
            ("chi_square_drift", "q193_chi_square_drift",
             {"lang": "lang", "o0": "o0", "o1": "o1", "e0": "e0",
              "e1": "e1", "chi2_lang": "chi2_lang",
              "chi2_total": "chi2_total", "dof": "dof"}),
            ("heaps_law", "q188_heaps_law",
             {"bucket": "bucket", "n_cum": "n_cum", "v_cum": "v_cum",
              "beta": "beta"}),
            ("vocab_richness", "q186_vocab_richness",
             {"lang": "lang", "v_obs": "v_obs", "total_tokens": "n_tokens",
              "f1": "f1", "f2": "f2", "chao1_u": "chao1_u",
              "p0_u": "p0_u", "coverage_u": "coverage_u"}),
            ("mg_heavy_hitters", "q179_misra_gries_heavy_hitters",
             {"token": "token", "est": "est", "exact": "exact",
              "err": "err", "bound": "bound",
              "within_bound": "within_bound"}),
            ("template_profile", "q160_template_prefix_profile",
             {"source": "source", "n_docs": "n_docs",
              "n_prefixes": "n_prefixes",
              "max_prefix_docs": "max_prefix_docs",
              "template_share_u": "template_share_u"}),
            ("fingerprint", "q21_fingerprint",
             {"lang": "lang", "n_docs": "n_docs", "n_unique": "n_unique"}),
            ("vocab_coverage", "q113_vocab_coverage",
             {"vocab_size": "vocab_size", "covered_tokens": "covered_tokens",
              "coverage": "coverage"}),
            ("zipf_slope", "q115_zipf_slope",
             {"n_points": "n_points", "zipf_slope": "zipf_slope",
              "intercept": "intercept"}),
        ],
    ),
    # document-profile statistics: confidence rollup, bootstrap interval,
    # KS / Mann-Whitney / CUSUM / Benford tests, winsorized means and the
    # cluster-sampling design effect.
    "panel_doc_profile": (
        [("lang", "string"), ("n_docs", "long"), ("avg_conf", "double"),
         ("min_conf", "double"), ("r", "long"), ("n_eff", "long"),
         ("boot_mean", "double"), ("ci_lo", "double"), ("ci_hi", "double"),
         ("v", "long"), ("cum_a", "long"), ("cum_b", "long"),
         ("gap_u", "long"), ("n_a", "long"), ("n_b", "long"),
         ("ks_u", "long"), ("ks_scaled", "double"), ("d", "long"),
         ("o", "long"), ("e_benford", "double"), ("chi2_d", "double"),
         ("dev_u", "long"), ("chi2_total", "double"), ("mad_u", "long"),
         ("verdict", "string"), ("rs2_a", "long"), ("u2_a", "long"),
         ("u2_b", "long"), ("tie_sum", "long"), ("z", "double"),
         ("p_lo", "long"), ("p_hi", "long"), ("mean_plain", "double"),
         ("mean_winsor", "double"), ("mean_trim", "double"),
         ("n_clamped", "long"), ("bucket", "long"), ("cusum_n", "long"),
         ("mean_u", "long"), ("mu0_u", "long"), ("s_up", "long"),
         ("s_dn", "long"), ("h_u", "long"), ("alarm", "boolean"),
         ("n_sources", "long"), ("m_bar", "double"), ("sst", "double"),
         ("ssb", "double"), ("rho", "double"), ("deff", "double")],
        [
            ("design_effect", "q215_design_effect",
             {"n_sources": "n_sources", "n_docs": "n_docs",
              "m_bar": "m_bar", "sst": "sst", "ssb": "ssb",
              "rho": "rho", "deff": "deff"}),
            ("cusum_drift", "q206_cusum_drift",
             {"bucket": "bucket", "cusum_n": "n", "mean_u": "mean_u",
              "mu0_u": "mu0_u", "s_up": "s_up", "s_dn": "s_dn",
              "h_u": "h_u", "alarm": "alarm"}),
            ("winsorized", "q204_winsorized_stats",
             {"lang": "lang", "n_docs": "n_docs", "p_lo": "p_lo",
              "p_hi": "p_hi", "mean_plain": "mean_plain",
              "mean_winsor": "mean_winsor", "mean_trim": "mean_trim",
              "n_clamped": "n_clamped"}),
            ("mann_whitney", "q203_mann_whitney_u",
             {"n_a": "n_a", "n_b": "n_b", "rs2_a": "rs2_a",
              "u2_a": "u2_a", "u2_b": "u2_b", "tie_sum": "tie_sum",
              "z": "z"}),
            ("benford", "q199_benford_audit",
             {"d": "d", "o": "o", "e_benford": "e", "chi2_d": "chi2_d",
              "dev_u": "dev_u", "chi2_total": "chi2_total",
              "mad_u": "mad_u", "verdict": "verdict"}),
            ("ks_two_sample", "q197_ks_two_sample",
             {"v": "v", "cum_a": "cum_a", "cum_b": "cum_b",
              "gap_u": "gap_u", "n_a": "n_a", "n_b": "n_b",
              "ks_u": "ks_u", "ks_scaled": "ks_scaled"}),
            ("poisson_bootstrap", "q191_poisson_bootstrap",
             {"r": "r", "n_eff": "n_eff", "boot_mean": "boot_mean",
              "ci_lo": "ci_lo", "ci_hi": "ci_hi"}),
            ("confidence", "q51_confidence_rollup",
             {"lang": "lang", "n_docs": "n_docs",
              "avg_conf": "avg_conf", "min_conf": "min_conf"}),
        ],
    ),
    # event aggregates: event_type stats, JSON-props extraction,
    # gap-based sessionization, time-decayed popularity.
    "panel_event_stats": (
        [("event_type", "string"), ("n_events", "long"),
         ("sum_value", "double"), ("first_us", "long"), ("last_us", "long"),
         ("sum_k", "long"), ("n_high", "long"), ("user_id", "long"),
         ("session_seq", "long"), ("duration_us", "long"),
         ("decayed_mass", "double"), ("rank_raw", "long"),
         ("rank_decayed", "long"), ("rank_changed", "boolean")],
        [
            ("decayed_popularity", "q180_decayed_popularity",
             {"event_type": "event_type", "n_events": "n_events",
              "decayed_mass": "decayed_mass", "rank_raw": "rank_raw",
              "rank_decayed": "rank_decayed",
              "rank_changed": "rank_changed"}),
            ("type_stats", "q05_event_type_stats",
             {"event_type": "event_type", "n_events": "n_events",
              "sum_value": "sum_value", "first_us": "first_us", "last_us": "last_us"}),
            ("json_props", "q26_json_props",
             {"event_type": "event_type", "sum_k": "sum_k", "n_high": "n_high"}),
            ("sessionize", "q82_sessionize",
             {"user_id": "user_id", "session_seq": "session_seq",
              "n_events": "n_events", "first_us": "first_us",
              "last_us": "last_us", "duration_us": "duration_us"}),
        ],
    ),
    # multimodal binary-column family: featurize / dedup / frame-sample /
    # pseudo-OCR decode.
    "panel_media": (
        [("media_id", "string"), ("media_type", "string"),
         ("n_bytes", "long"), ("content_hash", "string"),
         ("decode_ok", "boolean"), ("feature_sum", "double"),
         ("frame_idx", "int"), ("n_frame_bytes", "int"),
         ("frame_hash", "string"), ("ocr_text", "string"),
         ("n_ocr_chars", "int")],
        [
            ("featurize", "q44_media_featurize",
             {"media_id": "media_id", "media_type": "media_type",
              "n_bytes": "n_bytes", "content_hash": "content_hash",
              "decode_ok": "decode_ok", "feature_sum": "feature_sum"}),
            ("dedup", "q45_media_dedup",
             {"media_id": "media_id", "content_hash": "content_hash",
              "n_bytes": "n_bytes"}),
            ("frames", "q59_frame_sample",
             {"media_id": "media_id", "frame_idx": "frame_idx",
              "n_frame_bytes": "n_frame_bytes", "frame_hash": "frame_hash"}),
            ("ocr", "q109_media_ocr",
             {"media_id": "media_id", "media_type": "media_type",
              "ocr_text": "ocr_text", "n_ocr_chars": "n_ocr_chars"}),
        ],
    ),
    # retrieval compositions: rerank top-k; full kNN->dedup->rerank->budget;
    # fusion, MMR, nDCG, rank agreement and mined hard negatives.
    "panel_retrieval": (
        [("vec_id", "long"), ("cosine", "double"), ("overlap", "int"),
         ("rerank_score", "double"), ("cum_chars", "long"),
         ("query_id", "long"), ("rnk", "long"), ("doc_id", "long"),
         ("r_bm25", "long"), ("r_tfidf", "long"), ("fused_units", "long"),
         ("step", "long"), ("rel_u", "long"), ("score_u", "long"),
         ("n_sample", "long"), ("n_pairs", "long"), ("concordant", "long"),
         ("discordant", "long"), ("ties", "long"), ("tau_u", "long"),
         ("dcg", "double"), ("idcg", "double"), ("ndcg_u", "long"),
         ("n_rel", "long"), ("neg_id", "long"), ("neg_label", "int")],
        [
            ("ndcg_eval", "q156_ndcg_eval",
             {"query_id": "query_id", "dcg": "dcg", "idcg": "idcg",
              "ndcg_u": "ndcg_u", "n_rel": "n_rel"}),
            ("rank_agreement", "q153_rank_agreement",
             {"n_sample": "n_sample", "n_pairs": "n_pairs",
              "concordant": "concordant", "discordant": "discordant",
              "ties": "ties", "tau_u": "tau_u"}),
            ("rerank_topk", "q55_rerank_topk",
             {"vec_id": "vec_id", "cosine": "cosine",
              "overlap": "overlap", "rerank_score": "rerank_score"}),
            ("pipeline", "q58_retrieval_pipeline",
             {"vec_id": "vec_id", "rerank_score": "rerank_score",
              "cum_chars": "cum_chars"}),
            ("rrf_fusion", "q127_rrf_fusion",
             {"query_id": "query_id", "rnk": "rnk", "doc_id": "doc_id",
              "r_bm25": "r_bm25", "r_tfidf": "r_tfidf",
              "fused_units": "fused_units"}),
            ("mmr_rerank", "q128_mmr_rerank",
             {"query_id": "query_id", "step": "step", "vec_id": "vec_id",
              "rel_u": "rel_u", "score_u": "score_u"}),
            ("hard_negatives", "q123_hard_negatives",
             {"query_id": "query_id", "neg_id": "neg_id",
              "neg_label": "neg_label", "cosine": "cosine", "rnk": "rnk"}),
        ],
    ),
    # event windows: rank-top-k per user; running cumulative sum;
    # watermark late events; sliding-window rate limits.
    "panel_event_windows": (
        [("user_id", "long"), ("event_id", "long"), ("value", "double"),
         ("rn", "long"), ("running_value", "double"), ("n_events", "long"),
         ("max_rate_60s", "long"), ("violates", "boolean"),
         ("event_type", "string"), ("n_on_time", "long"),
         ("n_late_accepted", "long"), ("n_dropped", "long"),
         ("max_lateness_us", "long")],
        [
            ("watermark_audit", "q183_watermark_late_events",
             {"event_type": "event_type", "n_events": "n_events",
              "n_on_time": "n_on_time",
              "n_late_accepted": "n_late_accepted",
              "n_dropped": "n_dropped",
              "max_lateness_us": "max_lateness_us"}),
            ("rate_limit", "q163_rate_limit_audit",
             {"user_id": "user_id", "n_events": "n_events",
              "max_rate_60s": "max_rate_60s", "violates": "violates"}),
            ("topk_per_user", "q06_topk_events_per_user",
             {"user_id": "user_id", "event_id": "event_id",
              "value": "value", "rn": "rn"}),
            ("running_sum", "q07_running_value",
             {"user_id": "user_id", "event_id": "event_id",
              "running_value": "running_value"}),
        ],
    ),
    # document windows: dense chunk index; cumulative char budget.
    "panel_doc_windows": (
        [("doc_id", "long"), ("source", "string"), ("offset", "long"),
         ("cum_chars", "long")],
        [
            ("chunk_index", "q09_chunk_index",
             {"doc_id": "doc_id", "source": "source", "offset": "offset"}),
            ("char_budget", "q08_context_budget",
             {"doc_id": "doc_id", "source": "source", "cum_chars": "cum_chars"}),
        ],
    ),
    # token index: corpus top-k tokens; PMI co-occurrence pairs;
    # posting-list encoding sizes.
    "panel_token_index": (
        [("token", "string"), ("freq", "long"), ("tok_b", "string"),
         ("pmi", "double"), ("universe", "long"), ("ef_bits", "long"),
         ("bitmap_bits", "long"), ("varint_bits", "long"),
         ("best_encoding", "string")],
        [
            ("posting_encoding", "q212_posting_encoding_advisor",
             {"token": "token", "freq": "df", "universe": "universe",
              "ef_bits": "ef_bits", "bitmap_bits": "bitmap_bits",
              "varint_bits": "varint_bits",
              "best_encoding": "best_encoding"}),
            ("pmi_pairs", "q88_pmi_cooccurrence",
             {"token": "tok_a", "tok_b": "tok_b", "freq": "df_ab",
              "pmi": "pmi"}),
            ("topk", "q23_token_topk", {"token": "token", "freq": "freq"}),
        ],
    ),
    # existence joins: anti (resume/skip) and semi (duplicate probe).
    "panel_filter_joins": (
        [("c_custkey", "long"), ("c_name", "string"),
         ("c_mktsegment", "string")],
        [
            ("anti", "q14_anti_join", {"c_custkey": "c_custkey", "c_name": "c_name"}),
            ("semi", "q15_semi_join",
             {"c_custkey": "c_custkey", "c_mktsegment": "c_mktsegment"}),
        ],
    ),
    # embedding diagnostics: LSH bucket histogram; per-label quality;
    # int8 quantization fidelity.
    "panel_embedding_stats": (
        [("bucket", "int"), ("label", "int"), ("n_vectors", "long"),
         ("min_vec_id", "long"), ("avg_l2", "double"),
         ("n_zero_components", "long"), ("vec_id", "long"),
         ("cos_quant", "double"), ("cos_exact", "double")],
        [
            ("lsh_hist", "q28_lsh_buckets",
             {"bucket": "bucket", "n_vectors": "n_vectors",
              "min_vec_id": "min_vec_id"}),
            ("label_quality", "q31_embedding_quality",
             {"label": "label", "n_vectors": "n_vectors", "avg_l2": "avg_l2",
              "n_zero_components": "n_zero_components"}),
            ("int8_quant", "q102_int8_quantization",
             {"vec_id": "vec_id", "label": "label",
              "cos_quant": "cos_quant", "cos_exact": "cos_exact"}),
        ],
    ),
    # keyed event dedup: priority keeper rows; distinct-key seen-set;
    # the applyInPandasWithState streaming dedup.
    "panel_event_dedup": (
        [("user_id", "long"), ("event_type", "string"), ("event_id", "long"),
         ("value", "double"), ("content_hash", "string"),
         ("doc_id", "string"), ("first_len", "int")],
        [
            ("priority_keeper", "q12_dedup_priority",
             {"user_id": "user_id", "event_type": "event_type",
              "event_id": "event_id", "value": "value"}),
            ("distinct_keys", "q48_distinct_keys",
             {"user_id": "user_id", "event_type": "event_type"}),
            ("streaming_stateful", "q145_streaming_stateful_dedup",
             {"content_hash": "content_hash", "doc_id": "doc_id",
              "first_len": "first_len"}),
        ],
    ),
    # reference-parity singles: form-field keyword grouping (F6),
    # cross-method positional comparison (J4), TF-IDF keyword extraction,
    # and the LLM-answer confidence heuristic (F8).
    "panel_round3": (
        [("field_group", "string"), ("n_fields", "long"), ("n_names", "long"),
         ("doc_id", "long"), ("similarity", "double"), ("agree", "boolean"),
         ("token", "string"), ("tf", "long"), ("tfidf", "double"),
         ("n_uncertain", "int"), ("n_hedge", "int"), ("n_certain", "int"),
         ("n_cite", "int"), ("answer_len", "long"), ("confidence", "double")],
        [
            ("field_groups", "q69_field_groups",
             {"field_group": "field_group", "n_fields": "n_fields",
              "n_names": "n_names"}),
            ("text_similarity", "q70_text_similarity",
             {"doc_id": "doc_id", "similarity": "similarity",
              "agree": "agree"}),
            ("tfidf_topk", "q73_tfidf_topk",
             {"doc_id": "doc_id", "token": "token", "tf": "tf",
              "tfidf": "tfidf"}),
            ("answer_confidence", "q74_answer_confidence",
             {"doc_id": "doc_id", "n_uncertain": "n_uncertain",
              "n_hedge": "n_hedge", "n_certain": "n_certain",
              "n_cite": "n_cite", "answer_len": "answer_len",
              "confidence": "confidence"}),
        ],
    ),
    # span-grain derived ops: sliding chunk windows, the full OCR-clean
    # chain, per-span confidence, winnowing fingerprints. doc_id is
    # stringified (two parts key by string doc ids, two by long).
    "panel_span_ops": (
        [("doc_id", "string"), ("offset", "int"), ("chunk_len", "int"),
         ("chunk_md5", "string"), ("clean_md5", "string"), ("n_words", "int"),
         ("conf", "double"), ("kind", "string"), ("confidence", "double"),
         ("n_fingerprints", "long"), ("fp_checksum", "long"),
         ("fp_min", "long")],
        [
            ("chunk_overlap", "q54_chunk_overlap",
             {"doc_id": "doc_id", "offset": "offset",
              "chunk_len": "chunk_len", "chunk_md5": "chunk_md5"}),
            ("ocr_clean", "q56_ocr_clean_chain",
             {"doc_id": "doc_id", "clean_md5": "clean_md5",
              "n_words": "n_words", "conf": "conf"}),
            ("span_confidence", "q66_span_confidence",
             {"doc_id": "doc_id", "kind": "kind", "offset": "offset",
              "confidence": "confidence"}),
            ("winnowing", "q67_winnowing_fingerprints",
             {"doc_id": "doc_id", "n_fingerprints": "n_fingerprints",
              "fp_checksum": "fp_checksum", "fp_min": "fp_min"}),
        ],
    ),
    # the extraction core through mapInPandas: span passthrough, kind
    # stats, mega-doc salt/split/reassemble, doc-grain assembly, and the
    # structured-streaming incremental drain (full-row checked against
    # the same passthrough expectation).
    "panel_extract_core": (
        [("doc_id", "string"), ("kind", "string"), ("text", "string"),
         ("media_ref", "string"), ("offset", "int"), ("n_spans", "long"),
         ("total_chars", "long"), ("n_media", "int"),
         ("first_kind", "string")],
        [
            ("passthrough", "q40_extract_passthrough",
             {"doc_id": "doc_id", "kind": "kind", "text": "text",
              "media_ref": "media_ref", "offset": "offset"}),
            ("kind_stats", "q41_extract_kind_stats",
             {"kind": "kind", "n_spans": "n_spans",
              "total_chars": "total_chars"}),
            ("mega_skew", "q42_extract_mega_skew",
             {"doc_id": "doc_id", "kind": "kind", "text": "text",
              "media_ref": "media_ref", "offset": "offset"}),
            ("assembled", "q43_extract_assembled",
             {"doc_id": "doc_id", "n_spans": "n_spans",
              "n_media": "n_media", "total_chars": "total_chars",
              "first_kind": "first_kind"}),
            ("streaming", "q108_streaming_incremental",
             {"doc_id": "doc_id", "kind": "kind", "text": "text",
              "media_ref": "media_ref", "offset": "offset"}),
        ],
    ),
    # relational headliners: TPC-H-style pricing summary, top revenue,
    # doc stats.
    "panel_relational": (
        [("l_returnflag", "string"), ("l_linestatus", "string"),
         ("sum_qty", "double"), ("sum_base_price", "double"),
         ("sum_disc_price", "double"), ("count_order", "long"),
         ("avg_qty", "double"), ("o_orderkey", "long"),
         ("o_orderpriority", "string"), ("revenue", "double"),
         ("lang", "string"), ("source", "string"), ("n_docs", "long"),
         ("total_chars", "long"), ("avg_chars", "double")],
        [
            ("pricing", "q01_pricing_summary",
             {"l_returnflag": "l_returnflag", "l_linestatus": "l_linestatus",
              "sum_qty": "sum_qty", "sum_base_price": "sum_base_price",
              "sum_disc_price": "sum_disc_price",
              "count_order": "count_order", "avg_qty": "avg_qty"}),
            ("top_revenue", "q02_top_revenue_orders",
             {"o_orderkey": "o_orderkey",
              "o_orderpriority": "o_orderpriority", "revenue": "revenue"}),
            ("doc_stats", "q04_doc_stats",
             {"lang": "lang", "source": "source", "n_docs": "n_docs",
              "total_chars": "total_chars", "avg_chars": "avg_chars"}),
        ],
    ),
    # text-analysis singles: page-marker concat, keyword-overlap scores.
    "panel_text": (
        [("source", "string"), ("paged_text", "string"), ("doc_id", "long"),
         ("overlap_score", "double")],
        [
            ("page_concat", "q35_page_concat",
             {"source": "source", "paged_text": "paged_text"}),
            ("keyword_overlap", "q36_keyword_overlap",
             {"doc_id": "doc_id", "overlap_score": "overlap_score"}),
        ],
    ),
    # contamination family: 13-gram eval-set decontamination, its Bloom-
    # and cuckoo-filter probe variants, and the sampled LSH
    # precision/recall eval.
    "panel_decontamination": (
        [("doc_id", "long"), ("n_kgrams", "long"), ("n_contam", "long"),
         ("contam_frac", "double"), ("keep", "boolean"), ("n_bloom", "long"),
         ("n_exact", "long"), ("n_false_pos", "long"), ("n_truth", "long"),
         ("n_candidates", "long"), ("n_hit", "long"), ("precision", "double"),
         ("recall", "double"), ("n_cuckoo", "long")],
        [
            ("cuckoo_probe", "q198_cuckoo_filter_probe",
             {"doc_id": "doc_id", "n_kgrams": "n_kgrams",
              "n_cuckoo": "n_cuckoo", "n_exact": "n_exact",
              "n_false_pos": "n_false_pos"}),
            ("ngram_13", "q91_ngram_decontamination",
             {"doc_id": "doc_id", "n_kgrams": "n_kgrams",
              "n_contam": "n_contam", "contam_frac": "contam_frac",
              "keep": "keep"}),
            ("bloom_probe", "q104_bloom_filter_probe",
             {"doc_id": "doc_id", "n_kgrams": "n_kgrams",
              "n_bloom": "n_bloom", "n_exact": "n_exact",
              "n_false_pos": "n_false_pos"}),
            ("lsh_eval", "q107_lsh_recall_eval",
             {"n_truth": "n_truth", "n_candidates": "n_candidates",
              "n_hit": "n_hit", "precision": "precision",
              "recall": "recall"}),
        ],
    ),
    # corpus-clean family: the end-to-end extract->quality->dedup
    # composition plus the block / exact-substring / CDC-chunk dedup, PII,
    # k-anonymity, span-merge, suffix-blocklist, watermark,
    # encoding-repair and secret-scan passes.
    "panel_corpus_clean": (
        [("doc_id", "long"), ("n_tokens", "long"), ("stage", "string"),
         ("survivor_id", "long"), ("n_blocks", "long"), ("n_kept", "long"),
         ("kept_frac", "double"), ("kept_text_md5", "string"),
         ("n_emails", "int"), ("n_phones", "int"), ("has_pii", "boolean"),
         ("redacted_md5", "string"), ("n_windows", "long"), ("n_dup", "long"),
         ("dup_frac", "double"), ("flagged", "boolean"), ("lang", "string"),
         ("source", "string"), ("len_bucket", "long"), ("g0", "long"),
         ("g1", "long"), ("anon_level", "int"), ("released", "boolean"),
         ("was_mojibake", "boolean"), ("n_bad_seqs", "long"),
         ("repaired_md5", "string"), ("roundtrip_ok", "boolean"),
         ("n_green", "long"), ("z_u", "long"), ("detector", "string"),
         ("tp", "long"), ("fp", "long"), ("fn", "long"),
         ("precision_u", "long"), ("recall_u", "long"), ("n_spans", "long"),
         ("n_islands", "long"), ("covered_tokens", "long"),
         ("max_island_len", "long"), ("n_cdc", "long"),
         ("shared_cdc", "long"), ("n_fix", "long"), ("shared_fix", "long"),
         ("bl_entry", "string"), ("n_blocked", "long"), ("min_doc", "long")],
        [
            ("suffix_blocklist", "q158_suffix_blocklist",
             {"bl_entry": "entry", "n_blocked": "n_blocked",
              "min_doc": "min_doc"}),
            ("cdc_chunking", "q154_cdc_chunking",
             {"doc_id": "doc_id", "n_cdc": "n_cdc",
              "shared_cdc": "shared_cdc", "n_fix": "n_fix",
              "shared_fix": "shared_fix"}),
            ("span_merge", "q147_span_interval_merge",
             {"doc_id": "doc_id", "n_spans": "n_spans",
              "n_islands": "n_islands", "covered_tokens": "covered_tokens",
              "max_island_len": "max_island_len"}),
            ("pipeline", "q94_corpus_clean_pipeline",
             {"doc_id": "doc_id", "n_tokens": "n_tokens",
              "stage": "stage", "survivor_id": "survivor_id"}),
            ("block_dedup", "q96_block_dedup",
             {"doc_id": "doc_id", "n_blocks": "n_blocks", "n_kept": "n_kept",
              "kept_frac": "kept_frac", "kept_text_md5": "kept_text_md5"}),
            ("pii_redaction", "q97_pii_redaction",
             {"doc_id": "doc_id", "n_emails": "n_emails",
              "n_phones": "n_phones", "has_pii": "has_pii",
              "redacted_md5": "redacted_md5"}),
            ("exact_substring", "q99_exact_substring_dedup",
             {"doc_id": "doc_id", "n_windows": "n_windows", "n_dup": "n_dup",
              "dup_frac": "dup_frac", "flagged": "flagged"}),
            ("k_anonymity", "q129_k_anonymity",
             {"doc_id": "doc_id", "lang": "lang", "source": "source",
              "len_bucket": "len_bucket", "g0": "g0", "g1": "g1",
              "anon_level": "anon_level", "released": "released"}),
            ("watermark", "q136_watermark_detect",
             {"doc_id": "doc_id", "n_windows": "n_bigrams",
              "n_green": "n_green", "z_u": "z_u", "flagged": "flagged"}),
            ("encoding_repair", "q132_encoding_repair",
             {"doc_id": "doc_id", "was_mojibake": "was_mojibake",
              "n_bad_seqs": "n_bad_seqs", "repaired_md5": "repaired_md5",
              "roundtrip_ok": "roundtrip_ok"}),
            ("secret_scan", "q141_secret_scan_eval",
             {"detector": "detector", "tp": "tp", "fp": "fp", "fn": "fn",
              "precision_u": "precision_u", "recall_u": "recall_u"}),
        ],
    ),
    # corpus-layout family: sequence packing, leakage-safe split and its
    # audit, deterministic global shuffle, domain rollup, shard placement,
    # crawl scheduling and the other planning advisors.
    "panel_corpus_layout": (
        [("doc_id", "long"), ("shard", "int"), ("n_tokens", "long"),
         ("start_pos", "long"), ("first_window", "int"),
         ("last_window", "int"), ("n_windows", "int"), ("vec_id", "long"),
         ("cluster_id", "long"), ("in_cluster", "boolean"),
         ("split", "string"), ("global_pos", "long"), ("domain", "string"),
         ("n_docs", "long"), ("total_chars", "long"),
         ("mean_chars", "double"), ("lang", "string"), ("slot", "long"),
         ("k", "long"), ("sched_key", "long"), ("source", "string"),
         ("base_quota", "long"), ("extra_seat", "boolean"),
         ("final_quota", "long"), ("policy", "string"), ("n_pairs", "long"),
         ("n_cross", "long"), ("cross_frac_u", "long"), ("n_moved", "long"),
         ("moved_frac_u", "long"), ("n_batches", "long"),
         ("total_tokens", "long"), ("padded_tokens", "long"),
         ("waste_u", "long"), ("true_n", "long"), ("noise", "double"),
         ("noisy", "double"), ("rank_true", "long"), ("rank_noisy", "long"),
         ("rank_shift", "long"), ("l1_err", "double"), ("sum_chars", "long"),
         ("full_mean", "double"), ("loo_mean", "double"),
         ("influence", "double"), ("influence_rank", "long"),
         ("n_instances", "long"), ("n_distinct_grams", "long"),
         ("n_repeated", "long"), ("repeat_frac_u", "long"),
         ("dict_worthy", "boolean"), ("n_kept", "long"), ("mean_u", "long"),
         ("bonus", "double"), ("ucb", "double"), ("priority", "long"),
         ("ring_moved", "long"), ("mod_moved", "long"),
         ("ring_moved_frac_u", "long"), ("mod_moved_frac_u", "long")],
        [
            ("hash_ring", "q208_consistent_hash_ring",
             {"shard": "shard", "n_docs": "n_docs",
              "ring_moved": "ring_moved", "mod_moved": "mod_moved",
              "ring_moved_frac_u": "ring_moved_frac_u",
              "mod_moved_frac_u": "mod_moved_frac_u"}),
            ("ucb_scheduler", "q202_ucb_crawl_scheduler",
             {"source": "source", "n_docs": "n_docs", "n_kept": "n_kept",
              "mean_u": "mean_u", "bonus": "bonus", "ucb": "ucb",
              "priority": "priority"}),
            ("compression_proxy", "q201_compression_proxy",
             {"source": "source", "n_instances": "n_instances",
              "n_distinct_grams": "n_distinct", "n_repeated": "n_repeated",
              "repeat_frac_u": "repeat_frac_u",
              "dict_worthy": "dict_worthy"}),
            ("loo_influence", "q192_loo_influence",
             {"source": "source", "n_docs": "n_docs",
              "sum_chars": "sum_chars", "full_mean": "full_mean",
              "loo_mean": "loo_mean", "influence": "influence",
              "influence_rank": "influence_rank"}),
            ("dp_release", "q190_dp_noisy_release",
             {"source": "source", "true_n": "true_n", "noise": "noise",
              "noisy": "noisy", "rank_true": "rank_true",
              "rank_noisy": "rank_noisy", "rank_shift": "rank_shift",
              "l1_err": "l1_err"}),
            ("padding_waste", "q178_padding_waste_audit",
             {"policy": "policy", "n_batches": "n_batches",
              "total_tokens": "total_tokens",
              "padded_tokens": "padded_tokens", "waste_u": "waste_u"}),
            ("rebalance", "q164_rendezvous_rebalance",
             {"policy": "policy", "n_docs": "n_docs",
              "n_moved": "n_moved", "moved_frac_u": "moved_frac_u"}),
            ("leakage_audit", "q161_split_leakage_audit",
             {"policy": "policy", "n_pairs": "n_pairs",
              "n_cross": "n_cross", "cross_frac_u": "cross_frac_u"}),
            ("quota_apportionment", "q150_quota_apportionment",
             {"lang": "lang", "source": "source", "n_docs": "n_docs",
              "base_quota": "base_quota", "extra_seat": "extra",
              "final_quota": "final_quota"}),
            ("stride_schedule", "q142_stride_schedule",
             {"slot": "slot", "doc_id": "doc_id", "lang": "lang",
              "k": "k", "sched_key": "sched_key"}),
            ("packing", "q100_sequence_packing",
             {"doc_id": "doc_id", "shard": "shard", "n_tokens": "n_tokens",
              "start_pos": "start_pos", "first_window": "first_window",
              "last_window": "last_window", "n_windows": "n_windows"}),
            ("leakage_split", "q101_leakage_safe_split",
             {"vec_id": "vec_id", "cluster_id": "cluster_id",
              "in_cluster": "in_cluster", "split": "split"}),
            ("det_shuffle", "q105_deterministic_shuffle",
             {"doc_id": "doc_id", "shard": "shard",
              "global_pos": "global_pos"}),
            ("domain_rollup", "q98_domain_rollup",
             {"domain": "domain", "n_docs": "n_docs",
              "total_chars": "total_chars", "mean_chars": "mean_chars"}),
        ],
    ),
    # CDC / resume family: manifest crash+resume state, Merkle snapshot
    # diff, the incremental diff->extract composition, delta-only dedup
    # and the compaction planner.
    "panel_cdc_resume": (
        [("doc_id_bucket", "int"), ("doc_count", "long"),
         ("span_count", "long"), ("table_count", "long"), ("status", "string"),
         ("run_seq", "int"), ("doc_id", "long"), ("old_count", "long"),
         ("new_count", "long"), ("clean", "boolean"), ("n_added", "long"),
         ("n_changed", "long"), ("n_removed", "long"), ("file_id", "long"),
         ("size_bytes", "long"), ("is_small", "boolean"), ("bin", "long"),
         ("disposition", "string"), ("bin_fill", "long"), ("dup_of", "long"),
         ("kind", "string"), ("n_bands", "long")],
        [
            ("compaction_plan", "q195_compaction_planner",
             {"file_id": "file_id", "size_bytes": "size_bytes",
              "doc_count": "n_docs", "is_small": "is_small",
              "bin": "bin", "disposition": "disposition",
              "bin_fill": "bin_fill"}),
            ("merkle_diff", "q172_merkle_snapshot_diff",
             {"doc_id_bucket": "leaf", "old_count": "old_count",
              "new_count": "new_count", "clean": "clean",
              "n_added": "n_added", "n_changed": "n_changed",
              "n_removed": "n_removed"}),
            ("manifest_resume", "q95_manifest_resume_state",
             {"doc_id_bucket": "doc_id_bucket", "doc_count": "doc_count",
              "span_count": "span_count", "table_count": "table_count",
              "status": "status", "run_seq": "run_seq"}),
            ("incremental", "q106_incremental_extraction",
             {"doc_id": "doc_id", "status": "status",
              "span_count": "span_count"}),
            ("incremental_dedup", "q118_incremental_dedup",
             {"doc_id": "new_doc_id", "dup_of": "dup_of", "kind": "kind",
              "n_bands": "n_bands"}),
        ],
    ),
    # deterministic RAG analogs: citation assembly + query expansion
    # (the reference's last two LLM-adjacent behaviors).
    "panel_rag_analogs": (
        [("cite_index", "int"), ("filename", "string"),
         ("page_number", "int"), ("content_type", "string"),
         ("similarity_score", "double"), ("confidence_score", "double"),
         ("citation", "string"), ("variant_rank", "int"),
         ("base_term", "string"), ("added_token", "string"),
         ("df_ab", "long"), ("expanded_query", "string")],
        [
            ("citations", "q92_citation_assembly",
             {"cite_index": "cite_index", "filename": "filename",
              "page_number": "page_number", "content_type": "content_type",
              "similarity_score": "similarity_score",
              "confidence_score": "confidence_score",
              "citation": "citation"}),
            ("expansion", "q93_query_expansion",
             {"variant_rank": "variant_rank", "base_term": "base_term",
              "added_token": "added_token", "df_ab": "df_ab",
              "expanded_query": "expanded_query"}),
        ],
    ),
    # ANN / retrieval family: brute-force cosine top-k, IVF probe,
    # filtered retrieval candidates, recall@10 evaluation.
    "panel_ann": (
        [("vec_id", "long"), ("label", "int"), ("cosine", "double"),
         ("cell", "long"), ("doc_id", "long"), ("lang", "string"),
         ("n_chars", "long"), ("conf", "double"), ("n_overlap", "long"),
         ("recall_at_10", "double")],
        [
            ("brute_topk", "q27_cosine_topk",
             {"vec_id": "vec_id", "label": "label", "cosine": "cosine"}),
            ("ivf_topk", "q46_ivf_topk",
             {"vec_id": "vec_id", "cell": "cell", "cosine": "cosine"}),
            ("retrieval_filters", "q47_retrieval_filters",
             {"doc_id": "doc_id", "lang": "lang", "n_chars": "n_chars",
              "conf": "conf"}),
            ("recall", "q50_ann_recall",
             {"n_overlap": "n_overlap", "recall_at_10": "recall_at_10"}),
        ],
    ),
}


def _panel_spark(columns, parts):
    def run(spark, sf_dir):
        frames = []
        for tag, fine_name, mapping in parts:
            df = SPARK_QUERIES[fine_name](spark, sf_dir)
            cols = [F.lit(tag).alias("probe")]
            for cname, ctype in columns:
                src = mapping.get(cname)
                col = F.col(src) if src is not None else F.lit(_SENTINEL[ctype][1])
                cols.append(col.cast(ctype).alias(cname))
            frames.append(df.select(*cols))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    return run


def _panel_sql(columns, parts) -> str:
    selects = []
    for tag, fine_name, mapping in parts:
        inner = ORACLE_SQL[fine_name]
        exprs = [f"'{tag}' AS probe"]
        for cname, ctype in columns:
            duck_t = _DUCK_TYPES[ctype]
            src = mapping.get(cname)
            if src is None:
                exprs.append(f"{_SENTINEL[ctype][0]} AS {cname}")
            else:
                exprs.append(f'CAST("{src}" AS {duck_t}) AS {cname}')
        selects.append(
            "SELECT " + ", ".join(exprs) + f" FROM (\n{inner}\n) _part_{tag}"
        )
    return "\nUNION ALL\n".join(selects)


def build_panels() -> tuple[dict, dict]:
    """(spark callables, oracle SQL) for every panel in PANEL_SPECS."""
    sq, osql = {}, {}
    for name, (columns, parts) in PANEL_SPECS.items():
        sq[name] = _panel_spark(columns, parts)
        osql[name] = _panel_sql(columns, parts)
    return sq, osql


# fine-grained queries that appear in some panel (hidden from the driver
# view; still individually registered and gate-checked via --full)
PANELED: frozenset[str] = frozenset(
    fine for _cols, parts in PANEL_SPECS.values() for _tag, fine, _m in parts
)

def driver_view() -> tuple[dict, dict]:
    """The consolidated ``queries()``/``oracle_sql()`` surface: every
    panel, then every fine-grained query not absorbed by one."""
    sq, osql = build_panels()
    for name, fn in SPARK_QUERIES.items():
        if name not in PANELED:
            sq[name] = fn
            if name in ORACLE_SQL:
                osql[name] = ORACLE_SQL[name]
    return sq, osql
