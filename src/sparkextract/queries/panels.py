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
    # J1/D6 family: every near-dup pair join, one row set per method.
    # score = jaccard / cosine / hamming per the probe (exact pairs carry
    # no score).
    "panel_dup_pairs": (
        [("left_id", "long"), ("right_id", "long"), ("score", "double"),
         ("n_shared_keys", "long"), ("jaccard_u", "long"),
         ("n_union", "long")],
        [
            ("sorted_neighborhood", "q194_sorted_neighborhood",
             {"left_id": "left_id", "right_id": "right_id",
              "n_shared_keys": "n_common", "n_union": "n_union",
              "jaccard_u": "jac_u"}),
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
        ],
    ),
    # D4/D6 clusters: exact content-hash clusters and soft-dedup weights.
    "panel_dup_clusters": (
        [("cluster_size", "long"), ("survivor_id", "long"),
         ("group_key", "string"), ("source", "string"), ("n_docs", "long"),
         ("n_dup_docs", "long"), ("raw_tokens", "long"),
         ("eff_tokens_u", "long")],
        [
            ("soft_dedup", "q159_soft_dedup_weights",
             {"source": "source", "n_docs": "n_docs",
              "n_dup_docs": "n_dup_docs", "raw_tokens": "raw_tokens",
              "eff_tokens_u": "eff_tokens_u"}),
            ("exact_hash_clusters", "q11_dedup_exact",
             {"group_key": "content_hash", "cluster_size": "cluster_size",
              "survivor_id": "keeper_doc_id"}),
        ],
    ),
    # quality family: weighted score (source-grain), per-doc repetition
    # and LM gates, token entropy, the linear quality classifier and the
    # Kneser-Ney bigram cross-entropy.
    "panel_quality": (
        [("source", "string"), ("avg_quality", "double"), ("n_good", "long"),
         ("doc_id", "long"), ("n_words", "long"), ("n_distinct", "long"),
         ("reject_reason", "string"), ("keep", "boolean"),
         ("n_bigrams", "long"), ("n_distinct_bigrams", "long"),
         ("dup_frac", "double"), ("top_word_frac", "double"),
         ("avg_logp", "double"), ("entropy", "double"), ("n_stop", "long"),
         ("logit_u", "long"), ("xent", "double")],
        [
            ("kneser_ney", "q189_kneser_ney_lm",
             {"doc_id": "doc_id", "n_bigrams": "n_bigrams",
              "xent": "xent"}),
            ("weighted_score", "q25_quality_score",
             {"source": "source", "avg_quality": "avg_quality",
              "n_good": "n_good"}),
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
        ],
    ),
    # D4/F13 signature tables (64-bit simhash; 4-band minhash).
    "panel_signatures": (
        [("doc_id", "long"), ("simhash", "long"), ("sig0", "string"),
         ("sig1", "string"), ("sig2", "string"), ("sig3", "string")],
        [
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
    # semantic dedup per seed-centroid cell.
    "panel_kmeans": (
        [("cell", "long"), ("n_members", "long"), ("n_dups", "long"),
         ("n_survivors", "long")],
        [
            ("semantic_dedup", "q110_semantic_dedup",
             {"cell": "cell", "n_members": "n_members", "n_dups": "n_dups",
              "n_survivors": "n_survivors"}),
        ],
    ),
    # token statistics: fingerprint uniqueness per language, Misra-Gries
    # heavy hitters and KMV distinct counts.
    "panel_token_lang_stats": (
        [("lang", "string"), ("n_docs", "long"), ("n_unique", "long"),
         ("token", "string"), ("est", "long"), ("exact", "long"), ("err", "long"),
         ("bound", "long"), ("within_bound", "boolean"), ("part", "string"),
         ("n_exact", "long"), ("k_eff", "long"), ("kth_min", "long"),
         ("est_kmv", "double")],
        [
            ("kmv_theta", "q196_kmv_theta_sketch",
             {"part": "part", "n_exact": "n_exact", "k_eff": "k_eff",
              "kth_min": "kth_min", "est_kmv": "est"}),
            ("mg_heavy_hitters", "q179_misra_gries_heavy_hitters",
             {"token": "token", "est": "est", "exact": "exact",
              "err": "err", "bound": "bound",
              "within_bound": "within_bound"}),
            ("fingerprint", "q21_fingerprint",
             {"lang": "lang", "n_docs": "n_docs", "n_unique": "n_unique"}),
        ],
    ),
    # document-profile statistics: the per-language confidence rollup.
    "panel_doc_profile": (
        [("lang", "string"), ("n_docs", "long"), ("avg_conf", "double"),
         ("min_conf", "double")],
        [
            ("confidence", "q51_confidence_rollup",
             {"lang": "lang", "n_docs": "n_docs",
              "avg_conf": "avg_conf", "min_conf": "min_conf"}),
        ],
    ),
    # event aggregates: event_type stats, JSON-props extraction and
    # gap-based sessionization.
    "panel_event_stats": (
        [("event_type", "string"), ("n_events", "long"),
         ("sum_value", "double"), ("first_us", "long"), ("last_us", "long"),
         ("sum_k", "long"), ("n_high", "long"), ("user_id", "long"),
         ("session_seq", "long"), ("duration_us", "long")],
        [
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
    # fusion, MMR and nDCG.
    "panel_retrieval": (
        [("vec_id", "long"), ("cosine", "double"), ("overlap", "int"),
         ("rerank_score", "double"), ("cum_chars", "long"),
         ("query_id", "long"), ("rnk", "long"), ("doc_id", "long"),
         ("r_bm25", "long"), ("r_tfidf", "long"), ("fused_units", "long"),
         ("step", "long"), ("rel_u", "long"), ("score_u", "long"),
         ("dcg", "double"), ("idcg", "double"), ("ndcg_u", "long"),
         ("n_rel", "long")],
        [
            ("ndcg_eval", "q156_ndcg_eval",
             {"query_id": "query_id", "dcg": "dcg", "idcg": "idcg",
              "ndcg_u": "ndcg_u", "n_rel": "n_rel"}),
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
        ],
    ),
    # event windows: rank-top-k per user; running cumulative sum.
    "panel_event_windows": (
        [("user_id", "long"), ("event_id", "long"), ("value", "double"),
         ("rn", "long"), ("running_value", "double")],
        [
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
    # token index: corpus top-k tokens; PMI co-occurrence pairs.
    "panel_token_index": (
        [("token", "string"), ("freq", "long"), ("tok_b", "string"),
         ("pmi", "double")],
        [
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
    # embedding diagnostics: LSH bucket histogram; per-label quality.
    "panel_embedding_stats": (
        [("bucket", "int"), ("label", "int"), ("n_vectors", "long"),
         ("min_vec_id", "long"), ("avg_l2", "double"),
         ("n_zero_components", "long")],
        [
            ("lsh_hist", "q28_lsh_buckets",
             {"bucket": "bucket", "n_vectors": "n_vectors",
              "min_vec_id": "min_vec_id"}),
            ("label_quality", "q31_embedding_quality",
             {"label": "label", "n_vectors": "n_vectors", "avg_l2": "avg_l2",
              "n_zero_components": "n_zero_components"}),
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
    # stats, mega documents, doc-grain assembly, and the
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
    # contamination family: 13-gram eval-set decontamination and its
    # Bloom- and cuckoo-filter probe variants.
    "panel_decontamination": (
        [("doc_id", "long"), ("n_kgrams", "long"), ("n_contam", "long"),
         ("contam_frac", "double"), ("keep", "boolean"), ("n_bloom", "long"),
         ("n_exact", "long"), ("n_false_pos", "long"), ("n_cuckoo", "long")],
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
        ],
    ),
    # corpus-clean family: the end-to-end extract->quality->dedup
    # composition plus the block / exact-substring / CDC-chunk dedup,
    # watermark, encoding-repair and secret-scan passes.
    "panel_corpus_clean": (
        [("doc_id", "long"), ("n_tokens", "long"), ("stage", "string"),
         ("survivor_id", "long"), ("n_blocks", "long"), ("n_kept", "long"),
         ("kept_frac", "double"), ("kept_text_md5", "string"),
         ("n_windows", "long"), ("n_dup", "long"), ("dup_frac", "double"),
         ("flagged", "boolean"), ("was_mojibake", "boolean"),
         ("n_bad_seqs", "long"), ("repaired_md5", "string"),
         ("roundtrip_ok", "boolean"), ("n_green", "long"), ("z_u", "long"),
         ("detector", "string"), ("tp", "long"), ("fp", "long"),
         ("fn", "long"), ("precision_u", "long"), ("recall_u", "long"),
         ("n_cdc", "long"), ("shared_cdc", "long"), ("n_fix", "long"),
         ("shared_fix", "long")],
        [
            ("cdc_chunking", "q154_cdc_chunking",
             {"doc_id": "doc_id", "n_cdc": "n_cdc",
              "shared_cdc": "shared_cdc", "n_fix": "n_fix",
              "shared_fix": "shared_fix"}),
            ("pipeline", "q94_corpus_clean_pipeline",
             {"doc_id": "doc_id", "n_tokens": "n_tokens",
              "stage": "stage", "survivor_id": "survivor_id"}),
            ("block_dedup", "q96_block_dedup",
             {"doc_id": "doc_id", "n_blocks": "n_blocks", "n_kept": "n_kept",
              "kept_frac": "kept_frac", "kept_text_md5": "kept_text_md5"}),
            ("exact_substring", "q99_exact_substring_dedup",
             {"doc_id": "doc_id", "n_windows": "n_windows", "n_dup": "n_dup",
              "dup_frac": "dup_frac", "flagged": "flagged"}),
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
    # corpus-layout family: deterministic global shuffle.
    "panel_corpus_layout": (
        [("doc_id", "long"), ("shard", "int"), ("global_pos", "long")],
        [
            ("det_shuffle", "q105_deterministic_shuffle",
             {"doc_id": "doc_id", "shard": "shard",
              "global_pos": "global_pos"}),
        ],
    ),
    # CDC / resume family: manifest crash+resume state, Merkle snapshot
    # diff and the incremental diff->extract composition.
    "panel_cdc_resume": (
        [("doc_id_bucket", "int"), ("doc_count", "long"),
         ("span_count", "long"), ("table_count", "long"), ("status", "string"),
         ("run_seq", "int"), ("doc_id", "long"), ("old_count", "long"),
         ("new_count", "long"), ("clean", "boolean"), ("n_added", "long"),
         ("n_changed", "long"), ("n_removed", "long")],
        [
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
