"""Dataset-level operators: stats, uniqueness, referential, drift, dedup,
similarity search, clustering, text analysis, diff/packing/skew — the
distributed checks the reference (a single-value validator) has no
counterpart for (SURVEY.md §2.6).

Everything is built from Spark built-ins with partial aggregation,
broadcast-able joins, and no driver-side row loops.  Heavier modules
(clustering, multimodal) are imported lazily by their callers rather
than here so `import validr_spark` stays cheap.
"""

from .consistency import (check_invariants, fd_violations,
                          ordering_violations)
from .dialog import (dialog_stats, dialog_violations,
                     preference_stats, preference_violations,
                     render_dialogs)
from .diff import diff_summary, table_diff
from .drift import (chi_square_counts, drift_report, jsd, ks_approx,
                    ks_exact, psi, psi_quantile, value_entropy,
                    wasserstein1)
from .dsir import dsir_select, dsir_weights, importance_sample
from .embedding import dim_moments, embedding_drift, embedding_hygiene
from .encoding import (clean_text, encoding_report, encoding_scan,
                       is_nfc, nfc_audit, nfc_normalize_text)
from .graph import (connected_components, dedup_by_components,
                    dedup_clusters)
from .incremental import (build_fingerprint_bloom, incremental_dedup,
                          incremental_new_rows)
from .paradedup import dedup_paragraphs, paragraph_stats
from .referential import orphan_count, orphans
from .repair import RepairResult, repair, repairing_schema
from .skew import (heavy_hitters, join_fanout_report, key_skew_report,
                   salted_join, suggest_salt)
from .audit import (sampled_violation_rates, violation_triage,
                    wilson_bounds)
from .compress import compression_ratio, compression_report
from .retrieval import bm25_join, bm25_scores, bm25_topk
from .stats import (column_profile, mad_outliers, null_rates,
                    robust_center_scale, robust_clip, table_fingerprint,
                    top_k_per_group)
from .tokenize import bpe_pieces, hash_tokens, tokenize_documents
from .bpe import (apply_bpe, bpe_vocab, learn_bpe,
                  learn_bpe_from_counts, tokens_match_tokenizer)
from .langid import (lang_filter, lang_predict, lang_scores,
                     train_lang_model)
from .unigram import (apply_unigram, tokens_match_unigram,
                      train_unigram, train_unigram_from_counts,
                      unigram_ids, viterbi_segment)
from .files import file_report, small_file_advice
from .uniqueness import duplicate_keys, duplication_report

__all__ = [
    "column_profile", "null_rates", "robust_center_scale", "mad_outliers",
    "encoding_scan", "encoding_report",
    "embedding_hygiene",
    "duplicate_keys", "duplication_report",
    "orphans", "orphan_count",
    "repair", "repairing_schema", "RepairResult",
    "check_invariants", "fd_violations", "ordering_violations",
    "ks_exact", "ks_approx", "chi_square_counts", "psi", "jsd",
    "wasserstein1",
    "value_entropy", "robust_clip",
    "dim_moments", "embedding_drift",
    "table_diff", "diff_summary",
    "dialog_violations", "dialog_stats",
    "preference_violations", "preference_stats", "render_dialogs",
    "connected_components", "dedup_clusters", "dedup_by_components",
    "build_fingerprint_bloom", "incremental_dedup", "incremental_new_rows",
    "heavy_hitters", "key_skew_report", "suggest_salt", "salted_join",
    "bpe_pieces", "hash_tokens", "tokenize_documents",
    "learn_bpe", "learn_bpe_from_counts", "bpe_vocab", "apply_bpe",
    "tokens_match_tokenizer",
    "train_lang_model", "lang_scores", "lang_predict", "lang_filter",
    "train_unigram", "train_unigram_from_counts", "unigram_ids",
    "viterbi_segment", "apply_unigram", "tokens_match_unigram",
    "dedup_paragraphs", "paragraph_stats",
    "dsir_weights", "importance_sample", "dsir_select",
    "sampled_violation_rates", "wilson_bounds", "violation_triage",
    "compression_ratio", "compression_report",
    "bm25_scores", "bm25_join", "bm25_topk",
    "psi_quantile", "drift_report",
    "is_nfc", "nfc_audit", "nfc_normalize_text", "clean_text",
    "join_fanout_report", "top_k_per_group", "table_fingerprint",
    "file_report", "small_file_advice",
]
