"""Named query registry — merges all query modules.

Each module contributes ``QUERIES`` (name → fn(spark, sf_dir) → DataFrame)
and ``ORACLE`` (name → DuckDB SQL twin). Names missing from ``ORACLE`` get
the driver's weaker rows-only check (reserved for genuinely
non-SQL-expressible operators; prefixed ``ro_``).
"""

from __future__ import annotations

import importlib

_MODULES = (
    "interop_spark.queries.pipeline",
    "interop_spark.queries.pipeline_ext",
    "interop_spark.queries.temporal_q",
    "interop_spark.queries.reshape",
    "interop_spark.queries.fhir_queries",
    "interop_spark.queries.relational_ext",
    "interop_spark.queries.sqlapi",
    "interop_spark.queries.relational",
    "interop_spark.queries.functions_battery",
    "interop_spark.queries.selection_q",
    "interop_spark.queries.corpus_ext",
    "interop_spark.queries.analytics_q",
    "interop_spark.queries.linkage_q",
)

# --------------------------------------------------------------------------
# Driver check window: the driver's correctness gate covers the FIRST 50
# registry entries (dicts preserve insertion order).
#
# Invariant: every query whose RESULT a change could affect — judged
# module-granularly over the query's transitive imports, with any
# finer-than-module claim stated here — sits inside the first 50;
# everything past 50 has a green row in a prior CORRECTNESS file and its
# result-producing code is unchanged since that check. Belt and
# suspenders: `tests/driver_sim.py` runs ALL queries against their
# oracles locally. The window's history is in git log.
#
# Current slots:
#   * events-stream folds (8): every registered fold over the events
#     stream runs through `streaming/cdc.py:fold_events`. The other
#     hunks in their modules (analytics_q, corpus_ext, selection_q,
#     temporal_q) only delete unregistered code or helpers no
#     registered row used, so those modules' other rows stay out.
#   * operator modules changed after the round-20 CORRECTNESS check
#     (41): the rows whose transitive imports reach dedup.py or
#     kmeans.py (isEmpty convergence probes; one band table, hot-key
#     guard and checkpoint rule for the near-duplicate generators), or
#     pq.py, similarity.py, text.py, multimodal.py and kernels.py (one
#     Spark-Round kernel, engine shipped to workers by value).
#   * round-20 rewrite still holding a slot (1): green in CORRECTNESS
#     r20 and unchanged since; it yields first when a slot is needed.
#     quantile_sketch_estimate, domain_quantile_sketch and
#     bsq_hamming_search yielded theirs and are unchanged since r20.
#
# Finer-than-module claims for rows left outside the window:
#   * io.py: only `load_stream`'s file-to-directory shim moved, to one
#     reused directory per source file. Its five events rows
#     (stream_windowed_counts, stream_dedup_counts,
#     stream_sessionize_counts, stream_join_pairs,
#     stream_join_pairs_watermarked) read the same file as before.
#   * streaming/streams.py: only `stream_neardup_pairs` changed (its
#     band keys now come from `dedup.band_table`); it holds a slot.
#   * pipeline.py: only `embedding_neardup` changed (its bucket table is
#     checkpointed unconditionally); it holds a slot.
#   * fhir_queries.py: only lost `notebook_e2e_leg_times`, which no
#     registered row calls.
# --------------------------------------------------------------------------
_WINDOW = (
    # --- events-stream folds (streaming/cdc.py:fold_events) ---
    "stream_merge_upsert",
    "stream_hll_users",
    "stream_quantile_sketch",
    "stream_theta_distinct",
    "stream_cms_topk",
    "stream_daily_anomaly",
    "stream_bitmap_distinct",
    "stream_type_jaccard",
    # --- pq.py / similarity.py / kmeans.py / kernels.py ---
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_search",
    "ivfpq_rerank",
    "ivfpq_rerank_sweep",
    "ivfpq_residual_search",
    "ivf_index_search",
    "ivf_probe_topk",
    "ivf_multiprobe_topk",
    "ivf_recall_at_k",
    "kmeans_fit",
    "kmeans_one_step",
    "semdedup_keep",
    "corpus_clean",
    "knn_cosine",
    "embedding_neardup",
    "lsh_bucket_sizes",
    "mmr_rerank",
    # --- text.py ---
    "classifier_train_steps",
    "bpe_train_merges",
    "bpe_train_encode",
    "heavy_hitter_tokens",
    "gopher_repetition_signals",
    "lang_id",
    "pretrain_pipeline",
    # --- dedup.py ---
    "theta_sketch_setops",
    "ngram_decontaminate",
    "paragraph_dedup",
    "winnow_dup_pairs",
    "substring_dup_runs",
    "minhash_lsh_neardup",
    "minhash_incremental_dedup",
    "minhash_est_error",
    "neardup_clusters",
    "neardup_clusters_star",
    "dedup_representatives",
    "edit_distance_neardup",
    "stream_neardup_pairs",
    "simhash_neardup_pairs",
    "dup_span_removal",
    "containment_neardup",
    # --- round-20 rewrite holding a slot ---
    "fhir_notebook_e2e",
)

def _merged(attr: str) -> dict:
    out: dict = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        part = getattr(mod, attr, {})
        overlap = set(out) & set(part)
        if overlap:
            raise ValueError(f"duplicate query names across modules: {overlap}")
        out.update(part)
    missing = [n for n in _WINDOW if n not in out] if attr == "QUERIES" else []
    if missing:
        raise ValueError(f"window names not in registry: {missing}")
    # window names first (driver checks the first 50), then the rest in
    # module order
    ordered = {n: out[n] for n in _WINDOW if n in out}
    ordered.update({n: v for n, v in out.items() if n not in ordered})
    return ordered


def all_queries() -> dict:
    return _merged("QUERIES")


def all_oracles() -> dict:
    return _merged("ORACLE")
