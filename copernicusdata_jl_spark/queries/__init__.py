"""Query registry: every SURVEY.md §2 operator as a record of its Spark
plan and its DuckDB oracle SQL over the sf parquet tables.

``REGISTRY`` is the one list of query names. ``__spark_entry__``,
tools/check_oracle.py, tools/plan_audit.py (through ``allow``) and
bench.py (through ``timed``) all read it. The queries themselves live in
domain modules (spatial, text, corpus, analytics, storage) that never
import this package; fragments shared across domains are in ``shared``.
Their oracle builders (``_*_sql``) are package-private: this registry is
their only caller.

Conventions for oracle parity (the CORRECTNESS gate):
- every computed column is aliased identically in Spark and SQL;
- doubles that pass through aggregation are rounded explicitly on both
  sides (floating-point summation order differs between engines);
- spatial queries derive deterministic lat/lon from integer columns with
  pure integer/double arithmetic (identical IEEE ops in Spark and DuckDB);
- DuckDB's HUGEINT sums are cast back to BIGINT, and hashed features use
  the portable md5-prefix hash (operators/dedup.h56).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import analytics, corpus, spatial, storage, text


class Query(NamedTuple):
    """One registry record. ``plan(spark, sf_dir)`` builds the Spark
    result; ``oracle`` is its DuckDB twin; ``timed`` puts it in bench.py's
    headline; ``allow`` names the plan-audit counters that may be nonzero,
    and the audit fails an allowance the plan does not use."""

    plan: Callable[[SparkSession, str], DataFrame]
    oracle: str
    timed: bool = True
    allow: frozenset[str] = frozenset()


# one-row scalar broadcasts, where BroadcastNestedLoopJoin is the correct
# plan: no join key exists and the build side is exactly one row
_NLJ = frozenset({"nested_loop_joins"})
# Arrow-batched pandas kernels, which plan as ArrowEvalPython / MapInPandas
_ARROW = frozenset({"arrow_eval"})

REGISTRY: dict[str, Query] = {
    # the first 50 entries are the correctness snapshot, in the key order
    # of CORRECTNESS_r05.json (tests/test_registry.py pins it)
    "cell_compact": Query(spatial.q_cell_compact, spatial._cell_compact_sql()),
    "polygon_stats": Query(spatial.q_polygon_stats, spatial._POLYGON_STATS_SQL),
    "retention_cohorts": Query(analytics.q_retention_cohorts, analytics._RETENTION_SQL),
    "gap_fill": Query(analytics.q_gap_fill, analytics._GAP_FILL_SQL),
    # global token-total scalars (tt, tr)
    "dsir_weights": Query(corpus.q_dsir_weights, corpus._dsir_sql(), allow=_NLJ),
    # three one-row census scalars crossed at the end; untimed: a multi-join
    # census over a 20-node host graph measures job scheduling
    "triangle_count": Query(corpus.q_triangle_count, corpus._TRIANGLE_SQL, timed=False, allow=_NLJ),
    "skyline_2d": Query(analytics.q_skyline, analytics._SKYLINE_SQL),
    "quadkey_tiles": Query(spatial.q_quadkey_tiles, spatial._quadkey_sql()),
    "fuzzy_match": Query(text.q_fuzzy_match, text._fuzzy_sql()),
    # corpus-size scalar (n_docs)
    "tfidf_topterms": Query(text.q_tfidf_topterms, text._TFIDF_SQL, allow=_NLJ),
    "value_histogram": Query(analytics.q_value_histogram, analytics._HIST_SQL),
    # untimed: the iterative pointer-jumping loop is multi-job scheduling,
    # not a plan measurement
    "dbscan_grid": Query(spatial.q_dbscan_grid, spatial._dbscan_sql(), timed=False),
    "heatmap_kde": Query(spatial.q_heatmap_kde, spatial._heatmap_sql()),
    "trajectory_stats": Query(spatial.q_trajectory_stats, spatial._TRAJ_SQL),
    "funnel_steps": Query(analytics.q_funnel_steps, analytics._FUNNEL_SQL),
    "geohash_encode": Query(spatial.q_geohash_encode, spatial._geohash_sql()),
    "session_window_agg": Query(analytics.q_session_window_agg, analytics._SESSION_WINDOW_SQL),
    # untimed: the driver-side fixture write is catalog-scale by contract,
    # so the timed part would be the fixture
    "warc_scan": Query(storage.q_warc_scan, storage._WARC_SCAN_SQL, timed=False),
    "snapshot_pointread": Query(storage.q_snapshot_pointread, storage._SNAPSHOT_POINTREAD_SQL),
    "snapshot_delete": Query(storage.q_snapshot_delete, storage._SNAPSHOT_DELETE_SQL),
    "snapshot_upsert": Query(storage.q_snapshot_upsert, storage._SNAPSHOT_UPSERT_SQL),
    "gopher_rules": Query(corpus.q_gopher_rules, corpus._gopher_rules_sql()),
    "incremental_dedup": Query(storage.q_incremental_dedup, storage._INCREMENTAL_DEDUP_SQL),
    # untimed: the fixed-iteration loop is job scheduling at sf0.1
    "pagerank_hosts": Query(corpus.q_pagerank_hosts, corpus._pagerank_sql(), timed=False),
    "chunk_overlap": Query(corpus.q_chunk_overlap, corpus._chunk_overlap_sql()),
    # untimed: one .nc granule is catalog-scale by contract
    "nc3_scan": Query(storage.q_nc3_scan, storage._NC3_SCAN_SQL, timed=False),
    "dataset_split": Query(corpus.q_dataset_split, corpus._dataset_split_sql()),
    "zorder_index": Query(storage.q_zorder_index, storage._zorder_index_sql()),
    "range_lookup": Query(analytics.q_range_lookup, analytics._RANGE_LOOKUP_SQL),
    "priority_sample": Query(corpus.q_priority_sample, corpus._priority_sample_sql()),
    "line_dedup": Query(corpus.q_line_dedup, corpus._LINE_DEDUP_SQL),
    # N-docs scalar for the df cut
    "build_postings": Query(text.q_build_postings, text._build_postings_sql(), allow=_NLJ),
    # total-pair-slots scalar
    "cooccur_pmi": Query(text.q_cooccur_pmi, text._cooccur_pmi_sql(), allow=_NLJ),
    "text_normalize": Query(corpus.q_text_normalize, corpus._text_normalize_sql()),
    "ngram_containment": Query(text.q_ngram_containment, text._ngram_containment_sql()),
    "blocklist_filter": Query(corpus.q_blocklist_filter, corpus._blocklist_filter_sql()),
    # untimed: the trainer's per-merge argmax collect is job-scheduling-bound
    # at toy scale
    "bpe_encode": Query(corpus.q_bpe_encode, corpus._bpe_encode_sql(), timed=False),
    "bpe_merges": Query(corpus.q_bpe_merges, corpus._bpe_merges_sql(), timed=False),
    "bpe_pairs": Query(corpus.q_bpe_pairs, corpus._bpe_pairs_sql()),
    # token-total / vocab-size scalar of the unigram LM
    "ccnet_buckets": Query(corpus.q_ccnet_buckets, corpus._ccnet_buckets_sql(), allow=_NLJ),
    "corpus_diff": Query(corpus.q_corpus_diff, corpus._corpus_diff_sql()),
    "decontaminate": Query(corpus.q_decontaminate, corpus._decontaminate_sql()),
    "dup_span_islands": Query(corpus.q_dup_span_islands, corpus._dup_span_islands_sql()),
    "dup_span_removal": Query(corpus.q_dup_span_removal, corpus._dup_span_removal_sql()),
    "dup_spans": Query(corpus.q_dup_spans, corpus._dup_spans_sql()),
    "event_windows": Query(analytics.q_event_windows, analytics._EVENT_WINDOWS_SQL),
    "host_cap": Query(corpus.q_host_cap, corpus._host_cap_sql()),
    "linear_interp": Query(spatial.q_linear_interp, spatial._linear_interp_sql()),
    # Arrow-batched decode kernel (mapInPandas), never row-at-a-time
    "media_meta": Query(storage.q_media_meta, storage._media_meta_sql(), allow=_ARROW),
    "pack_sequences": Query(corpus.q_pack_sequences, corpus._pack_sequences_sql()),
    "pii_redact": Query(corpus.q_pii_redact, corpus._pii_redact_sql()),
    "salted_agg": Query(spatial.q_salted_agg, spatial._salted_agg_sql()),
    "salted_join": Query(analytics.q_salted_join, analytics._SALTED_JOIN_SQL),
    # normalizer scalar
    "temperature_sample": Query(corpus.q_temperature_sample, corpus._temperature_sample_sql(), allow=_NLJ),
    "tile_pyramid": Query(spatial.q_tile_pyramid, spatial._tile_pyramid_sql()),
    # temperature normalizer scalar
    "training_mix": Query(corpus.q_training_mix, corpus._training_mix_sql(), allow=_NLJ),
    # token-total / vocab-size scalar
    "unigram_logprob": Query(corpus.q_unigram_logprob, corpus._unigram_logprob_sql(), allow=_NLJ),
    # the rest in registration order
    "pricing_summary": Query(analytics.q_pricing_summary, analytics.Q_PRICING_SQL),
    "select_vars": Query(storage.q_select_vars, storage.Q_SELECT_VARS_SQL, timed=False),
    "exclude_vars": Query(storage.q_exclude_vars, storage.Q_EXCLUDE_VARS_SQL, timed=False),
    "mapping_rename": Query(storage.q_mapping_rename, storage.Q_MAPPING_RENAME_SQL, timed=False),
    "fill_normalize": Query(storage.q_fill_normalize, storage.Q_FILL_NORMALIZE_SQL, timed=False),
    "where_mask": Query(storage.q_where_mask, storage.Q_WHERE_MASK_SQL, timed=False),
    "bbox_filter": Query(spatial.q_bbox_filter, spatial.Q_BBOX_SQL, timed=False),
    "cell_index": Query(spatial.q_cell_index, spatial.Q_CELL_INDEX_SQL),
    "cell_rollup": Query(spatial.q_cell_rollup, spatial.Q_CELL_ROLLUP_SQL),
    "broadcast_join": Query(analytics.q_broadcast_join, analytics.Q_BROADCAST_JOIN_SQL),
    "sortmerge_join": Query(analytics.q_sortmerge_join, analytics.Q_SORTMERGE_JOIN_SQL),
    "window_dedup": Query(analytics.q_window_dedup, analytics.Q_WINDOW_DEDUP_SQL),
    # intentional exact-baseline cross product: the candidate set IS all
    # (query, base) pairs, an oracle foil for the kNN scale path
    "knn_bruteforce": Query(spatial.q_knn_bruteforce, spatial.Q_KNN_SQL, allow=_NLJ),
    # Arrow-batched exact point-in-polygon refinement kernel
    "spatial_join_rect": Query(spatial.q_spatial_join_rect, spatial.Q_SPATIAL_RECT_SQL, allow=_ARROW),
    "anti_join_resume": Query(analytics.q_anti_join_resume, analytics.Q_ANTI_JOIN_SQL, timed=False),
    "semi_join": Query(analytics.q_semi_join, analytics.Q_SEMI_JOIN_SQL, timed=False),
    "range_join_time": Query(analytics.q_range_join_time, analytics.Q_RANGE_TIME_SQL, timed=False),
    "topk_window": Query(analytics.q_topk_window, analytics.Q_TOPK_SQL, timed=False),
    "dedup_exact": Query(text.q_dedup_exact, text.Q_DEDUP_EXACT_SQL),
    "token_quality": Query(text.q_token_quality, text.Q_TOKEN_QUALITY_SQL),
    "lang_id": Query(text.q_lang_id, text._lang_id_sql(), timed=False),
    "extract_digest": Query(text.q_extract_digest, text.Q_EXTRACT_SQL),
    "tile_assign": Query(spatial.q_tile_assign, spatial.Q_TILE_SQL),
    "set_ops": Query(analytics.q_set_ops, analytics.Q_SET_OPS_SQL, timed=False),
    "scalar_funcs": Query(storage.q_scalar_funcs, storage.Q_SCALAR_SQL, timed=False),
    # intentional exact-baseline cross product, the foil for the ANN paths
    "cosine_topk": Query(text.q_cosine_topk, text.Q_COSINE_SQL, allow=_NLJ),
    "lang_pivot": Query(analytics.q_lang_pivot, analytics.Q_LANG_PIVOT_SQL),
    "rollup_counts": Query(analytics.q_rollup_counts, analytics.Q_ROLLUP_SQL),
    "percentiles": Query(analytics.q_percentiles, analytics.Q_PERCENTILES_SQL),
    "table_profile": Query(analytics.q_table_profile, analytics.Q_TABLE_PROFILE_SQL),
    "zscore_outliers": Query(analytics.q_zscore_outliers, analytics.Q_ZSCORE_SQL),
    "minhash_lsh": Query(text.q_minhash_lsh, text._minhash_sql()),
    # untimed: the iterative label-propagation loop is per-round fixed cost
    # at sf<=0.1 corpus sizes, which measures Spark job scheduling
    "neardup_components": Query(text.q_neardup_components, text._components_sql(), timed=False),
    "stratified_sample": Query(corpus.q_stratified_sample, corpus._stratified_sample_sql()),
    "asof_join": Query(analytics.q_asof_join, analytics._asof_sql()),
    "sessionize": Query(analytics.q_sessionize, analytics._sessionize_sql()),
    # Arrow-batched rolling-hash kernel, never row-at-a-time
    "winnowing": Query(text.q_winnowing, text._winnowing_sql(), allow=_ARROW),
    "simhash": Query(text.q_simhash, text._simhash_sql()),
    "simhash_neardup": Query(text.q_simhash_neardup, text._simhash_neardup_sql(), timed=False),
    "ngram_jaccard": Query(text.q_ngram_jaccard, text._ngram_jaccard_sql(), timed=False),
    "embed_neardup": Query(text.q_embed_neardup, text._embed_neardup_sql(), timed=False),
    "ann_lsh": Query(text.q_ann_lsh, text._ann_lsh_sql()),
    "ann_multiprobe": Query(text.q_ann_multiprobe, text._ann_multiprobe_sql()),
    "ann_ivf": Query(text.q_ann_ivf, text._ann_ivf_sql()),
    # corpus-stats scalar
    "bm25": Query(text.q_bm25, text._bm25_sql(), allow=_NLJ),
    "url_canon": Query(corpus.q_url_canon, corpus._url_canon_sql(), timed=False),
    "repetition_filter": Query(corpus.q_repetition_filter, corpus._repetition_filter_sql(), timed=False),
    "knn_kring": Query(spatial.q_knn_kring, spatial._knn_kring_sql()),
    "lineage_rows": Query(spatial.q_lineage_rows, spatial._lineage_sql()),
}
