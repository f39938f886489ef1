"""Query plan registry — every operator from SURVEY.md §2 Table B.

Importing this package registers all queries; ``registry.QUERIES`` /
``registry.ORACLES`` are what ``__spark_entry__.py`` exposes to the
driver.
"""

from tstables_spark.plans import registry  # noqa: F401


def _load_all() -> None:
    # Import side-effect registers the queries with the registry.
    #
    # ORDER IS LOAD-BEARING: the external verify harness records a fixed
    # window of the FIRST 50 registered queries per round. Modules are
    # imported in priority order — the engine's core identity
    # (time-series, streaming, scalar/udf surface, this round's new ANN
    # queries) first, the already-multiply-verified relational/pipeline
    # tails last — so the queries with the least verification history
    # land inside the window. Do NOT alphabetize.
    from tstables_spark.plans import (  # noqa: F401
        timeseries,
        streaming_q,
        scalars,
        ann,
        analytics,
        filtering,
        relational,
        pipeline,
        llm,
    )

    # Verification window: the driver's correctness gate checks the
    # FIRST 50 registered queries. Standing policy: the reference
    # identity pair stays pinned first; then every query whose
    # implementation, or any helper it consumes (_staging, _local,
    # operators/*), changed since its last green driver row; then
    # leftovers a previous rotation missed; then backfill with the
    # oldest driver evidence. Rows-only queries count like any other.
    # Everything displaced is hash-green in an earlier round with an
    # unchanged implementation and is covered by tests/test_parity.py.
    # Per-round reasoning lives in CHANGES.md.
    registry.prioritize(
        [
            # reference identity, pinned
            "ts_range_scan", "ts_min_max",
            # changed storage path (tstable.py's shared layout writer
            # and per-partition swap; streaming/ingest.py's compaction)
            "ts_create_append", "ts_compact", "ts_upsert",
            "ts_schema_evolve", "ts_partitions", "ts_retention_purge",
            "ts_time_travel", "ts_catalog", "ts_multi_series_align",
            "ts_read_at", "stream_ingest", "stream_upsert",
            # oldest evidence backfill to the cut
            "ts_twap", "ts_watermark_lateness", "ts_xcorr_lags",
            "ts_seasonal_decompose", "ts_motif", "sim_knn_graph",
            "sink_orc_roundtrip", "sim_topk", "multimodal_dedup",
            "win_zscore", "fn_array", "fn_map", "fn_json",
            "udf_scalar_pandas", "udaf_grouped_agg", "sim_nsw",
            "scan_parquet", "project_filter", "join_broadcast",
            "join_shuffle", "join_salted", "set_except", "sample_hash",
            "split_train_test", "vocab_topk", "dedup_simhash_pairs",
            "doc_top_terms", "embed_centroid", "dedup_exact",
            "dedup_editdist", "text_stats", "token_count", "lang_id",
            "quality_score", "doc_fingerprint", "dedup_prefix",
        ]
    )

_load_all()
