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
            # changed staging or pin path (stage_once, pin,
            # _directed_edges, minhash pins, CC round alias, kn gate)
            "scan_csv", "scan_json", "join_bucketed",
            "join_asof_presorted", "join_asof_forward_presorted",
            "join_asof_nearest_presorted", "join_asof_tolerance_presorted",
            "join_asof_epochs", "join_asof_multi_presorted",
            "ts_epoch_lifecycle", "ts_epoch_recovery",
            "sim_nsw_staged", "sim_recall",
            "stream_append_windows", "stream_asof", "stream_bloom",
            "stream_cms", "stream_dedup", "stream_enrich",
            "stream_heavy_hitters", "stream_ingest", "stream_join",
            "stream_kll_gate", "stream_ohlc", "stream_pattern",
            "stream_qsketch", "stream_sliding", "stream_stateful",
            "stream_tumbling",
            "graph_pagerank", "graph_kcore", "graph_triangles",
            "graph_triangles_approx", "graph_triangles_gate",
            "dedup_minhash", "dedup_clusters", "dedup_cluster_sizes",
            "dedup_embed_clusters", "lm_kn_score",
            # leftover from the previous rotation
            "assoc_rules",
            # oldest evidence backfill to the cut
            "ts_create_append", "sink_parquet_partitioned", "ts_compact",
            "ts_upsert", "ts_schema_evolve", "ts_partitions",
            "ts_cross_rank", "ts_retention_purge",
        ]
    )


_load_all()
