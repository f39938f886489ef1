"""Streaming ingest into the TimeSeriesTable layout.

``ingest_stream`` is the Structured Streaming twin of
``TimeSeriesTable.append`` (A3): file/rate/kafka source ->
date-partitioned parquet sink. Exactly-once is inherited from the file
sink's commit log + checkpointing. Lateness on THIS path is unbounded
by design: a stateless append sink neither drops nor bounds late rows
(a watermark has no behavioral effect without a stateful operator), and
that is precisely what makes the ingest lossless — the stream_ingest
oracle hash-matches the whole fixture. Late-data BOUNDS belong to the
stateful queries downstream (windowed aggs, dedup), which set their own
watermarks. At scale the only extra concern is small files (one file
per partition per micro-batch): compact_series is the OPTIMIZE-style
rewrite job (SURVEY.md §4's file-layout compactor) that coalesces a
partition's files and restores the in-file ts sort, run periodically
out-of-band — with the stream STOPPED or between availableNow runs
(see compact_series). It writes and swaps through the same layout
writer and per-partition swap as ``TimeSeriesTable.upsert``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tstables_spark.tstable import (
    DATE_COL,
    _META_FILE,
    _fs_delete,
    _fs_exists,
    _fs_read_text,
    _rewrite_dates,
)


def ingest_stream(
    src: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    available_now: bool = True,
    compression: str = "zstd",
) -> StreamingQuery:
    """Start a streaming write into the engine's layout.

    ``watermark`` is declared for downstream stateful consumers sharing
    this plan; on the sink itself it is a NO-OP (stateless append — no
    rows are dropped however late, which is what keeps ingest lossless).

    Read-performance caveat (correctness is unaffected): streaming
    DataFrames cannot ``sortWithinPartitions``, so freshly ingested files
    are NOT ts-sorted and ``read_range`` loses parquet row-group min/max
    skipping on them until ``compact_series`` rewrites the partition.
    The degraded window is bounded only by compaction cadence — run
    ``compact_series(..., dates=[<recent days>])`` frequently (cheap: it
    rewrites only those partitions) BETWEEN availableNow ingest runs or
    with the continuous stream stopped, and the full-table variant on a
    slower schedule.
    """
    out = src.withWatermark(ts_col, watermark).withColumn("date", F.to_date(F.col(ts_col)))
    # INT96 (Spark's default) would strip ts min/max stats from every
    # ingested file — see session.py; set here too so a bare caller
    # session still writes skippable files.
    src.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .option("compression", compression)  # A9: series codec
        .partitionBy("date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_series(
    spark: SparkSession,
    path: str,
    files_per_day: int = 1,
    dates: list | None = None,
    compression: str | None = None,
) -> None:
    """OPTIMIZE-style rewrite: coalesce each date partition's micro-batch
    files down to ``files_per_day`` and restore the in-file ts sort.

    The rewrite goes through the series layout writer
    (``tstable._write_layout``): one shuffle keyed on the date (plus a
    ts-hash bucket when ``files_per_day > 1``), so every day produces at
    most ``files_per_day`` sorted files regardless of day count, and the
    rewrite parallelizes across days (x buckets) on a cluster.

    ``dates=None`` compacts every date partition; ``dates=[...]`` only
    those (partition pruning keeps the read to just them) — the cheap
    path to run frequently on the hot days a stream is appending to.
    Either way each rewritten ``date=`` dir is swapped in individually
    by ``tstable.swap_date_partitions``: every rename's boolean return is
    checked, a leftover ``__precompact`` dir from a crashed prior run
    aborts the swap before any destructive step, and the series root
    (with its ``_ts_meta.json`` and ``_ts_versions``) is never moved.

    The streaming file-sink's ``_spark_metadata`` commit log is dropped:
    it enumerates the pre-compaction files, and a reader that trusts it
    would look for files the rewrite replaced. After the first
    compaction the table is a plain parquet tree (batch readers list the
    directory; the stream's own exactly-once bookkeeping lives in its
    checkpoint, not the sink log) — the same trade a table-format
    OPTIMIZE makes explicit. RUN WITH THE WRITING STREAM STOPPED (or
    between availableNow runs): an active sink would recreate the log
    listing only post-compaction batches, silently hiding every other
    file from batch readers.

    A9 knobs: ``compression=None`` (default) uses the codec persisted in
    the series' ``_ts_meta.json`` (falling back to zstd for a bare
    parquet tree), and the series' ``max_records_per_file`` cap is
    applied to the rewrite — a compaction must not silently change the
    storage contract ``create()`` promised."""
    meta_codec, max_rpf = "zstd", None
    mpath = f"{path}/{_META_FILE}"
    # A bare parquet tree simply has no meta file; if the meta EXISTS,
    # a read/parse failure must propagate — silently falling back to
    # zstd/uncapped would be exactly the storage-contract change this
    # lookup exists to prevent.
    if _fs_exists(spark, mpath):
        meta = json.loads(_fs_read_text(spark, mpath))
        meta_codec = meta.get("compression", "zstd")
        max_rpf = meta.get("max_records_per_file")
    # Drop a streaming sink's _spark_metadata BEFORE the read, not just
    # at swap time: spark.read.parquet TRUSTS the sink log when present
    # and would list only log-registered files — batch-appended files
    # would be excluded from the rewrite and then deleted with the old
    # partitions. (The stream must be stopped anyway — see above.)
    _fs_delete(spark, f"{path}/_spark_metadata")
    df = spark.read.parquet(path)
    if dates is not None:
        df = df.where(F.col(DATE_COL).cast("string").isin([str(d) for d in dates]))
    _rewrite_dates(
        spark,
        path,
        df,
        compression if compression is not None else meta_codec,
        max_rpf,
        files_per_day,
    )
