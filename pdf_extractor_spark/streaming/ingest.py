"""Structured Streaming ingest: continuous extraction as crawl files land.

The batch plan (plans/extract_plan.py) is the north_rule's primary
topology; this module is the SAME extraction stage mounted on a
`readStream` file source for deployments where pages arrive continuously
(e.g. a crawler drops parquet files into a landing directory):

    readStream.parquet(landing_dir)
      → extract_stage                     (identical stage, identical plan)
      → foreachBatch: IceTable.append + lineage row per micro-batch
      trigger: availableNow (catch-up-and-stop) or processingTime

Semantics: exactly-once end to end. The streaming file source +
checkpoint gives exactly-once *source* tracking (each input file is
processed in exactly one micro-batch, recorded in the checkpoint's file
log), and the sink commit is IDEMPOTENT: every IceTable append embeds a
per-stream progress marker (`stream_batches[stream_id] = batch_id`,
stream_id derived from the checkpoint location) in the snapshot json —
the same atomic rename that publishes the data — so a micro-batch
replayed after a crash between append and checkpoint commit is detected
(its batch_id is <= the marker; batch ids are monotonic per checkpoint)
and skipped, while a stream restarted with a FRESH checkpoint gets a
fresh marker and is never misread as a replay. Maintenance commits
(compact/GC) carry markers forward (IceTable._commit preserves non-core
snapshot keys). This is the standard foreachBatch "transactional sink
via batchId" pattern; `tests/test_streaming.py` replays a committed
batch and asserts zero duplicate rows.

Lineage is exactly-once too, via self-healing rather than atomicity: the
lineage append is a separate write after the table commit, so a crash in
between loses it — but every output row carries its `batch_id`, and the
replay-skip path detects the missing rows and backfills them from the
committed table (`_backfill_lineage`), restoring the invariant before
the stream advances.

No watermarks/stateful ops are needed: extraction is stateless per row
(the reference is a stateless request handler — SURVEY.md §2.1
"Streaming: none"); this is pure source→map→sink streaming.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.operators.extract import (
    extract_stage,
    with_partition_date,
)
from pdf_extractor_spark.plans.lineage import LineageLog
from pdf_extractor_spark.tables.icetable import IceTable
from pdf_extractor_spark.version import EXTRACTOR_VERSION

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _backfill_lineage(
    batch_df: DataFrame,
    batch_id: int,
    extracted_tbl,
    lineage,
    stream_id: str,
) -> bool:
    """Heal the one non-atomic window in the micro-batch commit: the
    lineage append runs AFTER the marker-carrying table commit, so a
    crash between the two permanently loses that batch's lineage rows —
    the replay is (correctly) skipped by the marker check and would never
    rewrite them. On the replay-skip path, check whether lineage rows for
    this batch exist; if not, recount the batch's rows straight from the
    COMMITTED table (every output row carries its ``batch_id`` AND
    ``stream_id``, so the committed data itself is the recovery record,
    correctly scoped when several streams share one table) and append
    them. The intact-check is scoped too: each stream writes its OWN
    lineage log directory (see ``stream_extract``) — a shared log would
    let another stream's batch-N rows mask this stream's loss, since
    batch ids restart from 0 per checkpoint.

    This is a crash-recovery-only path (a replay happens at most once per
    crash), so the table filter-scan here is acceptable; the hot path
    still never re-scans the table. Returns True when rows were
    backfilled."""
    if any(
        r["input_snapshot_id"] == batch_id for r in lineage.records()
    ):
        return False  # lineage intact — the normal replay case
    ss = batch_df.sparkSession
    committed = extracted_tbl.read(ss)
    if not {"batch_id", "stream_id"} <= set(committed.columns):
        # legacy table: rows committed by the pre-stream_id code carry no
        # batch provenance columns — filtering on them would raise
        # AnalysisException and crash the stream. Nothing is recoverable
        # for such rows; skip the backfill instead of dying (the
        # warehouse-format note lives in STATE.md).
        return False
    counts = {
        row["partition_date"]: row["n"]
        for row in committed
        .filter(
            (F.col("batch_id") == batch_id)
            & (F.col("stream_id") == stream_id)
        )
        .groupBy("partition_date")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    lineage.append(
        [
            {
                "partition_date": str(p),
                "input_snapshot_id": batch_id,
                "rows_in": n,
                "rows_out": n,
                "extractor_version": EXTRACTOR_VERSION,
                "wall_time_s": 0.0,  # original timing lost with the crash
                "attempt": 2,  # marks the row as a replay-path backfill
                "status": "ok",
            }
            for p, n in sorted(counts.items())
        ]
    )
    return bool(counts)


def commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    extracted_tbl: IceTable,
    lineage: LineageLog,
    stream_id: str = "default",
) -> bool:
    """Idempotent micro-batch commit: extract, append, record lineage.
    Returns False (and writes NOTHING) when this batch_id was already
    committed — the replay path after a crash between the table commit
    and the streaming checkpoint commit. The progress marker rides in the
    snapshot json itself, so marker and data are one atomic rename.

    Markers are scoped PER STREAM (``stream_id`` = a digest of the
    checkpoint location): Structured Streaming batch ids are monotonic
    only within one checkpoint, so a stream restarted against a fresh
    checkpoint dir gets a fresh marker and its batches (re-numbered from
    0) are never misread as replays of the old stream's."""
    snap = extracted_tbl.current_snapshot()
    committed = (snap or {}).get("stream_batches", {}).get(stream_id, -1)
    if batch_id <= committed:
        # exactly-once: replayed batch, already in the table. The table
        # data needs nothing — but lineage.append is a separate write
        # AFTER the marker-carrying commit, so a crash in that window
        # leaves the batch committed with no lineage rows, and skipping
        # silently here would lose them forever. Detect and heal.
        _backfill_lineage(
            batch_df, batch_id, extracted_tbl, lineage, stream_id
        )
        return False
    t0 = time.monotonic()
    out = (
        with_partition_date(extract_stage(batch_df))
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .withColumn("stream_id", F.lit(stream_id))
    )
    # the marker MERGE runs inside the table's commit lock against the
    # then-current snapshot (merge_extra): computing the marker map here
    # from the snapshot read above would let a concurrent stream's
    # commit land in between and get its marker silently rolled back —
    # breaking ITS exactly-once skip on replay. Only this stream's key
    # is written; Structured Streaming serializes batches within one
    # query, so the upfront replay check stays race-free for our key.
    _, added = extracted_tbl.append_tracked(
        out,
        merge_extra=lambda prev: {
            "stream_batches": {
                **prev.get("stream_batches", {}),
                stream_id: batch_id,
            }
        },
    )
    # count ONLY this batch's files — never re-scan the table (which
    # grows without bound over the stream's lifetime)
    ss = batch_df.sparkSession
    counts = {
        p: ss.read.parquet(*files).count()
        for p, files in sorted(added.items())
    }
    lineage.append(
        [
            {
                "partition_date": str(p),
                "input_snapshot_id": batch_id,
                "rows_in": n,
                "rows_out": n,
                "extractor_version": EXTRACTOR_VERSION,
                "wall_time_s": time.monotonic() - t0,
                "attempt": 1,
                "status": "ok",
            }
            for p, n in sorted(counts.items())
        ]
    )
    return True


def stream_extract(
    spark: SparkSession,
    landing_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "30 seconds",
    max_files_per_trigger: int | None = None,
):
    """Start the streaming extraction; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in ``landing_dir``
    and stops — the streaming analog of one batch catch-up run, and what
    the tests use. ``max_files_per_trigger`` bounds micro-batch size (the
    streaming analog of partition-sized work units)."""
    extracted_tbl = IceTable(f"{warehouse}/extracted_stream")

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(landing_dir)

    import hashlib as _hashlib
    import os as _os

    stream_id = _hashlib.md5(
        _os.path.abspath(checkpoint_dir).encode("utf-8")
    ).hexdigest()[:12]
    # lineage is scoped PER STREAM: batch ids restart from 0 for every
    # fresh checkpoint, so a shared log cannot distinguish "this
    # stream's batch N" from another's — which would break both the
    # backfill intact-check and resume-style audits
    lineage = LineageLog(f"{warehouse}/lineage_stream/{stream_id}")

    writer = (
        pages.writeStream.foreachBatch(
            lambda batch_df, batch_id: commit_batch(
                batch_df, batch_id, extracted_tbl, lineage, stream_id
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName("extract_pages_stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
