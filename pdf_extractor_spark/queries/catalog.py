"""The query catalog: name → (Spark DataFrame query, DuckDB oracle SQL).

This is the single source of truth consumed by `__spark_entry__.py`
(driver correctness gate), `bench.py` (per-query timings), and
`tests/test_queries_oracle.py` (local mirror of the driver's comparison).

Every entry carries an oracle. Queries whose computation is not
SQL-expressible (binary payload parsing: extraction, media decode) are
oracle-checked against EXPECTED-OUTPUT fixtures: parquet computed by the
pure-Python implementations (ref_extractor, multimodal decoders) over the
committed micro corpora — see scripts/build_expected_oracles.py. Their
oracle SQL is a plain SELECT over the expected parquet, so the driver's
hash gate still value-compares the Spark Arrow-batch path against an
independent non-Spark execution.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.queries import (
    contamination,
    robots,
    corpus_select as cs,
    dedup,
    graph,
    links,
    pii,
    urlnorm,
    relational,
    similarity,
    temporal,
    textstats,
    webtext,
)

REPO_ROOT = Path(__file__).resolve().parent.parent.parent


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


def _expected_sql(name: str, cols: str) -> str:
    """Oracle over an expected-output fixture (pure-Python computed)."""
    path = REPO_ROOT / "fixtures" / "golden" / "expected" / f"{name}.parquet"
    return f"SELECT {cols} FROM '{path}'"


def extract_first_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16's 'first page only' semantic (/root/reference/
    pdf_processor.py:517 analyzes page 1 only): select the first kept
    block of each document via element_at over the blocks ARRAY<STRUCT>.
    Rows-only (operates on the extraction output's nested column)."""
    from pdf_extractor_spark.operators.extract import extract_stage

    pages = spark.read.parquet(
        str(REPO_ROOT / "fixtures" / "golden" / "pages_micro.parquet")
    )
    kept = "filter(blocks, b -> b.kept)"
    return (
        extract_stage(pages)
        .filter(F.expr(f"size({kept}) > 0"))
        .select(
            "url",
            F.expr(f"element_at({kept}, 1).text").alias("first_block_text"),
            F.expr(f"element_at({kept}, 1).tag_path").alias("first_block_path"),
        )
    )


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join run to completion as two
    Trigger.AvailableNow file streams: clicks ⋈ same-user purchases in
    the trailing 10 minutes. Inner-join matches emit without waiting on
    the watermark (it only bounds state), so the landed-file run equals
    the batch inequality join — gated against DuckDB's native IEJoin."""
    import tempfile

    from pdf_extractor_spark.queries.relational import _events
    from pdf_extractor_spark.streaming.joins import interval_join

    tmp = tempfile.mkdtemp(prefix="stream_ij_")
    c_dir, p_dir = f"{tmp}/clicks", f"{tmp}/purchases"
    out_dir, ck = f"{tmp}/out", f"{tmp}/ck"
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        ev = _events(spark, sf_dir).select(
            F.col("event_id").cast("long").alias("id"),
            F.col("user_id").cast("long").alias("user"),
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
        )
        ev.filter("event_type = 'click'").selectExpr(
            "id AS c_id", "user AS c_user", "ts AS c_ts"
        ).coalesce(1).write.parquet(c_dir)
        ev.filter("event_type = 'purchase'").selectExpr(
            "id AS p_id", "user AS p_user", "ts AS p_ts"
        ).coalesce(1).write.parquet(p_dir)

        clicks = spark.readStream.schema(
            "c_id long, c_user long, c_ts timestamp"
        ).parquet(c_dir)
        purchases = spark.readStream.schema(
            "p_id long, p_user long, p_ts timestamp"
        ).parquet(p_dir)
        q = (
            interval_join(clicks, purchases)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(tz_key, prev_tz)
    return spark.read.schema(
        "click_id long, purchase_id long, user_id long, "
        "click_us long, purchase_us long, gap_us long"
    ).parquet(out_dir)


def _stream_interval_join_sql() -> str:
    from pdf_extractor_spark.streaming.joins import JOIN_WINDOW_S

    w = JOIN_WINDOW_S * 1_000_000
    return f"""
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(c.user_id AS BIGINT) AS user_id,
       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) <= epoch_us(c.ts)
 AND epoch_us(c.ts) < epoch_us(p.ts) + {w}
"""


def text_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (Dolma/C4-style): zlib level 6
    over the extracted text, composed as extraction stage -> Arrow-batch
    compress stage. ratio_pm = compressed*1000 DIV utf-8 bytes; LOW
    flags repetitive/boilerplate documents. Not SQL-expressible (DuckDB
    has no deflate), so the oracle is the expected-output fixture from
    the pure-Python path — the same zlib, byte-for-byte."""
    from pdf_extractor_spark.operators.extract import extract_stage

    pages = spark.read.parquet(
        str(REPO_ROOT / "fixtures" / "golden" / "pages_micro.parquet")
    )
    ext = extract_stage(pages, with_blocks=False).select(
        "url", "extracted_text"
    )

    def comp(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["extracted_text"]]
            nb = [len(x) for x in raw]
            nc = [len(zlib.compress(x, 6)) for x in raw]
            yield pd.DataFrame(
                {"url": pdf["url"], "n_bytes": nb, "n_compressed": nc}
            )

    return ext.mapInPandas(
        comp, "url string, n_bytes bigint, n_compressed bigint"
    ).select(
        "url",
        "n_bytes",
        "n_compressed",
        F.expr("n_compressed * 1000 DIV greatest(n_bytes, 1)").alias(
            "ratio_pm"
        ),
    )


def warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX random-access index of the committed WARC corpus: one row per
    response record with the byte offset/length of its gzip member —
    the Common Crawl artifact that lets a fetcher pull ONE document out
    of a 1 GB archive with a ranged read. Same file-parallel
    binaryFile -> mapInArrow shape as the reader; the seek round-trip
    (raw[offset:offset+length] gunzips to exactly that record) is
    proven in tests/test_warc_cdx.py."""
    import datetime as _dt

    from pdf_extractor_spark.sources.warc import iter_warc_cdx

    path = str(REPO_ROOT / "fixtures" / "golden" / "warc_micro")
    files = spark.read.format("binaryFile").load(f"{path}/*.warc.gz")
    epoch = _dt.datetime(1970, 1, 1)
    us = _dt.timedelta(microseconds=1)

    def idx(batches):
        import os

        import pyarrow as pa

        for batch in batches:
            paths = batch.column("path")
            contents = batch.column("content")
            cols: dict[str, list] = {
                "file": [], "offset": [], "length": [],
                "url": [], "ts_us": [], "payload_md5": [],
            }
            for i in range(batch.num_rows):
                fname = os.path.basename(paths[i].as_py())
                try:
                    for off, ln, url, ts, dig in iter_warc_cdx(
                        contents[i].as_py()
                    ):
                        cols["file"].append(fname)
                        cols["offset"].append(off)
                        cols["length"].append(ln)
                        cols["url"].append(url)
                        cols["ts_us"].append((ts - epoch) // us)
                        cols["payload_md5"].append(dig)
                except Exception:  # noqa: BLE001 — O23: drop file tail
                    pass
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["file"], pa.string()),
                    pa.array(cols["offset"], pa.int64()),
                    pa.array(cols["length"], pa.int64()),
                    pa.array(cols["url"], pa.string()),
                    pa.array(cols["ts_us"], pa.int64()),
                    pa.array(cols["payload_md5"], pa.string()),
                ],
                names=[
                    "file", "offset", "length", "url", "ts_us",
                    "payload_md5",
                ],
            )

    return files.select("path", "content").mapInArrow(
        idx,
        "file string, offset bigint, length bigint, url string, "
        "ts_us bigint, payload_md5 string",
    )


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN stateful streaming operator inside the hash gate
    (complementing the custom applyInPandasWithState sessionizer):
    watermarked 10-minute tumbling-window counts per event_type, run to
    completion as a Trigger.AvailableNow file stream and gated against
    a plain GROUP BY oracle.

    Mechanics mirror stream_sessions: one landing parquet file (single
    micro-batch — nothing can trail the watermark), plus a sentinel
    event 400 days ahead so the closing no-data micro-batch's watermark
    passes every REAL window's end and append mode emits them all; the
    sentinel's own window is filtered from the result. UTC-pinned for
    the run; the returned plan reads back tz-independent unix_micros."""
    import tempfile

    from pdf_extractor_spark.queries.relational import _events
    from pdf_extractor_spark.streaming.windows import windowed_counts

    tmp = tempfile.mkdtemp(prefix="stream_windows_")
    landing, out_dir, ck = f"{tmp}/landing", f"{tmp}/out", f"{tmp}/ck"
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        ev = _events(spark, sf_dir).select(
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_type").cast("string").alias("event_type"),
            F.col("value").cast("double").alias("value"),
        )
        sentinel = ev.agg(
            F.expr(
                "CAST(max(ts) + INTERVAL 400 DAYS AS TIMESTAMP) AS ts"
            ),
            F.expr("'__sentinel__' AS event_type"),
            F.expr("CAST(0.0 AS DOUBLE) AS value"),
        )
        ev.unionByName(sentinel).coalesce(1).write.parquet(landing)

        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(landing)
        q = (
            windowed_counts(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(tz_key, prev_tz)

    return (
        spark.read.parquet(out_dir)
        .filter(F.col("event_type") != "__sentinel__")
        .select(
            F.expr("unix_micros(window_start)").alias("window_start_us"),
            F.expr("unix_micros(window_end)").alias("window_end_us"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("value_cents").cast("long").alias("value_cents"),
        )
    )


def _stream_window_counts_sql() -> str:
    from pdf_extractor_spark.streaming.windows import WINDOW_S

    w = WINDOW_S * 1_000_000
    return f"""
SELECT CAST((epoch_us(ts) // {w}) * {w} AS BIGINT) AS window_start_us,
       CAST((epoch_us(ts) // {w}) * {w} + {w} AS BIGINT) AS window_end_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
GROUP BY 1, 2, 3
"""


def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HOPPING (sliding) variant of stream_window_counts: 10-minute
    windows every 5 minutes, so each event is counted in exactly 2
    overlapping windows — the overlapping-window state shape (state
    rows x WIN/SLIDE, still volume-independent). Same mechanics: one
    landing file + far-future sentinel, Trigger.AvailableNow, append
    mode; oracle = each event joined to its 2 window starts."""
    import tempfile

    from pdf_extractor_spark.queries.relational import _events
    from pdf_extractor_spark.streaming.windows import (
        SLIDE_S,
        windowed_counts,
    )

    tmp = tempfile.mkdtemp(prefix="stream_sliding_")
    landing, out_dir, ck = f"{tmp}/landing", f"{tmp}/out", f"{tmp}/ck"
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        ev = _events(spark, sf_dir).select(
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_type").cast("string").alias("event_type"),
            F.col("value").cast("double").alias("value"),
        )
        sentinel = ev.agg(
            F.expr(
                "CAST(max(ts) + INTERVAL 400 DAYS AS TIMESTAMP) AS ts"
            ),
            F.expr("'__sentinel__' AS event_type"),
            F.expr("CAST(0.0 AS DOUBLE) AS value"),
        )
        ev.unionByName(sentinel).coalesce(1).write.parquet(landing)

        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(landing)
        q = (
            windowed_counts(stream, slide_s=SLIDE_S)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(tz_key, prev_tz)

    return (
        spark.read.parquet(out_dir)
        .filter(F.col("event_type") != "__sentinel__")
        .select(
            F.expr("unix_micros(window_start)").alias("window_start_us"),
            F.expr("unix_micros(window_end)").alias("window_end_us"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("value_cents").cast("long").alias("value_cents"),
        )
    )


def _stream_window_sliding_sql() -> str:
    from pdf_extractor_spark.streaming.windows import SLIDE_S, WINDOW_S

    w = WINDOW_S * 1_000_000
    s = SLIDE_S * 1_000_000
    return f"""
SELECT CAST(ws AS BIGINT) AS window_start_us,
       CAST(ws + {w} AS BIGINT) AS window_end_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM (
  SELECT (epoch_us(ts) // {s}) * {s} - k * {s} AS ws,
         event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events CROSS JOIN range({w // s}) r(k)
)
GROUP BY 1, 2, 3
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup inside the hash gate: the events
    fixture is landed TWICE — the full table, then a replayed slice
    (event_id % 3 = 0) — as two single-file micro-batches, and
    `dropDuplicatesWithinWatermark` (streaming/dedup.py) must suppress
    every replay ACROSS the batch boundary (state carried between
    micro-batches, not within-batch distinct). Watermark delay is far
    (4000 days) so no key evicts during the run; the eviction trade is
    pinned separately in tests/test_stream_dedup.py. Oracle: the
    deduped stream equals the original events table."""
    import os
    import tempfile
    import time

    from pdf_extractor_spark.queries.relational import _events
    from pdf_extractor_spark.streaming.dedup import dedup_stream

    tmp = tempfile.mkdtemp(prefix="stream_dedup_")
    landing, out_dir, ck = f"{tmp}/landing", f"{tmp}/out", f"{tmp}/ck"
    os.makedirs(landing)
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        ev = _events(spark, sf_dir).select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type").cast("string").alias("event_type"),
        )
        now = time.time()
        for i, (name, batch) in enumerate(
            [("a", ev), ("b", ev.filter(F.col("event_id") % 3 == 0))]
        ):
            d = f"{landing}/{name}.parquet"
            batch.coalesce(1).write.parquet(d)
            mt = now - 300 + i * 60  # batch order follows mtime
            for f_ in os.listdir(d):
                os.utime(os.path.join(d, f_), (mt, mt))
            os.utime(d, (mt, mt))

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{landing}/*.parquet")
        )
        q = (
            dedup_stream(stream, ["event_id"], watermark="4000 days")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(tz_key, prev_tz)

    return spark.read.parquet(out_dir).select(
        "event_id",
        F.expr("unix_micros(ts)").alias("ts_us"),
        "user_id",
        "event_type",
    )


STREAM_DEDUP_SQL = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       epoch_us(ts) AS ts_us,
       CAST(user_id AS BIGINT) AS user_id,
       event_type
FROM events
"""


def extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction pipeline (SURVEY.md §4.3) over the committed
    micro corpus: binary payload → content-type dispatch → HTML DOM /
    PDF layout parse → extracted text. Not DuckDB-expressible (binary
    payload parsing); byte-identity per url is asserted against golden
    fixtures in tests/test_golden_bytes.py instead."""
    from pdf_extractor_spark.operators.extract import extract_stage

    pages = spark.read.parquet(
        str(REPO_ROOT / "fixtures" / "golden" / "pages_micro.parquet")
    )
    return extract_stage(pages).select(
        "url",
        "doc_type",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5("extracted_text").alias("text_md5"),
    )


def warc_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC connector inside the driver's hash gate: read the
    committed .warc.gz micro fixture (the SAME 200 documents as
    pages_micro, written as 4 Common-Crawl-layout archives), extract,
    and emit the extract_pages output shape. The oracle is the SAME
    expected-output parquet as extract_pages — passing proves the WARC
    record round-trip (gzip members, HTTP framing, payload recovery) is
    byte-lossless end to end, not just row-countable."""
    from pdf_extractor_spark.operators.extract import extract_stage
    from pdf_extractor_spark.sources.warc import read_warc

    pages = read_warc(
        spark, str(REPO_ROOT / "fixtures" / "golden" / "warc_micro")
    )
    return extract_stage(pages).select(
        "url",
        "doc_type",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5("extracted_text").alias("text_md5"),
    )


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful streaming sessionizer INSIDE the driver's hash gate
    (round-4; previously only transitively verified via the batch-twin
    parity test): run the events table through the
    ``applyInPandasWithState`` operator (streaming/sessions.py) as a
    ``Trigger.AvailableNow`` file stream to completion, then emit the
    batch twin's exact integer-microsecond shape — gated against the
    SAME ``EVENT_SESSIONS_SQL`` oracle ``event_sessions`` uses.

    Mechanics: events land in a scratch dir as ONE parquet file (single
    micro-batch, so no event can trail the watermark) plus a sentinel
    row (user_id -1) far past every session's close — the post-batch
    timeout pass then closes every REAL session while the sentinel's own
    stays open and is never emitted. The session TZ is pinned to UTC for
    the eager streaming run so the NTZ event times round-trip the
    pandas/Arrow timestamp boundary unchanged; the returned plan reads
    the result parquet via tz-independent ``unix_micros``."""
    import tempfile

    from pyspark.sql import Window

    from pdf_extractor_spark.queries.relational import (
        SESSION_GAP_S,
        _events,
    )
    from pdf_extractor_spark.streaming.sessions import sessionize

    tmp = tempfile.mkdtemp(prefix="stream_sessions_")
    landing, out_dir, ck = f"{tmp}/landing", f"{tmp}/out", f"{tmp}/ck"
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        ev = _events(spark, sf_dir).select(
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("value").cast("double").alias("value"),
        )
        sentinel = ev.agg(
            F.expr(
                "CAST(max(ts) + INTERVAL 400 DAYS AS TIMESTAMP) AS ts"
            ),
            F.expr("CAST(-1 AS BIGINT) AS user_id"),
            F.expr("CAST(0.0 AS DOUBLE) AS value"),
        )
        ev.unionByName(sentinel).coalesce(1).write.parquet(landing)

        stream = spark.readStream.schema(
            "ts timestamp, user_id long, value double"
        ).parquet(landing)
        q = (
            sessionize(stream, gap_seconds=SESSION_GAP_S,
                       watermark="10 seconds")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(tz_key, prev_tz)

    w = Window.partitionBy("user_id").orderBy("session_start_us")
    return (
        spark.read.parquet(out_dir)
        .filter(F.col("user_id") >= 0)  # the sentinel never closes; belt
        .select(
            "user_id",
            F.expr("unix_micros(session_start)").alias("session_start_us"),
            F.expr("unix_micros(session_end)").alias("session_end_us"),
            "n_events",
            "value_cents",
        )
        .withColumn("session_seq", F.row_number().over(w).cast("long"))
        .withColumn(
            "duration_us", F.expr("session_end_us - session_start_us")
        )
        .select(
            "user_id", "session_seq", "session_start_us",
            "session_end_us", "n_events", "value_cents", "duration_us",
        )
    )


def _media(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(
        str(REPO_ROOT / "fixtures" / "golden" / "media_micro.parquet")
    )


def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: decode PPM images + luma feature extraction inside an
    Arrow-batch UDF; per-row error column for undecodable payloads (O23).
    Binary decode is not DuckDB-expressible — plumbing verified by
    tests/test_multimodal.py against direct numpy computation."""
    from pdf_extractor_spark.operators.multimodal import image_features

    return image_features(_media(spark).filter(F.col("kind") == "image"))


def media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: thumbnail every image to 32x32 (nearest-neighbor,
    re-encoded PPM) inside the Arrow-batch stage — the 'resize' verb of
    the decode/feature/resize/frame-sample family. The binary thumb is
    hash-compared via md5 so the expected-output oracle stays a plain
    string table."""
    from pdf_extractor_spark.operators.multimodal import resize_images

    return resize_images(
        _media(spark).filter(F.col("kind") == "image")
    ).select(
        "media_id",
        F.expr("CAST(length(thumb) AS BIGINT)").alias("thumb_bytes"),
        F.expr("coalesce(md5(thumb), '')").alias("thumb_md5"),
        "error",
    )


def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: WAV PCM decode → rate/duration/RMS features."""
    from pdf_extractor_spark.operators.multimodal import audio_features

    return audio_features(_media(spark).filter(F.col("kind") == "audio"))


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: RAWV video demux + every-4th-frame sampling."""
    from pdf_extractor_spark.operators.multimodal import sample_frames

    return sample_frames(
        _media(spark).filter(F.col("kind") == "video"), every_k=4
    ).select("media_id", "n_frames", F.size("sampled").alias("n_sampled"),
             "error")


_PHASH_FIXTURE = REPO_ROOT / "fixtures" / "media_phash_micro.parquet"


def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: 64-bit perceptual hash (dHash — gradient signs of the
    9x8 thumbnail's luma) per image inside the Arrow-batch stage, with
    per-row error containment (O23). The hash is brightness-shift
    invariant: the fixture's +10-luma twins land at hamming 0 while an
    exact byte/md5 dedup misses them."""
    from pdf_extractor_spark.operators.multimodal import image_phash

    return image_phash(spark.read.parquet(str(_PHASH_FIXTURE)))


def media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup dedup (the LAION-style image pass): LSH band
    join over 8 byte-slices of the dHash -> candidate pairs -> exact
    bit_count verify at hamming <= 7. Pigeonhole gives recall 1.0 at
    that radius, and the oracle is a BRUTE-FORCE hamming scan over the
    independently recomputed expected hashes — so the gate checks hash
    parity AND band recall AND verify precision in one comparison.
    Candidates are band-bucket-local: at 10^9 images nothing all-pairs,
    the 8-byte hash is the only thing that ever shuffles."""
    from pdf_extractor_spark.operators.multimodal import (
        image_phash,
        phash_pairs_of,
    )

    # checkpoint: phash_pairs_of references the hash table on both
    # sides of the verify join + the band explode, and Spark shares no
    # subplans — without this the image decode UDF stage runs 2-3x
    ph = image_phash(
        spark.read.parquet(str(_PHASH_FIXTURE))
    ).localCheckpoint(eager=True)
    return phash_pairs_of(ph)


def _phash_pairs_sql() -> str:
    from pdf_extractor_spark.operators.multimodal import HAM_MAX

    exp = REPO_ROOT / "fixtures" / "golden" / "expected" / "media_phash.parquet"
    return f"""
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM '{exp}' a JOIN '{exp}' b ON a.media_id < b.media_id
WHERE a.error IS NULL AND b.error IS NULL
  AND bit_count(xor(a.phash, b.phash)) <= {HAM_MAX}
"""


def media_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete image-dedup verb chain (hash -> pairs -> clusters
    -> keep-one): connected components over the banded hamming pairs
    via alternating-star, keep = the minimum media_id per cluster —
    exactly one survivor per near-dup image cluster, the same
    keep-discipline as the text pipeline (near_dup_labels_of).
    Undecodable rows carry no hash and are excluded (their O23 error
    rows stay visible in media_phash)."""
    from pdf_extractor_spark.operators.multimodal import (
        image_phash,
        phash_pairs_of,
    )
    from pdf_extractor_spark.queries.dedup import _alternating_star_cc

    ph = image_phash(
        spark.read.parquet(str(_PHASH_FIXTURE))
    ).localCheckpoint(eager=True)
    pairs = phash_pairs_of(ph).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    ids = ph.filter(F.col("error").isNull()).select(
        F.col("media_id").alias("doc_id")
    )
    labels = _alternating_star_cc(pairs, ids)
    return labels.select(
        F.col("doc_id").alias("media_id"),
        "cluster_id",
        F.expr("CAST(doc_id = cluster_id AS BIGINT)").alias("keep"),
    )


def _phash_clusters_sql() -> str:
    exp = REPO_ROOT / "fixtures" / "golden" / "expected" / "media_phash.parquet"
    return f"""
WITH RECURSIVE
pairs AS ({_phash_pairs_sql()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT d.media_id,
       CAST(least(d.media_id,
                  coalesce(min(r.dst), d.media_id)) AS BIGINT)
         AS cluster_id,
       CAST(d.media_id = least(d.media_id,
                               coalesce(min(r.dst), d.media_id))
            AS BIGINT) AS keep
FROM (SELECT media_id FROM '{exp}' WHERE error IS NULL) d
LEFT JOIN reach r ON r.src = d.media_id
GROUP BY d.media_id
"""


_FIGPAGES_FIXTURE = REPO_ROOT / "fixtures" / "figpages_micro.parquet"


def extract_image_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAION-style (image URL, caption) miner over HTML: one row
    per <img src> with caption priority figcaption > alt > NULL
    (spec in ref_extractor/images.py — figcaption before OR after its
    img, first-figcaption-wins, innermost figure, EOF flush, O23
    containment), via the same mapInArrow shape as the outlink stage;
    oracle = the pure-Python collector over the committed fixture."""
    from pdf_extractor_spark.operators.images import images_stage

    return images_stage(spark.read.parquet(str(_FIGPAGES_FIXTURE)))


# caption-quality rules (the LAION filter pass), shared Spark/DuckDB:
# basename = filename up to the first dot; junk = caption equal to the
# separator-normalized basename; keep = captioned, not junk, >= 2
# tokens and >= 5 chars
_IMGQ_NTOK_S = (
    "CAST(CASE WHEN caption IS NULL THEN 0 "
    "ELSE size(split(caption, ' ')) END AS BIGINT)"
)
_IMGQ_NTOK_D = (
    "CAST(CASE WHEN caption IS NULL THEN 0 "
    "ELSE len(string_split(caption, ' ')) END AS BIGINT)"
)
_IMGQ_BASE_S = "split_part(element_at(split(src, '/'), -1), '.', 1)"
_IMGQ_BASE_D = "split_part(string_split(src, '/')[-1], '.', 1)"


def _imgq_junk(base: str) -> str:
    norm = "replace(replace(lower({x}), '-', ' '), '_', ' ')"
    return (
        "CAST(CASE WHEN caption IS NOT NULL AND "
        + norm.format(x="caption")
        + " = "
        + norm.format(x=base)
        + " THEN 1 ELSE 0 END AS BIGINT)"
    )


def image_caption_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The caption filter a LAION-style pipeline runs after mining:
    token/char minimums and the filename-junk rule (alt text that just
    restates the image filename carries no supervision signal). Pure
    projection over the mined pairs — no shuffle, no UDF."""
    pairs = extract_image_pairs(spark, sf_dir)
    return pairs.select(
        "url",
        "seq",
        "src",
        "caption",
        "caption_src",
        F.expr(_IMGQ_NTOK_S).alias("n_caption_toks"),
        F.expr(_imgq_junk(_IMGQ_BASE_S)).alias("junk_filename"),
    ).withColumn(
        "keep",
        F.expr(
            "CAST(caption IS NOT NULL AND junk_filename = 0 "
            "AND n_caption_toks >= 2 AND char_length(caption) >= 5 "
            "AS BIGINT)"
        ),
    )


def _image_caption_quality_sql() -> str:
    exp = (
        REPO_ROOT / "fixtures" / "golden" / "expected"
        / "extract_image_pairs.parquet"
    )
    return f"""
WITH pairs AS (SELECT * FROM '{exp}'),
scored AS (
  SELECT url, seq, src, caption, caption_src,
         {_IMGQ_NTOK_D} AS n_caption_toks,
         {_imgq_junk(_IMGQ_BASE_D)} AS junk_filename
  FROM pairs
)
SELECT url, seq, src, caption, caption_src, n_caption_toks,
       junk_filename,
       CAST(caption IS NOT NULL AND junk_filename = 0
            AND n_caption_toks >= 2 AND length(caption) >= 5
            AS BIGINT) AS keep
FROM scored
"""


# Scheme-less (relative) srcs resolve to a PAGE-SCOPED key: the same
# src string on two different pages may name two different images
# (relative resolution depends on the page's base path), so keying the
# bare string would silently merge distinct training images site- and
# even web-wide. (page url, src) is the conservative choice for a
# downloader manifest — it can keep a duplicate (same nav logo reached
# from two pages), it can never DROP a distinct image. The page url's
# length prefix makes the key unambiguous: a bare concat(url, '#', src)
# keys page 'a#b' + src 'c' and page 'a' + src 'b#c' alike. length()
# counts characters on both engines.
_SRC_FALLBACK = "concat(CAST(length(url) AS STRING), ':', url, '#', url_src)"


def _src_canon_sql(duckdb: bool) -> str:
    """The src canon-key expression over (url, url_src, scheme, host0,
    rest), rendered for DuckDB or Spark SQL."""
    from pdf_extractor_spark.queries.urlnorm import _canon_sql, _TRACK_RE

    if duckdb:
        return _canon_sql(
            "string_split", "list_filter",
            f"regexp_matches(p, '{_TRACK_RE}')", "array_to_string",
            fallback=_SRC_FALLBACK,
        )
    return _canon_sql(
        "split", "filter", f"p rlike '{_TRACK_RE}'", "array_join",
        fallback=_SRC_FALLBACK,
    )


def _src_canon_of(kept: DataFrame) -> DataFrame:
    """(url, seq, src) → (url, seq, src_canon): the urlnorm canon key
    over the img src, page-scoped for scheme-less srcs."""
    from pdf_extractor_spark.queries.urlnorm import host0_of, rest_of, scheme_of

    canon_s = _src_canon_sql(duckdb=False)
    return kept.select(
        "url",
        "seq",
        F.expr(scheme_of("src")).alias("scheme"),
        F.expr(host0_of("src")).alias("host0"),
        F.expr(rest_of("src")).alias("rest"),
        F.col("src").alias("url_src"),
    ).select("url", "seq", F.expr(canon_s).alias("src_canon"))


def image_pairs_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAION chain's next verb: dedup the quality-kept pairs by
    CANONICAL image URL (the same hot image is embedded site-wide under
    tracking-param / mixed-case-host variants; downloading it once is
    the point). Composes the urlnorm canon expression over src (its
    parameterized form — no string surgery), one keeper per canon key =
    min (url, seq). Shuffles only (url, seq, src_canon) — captions
    rejoin nothing."""
    kept = image_caption_quality(spark, sf_dir).filter(
        F.col("keep") == 1
    )
    canon = _src_canon_of(kept)
    from pyspark.sql import Window

    w = Window.partitionBy("src_canon")
    wr = Window.partitionBy("src_canon").orderBy("url", "seq")
    return canon.select(
        "url",
        "seq",
        "src_canon",
        F.count("*").over(w).cast("long").alias("n_copies"),
        (F.row_number().over(wr) == 1).cast("long").alias("keep"),
    )


def _image_pairs_dedup_sql() -> str:
    from pdf_extractor_spark.queries.urlnorm import host0_of, rest_of, scheme_of

    canon_d = _src_canon_sql(duckdb=True)
    return f"""
WITH quality AS ({_image_caption_quality_sql()}),
kept AS (SELECT * FROM quality WHERE keep = 1),
parts AS (
  SELECT url, seq, src AS url_src,
         {scheme_of("src")} AS scheme,
         {host0_of("src")} AS host0,
         {rest_of("src")} AS rest
  FROM kept
),
canon AS (
  SELECT url, seq,
         {canon_d} AS src_canon
  FROM parts
)
SELECT url, seq, src_canon,
       CAST(count(*) OVER (PARTITION BY src_canon) AS BIGINT)
         AS n_copies,
       CAST(row_number() OVER (PARTITION BY src_canon ORDER BY url, seq)
            = 1 AS BIGINT) AS keep
FROM canon
"""


_VHASH_FIXTURE = REPO_ROOT / "fixtures" / "media_vhash_micro.parquet"


def _vhash_exploded(spark: SparkSession) -> DataFrame:
    """Frame-hash table (media_id, frame_ord, fhash, error) — RAWV
    demux + every-k-th-frame dHash in the Arrow stage (8 bytes per
    sampled frame leave it, never the frames), exploded relationally."""
    from pdf_extractor_spark.operators.multimodal import video_frame_hashes

    vh = video_frame_hashes(spark.read.parquet(str(_VHASH_FIXTURE)))
    return vh.select(
        "media_id",
        F.posexplode_outer("fhashes").alias("frame_ord", "fhash"),
        "error",
    ).select(
        "media_id",
        F.col("frame_ord").cast("long").alias("frame_ord"),
        "fhash",
        "error",
    )


def media_vhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: frame-sampled video fingerprint — dHash of every
    k-th frame (sampling is the volume knob: at 10^9 clips you never
    hash every frame), one row per sampled frame, per-clip error
    containment (O23)."""
    return _vhash_exploded(spark)


def media_vhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup dedup: banded candidate join keyed by (sample
    ordinal, band, value) + the strict aligned verify — a pair survives
    iff EVERY overlapping sampled frame is within HAM_MAX bits over >= 2
    frames. Catches the planted all-frames brightness twins, the
    one-frame 5-bit tweak twins, and the truncated re-encodes (aligned
    prefix); rejects the poisoned control (one frame at 9 bits) and the
    single-frame overlap. Oracle = brute-force aligned hamming over the
    independently recomputed frame hashes."""
    from pdf_extractor_spark.operators.multimodal import vhash_pairs_of

    vh = (
        _vhash_exploded(spark)
        .filter(F.col("error").isNull())
        .select("media_id", "frame_ord", "fhash")
        .localCheckpoint(eager=True)  # demux+hash once, not per reference
    )
    return vhash_pairs_of(vh)


def _vhash_pairs_sql() -> str:
    from pdf_extractor_spark.operators.multimodal import (
        HAM_MAX,
        VHASH_MIN_OVERLAP,
    )

    exp = (
        REPO_ROOT / "fixtures" / "golden" / "expected"
        / "media_vhash.parquet"
    )
    return f"""
WITH fh AS (
  SELECT media_id, frame_ord, fhash FROM '{exp}' WHERE error IS NULL
),
j AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.fhash, b.fhash)) AS h
  FROM fh a JOIN fh b
    ON a.media_id < b.media_id AND a.frame_ord = b.frame_ord
)
SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_frames_cmp,
       CAST(max(h) AS BIGINT) AS max_hamming
FROM j GROUP BY id_a, id_b
HAVING max(h) <= {HAM_MAX} AND count(*) >= {VHASH_MIN_OVERLAP}
"""


def media_vhash_pairs_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temporal-offset upgrade of media_vhash_pairs: clips whose
    sampled frames align within HAM_MAX bits at SOME shift d in
    [-2, 2] — catches the planted LEADING-truncated twins (intro cut,
    d = -1) that strict ord-equality misses, while reproducing every
    aligned pair at d = 0. Best valid offset per pair (largest overlap,
    then smallest |d|, then d). Oracle = brute-force per-offset aligned
    hamming over the independently recomputed frame hashes."""
    from pdf_extractor_spark.operators.multimodal import (
        vhash_pairs_offset_of,
    )

    vh = (
        _vhash_exploded(spark)
        .filter(F.col("error").isNull())
        .select("media_id", "frame_ord", "fhash")
        .localCheckpoint(eager=True)  # demux+hash once, not per reference
    )
    return vhash_pairs_offset_of(vh)


def _vhash_pairs_offset_sql() -> str:
    from pdf_extractor_spark.operators.multimodal import (
        HAM_MAX,
        VHASH_MAX_OFFSET,
        VHASH_MIN_OVERLAP,
    )

    exp = (
        REPO_ROOT / "fixtures" / "golden" / "expected"
        / "media_vhash.parquet"
    )
    return f"""
WITH fh AS (
  SELECT media_id, frame_ord, fhash FROM '{exp}' WHERE error IS NULL
),
offs AS (
  SELECT unnest(range(-{VHASH_MAX_OFFSET}, {VHASH_MAX_OFFSET} + 1)) AS d
),
j AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b, o.d,
         CAST(count(*) AS BIGINT) AS n_frames_cmp,
         CAST(max(bit_count(xor(a.fhash, b.fhash))) AS BIGINT)
           AS max_hamming
  FROM fh a CROSS JOIN offs o
       JOIN fh b ON a.media_id < b.media_id
               AND b.frame_ord = a.frame_ord + o.d
  GROUP BY 1, 2, 3
),
valid AS (
  SELECT * FROM j
  WHERE max_hamming <= {HAM_MAX} AND n_frames_cmp >= {VHASH_MIN_OVERLAP}
),
best AS (
  SELECT id_a, id_b, CAST(d AS BIGINT) AS "offset", n_frames_cmp,
         max_hamming,
         row_number() OVER (PARTITION BY id_a, id_b
                            ORDER BY n_frames_cmp DESC, abs(d), d) AS rn
  FROM valid
)
SELECT id_a, id_b, "offset", n_frames_cmp, max_hamming
FROM best WHERE rn = 1
"""


def media_vhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete video-dedup verb chain over the OFFSET pairs
    (aligned pairs are their d = 0 subset, so the leading-truncated
    twins co-cluster with their bases): alternating-star components,
    keep = minimum media_id per cluster — same keep-discipline as the
    image, audio and text pipelines."""
    from pdf_extractor_spark.queries.dedup import _alternating_star_cc

    vh = _vhash_exploded(spark).localCheckpoint(eager=True)
    good = vh.filter(F.col("error").isNull()).select(
        "media_id", "frame_ord", "fhash"
    )
    from pdf_extractor_spark.operators.multimodal import (
        vhash_pairs_offset_of,
    )

    pairs = vhash_pairs_offset_of(good).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    ids = good.select(F.col("media_id").alias("doc_id")).distinct()
    labels = _alternating_star_cc(pairs, ids)
    return labels.select(
        F.col("doc_id").alias("media_id"),
        "cluster_id",
        F.expr("CAST(doc_id = cluster_id AS BIGINT)").alias("keep"),
    )


def _vhash_clusters_sql() -> str:
    exp = (
        REPO_ROOT / "fixtures" / "golden" / "expected"
        / "media_vhash.parquet"
    )
    return f"""
WITH RECURSIVE
pairs AS ({_vhash_pairs_offset_sql()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT d.media_id,
       CAST(least(d.media_id,
                  coalesce(min(r.dst), d.media_id)) AS BIGINT)
         AS cluster_id,
       CAST(d.media_id = least(d.media_id,
                               coalesce(min(r.dst), d.media_id))
            AS BIGINT) AS keep
FROM (SELECT DISTINCT media_id FROM '{exp}' WHERE error IS NULL) d
LEFT JOIN reach r ON r.src = d.media_id
GROUP BY d.media_id
"""


def media_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-modality capstone: ONE keep/drop manifest over all
    three media dedup chains (image dHash, audio energy-fingerprint,
    video frame-sampled dHash with temporal offset) — the table a
    multimodal training-data pipeline actually ships to the downloader.
    Same verb chain per modality (fingerprint -> banded pairs ->
    components -> keep-one), tagged and unioned; media_id spaces are
    per-modality."""
    img = media_phash_clusters(spark, sf_dir).select(
        F.lit("image").alias("modality"), "media_id", "cluster_id",
        "keep",
    )
    aud = media_audiofp_clusters(spark, sf_dir).select(
        F.lit("audio").alias("modality"), "media_id", "cluster_id",
        "keep",
    )
    vid = media_vhash_clusters(spark, sf_dir).select(
        F.lit("video").alias("modality"), "media_id", "cluster_id",
        "keep",
    )
    return img.unionByName(aud).unionByName(vid)


def _media_dedup_manifest_sql() -> str:
    return f"""
SELECT 'image' AS modality, * FROM ({_phash_clusters_sql()})
UNION ALL
SELECT 'audio' AS modality, * FROM ({_audiofp_clusters_sql()})
UNION ALL
SELECT 'video' AS modality, * FROM ({_vhash_clusters_sql()})
"""


_AUDIOFP_FIXTURE = REPO_ROOT / "fixtures" / "media_audiofp_micro.parquet"


def media_audiofp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: 64-bit audio fingerprint (sign-of-energy-delta over
    65 windows of the mono mix — the Haitsma-Kalker sub-fingerprint
    core) per clip inside the Arrow-batch stage, with per-row error
    containment (O23). Gain- and channel-layout-invariant: the
    fixture's half-gain and stereo-upmix twins land at hamming 0 while
    an exact byte/md5 dedup misses both."""
    from pdf_extractor_spark.operators.multimodal import audio_fingerprint

    return audio_fingerprint(spark.read.parquet(str(_AUDIOFP_FIXTURE)))


def media_audiofp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup dedup: the SAME banded-hamming machinery as the
    image pass (fingerprints are 8 bytes per clip regardless of
    duration, so phash_pairs_of applies verbatim — band join, pigeonhole
    recall bound, bucket cap and all); oracle = brute-force hamming over
    the independently recomputed fingerprints."""
    from pdf_extractor_spark.operators.multimodal import (
        audio_fingerprint,
        phash_pairs_of,
    )

    afp = audio_fingerprint(
        spark.read.parquet(str(_AUDIOFP_FIXTURE))
    ).localCheckpoint(eager=True)  # decode once, not per plan reference
    return phash_pairs_of(afp.withColumnRenamed("afp", "phash"))


def _audiofp_pairs_sql() -> str:
    from pdf_extractor_spark.operators.multimodal import HAM_MAX

    exp = (
        REPO_ROOT / "fixtures" / "golden" / "expected"
        / "media_audiofp.parquet"
    )
    return f"""
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
FROM '{exp}' a JOIN '{exp}' b ON a.media_id < b.media_id
WHERE a.error IS NULL AND b.error IS NULL
  AND bit_count(xor(a.afp, b.afp)) <= {HAM_MAX}
"""


def media_audiofp_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete audio-dedup verb chain (fingerprint -> banded pairs
    -> alternating-star components -> keep-one): exactly one survivor
    per near-dup clip cluster, the same keep-discipline as the image
    and text pipelines. Undecodable/too-short rows carry no fingerprint
    and are excluded (their O23 error rows stay visible in
    media_audiofp)."""
    from pdf_extractor_spark.operators.multimodal import (
        audio_fingerprint,
        phash_pairs_of,
    )
    from pdf_extractor_spark.queries.dedup import _alternating_star_cc

    afp = (
        audio_fingerprint(spark.read.parquet(str(_AUDIOFP_FIXTURE)))
        .withColumnRenamed("afp", "phash")
        .localCheckpoint(eager=True)
    )
    pairs = phash_pairs_of(afp).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    ids = afp.filter(F.col("error").isNull()).select(
        F.col("media_id").alias("doc_id")
    )
    labels = _alternating_star_cc(pairs, ids)
    return labels.select(
        F.col("doc_id").alias("media_id"),
        "cluster_id",
        F.expr("CAST(doc_id = cluster_id AS BIGINT)").alias("keep"),
    )


def _audiofp_clusters_sql() -> str:
    exp = (
        REPO_ROOT / "fixtures" / "golden" / "expected"
        / "media_audiofp.parquet"
    )
    return f"""
WITH RECURSIVE
pairs AS ({_audiofp_pairs_sql()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT d.media_id,
       CAST(least(d.media_id,
                  coalesce(min(r.dst), d.media_id)) AS BIGINT)
         AS cluster_id,
       CAST(d.media_id = least(d.media_id,
                               coalesce(min(r.dst), d.media_id))
            AS BIGINT) AS keep
FROM (SELECT media_id FROM '{exp}' WHERE error IS NULL) d
LEFT JOIN reach r ON r.src = d.media_id
GROUP BY d.media_id
"""


CATALOG: dict[str, QuerySpec] = {
    # --- reference operators, relationally mapped (SURVEY.md §2) ---
    "o7_conf_filter": QuerySpec(
        relational.o7_conf_filter, relational.O7_SQL,
        "O7: confidence-threshold predicate + hash agg"),
    "o8_reading_order": QuerySpec(
        relational.o8_reading_order, relational.O8_SQL,
        "O8: per-key ordered sequence reassembly (y-sweep relational form)"),
    "o9_fallback_chain": QuerySpec(
        relational.o9_fallback_chain, relational.O9_SQL,
        "O9: primary-extraction-else-fallback coalesce chain"),
    "o11_struct_extract": QuerySpec(
        textstats.o11_struct_extract, textstats._o11_sql(),
        "O11: the structured-extraction driver — one projection stage "
        "assembling every per-document field (flagship profile)"),
    "o12_regex_extract": QuerySpec(
        relational.o12_regex_extract, relational.O12_SQL,
        "O12/O13: regex scalar extraction with group addressing"),
    "o14_name_extract": QuerySpec(
        relational.o14_name_extract, relational.O14_SQL,
        "O14: name extraction, primary-else-regex-else-default coalesce"),
    "o15_item_validate": QuerySpec(
        relational.o15_item_validate, relational.O15_SQL,
        "O15: nested array-of-struct item validation "
        "(filter/transform/aggregate on arrays, no explode)"),
    "o17_fuzzy_match": QuerySpec(
        relational.o17_fuzzy_match, relational.O17_SQL,
        "O17: Levenshtein-ratio broadcast theta-join vs 8-term dictionary"),
    "o18_dedup_keep_best": QuerySpec(
        relational.o18_dedup_keep_best, relational.O18_SQL,
        "O18: dedup keep-most-complete via deterministic window row_number"),
    "o19_total_extract": QuerySpec(
        relational.o19_total_extract, relational.O19_SQL,
        "O19: grand-total regex extraction + pt-BR normalize chain"),
    "o21_locale_normalize": QuerySpec(
        relational.o21_locale_normalize, relational.O21_SQL,
        "O21: pt-BR locale numeric round-trip (R$ 1.234,56 → 1234.56)"),
    "o22_format_output": QuerySpec(
        relational.o22_format_output, relational.O22_SQL,
        "O22: canonical byte-stable output formatting (integer cents)"),
    "lineage_agg": QuerySpec(
        relational.lineage_agg, relational.LINEAGE_SQL,
        "north_rule: per-partition lineage metrics hash agg"),
    "event_sessions": QuerySpec(
        relational.event_sessions, relational.EVENT_SESSIONS_SQL,
        "sessionization, batch gaps-and-islands form — the oracle-"
        "checked twin of the applyInPandasWithState streaming operator"),
    "stream_sessions": QuerySpec(
        stream_sessions, relational.EVENT_SESSIONS_SQL,
        "the applyInPandasWithState stateful sessionizer run to "
        "completion as a Trigger.AvailableNow stream — hash-gated "
        "against the SAME SQL oracle as its batch twin"),
    "stream_dedup": QuerySpec(
        stream_dedup, STREAM_DEDUP_SQL,
        "streaming exactly-once dedup: dropDuplicatesWithinWatermark "
        "over an at-least-once landing (full table + replayed slice as "
        "separate micro-batches) — cross-batch state suppresses every "
        "replay; watermark eviction bounds state at 10^12-event scale "
        "(the beyond-delay trade is pinned by test)"),
    "stream_window_sliding": QuerySpec(
        stream_window_sliding, _stream_window_sliding_sql(),
        "hopping (sliding) watermarked windows run AvailableNow: each "
        "event counted in WIN/SLIDE=2 overlapping windows — the "
        "overlapping-window state shape at x2 rows, still "
        "volume-independent; oracle joins each event to its 2 window "
        "starts"),
    "stream_window_counts": QuerySpec(
        stream_window_counts, _stream_window_counts_sql(),
        "watermarked tumbling-window streaming aggregate (built-in "
        "stateful op) run AvailableNow, hash-gated against a plain "
        "GROUP BY oracle"),
    "stream_interval_join": QuerySpec(
        stream_interval_join, _stream_interval_join_sql(),
        "watermarked stream-stream interval join (clicks x same-user "
        "purchases in the trailing 10 min) run AvailableNow — the "
        "state-bounded two-stream operator class; gated against "
        "DuckDB's native IEJoin"),
    "events_asof_join": QuerySpec(
        temporal.events_asof_join, temporal.EVENTS_ASOF_SQL,
        "as-of join (Spark lacks it): union-and-sweep plan, the event "
        "mass shuffles once — verified against DuckDB's NATIVE ASOF "
        "LEFT JOIN"),
    "events_range_join": QuerySpec(
        temporal.events_range_join, temporal.EVENTS_RANGE_JOIN_SQL,
        "range (interval) join (Spark lacks it): time-binned equi-join "
        "on (user_id, bin) — fan-out bounded by bin occupancy, never "
        "per-user totals; verified against DuckDB's native IEJoin"),
    "events_sliding_window": QuerySpec(
        temporal.events_sliding_window, temporal.EVENTS_SLIDING_SQL,
        "range-frame sliding aggregate: trailing-10-minute per-user "
        "activity (value-based frame, peers included identically)"),
    "events_rollup": QuerySpec(
        temporal.events_rollup, temporal.EVENTS_ROLLUP_SQL,
        "hypertable-style rollup: hour + day grains from ONE scan via "
        "GROUPING SETS (map-side partials, one shuffle) — replaces "
        "N per-grain jobs; exact-integer metrics"),
    "events_cohort_retention": QuerySpec(
        temporal.events_cohort_retention,
        temporal.EVENTS_COHORT_RETENTION_SQL,
        "cohort retention matrix: first-seen day per user x day "
        "offset, distinct-active counts + integer per-mille rate; "
        "user-key co-partitioned join, O(days) sizes broadcast"),
    "events_funnel": QuerySpec(
        temporal.events_funnel, temporal.EVENTS_FUNNEL_SQL,
        "ordered funnel view>click>purchase: three chained per-user "
        "min-aggs (strict ts ordering between steps), joins only on "
        "one-row-per-user sides; integer per-mille conversion"),
    "sketch_distinct_kmv": QuerySpec(
        temporal.sketch_distinct_kmv, temporal.SKETCH_KMV_SQL,
        "KMV distinct-count sketch: deterministic k-minimum md5 "
        "fractions, exactly oracle-checkable unlike HLL"),
    "sketch_distinct_hll": QuerySpec(
        temporal.sketch_distinct_hll, temporal.SKETCH_HLL_SQL,
        "HyperLogLog distinct sketch in exactly-oracle-checkable form: "
        "integer register maxima via plain groupBy max (map-side "
        "partials, NO distinct pre-pass), exact scaled harmonic sum, "
        "pre-rounded literal linear-counting table — the cheapest "
        "10^12-row distinct-count shape"),
    "sketch_distinct_kmv_merged": QuerySpec(
        temporal.sketch_distinct_kmv_merged,
        temporal.SKETCH_KMV_MERGED_SQL,
        "sketch MERGEABILITY: the global distinct estimate from "
        "merging per-group KMV sketches (rank O(groups x K) sketch "
        "rows, raw events untouched) — the oracle computes the DIRECT "
        "global sketch, so the hash gate proves the merge theorem: "
        "k-minima of the deduped union of per-group k-minima ARE the "
        "global k-minima"),
    "sketch_distinct_kmv_partial": QuerySpec(
        temporal.sketch_distinct_kmv_partial,
        f"SELECT event_type, est_distinct FROM ({temporal.SKETCH_KMV_SQL})",
        "the 100 TB KMV shape: Arrow-batch per-partition partial "
        "k-minima + relational merge — bit-identical estimates, so the "
        "mapInPandas path sits inside the same SQL oracle gate"),
    # --- training-data pipeline: deduplication ---
    "text_winnow": QuerySpec(
        textstats.text_winnow, textstats.TEXT_WINNOW_SQL,
        "winnowing fingerprints (MOSS, Schleimer et al. 2003): per-doc "
        "K-window minima over the 4-gram hash stream — guaranteed "
        "detection of shared runs >= NG+K-1 tokens at ~2/(K+1) index "
        "density; one ordered window pass, text never shuffles"),
    "dedup_winnow_pairs": QuerySpec(
        textstats.dedup_winnow_pairs, textstats.DEDUP_WINNOW_PAIRS_SQL,
        "winnow-indexed overlap pairs: candidates from WINNOWED "
        "fingerprint equality (the ~2/(K+1) subset, fp-df capped "
        "against boilerplate hot keys), exact shared-distinct-window "
        "verify — pairs sharing a >= NG+K-1-token run survive both "
        "stages by theorem (recall 1.0 for the guaranteed class)"),
    "dedup_exact": QuerySpec(
        dedup.dedup_exact, dedup.DEDUP_EXACT_SQL,
        "exact dedup: md5(normalized) hash-groupBy"),
    "dedup_minhash": QuerySpec(
        dedup.dedup_minhash, dedup.DEDUP_MINHASH_SQL,
        "MinHash signatures: 8 min-wise hashes over word-2-gram shingles"),
    "dedup_minhash_lsh_pairs": QuerySpec(
        dedup.dedup_minhash_lsh_pairs, dedup.DEDUP_LSH_PAIRS_SQL,
        "LSH banding: candidate near-dup pairs via band-hash equi-join"),
    "dedup_clusters": QuerySpec(
        dedup.dedup_clusters, dedup.DEDUP_CLUSTERS_SQL,
        "duplicate clusters: iterative min-label propagation over LSH "
        "pairs (connected components); oracle via recursive CTE"),
    "dedup_clusters_star": QuerySpec(
        dedup.dedup_clusters_star, dedup.DEDUP_CLUSTERS_SQL,
        "the same connected components via alternating large-star/"
        "small-star (Kiveris et al.): O(log n) rounds vs LP's "
        "O(diameter) — chain-shaped graphs converge exponentially "
        "faster; gated against the SAME recursive-CTE oracle"),
    "dedup_jaccard_prefix": QuerySpec(
        dedup.dedup_jaccard_prefix, dedup.DEDUP_JACCARD_PREFIX_SQL,
        "exact-recall threshold Jaccard join (AllPairs/PPJoin prefix "
        "filter): global rare-first shingle order, per-doc prefix of "
        "n - ceil(tau*n) + 1, equi-join on prefix shingles + integer "
        "size filter, exact hash-intersect verify — recall AND "
        "precision 1.0 by theorem (differential-tested vs brute "
        "force), the deterministic complement to MinHash-LSH"),
    "dedup_near_pipeline": QuerySpec(
        dedup.dedup_near_pipeline, dedup.DEDUP_NEAR_PIPELINE_SQL,
        "composed near-dup pipeline: LSH candidates → exact-Jaccard "
        "verification on those pairs → clustering → keep-one survivors"),
    "dedup_incremental": QuerySpec(
        dedup.dedup_incremental, dedup.DEDUP_INCREMENTAL_SQL,
        "incremental dedup: the NEW batch slice against the existing-"
        "corpus index (exact 128-bit hash layer + LSH band probe + "
        "Jaccard verify) — the daily-crawl-vs-kept-corpus production "
        "shape; corpus text mass is touched only via index projections"),
    "dedup_bloom_probe": QuerySpec(
        dedup.dedup_bloom_probe, dedup.DEDUP_BLOOM_SQL,
        "seen-n-gram Bloom gate (CCNet/Dolma-style), relational form: "
        "corpus shingle filter as a distinct-position table, "
        "all-K-positions membership per batch shingle, per-doc seen "
        "report with the false positives VISIBLE (exact layer refutes) "
        "— no false negatives by construction"),
    "dedup_bloom_probe_bitmap": QuerySpec(
        dedup.dedup_bloom_probe_bitmap, dedup.DEDUP_BLOOM_SQL,
        "the production Bloom shape: per-partition Arrow-batch bitmap "
        "partials OR-merged at plan build, vectorized numpy bit-test "
        "probe — bit-identical to the relational form, same oracle"),
    "dedup_cms_hot": QuerySpec(
        dedup.dedup_cms_hot, dedup.DEDUP_CMS_HOT_SQL,
        "Count-Min sketch hot-shingle gate: the counting analog of the "
        "Bloom layer — batch shingles probed against a d×m CMS of "
        "corpus shingle document frequencies (map-side-combined "
        "groupBy, shuffle <= d×m rows/partition regardless of "
        "vocabulary); one-sided error gives the hot gate NO false "
        "negatives, threshold relative (per-mille of corpus docs) so "
        "the gate survives 100× corpus growth"),
    "dedup_lines": QuerySpec(
        dedup.dedup_lines, dedup.DEDUP_LINES_SQL,
        "CCNet-style line/segment boilerplate dedup: cross-document "
        "repeated segments stripped; frequency pass shuffles only md5 "
        "hashes, cleaning pass is a broadcast-set projection"),
    "dedup_substring_cut": QuerySpec(
        dedup.dedup_substring_cut, dedup.DEDUP_SUBSTRING_CUT_SQL,
        "exact-substring DELETION (Lee et al. second half): every "
        "duplicated W-token window keeps one global occurrence "
        "(struct-min aggregate keeper — never a per-hash rank window, "
        "which a 10^7-doc boilerplate hash would turn into a one-key "
        "sort bomb); non-keeper ranges merge into islands and cleaning "
        "is a pure projection — document text never shuffles"),
    "dedup_intradoc": QuerySpec(
        dedup.dedup_intradoc, dedup.DEDUP_INTRADOC_SQL,
        "within-document repeated-segment removal (keep first "
        "occurrence): a pure zero-shuffle projection — map-only over "
        "the scan at any scale"),
    "dedup_substring_strided": QuerySpec(
        dedup.dedup_substring_strided, dedup.DEDUP_SUBSTRING_STRIDED_SQL,
        "the stride>1 production form of substring spans: 1/stride of "
        "the windows hashed and shuffled; long runs still caught via "
        "phase-aligned matches"),
    "dedup_substring_spans": QuerySpec(
        dedup.dedup_substring_spans, dedup.DEDUP_SUBSTRING_SQL,
        "exact-substring duplicated spans (Lee et al. 2022): "
        "overlapping W-token window hashes, cross-doc frequency, and "
        "the LONGEST duplicated run per doc via a one-pass running-sum "
        "islands trick — text never shuffles, nothing executes twice"),
    "dedup_simhash": QuerySpec(
        dedup.dedup_simhash, dedup.DEDUP_SIMHASH_SQL,
        "SimHash: 16-bit majority-vote fingerprint, pure projection"),
    "ngram_jaccard": QuerySpec(
        dedup.ngram_jaccard, dedup.NGRAM_JACCARD_SQL,
        "exact n-gram Jaccard over candidate pairs via shingle-key join"),
    "decontaminate": QuerySpec(
        contamination.decontaminate, contamination.DECONTAMINATE_SQL,
        "benchmark decontamination: training docs sharing word 4-grams "
        "with the held-out eval slice; eval n-gram set broadcast, the "
        "training mass never shuffles for the join"),
    "dedup_embedding_cosine": QuerySpec(
        textstats.dedup_embedding_cosine,
        textstats.DEDUP_EMBEDDING_COSINE_SQL,
        "embedding-cosine near-dup pairs: sign-random-projection LSH "
        "bands over the engine-produced hashed embeddings, capped "
        "bucket equi-join, exact-cosine verify on candidates only"),
    "dedup_semantic": QuerySpec(
        similarity.dedup_semantic, similarity.DEDUP_SEMANTIC_SQL,
        "SemDeDup: semantic near-dup pruning scoped to learned-centroid "
        "cells (pairwise only within a cell = O(N^2/C); keep the "
        "lowest-id representative per within-cell duplicate group)"),
    "text_semantic_dedup": QuerySpec(
        textstats.text_semantic_dedup, textstats.TEXT_SEMANTIC_DEDUP_SQL,
        "SemDeDup over the engine-produced hashed text embeddings "
        "(spherical cells; the document-pruning counterpart of "
        "dedup_embedding_cosine's pair report)"),
    # --- training-data pipeline: similarity search ---
    "embedding_topk": QuerySpec(
        similarity.embedding_topk, similarity.EMBEDDING_TOPK_SQL,
        "brute-force cosine top-k (exact baseline)"),
    "embedding_ivf_topk": QuerySpec(
        similarity.embedding_ivf_topk, similarity.EMBEDDING_IVF_TOPK_SQL,
        "IVF/LSH-bucketed cosine top-k (the scale path)"),
    "embedding_ivf_multiprobe": QuerySpec(
        similarity.embedding_ivf_multiprobe,
        similarity.EMBEDDING_IVF_MULTIPROBE_SQL,
        "query-directed multiprobe IVF: margin-ranked sign-flip masks "
        "(recall/cost knob; >= 0.9 recall on worst-case random vectors)"),
    "embedding_topk_clustered": QuerySpec(
        similarity.embedding_topk_clustered,
        similarity.EMBEDDING_TOPK_CLUSTERED_SQL,
        "exact top-k over the clustered fixture (recall denominator)"),
    "embedding_multiprobe_clustered": QuerySpec(
        similarity.embedding_multiprobe_clustered,
        similarity.EMBEDDING_MULTIPROBE_CLUSTERED_SQL,
        "multiprobe over CLUSTERED embeddings: recall 0.94 at 4/16 "
        "probes (~30% scanned) — the realistic-data scale path"),
    "embedding_centroid_topk": QuerySpec(
        similarity.embedding_centroid_topk,
        similarity.EMBEDDING_CENTROID_TOPK_SQL,
        "learned-centroid IVF top-k: data-dependent buckets from a "
        "deterministic driver-side k-means pass, fixed probe budget"),
    "embedding_centroid_clustered": QuerySpec(
        similarity.embedding_centroid_clustered,
        similarity.EMBEDDING_CENTROID_CLUSTERED_SQL,
        "learned-centroid IVF on the clustered fixture: recall >= 0.9 "
        "at <= 25% scan with NO per-dataset knob (test-enforced)"),
    "embedding_pq_topk": QuerySpec(
        similarity.embedding_pq_topk, similarity.EMBEDDING_PQ_TOPK_SQL,
        "product quantization + ADC search (Jegou et al. 2011): "
        "PQ_M=16 independent per-subspace codebooks (the same "
        "deterministic k-means as the IVF path, one chain per "
        "subspace in the oracle), corpus stored as 16 4-bit codes "
        "(64 doubles -> 64 bits); search = ADC over reconstructions "
        "to a PQ_SHORTLIST candidate set, then exact full-precision "
        "re-rank of ONLY the shortlist — at 10^12 vectors the exact "
        "pass touches PQ_SHORTLIST rows per query, the compressed "
        "scan does the winnowing"),
    "embedding_ivfpq_topk": QuerySpec(
        similarity.embedding_ivfpq_topk,
        similarity.EMBEDDING_IVFPQ_TOPK_SQL,
        "IVF-PQ composite (the FAISS IVFPQ recipe, Jegou et al. 2011 "
        "V): learned-centroid coarse cells prune the corpus to the "
        "probed fraction, PQ/ADC over 64-bit codes winnows the probed "
        "slice to a PQ_SHORTLIST shortlist, exact full-precision "
        "distance re-ranks only the shortlist — the full "
        "trillion-scale cost cascade in one query (oracle: the coarse "
        "k-means chain + SIXTEEN per-subspace chains + probe/ADC/"
        "re-rank tail in one statement)"),
    "embedding_quantize_int8": QuerySpec(
        similarity.embedding_quantize_int8,
        similarity.EMBEDDING_QUANTIZE_SQL,
        "int8 scalar quantization report (faiss-SQ8 shape): per-vector "
        "scale, integer code checksums (exact hash-gate material) and "
        "reconstruction MSE — pure projection, zero shuffles"),
    # --- training-data pipeline: text analysis ---
    "text_lang_id": QuerySpec(
        textstats.text_lang_id, textstats.TEXT_LANG_ID_SQL,
        "language ID: stopword-hit argmax heuristic"),
    "text_quality": QuerySpec(
        textstats.text_quality, textstats.TEXT_QUALITY_SQL,
        "quality scoring: length/punct/stopword ratio composite"),
    "text_tokens": QuerySpec(
        textstats.text_tokens, textstats.TEXT_TOKENS_SQL,
        "token counting: whitespace + BPE-ish regex tokenization"),
    "text_repetition": QuerySpec(
        textstats.text_repetition, textstats.TEXT_REPETITION_SQL,
        "Gopher-style repetition signals: type-token ratio, top-token "
        "share, duplicate-2-gram fraction — explode + two-level hash "
        "agg on uniform keys, per-doc scalars ride the agg (no joins)"),
    "text_ngram_freq": QuerySpec(
        textstats.text_ngram_freq, textstats.TEXT_NGRAM_FREQ_SQL,
        "corpus top-K bigram frequency (hash agg + global top-k window)"),
    "text_embed_hash": QuerySpec(
        textstats.text_embed_hash, textstats.TEXT_EMBED_HASH_SQL,
        "deterministic text→embedding via signed feature hashing "
        "(16 integer buckets; feeds the ANN family via text_embeddings)"),
    "text_embed_topk": QuerySpec(
        textstats.text_embed_topk, textstats.TEXT_EMBED_TOPK_SQL,
        "text→embedding→ANN loop closed in-catalog: exact cosine top-k "
        "over the engine-produced hashed embeddings (recall baseline)"),
    "text_embed_centroid_topk": QuerySpec(
        textstats.text_embed_centroid_topk,
        textstats.TEXT_EMBED_CENTROID_TOPK_SQL,
        "the text-vector SCALE path: engine-produced hashed embeddings "
        "through the learned-centroid IVF bucketing (never exact-scans; "
        "recall vs text_embed_topk test-enforced at bounded scan %)"),
    "text_tfidf_topk": QuerySpec(
        textstats.text_tfidf_topk, textstats.TEXT_TFIDF_TOPK_SQL,
        "per-document top-K characteristic terms: tf x integer-exact "
        "idf (n_docs DIV df) — tf agg on uniform (doc, tok) keys, df "
        "over the Heaps-bounded vocab, broadcast 1-row n_docs, per-doc "
        "window top-K; the keyword/topic-signal extraction stage"),
    "text_rarity": QuerySpec(
        textstats.text_rarity, textstats.TEXT_RARITY_SQL,
        "token-rarity quality signal (integer-exact CCNet-perplexity "
        "stand-in): corpus unigram table joined back to the token "
        "stream — uniform keys, vocab Heaps-bounded, AQE-broadcastable"),
    "text_length_percentiles": QuerySpec(
        textstats.text_length_percentiles, textstats.TEXT_LENGTH_PCT_SQL,
        "exact per-lang token-count percentiles WITHOUT sorting the "
        "corpus: (lang, n_tokens) histogram agg first, cumulative "
        "window + inverse-CDF over the tiny histogram only"),
    "text_fingerprint": QuerySpec(
        textstats.text_fingerprint, textstats.TEXT_FINGERPRINT_SQL,
        "document fingerprint: min-wise rolling 4-gram hash"),
    "corpus_select": QuerySpec(
        cs.corpus_select, cs.CORPUS_SELECT_SQL,
        "training-set selection: quality gate + lang gate + fingerprint "
        "dedup in one pass (the capstone composite)"),
    "corpus_sample_priority": QuerySpec(
        cs.corpus_sample_priority, cs.CORPUS_SAMPLE_PRIORITY_SQL,
        "weighted priority sampling (Duffield-Lund-Thorup 2007): top-K "
        "by the integer-floored priority (n_tokens * 2^32) DIV "
        "md5-uniform — inclusion increases with token weight, no libm, "
        "deterministic tie-breaks; includes DLT's threshold estimator "
        "est_tokens = max(w, tau) whose sample sum estimates "
        "the corpus token total; global top-K compiles to "
        "TakeOrderedAndProject (per-task heaps), never a corpus sort"),
    "corpus_sample_stratified": QuerySpec(
        cs.corpus_sample_stratified, cs.CORPUS_SAMPLE_SQL,
        "stratified training-mix sampling: deterministic hash-threshold "
        "budget per (lang, quality band), two-phase (broadcast count "
        "prefilter, then exact rank) so no stratum key ever goes hot"),
    "corpus_mix_report": QuerySpec(
        cs.corpus_mix_report, cs.CORPUS_MIX_SQL,
        "per-(source, lang) corpus composition: doc/token counts, mean "
        "quality and token share from exact BIGINT sums (order-free, "
        "bit-identical); grand total broadcast back, no global window"),
    "corpus_mix_weights": QuerySpec(
        cs.corpus_mix_weights, cs.CORPUS_MIX_WEIGHTS_SQL,
        "T5/PaLM temperature-smoothed mixture weights (T=0.5 — IEEE "
        "sqrt, bit-identical cross-engine): per-source sampling "
        "probability + token allocation from one hash agg; the "
        "normalizing total is an ordered left fold, never an unordered "
        "double SUM"),
    "corpus_filter_report": QuerySpec(
        cs.corpus_filter_report, cs.CORPUS_FILTER_REPORT_SQL,
        "per-rule filter dashboard (too_short / lang_unknown / low_ttr "
        "/ dup_2grams + pass/fail totals): one projection pass, "
        "integer-only thresholds, single 1-row aggregate unpivoted"),
    "corpus_pack_sequences": QuerySpec(
        cs.corpus_pack_sequences, cs.CORPUS_PACK_SQL,
        "GPT-style sequence-packing manifest: concat-and-chop the "
        "seeded shuffle order into fixed 256-token sequences; per-shard "
        "prefix-sum window, exact BIGINT arithmetic, no global sort"),
    "graph_pagerank": QuerySpec(
        graph.graph_pagerank, graph.GRAPH_PAGERANK_SQL,
        "integer-exact PageRank (3 unrolled iterations) over the host "
        "link graph — the domain-reputation filter; floor-per-edge + "
        "BIGINT sums keep both engines bit-identical"),
    "link_graph_rank": QuerySpec(
        graph.link_graph_rank, graph._link_graph_rank_sql(),
        "composed link-graph centrality: pages -> outlink stage -> "
        "host edges -> integer PageRank, over the committed cross-host "
        "link corpus; oracle re-derives edges AND ranks in SQL from "
        "the pure-Python collector's rows"),
    "frontier_next_urls": QuerySpec(
        graph.frontier_next_urls, graph._frontier_sql(),
        "crawl-frontier priority: outlinks minus the crawled set, "
        "ranked by target-host PageRank, global top-K as "
        "TakeOrderedAndProject — composes the outlink stage, the "
        "host-graph centrality and the left-anti resume shape end to "
        "end"),
    "frontier_robots_filter": QuerySpec(
        robots.frontier_robots_filter, robots._frontier_robots_sql(),
        "crawl politeness: robots.txt first-match verdict per frontier "
        "candidate (CPython robotparser semantics, cross-verified "
        "against robotparser itself) — broadcast rule table, prefix "
        "theta-join, candidate mass never shuffles for the verdict"),
    "url_normalize": QuerySpec(
        urlnorm.url_normalize, urlnorm.URL_NORMALIZE_SQL,
        "URL canonicalization (case/port/fragment/tracking-param/"
        "trailing-slash rules) + canon-key dedup groups; array-function "
        "param surgery keeps Java and RE2 regex semantics aligned"),
    "web_dedup_lines": QuerySpec(
        webtext.web_dedup_lines, webtext.WEB_DEDUP_LINES_SQL,
        "NEWLINE-aware cross-document boilerplate line removal over the "
        "Heaps-law webtext fixture (C4/CCNet line dedup on real lines); "
        "line-frequency table broadcasts, text never shuffles"),
    "web_dedup_intradoc": QuerySpec(
        webtext.web_dedup_intradoc, webtext.WEB_DEDUP_INTRADOC_SQL,
        "Newline-aware WITHIN-document repeated-line removal "
        "(keep-first) over the Heaps-law fixture — zero-shuffle "
        "projection (first-occurrence-index filter HOF); the real-text "
        "twin of dedup_intradoc's token-segment form"),
    "web_dedup_lines_cut": QuerySpec(
        webtext.web_dedup_lines_cut, webtext.WEB_DEDUP_LINES_CUT_SQL,
        "C4-style GLOBAL keep-one line dedup over the Heaps-law fixture "
        "(Raffel et al. 2020: discard all but one occurrence of a "
        "repeated span) — keeper is a map-side-combinable "
        "min(struct(doc_id, idx)) aggregate, only line hashes + indices "
        "shuffle"),
    "dedup_jaccard_prefix_web": QuerySpec(
        webtext.dedup_jaccard_prefix_web, webtext.WEB_JACCARD_PREFIX_SQL,
        "Exact-recall threshold-Jaccard join (AllPairs/PPJoin) over the "
        "Heaps-law webtext fixture — the corpus class the prefix filter "
        "is designed for (rare-shingle prefixes; sub-quadratic candidate "
        "growth per doubling, test-pinned in-engine); candidate-budget "
        "guard trips loudly on closed-vocabulary blowups"),
    "web_dedup_substring_bytes": QuerySpec(
        webtext.web_dedup_substring_bytes, webtext.WEB_SUBSTR_BYTES_SQL,
        "BYTE-level exact-substring duplicated spans (Lee et al. 2022 "
        "ExactSubstr) over the Heaps-law fixture: every 40-byte window "
        "occurring >= 2 times corpus-wide (cross- OR intra-doc) merges "
        "into maximal per-doc byte spans; window stage is a projection "
        "(text never shuffles), frequency pass map-side-combines on "
        "uniform md5 keys, span merge is one per-doc ordered pass"),
    "dedup_winnow_pairs_web": QuerySpec(
        webtext.dedup_winnow_pairs_web, webtext.WEB_WINNOW_PAIRS_SQL,
        "Winnow-indexed overlap pairs (MOSS) over the Heaps-law "
        "fixture — fingerprints rare by default on natural text, fp-df "
        "cap suppresses per-host boilerplate runs; detection rides "
        "genuine shared token runs"),
    "web_substring_bytes_strided": QuerySpec(
        webtext.web_substring_bytes_strided,
        webtext.WEB_SUBSTR_BYTES_STRIDED_SQL,
        "Strided byte-window spans (production-cost form of "
        "web_dedup_substring_bytes): hash every 4th byte position — "
        "1/4 the window volume shuffled; phase-aligned matches only, "
        "so long runs are still caught and every reported span is a "
        "true duplicated region (subset of stride-1, test-pinned)"),
    "web_substring_bytes_cut": QuerySpec(
        webtext.web_substring_bytes_cut, webtext.WEB_SUBSTR_BYTES_CUT_SQL,
        "Byte-level exact-substring CUT (Lee et al. 2022 deletion "
        "form): every duplicated 40-byte window keeps its global "
        "min(doc_id, idx) occurrence — a map-side-combinable "
        "aggregate — and non-keeper byte ranges are spliced out by "
        "concatenating kept ranges (no rejoin normalization: "
        "untouched docs byte-identical, cut docs byte-exact splices)"),
    "web_substring_utf8_cut": QuerySpec(
        webtext.web_substring_utf8_cut, webtext.WEB_SUBSTR_UTF8_CUT_SQL,
        "UTF-8-safe byte-level exact-substring CUT over the multi-byte "
        "twin fixture: the same keep-one deletion on raw UTF-8 bytes "
        "with cut boundaries snapped outward to codepoint starts "
        "(continuation byte = first hex digit 8/9/A/B; <= 3-step "
        "bounded CASE, never a scan) — output is valid UTF-8 by "
        "construction (test-pinned); returns cleaned_hex because the "
        "oracle engine cannot slice BLOBs, both engines run over the "
        "uppercase hex image (byte q at hex chars 2q+1..2q+2)"),
    "web_dedup_near_keep": QuerySpec(
        webtext.web_dedup_near_keep, webtext._web_near_keep_sql(),
        "Composed near-dup keep-one pipeline on NATURAL text: "
        "MinHash-LSH candidates -> exact DF-pruned Jaccard verify -> "
        "min-label-propagation clusters -> keep min doc_id, over the "
        "Heaps-law fixture's ~10% planted token-mutation near-dups; "
        "reuses near_dup_labels_of verbatim (generic over doc_id, "
        "text) and the documents-table oracle via a shadowing CTE"),
    "web_gopher_repetition": QuerySpec(
        webtext.web_gopher_repetition, webtext.WEB_GOPHER_SQL,
        "Gopher repetition-filter battery (Rae et al. 2021 Table A1) "
        "over the Heaps-law fixture: dup-line fracs, top-{2,3,4}-gram "
        "char mass, dup-{5,10}-gram position-coverage char mass, and "
        "the published-threshold flag; all five n-gram sizes explode "
        "once into a single uniform-key hash aggregation, line/total "
        "metrics are shuffle-free array-HOF projections"),
    "web_gopher_quality": QuerySpec(
        webtext.web_gopher_quality, webtext.WEB_GOPHER_QUALITY_SQL,
        "Gopher quality-filter battery (Rae et al. 2021 Table A1, the "
        "non-repetition half) over the Heaps-law fixture: word-count "
        "and mean-word-length bounds, symbol-to-word ratio, "
        "bullet-start / ellipsis-end line fractions, alpha-word "
        "fraction, distinct-stop-word containment (corpus function "
        "words — the per-language stop-list adaptation CCNet makes), "
        "published-threshold flag; ONE zero-shuffle projection "
        "(plan-pinned — the cheapest possible 100 TB shape)"),
    "web_c4_filter": QuerySpec(
        webtext.web_c4_filter, webtext.WEB_C4_FILTER_SQL,
        "C4 cleaning rules (Raffel et al. 2020 §2.2) over the golden "
        "extracted corpus — terminal-punctuation + >= 5-word + "
        "no-javascript line filter, < 3-sentence / curly-brace / "
        "lorem-ipsum page gate; the committed corpus with real "
        "sentence punctuation and heading-like nav lines; one "
        "zero-shuffle projection (plan-pinned)"),
    "web_url_filter": QuerySpec(
        webtext.web_url_filter, webtext.WEB_URL_FILTER_SQL,
        "Stage-zero URL pre-filter (RefinedWeb/C4 class): host "
        "blocklist, length, digit-host fraction, path-depth trap "
        "rules — rejects pages before a byte of text is fetched or "
        "extracted; on the fixture the blocklist alone removes the "
        "ads* hosts whose P(spam) is 0.85 by generator design; pure "
        "projection over (doc_id, url)"),
    "web_host_cap": QuerySpec(
        webtext.web_host_cap, webtext.WEB_HOST_CAP_SQL,
        "Per-host contribution cap (RefinedWeb/FineWeb host balance): "
        "keep at most K docs per url host as the K smallest md5(url) "
        "— deterministic uniform sample. Salted partial top-K + "
        "merged threshold + broadcast filter-back: NO per-host "
        "row_number window, so a 10^8-page template farm never "
        "serializes through one task; oracle is the independent "
        "row_number formulation"),
    "web_quality_classify": QuerySpec(
        webtext.web_quality_classify, webtext._nb_sql(),
        "CCNet-style LEARNED quality classifier: integer NB log-odds "
        "weights trained driver-side on the fixture's even doc_ids "
        "(libm in Python only), scored as an order-free integer sum in "
        "both engines; held-out accuracy test-pinned"),
    "web_dsir_weights": QuerySpec(
        webtext.web_dsir_weights, webtext._dsir_sql(),
        "DSIR importance weights (Xie et al. 2023): per-doc integer "
        "per-mille log(p_target/p_raw) under hashed unigram+bigram "
        "buckets — the model is O(DSIR_B) integers regardless of crawl "
        "vocabulary; bucket probabilities estimated driver-side on the "
        "even doc_ids (libm in Python only), scoring is explode -> "
        "broadcast bucket-weight join on uniform md5 keys -> order-free "
        "per-doc integer sum; held-out target-likeness test-pinned"),
    "web_lm_perplexity": QuerySpec(
        webtext.web_lm_perplexity, webtext._lm_sql(),
        "CCNet LM-perplexity scores (Wenzek et al. 2020 4.3): integer "
        "per-mille negative log-likelihood (sum + per-token mean) "
        "under a hashed-unigram LM trained driver-side on the even "
        "doc_ids of the wiki source (libm in Python only; O(LM_B) "
        "model regardless of crawl vocabulary); scoring is explode -> "
        "broadcast bucket join on uniform md5 keys -> order-free "
        "per-doc integer sum; per-token mean is integer division "
        "(both engines truncate toward zero); held-out source "
        "ordering and label separation test-pinned"),
    "web_ppl_buckets": QuerySpec(
        webtext.web_ppl_buckets, webtext._ppl_buckets_sql(),
        "CCNet's ACTUAL head/middle/tail step: corpus-tertile buckets "
        "over per-token LM perplexity (head = lowest-perplexity "
        "tertile = most Wikipedia-like, the slice CCNet keeps); exact "
        "integer cutoffs from the score histogram + cumulative window "
        "(O(distinct scores) rows, the corpus is never sorted), 1-row "
        "cutoff table broadcast back"),
    "web_bpe_pairs": QuerySpec(
        webtext.web_bpe_pairs, webtext.WEB_BPE_PAIRS_SQL,
        "BPE merge-pair counting (Sennrich et al. 2016, the first "
        "tokenizer-training iteration): top-K adjacent character "
        "pairs weighted by word frequency — the corpus reduces to its "
        "O(V) distinct-word table FIRST (Heaps-law vocabulary is "
        "sublinear in corpus size), pairs are counted over the "
        "vocabulary, and the top-K is a TakeOrderedAndProject with a "
        "pair-ASC tie-break (never a global sort; text never reaches "
        "the pair stage)"),
    "web_bpe_train": QuerySpec(
        webtext.web_bpe_train, webtext._bpe_train_sql(),
        "full BPE merge training (Sennrich et al. 2016 learn_bpe): "
        "BPE_ROUNDS iterations of count -> argmax -> vocabulary "
        "rewrite over the O(V) distinct-word table — the corpus is "
        "read ONCE (the word count); each round is one tiny aggregate "
        "plus a one-row collect (the k-means-style iterative driver "
        "loop, NOT a per-row loop); merging is a single non-"
        "overlapping replace over left-anchored symbol strings, which "
        "is exactly greedy left-to-right reference BPE (same-symbol "
        "runs brute-force-pinned in tests)"),
    "web_bpe_tokens": QuerySpec(
        webtext.web_bpe_tokens, webtext._bpe_tokens_sql(),
        "per-document token counts under the learned BPE merges (the "
        "real-tokenizer upgrade of text_tokens' regex proxy): the "
        "word -> token-count map is O(V) and BROADCASTS; documents "
        "explode to (doc_id, w) and aggregate back — document text "
        "never crosses an Exchange"),
    "web_bpe_encode": QuerySpec(
        webtext.web_bpe_encode, webtext._bpe_encode_sql(),
        "the ORDER-PRESERVING tokenized corpus under the learned BPE "
        "merges — (doc_id, pos, tok) rows, the artifact a training "
        "run actually consumes (web_bpe_tokens only counts): the "
        "word -> token-sequence map is O(V) and broadcasts; positions "
        "come from a per-doc prefix-sum window over word indexes "
        "(doc-sized partitions, no global sort; text never crosses an "
        "Exchange)"),
    "web_decontaminate_fuzzy": QuerySpec(
        webtext.web_decontaminate_fuzzy,
        webtext._decontaminate_fuzzy_sql(),
        "fuzzy (containment) decontamination: every (train, bench) "
        "pair where >= FUZZY_PM/1000 of the BENCHMARK doc's distinct "
        "word 3-grams appear in the training doc — short grams "
        "survive paraphrase mutations, and a shared boilerplate line "
        "is a tiny fraction of a bench doc so it cannot reach the "
        "threshold (exact 8-gram overlap flags 751 of ~1170 train "
        "docs on this corpus; the containment form flags exactly the "
        "4 planted near-dup-of-benchmark pairs); bench gram table + "
        "sizes broadcast, integer cross-multiplied threshold"),
    "web_split_by_cluster": QuerySpec(
        webtext.web_split_by_cluster,
        webtext._split_by_cluster_sql(),
        "the leakage-FREE train/val split (the fix for what "
        "web_split_leakage reports, per Lee et al. 2022): md5 "
        "per-mille split assigned to the verified near-dup CLUSTER id "
        "instead of the doc id, so every verified near-dup pair "
        "co-splits by construction (zero leakage, test-pinned); costs "
        "one projection on top of the near-dup pass a pipeline runs "
        "anyway"),
    "web_decontaminate_semantic": QuerySpec(
        webtext.web_decontaminate_semantic,
        webtext._decontaminate_semantic_sql(),
        "semantic (embedding-cosine) decontamination — the ladder's "
        "third rung: every (train, bench) pair whose 64-dim "
        "hashed-token embeddings have cosine >= 0.9, decided by the "
        "exact integer comparison 10^6*dot^2 >= pm^2*na2*nb2 in "
        "DECIMAL(38,0)/HUGEINT (no float in the filter); catches the "
        "4 planted near-dup-of-benchmark pairs with margin (planted "
        ">= 0.945 vs best impostor 0.798 — at the ANN family's 16 "
        "dims the impostor reaches 0.93, test-pinned); bench vectors "
        "broadcast, train mass never shuffles"),
    "web_split_leakage": QuerySpec(
        webtext.web_split_leakage, webtext._split_leakage_sql(),
        "train/val split-leakage report (the Lee et al. 2022 / GPT-3 "
        "appendix concern: random splits leak near-duplicates into "
        "eval): deterministic md5(doc_id) per-mille split assignment, "
        "then every verified threshold-Jaccard near-dup pair that "
        "CROSSES the split — the split is a pure function of doc_id, "
        "so past the exact-recall prefix-join pair detection the leak "
        "report is a projection (no join, no extra shuffle)"),
    "web_quality_buckets": QuerySpec(
        webtext.web_quality_buckets, webtext._quality_buckets_sql(),
        "CCNet head/middle/tail corpus-tertile buckets over the "
        "learned integer quality score (the perplexity-bucket step of "
        "Wenzek et al. 2020): exact-integer cutoffs from a score "
        "HISTOGRAM + cumulative window (O(distinct scores) rows — the "
        "corpus is never sorted), cutoff row broadcast back; ties "
        "share a bucket so the split is a pure function of the score"),
    "pii_scrub": QuerySpec(
        pii.pii_scrub, pii.PII_SCRUB_SQL,
        "PII redaction projection (emails/phones/IPv4 -> typed "
        "placeholders) with pre-scrub counts; java.util.regex vs the "
        "oracle's RE2 must agree byte-for-byte on every document"),
    "corpus_drift_chi2": QuerySpec(
        cs.corpus_drift_chi2, cs.CORPUS_DRIFT_SQL,
        "distribution-drift monitor: batch-vs-corpus unigram Pearson "
        "chi-square (exact-integer residuals in DECIMAL(38,0)/HUGEINT, "
        "pinned double op order, ordered-left-fold total) + the OOV "
        "signal chi-square cannot see (new-token count and per-mille "
        "mass); both slices reduce to O(vocabulary) before anything "
        "expensive"),
    "corpus_budget_alloc": QuerySpec(
        cs.corpus_budget_alloc, cs.CORPUS_BUDGET_ALLOC_SQL,
        "exact-integer budget waterfill: fill a global token budget "
        "proportionally to source weight with per-source capacity caps "
        "— saturated set is a prefix of the cap/weight order (chain "
        "condition in DECIMAL(38,0)/HUGEINT: budget x weight overflows "
        "BIGINT at the 10^12-token design scale), floor shares for the "
        "rest; the per-source table is O(#sources), driver-sized"),
    "corpus_shuffle_shards": QuerySpec(
        cs.corpus_shuffle_shards, cs.CORPUS_SHUFFLE_SQL,
        "deterministic training-export shuffle: seeded-hash shard "
        "assignment (pure projection) + per-shard position — per-shard "
        "sorts only, no global ordering anywhere"),
    # --- multimodal columns (oracle = expected fixtures from the pure
    #     numpy decoders, scripts/build_expected_oracles.py) ---
    "media_image_features": QuerySpec(
        media_image_features,
        _expected_sql(
            "media_image_features",
            "media_id, width, height, channels, mean_luma, error",
        ),
        "image decode + feature extraction (Arrow-batch UDF)"),
    "media_image_resize": QuerySpec(
        media_image_resize,
        _expected_sql(
            "media_image_resize",
            "media_id, thumb_bytes, thumb_md5, error",
        ),
        "image thumbnail resize (nearest-neighbor, PPM re-encode) via "
        "the Arrow-batch stage — the 'resize' verb; thumbnails "
        "hash-compared against the pure-numpy expected output"),
    "media_audio_features": QuerySpec(
        media_audio_features,
        _expected_sql(
            "media_audio_features",
            "media_id, sample_rate, n_samples, channels, duration_ms, "
            "rms, error",
        ),
        "audio decode + RMS/duration features (Arrow-batch UDF)"),
    "media_frame_sample": QuerySpec(
        media_frame_sample,
        _expected_sql(
            "media_frame_sample", "media_id, n_frames, n_sampled, error"
        ),
        "video container demux + frame sampling (Arrow-batch UDF)"),
    "media_phash": QuerySpec(
        media_phash,
        _expected_sql("media_phash", "media_id, phash, error"),
        "64-bit perceptual hash (dHash) per image — gradient signs of "
        "the 9x8 thumbnail's Rec.601 luma, brightness-shift invariant, "
        "Arrow-batch decode with per-row error containment; hashes "
        "compared against an independent pure-numpy recompute"),
    "media_phash_pairs": QuerySpec(
        media_phash_pairs,
        _phash_pairs_sql(),
        "image near-dup dedup (the LAION-style pass): LSH band join "
        "over 8 byte-slices of the dHash + exact bit_count verify at "
        "hamming <= 7 (pigeonhole recall 1.0); oracle = brute-force "
        "hamming over the independently recomputed hashes, so hash "
        "parity, band recall, and verify precision gate together; "
        "catches the planted brightness twins (hamming 0) and "
        "k-bit-tweak twins (exactly 2/5) and nothing else (nearest "
        "negative pair: 14 bits)"),
    "media_phash_clusters": QuerySpec(
        media_phash_clusters,
        _phash_clusters_sql(),
        "the complete image-dedup chain (hash -> banded pairs -> "
        "alternating-star components -> keep-one): exactly one "
        "survivor per near-dup image cluster, same keep-discipline as "
        "the text pipeline; oracle = recursive reachability over the "
        "brute-force hamming pairs"),
    "media_audiofp": QuerySpec(
        media_audiofp,
        _expected_sql("media_audiofp", "media_id, afp, error"),
        "64-bit audio fingerprint per clip — sign of adjacent "
        "window-energy deltas over the mono mix (Haitsma-Kalker "
        "sub-fingerprint core), gain- and channel-layout-invariant, "
        "Arrow-batch decode with per-row error containment; "
        "fingerprints compared against an independent pure-numpy "
        "recompute"),
    "media_audiofp_pairs": QuerySpec(
        media_audiofp_pairs,
        _audiofp_pairs_sql(),
        "audio near-dup dedup via the SAME banded-hamming join as the "
        "image pass (8-byte fingerprints -> band join + exact "
        "bit_count verify at hamming <= 7, pigeonhole recall 1.0); "
        "catches the planted half-gain and stereo-upmix twins "
        "(hamming 0, different bytes AND different lengths — invisible "
        "to md5 dedup) and the k-bit tweak twins (exactly 2/5) and "
        "nothing else (nearest negative pair: 19 bits)"),
    "media_audiofp_clusters": QuerySpec(
        media_audiofp_clusters,
        _audiofp_clusters_sql(),
        "the complete audio-dedup chain (fingerprint -> banded pairs "
        "-> alternating-star components -> keep-one): exactly one "
        "survivor per near-dup clip cluster; oracle = recursive "
        "reachability over the brute-force hamming pairs"),
    "extract_image_pairs": QuerySpec(
        extract_image_pairs,
        _expected_sql(
            "extract_image_pairs",
            "url, seq, src, alt, caption, caption_src",
        ),
        "LAION-style (image URL, caption) mining over HTML: one row "
        "per <img src> with caption priority figcaption > alt > NULL "
        "(figcaption before/after img, first-wins, innermost figure, "
        "EOF flush, O23 containment), mapInArrow stage; oracle = the "
        "pure-Python collector over the committed figure-rich corpus"),
    "image_caption_quality": QuerySpec(
        image_caption_quality,
        _image_caption_quality_sql(),
        "the caption filter after mining: token/char minimums + the "
        "filename-junk rule (alt text restating the image filename); "
        "pure projection, no shuffle, no UDF"),
    "image_pairs_dedup": QuerySpec(
        image_pairs_dedup,
        _image_pairs_dedup_sql(),
        "dedup the quality-kept pairs by CANONICAL image URL "
        "(urlnorm's canon expression over src: tracking params "
        "stripped, host lowercased) — one keeper per canon key; the "
        "planted site-wide embeds (raw / utm / mixed-case-host "
        "variants of one image) collapse 3 -> 1; shuffles only "
        "(url, seq, src_canon)"),
    "media_vhash": QuerySpec(
        media_vhash,
        _expected_sql(
            "media_vhash", "media_id, frame_ord, fhash, error"
        ),
        "frame-sampled video fingerprint: dHash of every k-th frame "
        "(8 bytes per sampled frame leave the Arrow stage, never the "
        "frames), one row per sampled frame, per-clip O23 error "
        "containment; hashes compared against an independent "
        "pure-numpy recompute"),
    "media_vhash_pairs": QuerySpec(
        media_vhash_pairs,
        _vhash_pairs_sql(),
        "video near-dup dedup: banded candidates keyed by (sample "
        "ordinal, band, value) + strict aligned verify (EVERY "
        "overlapping sampled frame within hamming 7 over >= 2 frames); "
        "catches brightness twins, one-frame 5-bit tweaks, and "
        "truncated re-encodes; rejects the 9-bit poisoned control and "
        "the single-frame overlap; oracle = brute-force aligned "
        "hamming over independently recomputed frame hashes"),
    "media_vhash_pairs_offset": QuerySpec(
        media_vhash_pairs_offset,
        _vhash_pairs_offset_sql(),
        "temporal-offset video near-dup: best shift d in [-2, 2] per "
        "clip pair (largest overlap, smallest |d|) — catches the "
        "planted leading-truncated twins (intro cut, d = -1) that "
        "strict alignment misses while reproducing every aligned pair "
        "at d = 0; candidates stay band-bucket-local with the "
        "|ord_a - ord_b| <= 2 window; oracle = brute-force per-offset "
        "hamming over independently recomputed frame hashes"),
    "media_vhash_clusters": QuerySpec(
        media_vhash_clusters,
        _vhash_clusters_sql(),
        "the complete video-dedup chain over the OFFSET pairs "
        "(leading-truncated twins co-cluster with their bases): "
        "alternating-star components, keep = min media_id per "
        "cluster; oracle = recursive reachability over the "
        "brute-force per-offset pairs"),
    "media_dedup_manifest": QuerySpec(
        media_dedup_manifest,
        _media_dedup_manifest_sql(),
        "the cross-modality capstone: one keep/drop manifest over all "
        "three media dedup chains (image dHash, audio "
        "energy-fingerprint, video frame-sampled dHash with temporal "
        "offset), tagged and unioned — the table a multimodal "
        "pipeline ships to the downloader"),
    # --- the extraction engine itself (oracle = expected fixtures from
    #     the pure-Python ref_extractor; byte-level goldens additionally
    #     gate the full text in tests/test_golden_bytes.py) ---
    "extract_links": QuerySpec(
        links.extract_links, links.EXTRACT_LINKS_SQL,
        "outlink extraction (mapInArrow anchor collector) + relational "
        "host resolution; oracle re-derives hosts in SQL over the "
        "pure-Python expected-output rows"),
    "link_anchor_topk": QuerySpec(
        links.link_anchor_topk, links._link_anchor_topk_sql(),
        "inbound anchor-text aggregation: per target host, top-K "
        "external anchor strings (count + distinct source hosts, "
        "deterministic tie-breaks) over the composed pages -> outlink "
        "-> external-edge path; the document-expansion side feature"),
    "link_host_degree": QuerySpec(
        links.link_host_degree, links.LINK_HOST_DEGREE_SQL,
        "host-level link degree over the outlink stage — the "
        "crawl-frontier / centrality-filter input aggregation"),
    "text_compress_ratio": QuerySpec(
        text_compress_ratio,
        _expected_sql(
            "text_compress_ratio",
            "url, n_bytes, n_compressed, ratio_pm",
        ),
        "compression-ratio quality signal: extraction stage -> Arrow-"
        "batch zlib stage; low per-mille ratio flags repetitive/"
        "boilerplate docs (expected-output oracle, same zlib bytes)"),
    "extract_pages": QuerySpec(
        extract_pages,
        _expected_sql(
            "extract_pages", "url, doc_type, n_blocks, n_chars, text_md5"
        ),
        "HTML/PDF main-content extraction over the micro corpus"),
    "warc_cdx_index": QuerySpec(
        warc_cdx_index,
        _expected_sql(
            "warc_cdx_index",
            # offset/length are reserved words in DuckDB — quote them
            '"file", "offset", "length", url, ts_us, payload_md5',
        ),
        "CDX random-access index of the WARC corpus (per-record gzip-"
        "member offset/length + payload digest) — ranged-read fetch "
        "support; seek round-trip proven in tests"),
    "warc_extract_pages": QuerySpec(
        warc_extract_pages,
        _expected_sql(
            "extract_pages", "url, doc_type, n_blocks, n_chars, text_md5"
        ),
        "WARC connector end-to-end: the same 200 docs via .warc.gz must "
        "hash-match the parquet path's expected extraction output"),
    "extract_first_block": QuerySpec(
        extract_first_block,
        _expected_sql(
            "extract_first_block",
            "url, first_block_text, first_block_path",
        ),
        "O16 first-page-only semantic: element_at over nested blocks"),
}
