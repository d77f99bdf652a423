"""The vectorized extraction stage — the graft of the reference's entire
per-request pipeline (the reference's main.py:24-42 →
pdf_processor.py:151-186) into ONE ``mapInArrow`` stage.

Design (SURVEY.md §4.3):
- Payload bytes flow Parquet → Arrow RecordBatch → the extractor, and the
  output columns are built as Arrow arrays — never a temp file (reference
  staged every upload to disk, main.py:28-31) and no pandas round trip.
- ``mapInArrow`` with the iterator form: per-task init happens once per
  Python worker, not once per row (reference re-initialized every engine per
  request, main.py:34 — SURVEY.md O2 reversal).
- Skew: ``run_extract`` runs the plain ``extract_stage`` over the scan
  splits, a giant row in its own split: tokenizer cost is linear in
  payload bytes, and the byte re-chunking below bounds worker memory.
  ``extract_stage_dispatch`` (giants repartitioned one per task) remains
  for inputs where several giants share one small split.
- Dispatch (O3) happens per element INSIDE the Arrow batch; no per-row
  Python outside the UDF, no driver-side loops.
- Incoming batches are re-chunked by cumulative payload BYTES, not row
  count, so one Arrow batch of giant blobs cannot blow worker memory
  (SURVEY.md §4.2 skew row).
- Output rows carry the full ``extracted`` schema (FIXTURES.md §4):
  blocks as ARRAY<STRUCT>, per-row error column (O23), n_blocks/n_chars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.version import EXTRACTOR_VERSION

# Target max payload bytes handed to one inner loop iteration; an Arrow
# batch bigger than this is split. Giant single rows still go through alone.
BATCH_TARGET_BYTES = 32 * 1024 * 1024

BLOCK_TYPE = T.StructType(
    [
        T.StructField("idx", T.IntegerType()),
        T.StructField("tag_path", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("text_density", T.DoubleType()),
        T.StructField("link_density", T.DoubleType()),
        T.StructField("kept", T.BooleanType()),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("doc_type", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("blocks", T.ArrayType(BLOCK_TYPE)),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


SLIM_SCHEMA = T.StructType(
    [f for f in EXTRACTED_SCHEMA.fields if f.name != "blocks"]
)



def byte_bounded_ranges(batch, col: str = "html"):
    """Yield (lo, hi) row ranges of an Arrow batch re-chunked by
    cumulative payload BYTES (skew/memory bound): one batch of giant
    blobs must not expand into worker memory at once. A range ends at
    the first row that brings its bytes to BATCH_TARGET_BYTES (nulls
    count 0). Shared by every payload-consuming mapInArrow stage
    (extraction, outlinks, images)."""
    import numpy as np
    import pyarrow.compute as pc

    n = batch.num_rows
    sizes = pc.binary_length(batch.column(col)).fill_null(0)
    ends = np.cumsum(sizes.to_numpy(zero_copy_only=False), dtype=np.int64)
    start, base = 0, 0
    while start < n:
        hi = min(n, int(np.searchsorted(ends, base + BATCH_TARGET_BYTES)) + 1)
        yield start, hi
        start, base = hi, int(ends[hi - 1])


def _make_extract_batches(with_blocks: bool):
    """Build the mapInArrow worker fn: Arrow RecordBatch in → out.

    Why Arrow and not pandas: the url/warc_ts columns pass through as the
    INPUT Arrow buffers untouched (zero conversion), and the output
    columns — including the nested blocks ARRAY<STRUCT> — are built as
    Arrow arrays directly, skipping the pandas block-manager + object-dtype
    round trip that dominated profile time in the mapInPandas form.
    ``with_blocks=False`` omits the per-block diagnostics column (~25%
    faster end-to-end; n_blocks still reports the true count).
    Imports live inside so the function pickles by reference to the
    shipped package (spark-submit --py-files)."""

    def extract_batches(batches):
        import pyarrow as pa

        # init-once-per-worker (O2 reversal): the extractor is stateless
        # pure Python, so "init" is just the import — still, once, here.
        from pdf_extractor_spark.ref_extractor import extract

        def process(batch: pa.RecordBatch, lo: int, hi: int) -> pa.RecordBatch:
            html = batch.column("html")
            doc_type, texts, n_blocks, n_chars, errors = [], [], [], [], []
            # blocks build flat + offsets → ListArray.from_arrays: one
            # Arrow conversion per chunk instead of per-row dict lists
            b_idx, b_path, b_text, b_td, b_ld, b_kept = [], [], [], [], [], []
            offsets = [0]
            for i in range(lo, hi):
                payload = html[i].as_py()
                res = extract(payload)
                doc_type.append(res.doc_type)
                texts.append(res.text)
                if with_blocks:
                    for b in res.blocks:
                        b_idx.append(b.idx)
                        b_path.append(b.tag_path)
                        b_text.append(b.text)
                        b_td.append(b.text_density)
                        b_ld.append(b.link_density)
                        b_kept.append(b.kept)
                    offsets.append(len(b_idx))
                n_blocks.append(res.n_blocks)
                n_chars.append(res.n_chars)
                errors.append(res.error)
            arrays = [
                batch.column("url").slice(lo, hi - lo),
                batch.column("warc_ts").slice(lo, hi - lo),
                pa.array(doc_type, pa.string()),
                pa.array(texts, pa.string()),
            ]
            names = ["url", "warc_ts", "doc_type", "extracted_text"]
            if with_blocks:
                struct = pa.StructArray.from_arrays(
                    [
                        pa.array(b_idx, pa.int32()),
                        pa.array(b_path, pa.string()),
                        pa.array(b_text, pa.string()),
                        pa.array(b_td, pa.float64()),
                        pa.array(b_ld, pa.float64()),
                        pa.array(b_kept, pa.bool_()),
                    ],
                    names=[
                        "idx", "tag_path", "text", "text_density",
                        "link_density", "kept",
                    ],
                )
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offsets, pa.int32()), struct
                    )
                )
                names.append("blocks")
            arrays += [
                pa.array(n_blocks, pa.int32()),
                pa.array(n_chars, pa.int32()),
                pa.array(errors, pa.string()),
            ]
            names += ["n_blocks", "n_chars", "error"]
            return pa.RecordBatch.from_arrays(arrays, names=names)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            for lo, hi in byte_bounded_ranges(batch):
                yield process(batch, lo, hi)

    return extract_batches


def extract_stage(pages: DataFrame, with_blocks: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, …) → extracted (full schema, or the slim
    schema without the blocks diagnostics when ``with_blocks=False``).

    Column pruning is explicit: only url/warc_ts/html are read — Catalyst
    pushes this projection into the Parquet scan (never reads the crawled
    `text` column, SURVEY.md §4.2)."""
    return pages.select("url", "warc_ts", "html").mapInArrow(
        _make_extract_batches(with_blocks),
        schema=EXTRACTED_SCHEMA if with_blocks else SLIM_SCHEMA,
    )


# payloads above this route to the one-per-task giant branch; normal web
# pages are <1 MB, so 4 MB cleanly separates the pathological tail
GIANT_THRESHOLD_BYTES = 4 * 1024 * 1024


def extract_stage_dispatch(
    pages: DataFrame,
    giant_threshold: int = GIANT_THRESHOLD_BYTES,
    giant_partitions: int | None = None,
    with_blocks: bool = True,
) -> DataFrame:
    """Two-branch extraction plan — the shuffle-minimal alternative to
    salting the whole corpus (operators/skew.py):

    - small rows (the mass) keep the Parquet reader's natural byte-balanced
      splits (``spark.sql.files.maxPartitionBytes``) — ZERO shuffle;
    - giant rows (< 1% of bytes) round-robin-repartition so each giant
      payload lands alone on a task.

    Cost model at 100 TB: the corpus is scanned twice (the length predicate
    cannot prune at the scan), but scan read is ~GB/s/node while a full
    salted shuffle writes + reads + transfers ALL payload bytes. Shuffling
    only the giant tail turns a corpus-sized shuffle into a <1%-sized one,
    and the giant branch is its own stage so its tasks start immediately,
    overlapping the small branch — makespan ≈ max(small mass / cores,
    slowest single giant). Measured in BENCH.md against the salted plan.
    """
    if giant_partitions is None:
        giant_partitions = pages.sparkSession.sparkContext.defaultParallelism
    # null-safe: a NULL html length would make BOTH branch predicates NULL
    # and silently drop the row, breaking the 1:1 rows_in=rows_out lineage
    # invariant that extract_stage (which maps NULL → doc_type='empty')
    # preserves
    plen = F.coalesce(F.length(F.col("html")), F.lit(0))
    small = pages.filter(plen < giant_threshold)
    giants = pages.filter(plen >= giant_threshold).repartition(giant_partitions)
    return extract_stage(small, with_blocks).unionByName(
        extract_stage(giants, with_blocks)
    )


def with_partition_date(extracted: DataFrame) -> DataFrame:
    """Add the physical partition column days(warc_ts) → partition_date."""
    return extracted.withColumn("partition_date", F.to_date("warc_ts"))


__all__ = [
    "EXTRACTED_SCHEMA",
    "BLOCK_TYPE",
    "EXTRACTOR_VERSION",
    "extract_stage",
    "extract_stage_dispatch",
    "with_partition_date",
]
