"""Seeded workload inputs, made by the repo's corpus generator.

The program only ever sees the ``pages`` IceTable landed from the
staging files; the generated rows stay in the benchmark for the
correctness gate and the in-process reference measurements.
"""

from __future__ import annotations

import pathlib

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdf_extractor_spark.corpus.build import rows_to_pages_table
from pdf_extractor_spark.corpus.generator import PageRow, generate_rows, make_row
from pdf_extractor_spark.tables.icetable import IceTable

# The generator draws giant HTML blobs of 5, 10, 25 or 50 MB at random.
# Only its 10 MB draw is kept, one blob per day in turn: the time a giant
# costs its chunk then does not hinge on the seed, while every blob is
# still above the 4 MB threshold of the one-per-task giant branch.
GIANT_HTML_BYTES = (9 * 1024 * 1024, 11 * 1024 * 1024)
STAGING_ROW_GROUP = 1000


def corpus(
    seed: int, days: int, docs_per_day: int, giant_html: int = 0
) -> list[PageRow]:
    """``days × docs_per_day`` rows of the generator's mix (85% HTML,
    10% PDF, 5% edge cases), plus ``giant_html`` 10 MB HTML blobs."""
    n = days * docs_per_day
    rows = list(generate_rows(seed, n, days))
    i = n
    for k in range(giant_html):
        lo, hi = GIANT_HTML_BYTES
        while True:
            # the generator puts row i on day i % days
            i += (k - i) % days
            row = make_row(seed, i, days, giant="html")
            i += 1
            if lo <= len(row.html) <= hi:
                rows.append(row)
                break
    return rows


def write_staging(rows: list[PageRow], path: pathlib.Path) -> pathlib.Path:
    """Rows → one parquet file in the pages schema (the ingest form)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        rows_to_pages_table(rows), path, row_group_size=STAGING_ROW_GROUP
    )
    return path


def append_day(spark, pages: IceTable, staging: pathlib.Path) -> int:
    """Land one more crawl day with ``IceTable.append``."""
    df = spark.read.parquet(str(staging)).withColumn(
        "partition_date", F.to_date("warc_ts")
    )
    return pages.append(df)

