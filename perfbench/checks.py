"""Correctness gate: the program's outputs against the in-process
reference implementations, on the same generated payloads.

Each check returns a list of problems; an empty list means it passed.
Content errors (``doc_type='error'``) are data and compare like any
other row.
"""

from __future__ import annotations

import pathlib
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdf_extractor_spark.corpus.generator import PageRow
from pdf_extractor_spark.plans.lineage import LineageLog
from pdf_extractor_spark.ref_extractor import extract
from pdf_extractor_spark.ref_extractor.links import collect_links
from pdf_extractor_spark.tables.icetable import IceTable

# untraced runs check this many seed-chosen urls plus every giant blob;
# traced runs check every url
SAMPLE_URLS = 300


def sample(rows: list[PageRow], seed: int) -> list[PageRow]:
    giants = [r for r in rows if r.family.startswith("E4")]
    rest = [r for r in rows if not r.family.startswith("E4")]
    rng = random.Random(seed ^ 0x5EED)
    return giants + rng.sample(rest, min(SAMPLE_URLS, len(rest)))


def extraction(
    spark, warehouse: pathlib.Path, rows: list[PageRow],
    checked: list[PageRow], expected_texts: dict[str, str] | None = None,
) -> list[str]:
    """Lineage all ``ok``; per-date output rows equal the pages rows for
    that date; ``extracted_text`` byte-equal to ``extract(html).text``
    for every url in ``checked``."""
    problems = []
    bad = [
        r for r in LineageLog(warehouse / "lineage").records()
        if r["status"] != "ok"
    ]
    if bad:
        problems.append(f"{len(bad)} lineage rows not ok")
    want: dict[str, int] = {}
    for r in rows:
        d = r.warc_ts.date().isoformat()
        want[d] = want.get(d, 0) + 1
    out = IceTable(warehouse / "extracted").read(spark)
    got = {
        r["d"]: r["n"]
        for r in out.groupBy(
            F.col("partition_date").cast("string").alias("d")
        ).count().withColumnRenamed("count", "n").collect()
    }
    if got != want:
        problems.append(f"rows per date {got} != pages rows {want}")
    urls = [r.url for r in checked]
    texts = out.select("url", "extracted_text")
    if len(checked) < len(rows):
        texts = texts.filter(F.col("url").isin(urls))
    table = texts.toArrow()
    seen: dict[str, str] = {}
    for url, text in zip(
        table.column("url").to_pylist(),
        table.column("extracted_text").to_pylist(),
    ):
        if url in seen:
            problems.append(f"url extracted twice: {url}")
        seen[url] = text
    mismatched = 0
    for r in checked:
        ref = (
            expected_texts[r.url] if expected_texts is not None
            else extract(r.html).text
        )
        if seen.get(r.url) != ref:
            mismatched += 1
    if mismatched:
        problems.append(
            f"{mismatched}/{len(checked)} urls differ from ref_extractor"
        )
    return problems


def outlinks(
    sink: pathlib.Path, rows: list[PageRow], checked: list[PageRow],
    expected: dict[str, list] | None = None,
) -> list[str]:
    """Per url, the sink's (seq, href, anchor) rows equal
    ``collect_links(html)``; a full check also compares the total."""
    table = pq.read_table(sink)
    if len(checked) < len(rows):
        table = table.filter(
            pc.is_in(
                table.column("url"),
                value_set=pa.array([r.url for r in checked], pa.string()),
            )
        )
    got: dict[str, list] = {}
    for url, seq, href, anchor in zip(
        *(table.column(c).to_pylist() for c in ("url", "seq", "href", "anchor"))
    ):
        got.setdefault(url, []).append((seq, href, anchor))
    problems = []
    stray = set(got) - {r.url for r in checked}
    if stray:
        problems.append(f"{len(stray)} sink urls are not pages urls")
    mismatched = 0
    for r in checked:
        ref = expected[r.url] if expected is not None else collect_links(r.html)
        if sorted(got.get(r.url, [])) != ref:
            mismatched += 1
    if mismatched:
        problems.append(
            f"{mismatched}/{len(checked)} urls' anchors differ from "
            "collect_links"
        )
    return problems

