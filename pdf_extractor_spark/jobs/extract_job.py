"""spark-submit entrypoint for the extraction pipeline.

    python scripts/package.py           # → dist/pdf_extractor_spark.zip
    spark-submit --py-files dist/pdf_extractor_spark.zip \
        pdf_extractor_spark/jobs/extract_job.py \
        --pages <corpus.parquet | pages-icetable-root> \
        --warehouse /path/to/warehouse \
        [--strategy none|salt] [--partitions N]

Local runs: ``python -m pdf_extractor_spark.jobs.extract_job …`` (builds its
own local[*] session). Re-running against the same warehouse resumes per
partition-date: a date is skipped when lineage holds an ok row for the
current extractor version naming the date's current pages manifest, so an
append re-extracts only the dates it changed.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys

# under `spark-submit path/to/extract_job.py` the package root is not on
# sys.path for the DRIVER process (--py-files covers executors); make the
# direct-script launch work from a source checkout too
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent.parent))

from pyspark.sql import SparkSession

from pdf_extractor_spark.plans.extract_plan import preflight, run_extract
from pdf_extractor_spark.sources.pages import (
    ingest_corpus_to_icetable,
    ingest_warc_to_icetable,
)
from pdf_extractor_spark.tables.icetable import IceTable


def build_session(master: str | None, shuffle_partitions: int) -> SparkSession:
    from pyspark import SparkConf

    b = SparkSession.builder.appName("pdf_extractor_spark.extract")
    if master:
        b = b.master(master)
    elif not SparkConf().contains("spark.master"):
        # direct `python -m` launch: default to all local cores; under
        # spark-submit the submit-provided master wins (we don't override it)
        b = b.master("local[*]")
    return (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True,
                    help="pages IceTable root, or a corpus .parquet to ingest")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--master", default=None,
                    help="override master (default: whatever spark-submit set, "
                         "or local[*] when run directly)")
    ap.add_argument("--no-salt", action="store_true")
    ap.add_argument(
        "--strategy", choices=["none", "salt"], default="none",
        help="skew plan: none (default: one scan, each row extracted in "
             "the scan split it was read in, no shuffle), salt "
             "(byte-bucket full repartition first)")
    ap.add_argument(
        "--no-blocks", action="store_true",
        help="omit the per-block diagnostics column (~25%% faster)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    ap.add_argument(
        "--max-dates", type=int, default=None,
        help="bound how many pending partition-dates this invocation "
             "processes (resume picks up the rest)")
    ap.add_argument(
        "--dates-per-job", type=int, default=1,
        help="batch K pending dates into one Spark job / one atomic "
             "multi-partition commit (amortizes job+commit latency over "
             "many small partitions; a killed chunk re-runs whole)")
    ap.add_argument(
        "--optimize-sort", default=None, metavar="COL[,COL...]",
        help="after extraction, rewrite the extracted table's data files "
             "sort-clustered on the given column(s) (IceTable.compact "
             "sort_by — the Iceberg rewrite_data_files strategy=sort "
             "analog) so the per-file min/max bounds skip files under "
             "selective predicates on those columns; each invocation "
             "rewrites the live file set (a maintenance op, typically "
             "run once after a backfill)")
    ap.add_argument(
        "--optimize-files", type=int, default=4,
        help="target data files per partition for --optimize-sort "
             "(default 4; more files → narrower per-file key ranges → "
             "better skipping, at more open-file overhead)")
    ap.add_argument(
        "--tag-output", default=None, metavar="NAME",
        help="after extraction (and any --optimize-sort rewrite), pin "
             "this snapshot tag to the extracted table's current "
             "snapshot (IceTable named ref; re-pointed on every run — "
             "the publish step of a write-audit-publish flow). "
             "Downstream corpus builds read it with "
             "corpus_job --warehouse-tag NAME")
    ap.add_argument(
        "--gc-orphans", type=float, default=None, metavar="AGE_S",
        help="after extraction, reclaim data files no snapshot "
             "references (aborted-commit leftovers) older than AGE_S "
             "seconds from the extracted table "
             "(IceTable.remove_orphan_files — Iceberg "
             "remove_orphan_files analog; pair with expire_snapshots-"
             "style retention in a scheduled maintenance run)")
    ap.add_argument(
        "--url-filter", action="store_true",
        help="apply the stage-zero URL gate (host blocklist, length, "
             "digit-host fraction, crawler-trap path depth — "
             "queries/webtext.url_reject_expr) before the extract "
             "stage; rejected pages never reach the HTML parser")
    args = ap.parse_args(argv)

    spark = build_session(args.master, args.shuffle_partitions)
    pages_path = pathlib.Path(args.pages)
    if pages_path.suffix == ".parquet":
        tbl_root = pathlib.Path(args.warehouse) / "pages"
        pages = IceTable(tbl_root)
        if not pages.exists():
            pages = ingest_corpus_to_icetable(spark, pages_path, tbl_root)
    elif args.pages.endswith((".warc.gz", ".warc")):
        tbl_root = pathlib.Path(args.warehouse) / "pages"
        pages = IceTable(tbl_root)
        if not pages.exists():
            pages = ingest_warc_to_icetable(spark, pages_path, tbl_root)
    else:
        pages = IceTable(pages_path)

    preflight(spark, pages, args.warehouse)
    strategy = args.strategy
    if args.no_salt:
        strategy = "none"
    result = run_extract(
        spark,
        pages,
        args.warehouse,
        salt=strategy == "salt",
        num_partitions=args.partitions,
        strategy=strategy,
        with_blocks=not args.no_blocks,
        max_dates=args.max_dates,
        dates_per_job=args.dates_per_job,
        url_filter=args.url_filter,
    )
    out = {
        "input_snapshot_id": result.input_snapshot_id,
        "processed": result.processed,
        "skipped": result.skipped,
        "failed": result.failed,
    }
    if args.url_filter:
        out["url_rejected"] = result.url_rejected
    if args.optimize_sort or args.gc_orphans is not None or args.tag_output:
        extracted = IceTable(pathlib.Path(args.warehouse) / "extracted")
        if args.optimize_sort:
            cols = [c for c in args.optimize_sort.split(",") if c]
            out["optimize_snapshot_id"] = extracted.compact(
                spark,
                min_files=1,
                sort_by=cols,
                files_per_partition=args.optimize_files,
            )
        if args.gc_orphans is not None:
            out["gc_orphans"] = extracted.remove_orphan_files(
                older_than_s=args.gc_orphans
            )
        if args.tag_output:
            out["tagged_snapshot"] = extracted.tag(
                args.tag_output, replace=True
            )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
