"""The end-to-end extraction plan (SURVEY.md §4.3), resumable per partition.

Physical shape per chunk of pending partition-dates — ONE scan, ONE job::

    footers of the chunk's pages files                     -- driver, no job
      → rows_in per date
    IceTable scan (manifest-pruned to the chunk's dates)  -- no file listing,
                                                              schema bound
    → Project(url, warc_ts, html)                          -- column pruning
    → url_filter: observe(rejects per date), then drop    -- rides the commit
      them
    → mapInArrow(extract) over the scan splits as they    -- no shuffle; a
      are (strategy="salt": a byte-bucket salted             giant row stays
      repartition first)                                      in its split
    → observe(rows_out, n_errors per date)                 -- rides the commit
    → overwrite_partitions(extracted, dates)               -- idempotent commit
    → check rows_out + url_rejected == rows_in per date    -- else chunk fails
    → lineage.append(ok | failed row per date)             -- driver-side

A chunk is therefore ONE Spark job: the commit's write. A giant payload
needs no branch of its own: Spark cuts the JVM→Python Arrow batches at
``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MiB) and the stage
re-cuts each batch at BATCH_TARGET_BYTES, so worker memory stays bounded,
and tokenizer cost is linear in payload bytes, so a split's giant bytes
cost about what the same bytes of ordinary pages cost. What one scan gives
up is spreading several giants that share one small split over the cores.

Why a driver loop over PARTITIONS (not one mega-job): each iteration is a
full-cluster distributed job over one crawl-day (≈ hundreds of GB at design
scale); committing per partition gives (a) honest per-partition wall_time /
row counts in lineage, (b) atomic idempotent re-runs of exactly the failed
partitions, (c) bounded blast radius — one poisoned day never rolls back a
month. This is the standard Iceberg incremental-batch topology; the loop is
O(days), never O(rows).

Resume is keyed per date on its INPUT MANIFEST: a date is done when the
lineage log holds an ok row for the current extractor version naming the
date's current pages manifest ref (content-addressed, so an append to one
date leaves every other date's ref — and its done state — unchanged).
Pending dates prune at the manifest level, so Spark never lists completed
partitions' files. The equivalent relational form (left_anti join
pages↔lineage) is tested in tests/test_resume.py for parity.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.operators.extract import (
    extract_stage,
    extract_stage_dispatch,  # noqa: F401 — perfbench wraps this name
    with_partition_date,
)
from pdf_extractor_spark.operators.skew import salted_repartition
from pdf_extractor_spark.plans.lineage import LineageLog
from pdf_extractor_spark.tables.icetable import IceTable
from pdf_extractor_spark.version import EXTRACTOR_VERSION


class PreflightError(RuntimeError):
    pass


class LineageMismatchError(RuntimeError):
    """A chunk's observed output rows do not account for its input rows."""


# a failed lineage row keeps this much of its exception's message (a
# Spark task failure's message carries the whole JVM stack trace)
ERROR_MSG_MAX = 2000


REQUIRED_PAGES_COLUMNS = {"url", "warc_ts", "html"}


def preflight(spark: SparkSession, pages: IceTable, warehouse: str) -> None:
    """Driver-side preflight before launching any stage — the graft of the
    reference's model preflight (O24, /root/reference/pdf_processor.py:
    106-137), turned from per-request network probes into one-time checks
    of the things THIS pipeline depends on: source table exists, required
    columns present, warehouse writable. Fails fast with a precise error
    instead of burning cluster time."""
    import os
    import tempfile

    if not pages.exists():
        raise PreflightError(f"pages table missing at {pages.root}")
    schema = {f.name for f in pages.read(spark).schema}
    missing = REQUIRED_PAGES_COLUMNS - schema
    if missing:
        raise PreflightError(f"pages table lacks columns: {sorted(missing)}")
    os.makedirs(warehouse, exist_ok=True)
    try:
        with tempfile.NamedTemporaryFile(dir=warehouse):
            pass
    except OSError as e:
        raise PreflightError(f"warehouse {warehouse} not writable: {e}") from e


@dataclass
class ExtractRunResult:
    input_snapshot_id: int
    processed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    # pages dropped by the stage-zero URL gate (url_filter=True only)
    url_rejected: int = 0


def run_extract(
    spark: SparkSession,
    pages: IceTable,
    warehouse: str,
    salt: bool = True,
    num_partitions: int | None = None,
    fail_dates: set[str] | None = None,
    max_dates: int | None = None,
    strategy: str = "none",
    with_blocks: bool = True,
    dates_per_job: int = 1,
    url_filter: bool = False,
) -> ExtractRunResult:
    """Run (or resume) extraction of every pending partition of ``pages``.

    ``strategy`` picks the skew plan: ``"none"`` (default) extracts each
    chunk in one scan over the manifest-pruned files, every row — a giant
    one too — in the scan split it was read in, with no shuffle;
    ``"salt"`` first runs a byte-bucket salted full repartition
    (operators/skew.py; for inputs whose file layout is pathological
    enough that even the small mass needs re-balancing), which
    ``salt=False`` turns off.

    ``fail_dates`` injects a failure after processing those dates' data but
    before their lineage commit — the kill-and-resume test hook (SURVEY.md
    §5.2 property 3). ``max_dates`` bounds work per invocation (also used by
    the kill test).

    ``dates_per_job`` batches K pending dates into ONE Spark job (round-4):
    the scan prunes to the K partitions, the extract stage runs once over
    their union, the table commit replaces all K partitions atomically,
    and per-date lineage rows come from the footers (rows_in) and from
    one count_if pair per date observed on that same job (rows_out,
    n_errors) — no second pass over the output. At 10^3 pending
    daily partitions the serial per-date loop pays 10^3 job/commit
    latencies with the cluster idle in between; chunking amortizes that
    to 10^3/K while keeping resume granularity (a killed chunk re-runs
    whole — the overwrite is idempotent, lineage rows are per date).

    ``url_filter=True`` applies the stage-zero URL gate
    (queries/webtext.url_reject_expr: host blocklist, length,
    digit-host fraction, crawler-trap path depth) BEFORE the extract
    stage — the RefinedWeb/C4 reject-by-url-first shape; rejected
    pages never reach the Arrow parser. Deterministic, so resume
    semantics are unchanged; the per-date rejects are counted by an
    Observation on the source that rides the commit job, and their sum
    lands in ``ExtractRunResult.url_rejected``.

    A chunk whose observed ``rows_out`` plus URL-gate rejects differ
    from the footers' ``rows_in`` for any date fails (``status='failed'``
    with the mismatch in ``error_msg``), so its dates are pending again."""
    if strategy not in ("none", "salt"):
        raise ValueError(f"unknown strategy {strategy!r}: 'none' or 'salt'")
    extracted_tbl = IceTable(f"{warehouse}/extracted")
    lineage = LineageLog(f"{warehouse}/lineage")

    # the resume keys are captured BEFORE any chunk's scan is planned: if
    # an append lands mid-run, a chunk reads newer files than its recorded
    # ref names, so that date is re-extracted next run — never wrongly
    # skipped
    snap_id = pages.snapshot_id()
    manifests = pages.partition_manifests()
    all_dates = sorted(manifests)
    done, prior_attempts = lineage.resume_state(
        EXTRACTOR_VERSION, snap_id, manifests
    )
    pending = [d for d in all_dates if d not in done]
    result = ExtractRunResult(
        input_snapshot_id=snap_id, skipped=[d for d in all_dates if d in done]
    )

    if max_dates is not None:
        pending = pending[:max_dates]

    k = max(1, dates_per_job)
    for i in range(0, len(pending), k):
        chunk = pending[i : i + k]
        t0 = time.monotonic()
        attempts = {d: prior_attempts[d] + 1 for d in chunk}
        try:
            rows_in = pages.footer_sizes(chunk)
            src = pages.read(spark, partitions=chunk)
            gate = None
            if url_filter:
                # Stage-zero URL gate (web_url_filter's rules as one
                # predicate): reject crawler-trap / blocklisted /
                # generated-host pages BEFORE the Arrow extract stage
                # parses a byte of their HTML. The per-date rejects are
                # counted on the source, before the filter, by an
                # Observation that rides the commit job.
                from pdf_extractor_spark.queries.webtext import (
                    url_reject_expr,
                )

                reject = url_reject_expr("url")
                gate = Observation()
                src = src.observe(gate, *_count_per_date(chunk, reject))
                src = src.filter(~reject)
            if strategy == "salt":
                src = salted_repartition(src, num_partitions, enabled=salt)
            extracted = extract_stage(src, with_blocks=with_blocks)
            # per-date rows and errors ride the commit job itself
            observed = Observation()
            error = F.col("error").isNotNull() & (F.col("error") != "")
            out = with_partition_date(extracted).observe(
                observed, *_count_per_date(chunk, error)
            )
            # ONE atomic commit replaces every partition in the chunk —
            # readers see all K new dates or none; a date whose pages
            # lost every row commits empty instead of keeping old rows
            extracted_tbl.overwrite_partitions(out, partitions=chunk)
            if fail_dates and set(chunk) & fail_dates:
                raise RuntimeError(f"injected failure in chunk {chunk}")
            counts = gate.get if gate is not None else {}
            rejected = {
                d: counts.get(f"hits_{j}", 0) for j, d in enumerate(chunk)
            }
            counts = observed.get
            rows_out = {d: counts[f"rows_{j}"] for j, d in enumerate(chunk)}
            n_errors = {d: counts[f"hits_{j}"] for j, d in enumerate(chunk)}
            for date in chunk:
                # extraction is 1:1 row-preserving by design: a dropped
                # or misplaced row fails the chunk instead of passing
                if (
                    rows_in[date] is not None
                    and rows_out[date] + rejected[date] != rows_in[date]
                ):
                    raise LineageMismatchError(
                        f"{date}: rows_in={rows_in[date]} (pages footers) "
                        f"!= rows_out={rows_out[date]} + "
                        f"url_rejected={rejected[date]}"
                    )
            wall = time.monotonic() - t0
            lineage.append(
                [
                    {
                        "partition_date": date,
                        "input_snapshot_id": snap_id,
                        "rows_in": rows_in[date],
                        "rows_out": rows_out[date],
                        "n_errors": n_errors[date],
                        "extractor_version": EXTRACTOR_VERSION,
                        # chunk wall clock: the dates ran as one job, so
                        # each date's row carries the shared job time
                        "wall_time_s": wall,
                        "attempt": attempts[date],
                        "status": "ok",
                        "input_manifest": manifests[date],
                    }
                    for date in chunk
                ]
            )
            result.processed.extend(chunk)
            result.url_rejected += sum(rejected.values())
        except Exception as e:
            wall = time.monotonic() - t0
            reason = f"{type(e).__name__}: {e}"[:ERROR_MSG_MAX]
            lineage.append(
                [
                    {
                        "partition_date": date,
                        "input_snapshot_id": snap_id,
                        "rows_in": 0,
                        "rows_out": 0,
                        "extractor_version": EXTRACTOR_VERSION,
                        "wall_time_s": wall,
                        "attempt": attempts[date],
                        "status": "failed",
                        "input_manifest": manifests[date],
                        "error_msg": reason,
                    }
                    for date in chunk
                ]
            )
            result.failed.extend(chunk)
            if fail_dates and set(chunk) & fail_dates:
                raise
    return result


def _count_per_date(dates: list[str], hit) -> list:
    """Per date ``d_j`` of a chunk, ``rows_j`` (rows whose partition_date
    is d_j) and ``hits_j`` (those rows where ``hit`` holds): one
    ``count_if`` pair per date, so every count comes from one pass."""
    date = F.col("partition_date").cast("string")
    aggs = []
    for j, d in enumerate(dates):
        on = date == F.lit(d)
        aggs += [
            F.count_if(on).alias(f"rows_{j}"),
            F.count_if(on & hit).alias(f"hits_{j}"),
        ]
    return aggs


def pending_via_anti_join(spark, pages: IceTable, warehouse: str) -> list[str]:
    """The relational form of the resume set — pages partitions LEFT ANTI
    lineage(ok, version, same input manifest; or, for rows without one,
    same snapshot). The driver loop uses the manifest-set form (zero
    cluster work); this exists for parity testing and as the pattern a
    pure-SQL deployment would use (broadcast anti-join: lineage is
    O(partitions) rows, always broadcastable)."""
    from pyspark.sql import functions as F

    lineage = LineageLog(f"{warehouse}/lineage")
    snap_id = pages.snapshot_id()
    parts_df = spark.createDataFrame(
        list(pages.partition_manifests().items()),
        "partition_date string, input_manifest string",
    ).alias("p")
    done_df = (
        lineage.read(spark)
        .filter(
            (F.col("status") == "ok")
            & (F.col("extractor_version") == EXTRACTOR_VERSION)
        )
        .select(
            F.col("partition_date").cast("string").alias("partition_date"),
            "input_manifest",
            "input_snapshot_id",
        )
        .alias("l")
    )
    key_matches = F.when(
        F.col("l.input_manifest").isNull(),
        F.col("l.input_snapshot_id") == F.lit(snap_id),
    ).otherwise(F.col("l.input_manifest") == F.col("p.input_manifest"))
    pending = parts_df.join(
        F.broadcast(done_df),
        on=(F.col("p.partition_date") == F.col("l.partition_date"))
        & key_matches,
        how="left_anti",
    )
    return sorted(r[0] for r in pending.select("partition_date").collect())
