"""The three workloads. Each one drives the program through its public
entry points on inputs generated from the seed:

- ``crawl_backfill``: ``run_extract`` over a fresh warehouse on a
  multi-day pages table (generator mix plus a few giant blobs);
- ``daily_append``: a warehouse already holding an extracted history
  day; one small crawl day lands with ``IceTable.append`` and
  ``run_extract`` brings it up to date;
- ``outlinks``: ``links_stage`` over a pages table, written to a
  parquet sink.

An operation is one workload step as a user sees it; ``Op`` records what
it did. Ops on the extraction path also carry what the traced run needs
(warehouse, dates, Spark job count).
"""

from __future__ import annotations

import itertools
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pdf_extractor_spark.operators import links as links_op
from pdf_extractor_spark.plans import extract_plan
from pdf_extractor_spark.sources.pages import ingest_corpus_to_icetable
from pdf_extractor_spark.tables.icetable import IceTable

from perfbench import checks, inputs

# crawl_backfill / outlinks: days large enough that extraction, not the
# fixed per-chunk job cost, takes most of each chunk
BACKFILL_DAYS = 2
BACKFILL_DOCS_PER_DAY = 6000
BACKFILL_GIANT_HTML = 2
# outlinks: the same kind of table, smaller, so a run holds enough
# passes for a steady median
OUTLINKS_DOCS_PER_DAY = 3000
# daily_append: one extracted history day, then a fixed sequence of
# appended days, each landed on a fresh copy of the same history
DAILY_DOCS = 200
DAILY_SEQUENCE = 12
DAILY_WARM_OPS = 2


@dataclass
class Op:
    docs: int  # documents the op asked the program to process
    wall_s: float  # the op's timed span
    latency_s: float  # input committed → output committed
    ok: bool
    warehouse: object = None  # extraction ops: the warehouse written
    pages: IceTable | None = None
    dates: list[str] = field(default_factory=list)  # dates run_extract did
    extract_s: float = 0.0  # run_extract's own wall
    spark_jobs: int = 0
    files_before: set = field(default_factory=set)


class Ctx:
    """Run-wide handles: Spark, the run's scratch directory, the seed."""

    def __init__(self, spark, scratch, seed: int, nproc: int):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.nproc = nproc

    def fresh(self, name: str):
        return self.scratch / f"{name}-{uuid.uuid4().hex[:8]}"

    def run_extract(self, pages: IceTable, warehouse) -> tuple:
        """``run_extract`` with the job's defaults; also its wall time and
        the number of Spark jobs it launched (job group + status
        tracker)."""
        sc = self.spark.sparkContext
        group = f"perfbench-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "run_extract")
        t0 = time.perf_counter()
        try:
            res = extract_plan.run_extract(self.spark, pages, str(warehouse))
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res, wall, len(sc.statusTracker().getJobIdsForGroup(group))


def _drop(path) -> None:
    if path is not None:
        shutil.rmtree(path, ignore_errors=True)


class CrawlBackfill:
    name = "crawl_backfill"

    def __init__(self, ctx: Ctx, docs_per_day: int = BACKFILL_DOCS_PER_DAY):
        self.ctx = ctx
        self.rows = inputs.corpus(
            ctx.seed, BACKFILL_DAYS, docs_per_day, BACKFILL_GIANT_HTML
        )
        self.staging = inputs.write_staging(
            self.rows, ctx.scratch / "staging" / "pages.parquet"
        )
        self.pages: IceTable | None = None
        self.last: Op | None = None

    def landing(self) -> IceTable:
        return ingest_corpus_to_icetable(
            self.ctx.spark, self.staging, self.ctx.fresh("pages")
        )

    def setup(self) -> None:
        if self.pages is not None:
            _drop(self.pages.root)
        self.pages = self.landing()

    def warm(self) -> None:
        """One whole untimed ``run_extract``: after a single date the
        first timed operation still ran 5-12% above the second."""
        wh = self.ctx.fresh("warm")
        extract_plan.run_extract(self.ctx.spark, self.pages, str(wh))
        _drop(wh)

    def op(self) -> Op:
        wh = self.ctx.fresh("wh")
        res, wall, jobs = self.ctx.run_extract(self.pages, wh)
        op = Op(
            docs=len(self.rows), wall_s=wall, latency_s=wall,
            ok=not res.failed and len(res.processed) == BACKFILL_DAYS,
            warehouse=wh, pages=self.pages, dates=res.processed,
            extract_s=wall, spark_jobs=jobs,
        )
        self._keep(op)
        return op

    def _keep(self, op: Op) -> None:
        if self.last is not None:
            _drop(self.last.warehouse)
        self.last = op

    def check(self, full: bool, ref=None) -> list[str]:
        checked = self.rows if full else checks.sample(self.rows, self.ctx.seed)
        return checks.extraction(
            self.ctx.spark, self.last.warehouse, self.rows, checked,
            ref.texts if ref else None,
        )

    def extraction_rows(self):
        return self.rows


class DailyAppend:
    name = "daily_append"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        rows = inputs.corpus(ctx.seed, 1 + DAILY_SEQUENCE, DAILY_DOCS)
        by_day: dict[str, list] = {}
        for r in rows:
            by_day.setdefault(r.warc_ts.date().isoformat(), []).append(r)
        days = sorted(by_day)
        stage = ctx.scratch / "staging"
        self.history = by_day[days[0]]
        self.history_staging = inputs.write_staging(
            self.history, stage / "history.parquet"
        )
        self.sequence = [
            (by_day[d], inputs.write_staging(by_day[d], stage / f"{d}.parquet"))
            for d in days[1:]
        ]
        self._next = itertools.cycle(self.sequence)
        self.template = None
        self.last: Op | None = None
        self.last_day: list = []

    def setup(self) -> None:
        """A fresh warehouse holding the extracted history day."""
        _drop(self.template)
        self.template = self.ctx.fresh("history")
        pages = ingest_corpus_to_icetable(
            self.ctx.spark, self.history_staging, self.template / "pages"
        )
        res = extract_plan.run_extract(self.ctx.spark, pages, str(self.template))
        if res.failed:
            raise RuntimeError(f"history extraction failed: {res.failed}")

    def warm(self) -> None:
        # an operation's latency still falls over the first few; the first
        # one after a single warm-up ran 5-12% above the rest of its run
        for _ in range(DAILY_WARM_OPS):
            self.op()

    def op(self) -> Op:
        day_rows, staging = next(self._next)
        episode = self.ctx.fresh("episode")
        shutil.copytree(self.template, episode)
        pages = IceTable(episode / "pages")
        before = set(IceTable(episode / "extracted").files())
        t0 = time.perf_counter()
        inputs.append_day(self.ctx.spark, pages, staging)
        committed = time.perf_counter()
        res, extract_s, jobs = self.ctx.run_extract(pages, episode)
        done = time.perf_counter()
        day = day_rows[0].warc_ts.date().isoformat()
        op = Op(
            docs=len(day_rows), wall_s=done - t0, latency_s=done - committed,
            ok=not res.failed and day in res.processed,
            warehouse=episode, pages=pages, dates=res.processed,
            extract_s=extract_s, spark_jobs=jobs, files_before=before,
        )
        if self.last is not None:
            _drop(self.last.warehouse)
        self.last, self.last_day = op, day_rows
        return op

    def check(self, full: bool, ref=None) -> list[str]:
        rows = self.extraction_rows()
        checked = rows if full else checks.sample(rows, self.ctx.seed)
        return checks.extraction(
            self.ctx.spark, self.last.warehouse, rows, checked,
            ref.texts if ref else None,
        )

    def extraction_rows(self):
        return self.history + self.last_day


class Outlinks:
    name = "outlinks"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.backfill = CrawlBackfill(ctx, OUTLINKS_DOCS_PER_DAY)
        self.rows = self.backfill.rows
        self.sink = None
        self.extraction: Op | None = None

    @property
    def pages(self) -> IceTable:
        return self.backfill.pages

    def landing(self) -> IceTable:
        return self.backfill.landing()

    def setup(self) -> None:
        self.backfill.setup()

    def warm(self) -> None:
        # the link stage keeps speeding up over its first two passes
        for _ in range(2):
            self.op()

    def op(self) -> Op:
        sink = self.ctx.fresh("links")
        t0 = time.perf_counter()
        links_op.links_stage(self.pages.read(self.ctx.spark)).write.parquet(
            str(sink)
        )
        wall = time.perf_counter() - t0
        _drop(self.sink)
        self.sink = sink
        return Op(docs=len(self.rows), wall_s=wall, latency_s=wall, ok=True)

    def check(self, full: bool, ref=None) -> list[str]:
        checked = self.rows if full else checks.sample(self.rows, self.ctx.seed)
        problems = checks.outlinks(
            self.sink, self.rows, checked, ref.links if ref else None
        )
        if full:
            # the traced run also extracts this table (plans.* layers)
            problems += self.backfill.check(full, ref)
        return problems

    def extraction_op(self) -> Op:
        return self.backfill.op()

    def extraction_rows(self):
        return self.rows


WORKLOADS = {
    w.name: w for w in (CrawlBackfill, DailyAppend, Outlinks)
}
