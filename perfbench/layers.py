"""The traced run: per-layer numbers for one workload.

Each layer is timed from outside, around calls into its public
functions, on the same pages and dates as the workload's extraction:

- ``ref_extractor``: ``extract`` and ``collect_links`` in-process on one
  core, over the same payloads;
- ``tables.icetable``: ``read`` → noop sink (scan), ``overwrite_partitions``
  of rows already materialized (commit), ``append``;
- ``operators.extract``: ``extract_stage_dispatch`` → noop sink, one job
  per date as ``run_extract`` chunks them;
- ``operators.links``: ``links_stage`` → ``count()`` over the whole table;
- ``plans.extract_plan`` / ``plans.lineage``: from the spans of a traced
  ``run_extract`` and the files it leaves behind.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from pdf_extractor_spark.operators import links as links_op
from pdf_extractor_spark.operators.extract import extract_stage_dispatch
from pdf_extractor_spark.ref_extractor import extract
from pdf_extractor_spark.ref_extractor.links import collect_links
from pdf_extractor_spark.tables.icetable import IceTable

from perfbench.trace import Tracer, instrument

@dataclass
class Reference:
    """In-process reference outputs and timings over a set of payloads."""

    texts: dict[str, str] = field(default_factory=dict)
    links: dict[str, list] = field(default_factory=dict)
    seconds: dict[str, float] = field(default_factory=dict)
    doc_types: dict[str, int] = field(default_factory=dict)
    slowest_s: float = 0.0
    links_s: float = 0.0
    anchors: int = 0

    @property
    def extract_s(self) -> float:
        return sum(self.seconds.values())


def reference(rows) -> Reference:
    ref = Reference()
    for r in rows:
        t0 = time.perf_counter()
        res = extract(r.html)
        dt = time.perf_counter() - t0
        ref.texts[r.url] = res.text
        ref.seconds[res.doc_type] = ref.seconds.get(res.doc_type, 0.0) + dt
        ref.doc_types[res.doc_type] = ref.doc_types.get(res.doc_type, 0) + 1
        ref.slowest_s = max(ref.slowest_s, dt)
    t0 = time.perf_counter()
    for r in rows:
        ref.links[r.url] = collect_links(r.html)
    ref.links_s = time.perf_counter() - t0
    ref.anchors = sum(len(v) for v in ref.links.values())
    return ref


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer: Tracer, name: str, layer: str, fn) -> float:
    with tracer.span(name, layer) as s:
        fn()
    return s["end"] - s["start"]


def traced_run(ctx, workload, tracer: Tracer) -> tuple[dict, list[str], dict]:
    """Returns (per-layer metrics, correctness problems, trace extras)."""
    # tracing overhead: the workload's own op, untraced then traced
    ops = [workload.op()]
    mark = len(tracer.spans)
    with instrument(tracer):
        ops.append(workload.op())
    op_spans = tracer.since(mark)
    ext = ops[1] if ops[1].warehouse is not None else None

    with instrument(tracer):
        if ext is None:  # outlinks: extract the same table, traced
            mark = len(tracer.spans)
            ext = workload.extraction_op()
            op_spans = op_spans + tracer.since(mark)
        if not any(s["name"] == "tables.icetable.append" for s in op_spans):
            mark = len(tracer.spans)
            workload.landing()  # the op appends nothing: time a landing
            op_spans = op_spans + tracer.since(mark)
        layer = _isolated(ctx, tracer, ext)

    with tracer.span("ref_extractor.reference", "ref_extractor"):
        ref = reference(workload.extraction_rows())
    problems = workload.check(full=True, ref=ref)

    chunks = max(1, len(ext.dates))
    lineage_read = [
        s["end"] - s["start"] for s in op_spans
        if s["name"] in (
            "plans.lineage.completed_partitions", "plans.lineage.attempts"
        )
    ]
    runs = sum(1 for s in op_spans if s["name"].endswith(".run_extract"))
    extracted = IceTable(ext.warehouse / "extracted")
    files_after = set(extracted.files())
    appends = [
        s["end"] - s["start"] for s in op_spans
        if s["name"] == "tables.icetable.append"
    ]
    nproc = ctx.nproc
    m = {
        "ref_extractor.html_s": ref.seconds.get("html", 0.0),
        "ref_extractor.pdf_s": ref.seconds.get("pdf", 0.0),
        "ref_extractor.giant_max_s": ref.slowest_s,
        "ref_extractor.links_s": ref.links_s,
        "ref_extractor.docs_html": ref.doc_types.get("html", 0),
        "ref_extractor.docs_pdf": ref.doc_types.get("pdf", 0),
        "ref_extractor.docs_empty": ref.doc_types.get("empty", 0),
        "ref_extractor.docs_error": ref.doc_types.get("error", 0),
        "operators.extract.stage_s": layer["stage_s"],
        "operators.extract.udf_boundary_s": layer["stage_s"]
        - layer["scan_s"] - ref.extract_s / nproc,
        "operators.extract.parallel_efficiency": ref.extract_s
        / (nproc * layer["stage_s"]),
        "operators.links.stage_s": layer["links_stage_s"],
        "operators.links.udf_boundary_s": layer["links_stage_s"]
        - layer["table_scan_s"] - ref.links_s / nproc,
        "operators.links.anchors": layer["anchors"],
        "tables.icetable.scan_s": layer["scan_s"],
        "tables.icetable.commit_s": layer["commit_s"],
        "tables.icetable.append_s": statistics.median(appends),
        "tables.icetable.files_written": len(files_after - ext.files_before),
        "plans.extract_plan.dates_extracted": len(ext.dates),
        "plans.extract_plan.spark_jobs_per_chunk": ext.spark_jobs / chunks,
        "plans.extract_plan.overhead_s": ext.extract_s
        - layer["stage_s"] - layer["commit_s"],
        "plans.lineage.read_s": sum(lineage_read) / max(1, runs),
        "plans.lineage.files": len(
            list((ext.warehouse / "lineage").glob("*.parquet"))
        ),
        "trace.overhead_s": ops[1].wall_s - ops[0].wall_s,
    }
    self_s = tracer.self_seconds(tracer.spans)
    for name in (
        "ref_extractor", "operators.extract", "operators.links",
        "tables.icetable", "plans.extract_plan", "plans.lineage",
    ):
        m[f"{name}.self_s"] = self_s.get(name, 0.0)
    extras = {
        "attempted": len(ops),
        "failed": sum(1 for o in ops if not o.ok),
        "op_untraced_s": ops[0].wall_s,
        "op_traced_s": ops[1].wall_s,
        "extraction_dates": ext.dates,
        "spark_jobs": ext.spark_jobs,
        "reference_anchors": ref.anchors,
    }
    if ref.anchors != layer["anchors"]:
        problems.append(
            f"links_stage wrote {layer['anchors']} anchors, "
            f"collect_links finds {ref.anchors}"
        )
    return m, problems, extras


def _isolated(ctx, tracer: Tracer, ext) -> dict:
    """Stage, scan and commit costs on the extraction's pages and dates,
    one job per date like ``run_extract``'s chunks."""
    spark = ctx.spark
    pages = ext.pages
    done = IceTable(ext.warehouse / "extracted")
    out = {"scan_s": 0.0, "stage_s": 0.0, "commit_s": 0.0}
    for d in ext.dates:
        out["scan_s"] += _timed(
            tracer, "tables.icetable.scan", "tables.icetable",
            lambda: _noop(
                pages.read(spark, partitions=[d]).select(
                    "url", "warc_ts", "html"
                )
            ),
        )
        out["stage_s"] += _timed(
            tracer, "operators.extract.stage", "operators.extract",
            lambda: _noop(
                extract_stage_dispatch(pages.read(spark, partitions=[d]))
            ),
        )
        # the extraction already materialized the date's rows: time only
        # committing them to a fresh table
        rows = done.read(spark, partitions=[d])
        table = IceTable(ctx.fresh("commit"))
        out["commit_s"] += _timed(
            tracer, "tables.icetable.commit", "tables.icetable",
            lambda: table.overwrite_partitions(rows),
        )
    out["table_scan_s"] = _timed(
        tracer, "tables.icetable.scan", "tables.icetable",
        lambda: _noop(pages.read(spark).select("url", "html")),
    )
    # count() runs the whole stage: the anchors come with the timing
    with tracer.span("operators.links.stage", "operators.links") as s:
        out["anchors"] = links_op.links_stage(pages.read(spark)).count()
    out["links_stage_s"] = s["end"] - s["start"]
    return out

