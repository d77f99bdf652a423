"""Spans recorded from outside the program, around calls into the public
functions of each layer.

A span is (id, name, start, end, parent). Spans stay in memory and are
written out once, when the run ends. ``instrument`` wraps the listed
public functions for the duration of a ``with`` block and restores the
originals afterwards, so untraced runs execute the program unchanged.

Spark is lazy: a function that returns a DataFrame (``IceTable.read``,
``extract_stage_dispatch``, ``links_stage``) only builds a plan, and the
work it describes runs inside whichever later call executes it — for
``run_extract`` that is ``IceTable.overwrite_partitions``. Span self
times therefore show where the driver waits, and the isolated layer
measurements in ``layers.py`` show what each stage costs on its own.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time

# (module, attribute path, layer) — the public calls the extraction path
# makes, named by the layer that defines them
TARGETS = [
    ("pdf_extractor_spark.plans.extract_plan", "run_extract",
     "plans.extract_plan"),
    # run_extract binds these by name, so they are wrapped where it looks
    ("pdf_extractor_spark.plans.extract_plan", "extract_stage_dispatch",
     "operators.extract"),
    ("pdf_extractor_spark.plans.extract_plan", "with_partition_date",
     "operators.extract"),
    ("pdf_extractor_spark.operators.links", "links_stage", "operators.links"),
    ("pdf_extractor_spark.plans.lineage", "LineageLog.completed_partitions",
     "plans.lineage"),
    ("pdf_extractor_spark.plans.lineage", "LineageLog.attempts",
     "plans.lineage"),
    ("pdf_extractor_spark.plans.lineage", "LineageLog.append",
     "plans.lineage"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.snapshot_id",
     "tables.icetable"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.partitions",
     "tables.icetable"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.files",
     "tables.icetable"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.read",
     "tables.icetable"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.append",
     "tables.icetable"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.overwrite_partitions",
     "tables.icetable"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def since(self, mark: int) -> list[dict]:
        return self.spans[mark:]

    def self_seconds(self, spans: list[dict]) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans
        cover. Calls are sequential on the driver thread, so children of
        one span never overlap and their durations simply add up."""
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": spans}, indent=1))


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap every TARGETS function with a span for the block's duration."""
    saved = []
    for mod_name, attr, layer in TARGETS:
        owner = importlib.import_module(mod_name)
        *outer, fn_name = attr.split(".")
        for part in outer:
            owner = getattr(owner, part)
        original = owner.__dict__[fn_name]
        saved.append((owner, fn_name, original))
        setattr(owner, fn_name, _wrap(tracer, original, fn_name, layer))
    try:
        yield
    finally:
        for owner, fn_name, original in reversed(saved):
            setattr(owner, fn_name, original)


def _wrap(tracer: Tracer, fn, fn_name: str, layer: str):
    name = f"{layer}.{fn_name}"

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced
