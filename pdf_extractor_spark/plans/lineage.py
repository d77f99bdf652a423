"""Per-partition lineage log (north_rule: "per-partition lineage + metrics").

Schema (FIXTURES.md §4)::

    partition_date DATE, input_snapshot_id BIGINT, rows_in BIGINT,
    rows_out BIGINT, n_errors BIGINT, extractor_version STRING,
    wall_time_s DOUBLE, attempt INT, status STRING, input_manifest STRING,
    error_msg STRING

In ``run_extract``'s rows, ``rows_in`` is the number of pages rows the
date's input files hold, counted from their parquet footers, and
``rows_out``/``n_errors`` are observed on the commit job itself. A
``failed`` row's ``error_msg`` names the exception class and message
that failed its chunk.

Storage: append-only parquet files under ``<root>/lineage/`` written
driver-side with pyarrow — lineage rows are O(partitions), tiny by design,
so they never need an executor. Readable by Spark/duckdb for audits and by
``completed_partitions`` for resume. Files written before a column existed
read it as NULL.

Resume rule, per partition: a date is DONE iff some lineage row has
status='ok' AND the same extractor_version AND an ``input_manifest`` equal
to the date's current manifest ref in the pages table. Manifests are
content-addressed and re-referenced by commits that leave a partition
alone, so appending to one date reopens only that date; a new date is
pending because no row names its manifest. Rows with a NULL
``input_manifest`` (files from before the column, or pages partitions
stored as legacy inline lists) fall back to matching the whole-table
input snapshot id.
"""

from __future__ import annotations

import datetime as dt
import pathlib
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

LINEAGE_SCHEMA = pa.schema(
    [
        pa.field("partition_date", pa.date32()),
        pa.field("input_snapshot_id", pa.int64()),
        pa.field("rows_in", pa.int64()),
        pa.field("rows_out", pa.int64()),
        pa.field("n_errors", pa.int64()),
        pa.field("extractor_version", pa.string()),
        pa.field("wall_time_s", pa.float64()),
        pa.field("attempt", pa.int32()),
        pa.field("status", pa.string()),
        # the pages partition's manifest ref the row's extraction read
        pa.field("input_manifest", pa.string()),
        # failed rows: "<exception class>: <message>" of the chunk's failure
        pa.field("error_msg", pa.string()),
    ]
)


class LineageLog:
    def __init__(self, root: str | pathlib.Path):
        self.root = pathlib.Path(root)

    def _files(self) -> list[pathlib.Path]:
        return sorted(self.root.glob("*.parquet")) if self.root.exists() else []

    def records(self) -> list[dict]:
        rows: list[dict] = []
        for f in self._files():
            rows.extend(pq.read_table(f, schema=LINEAGE_SCHEMA).to_pylist())
        return rows

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        self.root.mkdir(parents=True, exist_ok=True)
        norm = []
        for r in rows:
            r = dict(r)
            if isinstance(r["partition_date"], str):
                r["partition_date"] = dt.date.fromisoformat(r["partition_date"])
            r.setdefault("n_errors", 0)
            norm.append(r)
        table = pa.Table.from_pylist(norm, schema=LINEAGE_SCHEMA)
        tmp = self.root / f".tmp-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, tmp)
        tmp.rename(self.root / f"run-{uuid.uuid4().hex}.parquet")

    def completed_partitions(
        self,
        extractor_version: str,
        input_snapshot_id: int,
        input_manifests: dict[str, str | None],
    ) -> set[str]:
        """Dates whose current input (``input_manifests``: date → manifest
        ref) was already extracted ok by ``extractor_version``."""
        return self.resume_state(
            extractor_version, input_snapshot_id, input_manifests
        )[0]

    def resume_state(
        self,
        extractor_version: str,
        input_snapshot_id: int,
        input_manifests: dict[str, str | None],
    ) -> tuple[set[str], Counter]:
        """One pass over the log: ``completed_partitions``' dates, and
        every date's attempts so far (ok and failed rows alike)."""
        done: set[str] = set()
        attempts: Counter = Counter()
        for r in self.records():
            date = r["partition_date"].isoformat()
            attempts[date] += 1
            if (
                r["status"] != "ok"
                or r["extractor_version"] != extractor_version
            ):
                continue
            if r["input_manifest"] is None:
                if r["input_snapshot_id"] == input_snapshot_id:
                    done.add(date)
            elif r["input_manifest"] == input_manifests.get(date):
                done.add(date)
        return done, attempts

    def attempts(self, partition_date: str) -> int:
        return sum(
            1
            for r in self.records()
            if r["partition_date"].isoformat() == partition_date
        )

    def read(self, spark):
        """Lineage as a Spark DataFrame (for audits / the anti-join form).

        The schema is passed EXPLICITLY: without it Spark samples one file,
        so a warehouse mixing files from before a column existed with new
        ones would get a nondeterministic schema — the column silently
        present or absent depending on which file was sampled."""
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(LINEAGE_SCHEMA)
        files = [str(f) for f in self._files()]
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*files)
