"""IceTable — snapshot/manifest table format over Parquet.

Layout::

    <root>/
      data/<partition_col>=<value>/part-*.parquet   -- immutable data files
      metadata/snap-<id>.json                       -- full manifest per snapshot
      metadata/CURRENT                              -- pointer, atomic os.rename swap

Semantics (the subset of Iceberg the north_rule needs):
- every commit produces a new numbered snapshot that maps each partition
  to a content-addressed per-partition manifest file; unchanged
  partitions re-reference their existing manifest, so commit metadata
  work is O(changed partitions) — at 10^12 rows a daily append touches
  one day's manifest, never the table's full file listing;
- readers resolve CURRENT → manifest → explicit file list; a crashed writer
  leaves orphan files but never a corrupt table (commit = one atomic rename);
- ``append`` adds files; ``overwrite_partitions`` atomically replaces all
  files of the given partition values, emptying a named one its input
  lacks (idempotent re-runs of a partition — the checkpoint-resume
  primitive, SURVEY.md §4.2);
- ``read(spark, partitions=[...])`` performs manifest-level partition
  pruning: only the selected partitions' files reach the scan, so Spark
  never opens — or even lists — pruned files. With 10^12 rows across years
  of daily partitions this is the difference between touching 3 days and
  3,000.

Spark reads use ``option("basePath", data_dir)`` + explicit file paths so
the partition column is recovered from directory names (standard Spark
partition discovery), keeping the scan vectorized and prunable.
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

# Process-level commit serialization, one lock per table root: the
# read-modify-commit window (current_snapshot → merge partition maps →
# _commit rename) is NOT safe against two writers in the SAME process —
# e.g. a streaming query's foreachBatch thread appending while the driver
# thread runs compact(). Cross-process writers remain out of scope
# (single-writer assumption, as documented on _commit), but in-process
# concurrency is real and cheap to close.
_COMMIT_LOCKS: dict[str, threading.RLock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()
# serializes _read_parquet's raise-and-restore of the session's listing
# threshold, so a concurrent read never restores another's raised value
_LISTING_LOCK = threading.Lock()


def _commit_lock(root: pathlib.Path) -> threading.RLock:
    key = str(root.resolve())
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS.setdefault(key, threading.RLock())


# Per-file column min/max stats (Iceberg data-file `lower_bounds` /
# `upper_bounds` analog). Collected from the parquet FOOTER only (no data
# pages read) at manifest-write time; data files are immutable
# (uuid-named, never rewritten in place), so a process-level cache keyed
# by absolute path is safe and makes re-manifesting an appended-to
# partition O(new files) footer reads.
_FILE_STATS_CACHE: dict[str, dict] = {}

_STATS_STR_MAX = 120  # longer strings: skip the bound (conservative)


def _encode_bound(v):
    """Parquet-footer min/max → (tag, json-safe value), or None when the
    value can't be compared faithfully across engines (conservative: a
    file with no usable bound is never skipped)."""
    import datetime

    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, str):
        # ASCII-only: Python compares by code point, Spark/parquet by
        # UTF-8 byte — identical orders only within ASCII
        if len(v) <= _STATS_STR_MAX and v.isascii():
            return ("s", v)
        return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return ("t", int(v.timestamp() * 1_000_000))
    if isinstance(v, datetime.date):
        return ("d", v.toordinal())
    return None


def _file_column_stats(path: str, cols: tuple[str, ...]) -> dict:
    """{col: [tag, lo, hi]} for the requested columns present in the
    file, from row-group footer statistics. Parquet guarantees
    min <= all values <= max even for writer-truncated string bounds,
    so these are always safe skipping bounds."""
    cached = _FILE_STATS_CACHE.get(path)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    out: dict = {}
    try:
        md = pq.ParquetFile(path).metadata
        if md.num_row_groups == 0:
            _FILE_STATS_CACHE[path] = {}
            return {}
        idx = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        }
        for col in cols:
            if col not in idx:
                continue
            lo = hi = None
            ok = md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                b_lo, b_hi = _encode_bound(st.min), _encode_bound(st.max)
                if b_lo is None or b_hi is None or b_lo[0] != b_hi[0]:
                    ok = False
                    break
                lo = b_lo if lo is None or b_lo[1] < lo[1] else lo
                hi = b_hi if hi is None or b_hi[1] > hi[1] else hi
            if ok and lo is not None:
                out[col] = [lo[0], lo[1], hi[1]]
    except Exception:
        out = {}  # unreadable footer → no stats → file never skipped
    _FILE_STATS_CACHE[path] = out
    return out


# Per-file row count, from the footer only; cached per immutable file
# like the stats above.
_FILE_ROWS_CACHE: dict[str, int] = {}


def _file_rows(path: str) -> int | None:
    """Row count of one data file from its footer, or None when the
    footer cannot be read (not cached: the cause may be transient)."""
    cached = _FILE_ROWS_CACHE.get(path)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    try:
        n = pq.ParquetFile(path).metadata.num_rows
    except (OSError, ValueError):  # missing file, or not parquet
        return None
    _FILE_ROWS_CACHE[path] = n
    return n


def _normalize_pred_value(tag: str, value):
    """Predicate constant → the stats encoding's comparable form, or
    None when incomparable (→ no skipping)."""
    import datetime

    if tag == "s":
        return value if isinstance(value, str) and value.isascii() else None
    if tag == "i":
        return value if isinstance(value, int) and not isinstance(value, bool) else None
    if tag == "f":
        return float(value) if isinstance(value, (int, float)) and not isinstance(value, bool) else None
    if tag == "t":
        if isinstance(value, str):
            try:
                value = datetime.datetime.fromisoformat(value)
            except ValueError:
                return None
        if isinstance(value, datetime.datetime):
            if value.tzinfo is None:
                value = value.replace(tzinfo=datetime.timezone.utc)
            return int(value.timestamp() * 1_000_000)
        return value if isinstance(value, int) else None
    if tag == "d":
        if isinstance(value, str):
            try:
                value = datetime.date.fromisoformat(value)
            except ValueError:
                return None
        if isinstance(value, datetime.date) and not isinstance(
            value, datetime.datetime
        ):
            return value.toordinal()
        return None
    return None


_PRED_OPS = ("=", "==", "<", "<=", ">", ">=")


def _bounds_exclude(lo, hi, op: str, v) -> bool:
    """True iff NO value in [lo, hi] can satisfy `col <op> v` — the file
    provably holds no matching row and is skipped."""
    if op in ("=", "=="):
        return v < lo or v > hi
    if op == "<":
        return lo >= v
    if op == "<=":
        return lo > v
    if op == ">":
        return hi <= v
    if op == ">=":
        return hi < v
    raise ValueError(f"unsupported predicate op {op!r}")


class IceTable:
    # columns whose per-file min/max land in manifests by default — the
    # pages/extraction tables' selective-read columns; override per table
    # via the constructor. Columns absent from a file's schema are
    # simply not collected for it.
    DEFAULT_STATS_COLS = ("url", "warc_ts")

    def __init__(
        self,
        root: str | os.PathLike,
        partition_col: str = "partition_date",
        stats_cols: tuple[str, ...] | None = None,
    ):
        self.root = pathlib.Path(root)
        self.partition_col = partition_col
        self.stats_cols = (
            tuple(stats_cols) if stats_cols is not None
            else self.DEFAULT_STATS_COLS
        )
        self.data_dir = self.root / "data"
        self.meta_dir = self.root / "metadata"

    @property
    def commit_lock(self) -> threading.RLock:
        return _commit_lock(self.root)

    # -- metadata ------------------------------------------------------------
    def exists(self) -> bool:
        return (self.meta_dir / "CURRENT").exists()

    def current_snapshot(self) -> dict | None:
        ptr = self.meta_dir / "CURRENT"
        if not ptr.exists():
            return None
        snap_name = ptr.read_text().strip()
        with open(self.meta_dir / snap_name, encoding="utf-8") as f:
            return json.load(f)

    def snapshot_id(self) -> int:
        snap = self.current_snapshot()
        return snap["snapshot_id"] if snap else -1

    def partitions(self) -> list[str]:
        snap = self.current_snapshot()
        return sorted(snap["partitions"]) if snap else []

    def partition_manifests(self) -> dict[str, str | None]:
        """{partition: manifest ref} for the current snapshot. Manifests
        are content-addressed and a commit re-references an untouched
        partition's manifest, so an unchanged ref means unchanged input
        — the per-partition resume key. Legacy inline-list entries have
        no manifest and map to None."""
        snap = self.current_snapshot()
        if snap is None:
            return {}
        return {
            p: ref if isinstance(ref, str) else None
            for p, ref in sorted(snap["partitions"].items())
        }

    def _manifest_entry(self, ref) -> tuple[list[str], dict]:
        """Resolve a partition entry to (relative data-file list,
        {file: {col: [tag, lo, hi]}} stats). The entry is a manifest-file
        relpath (hierarchical form) or an inline list (legacy); manifest
        content is either the legacy sorted file list or the dict form
        carrying per-file column stats — readers accept all three."""
        if isinstance(ref, list):
            return ref, {}
        with open(self.root / ref, encoding="utf-8") as f:
            content = json.load(f)
        if isinstance(content, dict):
            return content["files"], content.get("stats", {})
        return content, {}

    def _manifest_files(self, ref) -> list[str]:
        return self._manifest_entry(ref)[0]

    def _write_manifest(self, files: list[str]) -> str:
        """Write (or reuse) a content-addressed per-partition manifest and
        return its relpath. Content addressing dedups across snapshots:
        an unchanged partition re-references the same manifest file, so a
        commit's metadata work is O(changed partitions), never O(table) —
        the property that keeps commits cheap at 10^12 rows.

        Each referenced file's column min/max (``stats_cols``) rides the
        manifest — Iceberg's lower/upper-bounds analog, enabling FILE-level
        skipping on non-partition predicates in ``files()``/``read()``.
        Bounds come from parquet footers only (immutable files → cached),
        so a manifest rewrite costs O(new files) footer reads."""
        stats = {}
        if self.stats_cols:
            for rel in files:
                s = _file_column_stats(
                    str(self.root / rel), self.stats_cols
                )
                if s:
                    stats[rel] = s
        payload: object = (
            {"files": sorted(files), "stats": stats}
            if stats
            else sorted(files)
        )
        content = json.dumps(payload, sort_keys=True)
        h = hashlib.sha256(content.encode("utf-8")).hexdigest()[:20]
        rel = f"metadata/manifests/m-{h}.json"
        path = self.root / rel
        if not path.exists():
            path.parent.mkdir(parents=True, exist_ok=True)
            tmp = path.with_name(f".tmp-{uuid.uuid4().hex}")
            tmp.write_text(content)
            os.rename(tmp, path)
        return rel

    def partition_files(self, part_ref) -> list[str]:
        return self._manifest_files(part_ref)

    def footer_sizes(self, partitions: list[str]) -> dict[str, int | None]:
        """Each partition's size in rows, from the current snapshot's
        data-file footers alone (no Spark job). A partition whose footers
        cannot all be read counts None."""
        snap = self.current_snapshot()
        parts = snap["partitions"] if snap else {}
        rows: dict[str, int | None] = {}
        for part in partitions:
            files = self._manifest_files(parts[part]) if part in parts else []
            counts = [_file_rows(str(self.root / rel)) for rel in files]
            rows[part] = None if None in counts else sum(counts)
        return rows

    def files(
        self,
        partitions: list[str] | None = None,
        where: list[tuple] | None = None,
    ) -> list[str]:
        """Absolute data-file paths, optionally pruned to given partitions
        (manifest-level pruning: unselected partitions' manifests are
        never even opened) and/or by ``where`` — a conjunction of
        ``(column, op, value)`` triples (op in =/==/</<=/>/>=): a file is
        skipped only when its manifest min/max bounds PROVE no row can
        match (files without bounds for the column are always kept, so
        skipping is never lossy)."""
        snap = self.current_snapshot()
        if snap is None:
            return []
        if where:
            for _, op, _ in where:
                if op not in _PRED_OPS:
                    raise ValueError(f"unsupported predicate op {op!r}")
        out: list[str] = []
        for part, ref in sorted(snap["partitions"].items()):
            if partitions is not None and part not in set(partitions):
                continue
            fs, stats = self._manifest_entry(ref)
            for r in fs:
                if where and self._excluded(stats.get(r, {}), where):
                    continue
                out.append(str(self.root / r))
        return out

    @staticmethod
    def _excluded(col_stats: dict, where: list[tuple]) -> bool:
        for col, op, value in where:
            b = col_stats.get(col)
            if not b:
                continue
            tag, lo, hi = b
            v = _normalize_pred_value(tag, value)
            if v is None:
                continue
            if _bounds_exclude(lo, hi, op, v):
                return True
        return False

    _CORE_SNAPSHOT_KEYS = frozenset(
        {
            "snapshot_id", "parent_id", "operation", "partition_col",
            "committed_at_unix", "schema_json", "partitions",
        }
    )

    def _commit(self, partitions: dict, operation: str,
                schema_json: str | None,
                extra: dict | None = None) -> int:
        """``partitions`` maps partition value → either a reusable manifest
        relpath (unchanged partition) or a list of relative data files
        (changed — a new manifest is written). Only changed partitions cost
        metadata I/O.

        Non-core keys of the parent snapshot (writer progress markers like
        the streaming ``stream_batches``) are CARRIED FORWARD into every
        new snapshot unless the caller's ``extra`` overrides them — a
        maintenance commit (compact, GC) must never erase another
        writer's exactly-once bookkeeping."""
        prev = self.current_snapshot()
        new_id = (prev["snapshot_id"] + 1) if prev else 0
        refs = {
            p: (ref if isinstance(ref, str) else self._write_manifest(ref))
            for p, ref in sorted(partitions.items())
        }
        carried = {
            k: v
            for k, v in (prev or {}).items()
            if k not in self._CORE_SNAPSHOT_KEYS
        }
        # Schema evolution (Iceberg add-column analog): once any commit's
        # column-name set differs from its parent's, the snapshot carries
        # schema_evolved=True (a non-core key, so it propagates to every
        # later snapshot) and reads merge footers so files written before
        # the new column appeared surface it as NULL. Name-SET compare:
        # column reordering alone is not evolution.
        if not carried.get("schema_evolved"):
            prev_sj = (prev or {}).get("schema_json")
            if prev_sj and schema_json:
                try:
                    pf = {f["name"] for f in json.loads(prev_sj)["fields"]}
                    nf = {f["name"] for f in json.loads(schema_json)["fields"]}
                    evolved = pf != nf
                except (KeyError, TypeError, ValueError):
                    evolved = True  # unparseable → be conservative
                if evolved:
                    carried["schema_evolved"] = True
        snap = {
            "snapshot_id": new_id,
            "parent_id": prev["snapshot_id"] if prev else None,
            "operation": operation,
            "partition_col": self.partition_col,
            "committed_at_unix": time.time(),  # informational only
            "schema_json": schema_json or (prev or {}).get("schema_json"),
            "partitions": refs,
            **carried,
            **(extra or {}),
        }
        self.meta_dir.mkdir(parents=True, exist_ok=True)
        snap_name = f"snap-{new_id:08d}.json"
        with open(self.meta_dir / snap_name, "w", encoding="utf-8") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        tmp = self.meta_dir / f".CURRENT.{uuid.uuid4().hex}"
        tmp.write_text(snap_name)
        os.rename(tmp, self.meta_dir / "CURRENT")  # the atomic commit point
        return new_id

    # -- writes ----------------------------------------------------------------
    def _stage_write(self, df: DataFrame) -> dict[str, list[str]]:
        """Write df (must contain partition_col) to a staging dir via Spark's
        partitioned parquet writer, then move files under data/. Returns
        {partition_value: [relpath,…]} of the files added."""
        staging = self.root / f".staging-{uuid.uuid4().hex}"
        (
            df.write.mode("overwrite")
            .partitionBy(self.partition_col)
            .parquet(str(staging))
        )
        added: dict[str, list[str]] = {}
        try:
            for pdir in sorted(staging.glob(f"{self.partition_col}=*")):
                pval = pdir.name.split("=", 1)[1]
                dest = self.data_dir / pdir.name
                dest.mkdir(parents=True, exist_ok=True)
                for i, f in enumerate(sorted(pdir.glob("*.parquet"))):
                    name = f"part-{uuid.uuid4().hex}-{i:05d}.parquet"
                    os.rename(f, dest / name)
                    added.setdefault(pval, []).append(
                        str((dest / name).relative_to(self.root))
                    )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return added

    def append(self, df: DataFrame) -> int:
        snap_id, _ = self.append_tracked(df)
        return snap_id

    def append_tracked(
        self,
        df: DataFrame,
        extra: dict | None = None,
        merge_extra=None,
    ) -> tuple[int, dict[str, list[str]]]:
        """Append and return (snapshot_id, {partition: [abs file path…]})
        of exactly the files this commit added — lets callers account for
        an append (counts, lineage) by reading only its own files instead
        of re-scanning the table. ``extra`` key/values are embedded in the
        snapshot json ATOMICALLY with the commit — the hook idempotent
        writers (streaming ingest) use to record their progress marker in
        the same atomic rename as the data it describes.

        ``merge_extra``: callable ``parent_snapshot_dict -> extra dict``
        evaluated INSIDE the commit lock against the then-current parent
        snapshot. Writers whose extra derives from the previous
        snapshot's state (e.g. merging their stream marker into the
        marker map) must use this instead of ``extra`` — a dict computed
        before the lock could overwrite a concurrent writer's update
        with stale state."""
        added = self._stage_write(df)
        with self.commit_lock:
            prev = self.current_snapshot()
            if merge_extra is not None:
                extra = merge_extra(prev or {})
            parts: dict = dict(prev["partitions"]) if prev else {}
            for p, fs in added.items():
                if p in parts:
                    parts[p] = self._manifest_files(parts[p]) + fs
                else:
                    parts[p] = fs
            snap_id = self._commit(parts, "append", df.schema.json(), extra)
        abs_added = {
            p: [str(self.root / r) for r in fs] for p, fs in added.items()
        }
        return snap_id, abs_added

    def overwrite_partitions(
        self, df: DataFrame, partitions: list[str] | None = None
    ) -> int:
        """Atomically replace every partition present in df — the idempotent
        re-run primitive used by checkpoint-resume.

        ``partitions`` names the exact set to replace instead: an existing
        named partition df holds no row of commits EMPTY (as ``upsert``
        does), so a re-run over an input partition that lost every row
        cannot leave its old rows behind; a row of df outside the set
        raises before anything is committed."""
        added = self._stage_write(df)
        if partitions is not None:
            stray = sorted(set(added) - set(partitions))
            if stray:
                for fs in added.values():
                    for f in fs:
                        (self.root / f).unlink(missing_ok=True)
                raise ValueError(
                    f"overwrite_partitions: df holds rows of partitions "
                    f"{stray} outside the named set {sorted(partitions)}"
                )
            added = {p: added.get(p, []) for p in partitions}
        with self.commit_lock:
            prev = self.current_snapshot()
            parts: dict = dict(prev["partitions"]) if prev else {}
            for p, fs in added.items():
                if fs or p in parts:
                    parts[p] = fs  # replaced wholesale
            return self._commit(
                parts, "overwrite_partitions", df.schema.json()
            )

    def upsert(self, spark, df: DataFrame, keys: list[str]) -> int:
        """MERGE keep-incoming (SCD1): every incoming row REPLACES any
        existing row sharing its ``keys`` (wherever it lives — a key may
        move between partitions, e.g. a url re-crawled on a new date);
        unmatched incoming rows insert. ``df`` must carry the table
        schema.

        Copy-on-write is PRUNED to the partitions that actually hold a
        matched key (found by a semi-join of the table on the incoming
        key set — at 10^12 rows the key set is the small side and
        broadcasts; untouched partitions' files are never rewritten,
        only re-referenced). Affected partitions are rewritten as
        (existing MINUS matched keys) ∪ (their incoming rows); incoming
        rows landing in untouched partitions append. A partition whose
        rows are all replaced away is committed EMPTY, not left stale.

        Optimistic concurrency, but unlike compact() an upsert carries
        DATA — on a conflicting commit between the read and the rename
        this raises (caller retries) instead of silently dropping
        either side. Prior snapshots still time-travel (old files stay
        until expire_snapshots).

        The incoming batch must itself be key-distinct: a DataFrame has
        no row order, so "keep-last within the batch" is undefined —
        rather than silently committing duplicate keys (which the next
        upsert would fan out on), a batch carrying the same key twice
        raises and the caller must pre-aggregate."""
        from pyspark.sql import functions as F

        dup_keys = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(5)
            .collect()
        )
        if dup_keys:
            sample = [tuple(r[k] for k in keys) for r in dup_keys]
            raise ValueError(
                "upsert batch is not key-distinct on "
                f"{keys}: duplicate key(s) {sample} — SCD1 'incoming "
                "row replaces existing row' is ill-defined within an "
                "unordered batch; deduplicate before upserting"
            )
        if not self.exists():
            return self.append(df)
        base = self.current_snapshot()
        keydf = df.select(*keys).distinct()
        # partition-map keys are the writer's directory STRINGS; the
        # reader's partition-value inference may type the column (e.g.
        # DATE for date-shaped values) — normalize both to the string
        # form the snapshot json uses
        affected = sorted(
            r[0]
            for r in self.read(spark)
            .join(keydf, on=keys, how="left_semi")
            .select(F.col(self.partition_col).cast("string"))
            .distinct()
            .collect()
        )
        if affected:
            keep = self.read(spark, partitions=affected).join(
                keydf, on=keys, how="left_anti"
            )
            keep = keep.withColumn(
                self.partition_col,
                F.col(self.partition_col).cast(
                    dict(df.dtypes)[self.partition_col]
                ),
            )
            replacement = keep.select(*df.columns).unionByName(df)
        else:
            replacement = df
        added = self._stage_write(replacement)
        with self.commit_lock:
            current = self.current_snapshot()
            if (
                current is None
                or current["snapshot_id"] != base["snapshot_id"]
            ):
                raise RuntimeError(
                    "upsert conflict: table advanced from snapshot "
                    f"{base['snapshot_id']} to "
                    f"{current['snapshot_id'] if current else None} "
                    "during the rewrite — retry"
                )
            parts: dict = dict(base["partitions"])
            for p in affected:
                parts[p] = added.get(p, [])
            for p, fs in added.items():
                if p not in affected:
                    if p in parts:
                        parts[p] = self._manifest_files(parts[p]) + fs
                    else:
                        parts[p] = fs
            return self._commit(parts, "upsert", df.schema.json())

    # -- maintenance -------------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        partitions: list[str] | None = None,
        min_files: int = 2,
        sort_by: list[str] | None = None,
        files_per_partition: int = 1,
    ) -> int:
        """Rewrite each selected partition's accumulated small files into
        ~one file per partition (Iceberg ``rewrite_data_files`` analog).
        Repeated appends — streaming micro-batches especially — leave
        dozens of tiny parquet files per partition; at 100× scale the
        scan's task count and open-file overhead degrade with them.

        ``sort_by`` upgrades the rewrite to Iceberg's
        ``rewrite_data_files(strategy => 'sort')``: rows are
        range-partitioned and sorted on (partition_col, *sort_by) into
        ``files_per_partition`` files per table partition, so each data
        file covers a NARROW slice of the sort key and the per-file
        min/max bounds this table already records (``stats_cols``)
        become genuinely selective — ``read(where=)`` on the sort column
        skips most files instead of none. Append-order files each span
        the whole key range (every file's [min, max] covers every
        probe), which is why stats alone don't skip until the data is
        clustered; this is the write-side half of the file-skipping
        feature. A range task may straddle two table partitions (the
        partitioned writer splits it back), so per-partition file counts
        are approximate — an optimization, never a semantics change.

        The rewrite commits through the SAME atomic-rename snapshot path
        as every other write: readers see either the old file set or the
        new one, never a mix, and prior snapshots still time-travel
        because old data files are left in place (reclaim them with
        ``expire_snapshots``). Partitions with fewer than ``min_files``
        files are skipped (no needless rewrite; pass ``min_files=1`` to
        re-cluster already-compacted partitions). Returns the new
        snapshot id, or the current one if nothing needed compaction."""
        from pyspark.sql import functions as F

        if files_per_partition < 1:
            raise ValueError("files_per_partition must be >= 1")
        if files_per_partition > 1 and not sort_by:
            # a range partitioner on the partition value alone keeps
            # equal keys together — it cannot split one partition's rows
            raise ValueError("files_per_partition > 1 requires sort_by")
        if sort_by:
            missing = [c for c in sort_by if c not in self.stats_cols]
            if missing:
                # still worth doing — parquet ROW-GROUP footer stats on
                # the sorted column benefit Spark's own pushdown — but
                # the manifest-level file skipping this method advertises
                # needs bounds, and bounds are only collected for
                # stats_cols; be loud instead of silently delivering a
                # full rewrite with zero manifest skipping
                import warnings

                warnings.warn(
                    f"compact(sort_by={sort_by}): {missing} not in "
                    f"stats_cols={list(self.stats_cols)} — manifest "
                    "bounds will not be recorded for them, so files() "
                    "cannot skip on those columns (row-group-level "
                    "parquet stats still apply)",
                    stacklevel=2,
                )
        snap = self.current_snapshot()
        if snap is None:
            return -1
        todo = []
        for part, ref in sorted(snap["partitions"].items()):
            if partitions is not None and part not in set(partitions):
                continue
            if len(self._manifest_files(ref)) >= min_files:
                todo.append(part)
        if not todo:
            return snap["snapshot_id"]
        df = self.read(spark, partitions=todo)
        if sort_by:
            keys = [F.col(self.partition_col)] + [
                F.col(c) for c in sort_by
            ]
            n = max(len(todo) * files_per_partition, 1)
            # one range shuffle on (partition, sort key) → each task
            # holds a contiguous key slice; sortWithinPartitions orders
            # rows inside the file so parquet row-group stats (and any
            # downstream merge scan) benefit too
            compacted = df.repartitionByRange(n, *keys).sortWithinPartitions(
                *keys
            )
        else:
            # one shuffle keyed on the partition column → each task holds
            # whole partitions → ~one output file per partition value
            compacted = df.repartition(F.col(self.partition_col))
        added = self._stage_write(compacted)
        # optimistic-concurrency guard: the rewrite is slow and based on
        # the snapshot read at entry — if another writer committed in the
        # meantime (e.g. a live streaming append), committing our stale
        # partition map would DROP its files. Compaction is an
        # optimization, so on conflict we abort (the staged files stay on
        # disk unreferenced — remove_orphan_files reclaims them once
        # past its age threshold) instead of losing data. The
        # re-check and the commit run under the table's process-level
        # commit lock, so an in-process append (e.g. the streaming
        # query's foreachBatch thread) can't land BETWEEN the check and
        # the rename — the check-then-commit race the lock closes.
        # Cross-process writers remain out of scope (single-writer
        # assumption of the atomic-rename table).
        with self.commit_lock:
            current = self.current_snapshot()
            if (
                current is None
                or current["snapshot_id"] != snap["snapshot_id"]
            ):
                return current["snapshot_id"] if current else -1
            parts: dict = dict(snap["partitions"])
            for p in todo:
                parts[p] = added.get(p, [])
            # a FULL-table rewrite homogenizes every live file to the
            # union schema, so the sticky schema_evolved flag (and its
            # per-read mergeSchema footer cost) can be dropped again —
            # partial rewrites keep it (untouched partitions may still
            # hold pre-evolution files)
            extra = (
                {"schema_evolved": False}
                if set(todo) == set(snap["partitions"])
                else None
            )
            return self._commit(
                parts, "compact", df.schema.json(), extra=extra
            )

    # -- tags (Iceberg named-ref analog) ---------------------------------------
    def tags(self) -> dict[str, int]:
        """name → snapshot_id for every tag (empty dict if none)."""
        p = self.meta_dir / "TAGS.json"
        if not p.exists():
            return {}
        with open(p, encoding="utf-8") as f:
            return json.load(f)

    def _write_tags(self, tags: dict[str, int]) -> None:
        tmp = self.meta_dir / f".TAGS.{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(tags, indent=1, sort_keys=True))
        os.rename(tmp, self.meta_dir / "TAGS.json")  # atomic like CURRENT

    def tag(
        self, name: str, snapshot_id: int | None = None,
        replace: bool = False,
    ) -> int:
        """Pin a named tag to a snapshot (current if omitted) — the
        Iceberg named-ref used for audit/publish workflows ("the
        snapshot we trained run X on"). Tagged snapshots are PROTECTED
        from ``expire_snapshots`` until the tag is deleted, so the tag
        is a retention lease, not just a bookmark. Re-pointing an
        existing tag requires ``replace=True`` (accidental re-pin of an
        audit ref should be loud). Atomic-rename persisted under the
        commit lock."""
        with self.commit_lock:
            if snapshot_id is None:
                snapshot_id = self.snapshot_id()
            if not (self.meta_dir / f"snap-{snapshot_id:08d}.json").exists():
                raise ValueError(f"no snapshot {snapshot_id} to tag")
            tags = self.tags()
            if name in tags and tags[name] != snapshot_id and not replace:
                raise ValueError(
                    f"tag {name!r} already points at {tags[name]}; "
                    "pass replace=True to re-point it"
                )
            tags[name] = snapshot_id
            self._write_tags(tags)
            return snapshot_id

    def delete_tag(self, name: str) -> None:
        with self.commit_lock:
            tags = self.tags()
            if name not in tags:
                return  # nothing to release (also: no metadata dir yet)
            del tags[name]
            self._write_tags(tags)

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """Read the table AS OF a tag (Iceberg ``VERSION AS OF 'tag'``)."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r} on {self.root}")
        return self.read_snapshot(spark, tags[name])

    def expire_snapshots(self, keep_last: int = 3) -> dict[str, int]:
        """Metadata/data GC (Iceberg ``expire_snapshots`` analog): keep
        the most recent ``keep_last`` snapshots PLUS every tagged
        snapshot, delete older snapshot files, then delete manifests and
        data files referenced ONLY by the expired snapshots. Time travel
        remains valid for every kept snapshot (tags included — a tag is
        a retention lease); the atomic CURRENT pointer is never
        touched. Runs under the commit lock: without it an in-process
        ``tag()`` racing the expiry could pin a snapshot AFTER the
        tag-protection set was read but BEFORE the unlink — the lease
        would point at a deleted snapshot (same in-process concurrency
        the lock closes for commits; cross-process writers remain out
        of scope). ``keep_last`` must be >= 1: the current snapshot can
        never be expired."""
        if keep_last < 1:
            raise ValueError(
                f"keep_last={keep_last}: must be >= 1 (the current "
                "snapshot is always kept)"
            )
        with self.commit_lock:
            return self._expire_snapshots_locked(keep_last)

    def _expire_snapshots_locked(self, keep_last: int) -> dict[str, int]:
        snaps = sorted(self.meta_dir.glob("snap-*.json"))
        tagged = {
            self.meta_dir / f"snap-{sid:08d}.json"
            for sid in self.tags().values()
        }
        keep_set = set(snaps[-keep_last:]) | (tagged & set(snaps))
        drop = [p for p in snaps if p not in keep_set]
        if not drop:
            return {"snapshots": 0, "manifests": 0, "data_files": 0}
        keep = [p for p in snaps if p in keep_set]
        live_manifests: set[str] = set()
        live_data: set[str] = set()
        for p in keep:
            with open(p, encoding="utf-8") as f:
                s = json.load(f)
            for ref in s["partitions"].values():
                if isinstance(ref, str):
                    live_manifests.add(ref)
                live_data.update(self._manifest_files(ref))
        dead_manifests: set[str] = set()
        dead_data: set[str] = set()
        for p in drop:
            with open(p, encoding="utf-8") as f:
                s = json.load(f)
            for ref in s["partitions"].values():
                if isinstance(ref, str) and ref not in live_manifests:
                    dead_manifests.add(ref)
                dead_data.update(
                    r
                    for r in self._manifest_files(ref)
                    if r not in live_data
                )
        for p in drop:
            p.unlink()
        for rel in dead_manifests:
            (self.root / rel).unlink(missing_ok=True)
        for rel in dead_data:
            (self.root / rel).unlink(missing_ok=True)
        return {
            "snapshots": len(drop),
            "manifests": len(dead_manifests),
            "data_files": len(dead_data),
        }

    def remove_orphan_files(
        self, older_than_s: float = 259200.0
    ) -> dict[str, int]:
        """Reclaim files referenced by NO snapshot (Iceberg
        ``remove_orphan_files`` analog). Orphans arise from the
        documented abort paths: a ``compact()`` that lost its
        optimistic-concurrency race after staging (its moved files
        stay under ``data/`` unreferenced), or a writer killed between
        ``_stage_write`` and commit (a leftover ``.staging-*`` dir).
        ``expire_snapshots`` cannot reclaim either — it only walks
        files some snapshot references.

        The age threshold (default 3 days — Iceberg's own default)
        protects in-flight writers: staged files carry their write-time
        mtime (``os.rename`` preserves it), so anything younger than
        the threshold is left alone; a writer that stages and then
        waits LONGER than the threshold before committing races the
        sweep — the same caveat Iceberg documents. Runs under the
        table's commit lock so an in-process commit cannot land between
        the reference scan and the deletes. Only ``data/`` and
        ``.staging-*`` are touched, never ``metadata/``."""
        now = time.time()
        removed_data = removed_staging = kept_young = 0
        with self.commit_lock:
            referenced: set[str] = set()
            for p in sorted(self.meta_dir.glob("snap-*.json")):
                with open(p, encoding="utf-8") as f:
                    s = json.load(f)
                for ref in s["partitions"].values():
                    referenced.update(self._manifest_files(ref))
            for f in self.data_dir.glob("**/*.parquet"):
                rel = str(f.relative_to(self.root))
                if rel in referenced:
                    continue
                if now - f.stat().st_mtime < older_than_s:
                    kept_young += 1
                    continue
                f.unlink()
                removed_data += 1
            for d in self.root.glob(".staging-*"):
                if now - d.stat().st_mtime < older_than_s:
                    kept_young += 1
                    continue
                shutil.rmtree(d, ignore_errors=True)
                removed_staging += 1
        return {
            "data_files": removed_data,
            "staging_dirs": removed_staging,
            "kept_young": kept_young,
        }

    # -- time travel -------------------------------------------------------------
    def history(self) -> list[dict]:
        """All snapshots, oldest first (Iceberg `table.history()` analog)."""
        out = []
        for p in sorted(self.meta_dir.glob("snap-*.json")):
            with open(p, encoding="utf-8") as f:
                s = json.load(f)
            out.append(
                {
                    "snapshot_id": s["snapshot_id"],
                    "parent_id": s["parent_id"],
                    "operation": s["operation"],
                    "n_partitions": len(s["partitions"]),
                    "n_files": sum(
                        len(self._manifest_files(v))
                        for v in s["partitions"].values()
                    ),
                }
            )
        return out

    def _read_parquet(
        self,
        spark: SparkSession,
        files: list[str],
        evolved: bool,
        schema_json: str | None = None,
    ) -> DataFrame:
        """All data-file reads funnel here. On a table that never evolved
        the snapshot's tracked schema binds the scan, so no Spark job
        infers it from footers; the partition column is left out of it
        and keeps Spark's path inference (a ``partition_date`` written as
        a string still reads back as DATE). On schema-evolved tables the
        scan merges footers (mergeSchema) so pre-evolution files surface
        added columns as NULL — Iceberg's add-column read semantics.

        mergeSchema only unions the footers of files actually SCANNED,
        so a partition-pruned or file-skipped read whose surviving files
        all predate the evolution would lack the added column entirely;
        ``schema_json`` (the snapshot's tracked schema) closes that hole
        — any tracked column absent from the scan is appended as a typed
        NULL, so the read's column set never depends on which files
        survived pruning.

        The manifest already lists every file, yet above
        ``parallelPartitionDiscovery.threshold`` paths Spark would list
        them again with a Spark job; the threshold is raised to the file
        count for this one call and then restored."""
        from pyspark.sql import types as T

        r = spark.read.option("basePath", str(self.data_dir))
        tracked = (
            T.StructType.fromJson(json.loads(schema_json))
            if schema_json
            else None
        )
        if evolved:
            r = r.option("mergeSchema", "true")
        elif tracked is not None:
            r = r.schema(
                T.StructType(
                    [f for f in tracked.fields if f.name != self.partition_col]
                )
            )
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        with _LISTING_LOCK:
            if len(files) <= int(spark.conf.get(key)):
                df = r.parquet(*files)
            else:
                prev = spark.conf.get(key, None)
                spark.conf.set(key, str(len(files)))
                try:
                    df = r.parquet(*files)
                finally:
                    if prev is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, prev)
        if evolved and tracked is not None:
            from pyspark.sql import functions as F

            have = set(df.columns)
            for field in tracked.fields:
                if field.name not in have:
                    df = df.withColumn(
                        field.name,
                        F.lit(None).cast(field.dataType),
                    )
        return df

    def read_snapshot(
        self,
        spark: SparkSession,
        snapshot_id: int,
        partitions: list[str] | None = None,
    ) -> DataFrame:
        """Time travel: read the table AS OF a past snapshot (Iceberg
        `VERSION AS OF`). Works because data files are immutable and
        manifests are never rewritten — the old manifest IS the old table."""
        path = self.meta_dir / f"snap-{snapshot_id:08d}.json"
        with open(path, encoding="utf-8") as f:
            snap = json.load(f)
        files: list[str] = []
        for part, ref in sorted(snap["partitions"].items()):
            if partitions is not None and part not in set(partitions):
                continue
            files.extend(str(self.root / r) for r in self._manifest_files(ref))
        if not files:
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(json.loads(snap["schema_json"]))
            return spark.createDataFrame([], schema)
        # time travel honors the AS-OF schema: merge only if evolution
        # had already happened by the target snapshot
        return self._read_parquet(
            spark,
            files,
            bool(snap.get("schema_evolved")),
            snap.get("schema_json"),
        )

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg incremental-append read / the CDC
        consumer's primitive): the rows ADDED by commits in
        ``(from_snapshot_id, to_snapshot_id]`` — what a daily-delta
        consumer processes without re-reading the table.

        Contract mirrors Iceberg's: only append-family commits are
        expressible as pure row additions. ``compact`` snapshots are
        SKIPPED (their "added" files are rewrites of rows an earlier
        snapshot already delivered — including them would double-feed
        the consumer); ``overwrite_partitions``/``upsert`` commits in
        the range RAISE (they delete rows, which an append-only delta
        cannot express — a consumer that needs those wants the full
        snapshot diff, not this API).

        Works from manifests alone: per changed partition, the file set
        difference vs the parent snapshot (content-addressed manifests
        make unchanged partitions free to skip); immutable data files
        mean the diff IS the delta."""
        if to_snapshot_id is None:
            to_snapshot_id = self.snapshot_id()
        files: list[str] = []
        for sid in range(from_snapshot_id + 1, to_snapshot_id + 1):
            with open(
                self.meta_dir / f"snap-{sid:08d}.json", encoding="utf-8"
            ) as f:
                snap = json.load(f)
            op = snap.get("operation")
            if op == "compact":
                continue
            if op not in ("append",):
                raise ValueError(
                    f"snapshot {sid} is '{op}': row deletions are not "
                    "expressible as an append-only delta — read the "
                    "full snapshot instead"
                )
            if snap.get("parent_id") is None:
                parent = {}
            else:
                with open(
                    self.meta_dir / f"snap-{snap['parent_id']:08d}.json",
                    encoding="utf-8",
                ) as pf:
                    parent = json.load(pf)["partitions"]
            for part, ref in snap["partitions"].items():
                prev = (
                    set(self._manifest_files(parent[part]))
                    if part in parent
                    else set()
                )
                files.extend(
                    str(self.root / r)
                    for r in self._manifest_files(ref)
                    if r not in prev
                )
        if not files:
            snap = self.current_snapshot()
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(json.loads(snap["schema_json"]))
            return spark.createDataFrame([], schema)
        cur = self.current_snapshot() or {}
        return self._read_parquet(
            spark,
            files,
            bool(cur.get("schema_evolved")),
            cur.get("schema_json"),
        )

    # -- reads -------------------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        partitions: list[str] | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Read the current snapshot. ``partitions`` prunes at manifest
        level; ``where`` (conjunction of ``(col, op, value)`` triples)
        additionally skips data files whose manifest min/max bounds
        prove them predicate-free — Iceberg file-level data skipping on
        NON-partition columns — and is re-applied as a row filter on the
        survivors, so the result is exactly the matching rows."""
        files = self.files(partitions, where)
        if not files:
            snap = self.current_snapshot()
            if snap and snap.get("schema_json"):
                from pyspark.sql import types as T

                schema = T.StructType.fromJson(json.loads(snap["schema_json"]))
                df = spark.createDataFrame([], schema)
            else:
                raise FileNotFoundError(
                    f"IceTable at {self.root} is empty/unknown"
                )
        else:
            cur = self.current_snapshot() or {}
            df = self._read_parquet(
                spark,
                files,
                bool(cur.get("schema_evolved")),
                cur.get("schema_json"),
            )
        if where:
            from pyspark.sql import functions as F

            for col, op, value in where:
                c, v = F.col(col), F.lit(value)
                df = df.filter(
                    c == v if op in ("=", "==")
                    else c < v if op == "<"
                    else c <= v if op == "<="
                    else c > v if op == ">"
                    else c >= v
                )
        return df
