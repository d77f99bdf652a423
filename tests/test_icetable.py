"""Iceberg-style table layer: snapshots, appends, partition overwrite,
manifest-level pruning."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.tables.icetable import IceTable


@pytest.fixture()
def tbl(tmp_path):
    return IceTable(tmp_path / "t")


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id int, v string, partition_date string"
    )


def test_append_and_read(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15")]))
    assert tbl.snapshot_id() == 0
    got = tbl.read(spark)
    assert got.count() == 2
    assert set(got.columns) == {"id", "v", "partition_date"}


def test_second_append_new_snapshot(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2025-06-14")]))
    tbl.append(_df(spark, [(2, "b", "2025-06-14")]))
    assert tbl.snapshot_id() == 1
    assert tbl.read(spark).count() == 2
    # old snapshot still lists only the first file
    assert len(tbl.files()) == 2


def test_overwrite_partition_atomic_idempotent(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15")]))
    tbl.overwrite_partitions(_df(spark, [(9, "z", "2025-06-14")]))
    got = {(r.id, r.v) for r in tbl.read(spark).collect()}
    assert got == {(9, "z"), (2, "b")}
    # re-running the same overwrite changes nothing observable
    tbl.overwrite_partitions(_df(spark, [(9, "z", "2025-06-14")]))
    got2 = {(r.id, r.v) for r in tbl.read(spark).collect()}
    assert got2 == got


def test_overwrite_named_partitions_empties_missing(spark, tbl):
    """A named partition the DataFrame holds no row of is replaced by
    nothing (its old rows go); a named partition the table never had
    and the DataFrame lacks stays absent; unnamed ones are untouched."""
    tbl.append(
        _df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15"),
                    (3, "c", "2025-06-16")])
    )
    tbl.overwrite_partitions(
        _df(spark, [(9, "z", "2025-06-14")]),
        partitions=["2025-06-14", "2025-06-15", "2025-06-17"],
    )
    assert {(r.id, r.v) for r in tbl.read(spark).collect()} == {
        (9, "z"), (3, "c")
    }
    assert tbl.partitions() == ["2025-06-14", "2025-06-15", "2025-06-16"]
    assert tbl.files(["2025-06-15"]) == []


def test_overwrite_named_partitions_rejects_stray_rows(spark, tbl):
    """A row outside the named set fails the overwrite before it
    commits, and its staged files are removed."""
    tbl.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15")]))
    snap, files = tbl.snapshot_id(), sorted(tbl.data_dir.rglob("*.parquet"))
    with pytest.raises(ValueError, match="2025-06-15"):
        tbl.overwrite_partitions(
            _df(spark, [(9, "z", "2025-06-14"), (8, "y", "2025-06-15")]),
            partitions=["2025-06-14"],
        )
    assert tbl.snapshot_id() == snap
    assert sorted(tbl.data_dir.rglob("*.parquet")) == files


def test_manifest_pruning(spark, tbl):
    tbl.append(
        _df(spark, [(i, "x", f"2025-06-{14 + (i % 3):02d}") for i in range(30)])
    )
    pruned = tbl.read(spark, partitions=["2025-06-15"])
    assert pruned.count() == 10
    # only that partition's files reach the scan
    assert all("partition_date=2025-06-15" in f for f in pruned.inputFiles())


def test_partitions_listing(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-16")]))
    assert tbl.partitions() == ["2025-06-14", "2025-06-16"]


def test_empty_read_has_schema(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2025-06-14")]))
    empty = tbl.read(spark, partitions=["1999-01-01"])
    assert empty.count() == 0
    assert "id" in empty.columns


def test_partition_date_column_recovered(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2025-06-14")]))
    row = tbl.read(spark).select(F.col("partition_date").cast("string")).first()
    assert row[0] == "2025-06-14"


def test_compact_rewrites_small_files(spark, tbl):
    """N appends → compact → same rows, fewer live files, and the
    pre-compaction snapshot still time-travels (old files untouched)."""
    for i in range(5):
        tbl.append(
            _df(spark, [(i, "a", "2025-06-14"), (100 + i, "b", "2025-06-15")])
        )
    pre_snap = tbl.snapshot_id()
    pre_files = tbl.files()
    assert len(pre_files) == 10  # 5 appends × 2 partitions
    rows_before = {(r.id, r.v) for r in tbl.read(spark).collect()}

    snap_id = tbl.compact(spark)
    assert snap_id == pre_snap + 1
    assert len(tbl.files()) < len(pre_files)
    assert len(tbl.files()) == 2  # ~one file per partition
    rows_after = {(r.id, r.v) for r in tbl.read(spark).collect()}
    assert rows_after == rows_before
    # time travel to the pre-compaction snapshot still sees all rows
    old = {(r.id, r.v) for r in tbl.read_snapshot(spark, pre_snap).collect()}
    assert old == rows_before
    # a second compact is a no-op (nothing above min_files)
    assert tbl.compact(spark) == snap_id


def test_expire_snapshots_gc(spark, tbl):
    for i in range(5):
        tbl.append(_df(spark, [(i, "a", "2025-06-14")]))
    tbl.compact(spark)
    rows = {(r.id, r.v) for r in tbl.read(spark).collect()}
    n_data_before = sum(1 for _ in tbl.data_dir.rglob("*.parquet"))
    stats = tbl.expire_snapshots(keep_last=1)
    assert stats["snapshots"] == 5
    assert stats["data_files"] > 0
    # current table is untouched
    assert {(r.id, r.v) for r in tbl.read(spark).collect()} == rows
    # expired snapshots' orphan data files are physically gone
    n_data_after = sum(1 for _ in tbl.data_dir.rglob("*.parquet"))
    assert n_data_after < n_data_before
    assert n_data_after == len(tbl.files())
    # kept snapshot still time-travels; expired ones are gone
    assert tbl.read_snapshot(spark, tbl.snapshot_id()).count() == len(rows)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tbl.read_snapshot(spark, 0)


def test_expire_snapshots_rejects_keep_last_below_one(spark, tbl):
    """keep_last=0 used to slice snaps[-0:] — the whole list — and
    silently expire nothing; the current snapshot can never go, so
    the call is a misuse and must say so."""
    for i in range(3):
        tbl.append(_df(spark, [(i, "a", "2025-06-14")]))
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            tbl.expire_snapshots(keep_last=bad)
    assert [h["snapshot_id"] for h in tbl.history()] == [0, 1, 2]


def test_partition_manifests_key_unchanged_input(spark, tbl):
    """The per-partition resume key: an append keeps every untouched
    partition's ref and changes the appended one's; a legacy inline-list
    entry has no ref."""
    tbl.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15")]))
    before = tbl.partition_manifests()
    assert sorted(before) == tbl.partitions()
    assert all(r.startswith("metadata/manifests/") for r in before.values())
    tbl.append(_df(spark, [(3, "c", "2025-06-15"), (4, "d", "2025-06-16")]))
    after = tbl.partition_manifests()
    assert after["2025-06-14"] == before["2025-06-14"]
    assert after["2025-06-15"] != before["2025-06-15"]
    assert "2025-06-16" in after

    import json

    snap_path = tbl.meta_dir / (tbl.meta_dir / "CURRENT").read_text().strip()
    snap = json.loads(snap_path.read_text())
    snap["partitions"]["2025-06-14"] = tbl.partition_files(
        snap["partitions"]["2025-06-14"]
    )
    snap_path.write_text(json.dumps(snap))
    legacy = tbl.partition_manifests()
    assert legacy["2025-06-14"] is None
    assert legacy["2025-06-15"] == after["2025-06-15"]


def test_commit_metadata_is_o_changed_partitions(spark, tbl):
    """Hierarchical manifests: an append touching one partition must reuse
    every other partition's manifest file verbatim (content-addressed),
    so commit metadata work is O(changed partitions), not O(table)."""
    tbl.append(
        _df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15"),
                    (3, "c", "2025-06-16")])
    )
    before = dict(tbl.current_snapshot()["partitions"])
    tbl.append(_df(spark, [(4, "d", "2025-06-16")]))
    after = dict(tbl.current_snapshot()["partitions"])
    assert after["2025-06-14"] == before["2025-06-14"]
    assert after["2025-06-15"] == before["2025-06-15"]
    assert after["2025-06-16"] != before["2025-06-16"]
    # and the reused refs are real manifest files, not inline lists
    assert isinstance(after["2025-06-14"], str)


def test_remove_orphan_files(spark, tbl):
    """Orphan GC: files staged-and-moved by an aborted commit (the
    compact() lost-race path) are reclaimed once past the age
    threshold; referenced files and young orphans are never touched;
    every snapshot still reads identically afterward."""
    tbl.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15")]))
    tbl.append(_df(spark, [(3, "c", "2025-06-14")]))
    pre = sorted(
        (r.id, r.v) for r in tbl.read(spark).collect()
    )

    # the abort path: staged files land under data/ with no commit
    orphaned = tbl._stage_write(_df(spark, [(99, "zz", "2025-06-14")]))
    orphan_rels = [r for fs in orphaned.values() for r in fs]
    assert all((tbl.root / r).exists() for r in orphan_rels)

    # young orphans survive a default-threshold sweep
    stats = tbl.remove_orphan_files()
    assert stats["data_files"] == 0 and stats["kept_young"] >= 1
    assert all((tbl.root / r).exists() for r in orphan_rels)

    # an aged sweep reclaims exactly the orphans
    stats = tbl.remove_orphan_files(older_than_s=0)
    assert stats["data_files"] == len(orphan_rels)
    assert not any((tbl.root / r).exists() for r in orphan_rels)
    # referenced files all survive; both snapshots read unchanged
    assert sorted((r.id, r.v) for r in tbl.read(spark).collect()) == pre
    assert tbl.read_snapshot(spark, 0).count() == 2


def test_remove_orphan_staging_dir(spark, tbl):
    """A writer killed BEFORE the staging move leaves a .staging-* dir;
    the aged sweep removes it, a young one does not."""
    tbl.append(_df(spark, [(1, "a", "2025-06-14")]))
    staging = tbl.root / ".staging-deadbeef"
    (staging / "partition_date=2025-06-14").mkdir(parents=True)
    assert tbl.remove_orphan_files()["staging_dirs"] == 0
    assert staging.exists()
    stats = tbl.remove_orphan_files(older_than_s=0)
    assert stats["staging_dirs"] == 1 and not staging.exists()
    assert tbl.read(spark).count() == 1


def test_tags_pin_and_read(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2025-06-14")]))          # snap 0
    tbl.tag("train-run-1")                                    # pins snap 0
    tbl.append(_df(spark, [(2, "b", "2025-06-14")]))          # snap 1
    assert tbl.tags() == {"train-run-1": 0}
    assert tbl.read_tag(spark, "train-run-1").count() == 1
    # re-pointing requires replace=True
    with pytest.raises(ValueError, match="replace=True"):
        tbl.tag("train-run-1", 1)
    tbl.tag("train-run-1", 1, replace=True)
    assert tbl.read_tag(spark, "train-run-1").count() == 2
    with pytest.raises(KeyError):
        tbl.read_tag(spark, "nope")
    with pytest.raises(ValueError, match="no snapshot"):
        tbl.tag("bad", 99)


def test_tagged_snapshot_survives_expiry(spark, tbl):
    """A tag is a retention lease: expire_snapshots keeps the tagged
    snapshot (and its files) however old it is; deleting the tag makes
    the next expiry reclaim it."""
    tbl.append(_df(spark, [(1, "a", "2025-06-14")]))          # snap 0
    tbl.tag("audited")
    for i in range(4):                                        # snaps 1-4
        tbl.append(_df(spark, [(10 + i, "x", "2025-06-15")]))
    stats = tbl.expire_snapshots(keep_last=1)
    assert stats["snapshots"] == 3  # snaps 1-3 go; snap 0 is tagged
    assert tbl.read_tag(spark, "audited").count() == 1  # files intact
    assert tbl.read(spark).count() == 5  # current unaffected
    tbl.delete_tag("audited")
    stats = tbl.expire_snapshots(keep_last=1)
    assert stats["snapshots"] == 1  # snap 0 reclaimed now
    assert not (tbl.meta_dir / "snap-00000000.json").exists()


def test_read_of_many_files_lists_none(spark, tbl):
    """A read of more files than ``parallelPartitionDiscovery.threshold``
    launches no file-listing job (the manifest lists the files), and
    leaves the session's threshold as it found it, set or unset."""
    from tests.conftest import spark_jobs

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    tbl.append(
        spark.range(0, 40, 1, numPartitions=40).selectExpr(
            "cast(id as int) id", "'v' v", "'2025-06-14' partition_date"
        )
    )
    assert len(tbl.files()) == 40
    for before in (None, "8"):
        if before is not None:
            spark.conf.set(key, before)
        try:
            df, jobs = spark_jobs(spark, lambda: tbl.read(spark))
            assert jobs == 0
            assert spark.conf.get(key, None) == before
        finally:
            spark.conf.unset(key)
    assert df.count() == 40


def test_unevolved_read_is_schema_bound(spark, tbl):
    """An unevolved table's read binds the snapshot's tracked schema, so
    it launches no schema-inference job, and reads back exactly what
    footer inference gave: same columns, order and types, with a
    ``partition_date`` written as a string still inferred as DATE from
    the directory names."""
    from tests.conftest import spark_jobs

    tbl.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15")]))
    tbl.append(_df(spark, [(3, "c", "2025-06-15")]))
    got, jobs = spark_jobs(spark, lambda: tbl.read(spark))
    assert jobs == 0
    inferred = spark.read.option("basePath", str(tbl.data_dir)).parquet(
        *tbl.files()
    )
    assert got.dtypes == inferred.dtypes
    assert dict(got.dtypes)["partition_date"] == "date"
    assert sorted(got.collect()) == sorted(inferred.collect())
    pruned, jobs = spark_jobs(
        spark, lambda: tbl.read(spark, partitions=["2025-06-15"])
    )
    assert jobs == 0 and pruned.dtypes == inferred.dtypes
    assert sorted(r.id for r in pruned.collect()) == [2, 3]


def test_footer_sizes_rows_per_partition(spark, tbl):
    """Row counts per partition come from footers alone, summed over
    every file of the partition."""
    from tests.conftest import spark_jobs

    tbl.append(_df(spark, [(1, "x", "2025-06-14"), (2, "y", "2025-06-14"),
                           (3, "z", "2025-06-15")]))
    tbl.append(_df(spark, [(4, "w", "2025-06-15")]))
    rows, jobs = spark_jobs(
        spark, lambda: tbl.footer_sizes(["2025-06-14", "2025-06-15"])
    )
    assert jobs == 0
    assert rows == {"2025-06-14": 2, "2025-06-15": 2}
    # a partition with no files holds no rows
    assert tbl.footer_sizes(["1999-01-01"]) == {"1999-01-01": 0}


def test_footer_sizes_unreadable_footer_is_unknown(spark, tmp_path):
    other = IceTable(tmp_path / "broken")
    other.append(_df(spark, [(1, "a", "2025-06-14"), (2, "b", "2025-06-15")]))
    (bad,) = other.files(["2025-06-15"])
    with open(bad, "wb") as f:
        f.write(b"not parquet")
    assert other.footer_sizes(["2025-06-14", "2025-06-15"]) == {
        "2025-06-14": 1,
        "2025-06-15": None,
    }
