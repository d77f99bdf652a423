"""Schema evolution (Iceberg add-column analog): a commit whose column
set differs from its parent's flags the table schema_evolved (the flag
rides the snapshot's non-core keys, so it propagates); evolved tables
read with footer merging, so files written BEFORE a column existed
surface it as NULL — and time travel honors the AS-OF schema (a
pre-evolution snapshot still reads with the old columns only, on the
cheap non-merging path)."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.tables.icetable import IceTable


@pytest.fixture()
def tbl(tmp_path):
    return IceTable(tmp_path / "t")


def _df2(spark, rows):
    return spark.createDataFrame(rows, "id int, v string, partition_date string")


def _df3(spark, rows):
    return spark.createDataFrame(
        rows, "id int, v string, w bigint, partition_date string"
    )


def test_added_column_null_for_old_files(spark, tbl):
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))            # snap 0
    assert not tbl.current_snapshot().get("schema_evolved")
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-14")]))         # snap 1
    assert tbl.current_snapshot().get("schema_evolved") is True

    got = tbl.read(spark)
    assert set(got.columns) == {"id", "v", "w", "partition_date"}
    vals = {r.id: r.w for r in got.collect()}
    assert vals == {1: None, 2: 7}

    # a LATER old-producer append (still missing w) also reads as NULL
    tbl.append(_df2(spark, [(3, "c", "2025-06-15")]))            # snap 2
    vals = {r.id: r.w for r in tbl.read(spark).collect()}
    assert vals == {1: None, 2: 7, 3: None}


def test_time_travel_honors_as_of_schema(spark, tbl):
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))            # snap 0
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-14")]))         # snap 1
    old = tbl.read_snapshot(spark, 0)
    assert "w" not in old.columns  # pre-evolution snapshot, old schema
    assert old.count() == 1
    new = tbl.read_snapshot(spark, 1)
    assert "w" in new.columns and new.count() == 2


def test_incremental_delta_across_evolution(spark, tbl):
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))            # snap 0
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-14")]))         # snap 1
    delta = tbl.read_incremental(spark, 0)
    assert sorted(r.id for r in delta.collect()) == [2]
    assert {r.w for r in delta.collect()} == {7}


def test_compact_after_evolution_preserves_rows(spark, tbl):
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-14")]))
    tbl.compact(spark)
    got = {(r.id, r.w) for r in tbl.read(spark).collect()}
    assert got == {(1, None), (2, 7)}
    # a FULL-table rewrite homogenized every live file to the union
    # schema, so the flag (and its per-read mergeSchema cost) clears;
    # the pre-compact snapshot still time-travels with merging
    assert tbl.current_snapshot().get("schema_evolved") is False
    assert {(r.id, r.w) for r in tbl.read(spark).collect()} == got
    old = tbl.read_snapshot(spark, 1)
    assert {(r.id, r.w) for r in old.collect()} == got


def test_partial_compact_keeps_evolution_flag(spark, tbl):
    """Only a rewrite covering EVERY partition may clear the flag —
    an untouched partition can still hold pre-evolution files."""
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-14"),
                            (3, "c", 8, "2025-06-15")]))
    tbl.append(_df3(spark, [(4, "d", 9, "2025-06-15")]))
    tbl.compact(spark, partitions=["2025-06-15"])
    assert tbl.current_snapshot().get("schema_evolved") is True
    vals = {r.id: r.w for r in tbl.read(spark).collect()}
    assert vals == {1: None, 2: 7, 3: 8, 4: 9}


def test_pruned_read_still_surfaces_added_column(spark, tbl):
    """mergeSchema only unions the footers actually scanned — a
    partition-pruned read whose surviving files all predate the
    evolution must STILL carry the added column (as typed NULL), so a
    downstream select/filter on it never depends on pruning."""
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-15")]))  # other part
    pruned = tbl.read(spark, partitions=["2025-06-14"])
    assert "w" in pruned.columns
    rows = pruned.collect()
    assert [(r.id, r.w) for r in rows] == [(1, None)]
    assert pruned.schema["w"].dataType.typeName() == "long"
    # and a where= read that skips down to only pre-evolution files
    got = tbl.read(spark, where=[("id", "<=", 1)]).filter(
        F.col("w").isNull()
    )
    assert [r.id for r in got.collect()] == [1]


def test_reorder_is_not_evolution(spark, tbl):
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))
    reordered = spark.createDataFrame(
        [("b", 2, "2025-06-14")], "v string, id int, partition_date string"
    ).select("v", "id", "partition_date")
    tbl.append(reordered)
    assert not tbl.current_snapshot().get("schema_evolved")
    assert tbl.read(spark).count() == 2


def test_where_on_added_column_is_exact(spark, tbl):
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-14")]))
    got = tbl.read(spark, where=[("id", ">=", 1)]).filter(F.col("w") == 7)
    assert [r.id for r in got.collect()] == [2]


def test_evolved_read_is_the_merge_schema_read(spark, tbl):
    """Evolved tables keep the footer-merging read: the same schema and
    rows as Spark's own mergeSchema scan of the live files."""
    tbl.append(_df2(spark, [(1, "a", "2025-06-14")]))
    tbl.append(_df3(spark, [(2, "b", 7, "2025-06-15")]))
    got = tbl.read(spark)
    merged = (
        spark.read.option("basePath", str(tbl.data_dir))
        .option("mergeSchema", "true")
        .parquet(*tbl.files())
    )
    assert got.dtypes == merged.dtypes
    assert sorted(got.collect()) == sorted(merged.collect())
