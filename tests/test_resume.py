"""Checkpoint-resume + lineage (SURVEY.md §5.2 property 3; north_rule
"resumable from checkpoint with per-partition lineage + metrics")."""

import pytest

from pdf_extractor_spark.corpus.build import write_pages_parquet
from pdf_extractor_spark.plans.extract_plan import (
    pending_via_anti_join,
    run_extract,
)
from pdf_extractor_spark.plans.lineage import LineageLog
from pdf_extractor_spark.sources.pages import ingest_corpus_to_icetable
from pdf_extractor_spark.tables.icetable import IceTable
from pdf_extractor_spark.version import EXTRACTOR_VERSION

N_ROWS = 120
N_DAYS = 4


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "pages.parquet"
    write_pages_parquet(p, seed=7, n_rows=N_ROWS, n_days=N_DAYS)
    return p


@pytest.fixture()
def pages_tbl(spark, corpus, tmp_path):
    return ingest_corpus_to_icetable(spark, corpus, tmp_path / "pages")


def _read_extracted(spark, wh):
    return IceTable(f"{wh}/extracted").read(spark)


def _extracted_rows(spark, wh):
    return sorted(
        (r.url, r.extracted_text, r.doc_type)
        for r in _read_extracted(spark, wh).collect()
    )


def _rows_per_date(df):
    from pyspark.sql import functions as F

    return {
        r[0]: r[1]
        for r in df.groupBy(F.col("partition_date").cast("string"))
        .count()
        .collect()
    }


def _append_day(spark, corpus, pages, from_date, shift_days=0, n=6):
    """Append ``n`` corpus rows of ``from_date`` under new urls, moved
    ``shift_days`` later (0 = into the same date)."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(str(corpus))
        .filter(F.to_date("warc_ts") == F.lit(from_date))
        .limit(n)
        .withColumn("url", F.concat(F.col("url"), F.lit("?v=2")))
        .withColumn(
            "warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {shift_days} DAYS")
        )
        .withColumn("partition_date", F.to_date("warc_ts"))
    )
    pages.append(rows)


def test_full_run_then_noop(spark, pages_tbl, tmp_path):
    wh = str(tmp_path / "wh")
    r1 = run_extract(spark, pages_tbl, wh, salt=False)
    assert len(r1.processed) == N_DAYS and not r1.failed
    assert _read_extracted(spark, wh).count() == N_ROWS

    # second run: everything already done → no-op
    r2 = run_extract(spark, pages_tbl, wh, salt=False)
    assert r2.processed == [] and len(r2.skipped) == N_DAYS


def test_kill_and_resume_identical(spark, pages_tbl, tmp_path):
    wh_a = str(tmp_path / "wh_a")
    wh_b = str(tmp_path / "wh_b")
    # reference: single uninterrupted run
    run_extract(spark, pages_tbl, wh_a, salt=False)

    # interrupted run: process 2 of 4 partitions, then "crash"
    r1 = run_extract(spark, pages_tbl, wh_b, salt=False, max_dates=2)
    assert len(r1.processed) == 2
    # resume completes the rest
    r2 = run_extract(spark, pages_tbl, wh_b, salt=False)
    assert len(r2.processed) == N_DAYS - 2
    assert len(r2.skipped) == 2

    a = {
        (r.url, r.extracted_text, r.doc_type)
        for r in _read_extracted(spark, wh_a).collect()
    }
    b = {
        (r.url, r.extracted_text, r.doc_type)
        for r in _read_extracted(spark, wh_b).collect()
    }
    assert a == b


def test_failed_partition_retried(spark, pages_tbl, tmp_path):
    wh = str(tmp_path / "wh")
    dates = pages_tbl.partitions()
    with pytest.raises(RuntimeError):
        run_extract(spark, pages_tbl, wh, salt=False, fail_dates={dates[1]})
    lin = LineageLog(f"{wh}/lineage")
    recs = lin.records()
    assert any(r["status"] == "failed" for r in recs)

    r2 = run_extract(spark, pages_tbl, wh, salt=False)
    assert dates[1] in r2.processed
    assert _read_extracted(spark, wh).count() == N_ROWS
    # the retried partition's lineage row carries attempt=2
    ok_rows = [
        r
        for r in LineageLog(f"{wh}/lineage").records()
        if r["status"] == "ok" and r["partition_date"].isoformat() == dates[1]
    ]
    assert ok_rows and ok_rows[0]["attempt"] == 2


def test_lineage_rows_complete(spark, pages_tbl, tmp_path):
    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    recs = LineageLog(f"{wh}/lineage").records()
    assert len(recs) == N_DAYS
    manifests = pages_tbl.partition_manifests()
    pages_rows = _rows_per_date(pages_tbl.read(spark))
    for r in recs:
        assert r["status"] == "ok"
        assert r["extractor_version"] == EXTRACTOR_VERSION
        assert r["input_snapshot_id"] == pages_tbl.snapshot_id()
        date = r["partition_date"].isoformat()
        assert r["input_manifest"] == manifests[date]
        assert r["rows_in"] == r["rows_out"] == pages_rows[date] > 0
        assert r["error_msg"] is None
        assert r["wall_time_s"] > 0


def test_anti_join_form_matches_manifest_form(
    spark, pages_tbl, tmp_path, corpus
):
    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False, max_dates=1)
    pending = pending_via_anti_join(spark, pages_tbl, wh)
    assert pending == pages_tbl.partitions()[1:]

    # after an append to one completed date, both forms reopen exactly it
    dates = pages_tbl.partitions()
    run_extract(spark, pages_tbl, wh, salt=False)
    _append_day(spark, corpus, pages_tbl, dates[2])
    manifests = pages_tbl.partition_manifests()
    done = LineageLog(f"{wh}/lineage").completed_partitions(
        EXTRACTOR_VERSION, pages_tbl.snapshot_id(), manifests
    )
    manifest_form = sorted(d for d in manifests if d not in done)
    assert manifest_form == [dates[2]]
    assert pending_via_anti_join(spark, pages_tbl, wh) == manifest_form


def test_new_snapshot_invalidates(spark, pages_tbl, tmp_path, corpus):
    """Appending new input data reopens affected partitions (snapshot id
    changes ⇒ lineage rows no longer match)."""
    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    # append more rows → new snapshot
    from pyspark.sql import functions as F

    extra = (
        spark.read.parquet(str(corpus))
        .limit(10)
        .withColumn("url", F.concat(F.col("url"), F.lit("?v=2")))
        .withColumn("partition_date", F.to_date("warc_ts"))
    )
    pages_tbl.append(extra)
    r = run_extract(spark, pages_tbl, wh, salt=False)
    assert r.skipped == []  # all partitions reprocessed
    assert len(r.processed) > 0


def test_append_to_one_date_reextracts_only_it(
    spark, pages_tbl, tmp_path, corpus
):
    """Resume is keyed on each date's input manifest: rows appended to
    one existing date reopen that date alone, and the result equals a
    fresh extraction of the grown table."""
    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    dates = pages_tbl.partitions()
    _append_day(spark, corpus, pages_tbl, dates[1])
    r = run_extract(spark, pages_tbl, wh, salt=False)
    assert r.processed == [dates[1]] and not r.failed
    assert r.skipped == [d for d in dates if d != dates[1]]
    assert r.input_snapshot_id == pages_tbl.snapshot_id()

    wh_ref = str(tmp_path / "wh_ref")
    run_extract(spark, pages_tbl, wh_ref, salt=False)
    assert _extracted_rows(spark, wh) == _extracted_rows(spark, wh_ref)


def test_append_new_date_extracts_only_it(spark, pages_tbl, tmp_path, corpus):
    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    dates = pages_tbl.partitions()
    _append_day(spark, corpus, pages_tbl, dates[-1], shift_days=30)
    new_date = pages_tbl.partitions()[-1]
    assert new_date not in dates
    r = run_extract(spark, pages_tbl, wh, salt=False)
    assert r.processed == [new_date] and r.skipped == dates

    wh_ref = str(tmp_path / "wh_ref")
    run_extract(spark, pages_tbl, wh_ref, salt=False)
    assert _extracted_rows(spark, wh) == _extracted_rows(spark, wh_ref)


def test_second_pages_table_same_warehouse_is_extracted(
    spark, pages_tbl, tmp_path
):
    """A different pages table at the same snapshot id with the same
    dates has different manifests, so its dates are pending — under a
    whole-table snapshot key they were silently skipped."""
    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    other_corpus = tmp_path / "other.parquet"
    write_pages_parquet(other_corpus, seed=8, n_rows=N_ROWS, n_days=N_DAYS)
    other = ingest_corpus_to_icetable(spark, other_corpus, tmp_path / "pages2")
    assert other.snapshot_id() == pages_tbl.snapshot_id() == 0
    assert set(other.partitions()) & set(pages_tbl.partitions())

    r = run_extract(spark, other, wh, salt=False)
    assert r.processed == other.partitions() and r.skipped == []
    wh_ref = str(tmp_path / "wh_ref")
    run_extract(spark, other, wh_ref, salt=False)
    urls = {u for u, _, _ in _extracted_rows(spark, wh_ref)}
    assert urls <= {u for u, _, _ in _extracted_rows(spark, wh)}


def test_lineage_without_input_manifest_still_resumes(
    spark, pages_tbl, tmp_path
):
    """Lineage files written before the input_manifest column read it as
    NULL (pyarrow and Spark) and fall back to the snapshot-id rule, so a
    re-run on the same snapshot stays a no-op."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from pdf_extractor_spark.plans.lineage import LINEAGE_SCHEMA

    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    lineage = LineageLog(f"{wh}/lineage")
    for f in lineage._files():
        pq.write_table(pq.read_table(f).drop_columns(["input_manifest"]), f)
        assert "input_manifest" not in pq.read_schema(f).names
    recs = lineage.records()
    assert len(recs) == N_DAYS
    assert all(r["input_manifest"] is None for r in recs)
    df = lineage.read(spark)
    assert df.schema == from_arrow_schema(LINEAGE_SCHEMA)
    assert df.filter("input_manifest IS NOT NULL").count() == 0
    assert pending_via_anti_join(spark, pages_tbl, wh) == []

    r = run_extract(spark, pages_tbl, wh, salt=False)
    assert r.processed == [] and r.skipped == pages_tbl.partitions()


def test_preflight_rejects_bad_inputs(spark, tmp_path):
    from pdf_extractor_spark.plans.extract_plan import (
        PreflightError,
        preflight,
    )
    from pdf_extractor_spark.tables.icetable import IceTable

    import pytest as _pytest

    missing = IceTable(tmp_path / "nope")
    with _pytest.raises(PreflightError, match="missing"):
        preflight(spark, missing, str(tmp_path / "wh"))

    bad = IceTable(tmp_path / "bad")
    df = spark.range(3).selectExpr("cast(id as string) as url")
    df = df.withColumn("partition_date", df.url)
    bad.append(df)
    with _pytest.raises(PreflightError, match="lacks columns"):
        preflight(spark, bad, str(tmp_path / "wh"))


def test_maintenance_between_kill_and_resume(spark, pages_tbl, tmp_path):
    """VERDICT r2 #8: the interaction of table maintenance with the
    resume path. Sequence: partial extract ("crash" after 2 of 4 dates)
    → compact() the extracted table → expire_snapshots() → resume.
    Resume must still (a) skip exactly the completed dates (lineage is
    keyed on the PAGES manifests, which maintenance of the OUTPUT table
    never touches), (b) produce the same final table as an uninterrupted
    run, and (c) keep time travel valid for every retained snapshot."""
    wh = str(tmp_path / "wh")
    tbl = IceTable(f"{wh}/extracted")

    r1 = run_extract(spark, pages_tbl, wh, salt=False, max_dates=2)
    assert len(r1.processed) == 2

    # maintenance while "crashed": force-rewrite every partition, then GC
    snap_before = tbl.snapshot_id()
    tbl.compact(spark, min_files=1)
    assert tbl.current_snapshot()["operation"] == "compact"
    gone = tbl.expire_snapshots(keep_last=1)
    assert gone["snapshots"] >= 1
    # compaction rewrote files and GC dropped the originals — the table
    # still reads the 2 completed partitions in full
    assert set(tbl.partitions()) == set(r1.processed)
    n_after_maint = tbl.read(spark).count()
    assert n_after_maint > 0

    # resume: completed dates stay skipped, the rest get processed
    r2 = run_extract(spark, pages_tbl, wh, salt=False)
    assert sorted(r2.skipped) == sorted(r1.processed)
    assert len(r2.processed) == N_DAYS - 2
    assert tbl.read(spark).count() == N_ROWS

    # lineage sees one ok row per date, all against the pages snapshot
    recs = LineageLog(f"{wh}/lineage").records()
    ok = [r for r in recs if r["status"] == "ok"]
    assert len(ok) == N_DAYS
    assert {r["input_snapshot_id"] for r in ok} == {pages_tbl.snapshot_id()}

    # byte-identical to an uninterrupted run
    wh_ref = str(tmp_path / "wh_ref")
    run_extract(spark, pages_tbl, wh_ref, salt=False)
    a = {
        (r.url, r.extracted_text)
        for r in IceTable(f"{wh_ref}/extracted").read(spark).collect()
    }
    b = {(r.url, r.extracted_text) for r in tbl.read(spark).collect()}
    assert a == b

    # time travel: every RETAINED snapshot resolves and reads
    for h in tbl.history():
        assert tbl.read_snapshot(spark, h["snapshot_id"]).count() >= 0
    # the pre-compaction snapshot was expired — it must be gone, not
    # half-readable
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tbl.read_snapshot(spark, snap_before)


def test_dates_per_job_batching_kill_and_resume(spark, pages_tbl, tmp_path):
    """Round-4 (VERDICT r3 #3): K dates per Spark job. A chunked run must
    produce the byte-identical table of a serial run, per-date lineage
    rows must exist for every date, and a chunk killed after its data
    commit but before lineage must re-run whole on resume and converge
    to the same table."""
    wh_a = str(tmp_path / "wh_a")
    wh_b = str(tmp_path / "wh_b")
    wh_c = str(tmp_path / "wh_c")
    run_extract(spark, pages_tbl, wh_a, salt=False)  # serial reference

    # chunked full run: 4 dates in chunks of 3 → chunks [3, 1]
    r = run_extract(spark, pages_tbl, wh_b, salt=False, dates_per_job=3)
    assert len(r.processed) == N_DAYS and not r.failed
    lineage_b = LineageLog(f"{wh_b}/lineage")
    ok_dates = {
        rec["partition_date"]
        for rec in lineage_b.records()
        if rec["status"] == "ok"
    }
    assert len(ok_dates) == N_DAYS  # per-DATE lineage despite chunking

    # killed chunk: fail injected for a date inside the first chunk —
    # the whole chunk must be marked failed, then resume re-runs it
    dates = sorted(pages_tbl.partitions())
    with pytest.raises(RuntimeError):
        run_extract(
            spark, pages_tbl, wh_c, salt=False, dates_per_job=3,
            fail_dates={dates[1]},
        )
    lineage_c = LineageLog(f"{wh_c}/lineage")
    failed = {
        str(rec["partition_date"])
        for rec in lineage_c.records()
        if rec["status"] == "failed"
    }
    assert failed == {str(d) for d in dates[:3]}  # chunk-granular failure
    r2 = run_extract(spark, pages_tbl, wh_c, salt=False, dates_per_job=3)
    assert sorted(r2.processed) == dates  # all dates re-run (none "ok" yet)

    tables = []
    for wh in (wh_a, wh_b, wh_c):
        tables.append({
            (r.url, r.extracted_text, r.doc_type)
            for r in _read_extracted(spark, wh).collect()
        })
    assert tables[0] == tables[1] == tables[2]


def test_url_filter_gate(spark, corpus, tmp_path):
    """run_extract(url_filter=True) drops rejectable pages BEFORE the
    extract stage: planted blocklist/trap urls never land in the
    warehouse, clean pages are untouched, the rejected count is
    reported, and resume stays a no-op."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.corpus.build import PAGES_SCHEMA
    from pdf_extractor_spark.queries.webtext import URL_BLOCKLIST

    bad_urls = [
        "https://best-casino.example/win",
        "https://deep.example.org/" + "/".join(f"s{i}" for i in range(9)),
    ]
    p = tmp_path / "pages_url.parquet"
    extra = pa.table(
        {
            "url": bad_urls,
            "warc_ts": [dt.datetime(2025, 6, 14, 10, 0, 0)] * 2,
            "html": [b"<html><body><p>trap page</p></body></html>"] * 2,
            "text": [None, None],
            "lang": ["en", "en"],
        },
        schema=PAGES_SCHEMA,
    )
    pq.write_table(pa.concat_tables([pq.read_table(corpus), extra]), p)
    tbl = ingest_corpus_to_icetable(spark, p, tmp_path / "pages_url")

    # ungated baseline: the planted pages extract like any other
    wh0 = str(tmp_path / "wh0")
    r0 = run_extract(spark, tbl, wh0, salt=False)
    assert r0.url_rejected == 0
    urls0 = {
        r["url"]
        for r in _read_extracted(spark, wh0).select("url").collect()
    }
    assert set(bad_urls) <= urls0

    # expected reject set from a plain-Python restatement of the rules
    def py_reject(u: str) -> bool:
        host = u.split("/")[2].lower()
        segs = [s for s in u.split("/")[3:] if s]
        frac = round(
            sum(c.isdigit() for c in host) / len(host), 5
        ) if host else 0.0
        return (
            any(w in host for w in URL_BLOCKLIST)
            or len(u) > 256
            or frac > 0.4
            or len(segs) > 8
        )

    expected_rejects = {u for u in urls0 if py_reject(u)}
    assert set(bad_urls) <= expected_rejects

    wh1 = str(tmp_path / "wh1")
    r1 = run_extract(spark, tbl, wh1, salt=False, url_filter=True)
    assert r1.url_rejected == len(expected_rejects)
    urls1 = {
        r["url"]
        for r in _read_extracted(spark, wh1).select("url").collect()
    }
    assert urls1 == urls0 - expected_rejects

    # resume: no-op — no chunk re-runs, so no re-counting either
    r2 = run_extract(spark, tbl, wh1, salt=False, url_filter=True)
    assert r2.processed == [] and r2.url_rejected == 0


def test_sort_clustered_optimize_after_extract(spark, pages_tbl, tmp_path):
    """The --optimize-sort maintenance step on a REAL extracted
    warehouse: compact(sort_by=['url']) re-clusters each partition's
    files so the url bounds the table already records (stats_cols
    default) skip files under a selective predicate, with the row set
    unchanged and resume still a no-op."""
    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    ext = IceTable(f"{wh}/extracted")
    pre_rows = sorted(
        r["url"] for r in ext.read(spark).select("url").collect()
    )
    probe = pre_rows[len(pre_rows) * 9 // 10]  # a url near the top

    ext.compact(spark, min_files=1, sort_by=["url"], files_per_partition=3)
    live = ext.files()
    pruned = ext.files(where=[("url", ">=", probe)])
    assert 0 < len(pruned) < len(live)  # clustered bounds skip files
    got = ext.read(spark, where=[("url", ">=", probe)])
    assert sorted(r["url"] for r in got.collect()) == [
        u for u in pre_rows if u >= probe
    ]
    assert (
        sorted(r["url"] for r in ext.read(spark).select("url").collect())
        == pre_rows
    )
    # extraction resume is unaffected by the maintenance rewrite
    r2 = run_extract(spark, pages_tbl, wh, salt=False)
    assert r2.processed == [] and len(r2.skipped) == N_DAYS


def test_row_drop_fails_chunk_with_reason(
    spark, pages_tbl, tmp_path, monkeypatch
):
    """A row lost between the scan and the commit is caught: rows_in is
    counted from the pages footers, not copied from the output, so the
    chunk fails, its lineage row says why, and the next run re-extracts
    the date."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.plans import extract_plan

    wh = str(tmp_path / "wh")
    dates = pages_tbl.partitions()
    n_in = _rows_per_date(pages_tbl.read(spark))[dates[1]]
    victim = (
        pages_tbl.read(spark, partitions=[dates[1]]).select("url").first()[0]
    )

    def dropping(stage):
        def run(src, **kw):
            return stage(src.filter(F.col("url") != victim), **kw)

        return run

    for name in ("extract_stage", "extract_stage_dispatch"):
        monkeypatch.setattr(
            extract_plan, name, dropping(getattr(extract_plan, name))
        )
    r1 = run_extract(spark, pages_tbl, wh, salt=False)
    assert r1.failed == [dates[1]]
    assert r1.processed == [d for d in dates if d != dates[1]]
    failed = [
        r for r in LineageLog(f"{wh}/lineage").records()
        if r["status"] == "failed"
    ]
    assert [r["partition_date"].isoformat() for r in failed] == [dates[1]]
    msg = failed[0]["error_msg"]
    assert msg.startswith("LineageMismatchError: ")
    assert f"rows_in={n_in} " in msg and f"rows_out={n_in - 1} " in msg

    monkeypatch.undo()
    r2 = run_extract(spark, pages_tbl, wh, salt=False)
    assert r2.processed == [dates[1]] and not r2.failed
    ok = [
        r for r in LineageLog(f"{wh}/lineage").records()
        if r["status"] == "ok" and r["partition_date"].isoformat() == dates[1]
    ]
    assert len(ok) == 1
    assert ok[0]["rows_in"] == ok[0]["rows_out"] == n_in
    assert ok[0]["attempt"] == 2


def test_attempts_across_fail_and_resume(
    spark, pages_tbl, tmp_path, corpus, monkeypatch
):
    """Attempt numbers count every earlier lineage row of the date, and
    each run reads the lineage log once, whatever its number of dates."""
    wh = str(tmp_path / "wh")
    dates = pages_tbl.partitions()
    reads = []
    records = LineageLog.records

    def counted(self):
        reads.append(1)
        return records(self)

    monkeypatch.setattr(LineageLog, "records", counted)
    for _ in range(2):  # the first chunk fails, which stops the run
        with pytest.raises(RuntimeError, match="injected"):
            run_extract(spark, pages_tbl, wh, salt=False, fail_dates={dates[0]})
    run_extract(spark, pages_tbl, wh, salt=False)
    _append_day(spark, corpus, pages_tbl, dates[2])
    run_extract(spark, pages_tbl, wh, salt=False)
    assert len(reads) == 4  # one read per run

    got = sorted(
        (r["partition_date"].isoformat(), r["attempt"], r["status"])
        for r in records(LineageLog(f"{wh}/lineage"))
    )
    assert got == sorted(
        [(dates[0], 1, "failed"), (dates[0], 2, "failed"),
         (dates[0], 3, "ok"), (dates[1], 1, "ok"), (dates[2], 1, "ok"),
         (dates[3], 1, "ok"), (dates[2], 2, "ok")]
    )
    failed = [
        r["error_msg"] for r in records(LineageLog(f"{wh}/lineage"))
        if r["status"] == "failed"
    ]
    assert all(m.startswith("RuntimeError: injected failure") for m in failed)


def test_zero_row_pending_date(spark, pages_tbl, tmp_path):
    """A pending date whose input holds no rows (an upsert moved every
    url away) commits an ok lineage row with zero rows in and out; the
    observed counts must arrive even though the chunk's scan is empty."""
    import threading

    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")
    run_extract(spark, pages_tbl, wh, salt=False)
    dates = pages_tbl.partitions()
    moved = (
        pages_tbl.read(spark, partitions=[dates[0]])
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 40 DAYS"))
        .withColumn("partition_date", F.to_date("warc_ts"))
    )
    pages_tbl.upsert(spark, moved, keys=["url"])
    assert pages_tbl.footer_sizes([dates[0]]) == {dates[0]: 0}
    new_date = pages_tbl.partitions()[-1]

    out = {}
    run = threading.Thread(
        target=lambda: out.setdefault(
            "r", run_extract(spark, pages_tbl, wh, salt=False)
        ),
        daemon=True,
    )
    run.start()
    run.join(timeout=600)
    assert not run.is_alive(), "run_extract blocked on an empty chunk"
    assert out["r"].processed == [dates[0], new_date] and not out["r"].failed
    latest = {
        r["partition_date"].isoformat(): r
        for r in LineageLog(f"{wh}/lineage").records()
        if r["input_manifest"] == pages_tbl.partition_manifests().get(
            r["partition_date"].isoformat()
        )
    }
    assert latest[dates[0]]["status"] == "ok"
    assert latest[dates[0]]["rows_in"] == latest[dates[0]]["rows_out"] == 0
    n_moved = moved.count()
    assert latest[new_date]["rows_in"] == latest[new_date]["rows_out"] == n_moved
    # the output is a function of the input snapshot: the emptied date
    # keeps none of its old rows, so no moved url appears twice
    got = [r.url for r in _read_extracted(spark, wh).select("url").collect()]
    want = [r.url for r in pages_tbl.read(spark).select("url").collect()]
    assert len(got) == len(set(got)) and sorted(got) == sorted(want)
    assert _rows_per_date(_read_extracted(spark, wh)).get(dates[0], 0) == 0
