"""run_extract extracts every chunk in one scan: the plain extract_stage
over the manifest-pruned files, a giant row in its own scan split, one
Spark job per chunk. The two-branch operator (extract_stage_dispatch)
must stay a pure physical-plan choice: identical output row set to the
single-stage plan, for any giant_threshold (here forced low so the micro
corpus actually exercises both branches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_extractor_spark.operators.extract import (
    extract_stage,
    extract_stage_dispatch,
)

from tests.conftest import GOLDEN_DIR


def test_dispatch_equals_single_stage(spark):
    pages = spark.read.parquet(str(GOLDEN_DIR / "pages_micro.parquet"))
    base = {
        (r.url, r.doc_type, r.extracted_text)
        for r in extract_stage(pages).collect()
    }
    dispatched = {
        (r.url, r.doc_type, r.extracted_text)
        for r in extract_stage_dispatch(pages, giant_threshold=4096).collect()
    }
    assert len(base) == pages.count()
    assert dispatched == base


def test_dispatch_preserves_null_html_rows(spark):
    """A NULL html payload must land in the small branch, not vanish: a
    bare length() predicate is NULL on both branches and silently drops
    the row, breaking the rows_in = rows_out lineage invariant."""
    import datetime as dt

    pages = spark.createDataFrame(
        [
            ("http://null.example/", dt.datetime(2025, 6, 1), None),
            ("http://tiny.example/", dt.datetime(2025, 6, 1), b"<p>hi</p>"),
        ],
        "url string, warc_ts timestamp, html binary",
    )
    rows = {
        r.url: r
        for r in extract_stage_dispatch(pages, giant_threshold=4096).collect()
    }
    assert set(rows) == {"http://null.example/", "http://tiny.example/"}
    assert rows["http://null.example/"].doc_type == "empty"


def test_dispatch_branches_both_nonempty(spark):
    pages = spark.read.parquet(str(GOLDEN_DIR / "pages_micro.parquet"))
    n_small = pages.filter("length(html) < 4096").count()
    n_giant = pages.filter("length(html) >= 4096").count()
    assert n_small > 0 and n_giant > 0, "threshold must split the corpus"


def test_slim_schema_matches_full_modulo_blocks(spark):
    pages = spark.read.parquet(str(GOLDEN_DIR / "pages_micro.parquet"))
    full = {
        (r.url, r.doc_type, r.extracted_text, r.n_blocks, r.n_chars, r.error)
        for r in extract_stage(pages).collect()
    }
    slim_df = extract_stage(pages, with_blocks=False)
    assert "blocks" not in [f.name for f in slim_df.schema]
    slim = {
        (r.url, r.doc_type, r.extracted_text, r.n_blocks, r.n_chars, r.error)
        for r in slim_df.collect()
    }
    assert slim == full


def _pages_table(spark, tmp_path, name="pages"):
    from pdf_extractor_spark.sources.pages import ingest_corpus_to_icetable

    return ingest_corpus_to_icetable(
        spark, GOLDEN_DIR / "pages_micro.parquet", tmp_path / name
    )


PAGES_DDL = "url string, warc_ts timestamp, html binary"


def _append(spark, pages, rows, schema=PAGES_DDL):
    """Append ``rows`` to the pages IceTable, partitioned by day."""
    pages.append(
        spark.createDataFrame(rows, schema).withColumn(
            "partition_date", F.to_date("warc_ts")
        )
    )
    return pages


def _giant() -> bytes:
    from pdf_extractor_spark.operators.extract import GIANT_THRESHOLD_BYTES

    return b"<p>" + b"a" * GIANT_THRESHOLD_BYTES + b"</p>"


def _record_commits(monkeypatch) -> list[str]:
    """The executed plan of every DataFrame run_extract commits, in
    order, from a wrapped ``IceTable.overwrite_partitions``."""
    from tests.test_plans import plan_of

    from pdf_extractor_spark.tables.icetable import IceTable

    plans = []
    commit = IceTable.overwrite_partitions

    def recording(self, df, *args, **kwargs):
        plans.append(plan_of(df))
        return commit(self, df, *args, **kwargs)

    monkeypatch.setattr(IceTable, "overwrite_partitions", recording)
    return plans


def _extracted(spark, wh, cols=None) -> dict:
    """url → row of the extracted table, every column of the extracted
    schema unless ``cols`` names fewer."""
    from pdf_extractor_spark.operators.extract import EXTRACTED_SCHEMA
    from pdf_extractor_spark.tables.icetable import IceTable

    df = IceTable(f"{wh}/extracted").read(spark)
    return {
        r.url: r
        for r in df.select(*(cols or EXTRACTED_SCHEMA.names)).collect()
    }


def _lineage(wh) -> list[tuple]:
    from pdf_extractor_spark.plans.lineage import LineageLog

    return sorted(
        (r["partition_date"], r["rows_in"], r["rows_out"], r["n_errors"],
         r["status"])
        for r in LineageLog(f"{wh}/lineage").records()
    )


def _matches_ref_extractor(row, payload) -> bool:
    from pdf_extractor_spark.ref_extractor import extract

    ref = extract(payload)
    return (row.doc_type, row.extracted_text, row.n_blocks, row.n_chars,
            row.error) == (ref.doc_type, ref.text, ref.n_blocks, ref.n_chars,
                           ref.error)


def test_giant_free_chunk_plans_no_exchange(spark, tmp_path, monkeypatch):
    """The plan run_extract commits reads the scan splits as they are."""
    from pdf_extractor_spark.plans.extract_plan import run_extract

    plans = _record_commits(monkeypatch)
    run_extract(spark, _pages_table(spark, tmp_path), str(tmp_path / "wh"),
                max_dates=1)
    (plan,) = plans
    assert "Exchange" not in plan


def test_giant_chunk_is_one_scan(spark, tmp_path, monkeypatch):
    """A chunk holding a payload of GIANT_THRESHOLD_BYTES or more runs
    like any other: one scan, no Exchange, one Spark job (the two-branch
    plan scanned the chunk twice and shuffled its giants: 2 jobs)."""
    import datetime as dt

    from tests.conftest import spark_jobs

    from pdf_extractor_spark.plans.extract_plan import run_extract
    from pdf_extractor_spark.tables.icetable import IceTable

    ts = dt.datetime(2025, 6, 1)
    payloads = {"http://giant.example/": _giant(),
                "http://tiny.example/": b"<p>hi</p>"}
    pages = _append(spark, IceTable(tmp_path / "pages"),
                    [(u, ts, p) for u, p in payloads.items()])
    plans = _record_commits(monkeypatch)
    wh = tmp_path / "wh"
    res, jobs = spark_jobs(spark, lambda: run_extract(spark, pages, str(wh)))
    assert res.processed == ["2025-06-01"] and not res.failed
    assert jobs == 1
    (plan,) = plans
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1
    rows = _extracted(spark, wh)
    assert rows.keys() == payloads.keys()
    assert all(_matches_ref_extractor(rows[u], p) for u, p in payloads.items())


def test_footer_without_html_extracts_every_row(spark, tmp_path, monkeypatch):
    """Files written before ``html`` existed still extract their rows,
    NULL html as ``empty``; a footer that cannot be read leaves rows_in
    unknown (None) but the rows still extract and the date commits ok."""
    import datetime as dt

    from pdf_extractor_spark.plans.extract_plan import run_extract
    from pdf_extractor_spark.tables import icetable

    ts = dt.datetime(2025, 6, 1)
    pages = _append(
        spark, icetable.IceTable(tmp_path / "pages"),
        [("http://old.example/", ts)], "url string, warc_ts timestamp",
    )
    _append(spark, pages, [("http://new.example/", ts, b"<p>hi</p>")])
    want = {"http://old.example/": "empty", "http://new.example/": "html"}
    for wh, rows_in in (("read", 2), ("unreadable", None)):
        if rows_in is None:
            monkeypatch.setattr(icetable, "_file_rows", lambda path: None)
        res = run_extract(spark, pages, str(tmp_path / wh))
        assert res.processed == ["2025-06-01"] and not res.failed
        got = _extracted(spark, tmp_path / wh)
        assert {u: r.doc_type for u, r in got.items()} == want
        assert _lineage(tmp_path / wh) == [
            (dt.date(2025, 6, 1), rows_in, 2, 0, "ok")
        ]


def test_plain_and_dispatch_plans_byte_identical(spark, tmp_path):
    """run_extract's one-scan output, giant included, equals the
    two-branch operator's row for row, every column."""
    import datetime as dt

    from pdf_extractor_spark.operators.extract import EXTRACTED_SCHEMA
    from pdf_extractor_spark.plans.extract_plan import run_extract

    pages = _pages_table(spark, tmp_path)
    day = dt.datetime.fromisoformat(pages.partitions()[0])
    _append(
        spark, pages, [("http://giant.example/", day, _giant(), None, "en")],
        "url string, warc_ts timestamp_ntz, html binary, text string, "
        "lang string",
    )
    wh = tmp_path / "wh"
    res = run_extract(spark, pages, str(wh))
    assert res.processed == pages.partitions() and not res.failed
    plain = _extracted(spark, wh)
    dispatched = {
        r.url: r
        for r in extract_stage_dispatch(pages.read(spark), giant_threshold=4096)
        .select(*EXTRACTED_SCHEMA.names)
        .collect()
    }
    assert len(plain) == pages.read(spark).count()
    assert plain == dispatched


def test_giant_file_reaches_python_in_byte_bounded_batches(spark, tmp_path):
    """The memory bound the one-scan plan relies on: Spark cuts the
    JVM→Python Arrow batches of a scan at
    ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MiB), so one file
    of 8 giant rows (80 MiB of html) reaches a mapInArrow in batches of
    at most 64 MiB plus one row, never whole; and run_extract over that
    file matches the reference extractor row for row."""
    import datetime as dt
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.corpus.build import rows_to_pages_table
    from pdf_extractor_spark.corpus.generator import PageRow, _giant_html
    from pdf_extractor_spark.plans.extract_plan import run_extract
    from pdf_extractor_spark.sources.pages import ingest_corpus_to_icetable

    mib = 1024 * 1024
    rng = random.Random(8)
    ts = dt.datetime(2025, 6, 1)
    payloads = {
        f"http://giant{i}.example/": _giant_html(rng, 10 * mib)
        for i in range(8)
    }
    staging = tmp_path / "giants.parquet"
    pq.write_table(
        rows_to_pages_table(
            [PageRow(u, ts, p, None, "en", "E4h") for u, p in payloads.items()]
        ),
        staging,
    )
    pages = ingest_corpus_to_icetable(spark, staging, tmp_path / "pages")
    assert len(pages.files()) == 1
    sizes = [len(p) for p in payloads.values()]
    assert sum(sizes) > 64 * mib + max(sizes)  # one batch would break it

    schema = pa.schema([("rows", pa.int64()), ("bytes", pa.int64()),
                        ("largest", pa.int64())])

    # nested, so it pickles by value
    def probe(batches):
        import pyarrow.compute as pc

        for batch in batches:
            sizes = pc.binary_length(batch.column("html"))
            yield pa.RecordBatch.from_pylist(
                [{"rows": batch.num_rows, "bytes": pc.sum(sizes).as_py(),
                  "largest": pc.max(sizes).as_py()}],
                schema=schema,
            )

    batches = (
        pages.read(spark).select("html")
        .mapInArrow(probe, "rows long, bytes long, largest long")
        .collect()
    )
    assert sum(b.rows for b in batches) == 8
    assert all(b.bytes <= 64 * mib + b.largest for b in batches), batches

    wh = tmp_path / "wh"
    res = run_extract(spark, pages, str(wh))
    assert res.processed == ["2025-06-01"] and not res.failed
    rows = _extracted(
        spark, wh,
        ["url", "doc_type", "extracted_text", "n_blocks", "n_chars", "error"],
    )
    assert rows.keys() == payloads.keys()
    assert all(_matches_ref_extractor(rows[u], p) for u, p in payloads.items())


def test_giant_free_chunk_is_one_spark_job(spark, tmp_path):
    """run_extract on a giant-free chunk launches exactly one Spark job,
    the commit's write: no schema inference, no giant shuffle, no
    recount."""
    from tests.conftest import spark_jobs

    from pdf_extractor_spark.plans.extract_plan import run_extract

    pages = _pages_table(spark, tmp_path)
    res, jobs = spark_jobs(
        spark,
        lambda: run_extract(spark, pages, str(tmp_path / "wh"), max_dates=2),
    )
    assert len(res.processed) == 2 and not res.failed
    assert jobs == 2


def _row_loop_ranges(payload, target: int):
    """The per-row loop ``byte_bounded_ranges`` replaced: the reference
    its vectorized form must reproduce range for range."""
    start = acc = 0
    for i in range(len(payload)):
        v = payload[i]
        acc += len(v.as_buffer()) if v.is_valid else 0
        if acc >= target and i + 1 > start:
            yield start, i + 1
            start, acc = i + 1, 0
    if start < len(payload):
        yield start, len(payload)


def test_byte_bounded_ranges_match_row_loop():
    """Nulls, empty payloads, a giant at either edge, and rows whose
    bytes reach BATCH_TARGET_BYTES exactly or stop one byte short."""
    import pyarrow as pa

    from pdf_extractor_spark.operators.extract import (
        BATCH_TARGET_BYTES as T,
        byte_bounded_ranges,
    )

    giant = b"g" * (T + 1)
    cases = {
        "no rows": [],
        "nulls and empties": [None, b"", None, b"ab", b""],
        "giant first": [giant, b"a", None, b"bc"],
        "giant last": [b"a", None, b"", giant],
        "giants only": [giant, None, giant],
        "exact crossing": [b"a" * (T - 10), b"b" * 10, b"c", b"d" * (T - 1), b"e"],
        "one byte short": [b"a" * (T - 10), b"b" * 9, b"c"],
    }
    got = {}
    for name, rows in cases.items():
        batch = pa.RecordBatch.from_arrays(
            [pa.array(rows, pa.binary())], names=["html"]
        )
        got[name] = list(byte_bounded_ranges(batch))
        assert got[name] == list(_row_loop_ranges(batch.column("html"), T)), name
    assert got["exact crossing"] == [(0, 2), (2, 4), (4, 5)]


def test_byte_bounded_ranges_match_row_loop_random(monkeypatch):
    """Random batches against a small target, so most rows straddle,
    reach or overshoot a range boundary; `col` picks the column."""
    import random

    import pyarrow as pa

    from pdf_extractor_spark.operators import extract as ex

    monkeypatch.setattr(ex, "BATCH_TARGET_BYTES", 64)
    rng = random.Random(11)
    for _ in range(300):
        rows = [
            None if rng.random() < 0.15 else b"x" * rng.choice(
                [0, 1, 7, 32, 63, 64, 65, 200]
            )
            for _ in range(rng.randint(0, 40))
        ]
        batch = pa.RecordBatch.from_arrays(
            [pa.array(rows, pa.binary())], names=["payload"]
        )
        want = list(_row_loop_ranges(batch.column("payload"), 64))
        assert list(ex.byte_bounded_ranges(batch, "payload")) == want, rows


def test_url_gate_rides_the_commit(spark, tmp_path):
    """run_extract(url_filter=True) counts each chunk's URL-gate rejects
    per date on the commit job itself (an Observation on the source,
    before the filter), a chunk holding a giant payload too: as many
    Spark jobs as the ungated run."""
    import datetime as dt

    from tests.conftest import spark_jobs

    from pdf_extractor_spark.plans.extract_plan import run_extract
    from pdf_extractor_spark.tables.icetable import IceTable

    bad = [
        "https://best-casino.example/win",
        "https://deep.example.org/" + "/".join(f"s{i}" for i in range(9)),
    ]
    rows = [("http://giant.example/", dt.datetime(2025, 6, 1), _giant())]
    for day, n_bad in ((1, 2), (2, 1)):
        ts = dt.datetime(2025, 6, day)
        rows += [(f"http://ok{day}-{i}.example/", ts, b"<p>ok</p>")
                 for i in range(4)]
        rows += [(u, ts, b"<p>trap</p>") for u in bad[:n_bad]]
    pages = _append(spark, IceTable(tmp_path / "pages"), rows)

    def run(wh, **kw):
        return spark_jobs(
            spark, lambda: run_extract(spark, pages, str(tmp_path / wh), **kw)
        )

    (plain, plain_jobs) = run("plain")
    (gated, gated_jobs) = run("gated", url_filter=True)
    assert len(plain.processed) == len(gated.processed) == 2
    assert gated_jobs == plain_jobs == 2
    assert gated.url_rejected == 3
    assert _lineage(tmp_path / "gated") == [
        (dt.date(2025, 6, 1), 7, 5, 0, "ok"),
        (dt.date(2025, 6, 2), 5, 4, 0, "ok"),
    ]
