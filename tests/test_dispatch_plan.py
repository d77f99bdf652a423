"""The two-branch skew plan (extract_stage_dispatch) must be a pure
physical-plan choice: identical output row set to the single-stage plan,
for any giant_threshold (here forced low so the micro corpus actually
exercises both branches). run_extract drops the giant branch when the
pages footers prove no payload reaches the threshold; both plans must
emit the same rows."""

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


def _chunk_plan(spark, pages):
    """run_extract's dispatch plan for one chunk of every date, and the
    footer bound it was chosen by."""
    from pdf_extractor_spark.plans.extract_plan import _dispatch_plan

    dates = pages.partitions()
    _, bound = pages.footer_sizes(dates, "html")
    src = pages.read(spark, partitions=dates)
    return _dispatch_plan(src, bound, True), bound


def test_giant_free_chunk_plans_no_exchange(spark, tmp_path):
    from tests.test_plans import plan_of

    from pdf_extractor_spark.operators.extract import GIANT_THRESHOLD_BYTES

    df, bound = _chunk_plan(spark, _pages_table(spark, tmp_path))
    assert bound is not None and bound < GIANT_THRESHOLD_BYTES
    assert "Exchange" not in plan_of(df)


def test_giant_chunk_keeps_repartitioned_branch(spark, tmp_path):
    """One payload above the threshold puts the footer bound above it,
    so the chunk keeps the two-branch plan with its giant shuffle."""
    import datetime as dt

    from tests.test_plans import plan_of

    from pdf_extractor_spark.operators.extract import GIANT_THRESHOLD_BYTES
    from pdf_extractor_spark.tables.icetable import IceTable

    pages = IceTable(tmp_path / "pages")
    giant = b"<p>" + b"a" * GIANT_THRESHOLD_BYTES + b"</p>"
    pages.append(
        spark.createDataFrame(
            [
                ("http://giant.example/", dt.datetime(2025, 6, 1), giant),
                ("http://tiny.example/", dt.datetime(2025, 6, 1), b"<p>hi</p>"),
            ],
            "url string, warc_ts timestamp, html binary",
        ).withColumn("partition_date", F.to_date("warc_ts"))
    )
    df, bound = _chunk_plan(spark, pages)
    assert bound >= GIANT_THRESHOLD_BYTES
    assert "RoundRobinPartitioning" in plan_of(df)


def test_footer_without_html_falls_back_to_dispatch(spark, tmp_path):
    """Files written before ``html`` existed give no bound on it, so the
    chunk keeps the two-branch plan."""
    import datetime as dt

    from tests.test_plans import plan_of

    from pdf_extractor_spark.tables.icetable import IceTable

    pages = IceTable(tmp_path / "pages")
    ts = dt.datetime(2025, 6, 1)
    pages.append(
        spark.createDataFrame(
            [("http://old.example/", ts)], "url string, warc_ts timestamp"
        ).withColumn("partition_date", F.to_date("warc_ts"))
    )
    pages.append(
        spark.createDataFrame(
            [("http://new.example/", ts, b"<p>hi</p>")],
            "url string, warc_ts timestamp, html binary",
        ).withColumn("partition_date", F.to_date("warc_ts"))
    )
    df, bound = _chunk_plan(spark, pages)
    assert bound is None
    assert "RoundRobinPartitioning" in plan_of(df)
    rows = {r.url: r.doc_type for r in df.collect()}
    assert rows == {"http://old.example/": "empty", "http://new.example/": "html"}


def test_plain_and_dispatch_plans_byte_identical(spark, tmp_path):
    from pdf_extractor_spark.plans.extract_plan import _dispatch_plan

    pages = _pages_table(spark, tmp_path)
    src = pages.read(spark)
    _, bound = pages.footer_sizes(pages.partitions(), "html")

    def rows(df):
        return sorted(
            (r.url, r.extracted_text, r.doc_type, r.error)
            for r in df.collect()
        )

    plain = rows(_dispatch_plan(src, bound, True))
    assert len(plain) == src.count()
    assert plain == rows(_dispatch_plan(src, None, True))


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


def test_url_gate_rides_the_giant_free_commit(spark, tmp_path, monkeypatch):
    """run_extract(url_filter=True) counts a giant-free chunk's URL-gate
    rejects per date on the commit job itself (an Observation on the
    source, before the filter): as many Spark jobs as the ungated run, and
    the same ``url_rejected`` and lineage rows as the dispatch plan, which
    counts them with a separate aggregate."""
    import datetime as dt

    from tests.conftest import spark_jobs

    from pdf_extractor_spark.plans.extract_plan import run_extract
    from pdf_extractor_spark.plans.lineage import LineageLog
    from pdf_extractor_spark.tables.icetable import IceTable

    bad = [
        "https://best-casino.example/win",
        "https://deep.example.org/" + "/".join(f"s{i}" for i in range(9)),
    ]
    rows = []
    for day, n_bad in ((1, 2), (2, 1)):
        ts = dt.datetime(2025, 6, day)
        rows += [(f"http://ok{day}-{i}.example/", ts, b"<p>ok</p>")
                 for i in range(4)]
        rows += [(u, ts, b"<p>trap</p>") for u in bad[:n_bad]]
    pages = IceTable(tmp_path / "pages")
    pages.append(
        spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
        .withColumn("partition_date", F.to_date("warc_ts"))
    )

    def run(wh, **kw):
        return spark_jobs(
            spark, lambda: run_extract(spark, pages, str(tmp_path / wh), **kw)
        )

    def lineage(wh):
        return sorted(
            (r["partition_date"], r["rows_in"], r["rows_out"], r["n_errors"],
             r["status"])
            for r in LineageLog(tmp_path / wh / "lineage").records()
        )

    (plain, plain_jobs) = run("plain")
    (gated, gated_jobs) = run("gated", url_filter=True)
    assert len(plain.processed) == len(gated.processed) == 2
    assert gated_jobs == plain_jobs == 2
    assert gated.url_rejected == 3
    assert lineage("gated") == [
        (dt.date(2025, 6, 1), 6, 4, 0, "ok"),
        (dt.date(2025, 6, 2), 5, 4, 0, "ok"),
    ]

    # an unknown footer bound forces the two-branch plan and its aggregate
    sizes = IceTable.footer_sizes
    monkeypatch.setattr(
        IceTable, "footer_sizes", lambda t, p, c: (sizes(t, p, c)[0], None)
    )
    (dispatched, _) = run("dispatched", url_filter=True)
    assert dispatched.url_rejected == gated.url_rejected
    assert lineage("dispatched") == lineage("gated")
