"""Differential check: the Spark extraction stage must agree byte-for-byte
with the pure-Python reference extractor on ARBITRARY payloads — not just
the golden corpus families. Catches Arrow-boundary bugs (null payloads,
odd bytes, non-UTF8) that family-based goldens would miss."""

from __future__ import annotations

import datetime as dt
import pathlib
import random

from pyspark.sql import types as T

from pdf_extractor_spark.operators.extract import extract_stage
from pdf_extractor_spark.ref_extractor import extract

REPO = pathlib.Path(__file__).resolve().parent.parent

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)


def _payloads() -> list[bytes | None]:
    rng = random.Random(20260817)
    out: list[bytes | None] = [
        None,
        b"",
        b"   \n\t ",
        b"%PDF-",
        b"%PDF-1.4\n" + bytes(rng.getrandbits(8) for _ in range(256)),
        "<p>café — ümläut</p>".encode("utf-8"),
        "<p>latin1 café</p>".encode("latin-1"),
        b"<p>" + b"&amp;" * 500 + b"</p>",
        b"\xff\xfe\x00broken bom",
    ]
    for _ in range(150):
        out.append(bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 512))))
    for _ in range(50):
        body = "".join(
            rng.choice("<>ab& ;x\"'=/p!") for _ in range(rng.randint(0, 300))
        )
        out.append(f"<html><body>{body}</body></html>".encode("utf-8"))
    return out


def test_fast_tokenizer_matches_stdlib_parser():
    """CI slice of the million-payload tokenizer fuzz (the full sweep is
    scripts/fuzz_tokenizer.py, run at every tokenizer change): on
    adversarial HTML, every handler the fast single-pass tokenizer
    drives must be byte-identical to the same handler on the stdlib
    html.parser — extraction (doc_type, text, every block field,
    contained error strings), outlinks and image-caption pairs."""
    from scripts.fuzz_tokenizer import check_range, make_payload

    n, bad = check_range((0, 30_000))
    assert n == 30_000
    assert not bad, (
        f"tokenizer divergence at seeds {bad[:5]}: "
        f"{[make_payload(s) for s in bad[:2]]!r}"
    )


def test_collectors_match_stdlib_on_generator_mix_with_giant():
    """`collect_links` / `collect_images` on the fast tokenizer equal the
    stdlib-tokenizer oracle on a generator mix with one giant HTML blob,
    plus the link and figure fixtures (real anchor/img/figcaption
    markup). The outlinks benchmark gate compares the Spark stage with
    in-process `collect_links`, which is the fast path itself; this test
    is what ties both to the stdlib tokenizer."""
    import pyarrow.parquet as pq

    from pdf_extractor_spark.corpus.generator import generate_rows
    from pdf_extractor_spark.ref_extractor.images import collect_images
    from pdf_extractor_spark.ref_extractor.links import collect_links
    from scripts.fuzz_tokenizer import stdlib_tokenizer

    rows = list(generate_rows(7, 600, 4, giant_html=1))
    assert rows[-1].family == "E4h" and len(rows[-1].html) > 4 * 2**20
    payloads = [r.html for r in rows]
    for name in ("linkpages_micro", "figpages_micro"):
        table = pq.read_table(REPO / "fixtures" / f"{name}.parquet")
        payloads += table.column("html").to_pylist()

    def collect():
        return [(collect_links(p), collect_images(p)) for p in payloads]

    fast = collect()
    with stdlib_tokenizer():
        oracle = collect()
    assert sum(len(links) for links, _ in fast) > 1000
    assert sum(len(imgs) for _, imgs in fast) > 50
    for i, (got, want) in enumerate(zip(fast, oracle)):
        assert got == want, f"payload {i}: {payloads[i][:80]!r}"


def test_spark_stage_matches_pure_python(spark):
    payloads = _payloads()
    ts = dt.datetime(2024, 1, 1)
    rows = [(f"u{i}", ts, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, SCHEMA).repartition(8)
    got = {
        r.url: (r.doc_type, r.extracted_text, r.n_blocks, r.n_chars, r.error)
        for r in extract_stage(df).collect()
    }
    assert len(got) == len(payloads)
    for i, p in enumerate(payloads):
        res = extract(p)
        want = (res.doc_type, res.text, res.n_blocks, res.n_chars, res.error)
        assert got[f"u{i}"] == want, (
            f"mismatch at payload {i}: {p[:60] if p else p!r}: "
            f"{got[f'u{i}'][:2]} != {want[:2]}"
        )
