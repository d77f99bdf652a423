"""Image-caption pair mining: collector spec (crafted branches),
fixture freshness, Spark-stage parity vs the pure-Python collector,
and the LAION-style caption-quality rules (value parity vs DuckDB is
covered by the catalog oracle suite)."""

from __future__ import annotations

import pathlib

import pyarrow.parquet as pq

from pdf_extractor_spark.ref_extractor.images import collect_images

REPO = pathlib.Path(__file__).resolve().parent.parent
FIXTURE = REPO / "fixtures" / "figpages_micro.parquet"


def test_collector_caption_priority_branches():
    """Every branch of the caption-priority spec on crafted markup."""
    cases = [
        # alt only (entity refs resolved, ws canon)
        (
            b'<p><img src="/a.jpg" alt="a cat &amp;  dog"></p>',
            [(0, "/a.jpg", "a cat & dog", "a cat & dog", "alt")],
        ),
        # figcaption AFTER img beats alt
        (
            b'<figure><img src="x.png" alt="alt text">'
            b"<figcaption> the  real caption </figcaption></figure>",
            [(0, "x.png", "alt text", "the real caption", "figcaption")],
        ),
        # figcaption BEFORE img
        (
            b"<figure><figcaption>cap first</figcaption>"
            b'<img src="y.png"></figure>',
            [(0, "y.png", None, "cap first", "figcaption")],
        ),
        # empty figcaption falls back to alt
        (
            b"<figure><figcaption>  </figcaption>"
            b'<img src="z.png" alt="zz"></figure>',
            [(0, "z.png", "zz", "zz", "alt")],
        ),
        # src-less skipped; no alt + no figure -> NULL caption
        (
            b'<img alt="nope"><img src="q.png">',
            [(0, "q.png", None, None, None)],
        ),
        # nested figures: innermost wins for the inner img
        (
            b"<figure><figcaption>outer</figcaption>"
            b"<figure><figcaption>inner</figcaption>"
            b'<img src="n.png"></figure>'
            b'<img src="o.png"></figure>',
            [
                (0, "n.png", None, "inner", "figcaption"),
                (1, "o.png", None, "outer", "figcaption"),
            ],
        ),
        # second figcaption ignored (only the first is standard HTML)
        (
            b"<figure><figcaption>first</figcaption>"
            b"<figcaption>second</figcaption>"
            b'<img src="m.png"></figure>',
            [(0, "m.png", None, "first", "figcaption")],
        ),
        # unclosed figure at EOF flushed
        (
            b'<figure><img src="e.png"><figcaption>eof cap',
            [(0, "e.png", None, "eof cap", "figcaption")],
        ),
        # non-HTML payloads
        (b"%PDF-1.4 ...", []),
        (b"", []),
        (None, []),
    ]
    for payload, want in cases:
        assert collect_images(payload) == want, payload


def test_fixture_matches_builder_spec():
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    from build_figpages_fixture import SEED, build_rows

    committed = pq.read_table(FIXTURE).to_pylist()
    assert committed == build_rows(SEED)


def test_spark_stage_matches_pure_python(spark):
    """The mapInArrow stage reproduces the pure-Python collector row
    for row over the committed fixture (the same parity discipline as
    the outlink stage), and the fixture exercises all three
    caption_src classes."""
    from collections import Counter

    from pdf_extractor_spark.queries import CATALOG

    got = sorted(
        (r["url"], r["seq"], r["src"], r["alt"], r["caption"],
         r["caption_src"])
        for r in CATALOG["extract_image_pairs"].fn(spark, "unused")
        .collect()
    )
    want = []
    for p in pq.read_table(FIXTURE).to_pylist():
        for seq, src, alt, caption, csrc in collect_images(p["html"]):
            want.append((p["url"], seq, src, alt, caption, csrc))
    assert got == sorted(want)
    dist = Counter(x[5] for x in got)
    assert set(dist) == {"figcaption", "alt", None}
    assert len(got) == 185


def test_caption_quality_rules(spark):
    """Crafted pins for the filter rules: filename-junk alt rejected
    (hyphen/underscore-normalized match), short captions rejected,
    NULL captions rejected, real figcaptions kept."""
    from pdf_extractor_spark.queries import CATALOG

    rows = {
        (r["url"], r["seq"]): r
        for r in CATALOG["image_caption_quality"].fn(spark, "unused")
        .collect()
    }
    assert len(rows) == 185
    kept = [r for r in rows.values() if r["keep"] == 1]
    assert kept
    for r in kept:
        assert r["caption"] is not None
        assert r["junk_filename"] == 0
        assert r["n_caption_toks"] >= 2 and len(r["caption"]) >= 5
    # the planted filename-junk rows exist and are all rejected
    junk = [r for r in rows.values() if r["junk_filename"] == 1]
    assert junk
    for r in junk:
        base = r["src"].rsplit("/", 1)[-1].split(".", 1)[0]
        norm = base.lower().replace("-", " ").replace("_", " ")
        capn = r["caption"].lower().replace("-", " ").replace("_", " ")
        assert capn == norm
        assert r["keep"] == 0
    # NULL-caption rows rejected with zero token count
    nulls = [r for r in rows.values() if r["caption"] is None]
    assert nulls
    assert all(
        r["keep"] == 0 and r["n_caption_toks"] == 0 for r in nulls
    )


def test_caption_quality_plan_no_shuffle(spark):
    """The filter is a pure projection over the Arrow stage — no
    Exchange anywhere in the plan."""
    from pdf_extractor_spark.queries import CATALOG
    from tests.test_plans import plan_of

    plan = plan_of(CATALOG["image_caption_quality"].fn(spark, "unused"))
    assert "Exchange" not in plan


def test_image_pairs_dedup_collapses_planted_variants(spark):
    """The 5 planted site-wide embeds (raw / utm-param / mixed-case-
    host variants of one image on three pages) each collapse to ONE
    canonical key with exactly one keeper; every other kept pair is
    its own singleton group; the kept set has no duplicate canon
    keys."""
    from collections import Counter

    from pdf_extractor_spark.queries import CATALOG

    rows = CATALOG["image_pairs_dedup"].fn(spark, "unused").collect()
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["src_canon"], []).append(r)
    trios = {
        c: g for c, g in by_canon.items() if "/shared_" in c
    }
    assert len(trios) == 5
    for c, g in trios.items():
        assert c == c.lower() and "utm_" not in c
        assert len(g) == 3
        assert all(r["n_copies"] == 3 for r in g)
        keepers = [r for r in g if r["keep"] == 1]
        assert len(keepers) == 1
        assert min((r["url"], r["seq"]) for r in g) == (
            keepers[0]["url"],
            keepers[0]["seq"],
        )
    sizes = Counter(len(g) for g in by_canon.values())
    assert sizes[3] >= 5  # the planted trios
    kept = [r for r in rows if r["keep"] == 1]
    assert len(kept) == len(by_canon)


def test_relative_src_is_page_scoped(spark):
    """A scheme-less (relative) src string on two DIFFERENT pages may
    name two different images (resolution depends on the page's base
    path), so the dedup key must be page-scoped — the bare-string key
    would merge distinct training images across sites. Absolute srcs
    still collapse across pages; the same relative src repeated on ONE
    page still collapses."""
    from pdf_extractor_spark.queries.catalog import _src_canon_of

    kept = spark.createDataFrame(
        [
            ("https://a.example/p", 0, "logo.png"),
            ("https://b.example/q", 0, "logo.png"),   # other site!
            ("https://a.example/p", 1, "logo.png"),   # same page, again
            ("https://a.example/p", 2, "https://cdn.example/x.png?utm_a=1"),
            ("https://b.example/q", 1, "HTTPS://CDN.example/x.png"),
        ],
        "url string, seq int, src string",
    )
    got = {(r.url, r.seq): r.src_canon for r in _src_canon_of(kept).collect()}
    # cross-site relative srcs do NOT share a key
    assert got[("https://a.example/p", 0)] != got[("https://b.example/q", 0)]
    # same page, same relative src → same key
    assert got[("https://a.example/p", 0)] == got[("https://a.example/p", 1)]
    # absolute srcs canonicalize across pages (case + tracking params)
    assert (
        got[("https://a.example/p", 2)]
        == got[("https://b.example/q", 1)]
        == "https://cdn.example/x.png"
    )


def test_relative_src_key_is_unambiguous(spark):
    """The page-scoped key of a scheme-less src must not collide across
    (page, src) splits of the same string: page 'a#b' + src 'c' and
    page 'a' + src 'b#c' are different images. The DuckDB rendering of
    the key must equal Spark's, non-ASCII page urls included."""
    import duckdb

    from pdf_extractor_spark.queries.catalog import _src_canon_of
    from pdf_extractor_spark.queries.urlnorm import (
        host0_of,
        rest_of,
        scheme_of,
    )

    rows = [
        ("a#b", 0, "c"),
        ("a", 0, "b#c"),
        ("https://é.example/ñ", 0, "img/ü.png"),
        ("https://x.example/p", 1, "HTTPS://CDN.example/x.png?utm_a=1"),
    ]
    kept = spark.createDataFrame(rows, "url string, seq int, src string")
    got = {(r.url, r.seq): r.src_canon for r in _src_canon_of(kept).collect()}
    assert got[("a#b", 0)] != got[("a", 0)]

    from pdf_extractor_spark.queries.catalog import _src_canon_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE kept (url VARCHAR, seq INTEGER, src VARCHAR)")
    con.executemany("INSERT INTO kept VALUES (?, ?, ?)", rows)
    oracle = con.execute(
        f"SELECT url, seq, {_src_canon_sql(duckdb=True)} FROM ("
        f"SELECT url, seq, src AS url_src, {scheme_of('src')} AS scheme, "
        f"{host0_of('src')} AS host0, {rest_of('src')} AS rest FROM kept)"
    ).fetchall()
    assert {(u, q): k for u, q, k in oracle} == got
