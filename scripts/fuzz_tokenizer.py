"""Differential fuzz: the fast HTML tokenizer vs the stdlib-html.parser
path, byte-identical or bust.

    python scripts/fuzz_tokenizer.py [n_payloads] [n_procs]

Generates adversarial HTML payloads (malformed tags, entities, comments,
marked sections, truncations, non-UTF-8 bytes — every construct the
tokenizer dispatches on) and asserts that every handler the fast
tokenizer drives gives IDENTICAL results to the same handler driven by
the stdlib ``HTMLParser``: `extract_html` vs `extract_html_stdlib`
(doc_type, text, every block field, and the contained error string for
the payloads where the parser legitimately raises — marked-section
AssertionErrors), and `collect_links` / `collect_images` vs the same
collectors with the stdlib tokenizer swapped in. Any mismatch prints the
repro payload and exits nonzero — the gate for keeping the fast
tokenizer (the byte-identity invariant).

tests/test_differential.py runs a smaller deterministic slice of the
same generator in CI; this script is the million-payload sweep recorded
in BENCH.md.
"""

from __future__ import annotations

import contextlib
import multiprocessing as mp
import pathlib
import random
import sys
from unittest import mock

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

WORDS = (
    "alpha beta gamma delta content article nav the of and to in "
    "café straße 中文 élève"
).split()
ENTITIES = [
    "&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;", "&#65;", "&#x41;",
    "&#9731;", "&unknown;", "&amp", "&#", "&#x", "&", "&a", "&AMP;",
    "&notin;", "&not", "&;",
]
TAGS = [
    "p", "div", "span", "a", "b", "em", "li", "ul", "h1", "h2", "td",
    "table", "br", "img", "hr", "script", "style", "svg", "noscript",
    "template", "nav", "header", "footer", "aside", "form", "body",
    "html", "head", "title", "meta", "input", "weird-tag", "x:y",
    "figure", "figcaption", "img", "a",
]
ATTRS = [
    "", " class=content", ' class="main article"', " id=sidebar",
    ' class="nav menu" id="x"', " href=#", ' href="/a?b=1&amp;c=2"',
    " data-x='1'", ' class="a\nb"', " class", " class=", ' class="unterm',
    " =x", " a=b c", " a='it&apos;s'", " /x", ' class="promo"',
    " src=a.png", ' src="/i.png?w=1&amp;h=2" alt="cat &amp; dog"',
    " alt='a  caption\n'", " src", ' src=""', " HREF=/x SRC=y.jpg",
    ' href="/p" href="/q"', " alt=&lt;b&gt;",
]
SPECIALS = [
    "<!-- a comment -->", "<!--unterminated", "<!-- -- >", "<!---->",
    "<!>", "<!doctype html>", "<!DOCTYPE HTML PUBLIC 'x'>", "<!doctype",
    "<![CDATA[raw <b> stuff]]>", "<![CDATA[unterminated", "<![cdata[x] ]>",
    "<![if IE]>cond<![endif]>", "<![bogus]>", "<![", "<![ ]>", "<![a",
    "<?php echo '>' ?>", "<?pi", "<!bogus comment>", "<!areyousure",
    "</>", "</ >", "</-->", "</ p>", "</p attr='>'>", "</p", "<",
    "< p>", "<>", "<\x00>", "<p/", "<p /", "<p//>", "<p/ >",
    "<a b=c/>", "<a b='c'/>", "<a/b>", "<spa\x00n>", "?>", "]]>",
    "-->", "<\xc3\xa9>",
    '<figure><img src="f.png" alt="alt text"><figcaption>a &amp; b'
    "</figcaption></figure>",
    "<figcaption>first</figcaption><img src=g.gif><figcaption>2nd",
    '<img src="/x.jpg" alt="  spaced\talt ">', "<img alt=only-alt>",
    '<a href="/h">anchor <b>text</b>', "<a>no href</a>",
]


_BASE_DOCS: list[bytes] | None = None


def _base_docs() -> list[bytes]:
    """Realistic HTML from the deterministic corpus generator — mutation
    seeds for the fuzz (grammar soup alone misses real nesting/attribute
    shapes)."""
    global _BASE_DOCS
    if _BASE_DOCS is None:
        from pdf_extractor_spark.corpus.generator import generate_rows

        _BASE_DOCS = [
            r.html
            for r in generate_rows(13, 120, 4)
            if r.html and not r.html.startswith(b"%PDF-")
        ]
    return _BASE_DOCS


def make_payload(seed: int) -> bytes:
    rng = random.Random(seed)
    if rng.random() < 0.25:
        # mutate a realistic corpus document: splice two docs, inject a
        # special construct, and/or truncate
        docs = _base_docs()
        doc = bytearray(rng.choice(docs))
        if rng.random() < 0.5:
            other = rng.choice(docs)
            cut_a = rng.randrange(len(doc) + 1)
            cut_b = rng.randrange(len(other) + 1)
            doc = doc[:cut_a] + other[cut_b:]
        if rng.random() < 0.6:
            pos = rng.randrange(len(doc) + 1)
            ins = rng.choice(SPECIALS).encode("utf-8", "surrogateescape")
            doc = doc[:pos] + ins + doc[pos:]
        if rng.random() < 0.4 and len(doc) > 4:
            doc = doc[: rng.randrange(2, len(doc))]
        return bytes(doc)
    mode = rng.randrange(10)
    parts: list[str] = []
    n = rng.randint(3, 40)
    for _ in range(n):
        r = rng.random()
        if r < 0.35:
            parts.append(
                " ".join(rng.choices(WORDS, k=rng.randint(1, 8)))
            )
        elif r < 0.47:
            parts.append(rng.choice(ENTITIES))
        elif r < 0.72:
            tag = rng.choice(TAGS)
            attr = rng.choice(ATTRS)
            close = rng.choice([">", "/>", ">", ">", ""])
            parts.append(f"<{tag}{attr}{close}")
        elif r < 0.82:
            parts.append(f"</{rng.choice(TAGS)}>")
        else:
            parts.append(rng.choice(SPECIALS))
    doc = "".join(parts)
    if mode == 0:
        doc = f"<html><head><title>t</title></head><body>{doc}</body></html>"
    elif mode == 1:
        doc = f'<meta charset="utf-8">{doc}'
    elif mode == 2:
        doc = f"<meta charset='latin-1'>{doc}"
    payload = doc.encode("utf-8")
    if mode == 3:
        payload = b"\xef\xbb\xbf" + payload
    elif mode == 4:
        payload = payload + bytes(
            rng.getrandbits(8) for _ in range(rng.randint(1, 30))
        )
    if rng.random() < 0.35 and len(payload) > 4:
        payload = payload[: rng.randrange(2, len(payload))]  # truncate
    return payload


def _outcome(fn, payload: bytes):
    """Run one extractor path with dispatch-style containment so paths
    that legitimately raise (marked-section AssertionError) compare by
    their deterministic error string."""
    try:
        r = fn(payload)
        return (
            r.doc_type,
            r.text,
            tuple(
                (b.idx, b.tag_path, b.text, b.text_density,
                 b.link_density, b.kept)
                for b in r.blocks
            ),
            None,
        )
    except Exception as e:  # noqa: BLE001 — mirror dispatch containment
        return ("error", "", (), f"{type(e).__name__}: {e}")


def _stdlib_drive(text: str, p) -> None:
    """The oracle tokenizer: the stdlib ``HTMLParser`` driving ``p``."""
    p.feed(text)
    p.close()


@contextlib.contextmanager
def stdlib_tokenizer():
    """Within this block `collect_links` / `collect_images` run their
    handlers on the stdlib tokenizer instead of `_fast_parse`."""
    from pdf_extractor_spark.ref_extractor import images, links

    with mock.patch.object(links, "_fast_parse", _stdlib_drive), \
            mock.patch.object(images, "_fast_parse", _stdlib_drive):
        yield


def outcomes(payload: bytes, stdlib: bool = False) -> tuple:
    """(extraction, links, images) of one payload on one tokenizer; the
    stdlib side must run inside `stdlib_tokenizer()`."""
    from pdf_extractor_spark.ref_extractor.html_extract import (
        extract_html,
        extract_html_stdlib,
    )
    from pdf_extractor_spark.ref_extractor.images import collect_images
    from pdf_extractor_spark.ref_extractor.links import collect_links

    extract = extract_html_stdlib if stdlib else extract_html
    return (
        _outcome(extract, payload),
        collect_links(payload),
        collect_images(payload),
    )


def check_range(args: tuple[int, int]) -> tuple[int, list[int]]:
    lo, hi = args
    fast = [outcomes(make_payload(seed)) for seed in range(lo, hi)]
    with stdlib_tokenizer():
        bad = [
            seed
            for seed, got in zip(range(lo, hi), fast)
            if got != outcomes(make_payload(seed), stdlib=True)
        ]
    return hi - lo, bad


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    procs = int(sys.argv[2]) if len(sys.argv) > 2 else mp.cpu_count()
    chunk = 20_000
    ranges = [
        (lo, min(lo + chunk, total)) for lo in range(0, total, chunk)
    ]
    done = 0
    bad: list[int] = []
    with mp.Pool(procs) as pool:
        for n, b in pool.imap_unordered(check_range, ranges):
            done += n
            bad.extend(b)
            if done % 200_000 < chunk:
                print(f"{done}/{total} checked, {len(bad)} mismatches")
    if bad:
        print(f"FAIL: {len(bad)} mismatching seeds, first: {bad[:5]}")
        for seed in bad[:3]:
            print(f"  seed {seed}: {make_payload(seed)!r}")
        sys.exit(1)
    print(
        f"OK: {done} payloads, fast == stdlib on every one "
        "(text, links, images)"
    )


if __name__ == "__main__":
    main()
