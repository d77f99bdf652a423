"""Outlink collection from HTML payloads — the link-graph arm of a
Common-Crawl-style pipeline (harmonic-centrality / domain-graph
filtering needs per-page outlinks long before any text model runs).

The reference pipeline has no link stage (it extracts text from one
uploaded document per request, /root/reference/pdf_processor.py); this
is part of the brief's web-pipeline family. The collector is its own
handler (``_LinkParser``) on the extractor's fast tokenizer
(``_fast_parse``): it shares the byte-stable decoder
(``detect_and_decode``), the tokenizer and the whitespace canon
(``canon_ws``), but none of the block state, so the byte-identity
invariant of extracted text is unaffected.

Spec (deterministic, total):
- only ``<a href=...>`` anchors count; an ``<a>`` without href is
  skipped (its text is still not attributed to any other link);
- HTML forbids nested ``<a>``: a new start tag implicitly closes a
  dangling one (the dangling link keeps the text seen so far);
- an unclosed trailing ``<a>`` at EOF is flushed;
- anchor text is the whitespace-canonicalized character data between
  the start tag and its (implicit or explicit) close, char/entity
  refs resolved;
- non-HTML payloads (None, empty, ``%PDF-``) yield no links (PDF link
  annotations are out of scope — documented, not silently dropped:
  doc_type='pdf' rows simply have zero outlinks);
- parser errors are contained: links collected before the error are
  returned (mirrors the extractor's O23 error containment).
"""

from __future__ import annotations

from html.parser import HTMLParser

from pdf_extractor_spark.ref_extractor.dispatch import PDF_MAGIC
from pdf_extractor_spark.ref_extractor.html_extract import (
    _fast_parse,
    canon_ws,
    detect_and_decode,
)


class _LinkParser(HTMLParser):
    ATTR_TAGS = frozenset({"a"})  # href is the only attr read

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str]] = []
        self._open: list | None = None  # [href | None, text parts]

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self.flush()  # nested <a> is invalid: implicit close
            href = next((v for k, v in attrs if k == "href"), None)
            self._open = [href, []]

    def handle_endtag(self, tag):
        if tag == "a":
            self.flush()

    def handle_data(self, data):
        if self._open is not None:
            self._open[1].append(data)

    def flush(self) -> None:
        if self._open is not None:
            href, parts = self._open
            if href:  # href-less anchors are skipped
                self.links.append((href, canon_ws("".join(parts))))
            self._open = None


def collect_links(payload: bytes | None) -> list[tuple[int, str, str]]:
    """payload → [(seq, href, anchor_text)] in document order."""
    if not payload or payload.startswith(PDF_MAGIC):
        return []
    text = detect_and_decode(payload)
    p = _LinkParser()
    try:
        _fast_parse(text, p)
    except Exception:  # noqa: BLE001 — O23-style containment
        pass
    p.flush()
    return [(i, href, anchor) for i, (href, anchor) in enumerate(p.links)]
