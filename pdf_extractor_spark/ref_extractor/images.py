"""Image-caption pair collection from HTML payloads — the stage a
LAION-style multimodal pipeline runs over a web crawl to mine
(image URL, caption) training pairs (Schuhmann et al. 2022 mine
``<img>`` alt-text from Common Crawl; ``<figcaption>`` is the
higher-quality upgrade when present).

The reference pipeline has no image stage (it extracts text from one
uploaded document per request, /root/reference/pdf_processor.py); this
is part of the brief's multimodal family. Like the outlink collector
(``links.py``) it is its own handler (``_ImgParser``) on the
extractor's fast tokenizer (``_fast_parse``): it shares the byte-stable
decoder, the tokenizer and the whitespace canon, but none of the block
state, so the golden extraction path is untouched.

Spec (deterministic, total):
- only ``<img>`` tags with a non-empty ``src`` count; ``src``-less
  imgs are skipped;
- caption priority: the innermost enclosing ``<figure>``'s FIRST
  ``<figcaption>`` text (whitespace-canonicalized, char/entity refs
  resolved) when non-empty, else the img's own ``alt`` text when
  non-empty, else NULL — ``caption_src`` records which
  ('figcaption' | 'alt' | NULL);
- a ``<figcaption>`` may precede OR follow its figure's imgs (both
  orders occur in real markup), so figure-scoped imgs are emitted at
  figure close; additional ``<figcaption>`` elements in the same
  figure are ignored (only the first is standard HTML);
- nested figures: an img belongs to its INNERMOST enclosing figure;
- ``seq`` is img document order regardless of emission order;
- unclosed figures at EOF are flushed as if closed;
- non-HTML payloads (None, empty, ``%PDF-``) yield no pairs; parser
  errors are contained — pairs collected before the error are
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


class _ImgParser(HTMLParser):
    ATTR_TAGS = frozenset({"img"})  # src and alt are the only attrs read

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        # (seq, src, alt, caption, caption_src) — emission order varies,
        # collect_images() sorts by seq
        self.out: list[tuple[int, str, str | None, str | None, str | None]] = []
        # stack of open figures: {"cap": list|None, "in_cap": bool,
        # "imgs": [[seq, src, alt], ...]}
        self._figs: list[dict] = []
        self._seq = 0

    def handle_starttag(self, tag, attrs):
        if tag == "figure":
            self._figs.append({"cap": None, "in_cap": False, "imgs": []})
        elif tag == "figcaption" and self._figs:
            top = self._figs[-1]
            if top["cap"] is None:  # only the FIRST figcaption collects
                top["cap"] = []
                top["in_cap"] = True
        elif tag == "img":
            src = next((v for k, v in attrs if k == "src"), None)
            if not src:
                return
            alt = canon_ws(
                next((v for k, v in attrs if k == "alt"), None) or ""
            )
            rec = [self._seq, src, alt or None]
            self._seq += 1
            if self._figs:
                self._figs[-1]["imgs"].append(rec)
            else:
                self._emit(rec, None)

    def handle_endtag(self, tag):
        if tag == "figcaption" and self._figs:
            self._figs[-1]["in_cap"] = False
        elif tag == "figure" and self._figs:
            self._close_fig()

    def handle_data(self, data):
        if self._figs and self._figs[-1]["in_cap"]:
            self._figs[-1]["cap"].append(data)

    def _close_fig(self) -> None:
        fig = self._figs.pop()
        cap = canon_ws("".join(fig["cap"])) if fig["cap"] is not None else ""
        for rec in fig["imgs"]:
            self._emit(rec, cap or None)

    def _emit(self, rec: list, figcap: str | None) -> None:
        seq, src, alt = rec
        if figcap:
            self.out.append((seq, src, alt, figcap, "figcaption"))
        elif alt:
            self.out.append((seq, src, alt, alt, "alt"))
        else:
            self.out.append((seq, src, alt, None, None))

    def flush_eof(self) -> None:
        while self._figs:
            self._close_fig()


def collect_images(
    payload: bytes | None,
) -> list[tuple[int, str, str | None, str | None, str | None]]:
    """payload → [(seq, src, alt, caption, caption_src)] in document
    (img-appearance) order."""
    if not payload or payload.startswith(PDF_MAGIC):
        return []
    text = detect_and_decode(payload)
    p = _ImgParser()
    try:
        _fast_parse(text, p)
    except Exception:  # noqa: BLE001 — O23-style containment
        pass
    p.flush_eof()
    return sorted(p.out)
