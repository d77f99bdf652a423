"""From-scratch HTML main-content extraction (readability/trafilatura-style),
built on stdlib ``html.parser`` only.

Pipeline (deterministic, spec'd here and encoded in the goldens):

1. **Encoding detection** — BOM, then ``<meta charset>`` sniff in the first
   4096 bytes, then strict UTF-8 attempt, then cp1252-with-replacement.
2. **Stream parse** — one pass with ``html.parser``; ``<script>/<style>``
   content, comments, and the ``<head>`` subtree are dropped *before* any
   scoring (the graft analog of the reference's image-preprocessing noise
   suppression, /root/reference/pdf_processor.py:386-416 — see SURVEY.md O6).
3. **Block segmentation** — text accumulates into a block until a block-level
   tag boundary; each block records its tag path, ancestor class/id signals,
   char count, anchor-char count, and inline-tag count.
4. **Classification** — keep/drop per block from text density, link density,
   structural-role tags (nav/header/footer/aside/form dropped), and class/id
   scoring (negative: comment|sidebar|footer|...; positive: content|article|
   main|post|...). This is the graft of the reference's confidence filter
   ``conf < 0.5 → drop`` (/root/reference/pdf_processor.py:360-361, SURVEY.md
   O7).
5. **Fallback** — if nothing is kept, fall back to the whole-body text
   (reference backup-OCR semantic, pdf_processor.py:372-380, SURVEY.md O9).
6. **Canonical text** — kept block texts, each whitespace-collapsed, joined
   by a single ``\\n`` with no trailing newline (SURVEY.md Appendix B).

All thresholds are module constants with tests (SURVEY.md §5.2 item 2).
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser

from pdf_extractor_spark.ref_extractor.types import Block, ExtractResult

# --- named constants (Appendix B discipline: thresholds are constants) -----
MIN_BLOCK_CHARS = 25  # minimum canonical chars for a content block
MIN_HEADING_CHARS = 8  # headings are short but content-bearing
MAX_LINK_DENSITY = 0.35  # analog of the reference's conf<0.5 drop
MAX_HEADING_LINK_DENSITY = 0.20
MIN_TEXT_DENSITY = 8.0  # chars per (1 + inline tag) within the block
META_SNIFF_BYTES = 4096

# Tags whose start/end delimit a text block.
BLOCK_TAGS = frozenset(
    """p div article section main aside header footer nav h1 h2 h3 h4 h5 h6
    li ul ol dl dt dd td th tr table thead tbody tfoot blockquote pre figure
    figcaption form fieldset hr body html title address center""".split()
)
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# Subtrees dropped entirely (structural boilerplate roles).
DROP_SUBTREE_TAGS = frozenset({"nav", "header", "footer", "aside", "form"})
# Raw-content tags whose character data is never text.
RAW_SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "svg"})
VOID_TAGS = frozenset(
    """area base br col embed hr img input link meta param source track
    wbr""".split()
)

NEGATIVE_CLASS_RE = re.compile(
    r"comment|sidebar|side-bar|footer|footnote|nav|menu|banner|advert|"
    r"\bad\b|\bads\b|promo|social|share|widget|related|breadcrumb|cookie|"
    r"popup|masthead|pagination",
    re.IGNORECASE,
)
POSITIVE_CLASS_RE = re.compile(
    r"\barticle\b|\bbody\b|\bcontent\b|\bentry\b|\bmain\b|\bpost\b|\btext\b|"
    r"\bstory\b|\bblog\b|column",
    re.IGNORECASE,
)

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.IGNORECASE
)


def detect_and_decode(payload: bytes) -> str:
    """Deterministic decode: BOM → meta-charset sniff → UTF-8 strict →
    cp1252 with replacement.

    Mirrors in spirit the reference's reliance on pdfplumber/OCR to hand it
    clean ``str`` text; here decoding is our own responsibility and must be
    byte-stable, so no locale- or environment-dependent behavior is allowed.
    """
    if payload.startswith(codecs.BOM_UTF8):
        return payload[len(codecs.BOM_UTF8) :].decode("utf-8", "replace")
    if payload.startswith(codecs.BOM_UTF16_LE):
        return payload[2:].decode("utf-16-le", "replace")
    if payload.startswith(codecs.BOM_UTF16_BE):
        return payload[2:].decode("utf-16-be", "replace")
    m = _META_CHARSET_RE.search(payload[:META_SNIFF_BYTES])
    if m:
        name = m.group(1).decode("ascii", "ignore").lower()
        try:
            codecs.lookup(name)
        except LookupError:
            name = ""
        if name:
            try:
                return payload.decode(name, "strict")
            except (UnicodeDecodeError, ValueError):
                pass  # mis-declared charset (fixture family H5) → fall through
    try:
        return payload.decode("utf-8", "strict")
    except UnicodeDecodeError:
        return payload.decode("cp1252", "replace")


def canon_ws(s: str) -> str:
    """Canonical whitespace: collapse all runs to one space, strip ends.
    ``str.split`` splits on exactly the same character set as ``\\s+``
    (verified over every Unicode codepoint) and runs at C speed."""
    return " ".join(s.split())


class _Frame:
    __slots__ = ("tag", "path", "drop", "neg", "pos")

    def __init__(self, tag: str, path: str, drop: bool, neg: bool, pos: bool):
        self.tag = tag
        self.path = path  # full materialized tag path down to this frame
        self.drop = drop
        self.neg = neg
        self.pos = pos


class _BlockParser(HTMLParser):
    """Single-pass block segmenter. Produces raw block tuples; scoring and
    the keep decision happen in :func:`extract_html`."""

    # tags whose attrs handle_starttag reads (class/id); `_fast_parse`
    # collects attribute values for these tags only
    ATTR_TAGS = BLOCK_TAGS

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[_Frame] = []
        self.raw_skip_depth = 0
        self.in_head = 0
        self.blocks: list[dict] = []
        # current block accumulator
        self._parts: list[str] = []
        self._link_chars = 0
        self._inline_tags = 0
        self._anchor_depth = 0
        # running ancestor state (kept in lockstep with `stack` so _flush
        # never rescans the stack): count of open drop/neg/pos frames
        self._drop_depth = 0
        self._neg_depth = 0
        self._pos_depth = 0

    # -- helpers ------------------------------------------------------------
    def _flush(self) -> None:
        if not self._parts:
            self._link_chars = 0
            self._inline_tags = 0
            return
        raw = "".join(self._parts)
        text = canon_ws(raw)
        if text:
            stack = self.stack
            self.blocks.append(
                {
                    "tag_path": stack[-1].path if stack else "(root)",
                    "text": text,
                    "link_chars": min(self._link_chars, len(raw)),
                    "raw_chars": len(text),
                    "inline_tags": self._inline_tags,
                    "dropped_subtree": self._drop_depth > 0,
                    "neg": self._neg_depth > 0,
                    "pos": self._pos_depth > 0,
                    "heading": bool(stack)
                    and stack[-1].tag in HEADING_TAGS,
                }
            )
        self._parts = []
        self._link_chars = 0
        self._inline_tags = 0

    # -- HTMLParser callbacks ------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in RAW_SKIP_TAGS:
            self.raw_skip_depth += 1
            return
        if tag == "head":
            self.in_head += 1
            return
        if self.raw_skip_depth or self.in_head:
            return
        if tag in VOID_TAGS:
            if tag == "br":
                self._parts.append(" ")
            return
        if tag not in BLOCK_TAGS:
            self._inline_tags += 1
            if tag == "a":
                self._anchor_depth += 1
            return
        attr_map = {}
        for k, v in attrs:
            if v is not None and k in ("class", "id"):
                attr_map[k] = v
        classid_full = " ".join(
            v for v in (attr_map.get("class", ""), attr_map.get("id", "")) if v
        )
        first_class = (attr_map.get("class", "") or attr_map.get("id", "")).split()
        self._flush()
        classid = first_class[0] if first_class else ""
        seg = tag + ("." + classid if classid else "")
        parent = self.stack[-1].path if self.stack else ""
        drop = tag in DROP_SUBTREE_TAGS
        neg = bool(classid_full) and bool(NEGATIVE_CLASS_RE.search(classid_full))
        pos = bool(classid_full) and bool(POSITIVE_CLASS_RE.search(classid_full))
        self.stack.append(
            _Frame(tag, parent + "/" + seg if parent else seg, drop, neg, pos)
        )
        self._drop_depth += drop
        self._neg_depth += neg
        self._pos_depth += pos

    def handle_startendtag(self, tag, attrs):
        if tag == "br":
            self._parts.append(" ")
        elif tag not in VOID_TAGS and tag not in RAW_SKIP_TAGS:
            self._inline_tags += 1

    def handle_endtag(self, tag):
        if tag in RAW_SKIP_TAGS:
            self.raw_skip_depth = max(0, self.raw_skip_depth - 1)
            return
        if tag == "head":
            self.in_head = max(0, self.in_head - 1)
            return
        if self.raw_skip_depth or self.in_head:
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
            return
        if tag in BLOCK_TAGS:
            self._flush()
            # tolerant unwind for malformed nesting (fixture family H7):
            # pop up to and including the nearest matching open tag; if no
            # matching tag is open, ignore the stray end tag.
            for i in range(len(self.stack) - 1, -1, -1):
                if self.stack[i].tag == tag:
                    for f in self.stack[i:]:
                        self._drop_depth -= f.drop
                        self._neg_depth -= f.neg
                        self._pos_depth -= f.pos
                    del self.stack[i:]
                    break

    def handle_data(self, data):
        if self.raw_skip_depth or self.in_head:
            return
        if not data:
            return
        self._parts.append(data)
        if self._anchor_depth:
            self._link_chars += len(canon_ws(data))

    def close(self):
        super().close()
        self._flush()


# ---------------------------------------------------------------------------
# Fast tokenizer: a single-pass transcription of stdlib html.parser's
# goahead()/parse_*() for the feed-once-then-close usage, driving the SAME
# handler callbacks with byte-identical semantics. Every HTML payload stage
# runs on it: extraction (_BlockParser), outlinks (links._LinkParser) and
# image captions (images._ImgParser). It reuses the stdlib's own compiled
# regexes (so tokenization boundaries are identical by construction) and
# drops what no handler uses: line/offset bookkeeping (updatepos was pure
# overhead), incremental-buffer suspend/resume (we always have the whole
# document; "incomplete at buffer end" constructs take stdlib's
# end-of-input path immediately), comment/decl/PI payload slicing (every
# handler is a no-op for them), and attribute collection for tags whose
# attrs the handler never reads (a handler names the tags it reads attrs
# of in its ATTR_TAGS; the attr REGEX loop still runs for every tag
# because the stdlib's where-does-this-tag-end decision depends on it).
# Identity to the stdlib-driven handlers is enforced by
# tests/test_differential.py (millions of fuzzed payloads via
# scripts/fuzz_tokenizer.py, all three handlers) and the golden corpus.
import _markupbase as _mb
import html.parser as _hp
from html import unescape as _unescape

_MARKED_KEYWORDS = {"temp", "cdata", "ignore", "include", "rcdata"}
_MS_KEYWORDS = {"if", "else", "endif"}
_LETTERS_EQ_SLASH = "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_CDATA_CLOSE_RE = {
    t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE)
    for t in ("script", "style")
}


def _assert_stdlib_transcription_assumptions() -> None:
    """The fast tokenizer transcribes CPython 3.11 html.parser internals;
    an interpreter upgrade that changes those internals (3.12.6 changed
    set_cdata_mode's close pattern and end-tag handling) would silently
    desynchronize the fast path from `extract_html_stdlib` — the fuzz
    oracle AND the golden regenerator. Fail LOUDLY at import instead."""
    import inspect as _inspect

    expected = {
        "tagfind_tolerant": r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*",
        "endtagfind": r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>",
        "commentclose": r"--\s*>",
    }
    for name in ("tagfind_tolerant", "endtagfind", "commentclose"):
        actual = getattr(_hp, name).pattern
        if actual != expected[name]:
            raise RuntimeError(
                f"stdlib html.parser.{name} pattern changed "
                f"({actual!r}); the fast tokenizer's transcription is no "
                "longer byte-equivalent — re-verify _fast_parse against "
                "this interpreter and re-run scripts/fuzz_tokenizer.py"
            )
    try:
        src = _inspect.getsource(_hp.HTMLParser.set_cdata_mode)
    except OSError as e:
        # interpreters shipping only .pyc / zipped stdlib have no source
        # to inspect; fall back to the version gate so import still gets
        # the explanatory diagnostic instead of a bare OSError (the
        # transcription was verified against CPython 3.11-line sources)
        import sys as _sys

        vi = _sys.version_info
        # 3.12.6 changed set_cdata_mode (STATE.md round-3 note), so a
        # source-less interpreter is trusted only on the ranges the
        # transcription was actually verified against
        if not (vi[:2] == (3, 11) or ((3, 12, 0) <= vi[:3] < (3, 12, 6))):
            raise RuntimeError(
                "stdlib html.parser source unavailable "
                f"({e}) and interpreter {vi[:3]} is outside the verified "
                "3.11 / <3.12.6 range — re-verify _fast_parse against "
                "this interpreter and re-run scripts/fuzz_tokenizer.py "
                "before trusting extraction"
            ) from e
        src = r"'</\s*%s\s*>'"  # verified line: assume the known pattern
    if r"'</\s*%s\s*>'" not in src:
        raise RuntimeError(
            "stdlib html.parser.set_cdata_mode no longer uses the "
            r"'</\s*name\s*>' close pattern _CDATA_CLOSE_RE mirrors "
            "(CPython >= 3.12.6 changed it) — re-verify _fast_parse and "
            "re-run scripts/fuzz_tokenizer.py before trusting extraction"
        )
    if _mb._markedsectionclose.pattern != r"]\s*]\s*>":
        raise RuntimeError(
            "_markupbase._markedsectionclose pattern changed — re-verify "
            "the marked-section arm of _fast_parse"
        )


_assert_stdlib_transcription_assumptions()


def _fast_parse(text: str, p: HTMLParser) -> None:  # noqa: C901
    """Drive ``p``'s ``handle_*`` callbacks over ``text`` exactly as
    stdlib ``HTMLParser.feed(text)`` then ``HTMLParser.close()`` would;
    ``p.ATTR_TAGS`` names the tags whose attribute values it reads."""
    n = len(text)
    i = 0
    attr_tags = p.ATTR_TAGS
    handle_data = p.handle_data
    handle_starttag = p.handle_starttag
    handle_endtag = p.handle_endtag
    find = text.find
    tagfind = _hp.tagfind_tolerant.match
    attrfind = _hp.attrfind_tolerant.match
    locatestart = _hp.locatestarttagend_tolerant.match
    endtagfind = _hp.endtagfind.match
    commentclose = _hp.commentclose.search
    declname = _mb._declname_match
    markedclose = _mb._markedsectionclose.search
    msclose = _mb._msmarkedsectionclose.search
    cdata_elem: str | None = None

    while i < n:
        # ---- text run up to the next markup --------------------------------
        if cdata_elem is None:
            j = find("<", i)
            if j < 0:
                j = n
            if i < j:
                d = text[i:j]
                handle_data(_unescape(d) if "&" in d else d)
            i = j
            if i == n:
                return
        else:
            m = _CDATA_CLOSE_RE[cdata_elem].search(text, i)
            if not m:
                return  # unterminated raw content: dropped (stdlib parity)
            j = m.start()
            if i < j:
                handle_data(text[i:j])  # raw — no charref conversion
            i = j

        # ---- markup dispatch at text[i] == '<' -----------------------------
        nc = text[i + 1 : i + 2]
        if ("a" <= nc <= "z") or ("A" <= nc <= "Z"):
            # start tag (stdlib parse_starttag + check_for_whole_start_tag)
            m = locatestart(text, i)
            j = m.end()
            nxt = text[j : j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/":
                endpos = j + 2 if text.startswith("/>", j) else -1
            elif nxt == "" or nxt in _LETTERS_EQ_SLASH:
                endpos = -1  # end of input inside the tag
            else:
                endpos = j if j > i else i + 1
            if endpos < 0:
                i = _emit_to_recovery(text, i, handle_data)
                continue
            m = tagfind(text, i + 1)
            k = m.end()
            tag = m.group(1).lower()
            attrs: list = []
            rest_txt = text[k:endpos]
            if rest_txt != ">" and rest_txt != "/>":
                # only now can the tag have attributes — run the stdlib
                # attr loop (its end-of-tag decision depends on it), but
                # collect values only for tags whose attrs the handler
                # reads
                collect = tag in attr_tags
                while k < endpos:
                    am = attrfind(text, k)
                    if not am:
                        break
                    if collect:
                        attrname, rest, attrvalue = am.group(1, 2, 3)
                        if not rest:
                            attrvalue = None
                        elif (
                            attrvalue[:1] == "'" == attrvalue[-1:]
                            or attrvalue[:1] == '"' == attrvalue[-1:]
                        ):
                            attrvalue = attrvalue[1:-1]
                        if attrvalue:
                            attrvalue = _unescape(attrvalue)
                        attrs.append((attrname.lower(), attrvalue))
                    k = am.end()
                rest_txt = text[k:endpos]
            end = rest_txt.strip()
            if end not in (">", "/>"):
                handle_data(text[i:endpos])  # stdlib: raw, not unescaped
            elif end == "/>":
                p.handle_startendtag(tag, attrs)
            else:
                handle_starttag(tag, attrs)
                if tag in ("script", "style"):
                    cdata_elem = tag
            i = endpos
        elif nc == "/":
            # end tag (stdlib parse_endtag)
            gt = find(">", i + 1)
            if gt < 0:
                i = _emit_to_recovery(text, i, handle_data)
                continue
            gtpos = gt + 1
            m = endtagfind(text, i)
            if not m:
                if cdata_elem is not None:
                    handle_data(text[i:gtpos])
                    i = gtpos
                    continue
                nm = tagfind(text, i + 2)
                if not nm:
                    # '</>' consumed silently, else bogus comment to '>'
                    i = i + 3 if text[i : i + 3] == "</>" else gtpos
                    continue
                handle_endtag(nm.group(1).lower())
                i = find(">", nm.end()) + 1
            else:
                elem = m.group(1).lower()
                if cdata_elem is not None and elem != cdata_elem:
                    handle_data(text[i:gtpos])
                    i = gtpos
                    continue
                handle_endtag(elem)
                cdata_elem = None
                i = gtpos
        elif text.startswith("<!--", i):
            m = commentclose(text, i + 4)
            if not m:
                i = _emit_to_recovery(text, i, handle_data)
                continue
            i = m.end()
        elif nc == "?":
            pos = find(">", i + 2)
            if pos < 0:
                i = _emit_to_recovery(text, i, handle_data)
                continue
            i = pos + 1
        elif nc == "!":
            if text.startswith("<![", i):
                # stdlib _markupbase.parse_marked_section (+ _scan_name)
                j2 = -1
                if i + 3 < n:
                    sm = declname(text, i + 3)
                    if sm:
                        s = sm.group()
                        if i + 3 + len(s) < n:
                            name = s.strip().lower()
                            j2 = sm.end()
                    else:
                        raise AssertionError(
                            "expected name token at %r" % text[i : i + 20]
                        )
                if j2 < 0:
                    i = _emit_to_recovery(text, i, handle_data)
                    continue
                if name in _MARKED_KEYWORDS:
                    mm = markedclose(text, i + 3)
                elif name in _MS_KEYWORDS:
                    mm = msclose(text, i + 3)
                else:
                    raise AssertionError(
                        "unknown status keyword %r in marked section"
                        % text[i + 3 : j2]
                    )
                if not mm:
                    i = _emit_to_recovery(text, i, handle_data)
                    continue
                i = mm.end()
            elif text[i : i + 9].lower() == "<!doctype":
                gt = find(">", i + 9)
                if gt < 0:
                    i = _emit_to_recovery(text, i, handle_data)
                    continue
                i = gt + 1
            else:
                # bogus comment ('<!' + anything): to the next '>'
                pos = find(">", i + 2)
                if pos < 0:
                    i = _emit_to_recovery(text, i, handle_data)
                    continue
                i = pos + 1
        elif i + 1 < n:
            handle_data("<")
            i += 1
        else:
            handle_data("<")  # trailing lone '<' (stdlib end-of-input emit)
            return


def _emit_to_recovery(text: str, i: int, handle_data) -> int:
    """Stdlib goahead's end-of-input rule for a construct that never
    terminates: emit everything up to (and including) the next '>' — else
    up to the next '<', else one char — as (unescaped) data, and resume
    parsing there."""
    k = text.find(">", i + 1)
    if k < 0:
        k = text.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    d = text[i:k]
    handle_data(_unescape(d) if "&" in d else d)
    return k


def extract_html(payload: bytes) -> ExtractResult:
    """Extract main content from HTML bytes. Never raises on well-typed
    input; a catastrophic parser failure is caught by the dispatcher."""
    text = detect_and_decode(payload)
    parser = _BlockParser()
    _fast_parse(text, parser)
    parser._flush()
    return _score_blocks(parser)


def extract_html_stdlib(payload: bytes) -> ExtractResult:
    """The stdlib-html.parser-driven reference path. Semantically
    identical to :func:`extract_html` (the fast tokenizer is a
    transcription of this parser); kept as the differential-fuzz oracle —
    scripts/fuzz_tokenizer.py compares the two over millions of
    payloads."""
    text = detect_and_decode(payload)
    parser = _BlockParser()
    parser.feed(text)
    parser.close()
    return _score_blocks(parser)


def _score_blocks(parser: _BlockParser) -> ExtractResult:
    blocks: list[Block] = []
    kept_texts: list[str] = []
    all_texts: list[str] = []
    for i, b in enumerate(parser.blocks):
        n = len(b["text"])
        link_density = (b["link_chars"] / b["raw_chars"]) if b["raw_chars"] else 0.0
        text_density = n / (1.0 + b["inline_tags"])
        if b["heading"]:
            kept = (
                n >= MIN_HEADING_CHARS
                and link_density <= MAX_HEADING_LINK_DENSITY
                and not b["dropped_subtree"]
                and not (b["neg"] and not b["pos"])
            )
        else:
            kept = (
                n >= MIN_BLOCK_CHARS
                and link_density <= MAX_LINK_DENSITY
                and text_density >= MIN_TEXT_DENSITY
                and not b["dropped_subtree"]
                and not (b["neg"] and not b["pos"])
            )
        blocks.append(
            Block(
                idx=i,
                tag_path=b["tag_path"],
                text=b["text"],
                text_density=round(text_density, 6),
                link_density=round(link_density, 6),
                kept=kept,
            )
        )
        all_texts.append(b["text"])
        if kept:
            kept_texts.append(b["text"])

    if kept_texts:
        out = "\n".join(kept_texts)
    else:
        # O9 fallback-chain semantic: primary kept nothing → whole-body text.
        out = "\n".join(all_texts)
    return ExtractResult(doc_type="html", text=out, blocks=blocks)
