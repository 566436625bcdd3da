"""Pre-format (accelon 2017) markup parser — reference-faithful, from
scratch.

Reproduces the reference's parse semantics exactly as derived from source
(all citations into /root/reference):

- pb handler: page from ``n``; page 1 starts a new book; position set to
  (book, page-1, line 0, ch 0); page-gap logged (format.js:1-22).
- newline tokens drive lines (parsepre.js:48-61): the first newline on a
  fresh page with no pending chars is skipped; otherwise the pending line
  is emitted at the CURRENT line start and the position moves to
  (_pbline + 1); consecutive newlines with empty buffers emit nothing, so
  trailing blanks before the next pb are dropped.
- char positions count CONCRETE tokens, not characters (index.js:177-186:
  LineKCount++ once per PUNC/LATIN/NUMBER/CJK token; SPACE excluded).
- emitLine strips leading/trailing newlines from the joined token text
  (makeLine, index.js:229-234); putLine gap-fills missing earlier lines
  and pages with a single space " " (romable.js:100-125); a page's
  trailing blank lines are popped at finalize, keeping >= 1 line
  (romable.js:131-148).
- <article>: caption = tag-stripped inner markup; a "rend"="article"
  range is recorded when it covers >= 1 token (format.js:24-36).
- rendClass tags (e.g. <kai>): on close, "rend"=tagname recorded with
  makeRange(kpos_at_open, kPos_at_close) — END EXCLUSIVE
  (parsepre.js:113-122).
- malformed markup (e.g. ``<b></c>``) is dropped from text and reported
  once (onerror.js:27-31); stray text starting "<" never reaches the
  token stream (parsepre.js:64-67).

Golden gate: tests/test_preparse.py asserts the reference's own test
facts (test-parsepre.js:8-14) on the reference fixture file.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .. import codec
from ..tokenizer import SPACE, _GROUP_TYPE

# tag names may be CJK (accelon3 頁/段/註/釋 — parseaccelon3.js:11-13)
_TAG_RE = re.compile(
    r"<(/?)([A-Za-z\u4e00-\u9fff][\w\u4e00-\u9fff]*)"
    r"((?:\s+[\w:.-]+=\"[^\"]*\")*)\s*(/?)>")
_ATTR_RE = re.compile(r"([\w:.-]+)=\"([^\"]*)\"")

_MAXCHAR = codec.DEFAULT_PATTERN.maxchar
# page numbers are 1-based; page N is stored at address page N-1
_MAXPAGE = 1 << codec.DEFAULT_PATTERN.pagebits
_MAXLINE = 1 << codec.DEFAULT_PATTERN.linebits

# newline must be its own token (the reference tokenizer emits lone "\n"
# tokens — emittext compares token text to "\n", parsepre.js:50)
_PRE_TOKEN_RE = re.compile(
    r"(?P<nl>\n)"
    r"|(?P<space>[^\S\n]+)"
    r"|(?P<number>[0-9]+)"
    r"|(?P<latin>[A-Za-zÀ-ɏḀ-ỿ']+)"
    r"|(?P<cjk>[一-鿿])"
    r"|(?P<punc>.)",
)


@dataclass
class PreParsed:
    texts: list[list[list[str]]] = field(default_factory=list)   # [book][page][line]
    articles: list[tuple[str, int]] = field(default_factory=list)  # (caption, kpos)
    rend: list[tuple[str, int, int]] = field(default_factory=list)  # (value, start, end)
    errors: list[str] = field(default_factory=list)
    disorder_pages: list[int] = field(default_factory=list)  # randomPage mode


class _State:
    def __init__(self, rend_class: tuple[str, ...] = (),
                 skip_leading_nl: bool = True, random_page: bool = False):
        # pre format skips the first newline of a fresh page
        # (parsepre.js:52); htll does not (parsehtll.js:27-35).
        # random_page: out-of-order pages are COLLECTED (disorderPages,
        # reference index.js:256-261 opts.randomPage), not errors.
        self.skip_leading_nl = skip_leading_nl
        self.random_page = random_page
        self.rend_class = set(rend_class)
        self.book = 0
        self.pb = None
        self.pbline = 0
        self.prevpage = 0
        self.line_start = (1, 0, 0)   # (book, page, line) — reference init
        self.kcount = 0
        self.linetokens: list[str] = []
        self.out = PreParsed()
        self.tagstack: list[tuple[str, int]] = []  # (name, kpos_at_open)

    # kPos == LineKStart + LineKCount (index.js:413). pack() is linear in
    # the char component, so the per-line base is computed once per line
    # and kcount added on top (the property fires on EVERY tag open).
    _base_key: tuple[int, int, int] | None = None
    _base: int = 0

    @property
    def kpos(self) -> int:
        ls = self.line_start
        if ls != self._base_key:
            b, p, ln = ls
            self._base = codec.pack(max(b, 1), p, ln, 0)
            self._base_key = ls
        assert self.kcount <= _MAXCHAR
        return self._base + self.kcount

    def put_line(self, line: str) -> None:
        b, p, ln = self.line_start
        bk = max(b, 1) - 1
        texts = self.out.texts
        while len(texts) <= bk:
            texts.append([])
        book = texts[bk]
        while len(book) <= p:
            book.append([])
        # gap-fill EARLIER empty pages with one pseudo line (romable.js:106-110)
        for pg in range(p):
            if not book[pg]:
                book[pg] = [" "]
        page = book[p]
        if not line and ln == 0:
            line = " "  # first line cannot be empty (romable.js:112)
        while len(page) < ln:
            page.append(" ")  # gap-fill missing earlier lines
        if len(page) == ln:
            page.append(line)
        else:
            page[ln] = line

    def emit_line(self) -> None:
        if not self.linetokens:
            return
        s = "".join(self.linetokens)
        s = s.strip("\n")  # makeLine (index.js:229-234)
        self.put_line(s)
        self.linetokens = []

    def new_line(self, page: int, line: int) -> None:
        self.emit_line()
        self.line_start = (max(self.book, 1), page, line)
        self.kcount = 0

    def add_book(self) -> None:
        self.emit_line()
        self.book += 1

    def add_text(self, text: str) -> None:
        for m in _PRE_TOKEN_RE.finditer(text):
            kind = m.lastgroup
            tok = m.group(0)
            if kind == "nl":
                if self.pb is None:
                    continue  # newlines before the first pb are inert
                if (self.skip_leading_nl and self.kcount == 0
                        and self.pbline == 0):
                    continue  # skip leading newline on a fresh page
                self.new_line(self.pb - 1, self.pbline + 1)
                self.pbline += 1
                continue
            self.linetokens.append(tok)
            if _GROUP_TYPE[kind] != SPACE:
                self.kcount += 1  # concrete token advances one char slot


def _handle_pb(st: _State, attrs: dict[str, str]) -> None:
    n = attrs.get("id") or attrs.get("n")
    if not n:
        return
    parts = re.split(r"[.p]", n)
    try:
        page = int(parts[1] if len(parts) == 2 else parts[0])
    except ValueError:
        page = 0
    if not 0 < page <= _MAXPAGE:
        st.out.errors.append(f"wrong page number {n}")
        return
    if page == 1:
        st.add_book()
    elif page != st.prevpage + 1:
        if st.random_page:
            st.out.disorder_pages.append(page)
        else:
            st.out.errors.append(f"wrong page number {page}, prev:{st.prevpage}")
    st.pb = page
    st.pbline = 0
    st.line_start = (max(st.book, 1), page - 1, 0)
    st.kcount = 0
    st.prevpage = page


def parse_pre(content: str, rend_class: tuple[str, ...] = (),
              random_page: bool = False) -> PreParsed:
    """One document through the full pre-format pipeline (normalize ->
    markup walk -> token/line/position bookkeeping -> finalize)."""
    # BOM + CRLF normalize + trim (parsexml.js:86-93 / parsepre.js:186-194)
    content = content.lstrip("﻿")
    content = re.sub(r"\r\n?", "\n", content).strip()

    st = _State(tuple(rend_class), random_page=random_page)
    pos = 0
    for m in _TAG_RE.finditer(content):
        if m.start() > pos:
            st.add_text(content[pos:m.start()])
        pos = m.end()
        closing, name, attr_s, selfclose = m.groups()
        attrs = dict(_ATTR_RE.findall(attr_s or ""))
        if name == "pb":
            _handle_pb(st, attrs)
        elif not closing:
            if not selfclose:
                st.tagstack.append((name, st.kpos))
        else:
            if not st.tagstack or st.tagstack[-1][0] != name:
                st.out.errors.append(f"mismatched </{name}>")
                if any(t[0] == name for t in st.tagstack):
                    while st.tagstack and st.tagstack[-1][0] != name:
                        st.tagstack.pop()
                    st.tagstack.pop()
                continue
            _, kpos_open = st.tagstack.pop()
            if name == "article":
                caption = _article_caption(content, m.start(), name)
                st.out.articles.append((caption, kpos_open))
                if st.kpos > kpos_open:
                    st.out.rend.append(("article", kpos_open, st.kpos))
            if name in st.rend_class:
                st.out.rend.append((name, kpos_open, st.kpos))
    if pos < len(content):
        st.add_text(content[pos:])
    st.emit_line()  # stop() flush (index.js:283-287)

    # finalizeTexts: pop trailing blank lines, keep >= 1 (romable.js:131-148)
    for book in st.out.texts:
        for page in book:
            while len(page) > 1 and page[-1].strip() == "":
                page.pop()
    st.out.rend.sort(key=lambda r: (r[1], r[2]))
    return st.out


def _article_caption(content: str, close_pos: int, name: str) -> str:
    open_m = None
    for m in re.finditer(rf"<{name}(?:\s[^>]*)?>", content[:close_pos]):
        open_m = m
    if open_m is None:
        return ""
    inner = content[open_m.end():close_pos]
    return re.sub(r"<.+?>", "", inner)
