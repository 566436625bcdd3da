"""TEI/xml markup parser (P2) — reference-faithful, from scratch.

Semantics derived from /root/reference source:

- text newlines are REMOVED before tokenizing (parsexml.js:27-31): lines
  come ONLY from ``<lb n="page.line"/>`` markers (handlers.js:15-56).
- lb: page 1 with a new page string starts a new book; otherwise a line
  jump > 1 is a gap warning (handlers.js:35-42); the pending line is
  emitted and the position becomes (book, page-1, line-1, ch 0)
  (handlers.js:44-50); lb is IGNORED while inside a captured element
  (parsexml.js:41-43).
- ``captured`` suppression: an open-handler returning true captures —
  text nodes are dropped until the matching close (parsexml.js:32-34);
  the test's custom ``note`` handler records the raw inner markup as an
  article field (test-parsexml.js:5-12).
- div/head: div tracks depth; a head closing at depth 1 with
  ``topDIVAsArticle`` becomes an article; every head yields a toc entry
  (depth, sic/orig- and tag-stripped text, kpos) (handlers.js:58-99).
- ``applyRend``: a closing tag carrying a ``rend`` attribute spanning
  >= 1 token records a rend range (parsexml.js:70-72).
- <pb> has NO handler in the xml format (parsexml.js:7-10): page
  addressing is entirely lb-driven.
- newLine monotonicity: a smaller kpos than the previous line start is
  an error (index.js:251-268).

Golden gate: tests/test_teiparse.py checks facts derived from the
reference's tei1.xml fixture (its test prints texts with no asserts;
the expected values below follow mechanically from the rules above).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .preparse import (_ATTR_RE, _MAXCHAR, _MAXLINE, _MAXPAGE,
                       _PRE_TOKEN_RE, _TAG_RE)
from ..tokenizer import SPACE, _GROUP_TYPE
from .. import codec

_PI_RE = re.compile(r"<\?.*?\?>|<!DOCTYPE[^>]*>", re.DOTALL)
_SIC_ORIG_RE = re.compile(r"<orig>.*?</orig>|<sic>.*?</sic>", re.DOTALL)
_ANY_TAG_RE = re.compile(r"<.+?>", re.DOTALL)


@dataclass
class TeiParsed:
    texts: list[list[list[str]]] = field(default_factory=list)
    articles: list[tuple[str, int]] = field(default_factory=list)
    heads: list[tuple[int, str, int]] = field(default_factory=list)  # depth,text,kpos
    notes: list[tuple[str, str]] = field(default_factory=list)       # tag, inner
    rend: list[tuple[str, int, int]] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)


class _TeiState:
    def __init__(self) -> None:
        self.book = 0
        self.pb: str | None = None
        self.pbline = 0
        self.line_start = (1, 0, 0)
        self.prev_line_kpos = codec.pack(1, 0, 0, 0)
        self.kcount = 0
        self.linetokens: list[str] = []
        self.divdepth = 0
        self.captured = 0
        self.out = TeiParsed()

    # same per-line base caching as preparse._State.kpos (pack is linear)
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
        for pg in range(p):
            if not book[pg]:
                book[pg] = [" "]
        page = book[p]
        if not line and ln == 0:
            line = " "
        while len(page) < ln:
            page.append(" ")
        if len(page) == ln:
            page.append(line)
        else:
            page[ln] = line

    def emit_line(self) -> None:
        if not self.linetokens:
            return
        s = "".join(self.linetokens).strip("\n")
        self.put_line(s)
        self.linetokens = []

    def add_text(self, text: str) -> None:
        if self.captured:
            return
        text = text.replace("\n", "")  # parsexml.js:28 — lb drives lines
        for m in _PRE_TOKEN_RE.finditer(text):
            tok = m.group(0)
            self.linetokens.append(tok)
            if _GROUP_TYPE[m.lastgroup] != SPACE:
                self.kcount += 1

    def handle_lb(self, attrs: dict[str, str]) -> None:
        n = attrs.get("n")
        if not n or "." not in n:
            return
        str_page, str_line = n.split(".", 1)
        try:
            try:
                page = int(str_page)
            except ValueError:
                page = int(str_page[1:])
            line = int(str_line)
        except ValueError:
            self.out.errors.append(f"wrong line number n={n}")
            return
        if page < 1:
            self.out.errors.append(f"negative page number n={n}")
            return
        if page > _MAXPAGE or not 0 < line <= _MAXLINE:
            self.out.errors.append(f"line number out of range n={n}")
            return
        self.emit_line()
        if self.pb != str_page and page == 1:
            self.book += 1
        elif line != 1 and line - self.pbline > 1:
            self.out.errors.append(
                f"Gap at page {page} line {line}, previous line {self.pbline}")
        if self.book:
            kpos = codec.pack(self.book, page - 1, line - 1, 0)
            if self.prev_line_kpos > kpos:
                self.out.errors.append(
                    f"line kpos must be larger than previous ({n})")
            else:
                self.line_start = (self.book, page - 1, line - 1)
                self.kcount = 0
                self.prev_line_kpos = kpos
        self.pb = str_page
        self.pbline = line


def parse_tei(content: str, capture_tags: tuple[str, ...] = ("note",),
              top_div_as_article: bool = True,
              apply_rend: bool = False) -> TeiParsed:
    content = content.lstrip("﻿")
    content = re.sub(r"\r\n?", "\n", content).strip()
    content = _PI_RE.sub("", content)

    st = _TeiState()
    caps = set(capture_tags)
    stack: list[tuple[str, int, int, dict]] = []  # (name, kpos_open, inner_start, open_attrs)
    pos = 0
    for m in _TAG_RE.finditer(content):
        if m.start() > pos:
            st.add_text(content[pos:m.start()])
        pos = m.end()
        closing, name, attr_s, selfclose = m.groups()
        if st.captured and name == "lb":
            continue  # parsexml.js:41-43
        attrs = dict(_ATTR_RE.findall(attr_s or ""))
        if name == "lb":
            st.handle_lb(attrs)
            continue
        if not closing:
            if name == "div":
                st.divdepth += 1
            if not selfclose:
                stack.append((name, st.kpos, m.end(), attrs))
                if name in caps:
                    st.captured += 1
            continue
        if not stack or stack[-1][0] != name:
            st.out.errors.append(f"mismatched </{name}>")
            continue
        _, kpos_open, inner_start, open_attrs = stack.pop()
        inner = content[inner_start:m.start()]
        # rend comes from the OPEN tag's attributes (parsexml.js:70-72)
        if apply_rend and open_attrs.get("rend") and kpos_open < st.kpos:
            st.out.rend.append((open_attrs["rend"], kpos_open, st.kpos))
        if name in caps:
            st.captured -= 1
            st.out.notes.append((name, inner))
        elif name == "div":
            st.divdepth -= 1
        elif name == "head":
            text = _ANY_TAG_RE.sub("", _SIC_ORIG_RE.sub("", inner))
            if st.divdepth == 1 and top_div_as_article:
                st.out.articles.append((text, kpos_open))
            st.out.heads.append((st.divdepth, text, kpos_open))
    if pos < len(content):
        st.add_text(content[pos:])
    st.emit_line()

    for book in st.out.texts:
        for page in book:
            while len(page) > 1 and page[-1].strip() == "":
                page.pop()
    return st.out
