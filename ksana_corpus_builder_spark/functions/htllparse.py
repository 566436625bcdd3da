"""HTLL (hypertext label language) lexer (P3) — reference-faithful.

Semantics derived from /root/reference/parsehtll.js, htll/tags.js,
htll/handlers.js:

- first-char dispatch: ``~`` pb, ``%`` ptr, ``/`` p are INLINE tags
  (consume ``[0-9A-Za-z._-]*`` after the sigil); ``#`` head and ``^``
  article are LINE tags (consume to end of line, newline eaten).
- ``~pb``: page from ``\\d+\\.(\\d+)([abcd]?)`` (book part ignored) or
  ``(\\d+)([abcd]?)``; with a column-count configured, the a-d column
  letter sub-divides pages (parseInt(col, 36) - 10, handlers.js:51-55);
  page number 1 starts a new book (pagenumber==0, handlers.js:58-60);
  one newline following the tag is eaten (removecrlf, parsehtll.js:70).
- newline tokens advance lines exactly like the pre format but WITHOUT
  the fresh-page leading-newline skip (parsehtll.js:27-35).
- ``#head``: optional leading integer = toc depth, rest is the title
  (handlers.js:17-25); ``^name`` article, ``^^name`` group
  (handlers.js:26-33); ``%ptr`` is accepted and ignored (no TT_PTR
  branch in addTag); ``/p`` records an empty 'p' article field.
- malformed ``~pb`` numbers are reported, text flow continues
  (handlers.js:40-45).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .preparse import _MAXPAGE, _State

_LONG_PB = re.compile(r"\d+\.(\d+)([abcd]?)")
_SHORT_PB = re.compile(r"(\d+)([abcd]?)")
_INLINE_BODY = re.compile(r"[0-9A-Za-z._-]*")
_SIGILS = {"~": "pb", "#": "head", "%": "ptr", "^": "article", "/": "p"}
_LINE_SIGILS = {"#", "^"}


@dataclass
class HtllParsed:
    texts: list[list[list[str]]] = field(default_factory=list)
    articles: list[tuple[str, int]] = field(default_factory=list)
    groups: list[tuple[str, int]] = field(default_factory=list)
    heads: list[tuple[int | None, str, int]] = field(default_factory=list)
    n_p_fields: int = 0
    errors: list[str] = field(default_factory=list)


def parse_htll(content: str, columns: int | None = None) -> HtllParsed:
    content = content.lstrip("﻿")
    content = re.sub(r"\r\n?", "\n", content)

    st = _State(skip_leading_nl=False)  # parsehtll.js:27-35
    out = HtllParsed()
    st.out.texts = out.texts  # share the texts store

    def handle_pb(body: str) -> bool:
        m = _LONG_PB.match(body) or _SHORT_PB.match(body)
        if not m:
            out.errors.append(f"wrong pb {body}")
            return False
        pagenumber = int(m.group(1)) - 1
        if columns:
            col = m.group(2) or "a"
            pagenumber = pagenumber * columns + (int(col, 36) - 10)
        if not 0 <= pagenumber < _MAXPAGE:
            out.errors.append(f"wrong pb {body}")
            return False
        if pagenumber == 0:
            st.add_book()
        st.pb = pagenumber + 1
        st.pbline = 0
        st.new_line(st.pb - 1, 0)
        return True  # eat one following newline

    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c not in _SIGILS:
            # accumulate text up to the next sigil or EOF
            j = i
            while j < n and content[j] not in _SIGILS:
                j += 1
            st.add_text(content[i:j])
            i = j
            continue
        if c in _LINE_SIGILS:
            j = content.find("\n", i)
            if j == -1:
                j = n
            tag = content[i:j]
            i = j + 1 if j < n else n  # newline eaten (parsehtll.js:60)
            if c == "#":
                head = tag[1:]
                dm = re.match(r"(\d+)", head)
                if dm:
                    depth = int(dm.group(1))
                    text = head[len(dm.group(1)):].strip()
                else:
                    depth, text = None, head
                out.heads.append((depth, text, st.kpos))
            else:  # ^article or ^^group
                name = tag[1:]
                if name.startswith("^"):
                    out.groups.append((name[1:], st.kpos))
                else:
                    out.articles.append((name, st.kpos))
            continue
        # inline tag: sigil + [0-9A-Za-z._-]*
        m = _INLINE_BODY.match(content, i + 1)
        body = m.group(0)
        i = m.end()
        if c == "~":
            if handle_pb(body) and i < n and content[i] == "\n":
                i += 1  # crlf after pb is ignored (parsehtll.js:70)
        elif c == "/":
            out.n_p_fields += 1
        # '%' ptr: accepted, ignored (no TT_PTR branch in addTag)

    st.emit_line()
    for book in out.texts:
        for page in book:
            while len(page) > 1 and page[-1].strip() == "":
                page.pop()
    out.errors.extend(st.out.errors)
    return out
