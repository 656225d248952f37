"""Scalar reference implementation of the reference engine's HTML→text extraction.

This module reproduces, in pure Python, the per-row invariant of the reference
(`/root/reference/ImportPipeline/Html/HtmlProcessor.cs`):

- ``quess_is_html``        → ``HtmlProcessor.QuessIsHtml``   (HtmlProcessor.cs:160-182)
- ``extract_text``         → ``new HtmlProcessor(html).GetText()``
                             (ctor HtmlProcessor.cs:79-102; walk 274-339)
- ``get_abstract_from_text`` → ``HtmlProcessor.GetAbstractFromText``
                             (HtmlProcessor.cs:222-265)

The algorithm (GetText, HtmlProcessor.cs:274-339):
  * depth-first walk of the <body> subtree (whole document if no <body>);
  * text nodes are HTML-entity-decoded then appended; while output is still
    empty, leading ``' ' \\t \\r \\n`` are trimmed;
  * comments are skipped;
  * tags are classed Inline / Block / Unwanted via fixed tables
    (HtmlProcessor.cs:446-460); Unwanted subtrees (style script noscript
    object) are dropped entirely; at every non-inline tag boundary a single
    ``' '`` is appended only when the last output char is not already ``' '``
    (optAppendBlank, HtmlProcessor.cs:305-309); childless elements append at
    most the opening blank (HtmlProcessor.cs:296);
  * the result is right-trimmed of ``' ' \\r \\n \\t`` and None when empty.

Constructor-side preprocessing reproduced (HtmlProcessor.cs:79-102): when the
document has a <head> element (direct child of the <html> ancestor of <body>),
whitespace-only text nodes (chars 0xA0, ' ', \\r, \\n, \\t — onlyWhiteSpace,
HtmlProcessor.cs:370-396) are removed document-wide, and duplicated
``div.email-entry`` children of <body> are undupped keeping the one with the
most descendant nodes (undupMailNodes, HtmlProcessor.cs:126-158).

The HTML parser is intentionally small: a stack DOM built on
``html.parser.HTMLParser`` with raw (undecoded) coalesced text nodes so that
entity decoding happens exactly once at append time, mirroring
``HttpUtility.HtmlDecode(node.InnerText)`` (HtmlProcessor.cs:279). Inputs are
the engine's own deterministic corpus (well-formed HTML), so no browser-grade
error recovery is needed.
"""

from __future__ import annotations

import html as _htmlmod
import re
import sys

from html.parser import HTMLParser
from typing import List, Optional

TRIMCHARS = " \t\r\n"
_WS_ONLY = set(" \r\n\t\xa0")

# Tag tables — verbatim from HtmlProcessor.cs:446-460.
INLINE_TAGS = frozenset(
    "b big i small tt abbr acronym cite code dfn em kbd strong samp var "
    "a bdo br img map q script span sub sup "
    "button input label select textarea".split()
)
BLOCK_TAGS = frozenset(
    "address article aside blockquote canvas dd div dl fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main nav "
    "ol output p pre section table tfoot ul video".split()
)
UNWANTED_TAGS = frozenset("style script noscript object".split())

# HTML5 void elements — they never take children.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


def quess_is_html(html: Optional[str]) -> bool:
    """Port of HtmlProcessor.QuessIsHtml (HtmlProcessor.cs:160-182)."""
    if not html:
        return False
    tags = 0
    for i, ch in enumerate(html):
        if ch == "<":
            tags += 1
        elif ch == ">":
            tags += 1
            if i > 2 and html[i - 1] == "/":
                tags += 2
        else:
            if i > 1000:
                return False
            continue
        if tags >= 8:
            return True
    return False


class _Elem:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag, attrs, parent):
        self.tag = tag
        self.attrs = attrs
        self.children: List[object] = []
        self.parent = parent


class _Text:
    __slots__ = ("raw", "parent")

    def __init__(self, raw, parent):
        self.raw = raw
        self.parent = parent


class _Comment:
    __slots__ = ("parent",)

    def __init__(self, parent):
        self.parent = parent


class _DomBuilder(HTMLParser):
    """Minimal DOM: elements, coalesced raw text nodes, comments."""

    def __init__(self):
        # convert_charrefs=False: keep entities raw in text nodes so decode
        # happens once at append time (HtmlDecode semantics).
        super().__init__(convert_charrefs=False)
        self.root = _Elem(None, {}, None)
        self._stack = [self.root]
        self._buf: List[str] = []

    def _flush(self):
        if self._buf:
            parent = self._stack[-1]
            parent.children.append(_Text("".join(self._buf), parent))
            self._buf = []

    def handle_starttag(self, tag, attrs):
        self._flush()
        parent = self._stack[-1]
        node = _Elem(tag, dict(attrs), parent)
        parent.children.append(node)
        if tag not in _VOID:
            self._stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self._flush()
        parent = self._stack[-1]
        parent.children.append(_Elem(tag, dict(attrs), parent))

    def handle_endtag(self, tag):
        self._flush()
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return
        # stray end tag: ignored (lenient, like HtmlAgilityPack)

    def handle_data(self, data):
        if data:
            self._buf.append(data)

    def handle_entityref(self, name):
        self._buf.append(f"&{name};")

    def handle_charref(self, name):
        self._buf.append(f"&#{name};")

    def handle_comment(self, data):
        self._flush()
        parent = self._stack[-1]
        parent.children.append(_Comment(parent))

    def close(self):
        super().close()
        self._flush()


def _parse_html_stdlib(html: str) -> _Elem:
    p = _DomBuilder()
    p.feed(html)
    p.close()
    return p.root


class _FastUnsupported(Exception):
    """Input outside the fast parser's strict subset → stdlib fallback."""


_TAG_GRAMMAR = re.compile(
    r"[a-zA-Z][^\s/>]*"
    r"(\s+[^\s=/>]+(\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?)*\s*/?\Z"
)
_ATTR_RE = re.compile(
    r"\s*([^\s=/>]+)(\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)
_NAME_RE = re.compile(r"[a-zA-Z][^\s/>]*")
_RAW_CONTENT = ("script", "style")  # html.parser CDATA_CONTENT_ELEMENTS


def _fast_parse(html: str) -> _Elem:
    """Single-pass scanner for well-formed-ish HTML — DOM-identical to
    ``_DomBuilder`` on its supported subset (differential-tested); raises
    ``_FastUnsupported`` on anything ambiguous so the caller falls back.
    ~2-3× faster than html.parser, which is the extraction hot path."""
    root = _Elem(None, {}, None)
    stack = [root]
    buf: List[str] = []
    i, n = 0, len(html)

    def flush():
        if buf:
            parent = stack[-1]
            parent.children.append(_Text("".join(buf), parent))
            buf.clear()

    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            buf.append(html[i:])
            break
        if lt > i:
            buf.append(html[i:lt])
        if html.startswith("<!--", lt):
            end = html.find("-->", lt + 4)
            if end < 0:
                raise _FastUnsupported
            flush()
            parent = stack[-1]
            parent.children.append(_Comment(parent))
            i = end + 3
            continue
        nxt = html[lt + 1] if lt + 1 < n else ""
        if nxt == "/":
            gt = html.find(">", lt + 2)
            if gt < 0:
                raise _FastUnsupported
            name = html[lt + 2:gt].strip().lower()
            if not _NAME_RE.fullmatch(name):
                raise _FastUnsupported
            flush()
            for j in range(len(stack) - 1, 0, -1):
                if stack[j].tag == name:
                    del stack[j:]
                    break
            i = gt + 1
            continue
        if nxt in "!?":
            # doctype / declaration / PI: skipped, and (like html.parser's
            # un-overridden handle_decl) does NOT split the text buffer
            gt = html.find(">", lt + 1)
            if gt < 0:
                raise _FastUnsupported
            i = gt + 1
            continue
        if not nxt.isalpha():
            raise _FastUnsupported
        gt = html.find(">", lt)
        if gt < 0:
            raise _FastUnsupported
        seg = html[lt + 1:gt]
        if seg.isascii() and seg.isalnum():
            # attribute-less tag (<p>, <div>, <h1> …) — the common case by
            # far; seg[0] is alpha (checked above), so this is exactly the
            # grammar's bare-name production with no attrs and no slash
            name = seg.lower()
            attrs = {}
            selfclose = False
        else:
            if not _TAG_GRAMMAR.fullmatch(seg):
                # quoted '>' inside attr values breaks the grammar → fallback
                raise _FastUnsupported
            selfclose = seg.endswith("/")
            if selfclose:
                seg = seg[:-1]
            m = _NAME_RE.match(seg)
            name = m.group(0).lower()
            rest = seg[m.end():]
            attrs = {}
            if rest and not rest.isspace():
                for am in _ATTR_RE.finditer(rest):
                    if not am.group(1):
                        continue
                    k = am.group(1).lower()
                    v = am.group(3)
                    if v is not None:
                        if v[:1] in "\"'":
                            v = v[1:-1]
                        if "&" in v:
                            v = _htmlmod.unescape(v)
                    attrs[k] = v
        if buf:
            flush()
        parent = stack[-1]
        node = _Elem(name, attrs, parent)
        parent.children.append(node)
        i = gt + 1
        if selfclose or name in _VOID:
            continue
        if name in _RAW_CONTENT:
            # html.parser only leaves CDATA mode on an END TAG whose name is
            # exactly the raw element ('</scriptx>' stays data); accept only
            # the exact well-formed close and bail on near-misses
            close_re = re.compile(r"</\s*" + name + r"\s*>", re.IGNORECASE)
            near_re = re.compile(r"</\s*" + name, re.IGNORECASE)
            m2 = close_re.search(html, i)
            if not m2:
                raise _FastUnsupported
            mnear = near_re.search(html, i)
            if mnear and mnear.start() != m2.start():
                # a '</script…' that is not the exact close tag → the stdlib
                # parser would treat it as data; outside the fast subset
                raise _FastUnsupported
            raw = html[i:m2.start()]
            if raw:
                node.children.append(_Text(raw, node))
            i = m2.end()
            continue
        stack.append(node)
    flush()
    return root


def parse_html(html: str) -> _Elem:
    # the DOM walk is recursive; pathological real-world pages nest deeply.
    # Raised here (not at import) so importing the module has no interpreter-
    # wide side effect; parse entry is the only path that recurses.
    if sys.getrecursionlimit() < 20000:
        sys.setrecursionlimit(20000)
    try:
        return _fast_parse(html)
    except _FastUnsupported:
        return _parse_html_stdlib(html)


def _find_first(node: _Elem, tag: str) -> Optional[_Elem]:
    for c in node.children:
        if isinstance(c, _Elem):
            if c.tag == tag:
                return c
            found = _find_first(c, tag)
            if found is not None:
                return found
    return None


def _is_ws_only(raw: str) -> bool:
    """onlyWhiteSpace over the RAW (undecoded) text — HtmlProcessor.cs:370-396.

    ``strip`` of exactly the whitespace set is equivalent to ``all(ch in
    _WS_ONLY ...)`` (it removes every char of the set from both ends, so the
    remainder is empty iff every char is in the set) and runs at C speed — this
    predicate fires once per text node in the extraction hot path."""
    return not raw.strip(" \r\n\t\xa0")


def _remove_ws_text_nodes(node: _Elem) -> None:
    node.children = [
        c
        for c in node.children
        if not (isinstance(c, _Text) and _is_ws_only(c.raw))
    ]
    for c in node.children:
        if isinstance(c, _Elem):
            _remove_ws_text_nodes(c)


def _count_descendants(node: _Elem) -> int:
    n = 0
    for c in node.children:
        n += 1
        if isinstance(c, _Elem):
            n += _count_descendants(c)
    return n


def _undup_mail_nodes(body: _Elem) -> None:
    """undupMailNodes — HtmlProcessor.cs:126-158 (N>=2 path only)."""
    entries = [
        c
        for c in body.children
        if isinstance(c, _Elem)
        and c.tag == "div"
        and c.attrs.get("class") == "email-entry"
    ]
    if len(entries) < 2:
        return
    max_idx, max_cnt = -1, 0
    for i, e in enumerate(entries):
        cnt = _count_descendants(e)
        if cnt <= max_cnt:
            continue
        max_cnt, max_idx = cnt, i
    keep = entries[max_idx]
    drop = {id(e) for e in entries if e is not keep}
    body.children = [c for c in body.children if id(c) not in drop]


class _Builder:
    __slots__ = ("parts", "length", "last")

    def __init__(self):
        self.parts: List[str] = []
        self.length = 0
        self.last = ""

    def append(self, s: str):
        self.parts.append(s)
        self.length += len(s)
        self.last = s[-1]

    def opt_blank(self):
        # optAppendBlank — HtmlProcessor.cs:305-309
        if self.length > 0 and self.last != " ":
            self.append(" ")


def _append_inner_text(bld: _Builder, node, max_length: int) -> bool:
    """appendInnerText — HtmlProcessor.cs:274-304. Returns False to stop."""
    if isinstance(node, _Text):
        s = _htmlmod.unescape(node.raw)
        if bld.length == 0:
            if not s:
                return True
            s = s.lstrip(TRIMCHARS)
        if not s:
            return True
        bld.append(s)
        if 0 < max_length <= bld.length:
            return False
        return True
    if isinstance(node, _Comment):
        return True

    tag = node.tag
    inline = tag in INLINE_TAGS
    if tag in UNWANTED_TAGS:
        return True
    if not inline:
        bld.opt_blank()
    if not node.children:
        return True
    for c in node.children:
        if not _append_inner_text(bld, c, max_length):
            return False
    if not inline:
        bld.opt_blank()
    return True


def _get_text_from_node(node, max_length: int = -1) -> Optional[str]:
    """GetText(node, maxLength) — HtmlProcessor.cs:311-331."""
    if node is None:
        return None
    bld = _Builder()
    _append_inner_text(bld, node, max_length)
    s = "".join(bld.parts)
    s = s.rstrip(TRIMCHARS)
    return s if s else None


def extract_text(html: str, max_length: int = -1) -> Optional[str]:
    """Full pipeline of ``new HtmlProcessor(html).GetText()``.

    Parses, locates <body> (whole doc when absent — HtmlProcessor.cs:83-87),
    applies the constructor-side cleanup only when a <head> exists
    (HtmlProcessor.cs:89-99), then runs the GetText walk.
    """
    root = parse_html(html)
    body = _find_first(root, "body")
    if body is not None:
        html_node = body.parent
        while html_node is not None and html_node.tag != "html":
            html_node = html_node.parent
        if html_node is None:
            html_node = root
    else:
        html_node = body = root

    head = None
    for c in html_node.children:
        if isinstance(c, _Elem) and c.tag == "head":
            head = c
            break
    if head is not None:
        # removeEmptyTextNodes(head children) + undupMailNodes()
        # + removeEmptyTextNodes(//text()) — HtmlProcessor.cs:95-97
        head.children = [
            c
            for c in head.children
            if not (isinstance(c, _Text) and _is_ws_only(c.raw))
        ]
        _undup_mail_nodes(body)
        _remove_ws_text_nodes(root)

    return _get_text_from_node(body, max_length)


def html_to_text(value: Optional[str]) -> Optional[str]:
    """HtmlToTextConverter.Convert — HtmlToTextConverter.cs:41-56.

    Non-HTML (per quess_is_html) passes through unchanged.
    """
    if value is None or len(value) == 0:
        return value
    if not quess_is_html(value):
        return value
    return extract_text(value)


def get_abstract_from_text(
    text: Optional[str], max_length: int, delta: int
) -> Optional[str]:
    """GetAbstractFromText — HtmlProcessor.cs:222-265."""
    if text is None or len(text) <= max_length + delta:
        return text
    best_sentence = -1
    best_word = -1
    for i in range(max_length - delta, max_length + delta):
        ch = text[i]
        if ch in ".?!":
            if abs(max_length - i) < abs(max_length - best_sentence):
                best_sentence = i
        elif ch in " ;,:\r\n\t":
            if abs(max_length - i) < abs(max_length - best_word):
                best_word = i
    if best_sentence < 0:
        best_sentence = (max_length - 1) if best_word < 0 else best_word
    return text[:best_sentence] + " …"
