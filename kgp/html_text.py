"""Stage 1 — HTML → text / title / lang / sentences.

Document-local work, zero shuffles: one vectorized pandas UDF over Arrow
batches of pages. Semantics re-derived from the reference:

  * `document_to_text`  — recursive DOM walk: skip script/style/#comment/
    option/meta/head; emit text nodes; append "\\n" on ENTERING each block
    element; delete runs of >=2 spaces.
    (/root/reference/palladian-commons/src/main/java/ws/palladian/helper/html/HtmlHelper.java:694-728,
     BLOCK_ELEMENTS :51-52)
  * main-content extraction — class/itemprop/id hints, then sentence-
    density scoring of candidate containers, content = concat of child
    block nodes' textContent + "\\n\\n", fallback to the full-document
    text when < 100 chars.
    (/root/reference/palladian-core/src/main/java/ws/palladian/extraction/content/PalladianContentExtractor.java:218-370,433-461)
  * language detection — <html lang>, meta content-language, TLD.
    (PalladianContentExtractor.java:817-886)

The HTML parser is a small stdlib-based DOM (html5lib is unavailable in
this environment); it handles void elements, implied </p>/<li>/… closes,
and unclosed tags at EOF — enough for web-page text extraction, and
golden-tested byte-for-byte against the corpus `text` column.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import regex

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp.tokenize import get_sentences

# ------------------------------------------------------------------ DOM


class Node:
    __slots__ = ("tag", "attrs", "children", "data")

    def __init__(self, tag: str, attrs: dict | None = None,
                 data: str = "") -> None:
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.data = data

    def text_content(self) -> str:
        """DOM textContent: all descendant text, comments excluded.
        Iterative — adversarially deep pages must not blow the Python
        recursion limit inside a worker."""
        parts: list[str] = []
        stack = [self]
        while stack:
            n = stack.pop()
            if n.tag == "#text":
                parts.append(n.data)
            elif n.tag != "#comment":
                stack.extend(reversed(n.children))
        return "".join(parts)

    def iter(self):
        stack = [self]
        while stack:
            n = stack.pop()
            yield n
            stack.extend(reversed(n.children))


VOID_ELEMENTS = {"area", "base", "br", "col", "embed", "hr", "img",
                 "input", "link", "meta", "param", "source", "track",
                 "wbr"}
# HTML5: these start tags imply </p> when a <p> is open
P_CLOSERS = {"address", "article", "aside", "blockquote", "div", "dl",
             "fieldset", "footer", "form", "h1", "h2", "h3", "h4", "h5",
             "h6", "header", "hr", "main", "nav", "ol", "p", "pre",
             "section", "table", "ul"}
_SELF_CLOSERS = {"li": {"li"}, "dd": {"dd", "dt"}, "dt": {"dd", "dt"},
                 "tr": {"tr", "td", "th"}, "td": {"td", "th"},
                 "th": {"td", "th"}, "option": {"option"}}


# WHATWG "in table" insertion modes: content that is not legal table
# structure is FOSTER-PARENTED — inserted before the nearest open
# <table> — instead of becoming a table child (misnested-table markup
# is common on real crawl pages; validator.nu implements the full
# algorithm, this is the subset that changes documentToText output)
_TABLE_CTX = {"table", "tbody", "thead", "tfoot", "tr"}
_TABLE_STRUCTURAL = {"caption", "colgroup", "col", "thead", "tbody",
                     "tfoot", "tr", "td", "th", "script", "style",
                     "template", "form"}
_ROW_STRUCTURAL = {"td", "th", "tr", "script", "style", "template"}

# WHATWG "formatting" category (the adoption-agency participants) and
# the "special" category (block/structural elements an end tag may
# never pop through)
_FORMATTING = {"a", "b", "big", "code", "em", "font", "i", "nobr", "s",
               "small", "strike", "strong", "tt", "u"}
# end tags with an explicit in-body rule: "if in scope, generate
# implied end tags, then pop through" — these DO pop across open
# specials (an unclosed <li> before </ul>, a <div> before </section>),
# bounded by the scope barriers
_BLOCK_END = {"address", "article", "aside", "blockquote", "button",
              "center", "details", "dialog", "dir", "div", "dl",
              "fieldset", "figcaption", "figure", "footer", "header",
              "hgroup", "listing", "main", "menu", "nav", "ol", "pre",
              "section", "summary", "ul", "p", "li", "dd", "dt", "h1",
              "h2", "h3", "h4", "h5", "h6", "form"}
# "has an element in scope" stops at these (the spec's particular
# scope list)
_SCOPE_BARRIERS = {"html", "table", "td", "th", "caption", "object",
                   "marquee", "template", "applet"}
# elements whose start tag pushes a MARKER onto the active-formatting
# list and whose end tag clears the list back to it (WHATWG 13.2.4.3)
_AFE_MARKER_TAGS = {"applet", "caption", "marquee", "object", "td",
                    "th", "template"}
# special-category start tags that still reconstruct the active
# formatting elements ("in body": area/br/embed/img/wbr/input rules)
_RECON_VOIDS = {"area", "br", "embed", "img", "wbr", "input"}
_MARKER = object()  # active-formatting-elements scope marker
_SPECIAL = {"address", "applet", "area", "article", "aside", "base",
            "basefont", "bgsound", "blockquote", "body", "br", "button",
            "caption", "center", "col", "colgroup", "dd", "details",
            "dir", "div", "dl", "dt", "embed", "fieldset", "figcaption",
            "figure", "footer", "form", "frame", "frameset", "h1", "h2",
            "h3", "h4", "h5", "h6", "head", "header", "hgroup", "hr",
            "html", "iframe", "img", "input", "li", "link", "listing",
            "main", "marquee", "menu", "meta", "nav", "noembed",
            "noframes", "noscript", "object", "ol", "p", "param",
            "plaintext", "pre", "script", "section", "select", "source",
            "style", "summary", "table", "tbody", "td", "template",
            "textarea", "tfoot", "th", "thead", "title", "tr", "track",
            "ul", "wbr", "xmp"}

# marked-section names that markupbase closes at ']>' instead of ']]>'
# (its _scan_name: a letter, then [-_.a-zA-Z0-9]*, case-folded)
_MS_SECTION_RE = re.compile(r"(?ai)(?:if|else|endif)(?![-_.a-zA-Z0-9])")


class _DomParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.stack = [self.root]
        # WHATWG list of active formatting elements (Node | _MARKER)
        self.afe: list = []
        # parent pointers (Node has no parent slot; the adoption
        # agency needs to detach/re-parent subtrees)
        self._parents: dict[int, Node] = {}

    def _open_tags(self) -> list[str]:
        return [n.tag for n in self.stack]

    def _append(self, parent: Node, node: Node) -> None:
        parent.children.append(node)
        self._parents[id(node)] = parent

    def _detach(self, node: Node) -> None:
        parent = self._parents.get(id(node))
        if parent is None:
            return
        for i, c in enumerate(parent.children):
            if c is node:
                del parent.children[i]
                break
        del self._parents[id(node)]

    def _needs_foster(self, tag: str) -> bool:
        top = self.stack[-1].tag
        if top not in _TABLE_CTX:
            return False
        allowed = (_TABLE_STRUCTURAL if top == "table"
                   else _ROW_STRUCTURAL)
        return tag not in allowed

    def _foster_insert(self, node: Node) -> None:
        """Insert before the nearest open <table> (the foster parent
        of the WHATWG tree-construction algorithm)."""
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == "table":
                parent = self.stack[i - 1]
                try:
                    at = parent.children.index(self.stack[i])
                except ValueError:
                    at = len(parent.children)
                parent.children.insert(at, node)
                self._parents[id(node)] = parent
                return
        self._append(self.root, node)

    # ---------------- active formatting elements (WHATWG 13.2.4.3)

    def _afe_push(self, node: Node) -> None:
        """Push with the Noah's Ark clause: at most 3 entries with the
        same tag+attributes since the last marker."""
        same = []
        for e in reversed(self.afe):
            if e is _MARKER:
                break
            if e.tag == node.tag and e.attrs == node.attrs:
                same.append(e)
        if len(same) >= 3:
            self.afe.remove(same[-1])  # the EARLIEST matching entry
        self.afe.append(node)

    def _afe_clear_to_marker(self) -> None:
        while self.afe:
            if self.afe.pop() is _MARKER:
                return

    def _reconstruct_afe(self) -> None:
        """Re-open formatting elements that were implicitly closed
        (e.g. a </div> popping through an unclosed <b>): clone each
        list entry not on the open stack, in list order."""
        if not self.afe:
            return
        last = self.afe[-1]
        if last is _MARKER or any(last is n for n in self.stack):
            return
        i = len(self.afe) - 1
        while i > 0:
            e = self.afe[i - 1]
            if e is _MARKER or any(e is n for n in self.stack):
                break
            i -= 1
        for j in range(i, len(self.afe)):
            e = self.afe[j]
            clone = Node(e.tag, dict(e.attrs))
            self._append(self.stack[-1], clone)
            self.stack.append(clone)
            self.afe[j] = clone

    def _in_scope(self, node: Node) -> bool:
        """'has NODE in scope' — no particular-scope barrier between
        the node and the top of the open stack."""
        for n in reversed(self.stack):
            if n is node:
                return True
            if n.tag in _SCOPE_BARRIERS:
                return False
        return False

    def _adoption_agency(self, tag: str) -> None:
        """The WHATWG adoption agency algorithm (13.2.6.4.7 'in
        body' any-other-end-tag for formatting elements): misnested
        formatting (<b><p>x</b>y</p>, <a> reopen) re-parents the
        furthest block's content into a clone of the formatting
        element so text after the end tag leaves the formatting.
        Reference behavior: ValidatorNuParser.java:32-46 delegates to
        validator.nu's full tree builder."""
        # fast path: current node matches and is not in the list
        cur = self.stack[-1]
        if cur.tag == tag and len(self.stack) > 1 \
                and not any(cur is e for e in self.afe):
            self.stack.pop()
            return
        for _outer in range(8):
            # locate the formatting element (after the last marker)
            fe = None
            fe_afe = -1
            for idx in range(len(self.afe) - 1, -1, -1):
                e = self.afe[idx]
                if e is _MARKER:
                    break
                if e.tag == tag:
                    fe, fe_afe = e, idx
                    break
            if fe is None:
                self._any_other_end_tag(tag)
                return
            si = next((i for i, n in enumerate(self.stack)
                       if n is fe), -1)
            if si < 0:  # in the list but no longer open: drop entry
                del self.afe[fe_afe]
                return
            if not self._in_scope(fe):
                return
            # furthest block: the EARLIEST special element above fe
            fb_i = next((i for i in range(si + 1, len(self.stack))
                         if self.stack[i].tag in _SPECIAL), -1)
            if fb_i < 0:
                # no block in the way: pop through fe, drop its entry
                del self.stack[si:]
                del self.afe[fe_afe]
                return
            fb = self.stack[fb_i]
            common_ancestor = self.stack[si - 1]
            bookmark = fe_afe
            node_i, last_node = fb_i, fb
            for _inner in range(1, 1000):
                node_i -= 1
                node = self.stack[node_i]
                if node is fe:
                    break
                in_afe = next((k for k, e in enumerate(self.afe)
                               if e is node), -1)
                if _inner > 3 and in_afe >= 0:
                    del self.afe[in_afe]
                    in_afe = -1
                if in_afe < 0:
                    del self.stack[node_i]
                    continue
                clone = Node(node.tag, dict(node.attrs))
                self.afe[in_afe] = clone
                self.stack[node_i] = clone
                node = clone
                if last_node is fb:
                    bookmark = in_afe + 1
                self._detach(last_node)
                self._append(node, last_node)
                last_node = node
            self._detach(last_node)
            if common_ancestor.tag in _TABLE_CTX:
                self._foster_insert(last_node)
            else:
                self._append(common_ancestor, last_node)
            # wrap the furthest block's content in a clone of fe
            clone = Node(fe.tag, dict(fe.attrs))
            for ch in fb.children:
                clone.children.append(ch)
                self._parents[id(ch)] = clone
            fb.children = []
            self._append(fb, clone)
            # list: remove fe, insert the clone at the bookmark
            fe_afe = next(k for k, e in enumerate(self.afe) if e is fe)
            if fe_afe < bookmark:
                bookmark -= 1
            del self.afe[fe_afe]
            self.afe.insert(bookmark, clone)
            # stack: remove fe, insert clone right above fb
            si = next(i for i, n in enumerate(self.stack) if n is fe)
            del self.stack[si]
            fb_i = next(i for i, n in enumerate(self.stack) if n is fb)
            self.stack.insert(fb_i + 1, clone)

    def _any_other_end_tag(self, tag: str) -> None:
        """WHATWG 'any other end tag' in body: pop through a matching
        open element (implied ends above it); a special element in
        the way means the token is ignored."""
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
            if self.stack[i].tag in _SPECIAL:
                return

    def _open_implied(self, tag: str) -> None:
        """Synthesize an element the WHATWG table insertion modes
        imply (tbody for a tr in "in table", tbody+tr for a cell)."""
        node = Node(tag, {})
        self._append(self.stack[-1], node)
        self.stack.append(node)

    # WHATWG "clear the stack back to a table/table-body/row context"
    # target sets: a td/th may land in an open row or section, a tr in
    # a section, everything else directly in the table
    _TABLE_CLEAR_CTX = {
        "td": {"tr", "tbody", "thead", "tfoot", "table"},
        "th": {"tr", "tbody", "thead", "tfoot", "table"},
        "tr": {"tbody", "thead", "tfoot", "table"},
        "tbody": {"table"}, "thead": {"table"}, "tfoot": {"table"},
        "caption": {"table"}, "colgroup": {"table"},
        "col": {"colgroup", "table"},
    }

    def _table_context_prepare(self, tag: str) -> bool:
        """Table-structure start tag (td/th/tr/sections/caption/...):
        emulate the WHATWG table insertion modes' stack surgery —
        'close the cell' when one is open, then 'clear the stack back
        to table (body/row) context' — by popping to the tag's target
        context set, provided a table IS open (13.2.6.4.9-4.13).
        With no open table this is the 'in body' case: parse error,
        IGNORE the token (return False) — a stray <td> in a <div>
        never materializes, exactly like ValidatorNu/browsers."""
        if not any(n.tag == "table" for n in self.stack):
            return False
        ctx = self._TABLE_CLEAR_CTX[tag]
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag in ctx or self.stack[i].tag == "html":
                del self.stack[i + 1:]
                return True
        return True

    def handle_starttag(self, tag, attrs):
        if tag == "table" and self.stack[-1].tag in _TABLE_CTX:
            # "table start tag in table": close the open table first
            self._pop_to("table")
        if tag in self._TABLE_CLEAR_CTX:
            if not self._table_context_prepare(tag):
                return
        # implied table sections (WHATWG "in table" / "in table body"):
        # a <tr> directly in <table> gets a synthetic <tbody>; a cell
        # directly in <table> or a section gets <tbody> and/or <tr> —
        # ValidatorNuParser emits these, and the PageAnalyzer xpath
        # machinery depends on the tbody level being present
        if tag == "tr" and self.stack[-1].tag == "table":
            self._open_implied("tbody")
        elif tag in ("td", "th"):
            if self.stack[-1].tag == "table":
                self._open_implied("tbody")
            if self.stack[-1].tag in ("tbody", "thead", "tfoot"):
                self._open_implied("tr")
        if tag in P_CLOSERS:
            # close an open <p> only within button scope (a <p> on the
            # other side of a table cell stays open, per spec)
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "p":
                    del self.stack[i:]
                    break
                if t in _SCOPE_BARRIERS or t == "button":
                    break
        implied = _SELF_CLOSERS.get(tag)
        if implied and self.stack[-1].tag in implied:
            self.stack.pop()
        if tag == "a":
            # WHATWG: an <a> while an <a> is still in the formatting
            # list is the misnesting case — adopt the old one first
            old = next((e for e in reversed(self.afe)
                        if e is _MARKER or e.tag == "a"), None)
            if old is not None and old is not _MARKER:
                self._adoption_agency("a")
                if any(old is e for e in self.afe):
                    self.afe.remove(old)
                si = next((i for i, n in enumerate(self.stack)
                           if n is old), -1)
                if si > 0:
                    del self.stack[si]
        fostering = self._needs_foster(tag)
        if not fostering and (tag not in _SPECIAL
                              or tag in _RECON_VOIDS):
            # formatting + phrasing start tags re-open implicitly
            # closed formatting elements before inserting
            self._reconstruct_afe()
        node = Node(tag, dict(attrs))
        if fostering:
            self._foster_insert(node)
        else:
            self._append(self.stack[-1], node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)
        if tag in _FORMATTING:
            self._afe_push(node)
        elif tag in _AFE_MARKER_TAGS:
            self.afe.append(_MARKER)

    def handle_startendtag(self, tag, attrs):
        node = Node(tag, dict(attrs))
        if self._needs_foster(tag):
            self._foster_insert(node)
        else:
            self._append(self.stack[-1], node)

    def handle_endtag(self, tag):
        if tag == "br":
            # WHATWG: an end tag </br> is treated as a <br> start tag
            self.handle_startendtag("br", [])
            return
        if tag in VOID_ELEMENTS:
            return
        if tag in _FORMATTING:
            self._adoption_agency(tag)
            return
        if tag in _AFE_MARKER_TAGS:
            # closing a formatting scope clears its list section
            self._afe_clear_to_marker()
        if self.stack[-1].tag == tag and len(self.stack) > 1:
            # fast path: a well-nested end tag (the overwhelmingly
            # common case) — every rule family agrees it just pops
            self.stack.pop()
            return
        if tag in ("table", "tbody", "thead", "tfoot", "tr"):
            # "in table"/"in table body"/"in row" end-tag rules: pop
            # through the matching element (closing any implied
            # tbody/tr the insertion modes synthesized), ignore when
            # not open
            self._pop_to(tag)
            return
        if tag in _BLOCK_END:
            # explicit in-body end-tag rule: pop through the matching
            # element if it is in scope (implied end tags close the
            # unclosed <li>/<p>/<div>s in between); ignore otherwise.
            # <li> uses "list item scope" (+ ul/ol barriers), <p>
            # "button scope" (+ button)
            barriers = _SCOPE_BARRIERS
            if tag == "li":
                barriers = barriers | {"ul", "ol"}
            elif tag == "p":
                barriers = barriers | {"button"}
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == tag:
                    del self.stack[i:]
                    return
                if t in barriers:
                    return
            return
        # formatting end tags were already routed to the adoption
        # agency above; everything else takes the spec's fallback
        self._any_other_end_tag(tag)

    def _pop_to(self, tag: str) -> None:
        if tag not in self._open_tags():
            return
        while len(self.stack) > 1:
            if self.stack.pop().tag == tag:
                break

    def handle_data(self, data):
        if not data:
            return
        # browsers drop/hoist whitespace at document and <html> level
        # (it never becomes a sibling of <head>/<body>); keeping it
        # would give <body> a spurious [1] index in constructed xpaths
        if self.stack[-1].tag in ("#document", "html") \
                and not data.strip():
            return
        node = Node("#text", data=data)
        if self.stack[-1].tag in _TABLE_CTX and data.strip():
            # non-whitespace character tokens in table context are
            # foster-parented (WHATWG "in table text" mode)
            self._foster_insert(node)
        else:
            if data.strip():
                # character tokens re-open implicitly closed
                # formatting elements (<div><b>x</div>y -> y is bold)
                self._reconstruct_afe()
            self._append(self.stack[-1], node)

    def handle_comment(self, data):
        self._append(self.stack[-1], Node("#comment", data=data))

    def unknown_decl(self, data):
        # WHATWG: <![CDATA[...]]> in HTML content (not foreign
        # content) is a bogus comment whose data is '[CDATA[...]]';
        # markupbase ends MS conditional sections (<![if !IE]>,
        # <![endif]>) at ']>', so their data is '[if !IE]'
        close = "]" if _MS_SECTION_RE.match(data) else "]]"
        self._append(self.stack[-1], Node("#comment",
                                          data="[" + data + close))

    def handle_pi(self, data):
        # WHATWG: '<?' opens a bogus comment up to the next '>', so
        # <?php e ?> becomes a comment with data '?php e ?'
        self._append(self.stack[-1], Node("#comment", data="?" + data))


_META_CHARSET_RE = regex.compile(
    rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:-]+)", regex.I)

# WHATWG encoding aliases that differ from Python codec names: browsers
# (and validator.nu) decode latin-1-labelled pages as windows-1252
_ENCODING_ALIASES = {
    "iso-8859-1": "windows-1252", "latin1": "windows-1252",
    "latin-1": "windows-1252", "ascii": "windows-1252",
    "us-ascii": "windows-1252", "x-user-defined": "windows-1252",
    # a utf-16 label on byte content without a BOM means utf-8 per spec
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}


def sniff_decode(raw: bytes) -> str:
    """HTML5 encoding sniffing (the subset validator.nu applies to
    file input): BOM first, then a <meta charset> prescan of the first
    1024 bytes, then strict UTF-8, else windows-1252 (the WHATWG
    default for unlabelled legacy content)."""
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8", errors="replace")
    if raw.startswith(b"\xff\xfe"):
        return raw[2:].decode("utf-16-le", errors="replace")
    if raw.startswith(b"\xfe\xff"):
        return raw[2:].decode("utf-16-be", errors="replace")
    # XHTML served as text/html: validator.nu honors the XML
    # declaration's encoding pseudo-attribute (reference fixture
    # pageContentExtractor/test5.html declares MacRoman this way)
    xm = regex.match(
        rb"\s*<\?xml[^>]*?encoding\s*=\s*[\"']([A-Za-z0-9_.:-]+)",
        raw[:1024])
    m = xm or _META_CHARSET_RE.search(raw[:1024])
    if m:
        label = m.group(1).decode("ascii", errors="ignore").lower()
        enc = _ENCODING_ALIASES.get(label, label)
        try:
            return raw.decode(enc, errors="replace")
        except LookupError:
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("windows-1252", errors="replace")


def parse_html(html: str | bytes) -> Node:
    if isinstance(html, (bytes, bytearray)):
        html = sniff_decode(bytes(html))
    # HTML5 input-stream preprocessing: normalize CRLF / lone CR to LF
    # (the reference's ValidatorNuParser does this per spec; without it
    # \r reaches text nodes and breaks the line-cleanup regexes)
    if "\r" in html:
        html = html.replace("\r\n", "\n").replace("\r", "\n")
    p = _DomParser()
    p.feed(html)
    p.close()
    return p.root


def xml10_filter(text: str) -> str:
    """Xml10FilterReader port (retrieval/parser/Xml10FilterReader
    .java:41-83): drop characters invalid in XML 1.0 — keeping
    \\t \\n \\r, 0x20-0xD7FF, 0xE000-0xFFFD — plus every char BEFORE
    the first non-whitespace one (the reader's ignoreCharacter ramp:
    leading whitespace is dropped; a BOM is NON-whitespace, ends the
    ramp and survives, per Character.isWhitespace).  The
    reference filters Java chars, so astral-plane codepoints (two
    invalid surrogates each) are dropped too — kept bug-for-bug."""
    out: list[str] = []
    ignoring = True
    for ch in text:
        if ignoring and not ch.isspace():
            ignoring = False
        cp = ord(ch)
        valid = (cp in (0x9, 0xA, 0xD) or 0x20 <= cp <= 0xD7FF
                 or 0xE000 <= cp <= 0xFFFD)
        if valid and not ignoring:
            out.append(ch)
    return "".join(out)


def parse_xml(content: str | bytes) -> Node:
    """Strict XML/XHTML parse into the same Node DOM (the reference's
    XmlParser next to its lenient HTML parser,
    /root/reference/palladian-retrieval/src/main/java/ws/palladian/retrieval/parser/XmlParser.java):
    stdlib ElementTree over the Xml10FilterReader-filtered input
    (XmlParser.java wraps its reader the same way), namespaces
    stripped from tag names, falls back to the lenient HTML parser on
    malformed input."""
    import xml.etree.ElementTree as ET
    if isinstance(content, (bytes, bytearray)):
        content = bytes(content).decode("utf-8", errors="replace")
    content = xml10_filter(content)
    try:
        root_el = ET.fromstring(content)
    except ET.ParseError:
        return parse_html(content)

    def make(el) -> Node:
        tag = el.tag.rsplit("}", 1)[-1].lower() \
            if isinstance(el.tag, str) else "#comment"
        n = Node(tag, {k.rsplit("}", 1)[-1]: v
                       for k, v in el.attrib.items()})
        if el.text:
            n.children.append(Node("#text", data=el.text))
        return n

    # iterative conversion — adversarially deep XML must not blow the
    # Python recursion limit inside a worker
    doc = Node("#document")
    root_node = make(root_el)
    doc.children.append(root_node)
    stack = [(root_el, root_node)]
    while stack:
        el, node = stack.pop()
        for c in el:
            cn = make(c)
            node.children.append(cn)
            if c.tail:
                node.children.append(Node("#text", data=c.tail))
            stack.append((c, cn))
    return doc


# ------------------------------------------------- documentToText port

SKIP_NODES = {"script", "style", "#comment", "option", "meta", "head"}
BLOCK_ELEMENTS = {
    "address", "blockquote", "div", "dl", "fieldset", "form", "h1", "h2",
    "h3", "h4", "h5", "h6", "hr", "noscript", "ol", "p", "pre", "table",
    "ul", "dd", "dt", "li", "tbody", "td", "tfoot", "th", "thead", "tr",
    "button", "del", "ins", "map", "object", "script", "br",
}
_MULTISPACE = re.compile(" {2,}")


def document_to_text(node: Node) -> str:
    """HtmlHelper.documentToText port — per-recursion-exact. The
    reference applies `replaceAll("[ ]{2,}", "")` to the ACCUMULATED
    string of every recursive call (HtmlHelper.java:727), including
    each #text leaf; a single global pass is NOT equivalent: text node
    "a  " followed by sibling " b" yields "a b" in the reference (leaf
    pass deletes the trailing run first) but "ab" under one global
    pass (the runs merge before deletion). So the deletion is applied
    bottom-up per node here, exactly like the recursion — iteratively
    (reversed preorder = children-before-parents), so adversarially
    deep markup can't blow the worker's Python recursion limit."""
    if node.tag in SKIP_NODES:
        return ""
    order: list[Node] = []
    stack = [node]
    while stack:
        n = stack.pop()
        if n.tag in SKIP_NODES:
            continue
        order.append(n)
        stack.extend(c for c in n.children if c.tag not in SKIP_NODES)
    results: dict[int, str] = {}
    for n in reversed(order):
        parts: list[str] = []
        if n.tag == "#text":
            parts.append(n.data)
        if n.tag in BLOCK_ELEMENTS:
            parts.append("\n")
        parts.extend(results.pop(id(c)) for c in n.children
                     if c.tag not in SKIP_NODES)
        results[id(n)] = _MULTISPACE.sub("", "".join(parts))
    return results[id(node)]


# ------------------------- XPath-density extraction (full algorithm)
# Port of PalladianContentExtractor.parseDocument
# (/root/reference/palladian-core/src/main/java/ws/palladian/extraction/content/PalladianContentExtractor.java:218-369)
# and its PageAnalyzer / XPathSet machinery
# (/root/reference/palladian-retrieval/src/main/java/ws/palladian/retrieval/PageAnalyzer.java:144-209,355-485,656-686,1379-1390,
#  .../XPathSet.java:45-92). XPaths are the same strings the reference
# builds ("/html/body/div[2]/p"); evaluation is a small interpreter
# over the stdlib DOM covering exactly the shapes the algorithm emits.

MAIN_NODE_HINTS = ["articleText", "article_body", "article-body",
                   "articleBody", "hfeed", "st_text_c"]


def _parent_index_map(root: Node) -> dict[int, tuple[Node, int]]:
    out: dict[int, tuple[Node, int]] = {}
    stack = [root]
    while stack:
        n = stack.pop()
        for i, c in enumerate(n.children):
            out[id(c)] = (n, i)
            stack.append(c)
    return out


def construct_xpath(node: Node, pmap: dict[int, tuple[Node, int]]) -> str:
    """PageAnalyzer.constructXPath port (:420-485): 1-based same-name
    sibling index, added when the node has any next sibling or a
    previous same-name sibling (never for html/th); path stops above
    #text; script paths yield ''."""
    xpath = ""
    cur = node
    while cur is not None:
        parent_entry = pmap.get(id(cur))
        name = cur.tag
        ps_count = 1
        has_next = False
        if parent_entry is not None:
            parent, idx = parent_entry
            ps_count += sum(1 for s in parent.children[:idx]
                            if s.tag == name)
            has_next = idx + 1 < len(parent.children)
        seg = name
        if (has_next or ps_count > 1) and name not in ("html", "th"):
            seg = f"{name}[{ps_count}]"
        xpath = seg + "/" + xpath
        ti = xpath.find("/#text")
        if ti > -1:
            xpath = xpath[:ti]
        cur = parent_entry[0] if parent_entry is not None else None
    xpath = xpath[len("#document"):]
    if "/script" in xpath.lower():
        return ""
    if xpath.endswith("/"):
        xpath = xpath[:-1]
    return xpath


def construct_all_xpaths(root: Node, keyword: str,
                         pmap: dict[int, tuple[Node, int]] | None = None
                         ) -> list[str]:
    """PageAnalyzer.constructAllXPaths port (:144-209): path of every
    node whose textContent contains the keyword (case-sensitive for
    elements, case-insensitive for text nodes), most-specific paths
    only."""
    if pmap is None:
        pmap = _parent_index_map(root)
    kw_lower = keyword.lower()
    xpaths: list[str] = []
    seen: set[str] = set()

    stack = [root]
    while stack:
        n = stack.pop()
        for child in n.children:
            tc = (child.data if child.tag == "#text"
                  else child.text_content())
            hit = keyword in tc or (
                child.tag == "#text" and kw_lower in child.data.lower())
            if hit and child.tag != "#comment":
                xp = construct_xpath(child, pmap)
                if xp and xp not in seen:
                    seen.add(xp)
                    xpaths.append(xp)
            stack.append(child)

    # drop paths that are prefixes of the longest path (too general)
    longest = max(xpaths, key=len, default="")
    return [x for x in xpaths
            if not (len(longest) > len(x) and longest.startswith(x))]


def remove_last_index(xpath: str) -> str:
    """PageAnalyzer.removeXPathIndicesFromLastCountNode (:1379-1390):
    strip the LAST [n] from the path."""
    return regex.sub(r"\[\d+\](?!.*\[\d+\])", "", xpath, count=1)


_BOX_PREFIXES = ("p", "div", "td", "th", "li",
                 "h1", "h2", "h3", "h4", "h5", "h6")


def _is_box_node(node: str, prefixes=_BOX_PREFIXES) -> bool:
    low = node.lower()
    return any(low.startswith(p) or low.startswith("xhtml:" + p)
               for p in prefixes)


def find_last_box_section(xpath: str) -> str:
    """PageAnalyzer.findLastBoxSection port (PageAnalyzer.java:
    656-686): cut after the last segment whose name STARTS WITH
    p/div/td/th/li/h1..h6 or the xhtml:-prefixed form (prefix match
    — 'pre' counts as 'p', faithful reference quirk)."""
    nodes = xpath.split("/")
    index = len(nodes)
    for i in range(len(nodes) - 1, 0, -1):
        if _is_box_node(nodes[i]):
            index = i + 1
            break
    return "".join("/" + nodes[i] for i in range(1, index))


def get_target_node(xpath: str) -> str:
    """PageAnalyzer.getTargetNode: last segment, xhtml: stripped,
    indices removed, lowercased."""
    i = xpath.rfind("/")
    if i < 0:
        return ""
    node = xpath[i + 1:].lower().replace("xhtml:", "")
    return regex.sub(r"\[(\d)+\]", "", node)


def node_in_box(xpath: str, look_back: int) -> bool:
    """PageAnalyzer.nodeInBox: a p/div segment within the last
    look_back parents."""
    nodes = xpath.split("/")
    nl = len(nodes)
    for i in range(nl - 1, max(0, nl - look_back - 1), -1):
        if _is_box_node(nodes[i], ("p", "div")):
            return True
    return False


def node_in_table(xpath: str, look_back: int) -> bool:
    """PageAnalyzer.nodeInTable: a td/th segment within the last
    look_back parents."""
    nodes = xpath.split("/")
    nl = len(nodes)
    for i in range(nl - 1, max(0, nl - look_back - 1), -1):
        if _is_box_node(nodes[i], ("td", "th")):
            return True
    return False


def get_table_cell_path(xpath: str) -> str:
    """PageAnalyzer.getTableCellPath: cut after the last td/th
    segment."""
    nodes = xpath.split("/")
    index = len(nodes)
    for i in range(len(nodes) - 1, 0, -1):
        if _is_box_node(nodes[i], ("td", "th")):
            index = i + 1
            break
    return "".join("/" + nodes[i] for i in range(1, index))


def get_next_sibling(xpath: str, table_cell_sibling: bool = False) -> str:
    """PageAnalyzer.getNextSibling (+getNextTableCell via
    table_cell_sibling): a bare trailing /td becomes /td[1], a
    trailing /th becomes /td[1] (header -> first data cell), else the
    LAST bracketed index increments (in table mode, the last td[
    bracket)."""
    if table_cell_sibling:
        last_open = max(xpath.rfind("td["), xpath.rfind("TD[")) + 2
        last_close = xpath.find("]", last_open)
    else:
        last_open = xpath.rfind("[")
        last_close = xpath.rfind("]")
    low = xpath.lower()
    td_index = max(low.rfind("/td"), low.rfind("/xhtml:td"))
    th_index = max(low.rfind("/th"), low.rfind("/xhtml:th"))
    if td_index > last_close and td_index > th_index:
        first, last = xpath[:td_index], xpath[td_index:]
        last = (last.replace("/td", "/td[1]").replace("/TD", "/TD[1]")
                .replace("/xhtml:td", "/xhtml:td[1]")
                .replace("/xhtml:TD", "/xhtml:TD[1]"))
        return first + last
    if th_index > last_close and th_index > td_index:
        first, last = xpath[:th_index], xpath[th_index:]
        last = (last.replace("/th", "/td[1]").replace("/TH", "/TD[1]")
                .replace("/xhtml:th", "/xhtml:td[1]")
                .replace("/xhtml:TH", "/xhtml:TD[1]"))
        return first + last
    if last_close <= last_open or last_open == 1:
        return xpath
    current = int(xpath[last_open + 1:last_close])
    return (xpath[:last_open + 1] + str(current + 1)
            + xpath[last_close:])


def get_next_table_cell(xpath: str) -> str:
    """PageAnalyzer.getNextTableCell."""
    return get_next_sibling(xpath, True)


def get_first_table_cell(xpath: str) -> str:
    """PageAnalyzer.getFirstTableCell: a bare trailing /td becomes
    /td[1]; /th stays."""
    last_open = max(xpath.rfind("td["), xpath.rfind("TD[")) + 2
    last_close = xpath.find("]", last_open)
    low = xpath.lower()
    td_index = max(low.rfind("/td"), low.rfind("/xhtml:td"))
    th_index = max(low.rfind("/th"), low.rfind("/xhtml:th"))
    if td_index > last_close and td_index > th_index:
        first, last = xpath[:td_index], xpath[td_index:]
        last = (last.replace("/td", "/td[1]").replace("/TD", "/TD[1]")
                .replace("/xhtml:td", "/xhtml:td[1]")
                .replace("/xhtml:TD", "/xhtml:TD[1]"))
        return first + last
    return xpath


def get_parent_node(xpath: str) -> str:
    """PageAnalyzer.getParentNode."""
    return xpath[:xpath.rfind("/")]


def remove_xpath_indices_from_last_count_node(xpath: str) -> str:
    """PageAnalyzer.removeXPathIndicesFromLastCountNode: strip only
    the LAST [n] (via the reversed-string replaceFirst, as
    written)."""
    rev = xpath[::-1]
    rev = regex.sub(r"\](\d)+\[", "", rev, count=1)
    return rev[::-1]


def remove_xpath_indices_not(xpath: str,
                             keep_elements: "list[str]") -> str:
    """PageAnalyzer.removeXPathIndicesNot: strip every [n] EXCEPT on
    the named elements (brace-protect, strip, restore)."""
    for el in keep_elements:
        xpath = regex.sub(el + r"\[(\d+)\]", el + r"{\1}", xpath)
    xpath = regex.sub(r"\[(\d)+\]", "", xpath)
    for el in keep_elements:
        xpath = regex.sub(el + r"\{(\d+)\}", el + r"[\1]", xpath)
    return xpath


def get_parent_xpath(xpath: str) -> str:
    i = xpath.rfind("/")
    return xpath[:i] if i > 0 else xpath


def clean_xpath(xpath: str) -> str:
    """PalladianContentExtractor.cleanXPath port (:176-200)."""
    xpath = regex.sub(r"/text(\[.*?\])?", "/", xpath)
    xpath = xpath.replace("html/body", "")
    xpath = xpath.replace("///", "//")
    if not xpath or xpath == "//":
        xpath = "//body"
    if xpath.endswith("//"):
        xpath = xpath[:-2]
    return xpath


def add_headline_siblings(xpath: str) -> str:
    """PalladianContentExtractor.addHeadlineSiblings port (:471-487):
    widen the last segment to also select headline/list siblings."""
    parts = xpath.split("/")
    last = parts[-1]
    if not last:
        return xpath
    alts = [last, "h1", "h2", "h3", "h4", "h5", "h6", "span", "ul",
            "ol", "blockquote"]
    new_last = "*[" + " or ".join(f"(self::{a})" for a in alts) + "]"
    return "/".join(parts[:-1] + [new_last])


def xpath_nodes(root: Node, xpath: str) -> list[Node]:
    """Evaluate the path shapes this module produces: absolute
    /seg/seg paths with optional [n] indices, a leading // descendant
    step, and a final *[(self::a) or ...] alternation."""
    xpath = xpath.strip()
    if not xpath:
        return []
    descend = xpath.startswith("//")
    segs = [s for s in xpath.split("/") if s]
    if not segs:
        return []

    def matches(node: Node, seg: str) -> bool:
        if seg.startswith("*["):
            names = set(regex.findall(r"self::([\w#]+)", seg))
            return node.tag in names
        m = regex.fullmatch(r"([\w#]+)(?:\[(\d+)\])?", seg)
        return bool(m) and node.tag == m.group(1)

    def select(nodes: list[Node], seg: str) -> list[Node]:
        out: list[Node] = []
        m = regex.fullmatch(r"([\w#]+)\[(\d+)\]", seg)
        for n in nodes:
            if m:
                name, want = m.group(1), int(m.group(2))
                count = 0
                for c in n.children:
                    if c.tag == name:
                        count += 1
                        if count == want:
                            out.append(c)
                            break
            else:
                out.extend(c for c in n.children if matches(c, seg))
        return out

    if descend:
        first = segs[0]
        current = [n for n in root.iter()
                   if n.tag not in ("#text", "#comment")
                   and matches(n, first)]
        segs = segs[1:]
    else:
        current = [root]
    for seg in segs:
        current = select(current, seg)
    return current


def get_main_content_node_with_hints(root: Node) -> Node | None:
    """getMainContentNodeWithHints port (:433-461): first div/p/span
    whose class/id/itemprop names a hint; several matches → their
    parent."""
    pmap = _parent_index_map(root)
    for hint in MAIN_NODE_HINTS:
        found = []
        for n in root.iter():
            if n.tag not in ("div", "p", "span"):
                continue
            cls = str(n.attrs.get("class", "") or "")
            ok = (cls == hint or (hint + " ") in cls
                  or (" " + hint) in cls
                  or str(n.attrs.get("itemprop", "") or "") == hint
                  or str(n.attrs.get("id", "") or "") == hint)
            if ok:
                found.append(n)
        if found:
            node = found[0]
            if len(found) > 1 and id(node) in pmap:
                node = pmap[id(node)][0]
            return node
    return None


_HEADER_DIV_IDS = {"head", "pageheader", "header", "foot", "footer",
                   "pagefooter", "sidebar"}


def clean_dom_reference(root: Node) -> Node:
    """PalladianContentExtractor.cleanDom port (:391-431): drop
    comments and script/style/iframe everywhere; strip the ELEMENT
    descendants of header/nav/footer and of divs with
    header/footer/sidebar ids (their direct text survives — faithful
    to the reference's //header//* xpaths)."""
    def is_chrome(n: Node) -> bool:
        return (n.tag in ("header", "nav", "footer")
                or (n.tag == "div"
                    and str(n.attrs.get("id", "") or "").lower()
                    in _HEADER_DIV_IDS))

    stack = [root]
    while stack:
        n = stack.pop()
        n.children = [c for c in n.children
                      if c.tag not in ("#comment", "script", "style",
                                       "iframe")]
        if is_chrome(n):
            n.children = [c for c in n.children if c.tag == "#text"]
        stack.extend(n.children)
    return root


def document_to_readable_text(node: Node) -> str:
    """HtmlHelper.documentToReadableText port (HtmlHelper.java:310-360):
    '\\n' on entering AND leaving block elements, text inside
    script/style skipped."""
    parts: list[str] = []

    def walk(n: Node, ignoring: bool) -> None:
        stack: list[tuple[Node, bool, bool]] = [(n, ignoring, False)]
        while stack:
            cur, ign, closing = stack.pop()
            if closing:
                # the reference's SAX endElement returns BEFORE the
                # block-newline append for IGNORE_INSIDE tags
                # (HtmlHelper.java:336-339), so </script> / </style>
                # emit nothing even though script is in BLOCK_ELEMENTS
                if cur.tag in BLOCK_ELEMENTS and cur.tag not in (
                        "script", "style"):
                    parts.append("\n")
                continue
            if cur.tag == "#text":
                if not ign:
                    parts.append(cur.data)
                continue
            if cur.tag == "#comment":
                continue
            child_ign = ign or cur.tag in ("script", "style")
            if not child_ign and (cur.tag in BLOCK_ELEMENTS
                                  or cur.tag == "br"):
                parts.append("\n")
            stack.append((cur, ign, True))
            for c in reversed(cur.children):
                stack.append((c, child_ign, False))

    walk(node, False)
    return "".join(parts)


def parse_document(html: str | bytes, language: str = "en") -> dict:
    """Full parseDocument port (PalladianContentExtractor.java:218-369):
    hint node → cleanDom → sentence xpath density (XPathSet) →
    main-block filter → shortest-equal-count path → last box section →
    headline siblings → content-node text; <100-char fallbacks to the
    main node's readable text, then the full document text."""
    root = parse_html(html)
    pmap = _parent_index_map(root)

    use_main_node_text = False
    result_node = get_main_content_node_with_hints(root)
    result_node_xpath = ""
    text_node_count = 0
    if result_node is not None:
        result_node_xpath = construct_xpath(result_node, pmap)
        # countDirectTextNodes (:371-382)
        text_node_count = sum(
            1 for c in result_node.children
            if c.tag == "#text" and len(c.data.strip()) > 20)

    full_text_content = document_to_text(root)
    clean_dom_reference(root)
    pmap = _parent_index_map(root)
    content = document_to_text(root)
    sentences = get_sentences(content, only_real=True, language=language)

    # unique sentences in first-appearance (document) order — equal
    # xpath counts tie-break by insertion order, so iteration must be
    # deterministic (a raw set here would hash-randomize which block
    # wins a tie)
    seen_s: set[str] = set()
    uniq_sentences = [s.value for s in sentences
                      if not (s.value in seen_s or seen_s.add(s.value))]
    counts: dict[str, int] = {}
    for sentence in uniq_sentences:
        for xp in construct_all_xpaths(root, sentence, pmap):
            xp = remove_last_index(xp)
            counts[xp] = counts.get(xp, 0) + 1

    def highest() -> tuple[str, int]:
        best, best_n = "", 0
        for k, v in counts.items():
            if v > best_n:
                best, best_n = k, v
        return best, best_n

    highest_xp, highest_n = highest()
    if result_node_xpath:
        for k in [k for k in counts if not k.startswith(result_node_xpath)]:
            del counts[k]
        if counts:
            highest_xp, highest_n = highest()
            if text_node_count > 3:
                use_main_node_text = True
        else:
            use_main_node_text = True

    shortest = highest_xp
    parent_xpath = result_node_xpath
    if not use_main_node_text:
        for k, v in counts.items():
            if len(k) < len(shortest) and v == highest_n:
                shortest = k
    if not shortest:
        use_main_node_text = True
    shortest = find_last_box_section(shortest)
    if not use_main_node_text:
        parent_xpath = get_parent_xpath(shortest)
    parent_xpath = clean_xpath(parent_xpath)

    parents = xpath_nodes(root, parent_xpath)
    if not parents:
        return {"text": full_text_content, "xpath": "",
                "full_text": full_text_content, "node": None,
                "root": root}
    result_node = parents[0]

    main_text = ""
    if not use_main_node_text:
        shortest = add_headline_siblings(shortest)
        pieces = [n.text_content() for n in xpath_nodes(root, shortest)]
        main_text = "".join(p + "\n\n" for p in pieces if p)
    if len(main_text.strip()) < MIN_MAIN_LEN:
        main_text = document_to_readable_text(result_node)
    if len(main_text.strip()) < MIN_MAIN_LEN:
        main_text = full_text_content
    return {"text": main_text, "xpath": shortest,
            "full_text": full_text_content, "node": result_node,
            "root": root}


# ------------------------------------------- main-content extraction

MAIN_HINTS = ["articletext", "article_body", "article-body", "articlebody",
              "hfeed", "st_text_c"]
CONTAINER_TAGS = {"div", "article", "section", "main", "body", "td",
                  "blockquote", "li"}
CONTENT_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6", "p", "ul", "ol",
                "blockquote", "pre"}
REMOVE_TAGS = {"script", "style", "iframe", "noscript", "nav", "header",
               "footer", "aside"}
REMOVE_CLASS_HINTS = ("comment", "sidebar", "nav", "footer", "header")
MIN_MAIN_LEN = 100


def _class_id(node: Node) -> str:
    return " ".join(
        str(node.attrs.get(k, "") or "") for k in ("class", "id", "itemprop")
    ).lower()


def clean_dom(root: Node) -> Node:
    """cleanDom port: drop comments, script/style/iframe, nav/header/
    footer/sidebar/comment sections (PalladianContentExtractor.java:391-431)."""

    def keep(n: Node) -> bool:
        if n.tag == "#comment" or n.tag in REMOVE_TAGS:
            return False
        ci = _class_id(n)
        return not any(h in ci for h in REMOVE_CLASS_HINTS)

    stack = [root]
    while stack:
        n = stack.pop()
        n.children = [c for c in n.children if keep(c)]
        stack.extend(n.children)
    return root


def _sentence_density(node: Node, language: str) -> int:
    score = 0
    for c in node.children:
        if c.tag in CONTENT_TAGS:
            score += len(get_sentences(c.text_content(), only_real=True,
                                       language=language))
    return score


def find_main_node(root: Node, language: str = "en") -> Node | None:
    """Hinted node wins; else the container with the highest direct-child
    sentence density (the XPath-density scheme reduced to containers —
    PalladianContentExtractor.java:245-306)."""
    for n in root.iter():
        if n.tag not in ("#text", "#comment") and any(
                h in _class_id(n) for h in MAIN_HINTS):
            return n
    best, best_score = None, 0
    for n in root.iter():
        if n.tag not in CONTAINER_TAGS:
            continue
        score = _sentence_density(n, language)
        if score > best_score:
            best, best_score = n, score
    return best


def extract_main_content(html: str | bytes, url: str = "") -> dict:
    """Full extraction: returns dict(text, title, lang, full_text)."""
    root = parse_html(html)
    lang = detect_language(root, url)
    sent_lang = "de" if lang == "de" else "en"
    full_text = document_to_text(root)
    title = _extract_title(root)
    clean_dom(root)
    main = find_main_node(root, sent_lang)
    text = ""
    if main is not None:
        pieces = [c.text_content() + "\n\n" for c in main.children
                  if c.tag in CONTENT_TAGS]
        text = "".join(pieces)
    if len(text) < MIN_MAIN_LEN:  # fallback (:364-369)
        text = full_text
    return {"text": text, "title": title, "lang": lang,
            "full_text": full_text}


def _extract_title(root: Node) -> str:
    h1 = next((n for n in root.iter() if n.tag == "h1"), None)
    if h1 is not None:
        t = h1.text_content().strip()
        if t:
            return t
    title = next((n for n in root.iter() if n.tag == "title"), None)
    if title is not None:
        return title.text_content().split("|")[0].strip()
    return ""


def get_entire_text_content(full_text: str) -> str:
    """getEntireTextContent port (PalladianContentExtractor.java:
    209-216): drop tab runs, blank out short (≤40-char) lines,
    collapse whitespace-bridged and repeated newlines. Includes
    comments etc. — the 'everything textual' view."""
    t = regex.sub(r"(\t)+", "", full_text)
    t = regex.sub(r"(?m)^.{0,40}$", "\n", t)
    t = regex.sub(r"\n(\s)+\n", "\n\n", t)
    t = regex.sub(r"(\n){2,}", "\n\n", t)
    return t


def get_result_title(root: Node, main_text: str = "") -> str:
    """getResultTitle port (PalladianContentExtractor.java:700-737):
    last <h1> outside header/footer (readable text, newlines → ' - '),
    else <title> up to '|', else the main text's first 20 words."""
    pmap = _parent_index_map(root)

    def in_chrome(n: Node) -> bool:
        cur = n
        while id(cur) in pmap:
            cur = pmap[id(cur)][0]
            if cur.tag in ("header", "footer"):
                return True
        return False

    h1s = [n for n in root.iter() if n.tag == "h1" and not in_chrome(n)]
    title = ""
    if h1s:
        title = " ".join(
            document_to_readable_text(h1s[-1])
            .replace("\n", " - ").split()).strip(" -")
    if not title:
        tnode = next((n for n in root.iter() if n.tag == "title"), None)
        if tnode is not None:
            title = regex.sub(r"\|.*", "", tnode.text_content()).strip()
        else:
            title = " ".join(main_text.split()[:20])
    return title


_TLD_LANG = {".de": "de", ".at": "de", ".ch": "de", ".fr": "fr",
             ".es": "es", ".it": "it", ".nl": "nl", ".se": "sv",
             ".cn": "zh", ".uk": "en", ".com": "en", ".org": "en",
             ".net": "en"}


def detect_language(root: Node, url: str = "") -> str:
    for n in root.iter():
        if n.tag == "html" and n.attrs.get("lang"):
            return str(n.attrs["lang"]).split("-")[0].lower()
    for n in root.iter():
        if n.tag == "meta":
            he = str(n.attrs.get("http-equiv", "")).lower()
            nm = str(n.attrs.get("name", "")).lower()
            if he == "content-language" or nm in ("language", "lang"):
                c = str(n.attrs.get("content", ""))
                if c:
                    return c.split("-")[0].split(",")[0].lower()
    host = url.split("://")[-1].split("/")[0]
    for tld, lang in _TLD_LANG.items():
        if host.endswith(tld):
            return lang
    return "en"


# ------------------------------------------------------- Spark stage

EXTRACT_SCHEMA = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("sentences", T.ArrayType(T.StructType([
        T.StructField("start", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]))),
])


def extract_stage(pages: DataFrame,
                  sentence_lang: str = "auto") -> DataFrame:
    """pages -> docs(url, warc_ts, lang, title, text, sentences).

    Per-document work only: Catalyst keeps this a single ArrowEvalPython
    stage over the parquet scan — no shuffle.

    sentence_lang: "en"/"de" force that split regex; "auto" (the
    default) keys off CONTENT-BASED language ID over the extracted
    prose (kgp.textstats.lang_id_text marker heuristic) with the
    page-declared language as tie-breaker when the content is
    undetermined. Content beats the <html lang> attribute because the
    attribute describes the page chrome, not necessarily the prose —
    and the DE regex's aggressive abbreviation lookbehinds (e.g.
    `[mM]s` for "Ms." suppresses any split after a word ending in
    "ms") make a false 'de' costly on English text.
    """
    from kgp.textstats import lang_id_text

    @F.pandas_udf(EXTRACT_SCHEMA)
    def _extract_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        texts, titles, langs, sents = [], [], [], []
        for h, u in zip(html, url):
            r = extract_main_content(h, u or "")
            if sentence_lang == "auto":
                # a 2k-char prefix is plenty for marker-word lang ID
                # and keeps the docs stage cost flat on heavy pages
                content_lang = lang_id_text(r["text"][:2000])
                if content_lang == "und":
                    content_lang = r["lang"]
                sl = "de" if content_lang == "de" else "en"
            else:
                sl = sentence_lang
            ss = get_sentences(r["text"], only_real=True, language=sl)
            texts.append(r["text"])
            titles.append(r["title"])
            langs.append(r["lang"])
            sents.append([{"start": s.start, "text": s.value} for s in ss])
        return pd.DataFrame({"text": texts, "title": titles, "lang": langs,
                             "sentences": sents})

    ex = _extract_udf(F.col("html"), F.col("url")).alias("ex")
    return pages.select("url", "warc_ts", ex).select(
        "url", "warc_ts",
        F.col("ex.lang").alias("lang"),
        F.col("ex.title").alias("title"),
        F.col("ex.text").alias("text"),
        F.col("ex.sentences").alias("sentences"),
    )


# ------------------------------------------------ images (metadata only)
# getImages / getDominantImage port (PalladianContentExtractor.java:
# 545-620, 897-996) — image METADATA extraction; decoding lives in
# kgp.multimodal.


def get_images(root: Node, base_url: str = "") -> list[dict]:
    """All <img> references with absolutized URLs and declared
    dimensions: [{url, width, height, alt, title}]."""
    from urllib.parse import urljoin
    base = base_url
    for n in root.iter():
        if n.tag == "base" and n.attrs.get("href"):
            base = urljoin(base_url, str(n.attrs["href"]))
            break

    def dim(v):
        try:
            return int(str(v).rstrip("px"))
        except (TypeError, ValueError):
            return -1

    out = []
    for n in root.iter():
        if n.tag == "img" and n.attrs.get("src"):
            out.append({
                "url": urljoin(base, str(n.attrs["src"])),
                "width": dim(n.attrs.get("width")),
                "height": dim(n.attrs.get("height")),
                "alt": str(n.attrs.get("alt") or ""),
                "title": str(n.attrs.get("title") or ""),
            })
    return out


def get_dominant_image(root: Node, base_url: str = "") -> dict | None:
    """The page's main image, by the reference's cascade: og:image meta
    beats itemprop=image/id=photo containers beats main-photo/main-image
    classes beats the biggest non-chrome, non-icon body image."""
    from urllib.parse import urljoin
    pmap = _parent_index_map(root)

    def in_chrome(n: Node) -> bool:
        cur = n
        while id(cur) in pmap:
            cur = pmap[id(cur)][0]
            if cur.tag in ("header", "footer"):
                return True
        return False

    for n in root.iter():
        if n.tag == "meta" \
                and str(n.attrs.get("property") or "") == "og:image" \
                and n.attrs.get("content"):
            return {"url": urljoin(base_url,
                                   str(n.attrs["content"]).strip()),
                    "width": -1, "height": -1, "alt": "", "title": ""}

    def first_img_src(container: Node):
        for c in container.iter():
            if c.tag == "img" and c.attrs.get("src"):
                return urljoin(base_url, str(c.attrs["src"]))
        return None

    for n in root.iter():
        if n.tag in ("#text", "#comment") or in_chrome(n):
            continue
        ip = str(n.attrs.get("itemprop") or "").lower()
        nid = str(n.attrs.get("id") or "").lower()
        if ip == "image" or nid == "photo":
            url = (urljoin(base_url, str(n.attrs["src"]))
                   if n.tag == "img" and n.attrs.get("src")
                   else first_img_src(n))
            if url:
                return {"url": url, "width": -1, "height": -1,
                        "alt": "", "title": ""}

    for n in root.iter():
        if n.tag == "img" and not in_chrome(n):
            cls = str(n.attrs.get("class") or "")
            if ("main-photo" in cls or "main-image" in cls) \
                    and n.attrs.get("src"):
                return {"url": urljoin(base_url, str(n.attrs["src"])),
                        "width": -1, "height": -1, "alt": "",
                        "title": ""}

    def linked_to_index(n: Node) -> bool:
        cur = n
        while id(cur) in pmap:
            cur = pmap[id(cur)][0]
            if cur.tag == "a":
                href = str(cur.attrs.get("href") or "")
                if "index" in href or href == "":
                    return True
        return False

    candidates = []
    for n in root.iter():
        if n.tag == "img" and n.attrs.get("src") \
                and not in_chrome(n) and not linked_to_index(n):
            src = str(n.attrs["src"])
            if not src.lower().split("?")[0].endswith(
                    (".jpg", ".jpeg", ".png")):
                continue
            def d(v):
                try:
                    return int(str(v).rstrip("px"))
                except (TypeError, ValueError):
                    return -1
            candidates.append({"url": urljoin(base_url, src),
                               "width": d(n.attrs.get("width")),
                               "height": d(n.attrs.get("height")),
                               "alt": str(n.attrs.get("alt") or ""),
                               "title": str(n.attrs.get("title") or "")})
    if not candidates:
        return None
    seen: dict[str, dict] = {}
    for c in candidates:
        seen[c["url"]] = c
    candidates = list(seen.values())
    first = candidates[0]
    if max(first["width"], 0) * max(first["height"], 0) < 10_000:
        candidates = [c for c in candidates
                      if "icon" not in c["url"].lower()] or candidates
        candidates = [c for c in candidates
                      if c["width"] < 0 or c["height"] < 0
                      or (c["width"] > 50 and c["height"] > 50)] \
            or candidates
        candidates.sort(key=lambda c: max(c["width"], 0)
                        * max(c["height"], 0), reverse=True)
    return candidates[0]


# ------------------------- content-scoped image extraction (reference
# getImages: PalladianContentExtractor.java:555-650)

DEFAULT_IMAGE_CONTAINER_SIZE = 500


def _image_size(text: str) -> int:
    """PalladianContentExtractor.getImageSize:655-670: the literal
    ",*" deletion, %-of-500-container sizing, px strip; a non-numeric
    value raises (and the CALLER skips the whole image, like the
    reference's catch of NumberFormatException)."""
    text = text.replace(",*", "")
    if "%" in text:
        return int(0.01 * int(text.replace("%", "").strip())
                   * DEFAULT_IMAGE_CONTAINER_SIZE)
    return int(text.replace("px", "").strip())


def _substring_between(text: str, left: str, right: str) -> str:
    i = text.find(left)
    if i < 0:
        return ""
    j = text.find(right, i + len(left))
    if j < 0:
        return ""
    return text[i + len(left):j]


def get_content_images(root: Node, main_node: Node | None,
                       document_url: str = "") -> list[dict]:
    """The reference's result-scoped getImages
    (PalladianContentExtractor.java:555-650): .//img under the main
    content node, CLIMBING to the parent while empty; header/footer
    images (//header//img, //div[@id='header']//img and the footer
    twins) removed; src absolutized against base href / document url;
    width/height via getImageSize with the inline-style fallback; an
    unparseable size SKIPS the whole image (the reference catches
    NumberFormatException around the builder)."""
    from kgp.webgraph import make_full_url
    if main_node is None:
        return []
    base = ""
    for n in root.iter():
        if n.tag == "head":
            for m in n.iter():
                if m.tag == "base" and m.attrs.get("href"):
                    base = str(m.attrs["href"])
                    break
            break

    pmap = _parent_index_map(root)
    node = main_node
    image_nodes: list[Node] = []
    while not image_nodes and node is not None:
        image_nodes = [n for n in node.iter() if n.tag == "img"]
        node = pmap[id(node)][0] if id(node) in pmap else None

    # images under header/footer chrome anywhere in the document
    remove: set[int] = set()
    for n in root.iter():
        is_chrome = n.tag in ("header", "footer") or (
            n.tag == "div" and n.attrs.get("id") in ("header", "footer"))
        if is_chrome:
            for m in n.iter():
                if m.tag == "img":
                    remove.add(id(m))

    out: list[dict] = []
    for n in image_nodes:
        if id(n) in remove:
            continue
        src = n.attrs.get("src")
        if src is None:
            continue  # the reference's swallowed NullPointerException
        url = src
        if not url.startswith("http"):
            context = base if base else (document_url or None)
            url = make_full_url(context, None, url)
        try:
            width = height = -1
            found = False
            if n.attrs.get("width") is not None:
                width = _image_size(str(n.attrs["width"]))
                found = True
            if n.attrs.get("height") is not None:
                height = _image_size(str(n.attrs["height"]))
                found = True
            if not found and n.attrs.get("style") is not None:
                style = str(n.attrs["style"])
                wt = _substring_between(style, "width:", "px").strip()
                ht = _substring_between(style, "height:", "px").strip()
                if wt:
                    width = int(float(wt))
                if ht:
                    height = int(float(ht))
        except ValueError:
            continue
        out.append({"url": url, "width": width, "height": height,
                    "summary": str(n.attrs.get("alt") or ""),
                    "title": str(n.attrs.get("title") or "")})
    return out


def add_xhtml_ns_to_xpath(xpath: str) -> str:
    """XPathHelper.addXhtmlNsToXPath (XPathHelper.java:474-539):
    quoted literals are masked first, the path splits on
    / space [ ] | ) :  (NOT on '(' — "text(" / "contains(@x,…" parts
    therefore never get prefixed), and every part matching
    [a-zA-Z]\\w*|\\* except the logical operators and/or gains the
    'xhtml:' prefix. A path already containing 'xhtml:' (any case)
    passes through unchanged."""
    if "xhtml:" in xpath.lower():
        return xpath
    unmask: dict[str, str] = {}
    mask_id = 0
    for quoted in re.findall(r"\"[^\"]+\"|'[^']+'", xpath):
        mask = f"_MASK_{mask_id}"
        mask_id += 1
        xpath = xpath.replace(quoted, mask)
        unmask[mask] = quoted
    parts: list[str] = []
    buf: list[str] = []
    split_chars = set("/ []|):")
    for i, ch in enumerate(xpath):
        if ch in split_chars:
            parts.append("".join(buf))
            buf = []
            parts.append(ch)
        else:
            buf.append(ch)
        if i == len(xpath) - 1:
            parts.append("".join(buf))
    out: list[str] = []
    for part in parts:
        if re.fullmatch(r"[a-zA-Z]\w*|\*", part) \
                and not re.fullmatch(r"and|or", part):
            out.append("xhtml:")
        out.append(part)
    result = "".join(out)
    for mask, quoted in unmask.items():
        result = result.replace(mask, quoted)
    return result
