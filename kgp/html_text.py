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


# ------------------------------------------------------ XPath evaluation
# The path shapes of the reference's PageAnalyzer (palladian-retrieval,
# PageAnalyzer.java), e.g. "/html/body/div[2]/p", evaluated by a small
# interpreter over the stdlib DOM; kgp.segmenter builds and evaluates
# them.


def _parent_index_map(root: Node) -> dict[int, tuple[Node, int]]:
    out: dict[int, tuple[Node, int]] = {}
    stack = [root]
    while stack:
        n = stack.pop()
        for i, c in enumerate(n.children):
            out[id(c)] = (n, i)
            stack.append(c)
    return out


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


# ------------------------------------------------------------ helpers


def _substring_between(text: str, left: str, right: str) -> str:
    i = text.find(left)
    if i < 0:
        return ""
    j = text.find(right, i + len(left))
    if j < 0:
        return ""
    return text[i + len(left):j]
