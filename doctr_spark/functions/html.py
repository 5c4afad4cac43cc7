"""DOM-heuristic main-content extraction for HTML turns.

The reference handles HTML only by rendering it to PDF and OCR-ing the
result (doctr/io/html.py:11-26); the direct DOM path here applies standard
main-content heuristics (strip script/style/nav/header/footer/aside/
template/noscript/iframe/form + comments) on top of docTR's render join
semantics: block elements separate text with "\\n\\n", <br>/<li> with
"\\n", inline flow joins with " " — the joins are
``functions/render.py:render_page`` itself.

Two tokenizers drive one paragraph/line/word state (``_Flow``):

- the fast path, one compiled regex matched at each position, which models
  exactly the markup it accepts: text (charrefs decoded by
  ``html.unescape`` when it holds ``&``, as ``convert_charrefs`` does),
  start and self-closing tags with quoted or bare attributes, end tags,
  comments up to the first ``--\\s*>``, and a ``script``/``style`` element
  with its raw text up to the end tag. Attributes are read as
  ``HTMLParser`` reads them: a bare value runs to whitespace or ``>``, so
  ``<div class=x/>`` is a start tag, not a self-closing one;
- stdlib ``html.parser`` (``_MainContentParser``), for a document holding
  anything else: a ``<`` that starts none of the above, ``<!DOCTYPE``,
  CDATA, a processing instruction, raw text without its end tag, or an
  attribute form the regex does not model. The whole document then goes
  through the parser, which is also the fast path's test oracle.

Both are stdlib, so they run cleanly over Arrow batches in the extraction
UDF.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from .render import render_page

# containers whose entire subtree is boilerplate
STRIP_TAGS = frozenset(
    {"script", "style", "nav", "header", "footer", "aside", "template", "noscript", "iframe", "form", "svg", "head", "button"}
)
# tags that start a new paragraph-level chunk ("\n\n" separators)
BLOCK_TAGS = frozenset(
    {
        "p", "div", "section", "article", "main", "body", "html", "table", "tr",
        "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "blockquote", "pre", "figure",
    }
)
# tags that force a single line break inside a paragraph
LINE_TAGS = frozenset({"br", "li", "td", "th", "dt", "dd"})

# the fast path's token grammar: whitespace that every reader of a tag
# takes as a separator, an attribute with a quoted or bare value, and
# script/style spelled in ASCII letters only (re.I would also take U+017F)
_SP = r"[ \t\n\r\f]"
_ATTRS = rf"""(?:{_SP}+[a-zA-Z_:][-.a-zA-Z0-9_:]*(?={_SP}|[=/>])(?:{_SP}*={_SP}*(?:"[^"]*"|'[^']*'|[^\s"'=>][^>\s]*))?)*"""
_RAW = [r"[sS][cC][rR][iI][pP][tT]", r"[sS][tT][yY][lL][eE]"]
_TOKEN = re.compile(
    r"([^<]+)"  # 1: text
    r"|<!--(?s:.*?)--\s*>"  # comment
    + "".join(rf"|<{raw}(?=[ \t\n\r\f/>]){_ATTRS}{_SP}*>(?s:.*?)</\s*{raw}\s*>" for raw in _RAW)  # raw element
    + rf"|<([a-zA-Z][-.a-zA-Z0-9_:]*)(?=[ \t\n\r\f/>]){_ATTRS}{_SP}*(/?)>"  # 2: start tag, 3: "/" when self-closing
    + r"|</\s*([a-zA-Z][-.a-zA-Z0-9_:]*)\s*>"  # 4: end tag
    + r"|(<)"  # 5: a "<" that starts none of the above
)


class _Flow:
    """Paragraphs of lines of words, built from tag and text events."""

    def __init__(self) -> None:
        self.depth_hidden = 0
        # chunks: list of paragraphs; each paragraph: list of lines; each line: list of word tokens
        self.paras: list[list[list[str]]] = [[[]]]

    # -- structure helpers
    def _new_para(self) -> None:
        if self.paras[-1] != [[]] and (self.paras[-1][-1] or len(self.paras[-1]) > 1):
            self.paras.append([[]])

    def _new_line(self) -> None:
        if self.paras[-1][-1]:
            self.paras[-1].append([])

    # -- events (HTMLParser's hook names, so the parser drives them as is)
    def handle_starttag(self, tag: str, attrs=None) -> None:
        if tag in STRIP_TAGS:
            self.depth_hidden += 1
            return
        if self.depth_hidden:
            return
        if tag in BLOCK_TAGS:
            self._new_para()
        elif tag in LINE_TAGS:
            self._new_line()

    def handle_endtag(self, tag: str) -> None:
        if tag in STRIP_TAGS:
            self.depth_hidden = max(0, self.depth_hidden - 1)
            return
        if self.depth_hidden:
            return
        if tag in BLOCK_TAGS:
            self._new_para()

    def handle_startendtag(self, tag: str, attrs=None) -> None:
        if not self.depth_hidden and tag in LINE_TAGS:
            self._new_line()

    def handle_data(self, data: str) -> None:
        # str.split() splits on exactly the characters re's \s matches
        if not self.depth_hidden:
            self.paras[-1][-1].extend(data.split())

    def text(self) -> str:
        return render_page([[line for line in para if line] for para in self.paras if any(para)])


class _MainContentParser(_Flow, HTMLParser):
    def __init__(self) -> None:
        _Flow.__init__(self)
        HTMLParser.__init__(self, convert_charrefs=True)


def _fast_flow(html: str) -> _Flow | None:
    """The flow of a document the token regex models, else None. Text
    takes every run up to a ``<`` and group 5 every other ``<``, so the
    tokens tile the document."""
    flow = _Flow()
    for text, tag, slash, end, stray in _TOKEN.findall(html):
        if text:
            flow.handle_data(unescape(text) if "&" in text else text)
        elif tag:
            tag = tag.lower()
            if slash:
                flow.handle_startendtag(tag)
            elif tag in ("script", "style"):
                return None  # raw text without its end tag
            else:
                flow.handle_starttag(tag)
        elif end:
            flow.handle_endtag(end.lower())
        elif stray:
            return None
    return flow


def extract_main_text(html: str) -> str:
    """Strip boilerplate and return main-content text with docTR render
    joins: words " ", lines "\\n", paragraphs "\\n\\n"."""
    flow = _fast_flow(html)
    if flow is None:
        flow = _MainContentParser()
        try:
            flow.feed(html)
            flow.close()
        except Exception:
            # malformed HTML: fall back to tag-stripped flat text
            return " ".join(re.sub(r"<[^>]+>", " ", html).split())
    return flow.text()


def looks_like_html(text: str) -> bool:
    """Cheap router predicate for the extraction UDF."""
    t = text.lstrip()[:256].lower()
    return t.startswith("<") and (">" in t)


__all__ = ["extract_main_text", "looks_like_html", "STRIP_TAGS", "BLOCK_TAGS", "LINE_TAGS"]
