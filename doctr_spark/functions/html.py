"""DOM-heuristic main-content extraction for HTML turns.

The reference handles HTML only by rendering it to PDF and OCR-ing the
result (doctr/io/html.py:11-26); the direct DOM path here applies standard
main-content heuristics (strip script/style/nav/header/footer/aside/
template/noscript/iframe/form + comments) on top of docTR's render join
semantics: block elements separate text with "\\n\\n", <br>/<li> with
"\\n", inline flow joins with " " — the joins are
``functions/render.py:render_page`` itself.

Parsing is stdlib (html.parser), so it runs cleanly over Arrow batches in
the extraction UDF.
"""

from __future__ import annotations

import re
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

_WS = re.compile(r"\s+")


class _MainContentParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
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

    # -- parser hooks
    def handle_starttag(self, tag: str, attrs) -> None:
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

    def handle_startendtag(self, tag: str, attrs) -> None:
        if not self.depth_hidden and tag in LINE_TAGS:
            self._new_line()

    def handle_data(self, data: str) -> None:
        if self.depth_hidden:
            return
        words = _WS.split(data.strip())
        self.paras[-1][-1].extend(w for w in words if w)


def extract_main_text(html: str) -> str:
    """Strip boilerplate and return main-content text with docTR render
    joins: words " ", lines "\\n", paragraphs "\\n\\n"."""
    parser = _MainContentParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        # malformed HTML: fall back to tag-stripped flat text
        return _WS.sub(" ", re.sub(r"<[^>]+>", " ", html)).strip()
    return render_page([[line for line in para if line] for para in parser.paras if any(para)])


def looks_like_html(text: str) -> bool:
    """Cheap router predicate for the extraction UDF."""
    t = text.lstrip()[:256].lower()
    return t.startswith("<") and (">" in t)


__all__ = ["extract_main_text", "looks_like_html", "STRIP_TAGS", "BLOCK_TAGS", "LINE_TAGS"]
