"""Render-join semantics of the element tree, as pure functions AND as Spark
column expressions.

Invariants (reference: doctr/io/elements.py:96,174,237,283,617):
    word.render()  == value
    line.render()  == " ".join(words)
    block.render() == "\\n".join(lines)
    page.render()  == "\\n\\n".join(blocks)
    doc.render()   == "\\n\\n\\n\\n".join(pages)

``document_render_agg`` is the Spark twin of ``render_document`` (an
order-stable join inside ``groupBy.agg``); the DuckDB oracles verify the
same joins with ordered ``string_agg``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WORD_SEP = " "
LINE_SEP = "\n"
BLOCK_SEP = "\n\n"
PAGE_SEP = "\n\n\n\n"


def render_line(words: list[str]) -> str:
    return WORD_SEP.join(words)


def render_block(lines: list[list[str]]) -> str:
    return LINE_SEP.join(render_line(ln) for ln in lines)


def render_page(blocks: list[list[list[str]]]) -> str:
    return BLOCK_SEP.join(render_block(b) for b in blocks)


def render_document(pages: list[str]) -> str:
    return PAGE_SEP.join(pages)


def document_render_agg(page_col: str = "page_text", order_col: str = "page_idx") -> Column:
    """Order-stable aggregation join of pages by the page separator: collect
    (order, value) structs, sort by the struct (order first), then join
    values. Used inside groupBy.agg."""
    pairs = F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(page_col).alias("v"))))
    return F.array_join(F.transform(pairs, lambda s: s["v"]), PAGE_SEP)
