"""Render-join invariants (reference tests/common/test_io_elements.py style)
and HTML main-content extraction goldens."""

import pytest

from doctr_spark.functions.html import extract_main_text, looks_like_html
from doctr_spark.functions.render import (
    render_block,
    render_document,
    render_line,
    render_page,
)


def test_render_joins():
    assert render_line(["hello", "world"]) == "hello world"
    assert render_block([["hello", "world"], ["second", "line"]]) == "hello world\nsecond line"
    assert render_page([[["a", "b"]], [["c"]]]) == "a b\n\nc"
    assert render_document(["page one", "page two"]) == "page one\n\n\n\npage two"


def test_render_empty():
    assert render_line([]) == ""
    assert render_document([]) == ""


@pytest.mark.parametrize(
    ("html", "expected"),
    [
        ("<div>only</div>", "only"),
        ("<p>a</p><p>b</p>", "a\n\nb"),
        ("<p>one<br>two</p>", "one\ntwo"),
        ("<ul><li>x</li><li>y</li></ul>", "x\ny"),
        ("<div>Hi &amp; bye</div>", "Hi & bye"),
        ("<div><script>var x;</script>keep</div>", "keep"),
        ("<div><style>p{}</style>keep</div>", "keep"),
        ("<nav>menu</nav><p>content</p>", "content"),
        ("<header>h</header><p>c</p><footer>f</footer>", "c"),
        ("<aside>ads</aside><p>c</p>", "c"),
        ("<!-- comment --><p>c</p>", "c"),
        ("<p>spaced   words\n here</p>", "spaced words here"),
        ("<p></p>", ""),
        ("", ""),
        ("<div><div><p>nested</p></div></div>", "nested"),
        ("<p>a <b>bold</b> word</p>", "a bold word"),
    ],
)
def test_extract_main_text(html, expected):
    assert extract_main_text(html) == expected


def test_full_page_strip():
    html = (
        "<html><head><style>x{}</style></head><body>"
        "<nav>Home</nav><header>S</header>"
        "<div id='m'><p>para one</p>\n<p>para two</p></div>"
        "<script>t()</script><footer>F</footer></body></html>"
    )
    assert extract_main_text(html) == "para one\n\npara two"


def test_looks_like_html():
    assert looks_like_html("<div>x</div>")
    assert looks_like_html("  <html><body>")
    assert not looks_like_html("plain text")
    assert not looks_like_html("a < b and c > d")
    assert not looks_like_html("")


# ---- the regex fast path against HTMLParser, its fallback and oracle

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from doctr_spark.functions import html as html_mod  # noqa: E402

_TAG_NAMES = sorted(html_mod.STRIP_TAGS | html_mod.BLOCK_TAGS | html_mod.LINE_TAGS) + ["span", "a", "x-y", "scripts"]
# what the fast path models, and forms that send a document to the parser
_ATTRIBUTES = [' class=x', ' class="a>b"', " id='q'", " disabled", " class=x/", " src=x/", ' a = "b"', " x=&amp;"]
_ODD_ATTRIBUTES = [' b="c"d=e', " a==b", " a=", " \xa0b=1", " \u017frc=1", "/x=1"]
_TEXTS = [
    "hello", "world", " ", "\n\t", "a b", ">", "&amp;", "&copy;", "&#65;", "&#x42;", "&", "&amp", "&nbsp;x",
    "\xa0", "<!-- note -->", "<!-- a -- >", "<!---->", "<br/>", "<br />", "</SCRIPT>", "</p >",
    "<script>var a='<p>';</script>", "<style>p{}</style>", "<script src=x/>t</script>", "<SCRIPT>a</script >",
    "<script/>", "<STYLE>a</Style\n>", "<script>a</style>b</script>",
]
_ODD_TEXTS = [
    "<", "< ", "<1", "<!--", "-->", "<!DOCTYPE html>", "<![CDATA[x]]>", "<?pi x?>", "</>", "</ div>",
    "</div x>", "<br / >", "</\u017fcript>", "<\u017fcript>", "<script>", "<style>x",
]
_OPENINGS = [">", ">", "/>", " >", " />"]


def _html_doc(codes):
    """A document built from drawn integers: each picks text, an odd
    piece, an opening tag (name, case, attributes, self-closing or not)
    or the end tag of the innermost open element (in one of its forms,
    or left out); open elements are closed at the end."""
    parts, open_tags = [], []
    for c in codes:
        action, pick = c % 20, c // 20
        if action < 8:
            parts.append(_TEXTS[pick % len(_TEXTS)])
        elif action == 8:
            parts.append(_ODD_TEXTS[pick % len(_ODD_TEXTS)])
        elif action < 15:
            tag = _TAG_NAMES[pick % len(_TAG_NAMES)]
            tag = tag.upper() if pick % 7 == 0 else tag
            attrs = [_ATTRIBUTES[pick // 3 % len(_ATTRIBUTES)]] if pick % 3 else []
            attrs += [_ODD_ATTRIBUTES[pick // 5 % len(_ODD_ATTRIBUTES)]] if pick % 11 == 1 else []
            opening = _OPENINGS[pick // 7 % len(_OPENINGS)]
            parts.append(f"<{tag}{''.join(attrs)}{opening}")
            if opening in (">", " >"):
                open_tags.append(tag)
        elif open_tags:
            tag = open_tags.pop()
            parts.append([f"</{tag}>", f"</{tag}>", f"</{tag.upper()} >", ""][pick % 4])
    return "".join(parts) + "".join(f"</{tag}>" for tag in reversed(open_tags))


_html_docs = st.lists(st.integers(0, 2**20), max_size=30).map(_html_doc)


def _parser_text(html):
    parser = html_mod._MainContentParser()
    parser.feed(html)
    parser.close()
    return parser.text()


def test_fast_path_equals_html_parser():
    """extract_main_text equals the HTMLParser path on generated HTML: tags
    of every class, upper case, charrefs, comments, raw text, quoted and
    bare attributes (a bare value keeps its "/", so <div class=x/> opens a
    paragraph and <script src=x/> opens raw text), stray "<" and
    <!DOCTYPE. Both the fast path and the fallback are taken many times."""
    taken = {"fast": 0, "parser": 0}

    @settings(max_examples=2000, deadline=None, database=None)
    @given(_html_docs)
    def check(html):
        fast = html_mod._fast_flow(html)
        taken["parser" if fast is None else "fast"] += 1
        want = _parser_text(html)
        if fast is not None:
            assert fast.text() == want
        assert extract_main_text(html) == want

    check()
    assert min(taken.values()) >= 400, taken


@pytest.mark.parametrize(
    ("html", "fast", "expected"),
    [
        ("a<div class=x/>b", True, "a\n\nb"),  # a bare value runs to ">": a start tag
        ("a<br class=x />b", True, "a\nb"),
        ("a<script src=x/>b</script>c", True, "a c"),  # raw text up to </script>
        ("a<script src=x/>b", False, "a"),  # raw text without its end tag
        ('<p title="1>2">x</p>', True, "x"),
        ("<!DOCTYPE html><p>x</p>", False, "x"),
        ("<p>a<1b</p>", False, "a < 1b"),  # a stray "<" splits the text: the parser decides
        ("<P>Fish &amp; chips</P>", True, "Fish & chips"),
    ],
)
def test_fast_path_cases(html, fast, expected):
    assert (html_mod._fast_flow(html) is not None) == fast
    assert extract_main_text(html) == expected == _parser_text(html)


def test_str_split_is_the_parser_word_split():
    """The flow splits words with str.split(), which splits on exactly the
    code points the old re ``\\s+`` split did."""
    import re

    ws = re.compile(r"\s")
    assert all(bool(ws.fullmatch(c)) == c.isspace() for c in map(chr, range(0x110000)))
