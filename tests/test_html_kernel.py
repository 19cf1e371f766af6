"""HTML boilerplate-strip kernel tests (north-star DOM heuristics)."""

import re
import time

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from service1_text_extraction_spark.kernels import html, payload
from service1_text_extraction_spark.kernels.html import extract_html


FULL_PAGE = """
<!DOCTYPE html>
<html><head><title>Annual Report</title>
<style>body { margin: 0 }</style>
<script>var tracker = "nav";</script></head>
<body>
<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
<header><a href="/l">Login</a></header>
<h1>Results &amp; Outlook</h1>
<p>Revenue grew strongly this year, with margins improving across
every segment &mdash; a very strong result.</p>
<p>Details appear in <a href="/app">the appendix</a>, which breaks the
figures down by region and product line.</p>
<aside><a href="/x">Related link one</a> <a href="/y">Related two</a></aside>
<div>Page 7</div>
<footer>&copy; 2026 Example Corp | <a href="/p">Privacy</a></footer>
</body></html>
"""


def test_strips_boilerplate_keeps_content():
    r = extract_html(FULL_PAGE)
    assert "Home" not in r.text  # nav container dropped
    assert "Login" not in r.text  # header dropped
    assert "Related link one" not in r.text  # aside dropped
    assert "Privacy" not in r.text  # footer dropped
    assert "tracker" not in r.text  # script raw text dropped
    assert "margin: 0" not in r.text  # style dropped
    assert "Page 7" not in r.text  # header/footer line pattern (F7)
    assert "Results & Outlook" in r.text  # entity decoded
    assert "- a very strong result" in r.text  # &mdash; -> '-' (K1)
    assert "the appendix" in r.text  # inline link inside long para kept
    assert 0.0 < r.boilerplate_ratio < 1.0


def test_link_density_drops_link_lists():
    nav_like = '<div><a href=a>One</a> <a href=b>Two</a> <a href=c>Three</a></div>'
    r = extract_html(nav_like)
    assert r.text == ""
    content = "<div>A sentence mentioning <a href=x>a link</a> amid prose text.</div>"
    r2 = extract_html(content)
    assert "a link" in r2.text


def test_spans_cover_text_exactly():
    r = extract_html("<h1>Title Here</h1><p>First para text.</p><p>Second para.</p>")
    assert [r.text[s:e] for s, e, _ in r.spans] == [
        "Title Here",
        "First para text.",
        "Second para.",
    ]
    kinds = [k for _, _, k in r.spans]
    assert kinds == ["heading", "para", "para"]


def test_plain_text_passthrough():
    r = extract_html("no tags at all, just plain prose text")
    assert r.text == "no tags at all, just plain prose text"
    assert r.boilerplate_ratio == 0.0


def test_malformed_html_tolerated():
    r = extract_html("<p>unclosed <b>bold and a stray < char</p><p>next one</p>")
    assert "stray < char" in r.text
    assert "next one" in r.text


def test_empty_and_whitespace():
    assert extract_html("").text == ""
    assert extract_html("   \n  ").text == ""
    assert extract_html("<div></div><p>  </p>").text == ""


def test_textarea_and_cdata_stripped():
    payload = (
        "<html><body><p>Real content paragraph here.</p>"
        "<textarea>raw editor text with <fake> tags</textarea>"
        "<![CDATA[ cdata payload should vanish ]]>"
        "<p>Second real paragraph.</p></body></html>"
    )
    r = extract_html(payload)
    assert "Real content paragraph here." in r.text
    assert "Second real paragraph." in r.text
    assert "raw editor" not in r.text
    assert "cdata payload" not in r.text
    assert "]]" not in r.text


# ---- linear markup scans ------------------------------------------------
#
# The sniff and preprocess scans used lazy ``open.*?close`` regexes and
# unbounded ``<...>`` searches, which rescan the rest of the payload from
# every unclosed opener. Those regexes live on here only as the oracle.

_OLD_HTML_HINT_RE = re.compile(
    r"<[a-zA-Z][^>]*>|</[a-zA-Z][^>]*>|<!DOCTYPE", re.IGNORECASE
)
_OLD_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_OLD_CDATA_RE = re.compile(r"<!\[CDATA\[.*?\]\]>", re.DOTALL)
_OLD_BLOCK_RE = {"<!--": _OLD_COMMENT_RE, "<![CDATA[": _OLD_CDATA_RE}


def _old_sniff(p: str) -> str:
    if p.lstrip().startswith("JVBER"):
        return "pdf"
    return "html" if _OLD_HTML_HINT_RE.search(p) else "text"


def _old_extract_html(p: str):
    """extract_html with every scan put back to its plain-regex form."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(
            html, "_strip_blocks",
            lambda src, opener, closer: _OLD_BLOCK_RE[opener].sub(" ", src),
        )
        m.setattr(
            html, "_strip_rawtext", lambda src: html._RAWTEXT_RE.sub(" ", src)
        )
        m.setattr(
            html, "_strip_doctypes", lambda src: html._DOCTYPE_RE.sub(" ", src)
        )
        m.setattr(html, "_tags", lambda src: html._TAG_RE.finditer(src))
        return html.extract_html(p)


_MARKUP = st.lists(
    st.one_of(
        st.sampled_from([
            "<", ">", "/", "!", "-", "[", "]", "'", '"', "=", " ", "\n",
            "<!--", "-->", "<!-->", "<!", "<![CDATA[", "]]>",
            "<!DOCTYPE html>", "<script ", "<style ",
            "<!doctype", "<script>", "</script>", "<SCRIPT type=x>",
            "</Script >", "<style>", "</style>", "<textarea>",
            "</textarea>", "<p>", "</p>", "<div>", "<a href='/x'>",
            '<a title="q>', "</a>", "<nav>", "</nav>", "<br/>", "x<",
            "<a", "&amp;", "Some words of text here.", "ſcript",
        ]),
        st.text(alphabet="<>/!-ab sp'\"", max_size=6),
    ),
    max_size=40,
).map("".join)


@given(_MARKUP)
@example("<p>a<!-->b-->c</p>")  # a closer overlapping its opener
@example("<script <style>x</style>y")  # an opener inside an unclosed one
@example("<style>a<p>b</p>")  # an opener with no closer
@example("<Style>a<STYLE>b</style>c")  # closers match in any case
@example("<p>x</p><!DOCTYPE html")  # a declaration past the last '>'
@settings(max_examples=400, deadline=None)
def test_linear_scans_match_regex_oracle(p):
    assert payload.sniff_payload(p) == _old_sniff(p)
    new, old = html.extract_html(p), _old_extract_html(p)
    assert (new.text, new.spans, new.boilerplate_ratio) == (
        old.text, old.spans, old.boilerplate_ratio
    )


_MB = 1_000_000
# each of the 64 case spellings of an unclosed <script>
_MIXED_CASE_OPENERS = "".join(
    "<" + "".join(
        c.upper() if k >> j & 1 else c for j, c in enumerate("script")
    ) + ">"
    for k in range(64)
)


@pytest.mark.parametrize(
    "shape",
    [
        "<a" * (_MB // 2),  # tag hint with no '>'
        "<p>" + "x<" * (_MB // 2),  # bare '<'
        "<p>" + "<!--" * (_MB // 4),  # unterminated comments
        "<p>" + "<![CDATA[" * (_MB // 9),  # unterminated CDATA
        "<p>" + "<script>" * (_MB // 8),  # unclosed raw-text elements
        "<script" * (_MB // 7),  # raw-text openers with no '>'
        "<script " * (_MB // 8) + ">",  # openers sharing one far '>'
        "<p>" + _MIXED_CASE_OPENERS * (_MB // len(_MIXED_CASE_OPENERS)),
        "<!" * (_MB // 2),  # declarations with no '>'
    ],
    ids=["hint", "bare-lt", "comment", "cdata", "script", "script-open",
         "script-far-gt", "script-mixed-case", "decl"],
)
def test_hostile_markup_is_linear(shape):
    t0 = time.perf_counter()
    payload.sniff_payload(shape)
    html.extract_html(shape)
    assert time.perf_counter() - t0 < 1.0
