"""Extraction robustness: malformed HTML, nested boilerplate, entities,
invalid UTF-8 — all must be deterministic (byte-identical across calls)
and never raise."""

from __future__ import annotations

from kg_microbe_merge_spark.functions.extract import (
    extract_text_py,
    with_extracted_text,
)

CASES = {
    b"<p>unclosed paragraph <div>next": "unclosed paragraph\nnext",
    b"<script><p>inside script</p>": "",        # unclosed script swallows rest
    b"<nav>menu <footer>deep</footer> more</nav><p>body</p>": "body",
    b"<p>a &amp; b &lt;c&gt;</p>": "a & b <c>",
    b"<P>UPPER TAGS</P>": "UPPER TAGS",
    b"plain text, no tags at all": "plain text, no tags at all",
    b"<p>tab\there  multi   space</p>": "tab here multi space",
    b"": "",
}


def test_malformed_html_cases():
    for html, expected in CASES.items():
        assert extract_text_py(html) == expected, html


def test_invalid_utf8_is_deterministic():
    junk = b"<p>ok \xff\xfe broken</p>"
    a = extract_text_py(junk)
    b = extract_text_py(junk)
    assert a == b
    assert "ok" in a and "broken" in a
    assert "�" in a  # replacement char, pinned behavior


def test_udf_matches_python_on_edge_cases(spark):
    rows = [(f"u{i}", h) for i, h in enumerate(CASES)] + [("ujunk", b"<p>\xff</p>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r["text"] for r in with_extracted_text(df).collect()}
    for (url, html) in rows:
        assert got[url] == extract_text_py(html), (url, html)


def test_fast_path_equals_stdlib_parser_on_pinned_cases():
    """The regex fast path must be byte-identical to the stdlib-parser
    reference on every pinned case (the fallback guard routes risky
    constructs away from it, so equality must hold whenever it runs)."""
    import kg_microbe_merge_spark.functions.extract as ex

    for html in list(CASES) + [b"<p>\xff</p>", b"<br/>x<BR/>y",
                               b"<p foo='a>b'>quoted gt</p>",
                               b"<style>p {color: red}</style><p>s</p>",
                               b"<script>if (a<b) {}</script><p>t</p>",
                               # historical fast-path divergences found by
                               # hypothesis (rounds 1-2 + round-2 judge):
                               b"</<p>", b"<a/'<p>", b"<a/'>'<p>",
                               # bare value swallowing '/' → NOT
                               # self-closing → CDATA mode engages
                               b"<script src=x/>alert</script><p>u</p>",
                               # CDATA end-tag matching is the stdlib's
                               # full r"</\s*script\s*>" (case-insensitive)
                               b"<script>x</SCRIPT>y<p>v</p>",
                               b"<script>x</script junk>y</script><p>w</p>",
                               # step-lane (whole-block / combined-token)
                               # edges: backref case, \s before '>',
                               # Unicode case-folding tag openers that
                               # html.parser does NOT treat as tags
                               "<ſpan>x</ſpan>".encode(),
                               "<Ka>x".encode(),
                               b"a<P>x</p>b", b"<p>x</P >",
                               "<p>x</p >".encode(),
                               b"<TITLE>t</title>", b"<pre>a  b</PRE>",
                               b"<p>&am</p>p;", b"<td>x</td>y</td>",
                               b"<p/><p></p>", b"<h1>x</h2>",
                               b"<foo-bar>x</foo-bar><p>y</p>",
                               # self-closing skip tags, NUL and the
                               # U+001C-U+001F separators (Python \s)
                               b"<nav/>Alpha binds Beta.</nav>",
                               b'<nav a="b"/>Alpha binds Beta.</nav>',
                               b"a\x00b", b"<p>a\x1cb</p>"]:
        src = html.decode("utf-8", errors="replace")
        fast = ex._fast_extract(src)
        if fast is None:
            continue  # legitimate fallback
        p = ex._MainTextParser()
        p.feed(src)
        p.close()
        assert fast == p.result(), html


def test_fast_path_equals_stdlib_parser_property():
    """Property test: on randomly composed realistic HTML (tags from the
    skip/block/neutral sets, charrefs, malformed fragments) the fast
    path equals the stdlib parser byte-for-byte whenever it engages."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import kg_microbe_merge_spark.functions.extract as ex

    tag = st.sampled_from(
        ["p", "div", "li", "nav", "script", "style", "span", "b", "em",
         "header", "footer", "article", "td", "h1", "P", "DIV", "foo-bar",
         "title", "pre", "LI", "Td", "h2"]
    )
    piece = st.one_of(
        st.text(alphabet="ab &<>;/xyz.\t\n 'é&amp;&lt;q\"= ſK", max_size=12),
        tag.map(lambda t: f"<{t}>"),
        tag.map(lambda t: f"</{t}>"),
        tag.map(lambda t: f"</{t} >"),
        tag.map(lambda t: f"<{t} class='x'>"),
        tag.map(lambda t: f"<{t}/>"),
        tag.map(lambda t: f"<{t} a=b/>"),
        tag.map(lambda t: f'<{t} a="x>y">'),
        st.just("&amp;"), st.just("&#65;"), st.just("&"),
        st.just("'"), st.just('"'), st.just("/>"),
    )
    html_s = st.lists(piece, max_size=30).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(html_s)
    def check(src):
        if ex._RISKY_RE.search(src) is not None:
            return
        fast = ex._fast_extract(src)
        if fast is None:
            return  # documented fallback
        p = ex._MainTextParser()
        p.feed(src)
        p.close()
        assert fast == p.result(), repr(src)

    check()
