"""DOM parser: tolerance, offsets, mutation, get_cls parity."""

import pytest

from artexin_spark import dom


def test_basic_tree():
    doc = dom.parse("<html><body><p>hello <b>world</b></p></body></html>")
    p = doc.find("p")
    assert p.text_content() == "hello world"
    assert doc.body.tag == "body"


def test_get_cls():  # artexin/htmlutils.py:22-34
    doc = dom.parse('<span class="foo bar">baz</span>')
    assert dom.get_cls(doc.find("span")) == ["foo", "bar"]
    doc = dom.parse("<span>baz</span>")
    assert dom.get_cls(doc.find("span")) == []


def test_char_offsets_recover_source():
    src = '<div><p>alpha beta</p>\n<p>gamma &amp; delta</p></div>'
    doc = dom.parse(src)
    texts = [t for t in doc.text_nodes() if t.text.strip()]
    assert src[texts[0].start : texts[0].end] == "alpha beta"
    # entity-bearing node: span covers raw source incl. the entity
    assert src[texts[1].start : texts[1].end] == "gamma &amp; delta"
    assert texts[1].text == "gamma & delta"


def test_malformed_never_raises():
    for bad in ["<p>unclosed", "</div>stray", "<a <b>>wat</a>", "", "plain text", "<"]:
        doc = dom.parse(bad)
        assert doc is not None


def test_unclosed_tags_closed_at_eof():
    doc = dom.parse("<div><p>one<p>two")
    ps = doc.find_all("p")
    assert len(ps) == 2  # html.parser nests, but both exist
    assert "one" in doc.text_content() and "two" in doc.text_content()


def test_unwrap_and_decompose():
    doc = dom.parse('<body><a href="/x">foo</a><span>bar</span></body>')
    doc.find("a").unwrap()
    doc.find("span").decompose()
    assert doc.body.to_html() == "<body>foo</body>"


def test_string_semantics():
    # single text child
    assert dom.parse("<title>Foo bar</title>").find("title").string() == "Foo bar"
    # ambiguous (multiple element children) -> None
    assert dom.parse("<h1><b>a</b><i>b</i></h1>").find("h1").string() is None
    # recurses through single wrapper
    assert dom.parse("<h1><span>x</span></h1>").find("h1").string() == "x"


def test_void_and_comment():
    doc = dom.parse("<p>a<br>b<!-- hidden -->c<img src='x'></p>")
    assert doc.find("p").text_content() == "abc"
    assert doc.find("img") is not None


def test_script_style_are_cdata():
    doc = dom.parse("<script>if (a < b) { x(); }</script><p>t</p>")
    assert doc.find("p") is not None
    assert doc.find("script") is not None


def test_text_node_attrs_are_read_only():
    # text nodes share one empty attrs mapping: a write must fail loudly
    # instead of leaking into every text node in the process
    doc = dom.parse("<p>hello</p>")
    text = doc.find("p").children[0]
    assert text.tag is None and text.attrs.get("src") is None
    with pytest.raises(TypeError):
        text.attrs["src"] = "x.png"
