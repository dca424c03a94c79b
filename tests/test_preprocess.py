"""Preprocessor contracts from artexin/preprocessors.py doctests +
dispatch semantics from artexin/preprocessor_mappings.py."""

import pytest

from artexin_spark import dom
from artexin_spark.preprocess import (
    MAPPINGS,
    get_prep_names,
    get_preps,
    pp_dwelle,
    pp_fixheaders,
    pp_wikipedia,
    preps_for,
)


# string→string wrappers over the DOM preprocessors, for the doctest vectors


def apply_preps_html(html: str, url: str = "") -> str:
    doc = dom.parse(html)
    for prep in get_preps(url):
        prep(doc)
    return doc.to_html()


def fixheaders_html(html: str) -> str:
    doc = dom.parse(html)
    pp_fixheaders(doc)
    return doc.to_html()


def test_fixheaders_promotes():  # preprocessors.py:33-36
    out = fixheaders_html("<h2>This should be h1</h2><h3>Should be h2</h3>")
    assert out == "<h1>This should be h1</h1><h2>Should be h2</h2>"


def test_fixheaders_noop_when_h1_present():  # preprocessors.py:38-41
    out = fixheaders_html("<h1>This should be h1</h1><h3>But this is not h2</h3>")
    assert out == "<h1>This should be h1</h1><h3>But this is not h2</h3>"


def test_get_preps_dispatch():  # preprocessor_mappings.py:41-44
    assert get_prep_names("http://www.example.com") == ["fixheaders"]
    assert get_prep_names("http://en.wikipedia.org/") == ["wikipedia", "fixheaders"]
    assert get_prep_names("http://www.dw.de/x") == ["dwelle", "fixheaders"]
    # concat semantics: every match appends, catch-all always last
    assert get_preps("https://de.wikipedia.org/wiki/X")[0] is pp_wikipedia
    assert get_preps("anything")[-1] is pp_fixheaders


def test_pp_wikipedia():  # preprocessors.py:59-153
    wiki = (
        "<html><body>"
        '<h1 id="firstHeading" class="firstHeading">Helianthus</h1>'
        '<div id="bodyContent"><div id="mw-content-text">'
        "<p>The sunflower is a large annual forb of the genus Helianthus.</p>"
        '<span class="mw-editsection"><a href="/w/index.php?title=X">edit</a></span>'
        '<table class="navbox"><tr><td>navbox junk</td></tr></table>'
        '<table class="metadata"><tr><td>meta junk</td></tr></table>'
        '<div class="hatnote">For other uses, see X.</div>'
        '<a href="/wiki/Plant">Plant</a>'
        '<a class="image" href="/wiki/File:X.jpg"><img src="/x.jpg"></a>'
        '<div class="thumbcaption">A caption<div class="magnify">zoom</div></div>'
        "</div></div>"
        '<div id="mw-navigation">site navigation</div>'
        "</body></html>"
    )
    doc = dom.parse(wiki)
    pp_wikipedia(doc)
    out = doc.to_html()
    assert "<h1>Helianthus</h1>" in out
    assert "firstHeading" not in out  # original h1 left outside the new body
    assert "edit" not in out
    assert "navbox junk" not in out and "meta junk" not in out
    assert "For other uses" not in out
    assert '<a href="/wiki/Plant">' not in out and "Plant" in out
    assert '<a class="image"' not in out and '<img src="/x.jpg">' in out
    assert '<p class="thumbcaption">' in out and "zoom" not in out
    assert "site navigation" not in out  # body replaced by content div
    # h1's parent is the mw-content-text div (doctest: soup.h1.parent)
    h1 = doc.find("h1")
    assert h1.parent.attrs.get("id") == "mw-content-text"


def test_pp_dwelle():  # preprocessors.py:156-186
    dw = (
        "<html><body>"
        '<h1>Headline</h1>'
        '<p class="intro">The intro text.</p>'
        '<div class="picBox"><a href="/img"><img src="/pic.jpg"></a></div>'
        '<ul class="smallList"><li>first list</li></ul>'
        '<ul class="smallList"><li>Date <strong>Author Name</strong></li></ul>'
        '<div class="longText"><p>Body paragraph one.</p></div>'
        "<div>other page furniture</div>"
        "</body></html>"
    )
    doc = dom.parse(dw)
    pp_dwelle(doc)
    out = doc.to_html()
    assert "Deutsche Welle" in out and "Author Name" not in out
    assert "other page furniture" not in out  # body replaced by longText
    body = doc.find("body")
    assert body is not None
    text = body.text_content()
    assert "Headline" in text and "The intro text." in text
    assert "Body paragraph one." in text


def test_apply_preps_html_chain():
    # wikipedia URL: pp_wikipedia then pp_fixheaders both run
    html = "<body><h2>Only heading</h2><p>text</p></body>"
    out = apply_preps_html(html, "http://www.example.com/a")
    assert "<h1>Only heading</h1>" in out


def test_pp_wikipedia_keeps_content_without_body():
    """A body-less Wikipedia fragment must keep its article content —
    the old order detached div#mw-content-text and never re-attached it,
    silently extracting '' with no error."""
    from artexin_spark.preprocess import get_preps
    from artexin_spark.readability import extract_turn

    frag = (
        '<div id="mw-content-text"><p>A long enough article paragraph, '
        "with commas, that scores well and should extract fine.</p></div>"
    )
    url = "https://en.wikipedia.org/wiki/Foo"
    res = extract_turn(frag, base_url=url, preprocessors=get_preps(url))
    assert res.error is None
    assert "article paragraph" in res.text


def test_empty_source_still_dispatches_catch_all():
    """get_preps('') includes the catch-all fixheaders; the extraction
    batch loop and the golden generator must both apply it (an `if src`
    shortcut on either side silently skipped it for every source-less
    transcript)."""
    import pyarrow as pa

    from artexin_spark.pipeline import extract_arrays

    assert get_prep_names("") == ["fixheaders"]
    assert [f.__name__ for f in preps_for("")] == ["pp_fixheaders"]
    html = "<h3>Only Heading</h3><p>Body text, long enough, with commas, here.</p>"
    out = extract_arrays(pa.array([html]), pa.array([None], pa.string()))
    # fixheaders promoted h3 -> h1, so get_title finds it
    assert out.field("title")[0].as_py() == "Only Heading"


_WIKI_PAGE = (
    "<html><body>"
    '<h1 id="firstHeading">Helianthus</h1>'
    '<div id="mw-content-text">'
    "<p>The sunflower is a large annual forb of the genus Helianthus.</p>"
    '<span class="mw-editsection"><a href="/w/index.php?title=X">edit</a></span>'
    '<a href="/wiki/Plant">Plant</a> <a href="https://example.org/x">ext</a>'
    '<a class="new" href="/w/index.php?title=Red">red link</a>'
    '<a class="image" href="/wiki/File:X.jpg"><img src="/x.jpg"></a>'
    '<div class="thumbcaption">A caption<div class="magnify">zoom</div></div>'
    '<table class="navbox"><tr><td>nav</td></tr></table>'
    '<div class="hatnote">For other uses, see X.</div>'
    "</div></body></html>"
)
_DW_PAGE = (
    "<html><body><h2>Headline</h2>"
    '<p class="intro">The intro text.</p>'
    '<div class="picBox"><a href="/img"><img src="/pic.jpg"></a></div>'
    '<ul class="smallList"><li>first</li></ul>'
    '<ul class="smallList"><li>Date <strong>Author</strong></li></ul>'
    '<div class="longText"><p>Body <a href="/more">more</a>.</p></div>'
    "</body></html>"
)


def _no_links_or_images(html: str) -> str:
    return html.replace("<a", "<b").replace("</a>", "</b>").replace("<img", "<br")


_PREP_CASES = {
    "wikipedia": ("https://en.wikipedia.org/wiki/Helianthus", _WIKI_PAGE),
    # the same shapes with no <a>/<img>: the preps must not create any
    "wikipedia-plain": ("https://en.wikipedia.org/wiki/P", _no_links_or_images(_WIKI_PAGE)),
    "dwelle": ("http://www.dw.de/story", _DW_PAGE),
    "dwelle-plain": ("http://www.dw.de/plain", _no_links_or_images(_DW_PAGE)),
    "fixheaders": ("http://example.com/a", "<h3>T</h3><h4>S <a href='/x'>a</a></h4><img src='y.png'>"),
    "no-source": ("", "<h2>Only heading</h2><p>text</p>"),
}


@pytest.mark.parametrize("url,html", _PREP_CASES.values(), ids=_PREP_CASES.keys())
def test_preps_never_create_unseen_links_or_images(url, html):
    """extract_turn skips the links/images walk when the parser saw no
    <a>/<img> (doc.tags_seen). That holds only while no preprocessor
    CREATES either tag: every <a>/<img> left after the preps must have
    been seen at parse time."""
    doc = dom.parse(html)
    for prep in preps_for(url):
        prep(doc)
    left = {n.tag for n in doc.iter() if n.tag in ("a", "img")}
    assert left <= doc.tags_seen, (left, doc.tags_seen)


def test_tags_seen_cases_cover_every_dispatched_prep():
    # every preprocessor get_preps can dispatch runs in the test above
    dispatched = {p for _, preps in MAPPINGS for p in preps}
    assert dispatched == {p for url, _ in _PREP_CASES.values() for p in preps_for(url)}
