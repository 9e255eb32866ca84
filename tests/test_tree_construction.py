"""Tree-construction conformance beyond the reference's goldens —
canonical WHATWG cases (the html5lib-tests family, reconstructed from
the spec rules) asserted against full-document parse + serialize.

Each expected string is what the spec's algorithm produces (and what
browsers/html5ever emit for the body contents).
"""

import pytest

from nipper_spark.html import parse_document
from nipper_spark.html.serializer import serialize


def body_html(html: str) -> str:
    """Serialize just the <body> subtree (IncludeNode)."""
    arena = parse_document(html)
    # document(0) -> html -> [head, body]
    html_el = [c for c in arena.children_of(0)
               if arena.kind[c] == 4][0]
    body = [c for c in arena.children_of(html_el)
            if arena.name[c] == "body"][0]
    return serialize(arena, body, include_node=True)


CASES = [
    # adoption agency, the classic <b><p> case
    ("aaa-b-p", "<b><p>X</b>Y</p>",
     "<body><b></b><p><b>X</b>Y</p></body>"),
    # reconstruction of active formatting across paragraphs
    ("afe-across-p", "<p><b>one<p>two",
     "<body><p><b>one</b></p><p><b>two</b></p></body>"),
    # li auto-closing
    ("li-autoclose", "<ul><li>a<li>b</ul>",
     "<body><ul><li>a</li><li>b</li></ul></body>"),
    # dd/dt auto-closing
    ("dd-dt", "<dl><dt>t<dd>d</dl>",
     "<body><dl><dt>t</dt><dd>d</dd></dl></body>"),
    # p closed by block elements
    ("p-closed-by-div", "<p>a<div>b</div>",
     "<body><p>a</p><div>b</div></body>"),
    # headings close each other
    ("h1-h2", "<h1>a<h2>b",
     "<body><h1>a</h1><h2>b</h2></body>"),
    # implied tbody + tr/td closing
    ("table-implied-tbody", "<table><tr><td>1<td>2<tr><td>3</table>",
     "<body><table><tbody><tr><td>1</td><td>2</td></tr>"
     "<tr><td>3</td></tr></tbody></table></body>"),
    # foster parenting: stray text inside table goes before it
    ("foster-text", "<table>X<tr><td>1</td></tr></table>",
     "<body>X<table><tbody><tr><td>1</td></tr></tbody></table></body>"),
    # foster parenting of an element
    ("foster-element", "<table><div>d</div><tr><td>1</td></tr></table>",
     "<body><div>d</div><table><tbody><tr><td>1</td></tr></tbody>"
     "</table></body>"),
    # whitespace-only text stays inside the table
    ("table-ws", "<table> <tr><td>1</td></tr></table>",
     "<body><table> <tbody><tr><td>1</td></tr></tbody></table></body>"),
    # button in scope
    ("button-scope", "<button>a<button>b</button>",
     "<body><button>a</button><button>b</button></body>"),
    # nested <a> is split by the adoption agency
    ("nested-a", '<a href="1">x<a href="2">y</a>',
     '<body><a href="1">x</a><a href="2">y</a></body>'),
    # option auto-closing inside select
    ("select-options", "<select><option>a<option>b</select>",
     "<body><select><option>a</option><option>b</option></select></body>"),
    # caption content
    ("table-caption", "<table><caption>c</caption><tr><td>1</table>",
     "<body><table><caption>c</caption><tbody><tr><td>1</td></tr>"
     "</tbody></table></body>"),
    # colgroup/col
    ("table-cols", "<table><colgroup><col><col></colgroup>"
     "<tr><td>1</table>",
     "<body><table><colgroup><col><col></colgroup><tbody><tr>"
     "<td>1</td></tr></tbody></table></body>"),
    # end tags with no open element are ignored
    ("stray-end", "</div>x</span>",
     "<body>x</body>"),
    # </p> with no open p synthesizes an empty one
    ("implied-p", "x</p>y",
     "<body>x<p></p>y</body>"),
    # </br> acts like <br>
    ("end-br", "a</br>b",
     "<body>a<br>b</body>"),
    # nobr nesting triggers AAA
    ("nobr", "<nobr>a<nobr>b",
     "<body><nobr>a</nobr><nobr>b</nobr></body>"),
    # table cell closes on next row
    ("cell-close-row", "<table><tr><td>a<tr><td>b</table>",
     "<body><table><tbody><tr><td>a</td></tr><tr><td>b</td></tr>"
     "</tbody></table></body>"),
    # character reference edge: legacy entity without semicolon
    ("legacy-entity", "<p>a&ampb</p>", "<body><p>a&amp;b</p></body>"),
    # numeric C1 remap (0x92 -> right single quote U+2019)
    ("c1-remap", "<p>&#146;</p>", "<body><p>’</p></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES,
                         ids=[c[0] for c in CASES])
def test_tree_construction(name, inp, expected):
    assert body_html(inp) == expected


# second batch: formatting×tables interactions, comments, odd modes
CASES2 = [
    # formatting element reconstructed inside a cell, not across it
    ("fmt-into-cell", "<b><table><tr><td>x</td></tr></table>y",
     "<body><b><table><tbody><tr><td>x</td></tr></tbody></table>y</b>"
     "</body>"),
    # nested table closes the inner one implicitly
    ("nested-table", "<table><tr><td><table><tr><td>i</table></table>",
     "<body><table><tbody><tr><td><table><tbody><tr><td>i</td></tr>"
     "</tbody></table></td></tr></tbody></table></body>"),
    # comment placement in table mode (stays in the table)
    ("comment-in-table", "<table><!--c--><tr><td>1</table>",
     "<body><table><!--c--><tbody><tr><td>1</td></tr></tbody></table>"
     "</body>"),
    # comment before html -> child of the Document, not body
    ("comment-before-html", "<!--pre--><p>x</p>",
     "<body><p>x</p></body>"),
    # form inside table: element inserted but immediately popped
    ("form-in-table", "<table><form><tr><td>1</table>",
     "<body><table><form></form><tbody><tr><td>1</td></tr></tbody>"
     "</table></body>"),
    # <style> inside table parses in head rules (stays in table, raw)
    ("style-in-table", "<table><style>a<b</style><tr><td>1</table>",
     "<body><table><style>a<b</style><tbody><tr><td>1</td></tr>"
     "</tbody></table></body>"),
    # hidden input allowed inside table without fostering
    ("hidden-input-table", '<table><input type="hidden"><tr><td>1</table>',
     '<body><table><input type="hidden"><tbody><tr><td>1</td></tr>'
     "</tbody></table></body>"),
    # non-hidden input IS fostered
    ("input-fostered", '<table><input type="text"><tr><td>1</table>',
     '<body><input type="text"><table><tbody><tr><td>1</td></tr>'
     "</tbody></table></body>"),
    # headings don't nest
    ("heading-no-nest", "<h1>a<h1>b</h1>",
     "<body><h1>a</h1><h1>b</h1></body>"),
    # <br/> self-closing in HTML content = plain br
    ("br-self-closing", "a<br/>b", "<body>a<br>b</body>"),
    # EOF inside open formatting chain serializes what exists
    ("eof-open-fmt", "<p><b><i>x",
     "<body><p><b><i>x</i></b></p></body>"),
    # textarea swallows markup as text
    ("textarea-raw", "<textarea><p>x</p></textarea>",
     "<body><textarea>&lt;p&gt;x&lt;/p&gt;</textarea></body>"),
    # plaintext consumes everything
    ("plaintext", "<plaintext></plaintext>still text",
     "<body><plaintext></plaintext>still text</plaintext></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES2,
                         ids=[c[0] for c in CASES2])
def test_tree_construction_batch2(name, inp, expected):
    assert body_html(inp) == expected


# batch 3: template contents (separate detached tree, html5ever
# semantics: contents are NOT children — select/text/serialize of the
# main tree never see them) + script escaped-data states
CASES3 = [
    ("template-empty-shell", "<body><template><div>x</div></template><p>y</p>",
     "<body><template></template><p>y</p></body>"),
    ("template-nested",
     "<body><template><template><b>x</b></template><i>y</i></template><s>z</s>",
     "<body><template></template><s>z</s></body>"),
    ("template-in-table",
     "<table><template><tr><td>a</td></tr></template><tr><td>b</table>",
     "<body><table><template></template><tbody><tr><td>b</td></tr>"
     "</tbody></table></body>"),
    ("template-unclosed-eof", "<body><template><div>x",
     "<body><template></template></body>"),
    # script escaped: inner </script> inside <!-- --> still closes
    # (spec: escaped state end tag is an appropriate end tag)
    ("script-escaped-endtag",
     '<body><script><!-- "</script>" --><p>after</p>',
     '<body><script><!-- "</script>" --&gt;<p>after</p></body>'),
    # double-escaped: </script> after an inner <script> is TEXT
    ("script-double-escaped",
     '<body><script><!--<script>x</script>y--></script><p>a</p>',
     '<body><script><!--<script>x</script>y--></script><p>a</p></body>'),
    # --> exits to plain data; the next </script> closes
    ("script-escape-exit",
     "<body><script><!--x-->y</script><p>a</p>",
     "<body><script><!--x-->y</script><p>a</p></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES3,
                         ids=[c[0] for c in CASES3])
def test_tree_construction_batch3(name, inp, expected):
    assert body_html(inp) == expected


# batch 4: foreign content (svg/math) — case adjustment, integration
# points, breakout, rawtext suppression (html5ever parity; seed case is
# the reference's attr_ns tests, tests/html-dom.rs:146-149)
CASES4 = [
    ("svg-attr-ns-roundtrip", '<body><svg xlink:href="bleh"></svg>',
     '<body><svg xlink:href="bleh"></svg></body>'),
    ("svg-tag-attr-case",
     '<body><svg viewbox="0 0 1 1"><foreignobject></foreignobject>'
     "<clippath></clippath><lineargradient></lineargradient></svg>",
     '<body><svg viewBox="0 0 1 1"><foreignObject></foreignObject>'
     "<clipPath></clipPath><linearGradient></linearGradient></svg></body>"),
    ("svg-foreignobject-html",
     "<body><svg><foreignObject><p>hi</p></foreignObject></svg>",
     "<body><svg><foreignObject><p>hi</p></foreignObject></svg></body>"),
    ("svg-title-not-rcdata",
     "<body><svg><title><b>t</b></title></svg>",
     "<body><svg><title><b>t</b></title></svg></body>"),
    ("svg-breakout",
     "<body><svg><circle></circle><p>out</p>",
     "<body><svg><circle></circle></svg><p>out</p></body>"),
    ("svg-font-family-stays",
     '<body><svg><font>in</font></svg>',
     "<body><svg><font>in</font></svg></body>"),
    ("svg-font-color-breaks",
     '<body><svg><font color="r">out</font></svg>',
     '<body><svg></svg><font color="r">out</font></body>'),
    ("math-definitionurl",
     '<body><math definitionurl="u"><mi>x</mi></math>',
     '<body><math definitionURL="u"><mi>x</mi></math></body>'),
    ("math-annotation-xml-html",
     '<body><math><annotation-xml encoding="text/html"><div>h</div>'
     "</annotation-xml></math>",
     '<body><math><annotation-xml encoding="text/html"><div>h</div>'
     "</annotation-xml></math></body>"),
    ("math-text-ip",
     "<body><math><mi><b>x</b></mi></math>",
     "<body><math><mi><b>x</b></mi></math></body>"),
    ("svg-self-closing",
     '<body><svg><circle r="1"/><rect/></svg>',
     '<body><svg><circle r="1"></circle><rect></rect></svg></body>'),
]


@pytest.mark.parametrize("name,inp,expected", CASES4,
                         ids=[c[0] for c in CASES4])
def test_tree_construction_foreign(name, inp, expected):
    assert body_html(inp) == expected


def test_foreign_selectable_case_insensitive():
    from nipper_spark.html import Document
    doc = Document.from_html("<body><svg><foreignObject><p>x</p>"
                             "</foreignObject></svg>")
    assert doc.select("foreignObject").length == 1
    assert doc.select("foreignobject").length == 1
    assert doc.select("svg p").text() == "x"


def test_template_contents_invisible_to_queries():
    from nipper_spark.html import Document
    doc = Document.from_html(
        "<body><template><div class=t>tpl</div></template>"
        "<div id=real>real</div></body>")
    assert doc.select("template div").length == 0
    assert doc.select("div").length == 1
    assert doc.select("template").text() == ""
    assert doc.select("body").text() == "real"


def test_reference_pages_reparse_stable():
    """serialize∘parse is a fixpoint on every real reference page —
    the whole-document analog of the fragment goldens."""
    import os

    from nipper_spark.sources.synthetic import reference_page
    for fname in os.listdir(reference_page()):
        html = open(reference_page(fname), encoding="utf-8").read()
        a1 = parse_document(html)
        out1 = serialize(a1, 0, include_node=True)
        a2 = parse_document(out1)
        out2 = serialize(a2, 0, include_node=True)
        assert out1 == out2, fname


# batch 5: frameset modes
CASES5 = [
    ("frameset-basic",
     "<html><frameset cols='1,1'><frame src=a><frame src=b>"
     "<noframes>nf</noframes></frameset></html>",
     '<frameset cols="1,1"><frame src="a"><frame src="b">'
     "<noframes>nf</noframes></frameset>"),
    ("frameset-nested",
     "<frameset><frameset rows='1'><frame></frameset><frame></frameset>",
     '<frameset><frameset rows="1"><frame></frameset><frame></frameset>'),
    ("frameset-ignored-after-content",
     "<body>text<frameset><frame></frameset>", None),  # body survives
]


@pytest.mark.parametrize("name,inp,expected", CASES5,
                         ids=[c[0] for c in CASES5])
def test_tree_construction_frameset(name, inp, expected):
    arena = parse_document(inp)
    html_el = [c for c in arena.children_of(0) if arena.kind[c] == 4][0]
    kids = {arena.name[c] for c in arena.children_of(html_el)
            if arena.kind[c] == 4}
    if expected is None:
        # frameset_ok was false: body kept, frameset dropped entirely
        assert kids == {"head", "body"}
        assert serialize(arena, 0, include_node=True) == \
            "<html><head></head><body>text</body></html>"
        return
    assert "frameset" in kids and "body" not in kids
    fs = [c for c in arena.children_of(html_el)
          if arena.name[c] == "frameset"][0]
    assert serialize(arena, fs, include_node=True) == expected
    # reparse stability
    out1 = serialize(arena, 0, include_node=True)
    assert serialize(parse_document(out1), 0, include_node=True) == out1


# batch 7: the template insertion-mode STACK (spec "in template" mode;
# html5ever keeps the same per-template mode stack) — observable in the
# CONTENTS fragments, which these cases serialize directly
def _contents(html):
    from nipper_spark.html.serializer import serialize
    from nipper_spark.html.treebuilder import parse_document
    a = parse_document(html)
    return [serialize(a, c, include_node=False)
            for _, c in sorted(a.template_contents.items())]


def test_template_mode_stack():
    # plain flow content: NO implied body wrapper inside the contents
    assert _contents("<template><div>x</div></template>") == ["<div>x</div>"]
    # table-structure tags re-route the template mode: <tr> parses as a
    # row WITHOUT an implied <table>/<tbody> (the spec's pop+push of
    # the current template insertion mode)
    assert _contents("<template><tr><td>c</td></tr></template>") == \
        ["<tr><td>c</td></tr>"]
    assert _contents("<template><td>cell</td></template>") == \
        ["<td>cell</td>"]
    assert _contents("<template><col></template>") == ["<col>"]
    # a FULL misnested table inside a template gets the normal implied
    # tbody (mode re-routes to in_body for <table>, then table rules)
    assert _contents("<template><table><tr><td>m</table></template>") == \
        ["<table><tbody><tr><td>m</td></tr></tbody></table>"]
    # nested templates: inner pops back to the OUTER template's mode
    assert _contents("<template><table><template><tr><td>z") == \
        ["<table><template></template></table>", "<tr><td>z</td></tr>"]
    # after </template> the enclosing mode resumes: the second row
    # belongs to the real table, not the template
    assert _contents(
        "<table><template><tr><td>a</td></tr></template>"
        "<tr><td>b</table>") == ["<tr><td>a</td></tr>"]
    # head-ish tags stay in-template via in-head rules
    assert _contents("<template><meta charset=x><title>t</title>"
                     "</template>") == \
        ['<meta charset="x"><title>t</title>']


def test_stale_afe_entry_fostered_formatting():
    """A fostered same-name formatting element keeps a LATER active-
    formatting entry than the still-open outer one: <b#2> is fostered
    before the table, reconstructed for the post-table text, and the
    single </b> must close the reconstruction while <b#1> stays open
    for 'z'. (Pins the adoption-agency fast path against treating
    'current node name matches' as 'current node is the entry'.)"""
    from nipper_spark.html.serializer import serialize
    from nipper_spark.html.treebuilder import parse_document
    h = '<b id=1><table><b id=2><tr><td>x</td></tr></table>y</b>z'
    assert serialize(parse_document(h), 0, include_node=True) == (
        '<html><head></head><body><b id="1"><b id="2"></b>'
        '<table><tbody><tr><td>x</td></tr></tbody></table>'
        '<b id="2">y</b>z</b></body></html>')


# batch 6: quirks mode (set_quirks_mode, reference src/document.rs)
def test_quirks_table_in_p():
    """Doctype-less documents are quirks mode: <table> does NOT close
    an open <p> (html5ever behavior on legacy pages)."""
    assert body_html("<p>a<table><tr><td>x</table>z") == \
        "<body><p>a<table><tbody><tr><td>x</td></tr></tbody>" \
        "</table>z</p></body>"
    assert body_html("<!DOCTYPE html><p>a<table><tr><td>x</table>z") == \
        "<body><p>a</p><table><tbody><tr><td>x</td></tr></tbody>" \
        "</table>z</body>"
    # non-html doctype name is quirks too
    assert body_html("<!DOCTYPE foo><p>a<table><td>x</table>") == \
        "<body><p>a<table><tbody><tr><td>x</td></tr></tbody>" \
        "</table></p></body>"
    # whitespace/comments before the doctype do NOT force quirks
    assert body_html("<!--c--> <!DOCTYPE html><p>a<table><td>x</table>") \
        == "<body><p>a</p><table><tbody><tr><td>x</td></tr></tbody>" \
        "</table></body>"


def test_quirks_legacy_public_ids():
    """Name='html' legacy doctypes: the WHATWG public-id table decides
    quirks (html5ever ships the same table). HTML 4.01 Transitional
    WITHOUT a system id is quirks; WITH one it is standards mode."""
    QUIRKS = "<body><p>a<table><tbody><tr><td>x</td></tr></tbody>" \
        "</table></p></body>"
    STANDARDS = "<body><p>a</p><table><tbody><tr><td>x</td></tr>" \
        "</tbody></table></body>"
    tail = "<p>a<table><td>x</table>"
    assert body_html(
        '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN">'
        + tail) == QUIRKS
    assert body_html(
        '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" '
        '"http://www.w3.org/TR/html4/loose.dtd">' + tail) == STANDARDS
    assert body_html(
        '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 3.2 Final//EN">'
        + tail) == QUIRKS
    # prefix table applies regardless of system id for the 4.0 family
    assert body_html(
        '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.0 Transitional//EN" '
        '"http://www.w3.org/TR/REC-html40/loose.dtd">' + tail) == QUIRKS
    # case-insensitive match
    assert body_html(
        "<!DOCTYPE html PUBLIC '-//w3c//dtd html 3.2 final//en'>"
        + tail) == QUIRKS
    # exact "html" public id
    assert body_html('<!DOCTYPE html PUBLIC "HTML">' + tail) == QUIRKS
    # the IBM system id
    assert body_html(
        '<!DOCTYPE html SYSTEM '
        '"http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd">'
        + tail) == QUIRKS
    # a modern-ish doctype with an unlisted public id stays standards
    assert body_html(
        '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN" '
        '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd">'
        + tail) == STANDARDS


def test_quirks_mode_tristate():
    """Document.quirks_mode exposes the same tri-state as the
    reference's public field (src/document.rs:26-27; markup5ever
    QuirksMode::{NoQuirks, LimitedQuirks, Quirks})."""
    from nipper_spark.html.document import Document

    def mode(src: str) -> str:
        return Document.from_html(src).quirks_mode

    assert mode("<!DOCTYPE html><p>x") == "no-quirks"
    assert mode("<p>x") == "quirks"                      # missing doctype
    assert mode("<!DOCTYPE foo><p>x") == "quirks"        # non-html name
    assert mode('<!DOCTYPE HTML PUBLIC '
                '"-//W3C//DTD HTML 4.01 Transitional//EN"><p>x') == "quirks"
    # 4.01 Transitional WITH a system id: limited quirks, not standards
    assert mode('<!DOCTYPE HTML PUBLIC '
                '"-//W3C//DTD HTML 4.01 Transitional//EN" '
                '"http://www.w3.org/TR/html4/loose.dtd"><p>x') == \
        "limited-quirks"
    assert mode('<!DOCTYPE html PUBLIC '
                '"-//W3C//DTD XHTML 1.0 Transitional//EN" '
                '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">'
                '<p>x') == "limited-quirks"
    # XHTML 1.0 Frameset/Transitional are limited even without system id
    assert mode('<!DOCTYPE html PUBLIC '
                '"-//W3C//DTD XHTML 1.0 Frameset//EN"><p>x') == \
        "limited-quirks"
    assert mode('<!DOCTYPE html PUBLIC '
                '"-//W3C//DTD XHTML 1.0 Strict//EN" '
                '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd">'
                '<p>x') == "no-quirks"
    # limited-quirks must NOT change tree construction: <table> still
    # closes the open <p> exactly as in no-quirks mode
    assert body_html('<!DOCTYPE html PUBLIC '
                     '"-//W3C//DTD XHTML 1.0 Transitional//EN" '
                     '"http://www.w3.org/TR/xhtml1/DTD/'
                     'xhtml1-transitional.dtd">'
                     "<p>a<table><td>x</table>") == \
        "<body><p>a</p><table><tbody><tr><td>x</td></tr></tbody>" \
        "</table></body>"
    # fragments always parse no-quirks (src/manipulation.rs:25)
    assert Document.fragment("<p>x").quirks_mode == "no-quirks"


# batch 7: classic misnesting/scope cases (spec-derived expected trees;
# behaviors html5ever implements via the same WHATWG algorithms the
# builder follows — adoption agency, implied end tags, element scopes,
# foster parenting, the form pointer, PLAINTEXT's permanent raw state)
BATCH7 = [
    # adoption agency across block boundaries: <a> reopened per block
    ("<a>1<div>2<div>3</a>4",
     "<body><a>1</a><div><a>2</a><div><a>3</a>4</div></div></body>"),
    # AAA: </b> with an open <p> clones the formatting element inside
    ("<b>1<p>2</b>3", "<body><b>1</b><p><b>2</b>3</p></body>"),
    # in-select: <optgroup> closes an open <option>
    ("<select><option>a<optgroup><option>b</select>c",
     "<body><select><option>a</option><optgroup><option>b</option>"
     "</optgroup></select>c</body>"),
    # ruby implied end tags
    ("<ruby><rb>x<rt>y</ruby>",
     "<body><ruby><rb>x</rb><rt>y</rt></ruby></body>"),
    # <image> is translated to <img>
    ("<image src=x>", '<body><img src="x"></body>'),
    # <li> closes <li> but a nested <ul> opens a fresh list scope
    ("<ul><li>a<li>b<ul><li>c</ul>",
     "<body><ul><li>a</li><li>b<ul><li>c</li></ul></li></ul></body>"),
    # <dd>/<dt> mutually imply end tags
    ("<dl><dd>a<dt>b<dd>c</dl>",
     "<body><dl><dd>a</dd><dt>b</dt><dd>c</dd></dl></body>"),
    # nested <form> ignored while the form pointer is set
    ("<form><div><form><input>",
     "<body><form><div><input></div></form></body>"),
    # PLAINTEXT: tokenizer never leaves the state — everything after is
    # literal text of the element (serialized raw)
    ("<plaintext>x</plaintext><b>",
     "<body><plaintext>x</plaintext><b></plaintext></body>"),
    # xmp is raw text
    ("<xmp><b>x</b></xmp>", "<body><xmp><b>x</b></xmp></body>"),
    # <td> inside <caption> closes the caption and opens the row
    ("<table><caption>a<td>b</table>",
     "<body><table><caption>a</caption><tbody><tr><td>b</td></tr>"
     "</tbody></table></body>"),
    # <td> in colgroup mode pops back to in-table and builds the row
    ("<table><colgroup><col><td>x</table>",
     "<body><table><colgroup><col></colgroup><tbody><tr><td>x</td></tr>"
     "</tbody></table></body>"),
    # second <body> tag merges missing attributes only
    ("<body bgcolor=red><body text=blue>x",
     '<body bgcolor="red" text="blue">x</body>'),
    # <option> closes an open <option> outside select too
    ("<option>a<option>b",
     "<body><option>a</option><option>b</option></body>"),
    # inner table closes cleanly; trailing text stays in the outer cell
    ("<table><tr><td><table><tr></table>z</table>",
     "<body><table><tbody><tr><td><table><tbody><tr></tr></tbody>"
     "</table>z</td></tr></tbody></table></body>"),
]


@pytest.mark.parametrize("src,expected", BATCH7,
                         ids=[s[:28] for s, _ in BATCH7])
def test_misnesting_and_scopes(src, expected):
    assert body_html("<!DOCTYPE html>" + src) == expected


def test_parse_errors_surface():
    """Document.errors mirrors the reference's public errors vec
    (src/document.rs:23-24,79-81): empty on clean documents, populated
    at anomaly branches. Strings are engine-specific by design."""
    from nipper_spark.html.document import Document

    def errs(src: str) -> list:
        return Document.from_html(src).errors

    assert errs("<!DOCTYPE html><p>clean</p>") == []
    assert errs("<p>x") == ["expected-doctype-but-got-start"]
    assert errs('<!DOCTYPE HTML PUBLIC '
                '"-//W3C//DTD HTML 3.2 Final//EN"><p>x') == \
        ["quirky-doctype"]
    assert "unexpected-end-tag-br" in errs("<!DOCTYPE html>a</br>b")
    assert "unexpected-start-tag-form" in errs(
        "<!DOCTYPE html><form><div><form>")
    assert "unexpected-start-tag-body" in errs(
        "<!DOCTYPE html><body a=1><body b=2>")
    assert "unexpected-characters-in-table" in errs(
        "<!DOCTYPE html><table>x<td>1</table>")
    assert "unexpected-token-in-table" in errs(
        "<!DOCTYPE html><table><div>d</div><td>1</table>")
    assert "unexpected-end-tag-span" in errs("<!DOCTYPE html>x</span>")
    # misnesting handled by the adoption agency is not double-reported
    # here, but a stray close against a SPECIAL boundary is
    assert "unexpected-end-tag-b" in errs(
        "<!DOCTYPE html><table><tr><td><i>x</td></tr></table></b>")


# batch 8: select-in-table mode + CDATA sections in foreign content
CASES8 = [
    # "in select in table": a table-structure start tag closes the
    # select and reprocesses (here: opens a nested table in the cell)
    ("select-table-start", "<table><tr><td><select><table>",
     "<body><table><tbody><tr><td><select></select><table></table>"
     "</td></tr></tbody></table></body>"),
    # ... and <tr> starts the next row after closing the select
    ("select-table-tr", "<table><tr><td><select><option>a<tr><td>y</table>",
     "<body><table><tbody><tr><td><select><option>a</option></select>"
     "</td></tr><tr><td>y</td></tr></tbody></table></body>"),
    # plain (non-table) select still IGNORES a <table> start tag
    ("select-plain-table", "<select><table>x",
     "<body><select>x</select></body>"),
    # </table> end tag in select-in-table closes select + the table
    ("select-table-end", "<table><tr><td><select></table>z",
     "<body><table><tbody><tr><td><select></select></td></tr></tbody>"
     "</table>z</body>"),
    # CDATA section in foreign content = literal text, no charrefs
    ("cdata-svg", "<svg><![CDATA[<b>raw & stuff]]></svg>",
     "<body><svg>&lt;b&gt;raw &amp; stuff</svg></body>"),
    # unterminated CDATA runs to EOF
    ("cdata-eof", "<svg><![CDATA[unterminated",
     "<body><svg>unterminated</svg></body>"),
    # partial ]] inside the section
    ("cdata-brackets", "<svg><![CDATA[a]]b]]></svg>",
     "<body><svg>a]]b</svg></body>"),
    # in HTML content <![CDATA[ stays a bogus comment
    ("cdata-html-bogus", "<p><![CDATA[x]]></p>",
     "<body><p><!--[CDATA[x]]--></p></body>"),
    # integration-point child (svg desc is SVG-namespace): still CDATA
    ("cdata-desc", "<svg><desc><![CDATA[in desc]]></desc></svg>",
     "<body><svg><desc>in desc</desc></svg></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES8,
                         ids=[c[0] for c in CASES8])
def test_select_in_table_and_cdata(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 9: frameset-ok flag, Noah's Ark clause, attribute charrefs
CASES9 = [
    # frameset after non-ws content: frameset-ok is false -> ignored
    ("frameset-not-ok", "<p>x</p><frameset><frame>",
     "<body><p>x</p></body>"),
    # Noah's Ark: 4 identical <b> in the tree, only 3 reconstruct
    ("noahs-ark", "<p><b><b><b><b>x</p><p>y</p>",
     "<body><p><b><b><b><b>x</b></b></b></b></p>"
     "<p><b><b><b>y</b></b></b></p></body>"),
    # attribute-distinct entries are not 'identical' -> both reconstruct
    ("noahs-ark-attrs", '<p><b a="1"><b a="2">x</p><p>y</p>',
     '<body><p><b a="1"><b a="2">x</b></b></p>'
     '<p><b a="1"><b a="2">y</b></b></p></body>'),
    # attribute charref rule: &not followed by '=' must NOT decode
    ("attr-charref-eq", '<a href="?a=1&not=2">x</a>',
     '<body><a href="?a=1&amp;not=2">x</a></body>'),
    # NUL numeric ref -> U+FFFD; no-semicolon numeric still decodes
    ("nul-and-nosemi", "<p>&#0;&#x41</p>", "<body><p>�A</p></body>"),
    # svg tag-name case adjustment
    ("svg-case-adjust", "<svg><animatemotion></animatemotion>"
     "<feimage></feimage></svg>",
     "<body><svg><animateMotion></animateMotion><feImage></feImage>"
     "</svg></body>"),
    # metadata after </head> re-enters the head
    ("link-after-head", "<head></head> <link><body>x",
     "<body>x</body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES9,
                         ids=[c[0] for c in CASES9])
def test_frameset_ok_afe_charrefs(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_link_after_head_lands_in_head():
    from nipper_spark.html.document import Document
    d = Document.from_html("<!DOCTYPE html><head></head> <link><body>x")
    assert d.select("head").html() == "<head><link></head>"


# batch 10 (round 4): adversarial probes — AAA × foster parenting,
# attribute-charref prefix ambiguity, nested math/svg integration-point
# flips, and insertion-mode handling of stray end tags. All expected
# trees derived from the spec algorithm (html5lib tests1/adoption01/
# adoption02/tests9 families); two initially-wrong expectations
# (reconstruct-ws nesting, </p> in "before html") were corrected to
# what the spec — and this engine — actually produce.
CASES10 = [
    # --- adoption agency x foster parenting ---
    ("foster-fmt-reconstruct", "<table><b><tr><td>x</td></tr></table>y",
     "<body><b></b><table><tbody><tr><td>x</td></tr></tbody></table>"
     "<b>y</b></body>"),
    ("foster-fmt-after-row", "<table><tr><td></td></tr><b></table>x",
     "<body><b></b><table><tbody><tr><td></td></tr></tbody></table>"
     "<b>x</b></body>"),
    ("aaa-two-fmt", "<b>1<i>2<p>3</b>4",
     "<body><b>1<i>2</i></b><i><p><b>3</b>4</p></i></body>"),
    ("aaa-a-p", "<a>1<p>2</a>3</p>",
     "<body><a>1</a><p><a>2</a>3</p></body>"),
    # spec nests the second <p> INSIDE the reconstructed <u>
    ("reconstruct-ws-between-p", "<p><b><i><u></p> <p>x",
     "<body><p><b><i><u></u></i></b></p><b><i><u> <p>x</p></u></i></b>"
     "</body>"),
    ("cell-boundary-marker",
     "<table><tr><td><b>x</td><td>y</td></tr></table>",
     "<body><table><tbody><tr><td><b>x</b></td><td>y</td></tr></tbody>"
     "</table></body>"),
    ("nobr-aaa", "<nobr>x<nobr>y",
     "<body><nobr>x</nobr><nobr>y</nobr></body>"),
    ("a-b-a", "<a><b><a>z",
     "<body><a><b></b></a><b><a>z</a></b></body>"),
    ("foster-charref", "<table>&not;<tr><td>x</table>",
     "<body>¬<table><tbody><tr><td>x</td></tr></tbody></table>"
     "</body>"),
    ("table-in-row", "<table><tr><table>",
     "<body><table><tbody><tr></tr></tbody></table><table></table>"
     "</body>"),
    ("aaa-scoped-out-by-cell", "<b><table><td></b><i></table>x",
     "<body><b><table><tbody><tr><td><i></i></td></tr></tbody></table>"
     "x</b></body>"),
    ("caption-afe-marker", "<b><table><caption><i>x</table>y",
     "<body><b><table><caption><i>x</i></caption></table>y</b></body>"),
    ("fmt-through-caption", "<b><table><caption>x</caption></table>y",
     "<body><b><table><caption>x</caption></table>y</b></body>"),
    # --- attribute charref prefix ambiguity (&not / &notin) ---
    ("text-notit", "<p>&notit;</p>", "<body><p>¬it;</p></body>"),
    ("text-notin", "<p>&notin;</p>", "<body><p>∉</p></body>"),
    ("attr-notit", '<a href="&notit;">x</a>',
     '<body><a href="&amp;notit;">x</a></body>'),
    ("attr-notin-semi", '<a href="&notin;">x</a>',
     '<body><a href="∉">x</a></body>'),
    ("attr-not-semi", '<a href="&not;x">x</a>',
     '<body><a href="¬x">x</a></body>'),
    ("attr-not-space", '<a href="&not x">x</a>',
     '<body><a href="¬ x">x</a></body>'),
    ("text-ampx", "<p>&ampx</p>", "<body><p>&amp;x</p></body>"),
    ("attr-ampx", '<a href="&ampx">x</a>',
     '<body><a href="&amp;ampx">x</a></body>'),
    ("amp-at-eof", "<p>&amp", "<body><p>&amp;</p></body>"),
    ("unknown-named-semi", "<p>&Illig;</p>",
     "<body><p>&amp;Illig;</p></body>"),
    ("surrogate-charref", "<p>&#xD800;</p>",
     "<body><p>�</p></body>"),
    ("c1-remap", "<p>&#x80;&#x9F;</p>",
     "<body><p>€Ÿ</p></body>"),
    # --- nested math/svg integration-point flips ---
    ("ip-svg-math-svg", "<svg><foreignObject><math><mi><svg><g>x",
     "<body><svg><foreignObject><math><mi><svg><g>x</g></svg></mi>"
     "</math></foreignObject></svg></body>"),
    ("ip-annotation-html",
     '<math><annotation-xml encoding="text/html"><p>x',
     '<body><math><annotation-xml encoding="text/html"><p>x</p>'
     '</annotation-xml></math></body>'),
    ("ip-annotation-other-breakout",
     '<math><annotation-xml encoding="foo"><p>x',
     '<body><math><annotation-xml encoding="foo"></annotation-xml>'
     '</math><p>x</p></body>'),
    ("ip-desc-nested-svg", "<svg><desc><svg>x",
     "<body><svg><desc><svg>x</svg></desc></svg></body>"),
    ("ip-mi-div", "<math><mi><div>x",
     "<body><math><mi><div>x</div></mi></math></body>"),
    ("ip-fo-table-svg",
     "<svg><foreignObject><table><tr><td><svg><desc>x",
     "<body><svg><foreignObject><table><tbody><tr><td><svg><desc>x"
     "</desc></svg></td></tr></tbody></table></foreignObject></svg>"
     "</body>"),
    ("ip-mglyph-stays-math", "<math><mi><mglyph>x",
     "<body><math><mi><mglyph>x</mglyph></mi></math></body>"),
    ("svg-title-ip", "<svg><title><b>x</b></title></svg>",
     "<body><svg><title><b>x</b></title></svg></body>"),
    ("mtext-i-svg-desc", "<math><mtext><i><svg><desc>x",
     "<body><math><mtext><i><svg><desc>x</desc></svg></i></mtext>"
     "</math></body>"),
    ("svg-attr-adjust", '<svg viewbox="0 0 1 1"></svg>',
     '<body><svg viewBox="0 0 1 1"></svg></body>'),
    # --- modes, pointers, misc ---
    ("caption-end-table", "<table><caption>x</table>y",
     "<body><table><caption>x</caption></table>y</body>"),
    ("optgroup-autoclose",
     "<select><optgroup><option>a<optgroup><option>b",
     "<body><select><optgroup><option>a</option></optgroup><optgroup>"
     "<option>b</option></optgroup></select></body>"),
    ("form-pointer", "<form><div><form>x",
     "<body><form><div>x</div></form></body>"),
    ("xmp-rawtext", "<xmp><b>x</xmp>", "<body><xmp><b>x</xmp></body>"),
    ("image-to-img", '<p><image src="x">',
     '<body><p><img src="x"></p></body>'),
    ("end-br", "x</br>y", "<body>x<br>y</body>"),
    ("heading-mismatch", "<h1>x</h3>y", "<body><h1>x</h1>y</body>"),
    ("nested-table-cell",
     "<table><tr><td><table><tr><td>i</table>o</table>",
     "<body><table><tbody><tr><td><table><tbody><tr><td>i</td></tr>"
     "</tbody></table>o</td></tr></tbody></table></body>"),
    ("colgroup-closed-by-tr", "<table><colgroup><col><tr><td>x",
     "<body><table><colgroup><col></colgroup><tbody><tr><td>x</td>"
     "</tr></tbody></table></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES10,
                         ids=[c[0] for c in CASES10])
def test_aaa_foster_charref_integration_points(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# stray end tags before body exists: "before html"/"after head" IGNORE
# unknown end tags; only once body is open does the in-body "</p> acts
# as <p> then close" rule fire
STRAY_ENDTAG_CASES = [
    ("p-before-html", "</p>x", "<body>x</body>"),
    ("p-after-head", "<head></head></p>x", "<body>x</body>"),
    ("p-in-body", "<body></p>x", "<body><p></p>x</body>"),
    ("p-after-text", "y</p>x", "<body>y<p></p>x</body>"),
]


@pytest.mark.parametrize("name,inp,expected", STRAY_ENDTAG_CASES,
                         ids=[c[0] for c in STRAY_ENDTAG_CASES])
def test_stray_end_tags_by_mode(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 11 (round 4, second wave): tokenizer corners — CR/CRLF
# normalization, RCDATA vs RAWTEXT charrefs, bogus-comment states,
# comment edge endings, duplicate/end-tag attributes, NUL-in-body.
CASES11 = [
    ("crlf-text", "<pre>a\r\nb\rc</pre>",
     "<body><pre>a\nb\nc</pre></body>"),
    ("cr-attr", '<a href="x\ry">t</a>',
     '<body><a href="x\ny">t</a></body>'),
    ("pre-crlf-lead", "<pre>\r\nx</pre>", "<body><pre>x</pre></body>"),
    ("textarea-cr-lead", "<textarea>\rx</textarea>",
     "<body><textarea>x</textarea></body>"),
    # RCDATA decodes charrefs (textarea); serializer re-escapes
    ("rcdata-charref", "<textarea>&amp;&lt;b&gt;</textarea>",
     "<body><textarea>&amp;&lt;b&gt;</textarea></body>"),
    ("dup-attr", '<a href="1" href="2">x</a>',
     '<body><a href="1">x</a></body>'),
    ("endtag-attrs", '<b>x</b class="y">z', "<body><b>x</b>z</body>"),
    ("self-close-div", "<div/>x", "<body><div>x</div></body>"),
    ("nul-body", "a\x00b", "<body>ab</body>"),
    ("unquoted-attr", "<a href=x=y>t</a>",
     '<body><a href="x=y">t</a></body>'),
    ("upper-tag", "<DiV CLASS=a>x</dIv>",
     '<body><div class="a">x</div></body>'),
    ("lt-nonletter", "a<3 b<=c", "<body>a&lt;3 b&lt;=c</body>"),
    ("eof-in-tag", "x<a href=", "<body>x</body>"),
    # bogus-comment states: <? , </# , <!KEYWORD
    ("pi-bogus", "<body>a<?php echo ?>x",
     "<body>a<!--?php echo ?-->x</body>"),
    ("end-bogus", "<body>a</#junk>x", "<body>a<!--#junk-->x</body>"),
    ("bang-bogus", "<body>a<!ELEMENT x>y",
     "<body>a<!--ELEMENT x-->y</body>"),
    # comment endings: -- inside, abrupt <!--> / <!--->, --!>
    ("comment-dashes", "<body>a<!-- x -- y -->z",
     "<body>a<!-- x -- y -->z</body>"),
    ("comment-abrupt", "<body>a<!-->x", "<body>a<!---->x</body>"),
    ("comment-abrupt2", "<body>a<!--->x", "<body>a<!---->x</body>"),
    ("comment-bang", "<body>a<!-- b --!>x",
     "<body>a<!-- b -->x</body>"),
    ("comment-lt-bang", "<body>a<!--<!-->x",
     "<body>a<!--<!-->x</body>"),
    ("comment-nested-open", "<body>a<!--x<!--y-->z",
     "<body>a<!--x<!--y-->z</body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES11,
                         ids=[c[0] for c in CASES11])
def test_tokenizer_corners(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_rawtext_style_keeps_charref_literal():
    """RAWTEXT (style/script) does NOT decode charrefs — text() shows
    the literal source bytes."""
    from nipper_spark.html.document import Document
    d = Document.from_html("<!DOCTYPE html><head><style>&amp;</style></head>")
    assert d.select("style").text() == "&amp;"


def test_document_level_comments_placement():
    """Comments before <html> / after </html> attach to the DOCUMENT
    node, not body — and serialize in position."""
    assert serialize(parse_document("<!DOCTYPE html><!--c--><p>x"),
                     0, include_node=False) == \
        "<!DOCTYPE html><!--c--><html><head></head><body><p>x</p>" \
        "</body></html>"
    assert serialize(parse_document("<!DOCTYPE html><p>x</p></html><!--t-->"),
                     0, include_node=False) == \
        "<!DOCTYPE html><html><head></head><body><p>x</p></body>" \
        "</html><!--t-->"


# batch 12 (round 4, third wave): frameset-ok unset sites + table-mode
# special insertions. The frameset-ok probes found a REAL bug: none of
# the void/media start tags unset the flag, so <input type=text> (or
# <br>, <hr>, <table>, <pre>, <textarea>, <xmp>, <iframe>, <button>,
# image) left the body replaceable and a following <frameset> wrongly
# replaced it. Fixed at 10 in-body sites; hidden inputs correctly keep
# the flag per the spec's explicit exception.
FRAMESET_OK_CASES = [
    ("hidden-input-keeps-ok",
     '<input type="hidden"><frameset><frame></frameset>',
     '<html><head></head><frameset><frame></frameset></html>'),
    ("text-input-unsets",
     '<input type="text"><frameset><frame></frameset>',
     '<html><head></head><body><input type="text"></body></html>'),
    ("typeless-input-unsets", '<input><frameset><frame></frameset>',
     '<html><head></head><body><input></body></html>'),
    ("br-unsets", '<br><frameset><frame></frameset>',
     '<html><head></head><body><br></body></html>'),
    ("hr-unsets", '<hr><frameset><frame></frameset>',
     '<html><head></head><body><hr></body></html>'),
    ("img-unsets", '<img src="x"><frameset><frame></frameset>',
     '<html><head></head><body><img src="x"></body></html>'),
    ("table-unsets", '<table></table><frameset><frame></frameset>',
     '<html><head></head><body><table></table></body></html>'),
    ("pre-unsets", '<pre></pre><frameset><frame></frameset>',
     '<html><head></head><body><pre></pre></body></html>'),
    ("textarea-unsets",
     '<textarea></textarea><frameset><frame></frameset>',
     '<html><head></head><body><textarea></textarea></body></html>'),
    ("button-unsets", '<button></button><frameset><frame></frameset>',
     '<html><head></head><body><button></button></body></html>'),
    ("ws-only-keeps-ok", ' <frameset><frame></frameset>',
     '<html><head></head><frameset><frame></frameset></html>'),
]


@pytest.mark.parametrize("name,inp,expected", FRAMESET_OK_CASES,
                         ids=[c[0] for c in FRAMESET_OK_CASES])
def test_frameset_ok_unset_sites(name, inp, expected):
    arena = parse_document("<!DOCTYPE html>" + inp)
    html_el = [c for c in arena.children_of(0) if arena.kind[c] == 4][0]
    assert serialize(arena, html_el, include_node=True) == expected


TABLE_SPECIAL_CASES = [
    # spec special cases inside table modes (NOT foster-parented)
    ("hidden-input-in-table",
     '<table><input type="hidden"><tr><td>x</table>',
     '<body><table><input type="hidden"><tbody><tr><td>x</td></tr>'
     '</tbody></table></body>'),
    ("text-input-in-table",
     '<table><input type="text"><tr><td>x</table>',
     '<body><input type="text"><table><tbody><tr><td>x</td></tr>'
     '</tbody></table></body>'),
    ("form-in-table", "<table><form><tr><td>x</table>",
     "<body><table><form></form><tbody><tr><td>x</td></tr></tbody>"
     "</table></body>"),
    ("style-in-table", "<table><style>a{}</style><tr><td>x</table>",
     "<body><table><style>a{}</style><tbody><tr><td>x</td></tr>"
     "</tbody></table></body>"),
    ("script-in-table", "<table><script>s()</script><tr><td>x</table>",
     "<body><table><script>s()</script><tbody><tr><td>x</td></tr>"
     "</tbody></table></body>"),
    # <td> in caption closes the caption and reprocesses
    ("caption-td", "<table><caption><td>x</caption></table>",
     "<body><table><caption></caption><tbody><tr><td>x</td></tr>"
     "</tbody></table></body>"),
    ("title-endtag-attrs", "<head><title>a</title x=1></head>zz",
     "<body>zz</body>"),
    ("title-partial-end", "<head><title>a</titleX></title></head>z",
     "<body>z</body>"),
    ("listing-lf", "<listing>\nx</listing>",
     "<body><listing>x</listing></body>"),
    ("noscript-body", "<body><noscript><p>x</p></noscript>",
     "<body><noscript><p>x</p></noscript></body>"),
]


@pytest.mark.parametrize("name,inp,expected", TABLE_SPECIAL_CASES,
                         ids=[c[0] for c in TABLE_SPECIAL_CASES])
def test_table_special_insertions(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 13: select-mode edges (in-select dispatch + modern hr rule)
SELECT_EDGE_CASES = [
    ("select-in-select", "<select><option>a<select>x",
     "<body><select><option>a</option></select>x</body>"),
    ("select-og-opt", "<select><option>a<optgroup><option>b</select>",
     "<body><select><option>a</option><optgroup><option>b</option>"
     "</optgroup></select></body>"),
    ("option-in-body", "<option>a<option>b",
     "<body><option>a</option><option>b</option></body>"),
    ("input-in-select", "<select><option>a<input>x",
     "<body><select><option>a</option></select><input>x</body>"),
    ("textarea-in-select", "<select><option>a<textarea>t</textarea>",
     "<body><select><option>a</option></select><textarea>t</textarea>"
     "</body>"),
    # current WHATWG: <hr> is a legal separator inside select
    ("hr-in-select", "<select><option>a<hr><option>b</select>",
     "<body><select><option>a</option><hr><option>b</option></select>"
     "</body>"),
    ("hr-closes-optgroup",
     "<select><optgroup><option>a<hr><option>b</select>",
     "<body><select><optgroup><option>a</option></optgroup><hr>"
     "<option>b</option></select></body>"),
]


@pytest.mark.parametrize("name,inp,expected", SELECT_EDGE_CASES,
                         ids=[c[0] for c in SELECT_EDGE_CASES])
def test_select_edges(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 14: tokenizer force-quirks flag (missing/abrupt identifiers,
# bogus DOCTYPE). A probe found the simplified DOCTYPE parser dropped
# the flag entirely, so <!DOCTYPE html PUBLIC> parsed as no-quirks.
FORCE_QUIRKS_CASES = [
    ("<!DOCTYPE html>", "no-quirks"),
    ("<!DOCTYPE html PUBLIC>", "quirks"),
    ("<!DOCTYPE html SYSTEM>", "quirks"),
    ("<!DOCTYPE html junkhere>", "quirks"),
    ("<!DOCTYPE html PUBLIC '-//W3C//DTD HTML 4.01//EN'>", "no-quirks"),
    ("<!DOCTYPE html PUBLIC '-//W3C//DTD HTML 4.01 Transitional//EN'>",
     "quirks"),
    ("<!DOCTYPE html PUBLIC '-//W3C//DTD HTML 4.01 Transitional//EN' "
     "'http://www.w3.org/TR/html4/loose.dtd'>", "limited-quirks"),
    ("<!DOCTYPE html SYSTEM 'about:legacy-compat'>", "no-quirks"),
    ('<!DOCTYPE html PUBLIC "x" junk>', "quirks"),
    ('<!DOCTYPE html PUBLIC "unterminated>', "quirks"),
    # spec: junk after a TERMINATED system id is ignored, no flag
    ('<!DOCTYPE html SYSTEM "s" trailing junk>', "no-quirks"),
    ("<!DOCTYPE>", "quirks"),
    ("<!DOCTYPE foo>", "quirks"),
]


@pytest.mark.parametrize("dt,expected", FORCE_QUIRKS_CASES,
                         ids=[c[0][:40] for c in FORCE_QUIRKS_CASES])
def test_doctype_force_quirks(dt, expected):
    from nipper_spark.html.document import Document
    assert Document.from_html(dt + "<p>x").quirks_mode == expected
    # force-quirks is observable in tree construction, not just the
    # recorded mode: quirks keeps <table> inside an open <p>
    tree = body_html(dt + "<p><table></table>")
    if expected == "quirks":
        assert tree == "<body><p><table></table></p></body>"
    else:
        assert tree == "<body><p></p><table></table></body>"


# head-mode edges confirmed by probe wave 7
HEAD_EDGE_CASES = [
    ("head-in-head", "<head><head><link></head>z", "<body>z</body>"),
    ("body-attr-merge", '<body a="1"><body a="2" b="3">x',
     '<body a="1" b="3">x</body>'),
    ("title-in-body", "<body>a<title>t</title>b",
     "<body>a<title>t</title>b</body>"),
    # svg/math are not head content: break to body
    ("svg-in-head", "<head><svg><g>x</g></svg></head>",
     "<body><svg><g>x</g></svg></body>"),
]


@pytest.mark.parametrize("name,inp,expected", HEAD_EDGE_CASES,
                         ids=[c[0] for c in HEAD_EDGE_CASES])
def test_head_mode_edges(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_html_attr_merge_second_tag():
    from nipper_spark.html.document import Document
    d = Document.from_html(
        '<!DOCTYPE html><html lang="a"><html lang="b" dir="c"><body>x')
    assert d.select("html").attrs() == [("lang", "a"), ("dir", "c")]


def test_head_metadata_stays_in_head():
    from nipper_spark.html.document import Document
    d = Document.from_html(
        "<!DOCTYPE html><head><base href='/x'><bgsound><basefont></head>")
    assert d.select("head").html() == \
        '<head><base href="/x"><bgsound><basefont></head>'


# two more AAA depth pins (adoption01.dat shapes)
AAA_DEPTH_CASES = [
    ("aaa-classic-misnest", "<p>1<b>2<i>3</b>4</i>5",
     "<body><p>1<b>2<i>3</i></b><i>4</i>5</p></body>"),
    ("aaa-across-divs", '<a href="a">x<div>y<div>z</a>w',
     '<body><a href="a">x</a><div><a href="a">y</a>'
     '<div><a href="a">z</a>w</div></div></body>'),
]


@pytest.mark.parametrize("name,inp,expected", AAA_DEPTH_CASES,
                         ids=[c[0] for c in AAA_DEPTH_CASES])
def test_aaa_depth(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# review-pass regressions: frameset-ok stragglers + EOF-in-DOCTYPE
REVIEW_CASES = [
    ("li-unsets-frameset-ok", "<li><frameset><frame></frameset>",
     "<body><li></li></body>"),
    ("dd-unsets-frameset-ok", "<dd><frameset><frame></frameset>",
     "<body><dd></dd></body>"),
    ("end-br-unsets-frameset-ok", "</br><frameset><frame></frameset>",
     "<body><br></body>"),
]


@pytest.mark.parametrize("name,inp,expected", REVIEW_CASES,
                         ids=[c[0] for c in REVIEW_CASES])
def test_frameset_ok_review_stragglers(name, inp, expected):
    assert body_html("<!DOCTYPE html><body>" + inp) == expected


def test_eof_in_doctype_forces_quirks():
    from nipper_spark.html.document import Document
    assert Document.from_html("<!doctype html").quirks_mode == "quirks"
    assert Document.from_html(
        '<!doctype html public "x"').quirks_mode == "quirks"


def test_bare_template_is_head_metadata():
    """A top-level <template> is in-head content: the element lands in
    <head> (with its contents detached), and following text opens the
    body."""
    arena = parse_document("<!DOCTYPE html><template><col></template>z")
    assert serialize(arena, 0, include_node=False) == \
        "<!DOCTYPE html><html><head><template></template></head>" \
        "<body>z</body></html>"


TEMPLATE_TABLE_CASES = [
    # templates inside table modes are NOT foster-parented
    ("template-in-table",
     "<table><template><tr><td>x</td></tr></template></table>",
     "<body><table><template></template></table></body>"),
    ("template-in-row",
     "<table><tr><template><td>a</td></template><td>b</td></table>",
     "<body><table><tbody><tr><template></template><td>b</td></tr>"
     "</tbody></table></body>"),
    ("template-in-cell",
     "<table><tr><td><template><b>x</b></template>y</table>",
     "<body><table><tbody><tr><td><template></template>y</td></tr>"
     "</tbody></table></body>"),
]


@pytest.mark.parametrize("name,inp,expected", TEMPLATE_TABLE_CASES,
                         ids=[c[0] for c in TEMPLATE_TABLE_CASES])
def test_template_in_table_not_fostered(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# marquee/object/applet: scope boundaries + AFE markers
SCOPE_MARKER_CASES = [
    ("marquee-scope", "<b><marquee>x</b>y</marquee>z",
     "<body><b><marquee>xy</marquee>z</b></body>"),
    ("marquee-inner-fmt", "<marquee><b>x</marquee>y",
     "<body><marquee><b>x</b></marquee>y</body>"),
    ("object-scope", "<i><object>x</i>y</object>z",
     "<body><i><object>xy</object>z</i></body>"),
    ("applet-scope", "<tt><applet>a</tt>b</applet>c",
     "<body><tt><applet>ab</applet>c</tt></body>"),
]


@pytest.mark.parametrize("name,inp,expected", SCOPE_MARKER_CASES,
                         ids=[c[0] for c in SCOPE_MARKER_CASES])
def test_scope_marker_elements(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# rawtext/rcdata suppression inside foreign content
FOREIGN_RAWTEXT_CASES = [
    ("svg-textarea-breakout", "<svg><textarea><b>x",
     "<body><svg><textarea></textarea></svg><b>x</b></body>"),
    ("svg-style-is-foreign", "<svg><style>a{}</style><circle></svg>",
     "<body><svg><style>a{}</style><circle></circle></svg></body>"),
    # svg script children tokenize as normal foreign text; the
    # serializer (like html5ever's) treats script literally by LOCAL
    # name, and the output is reparse-stable
    ("svg-script-not-rawtext", "<svg><script>1<2</script></svg>z",
     "<body><svg><script>1<2</script></svg>z</body>"),
    ("svg-title-not-rcdata", "<svg><title><b>x</b></title></svg>",
     "<body><svg><title><b>x</b></title></svg></body>"),
]


@pytest.mark.parametrize("name,inp,expected", FOREIGN_RAWTEXT_CASES,
                         ids=[c[0] for c in FOREIGN_RAWTEXT_CASES])
def test_foreign_rawtext_suppression(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected
    # serialize -> reparse fixpoint holds for these shapes
    out = body_html("<!DOCTYPE html>" + expected.replace(
        "<body>", "").replace("</body>", ""))
    assert out == expected


# degenerate character-reference forms stay literal
CHARREF_DEGENERATE_CASES = [
    ("amp-bare", "<p>a & b</p>", "<body><p>a &amp; b</p></body>"),
    ("amp-semi", "<p>&;x</p>", "<body><p>&amp;;x</p></body>"),
    ("num-empty", "<p>&#;x</p>", "<body><p>&amp;#;x</p></body>"),
    ("hex-empty", "<p>&#x;x</p>", "<body><p>&amp;#x;x</p></body>"),
    ("amp-eof", "<p>&", "<body><p>&amp;</p></body>"),
    ("numref-eof", "<p>&#", "<body><p>&amp;#</p></body>"),
    ("double-amp", "<p>&&amp;</p>", "<body><p>&amp;&amp;</p></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CHARREF_DEGENERATE_CASES,
                         ids=[c[0] for c in CHARREF_DEGENERATE_CASES])
def test_charref_degenerate_forms(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 15 (round 5): optgroup end-tag condition, select text edges,
# isindex-era tokens (plain unknown element today), rcdata end-tag
# whitespace/slash/attr forms, and in-template EOF edges. The optgroup
# case found a real bug: `</optgroup>` with <select><option> open was
# popping the option, but the spec pops it ONLY when the node
# immediately before it on the stack is an optgroup — otherwise the
# token is ignored and following text lands inside the option.
CASES15 = [
    ("end-optgroup-option-top", "<select><option></optgroup>x</select>",
     "<body><select><option>x</option></select></body>"),
    ("end-optgroup-proper",
     "<select><optgroup><option>a</optgroup>b</select>",
     "<body><select><optgroup><option>a</option></optgroup>b"
     "</select></body>"),
    ("end-optgroup-bare", "<select></optgroup>x</select>",
     "<body><select>x</select></body>"),
    ("optgroup-restart",
     "<select><optgroup><option>1<optgroup><option>2</select>",
     "<body><select><optgroup><option>1</option></optgroup>"
     "<optgroup><option>2</option></optgroup></select></body>"),
    ("isindex-plain-element", "<isindex name=q>x",
     '<body><isindex name="q">x</isindex></body>'),
    ("isindex-fostered", "<table><isindex></table>",
     "<body><isindex></isindex><table></table></body>"),
    ("title-endtag-space", "<title>a</title >b",
     "<body>b</body>"),
    ("title-endtag-slash", "<title>a</title/>b",
     "<body>b</body>"),
    ("title-endtag-attr", "<title>a</title id=x>b",
     "<body>b</body>"),
    ("rcdata-almost-endtag", "<textarea>a</textare>b</textarea>c",
     "<body><textarea>a&lt;/textare&gt;b</textarea>c</body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES15,
                         ids=[c[0] for c in CASES15])
def test_tree_construction_batch15(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_template_eof_edges():
    """EOF while the parser is inside template contents: the partial
    subtree stays in the (detached) contents tree, per the spec's
    in-template EOF rule (pop template, pop template insertion modes,
    reprocess)."""
    assert _contents("<template><td>x") == ["<td>x</td>"]
    assert _contents("<table><template><tr>") == ["<tr></tr>"]
    assert _contents("<template><template><p>y") == \
        ["<template></template>", "<p>y</p>"]
    assert _contents("<template><caption>z") == ["<caption>z</caption>"]
    assert _contents("<template><col>") == ["<col>"]
    # <frame> outside frameset is ignored even via the template path
    assert _contents("<template><frame>") == [""]
    assert _contents("<template><select><option>q") == \
        ["<select><option>q</option></select>"]


# batch 16 (round 5, second probe sweep): ruby rt/rp except-rtc rule,
# the form-pointer × template interaction, and the <search> element
# (current-WHATWG block element). THREE real bugs found: (1) rt/rp
# generated implied end tags excepting THEMSELVES instead of rtc, so
# <rtc>a<rt>b closed the rtc instead of nesting; (2) a form inside a
# template set the form element pointer, blocking a later body form
# (the pointer only governs when no template is on the stack, and
# </form> inside a template closes by scope, not pointer); (3) search
# was missing from SPECIAL/close-p/body-end lists, so </search> was
# ignored and it did not close an open <p>.
CASES16 = [
    ("ruby-rtc-rt-nests", "<ruby><rtc>a<rt>b</ruby>",
     "<body><ruby><rtc>a<rt>b</rt></rtc></ruby></body>"),
    ("ruby-rt-rt-siblings", "<ruby><rt>a<rt>b</ruby>",
     "<body><ruby><rt>a</rt><rt>b</rt></ruby></body>"),
    ("ruby-rb-closes-rtc", "<ruby><rtc>a<rb>b</ruby>",
     "<body><ruby><rtc>a</rtc><rb>b</rb></ruby></body>"),
    ("ruby-rp-in-rtc", "<ruby><rtc><rp>a<rp>b</ruby>",
     "<body><ruby><rtc><rp>a</rp><rp>b</rp></rtc></ruby></body>"),
    ("search-closes-p", "<search><p>x</search>y",
     "<body><search><p>x</p></search>y</body>"),
    ("p-closed-by-search", "<p>a<search>b</search>",
     "<body><p>a</p><search>b</search></body>"),
    ("form-after-template", "<template><form><input></template><form>x</form>",
     "<body><form>x</form></body>"),
    ("nested-form-ignored", "<form><form><input>",
     "<body><form><input></form></body>"),
    ("form-in-table-pointer", "<table><form></table><form>",
     "<body><table><form></form></table></body>"),
    ("xmp-keeps-lf", "<xmp>\na</xmp>",
     "<body><xmp>\na</xmp></body>"),
    ("listing-skips-lf", "<listing>\na</listing>",
     "<body><listing>a</listing></body>"),
    ("plaintext-literal", "<plaintext>a<b>c</plaintext>",
     "<body><plaintext>a<b>c</plaintext></plaintext></body>"),
    ("image-renames-to-img", "<image src=x>",
     '<body><img src="x"></body>'),
]


@pytest.mark.parametrize("name,inp,expected", CASES16,
                         ids=[c[0] for c in CASES16])
def test_tree_construction_batch16(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_template_form_contents():
    """A template's form lands in the detached contents tree and does
    not poison the outer form pointer."""
    assert _contents("<template><form><input></template>") == \
        ["<form><input></form>"]


NUL_CASES = [
    # tokenizer NUL handling: U+FFFD in tag/attr names, attr values,
    # comments, DOCTYPE names; IGNORED in in-body text (tree stage)
    ("nul-tagname", "<p\x00q>x", "<body><p�q>x</p�q></body>"),
    ("nul-attrname", "<p i\x00d=a>x",
     '<body><p i�d="a">x</p></body>'),
    ("nul-attrval-dq", '<p id="a\x00b">x',
     '<body><p id="a�b">x</p></body>'),
    ("nul-attrval-unq", "<p id=a\x00b>x",
     '<body><p id="a�b">x</p></body>'),
    ("nul-body-text-ignored", "<p>a\x00b", "<body><p>ab</p></body>"),
    ("nul-endtag-no-match", "<pq>x</p\x00q>",
     "<body><pq>x</pq></body>"),
]


@pytest.mark.parametrize("name,inp,expected", NUL_CASES,
                         ids=[c[0] for c in NUL_CASES])
def test_nul_replacement(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_nul_in_comment_and_foreign():
    from nipper_spark.html.treebuilder import parse_document
    from nipper_spark.html.serializer import serialize
    out = serialize(parse_document("<!--a\x00b-->"), 0, include_node=True)
    assert "<!--a�b-->" in out and "\x00" not in out
    out = serialize(parse_document("<svg><![CDATA[a\x00b]]></svg>"), 0,
                    include_node=True)
    assert "a�b" in out and "\x00" not in out


# batch 17: a clean sweep (no divergences found) pinned anyway —
# body/html attribute merging, after-body comment placement,
# select-in-table structure breakout, hidden inputs not fostered,
# and the spec's any-other-end-tag special-category stop (sarcasm).
def test_body_html_attr_merge():
    from nipper_spark.html import parse_document
    from nipper_spark.html.serializer import serialize
    out = serialize(parse_document(
        "<html id=a><html id=b class=c><body id=x><body id=y "
        "lang=z>t"), 0, include_node=True)
    assert out == ('<html id="a" class="c"><head></head>'
                   '<body id="x" lang="z">t</body></html>')


CASES17 = [
    ("after-body-comment", "<p>x</p></body><!--c-->",
     "<body><p>x</p></body>"),   # comment lands on <html>, not body
    ("select-in-td-tr-breakout",
     "<table><tr><td><select><tr><td>n</table>",
     "<body><table><tbody><tr><td><select></select></td></tr>"
     "<tr><td>n</td></tr></tbody></table></body>"),
    ("input-hidden-not-fostered",
     '<table><input type=hidden><tr><td>x</table>',
     '<body><table><input type="hidden"><tbody><tr><td>x</td></tr>'
     "</tbody></table></body>"),
    ("input-visible-fostered",
     '<table><input type=text><tr><td>x</table>',
     '<body><input type="text"><table><tbody><tr><td>x</td></tr>'
     "</tbody></table></body>"),
    ("sarcasm-special-stop", "<sarcasm><p>x</sarcasm>y",
     "<body><sarcasm><p>xy</p></sarcasm></body>"),
    ("br-end-tag-is-br", "x</br>y", "<body>x<br>y</body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES17,
                         ids=[c[0] for c in CASES17])
def test_tree_construction_batch17(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 18: adoption-agency × foster-parenting interaction found by
# the attribute-tree fuzz suite. The inner <a> runs AAA (outer <a> is
# out of scope past the table boundary → AAA returns after the handler
# removes it from stack+AFE) and the NEW <a> is foster-parented before
# the table — whose parent is the still-in-tree outer <a>. One-pass
# serialize∘parse is therefore not idempotent here (both parses are
# spec-correct); the fuzz suite asserts eventual convergence instead.
CASES18 = [
    ("a-table-a-foster-into-outer", "<a><table><a></a></table></a>",
     "<body><a><a></a><table></table></a></body>"),
    # reparse of the above: no table boundary now, so AAA pops the
    # outer <a> (no furthest block) — nested <a>s become siblings
    ("a-table-a-reparse", "<a><a></a><table></table></a>",
     "<body><a></a><a></a><table></table></body>"),
    # same shape with <b>: AAA no-furthest-block path, fostered <b>
    ("b-table-b-foster", "<b><table><b>x</b></table></b>",
     "<body><b><b>x</b><table></table></b></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES18,
                         ids=[c[0] for c in CASES18])
def test_tree_construction_batch18(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 19: adversarial probe sweep — tokenizer comment endings,
# leading-LF skipping, charref legacy/overflow edges, AAA classics,
# after-head/after-html reprocessing, table section ordering, EOF in
# an open tag. Every expectation hand-derived from the WHATWG spec;
# all matched the engine on first run (no divergences found).
CASES19 = [
    # leading LF skipped in pre/listing/textarea — but ONLY the first
    ("pre-leading-lf", "<pre>\nx</pre>",
     "<body><pre>x</pre></body>"),
    ("pre-leading-lf-once", "<pre>\n\nx</pre>",
     "<body><pre>\nx</pre></body>"),
    ("listing-leading-lf", "<listing>\nx</listing>",
     "<body><listing>x</listing></body>"),
    ("textarea-leading-lf", "<textarea>\nx</textarea>",
     "<body><textarea>x</textarea></body>"),
    # comment endings: --!> closes (with error); <!--> and <!--->
    # are abrupt empty comments
    ("comment-bang-close", "a<!--x--!>b", "<body>a<!--x-->b</body>"),
    ("comment-abrupt-empty", "a<!-->b", "<body>a<!---->b</body>"),
    ("comment-abrupt-dash", "a<!--->b", "<body>a<!---->b</body>"),
    # the html5lib classic: </a> runs AAA across the <p>
    ("aaa-a-p", "<a>1<p>2</a>3</p>",
     "<body><a>1</a><p><a>2</a>3</p></body>"),
    # after-html content reprocessed in body
    ("after-html-start-tag", "<html></html><p>x",
     "<body><p>x</p></body>"),
    # table sections: </tbody> implied before <tfoot>
    ("tbody-then-tfoot",
     "<table><tbody><tr><td>a</tbody><tfoot><tr><td>b</table>",
     "<body><table><tbody><tr><td>a</td></tr></tbody>"
     "<tfoot><tr><td>b</td></tr></tfoot></table></body>"),
    # out-of-range numeric charref -> U+FFFD
    ("charref-overflow", "<p>&#x110000;</p>",
     "<body><p>\N{REPLACEMENT CHARACTER}</p></body>"),
    # <title> inside <svg> stays foreign (no RCDATA switch)
    ("svg-title-foreign", "<svg><title>x</title></svg>",
     "<body><svg><title>x</title></svg></body>"),
    # legacy charref in ATTRIBUTE followed by '='/alnum: NOT expanded
    ("attr-legacy-entity-eq", '<a href="?x&copy=1">t</a>',
     '<body><a href="?x&amp;copy=1">t</a></body>'),
    ("attr-legacy-entity-alnum", '<a href="?x&copy1">t</a>',
     '<body><a href="?x&amp;copy1">t</a></body>'),
    # ...but in TEXT the legacy entity expands (with parse error)
    ("text-legacy-entity-alnum", "x&copy1", "<body>x©1</body>"),
    # EOF inside an attribute value: the whole tag is dropped
    ("eof-in-attr-value", 'a<p id="x', "<body>a</body>"),
    # AAA across a block boundary (furthest-block path)
    ("aaa-b-div", "<b>x<div>y</b>z</div>",
     "<body><b>x</b><div><b>y</b>z</div></body>"),
    # <isindex> is an ordinary unknown element in the current spec
    ("isindex-ordinary", "<isindex>x",
     "<body><isindex>x</isindex></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES19,
                         ids=[c[0] for c in CASES19])
def test_tree_construction_batch19(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


# batch 20: adversarial probe sweep — PLAINTEXT/xmp raw modes, script
# double-escape, form pointer rules, <image> rename, nobr AAA, nested
# select, foreign-content breakout/integration points/CDATA,
# windows-1252 charref remapping, head-after-head, body attr merge,
# caption/colgroup/cell edges, empty-p synthesis (in-body only — in
# "before html" an orphan </p> is correctly IGNORED, which an earlier
# probe misread as a bug). Every expectation hand-derived from the
# WHATWG spec; all matched the engine on first run.
CASES20 = [
    # PLAINTEXT: tokenizer never leaves the state; serializer is raw
    ("plaintext", "<plaintext>a<b>c</plaintext>x",
     "<body><plaintext>a<b>c</plaintext>x</plaintext></body>"),
    # xmp is RAWTEXT: no tags, no charref decoding, raw serialization
    ("xmp-rawtext", "<xmp>a<b>&amp;</xmp>x",
     "<body><xmp>a<b>&amp;</xmp>x</body>"),
    # form element pointer: nested <form> ignored while pointer set
    ("nested-form", "<form><input><form><input></form><input>",
     "<body><form><input><input></form><input></body>"),
    # </form> with null pointer ignored; next <form> opens fresh
    ("form-end-no-pointer", "</form><form>a",
     "<body><form>a</form></body>"),
    # <image> start tag is renamed to <img>
    ("image-rename", "<image src=x>t", '<body><img src="x">t</body>'),
    # second <nobr> with one in scope runs AAA first
    ("nobr-aaa", "<nobr>a<nobr>b</nobr>c",
     "<body><nobr>a</nobr><nobr>b</nobr>c</body>"),
    # <select> inside select acts as </select> (no nesting)
    ("select-nested", "<select><option>a<select><option>b",
     "<body><select><option>a</option></select>"
     "<option>b</option></body>"),
    # foreign <font> WITHOUT color/face/size stays foreign...
    ("math-font-stays", "<math><font>x</font></math>",
     "<body><math><font>x</font></math></body>"),
    # ...but WITH size it breaks out of svg
    ("svg-font-breakout", "<svg><font size=1>x</font></svg>",
     '<body><svg></svg><font size="1">x</font></body>'),
    # CDATA in foreign content: literal text, escaped on serialize
    ("svg-cdata", "<svg><![CDATA[a<b>&amp;]]></svg>",
     "<body><svg>a&lt;b&gt;&amp;amp;</svg></body>"),
    # annotation-xml text/html is an HTML integration point
    ("math-annotation-html",
     "<math><annotation-xml encoding='text/html'><p>x"
     "</annotation-xml></math>",
     '<body><math><annotation-xml encoding="text/html">'
     "<p>x</p></annotation-xml></math></body>"),
    # mtext is a MathML text integration point: <b> is HTML
    ("math-mtext-ip", "<math><mtext><b>x</b></mtext></math>",
     "<body><math><mtext><b>x</b></mtext></math></body>"),
    # C1 charrefs remap through windows-1252
    ("charref-windows1252", "a&#x80;b&#150;c",
     "<body>a\N{EURO SIGN}b\N{EN DASH}c</body>"),
    ("charref-null-num", "a&#0;b",
     "<body>a\N{REPLACEMENT CHARACTER}b</body>"),
    # <head> after head ignored; <meta> in "after head" re-enters head
    ("head-after-head", "<head></head><head><meta>", "<body></body>"),
    # second <body> merges only MISSING attributes
    ("body-attr-merge", "<body a=1><div>x</div><body a=2 b=3>",
     '<body a="1" b="3"><div>x</div></body>'),
    # </td> inside caption is ignored (text keeps flowing)
    ("caption-td-end",
     "<table><caption>a</td>b</caption><tr><td>c</table>",
     "<body><table><caption>ab</caption><tbody><tr><td>c</td></tr>"
     "</tbody></table></body>"),
    ("colgroup-eof", "<table><colgroup><col>",
     "<body><table><colgroup><col></colgroup></table></body>"),
    # <tr> closes the open cell; formatting list cleared to marker
    ("cell-close-on-tr", "<table><tr><td><b>x<tr><td>y</table>",
     "<body><table><tbody><tr><td><b>x</b></td></tr>"
     "<tr><td>y</td></tr></tbody></table></body>"),
    # named charref longest match with and without semicolon
    ("entity-longest-match", "&notin;x &not;in y",
     "<body>\N{NOT AN ELEMENT OF}x \N{NOT SIGN}in y</body>"),
    # </br> acts as <br>
    ("br-end-tag", "a</br>b", "<body>a<br>b</body>"),
    # orphan </p> IN BODY synthesizes an empty p (button scope rule)
    ("p-end-synth", "x</p>y", "<body>x<p></p>y</body>"),
    ("p-end-button-scope", "<button><p>a</button></p>b",
     "<body><button><p>a</p></button><p></p>b</body>"),
    # ...but in "before html" an orphan </p> is ignored entirely
    ("p-end-before-html", "</p>x", "<body>x</body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES20,
                         ids=[c[0] for c in CASES20])
def test_tree_construction_batch20(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_frameset_document():
    """Frameset documents have NO body element; the full-document
    serialization shows head + frameset under html."""
    from nipper_spark.html import Document
    d = Document.from_html("<!DOCTYPE html><frameset><frame></frameset>")
    assert d.html() == ("<!DOCTYPE html><html><head></head>"
                        "<frameset><frame></frameset></html>")


# batch 21: adversarial probe sweep — in-table pending-text batching
# (ws-only stays, any non-ws fosters the WHOLE run), the hidden-input
# exception, table-level style/script/template, in-head-noscript
# (RAWTEXT: html5ever's scripting-enabled default), li/dd scope edges,
# formatting reconstruction across table markers, select-in-table
# breakout. Every expectation hand-derived from the WHATWG spec; all
# matched the engine on first run (a noscript probe initially LOOKED
# divergent, but the raw-text serialization of `<noscript><div>` is
# byte-identical to an element tree — the arena dump confirmed the
# content is ONE text node, the spec tree).
CASES21 = [
    ("table-pending-text-ws", "<table> <td>a</table>",
     "<body><table> <tbody><tr><td>a</td></tr></tbody></table></body>"),
    ("table-pending-text-mixed", "<table> x<td>a</table>",
     "<body> x<table><tbody><tr><td>a</td></tr></tbody></table></body>"),
    ("table-hidden-input", "<table><input type=hidden><td>a</table>",
     '<body><table><input type="hidden"><tbody><tr><td>a</td></tr>'
     "</tbody></table></body>"),
    ("table-visible-input", "<table><input type=text><td>a</table>",
     '<body><input type="text"><table><tbody><tr><td>a</td></tr>'
     "</tbody></table></body>"),
    ("table-script-style",
     "<table><style>s</style><script>j</script><td>a</table>",
     "<body><table><style>s</style><script>j</script>"
     "<tbody><tr><td>a</td></tr></tbody></table></body>"),
    # template contents are a detached fragment (invisible to
    # serialization/queries — the engine's pinned html5ever-rcdom
    # compatible behavior)
    ("table-template",
     "<table><template><td>x</td></template><tr><td>a</table>",
     "<body><table><template></template>"
     "<tbody><tr><td>a</td></tr></tbody></table></body>"),
    ("col-no-colgroup", "<table><col span=2><tr><td>a</table>",
     '<body><table><colgroup><col span="2"></colgroup>'
     "<tbody><tr><td>a</td></tr></tbody></table></body>"),
    ("caption-after-tbody",
     "<table><tbody><tr><td>a</tbody><caption>c</caption></table>",
     "<body><table><tbody><tr><td>a</td></tr></tbody>"
     "<caption>c</caption></table></body>"),
    ("dd-dt-implied", "<dl><dt>a<dd>b<dt>c</dl>",
     "<body><dl><dt>a</dt><dd>b</dd><dt>c</dt></dl></body>"),
    # div is an exception in the li-closing loop: the open div pops
    # WITH the li instead of blocking it
    ("li-div-scope", "<ul><li>a<div><li>b</ul>",
     "<body><ul><li>a<div></div></li><li>b</li></ul></body>"),
    ("li-nested-list", "<ul><li>a<ul><li>b</ul><li>c</ul>",
     "<body><ul><li>a<ul><li>b</li></ul></li><li>c</li></ul></body>"),
    ("fmt-reconstruct", "<p><b>x<p>y",
     "<body><p><b>x</b></p><p><b>y</b></p></body>"),
    # the table's AFM marker blocks reconstruction inside the cell;
    # the still-open <b> swallows the post-table text
    ("fmt-reconstruct-marker", "<b>x<table><td>y</td></table>z",
     "<body><b>x<table><tbody><tr><td>y</td></tr></tbody></table>"
     "z</b></body>"),
    ("button-implies-close", "<button>a<button>b",
     "<body><button>a</button><button>b</button></body>"),
    ("select-table-breakout", "<table><tr><td><select><table>",
     "<body><table><tbody><tr><td><select></select><table></table>"
     "</td></tr></tbody></table></body>"),
    # pending <a>x fosters before the table; the marker keeps 'y' plain
    ("a-in-table-foster", "<table><a>x<td>y</table>",
     "<body><a>x</a><table><tbody><tr><td>y</td></tr></tbody>"
     "</table></body>"),
    ("nested-table-in-cell",
     "<table><tr><td><table><tr><td>i</table>o</table>",
     "<body><table><tbody><tr><td><table><tbody><tr><td>i</td></tr>"
     "</tbody></table>o</td></tr></tbody></table></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES21,
                         ids=[c[0] for c in CASES21])
def test_tree_construction_batch21(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_noscript_is_rawtext_everywhere():
    """noscript follows html5ever's scripting-enabled default: RAWTEXT
    in head AND body — its content is ONE text node (never parsed
    markup), which raw-text serialization makes look like elements."""
    from nipper_spark.html import Document
    d = Document.from_html(
        "<!DOCTYPE html><head><noscript><link><div>x</div></noscript>")
    assert d.select("noscript").text() == "<link><div>x</div>"
    assert d.select("noscript div").size() == 0
    d2 = Document.from_html(
        "<!DOCTYPE html><body><noscript><div>y</div></noscript>")
    assert d2.select("noscript").text() == "<div>y</div>"
    assert d2.select("div").size() == 0


# batch 22: tokenizer-edge probe sweep — bogus-comment entries, EOF in
# tag-open family, duplicate/valueless/quote-edge attributes, doctype
# quirks detection. Found and fixed ONE real divergence: `</` at EOF
# must emit "<" "/" as TEXT (eof-before-tag-name), not a bogus
# comment — the bogus-comment state is entered on a non-alpha
# CHARACTER only. Everything else matched on first run.
CASES22 = [
    ("bogus-comment-endtag", "a</ x>b", "<body>a<!-- x-->b</body>"),
    ("bogus-comment-question", "a<?xml version='1'?>b",
     "<body>a<!--?xml version='1'?-->b</body>"),
    ("dup-attr-first-wins", "<p id=a id=b class=c>x",
     '<body><p id="a" class="c">x</p></body>'),
    ("attr-no-value", "<input disabled>",
     '<body><input disabled=""></body>'),
    ("attr-unquoted-amp", "<a href=a&b=c>x</a>",
     '<body><a href="a&amp;b=c">x</a></body>'),
    # after a quoted value, a bare quote starts a NEW attribute name
    ("attr-quote-after-quoted", "<a title='it''s'>x</a>",
     '<body><a title="it" \'s\'="">x</a></body>'),
    ("tag-attr-case", "<DIV CLASS=UP>x</DIV>",
     '<body><div class="UP">x</div></body>'),
    ("self-closing-nonvoid-ignored", "<div/>x",
     "<body><div>x</div></body>"),
    # EOF in the tag-open family
    ("eof-after-lt", "a<", "<body>a&lt;</body>"),
    ("eof-after-lt-slash", "a</", "<body>a&lt;/</body>"),
    ("eof-after-lt-bang", "a<!", "<body>a<!----></body>"),
    ("lt-nonalpha-is-text", "a<3 b<=c", "<body>a&lt;3 b&lt;=c</body>"),
    ("endtag-attrs-dropped", "<b>x</b id=q>y", "<body><b>x</b>y</body>"),
    ("markup-in-attr", '<a title="<b>not</b>">x</a>',
     '<body><a title="<b>not</b>">x</a></body>'),
]


@pytest.mark.parametrize("name,inp,expected", CASES22,
                         ids=[c[0] for c in CASES22])
def test_tree_construction_batch22(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_quirks_detection_edges():
    """Quirks tri-state per the WHATWG doctype rules: missing doctype
    → quirks; plain 4.01 public id (no Frameset/Transitional suffix)
    is NOT in any quirks list → no-quirks; legacy-compat → no-quirks."""
    from nipper_spark.html import Document
    cases = [
        ("<!DOCTYPE html>", "no-quirks"),
        ("", "quirks"),
        ("<!doctype HTML>", "no-quirks"),
        ("<!DOCTYPE html PUBLIC '-//W3C//DTD HTML 4.01//EN'>",
         "no-quirks"),
        ("<!DOCTYPE html SYSTEM 'about:legacy-compat'>", "no-quirks"),
    ]
    for dt, want in cases:
        assert Document.from_html(dt + "<p>x").quirks_mode == want, dt


# batch 23: adversarial probe sweep — C1/degenerate charrefs, foreign
# integration points (desc/foreignObject/annotation-xml, font
# breakout, mglyph, attribute adjustment), scope markers
# (applet/marquee/caption), nobr AAA, nested select/button, implied
# closes (dt/dd, optgroup, td-without-tr, col), foster-parented
# img/nobr, CR normalization, after-body reprocessing. NO divergences
# found — every case matched the spec on first run (the probe log
# initially mislabeled font size= as a stays-foreign case; size is a
# breakout attribute and the engine was right).
CASES23 = [
    ("c1-charref", "a&#128;b&#x93;c",
     "<body>a€b“c</body>"),
    ("charref-no-semi", "x&#65y", "<body>xAy</body>"),
    ("charref-zero", "a&#0;b", "<body>a�b</body>"),
    ("charref-overrange", "a&#x110000;b", "<body>a�b</body>"),
    ("charref-surrogate", "a&#xD800;b", "<body>a�b</body>"),
    ("select-in-select", "<select><option>a<select><option>b",
     "<body><select><option>a</option></select><option>b</option></body>"),
    ("dt-dd-close", "<dl><dt>a<dd>b<dt>c</dl>",
     "<body><dl><dt>a</dt><dd>b</dd><dt>c</dt></dl></body>"),
    ("button-button", "<button>a<button>b",
     "<body><button>a</button><button>b</button></body>"),
    ("nobr-aaa", "<nobr>a<b>x<nobr>y",
     "<body><nobr>a<b>x</b></nobr><b><nobr>y</nobr></b></body>"),
    ("applet-scope", "<b><applet><i>x</applet>y",
     "<body><b><applet><i>x</i></applet>y</b></body>"),
    ("marquee-scope", "<b>1<marquee>2<b>3</marquee>4",
     "<body><b>1<marquee>2<b>3</b></marquee>4</b></body>"),
    ("cr-normalize", "<p>a\rb\r\nc</p>", "<body><p>a\nb\nc</p></body>"),
    ("cr-attr", '<p title="a\rb\r\nc">x',
     '<body><p title="a\nb\nc">x</p></body>'),
    ("svg-foreignobject",
     "<svg><foreignObject><p>x</p></foreignObject></svg>",
     "<body><svg><foreignObject><p>x</p></foreignObject></svg></body>"),
    ("font-color-breakout", "<svg><font color=red>x</font></svg>",
     '<body><svg></svg><font color="red">x</font></body>'),
    ("font-size-breakout", "<svg><font size=1>x</font></svg>",
     '<body><svg></svg><font size="1">x</font></body>'),
    ("font-noattr-stays", "<svg><font id=q>x</font></svg>",
     '<body><svg><font id="q">x</font></svg></body>'),
    ("mglyph-in-mi", "<math><mi><mglyph>x</mi></math>",
     "<body><math><mi><mglyph>x</mglyph></mi></math></body>"),
    ("svg-attr-adjust", '<svg viewbox="0 0 1 1" attributename="x"></svg>',
     '<body><svg viewBox="0 0 1 1" attributeName="x"></svg></body>'),
    ("math-definitionurl", '<math definitionurl="u"></math>',
     '<body><math definitionURL="u"></math></body>'),
    ("annotation-xml-html",
     '<math><annotation-xml encoding="text/html"><p>x</p>'
     "</annotation-xml></math>",
     '<body><math><annotation-xml encoding="text/html"><p>x</p>'
     "</annotation-xml></math></body>"),
    ("annotation-xml-other",
     '<math><annotation-xml encoding="application/xml"><p>x</p>'
     "</annotation-xml></math>",
     '<body><math><annotation-xml encoding="application/xml">'
     "</annotation-xml></math><p>x</p></body>"),
    ("td-no-tr", "<table><td>x</td></table>",
     "<body><table><tbody><tr><td>x</td></tr></tbody></table></body>"),
    ("caption-scope", "<table><caption><b>x</caption></table>",
     "<body><table><caption><b>x</b></caption></table></body>"),
    ("col-implied", "<table><col span=2><tr><td>a</table>",
     '<body><table><colgroup><col span="2"></colgroup><tbody><tr>'
     "<td>a</td></tr></tbody></table></body>"),
    # keygen: void, as in the reference's html5ever vintage (the
    # element was spec-void until its removal from WHATWG; parity with
    # the reference wins over spec-currency for a dead element)
    ("keygen-void-vintage", "<p><keygen>x",
     "<body><p><keygen>x</p></body>"),
    ("textarea-charref", "<textarea>&amp;\n&notit;</textarea>",
     "<body><textarea>&amp;\n¬it;</textarea></body>"),
    ("plaintext", "<plaintext><b>x</b>",
     "<body><plaintext><b>x</b></plaintext></body>"),
    ("nobr-table-foster", "<table><nobr>x<tr><td>y</td></tr></table>",
     "<body><nobr>x</nobr><table><tbody><tr><td>y</td></tr></tbody>"
     "</table></body>"),
    ("frameset-after-text", "hello<frameset><frame>",
     "<body>hello</body>"),
    ("li-nested-ul", "<ul><li>a<ul><li>b</ul>c</ul>",
     "<body><ul><li>a<ul><li>b</li></ul>c</li></ul></body>"),
    ("form-in-form", "<form><input name=a><form><input name=b></form>",
     '<body><form><input name="a"><input name="b"></form></body>'),
    ("image-in-table", "<table><image src=x></table>",
     '<body><img src="x"><table></table></body>'),
    ("text-after-html-end", "<p>a</html>b", "<body><p>ab</p></body>"),
    ("space-after-body-end", "<p>a</body> \n<!--c-->",
     "<body><p>a \n</p></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES23,
                         ids=[c[0] for c in CASES23])
def test_tree_construction_batch23(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_title_in_before_head_goes_to_head():
    from nipper_spark.html import Document
    d = Document.from_html("<!DOCTYPE html><title>a&lt;b</title><p>x")
    assert d.select("head title").text() == "a<b"
    assert d.select("body title").size() == 0


# batch 24: adversarial probe sweep — in-body optgroup/option end tags,
# second-body/html attribute merges, head re-entry after </head>,
# charref range/surrogate/C1 edges, legacy no-semicolon charrefs in
# text vs attributes, rawtext end-tag attr/solidus forms, select
# breakouts, isindex/menuitem as ordinary unknowns (modern spec), the
# a-in-a table-foster AAA early-return case, form-pointer nesting,
# foreign integration points, table text partitioning. All verified
# spec-by-hand; no engine divergences found this sweep.
CASES24 = [
    ("isindex-modern", "<isindex prompt=p name=n>",
     '<body><isindex prompt="p" name="n"></isindex></body>'),
    ("menuitem-modern", "<menuitem>a</menuitem>b",
     "<body><menuitem>a</menuitem>b</body>"),
    ("optgroup-end-in-body", "<optgroup><option>a</optgroup>b",
     "<body><optgroup><option>a</option></optgroup>b</body>"),
    ("option-siblings-body", "<option>a<option>b",
     "<body><option>a</option><option>b</option></body>"),
    ("listing-leading-lf", "<listing>\nx</listing>",
     "<body><listing>x</listing></body>"),
    ("pre-charref-lf", "<pre>&#x0a;x</pre>",
     "<body><pre>x</pre></body>"),
    ("charref-out-of-range", "<p>&#x110000;",
     "<body><p>\N{REPLACEMENT CHARACTER}</p></body>"),
    ("charref-surrogate", "<p>&#xD800;",
     "<body><p>\N{REPLACEMENT CHARACTER}</p></body>"),
    ("charref-c1-remap", "<p>&#x80;&#x9F;",
     "<body><p>€Ÿ</p></body>"),
    ("charref-null", "<p>&#0;",
     "<body><p>\N{REPLACEMENT CHARACTER}</p></body>"),
    ("legacy-charref-text", "<p>&notin x; &ampx; &amp x",
     "<body><p>¬in x; &amp;x; &amp; x</p></body>"),
    ("legacy-charref-attr", '<p title="&notin x &amp=1 &ampx">y',
     '<body><p title="&amp;notin x &amp;amp=1 &amp;ampx">y</p></body>'),
    ("title-end-tag-attrs", "<title>t</title foo=bar><p>x",
     "<body><p>x</p></body>"),
    ("style-end-tag-solidus", "<style>s</style/><p>x",
     "<body><p>x</p></body>"),
    ("select-input-breakout", "<select><option>a<input name=q>b",
     '<body><select><option>a</option></select><input name="q">b'
     "</body>"),
    ("select-textarea-breakout", "<select><option>a<textarea>t"
     "</textarea>",
     "<body><select><option>a</option></select><textarea>t</textarea>"
     "</body>"),
    ("table-in-td-nested", "<table><tr><td><table><tr><td>i</table>o"
     "</table>",
     "<body><table><tbody><tr><td><table><tbody><tr><td>i</td></tr>"
     "</tbody></table>o</td></tr></tbody></table></body>"),
    ("table-in-caption", "<table><caption>c<table><tr><td>x</table>"
     "</caption></table>",
     "<body><table><caption>c<table><tbody><tr><td>x</td></tr>"
     "</tbody></table></caption></table></body>"),
    ("dt-dd-interleave", "<dl><dt>a<dd>b<dt>c</dl>",
     "<body><dl><dt>a</dt><dd>b</dd><dt>c</dt></dl></body>"),
    ("dt-formatting-reconstruct", "<dl><dt><b>a<dd>b</dl>c",
     "<body><dl><dt><b>a</b></dt><dd><b>b</b></dd></dl><b>c</b>"
     "</body>"),
    # a-in-a via table foster: AAA returns early (a1 not in table
    # scope), in-body <a> then removes a1 from stack+list; a2 fosters
    # into a1's TREE position; after </table> reconstruction clones a2
    # as a sibling (html5lib tests1.dat shape)
    ("a-table-foster-aaa",
     "<a href=1>x<table><a href=2>y<tr><td>z</table>w",
     '<body><a href="1">x<a href="2">y</a><table><tbody><tr><td>z'
     '</td></tr></tbody></table></a><a href="2">w</a></body>'),
    ("p-end-in-button-scope", "<p>a<button></p>b",
     "<body><p>a<button><p></p>b</button></p></body>"),
    ("form-child-of-table", "<table><form><tr><td>x</table>",
     "<body><table><form></form><tbody><tr><td>x</td></tr></tbody>"
     "</table></body>"),
    ("br-end-tag-attrs", "a</br foo=1>b", "<body>a<br>b</body>"),
    ("head-in-body-ignored", "<p>a<head><meta x=1></head>b",
     '<body><p>a<meta x="1">b</p></body>'),
    ("col-outside-table", "<col span=1>x", "<body>x</body>"),
    ("tbody-tfoot-tbody", "<table><tbody><tr><td>a<tfoot><tr><td>b"
     "<tbody><tr><td>c</table>",
     "<body><table><tbody><tr><td>a</td></tr></tbody><tfoot><tr>"
     "<td>b</td></tr></tfoot><tbody><tr><td>c</td></tr></tbody>"
     "</table></body>"),
    ("input-hidden-case-fold", "<table><input type=HIDden name=q>"
     "<tr><td>x</table>",
     '<body><table><input type="HIDden" name="q"><tbody><tr><td>x'
     "</td></tr></tbody></table></body>"),
    ("cdata-outside-foreign", "a<![CDATA[x]]>b",
     "<body>a<!--[CDATA[x]]-->b</body>"),
    ("svg-desc-integration", "<svg><desc><p>x</p></desc></svg>",
     "<body><svg><desc><p>x</p></desc></svg></body>"),
    ("math-mtext-integration", "<math><mtext><p>x</p></mtext></math>",
     "<body><math><mtext><p>x</p></mtext></math></body>"),
    ("svg-cdata-text", "<svg><![CDATA[<b>&amp;]]></svg>",
     "<body><svg>&lt;b&gt;&amp;amp;</svg></body>"),
    ("comment-null-replace", "a<!-- x\x00y -->b",
     "<body>a<!-- x\N{REPLACEMENT CHARACTER}y -->b</body>"),
    ("attr-duplicate-dropped", "<p id=a id=b class=c>x",
     '<body><p id="a" class="c">x</p></body>'),
    ("end-tag-self-closing", "<p>a</p/>b", "<body><p>a</p>b</body>"),
    ("lt-bang-eof", "a<!", "<body>a<!----></body>"),
    ("processing-instruction-bogus", "a<?php x?>b",
     "<body>a<!--?php x?-->b</body>"),
    ("table-ws-text-stays", "<table>  <tr> <td>a</td> </tr>  </table>",
     "<body><table>  <tbody><tr> <td>a</td> </tr>  </tbody></table>"
     "</body>"),
    ("table-mixed-text-fosters", "<table> x <tr><td>a</table>",
     "<body> x <table><tbody><tr><td>a</td></tr></tbody></table>"
     "</body>"),
    ("hr-closes-p", "<p>a<hr>b", "<body><p>a</p><hr>b</body>"),
    ("heading-closes-heading", "<h1>a<h2>b</h2>",
     "<body><h1>a</h1><h2>b</h2></body>"),
    ("form-pointer-blocks-td-form",
     "<form><table><tr><td><form><input></table>",
     "<body><form><table><tbody><tr><td><input></td></tr></tbody>"
     "</table></form></body>"),
    ("button-end-implies-p", "<button><p>a</button>b",
     "<body><button><p>a</p></button>b</body>"),
    ("object-param-nests", "<object><param name=a value=b><p>x"
     "</object>y",
     '<body><object><param name="a" value="b"><p>x</p></object>y'
     "</body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES24,
                         ids=[c[0] for c in CASES24])
def test_tree_construction_batch24(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_second_html_body_merge_attrs():
    from nipper_spark.html import Document
    d = Document.from_html("<!DOCTYPE html><html lang=a>"
                           "<body class=a><body id=b onload=x>t"
                           "<html dir=b>")
    assert d.html() == ('<!DOCTYPE html><html lang="a" dir="b">'
                        '<head></head><body class="a" id="b" '
                        'onload="x">t</body></html>')


def test_meta_after_head_end_reenters_head():
    from nipper_spark.html import Document
    d = Document.from_html("<!DOCTYPE html></head><meta charset=x>"
                           "<p>y")
    assert d.select("head meta").attr("charset") == "x"
    assert d.select("body meta").size() == 0


# batch 25: tokenizer-edge probe sweep — RCDATA/RAWTEXT/script-data
# partial end-tag matches, the script escape/double-escape matrix,
# charrefs in RCDATA, unquoted-attribute parse-error characters (kept),
# NUL per-state handling (ignored in body text, U+FFFD in tag/attr
# names, RCDATA, script data, foreign content), comment -- and --!
# continuations, CR normalization inside comments, numeric charref
# noncharacters/controls kept as-is. Verified spec-by-hand; no engine
# divergences found this sweep.
CASES25 = [
    ("textarea-partial-end", "<textarea>a<b></textarea>c",
     "<body><textarea>a&lt;b&gt;</textarea>c</body>"),
    ("script-lt-slash-stays", "<script>if(a</b)x</script>y",
     "<body>y</body>"),
    ("textarea-rcdata-charrefs",
     "<textarea>&#65;&notit;&unknown;</textarea>",
     "<body><textarea>A¬it;&amp;unknown;</textarea></body>"),
    ("attr-unquoted-error-chars", "<p a=b<c d=e`f g=h'i>x",
     "<body><p a=\"b<c\" d=\"e`f\" g=\"h'i\">x</p></body>"),
    ("attr-slash-ends-empty", "<p a/ b=1>x",
     '<body><p a="" b="1">x</p></body>'),
    ("attr-eq-starts-name", "<p =x>y",
     '<body><p =x="">y</p></body>'),
    ("attr-quote-in-name", '<p a"b=1>x',
     '<body><p a"b="1">x</p></body>'),
    ("cr-in-comment", "a<!-- x\ry -->b",
     "<body>a<!-- x\ny -->b</body>"),
    ("nul-in-body-text-ignored", "a\x00b", "<body>ab</body>"),
    ("nul-in-tag-name", "<p\x00q>x",
     "<body><p\N{REPLACEMENT CHARACTER}q>x"
     "</p\N{REPLACEMENT CHARACTER}q></body>"),
    ("nul-in-attr-name", "<p a\x00b=1>x",
     '<body><p a\N{REPLACEMENT CHARACTER}b="1">x</p></body>'),
    ("nul-in-rcdata", "<textarea>a\x00b</textarea>",
     "<body><textarea>a\N{REPLACEMENT CHARACTER}b</textarea></body>"),
    ("nul-in-foreign", "<svg>a\x00b</svg>",
     "<body><svg>a\N{REPLACEMENT CHARACTER}b</svg></body>"),
    ("self-closing-nonvoid-open", "<p/>x", "<body><p>x</p></body>"),
    ("comment-double-dash-inside", "a<!-- x -- y -->b",
     "<body>a<!-- x -- y -->b</body>"),
    ("comment-bang-continues", "a<!--x--!extra-->b",
     "<body>a<!--x--!extra-->b</body>"),
    ("charref-dec-overflow", "<p>&#99999999999999999999;",
     "<body><p>\N{REPLACEMENT CHARACTER}</p></body>"),
    ("charref-noncharacters-kept", "<p>&#xFDD0;&#x10FFFF;",
     "<body><p>﷐\U0010ffff</p></body>"),
    ("charref-controls-kept", "<p>&#x01;&#x0D;",
     "<body><p>\x01\r</p></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES25,
                         ids=[c[0] for c in CASES25])
def test_tree_construction_batch25(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_rawtext_partial_end_tags_stay_in_head():
    from nipper_spark.html import Document
    d = Document.from_html(
        "<!DOCTYPE html><head><title>a</tit</title>"
        "<style>x</styl</style></head><p>q")
    assert d.select("head title").text() == "a</tit"
    assert d.select("head style").text() == "x</styl"
    assert d.select("body").text() == "q"


def test_script_escape_matrix_contents():
    from nipper_spark.html import Document
    cases = [
        ("<script><!--x--></script>t", "<!--x-->"),
        ("<script><!--<script>a</script>b--></script>t",
         "<!--<script>a</script>b-->"),
        ("<script><!--<script>a--></script>t", "<!--<script>a-->"),
        ("<script>a<!--b</script>t", "a<!--b"),
        ("<script>a\x00b</script>t", "a\N{REPLACEMENT CHARACTER}b"),
    ]
    for html, content in cases:
        d = Document.from_html("<!DOCTYPE html>" + html)
        assert d.select("script").text() == content, html
        assert d.select("body").text() == "t", html


def test_title_amp_at_eof():
    from nipper_spark.html import Document
    d = Document.from_html("<!DOCTYPE html><head><title>a&")
    assert d.select("title").text() == "a&"


# batch 26: insertion-mode edge sweep — colgroup/caption/tbody token
# rerouting, select-in-table breakouts, foreign breakout tags and case
# adjustment, math text-integration points, after-body/after-frameset
# reprocessing, li scope walks. Verified spec-by-hand; no divergences.
CASES26 = [
    ("colgroup-text-fosters", "<table><colgroup>x<col><tr><td>a</table>",
     "<body>x<table><colgroup></colgroup><colgroup><col></colgroup>"
     "<tbody><tr><td>a</td></tr></tbody></table></body>"),
    ("colgroup-closed-by-tr",
     "<table><colgroup><col></colgroup><tr><td>a</table>",
     "<body><table><colgroup><col></colgroup><tbody><tr><td>a</td>"
     "</tr></tbody></table></body>"),
    ("col-pops-tbody", "<table><tbody><col><tr><td>a</table>",
     "<body><table><tbody></tbody><colgroup><col></colgroup><tbody>"
     "<tr><td>a</td></tr></tbody></table></body>"),
    ("caption-implied-end-by-tr", "<table><caption>c<tr><td>x</table>",
     "<body><table><caption>c</caption><tbody><tr><td>x</td></tr>"
     "</tbody></table></body>"),
    ("caption-implied-end-by-table-end",
     "<table><caption>c</table>d",
     "<body><table><caption>c</caption></table>d</body>"),
    ("select-in-td-tr-breakout",
     "<table><tr><td><select><option>a<tr><td>b</table>",
     "<body><table><tbody><tr><td><select><option>a</option></select>"
     "</td></tr><tr><td>b</td></tr></tbody></table></body>"),
    ("select-in-select-closes", "<select><select>x",
     "<body><select></select>x</body>"),
    ("svg-fosters-from-table",
     "<table><svg><circle r=1></svg><tr><td>x</table>",
     '<body><svg><circle r="1"></circle></svg><table><tbody><tr>'
     "<td>x</td></tr></tbody></table></body>"),
    ("math-ignored-in-select", "<select><math><mi>x</mi></math>y",
     "<body><select>xy</select></body>"),
    ("svg-end-tag-case-folds", "<svg><PATH d=z></PATH></svg>a",
     '<body><svg><path d="z"></path></svg>a</body>'),
    ("svg-clippath-adjusted", "<svg><clipPath id=c></clipPath></svg>",
     '<body><svg><clipPath id="c"></clipPath></svg></body>'),
    ("svg-textpath-adjusted", "<svg><textpath href=h>t</textpath></svg>",
     '<body><svg><textPath href="h">t</textPath></svg></body>'),
    ("svg-body-breaks-out", "<svg><g><body>x",
     "<body><svg><g></g></svg>x</body>"),
    ("svg-p-breaks-out", "<svg><g><p>x</p></svg>tail",
     "<body><svg><g></g></svg><p>x</p>tail</body>"),
    ("svg-hr-breaks-out", "<svg><hr></svg>x",
     "<body><svg></svg><hr>x</body>"),
    ("math-ms-text-integration", "<math><ms><p>a</p></ms></math>",
     "<body><math><ms><p>a</p></ms></math></body>"),
    ("template-end-without-open", "</template>x", "<body>x</body>"),
    ("p-after-body-end-reopens", "<p>a</body><p>b",
     "<body><p>a</p><p>b</p></body>"),
    ("ws-after-html-end-into-p", "<p>a</html>  b",
     "<body><p>a  b</p></body>"),
    ("li-closes-through-div", "<ul><li><div>a<li>b</ul>",
     "<body><ul><li><div>a</div></li><li>b</li></ul></body>"),
    ("li-in-td-scoped", "<ul><li>a<table><tr><td><li>b</table>c</ul>",
     "<body><ul><li>a<table><tbody><tr><td><li>b</li></td></tr>"
     "</tbody></table>c</li></ul></body>"),
]


@pytest.mark.parametrize("name,inp,expected", CASES26,
                         ids=[c[0] for c in CASES26])
def test_tree_construction_batch26(name, inp, expected):
    assert body_html("<!DOCTYPE html>" + inp) == expected


def test_after_frameset_modes():
    from nipper_spark.html import Document
    d = Document.from_html("<!DOCTYPE html><frameset></frameset>"
                           "<noframes>x</noframes>y")
    assert d.html() == ("<!DOCTYPE html><html><head></head><frameset>"
                        "</frameset><noframes>x</noframes></html>")
    d2 = Document.from_html("<!DOCTYPE html><frameset></frameset>abc")
    assert d2.html() == ("<!DOCTYPE html><html><head></head>"
                         "<frameset></frameset></html>")


def test_fragment_context_tokenizer_states():
    """WHATWG 13.4 step 2 (engine extension beyond the reference's
    context-'' parse_html!): rawtext/RCDATA/script-data/PLAINTEXT
    context elements start the fragment tokenizer in their text state;
    the context name is the appropriate end tag that exits it."""
    from nipper_spark.html.serializer import serialize
    from nipper_spark.html.treebuilder import parse_fragment

    def frag(h, ctx):
        return serialize(parse_fragment(h, context=ctx), 1,
                         include_node=False)

    assert frag("<b>x</b>", "title") == "&lt;b&gt;x&lt;/b&gt;"
    assert frag("x</title><b>y</b>", "title") == "x<b>y</b>"
    assert frag("&amp;<b>", "textarea") == "&amp;&lt;b&gt;"
    assert frag("a<!--b", "script") == "a&lt;!--b"
    assert frag("a</script><p>q", "script") == "a<p>q</p>"
    assert frag("x</p>", "style") == "x&lt;/p&gt;"
    assert frag("<p>never</p>", "noframes") == "&lt;p&gt;never&lt;/p&gt;"
    assert frag("a</plaintext><b>", "plaintext") == \
        "a&lt;/plaintext&gt;&lt;b&gt;"
    assert frag("1<2", "xmp") == "1&lt;2"
    # non-text contexts keep building trees
    assert frag("<p>still works</p>", "body") == "<p>still works</p>"
    assert frag("<tr><td>a", "table") == \
        "<tbody><tr><td>a</td></tr></tbody>"


def test_fragment_context_mode_resets_html_frameset():
    """Reset-the-insertion-mode steps 14/15 for the engine's context=
    extension: frameset context parses in 'in frameset' (non-frame
    content ignored); html context starts 'before head' and
    materializes the head/body chain under the fragment root."""
    from nipper_spark.html.serializer import serialize
    from nipper_spark.html.treebuilder import parse_fragment

    def frag(h, ctx):
        return serialize(parse_fragment(h, context=ctx), 1,
                         include_node=False)

    assert frag("<frame src=a><p>x", "frameset") == '<frame src="a">'
    assert frag("<frameset cols=2><frame></frameset>", "frameset") == \
        '<frameset cols="2"><frame></frameset>'
    assert frag("<head><title>t</title></head><body>b</body>",
                "html") == "<head><title>t</title></head><body>b</body>"
    assert frag("x", "html") == "<head></head><body>x</body>"


def test_fragment_context_foreign_svg_math():
    """Foreign fragment contexts (svg/math innerHTML): with only the
    synthetic root on the stack the ADJUSTED current node is the
    context element, so children case-adjust, self-close, take CDATA
    sections, and HTML breakout tags escape to HTML content."""
    from nipper_spark.html.serializer import serialize
    from nipper_spark.html.treebuilder import parse_fragment

    def frag(h, ctx):
        return serialize(parse_fragment(h, context=ctx), 1,
                         include_node=False)

    assert frag("<foreignobject><p>a</p></foreignobject>", "svg") == \
        "<foreignObject><p>a</p></foreignObject>"
    assert frag("<clippath id=c>x</clippath>", "svg") == \
        '<clipPath id="c">x</clipPath>'
    assert frag("<circle/><rect/>", "svg") == \
        "<circle></circle><rect></rect>"
    assert frag("<![CDATA[<b>]]>", "svg") == "&lt;b&gt;"
    assert frag("<p>breaks out</p>", "svg") == "<p>breaks out</p>"
    assert frag("<mi>x</mi>", "math") == "<mi>x</mi>"
    assert frag("<p>html stays</p>", "body") == "<p>html stays</p>"


def test_select_fragment_scope_guards():
    """In-select close/reprocess rules require 'select in select
    scope'; in a select-context FRAGMENT the context element is never
    on the stack, so <select>/</select>/<input>/<keygen>/<textarea>
    must be ignored instead of draining the synthetic root (found by
    the extended fuzz: empty-stack crash on <select><option> after a
    stray <select>)."""
    from nipper_spark.html.serializer import serialize
    from nipper_spark.html.treebuilder import parse_fragment

    def frag(h):
        return serialize(parse_fragment(h, context="select"), 1,
                         include_node=False)

    assert frag("<select><option>x") == "<option>x</option>"
    assert frag("</select><option>a<input><option>b") == \
        "<option>a</option><option>b</option>"
    assert frag("<option>a<textarea>t") == "<option>at</option>"
    assert frag("<keygen><option>k") == "<option>k</option>"
    # document parsing unchanged: input still breaks out of a REAL
    # select (batch 24 pins the full form)
    assert body_html("<!DOCTYPE html><select><option>a<input name=q>"
                     ) == ('<body><select><option>a</option></select>'
                           '<input name="q"></body>')


def test_fragment_root_survives_head_end_tag():
    """Fragment backstop: spec end-tag rules written for document flow
    can pop the synthetic root in exotic contexts (head-context
    `</head>`, found by the extended fuzz); the builder restores the
    root + context mode so later tokens still have a tree to build."""
    from nipper_spark.html.serializer import serialize
    from nipper_spark.html.treebuilder import parse_fragment
    a = parse_fragment("<base href=u></head><meta charset=x><p>t",
                       context="head")
    out = serialize(a, 1, include_node=False)
    assert '<base href="u">' in out and 'charset="x"' in out
    a2 = parse_fragment("</head></head><title>t</title>", context="head")
    assert "<title>t</title>" in serialize(a2, 1, include_node=False)
