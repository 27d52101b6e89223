"""D4 (XML) and D5 (clean-HTML) formatter semantics tests."""

from web_scraper_spark.html.htmlfmt import (
    format_html_body,
    format_html_document,
)
from web_scraper_spark.html.xmlfmt import (
    format_xml_document,
    sanitize_attr_name,
    sanitize_tag_name,
)


def test_xml_structure_and_metadata():
    x = format_xml_document("T", "https://h/x", "<p>body text</p>", {"og_title": "OT"})
    assert x.startswith('<?xml version="1.0" ?>')
    assert "<content>" in x and "<metadata>" in x
    assert "<title>T</title>" in x
    assert "<open_graph>" in x and "<title>OT</title>" in x
    assert "body text" in x


def test_xml_double_escape_quirk():
    # reference html.escape + ET serialization double-escapes entities
    x = format_xml_document("T", "u", "<p>a &amp; b</p>")
    assert "a &amp;amp; b" in x


def test_xml_document_root_quirk():
    # the parsed doc root flows through as a sanitized <_document_> tag
    x = format_xml_document("T", "u", "<p>hello</p>")
    assert "<_document_>" in x


def test_xml_skip_and_empty_rules():
    x = format_xml_document("T", "u", "<div><script>s</script><p></p><p>keep</p><br/></div>")
    assert "script" not in x
    assert "keep" in x
    # empty <p> skipped; br survives the empty-skip exemption
    assert x.count("<p>") == 1


def test_xml_attr_projection_and_rename():
    x = format_xml_document(
        "T", "u", '<p class="c" data-x="1" id="i" aria-label="L">t</p>'
    )
    assert 'class_attr="c"' in x
    assert 'id="i"' in x
    assert "data-x" not in x
    assert 'aria-label="L"' in x


def test_xml_error_document():
    x = format_xml_document("Ti", "https://h/x", "")
    assert x == '<?xml version="1.0" ?>\n<error url="https://h/x">Ti</error>'


def test_xml_name_sanitizers():
    assert sanitize_tag_name("[document]") == "_document_"
    assert sanitize_tag_name("1abc") == "tag_1abc"
    assert sanitize_attr_name("class") == "class_attr"
    assert sanitize_attr_name("for") == "for_attr"
    assert sanitize_attr_name("9x") == "attr_9x"


def test_html_raw_mode_comments_header():
    h = format_html_document("Ti", "https://h/x", "<p>c</p>", add_boilerplate=False)
    assert h.startswith("<!-- Title: Ti -->\n<!-- Source: https://h/x -->")
    assert "c" in h


def test_html_boilerplate_mode():
    h = format_html_document(
        "Ti", "https://h/x", "<p>c</p>", {"og_description": "D"}, add_css=True
    )
    assert h.startswith("<!DOCTYPE html>")
    assert '<meta name="description" content="D">' in h
    assert "<style>" in h
    assert 'class="source-link"' in h
    assert h.endswith("</body>\n</html>")


def test_html_error_document():
    h = format_html_document("Ti", "https://h/x", "")
    assert h == "<!-- Error fetching content from https://h/x -->\n<h1>Ti</h1>"


def test_html_attr_whitelist_wider_than_clean():
    # Q11: html formatter keeps title/id/class unlike the D1 clean stage
    h = format_html_body('<div><p id="i" class="c" title="t" onclick="x">y</p><p>z</p></div>')
    assert 'id="i"' in h and 'class="c"' in h and 'title="t"' in h
    assert "onclick" not in h


def test_html_drop_set_nested_and_sibling():
    # every DROP_TAGS_HTML tag goes with its subtree, nested inside
    # another dropped tag or not; comments stay in the tree (a
    # comment-only element still renders) but never print
    h = format_html_body(
        '<main><div id="a" onclick="x"><script>var a=1;</script>'
        '<p class="k" style="c">one<style>p{}</style><b>two</b></p>'
        '<noscript><iframe src="/f"></iframe><p>ns</p></noscript>'
        '<!-- keep me --><object data="o"><embed src="e.swf"><p>fallback</p>'
        '</object></div><embed src="s.swf">'
        "<section><!-- only a comment --><script>x()</script></section>"
        '<p title="t">three<iframe></iframe></p><style>x{}</style></main>'
    )
    assert h == (
        '<main>\n  <div id="a">\n    <p class="k">\n      one\n'
        "      <b>two</b>\n    </p>\n  </div>\n  <section>\n  </section>\n"
        '  <p title="t">\n    three\n  </p>\n</main>'
    )


def test_html_block_indentation():
    h = format_html_body("<main><div><p>a</p></div><p>b</p></main>")
    lines = h.split("\n")
    assert lines[0] == "<main>"
    assert lines[1] == "  <div>"
    assert lines[2] == "    <p>"
    assert lines[3] == "      a"
    assert lines[4] == "    </p>"
    assert lines[-1] == "</main>"


def test_html_self_closing_drops_children():
    h = format_html_body('<p><img src="/x.png"/></p>')
    assert "<img src=" in h
    assert "</img>" not in h


def test_html_inline_single_text_one_line():
    h = format_html_body("<main><div><b>bold</b><i>it</i></div></main>")
    assert "<b>bold</b>" in h and "<i>it</i>" in h


def test_html_main_content_cascade():
    h = format_html_body("<body><p>out</p><main><p>in</p></main></body>")
    assert "in" in h and "out" not in h


# ---------------------------------------------------------------------
# D3 tail: '## Images' section with image-map-resolved paths
# (reference markdown_formatter.py:64-83).
# ---------------------------------------------------------------------

def test_markdown_images_section_reference_shape():
    from web_scraper_spark.html.markdown import format_markdown_document

    images = [
        {"url": "https://h/a.png", "alt": "A pic"},
        {"url": "https://h/b.png", "alt": ""},       # blank alt -> 'Image'
        {"url": "https://h/c.png"},                   # missing alt -> 'Image'
    ]
    image_map = {"https://h/a.png": "images/a_local.png"}
    doc = format_markdown_document(
        "T", "https://h/x", "<main><p>body</p></main>",
        date="2024-01-01", images=images, image_map=image_map,
    )
    assert doc.endswith(
        "\n\n## Images\n\n"
        "![A pic](images/a_local.png)\n"
        "![Image](https://h/b.png)\n"
        "![Image](https://h/c.png)"
    )
    # no images -> no section; include_images=False -> no section
    assert "## Images" not in format_markdown_document(
        "T", "https://h/x", "<p>b</p>", images=[]
    )
    assert "## Images" not in format_markdown_document(
        "T", "https://h/x", "<p>b</p>", images=images, include_images=False
    )
