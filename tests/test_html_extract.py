"""HTML→text extraction: drop rules, block boundaries, entities,
malformed-HTML recovery, and the Spark mapInArrow path."""

from __future__ import annotations

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.html import (
    extract_text,
    html_to_text,
)


def test_basic_blocks_and_inline():
    html = "<html><body><h1>Title</h1><p>one <b>two</b> three</p><p>four</p></body></html>"
    assert html_to_text(html) == "Title\none two three\nfour"


def test_script_style_head_dropped():
    html = (
        "<html><head><title>t</title><style>p{color:red}</style></head>"
        "<body><script>var x = '<p>not text</p>';</script><p>kept</p>"
        "<noscript>fallback</noscript></body></html>"
    )
    assert html_to_text(html) == "kept"


def test_entities_and_charrefs_decode():
    assert html_to_text("<p>a &amp; b &lt;tag&gt; &#169; caf&eacute;</p>") == (
        "a & b <tag> © café"
    )


def test_whitespace_normalization():
    html = "<p>  a   b\t c  </p><div>\n\n</div><p>d</p>"
    assert html_to_text(html) == "a b c\nd"


def test_attribute_gt_and_comments_do_not_confuse():
    html = (
        '<p data-x="1 > 0">ok</p><!-- a comment with <p>fake</p> -->'
        "<p>real</p>"
    )
    assert html_to_text(html) == "ok\nreal"


def test_malformed_html_recovers():
    # unclosed tags, bare ampersand, stray close — crawl reality
    assert html_to_text("<p>one<p>two & three</i>") == "one\ntwo & three"
    assert html_to_text("") == ""
    assert html_to_text(None) is None


def test_self_closing_br_breaks_line():
    assert html_to_text("<p>a<br/>b</p>") == "a\nb"


def test_extract_text_spark_path(spark):
    df = spark.createDataFrame(
        [
            (1, "<body><h1>A</h1><p>text one</p></body>"),
            (2, "<script>x</script><p>text two</p>"),
            (3, None),
        ],
        "doc_id long, html string",
    )
    out = {r.doc_id: r.text for r in extract_text(df).collect()}
    assert out == {1: "A\ntext one", 2: "text two", 3: None}
    plan = extract_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_unclosed_head_does_not_swallow_the_body():
    """</head> is legally omittable (HTML5) and commonly missing in
    crawl HTML — a depth-tracked 'head' drop container returned '' for
    the whole page. Title/style/script are dropped individually
    instead."""
    assert html_to_text(
        "<html><head><title>T</title><body>Hello world</body></html>"
    ) == "Hello world"
    assert html_to_text(
        "<head><title>T</title><style>a{}</style><p>kept text</p>"
    ) == "kept text"
