"""HTML → text lanes (functions/html): JVM regex strip + Arrow
boilerplate extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_insights_app_spark.functions.html import (
    extract_main_text,
    html_strip,
)

_PAGE = """<!DOCTYPE html><html><head>
<title>T</title><style>body {color: red}</style>
<script>var x = "<p>not text</p>";</script></head>
<body><!-- comment -->
<nav><a href="/">Home</a> | <a href="/a">About</a> | <a href="/c">Contact</a></nav>
<article>
<h1>Real &amp; Honest Headline</h1>
<p>This is the first paragraph of the actual article content, long
enough to clear any minimum length threshold easily.</p>
<p>Second paragraph with a single <a href="x">inline link</a> inside a
much longer run of ordinary prose that keeps link density low.</p>
</article>
<footer><a href="/p">Privacy</a> <a href="/t">Terms</a></footer>
</body></html>"""


def test_html_strip_jvm_lane(spark):
    df = spark.createDataFrame([(1, _PAGE)], ["doc_id", "html"])
    out = df.select(html_strip("html").alias("t")).collect()[0].t
    assert "Real & Honest Headline" in out
    assert "first paragraph" in out
    assert "var x" not in out and "color: red" not in out
    assert "<" not in out and "-->" not in out
    # no plan should contain a Python eval for this lane
    plan = df.select(html_strip("html")).sparkSession is spark
    assert plan


def test_html_strip_stays_in_codegen(spark):
    df = spark.createDataFrame([(1, _PAGE)], ["doc_id", "html"])
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.select(html_strip("html")).explain("formatted")
    txt = buf.getvalue()
    # no Python-eval operator anywhere in the plan (the ExistingRDD
    # source line mentions python only because createDataFrame made it)
    assert "ArrowEvalPython" not in txt and "BatchEvalPython" not in txt
    assert "MapInPandas" not in txt
    assert "WholeStageCodegen" in txt or "codegen id" in txt


def test_extract_main_text_drops_boilerplate(spark):
    df = spark.createDataFrame([(1, _PAGE)], ["doc_id", "html"])
    row = extract_main_text(df).collect()[0]
    assert "first paragraph" in row.text
    assert "inline link" in row.text  # low-density anchor text survives
    assert "Home" not in row.text and "Privacy" not in row.text
    assert row.n_segments_kept >= 2
    assert row.n_segments_total > row.n_segments_kept
    assert 0 < row.kept_ratio < 1


def test_extract_main_text_link_farm_and_empty(spark):
    farm = "<ul>" + "".join(
        f'<li><a href="/{i}">Some promising spam link number {i} here</a></li>'
        for i in range(20)
    ) + "</ul>"
    df = spark.createDataFrame(
        [(1, farm), (2, ""), (3, None), (4, "<p>plain tiny</p>")],
        ["doc_id", "html"],
    )
    rows = {r.doc_id: r for r in extract_main_text(df).collect()}
    assert rows[1].text == "" and rows[1].kept_ratio == 0.0  # pure link farm
    assert rows[2].text == "" and rows[2].n_segments_total == 0
    assert rows[3].text == ""
    assert rows[4].text == ""  # below min length


def test_extract_feeds_downstream_text_ops(spark):
    """Composition: extracted text flows into the text operators."""
    from market_insights_app_spark.functions.text import tokens

    df = spark.createDataFrame([(1, _PAGE)], ["doc_id", "html"])
    ext = extract_main_text(df)
    n = ext.select(F.size(tokens(F.col("text"))).alias("n")).collect()[0].n
    assert n > 20


def test_html_strip_malformed_inputs(spark):
    cases = [(1, "<p>unclosed"), (2, "a < b and c > d"), (3, "&amp;&#65;"),
             (4, None)]
    df = spark.createDataFrame(cases, ["doc_id", "html"])
    rows = {r.doc_id: r.t for r in df.select(
        "doc_id", html_strip("html").alias("t")).collect()}
    assert rows[1] == "unclosed"
    assert rows[3] == "&"  # decimal entity dropped, &amp; decoded
    assert rows[4] is None


def test_extract_main_text_keep_cols_passthrough(spark):
    """keep_cols rides arbitrary input columns through the Arrow batch
    untouched — original values, original types, appended after the
    extraction columns."""
    df = spark.createDataFrame(
        [(1, _PAGE, "http://a.com/x", 7), (2, None, "http://b.org/y", None)],
        "doc_id long, html string, uri string, fetch_rank int",
    )
    out = extract_main_text(df, keep_cols=("uri", "fetch_rank"))
    assert out.columns == [
        "doc_id", "text", "n_segments_kept", "n_segments_total",
        "kept_ratio", "uri", "fetch_rank",
    ]
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].uri == "http://a.com/x" and rows[1].fetch_rank == 7
    assert rows[2].uri == "http://b.org/y" and rows[2].fetch_rank is None
    assert rows[2].text == ""  # NULL html still emits a reconciled row


def test_extract_outlinks_edge_cases(spark):
    """The codegen href scan: quote styles, attribute order, case,
    fragment cutting, and the deliberate exclusions (relative,
    scheme-relative, mailto/javascript, non-anchor tags)."""
    from pyspark.sql import functions as F

    from market_insights_app_spark.functions.html import extract_outlinks

    page = (
        "<html><body>"
        "<a href='http://a.com/x'>sq</a>"
        '<a href="https://b.com/y?q=1#frag">dq-frag</a>'
        "<a href=http://c.com/bare>unquoted</a>"
        "<A HREF='HTTP://UPPER.com/p'>case</A>"
        "<a class='k' target='_blank' href='http://late.com/z'>late attr</a>"
        "<a href='/relative'>rel</a>"
        "<a href='//cdn.com/scheme-rel'>sr</a>"
        "<a href='mailto:x@y.com'>mail</a>"
        "<a href='javascript:void(0)'>js</a>"
        "<link href='http://not-anchor.com/css'>"
        "<a href='http://a.com/x'>dup</a>"
        "</body></html>"
    )
    df = spark.createDataFrame([(page,)], ["html"])
    (links,) = df.select(
        extract_outlinks("html").alias("links")
    ).collect()[0]
    assert sorted(links) == [
        "HTTP://UPPER.com/p",       # scheme case preserved; matched case-insensitively
        "http://a.com/x",           # deduped
        "http://c.com/bare",
        "http://late.com/z",        # href not the first attribute
        "https://b.com/y?q=1",      # fragment cut, query kept
    ]
    # NULL html and linkless pages yield empty arrays, never NULL rows
    df2 = spark.createDataFrame(
        [(None,), ("<p>no links</p>",)], "html string"
    )
    got = [
        r.n
        for r in df2.select(
            F.size(extract_outlinks("html")).alias("n")
        ).collect()
    ]
    assert got in ([None, 0], [-1, 0], [0, 0])  # NULL/-1/0: engine-dependent size-of-NULL
