"""html -> text extraction operator (ops/htmltext.py): wrapper round-trip
(the north rule's byte-identical-text-per-url invariant through the html
path), codegen/Python wrapper twin parity, boilerplate/entity semantics,
plan hygiene, and flagship parity when extraction starts from html."""

import pytest
from pyspark.sql import functions as F

from eventrelationextractor_spark import datagen
from eventrelationextractor_spark import fixtures as fx
from eventrelationextractor_spark.ops import htmltext

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")


def test_wrap_html_codegen_twin_matches_python(spark):
    """wrap_html_expr must produce byte-identical html to
    datagen.wrap_html - both are built from WRAP_TEMPLATE."""
    texts = ["\n".join(datagen.synth_txp_lines(d)) for d in range(4)]
    texts.append("specials & <angle> \"quotes\" 'apos'\ttab &amp; pre-escaped")
    rows = [(f"{i:08d}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "key string, text string")
    got = df.select(htmltext.wrap_html_expr(F.col("text"),
                                            F.col("key")).alias("h")).collect()
    for (key, text), r in zip(rows, got):
        assert bytes(r.h) == datagen.wrap_html(text, key)


def test_roundtrip_byte_identical_on_synth_and_fixture_pages(spark):
    """html_to_text(wrap_html(text)) == text for every synthetic page and
    every vendored reference fixture (real-news characters included)."""
    pages = datagen.synth_pages(25) + fx.fixture_pages(
        sorted(set(fx.TEMPORAL_FIXTURES) | set(fx.CAUSAL_FIXTURES)))
    df = spark.createDataFrame(pages, PAGES_SCHEMA)
    out = htmltext.html_to_text(
        df.select("url", "html", F.col("text").alias("want")), out_col="got")
    assert out.filter((F.col("got") != F.col("want"))
                      | F.col("got").isNull()).count() == 0


def test_roundtrip_adversarial_payloads(spark):
    """The escape/unescape pair must neutralize payloads that LOOK like
    markup: the wrapper escapes < > & so no payload byte can terminate
    the <pre> block or inject boilerplate-like elements."""
    texts = [
        "text containing </pre> early close",
        "a <script>alert(1)</script> inside",
        "<nav>fake nav</nav> and <footer>fake</footer>",
        "pre-escaped &amp;lt; stays double-escaped",
        "tabs\tand\nnewlines\r\nand  double  spaces",
        "unicode: café — 日本語 \U0001f600",
        "quotes \" and ' and backslash \\ and |pipes|",
        "<article id=\"x\">nested article markers</article>",
        "",                      # empty payload
        " leading and trailing space ",
    ]
    rows = [(f"{i:08d}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "key string, want string")
    wrapped = df.select(
        "key", "want",
        htmltext.wrap_html_expr(F.col("want"), F.col("key")).alias("html"))
    out = htmltext.html_to_text(wrapped, out_col="got")
    bad = [(r.key, r.got, r.want) for r in out.collect() if r.got != r.want]
    assert bad == []


def test_boilerplate_entities_pre_semantics(spark):
    rows = [
        # tag strip + whitespace collapse + entity unescape + footer drop
        (1, b"<html><body><p>Hello   <b>world</b> &amp; R&#39;n&#39;B "
            b"&lt;tag&gt;</p><footer>no</footer></body></html>"),
        # nav dropped, main restriction, pre verbatim, script with a
        # '</body>'-lookalike string removed before body extraction
        (2, b"<html><body><nav>menu</nav><main><p>A  B</p>"
            b"<pre>x\t y\nz</pre></main>"
            b"<script>var a='<body>';</script></body></html>"),
        # no markup at all -> normalized passthrough
        (3, b"no tags at all"),
        # comments stripped; article preferred over body
        (4, b"<body>outside<article><!-- c -->inside</article></body>"),
        (5, None),
        # Latin-1 byte: malformed UTF-8 becomes U+FFFD, never a failed job
        (6, b"<p>caf\xe9 au lait</p>"),
    ]
    df = spark.createDataFrame(rows, "id long, html binary")
    got = {r.id: r.t for r in
           htmltext.html_to_text(df, out_col="t").collect()}
    assert got[1] == "Hello world & R'n'B <tag>"
    assert got[2] == "A B\nx\t y\nz"
    assert got[3] == "no tags at all"
    assert got[4] == "inside"
    assert got[5] is None
    assert got[6] == "caf\ufffd au lait"


def test_plan_is_pure_codegen(spark):
    """No shuffle, no Python, and each regex of the pass evaluated once
    per page: 6 regexp_replace and 3 regexp_extract (one per container
    tag). Folding the steps into one nested Column copies the tree per
    container tag (165 and 52 nodes). Only ``out_col`` is added."""
    df = spark.createDataFrame([(b"<p>x</p>", 1, "old")],
                               "html binary, id long, t string")
    out = htmltext.html_to_text(df, out_col="t")
    qe = out._jdf.queryExecution()
    plan = qe.toString().split("== Physical Plan ==")[-1]
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
    optimized = qe.optimizedPlan().toString()
    assert optimized.count("regexp_replace(") <= 6
    assert optimized.count("regexp_extract(") <= 3
    assert out.columns == ["html", "id", "t"]
    assert htmltext.html_to_text(df, out_col="u").columns == \
        ["html", "id", "t", "u"]


def test_extraction_from_html_matches_text_column(spark):
    """The flagship path: dropping the text column and re-deriving it
    from html must produce the identical triple set (fixture corpus,
    golden-anchored by test_extract_triples_matches_reference_golden).
    One more page carries a Latin-1 byte in its boilerplate: it must not
    fail the html pass, and its url must yield the same triples."""
    from eventrelationextractor_spark.spark import stages
    rows = fx.fixture_pages(fx.TEMPORAL_FIXTURES)
    rows.append(dict(rows[0], url=rows[0]["url"] + "-latin1",
                     html=rows[0]["html"].replace(b">home<", b">caf\xe9<")))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    via_text = {tuple(r) for r in
                stages.extract_triples(pages, mode="both").collect()}
    via_html = {tuple(r) for r in stages.extract_triples(
        htmltext.html_to_text(pages.drop("text")), mode="both").collect()}
    assert via_text == via_html and len(via_text) > 0


# ---------------------------------------------------------- link extraction


def test_extract_links_resolution_rules(spark):
    html = ('<html><body>'
            '<a href="/about" class="x">About</a>'
            '<a href="https://other.example.com/p">Ext</a>'
            '<a href="#top">Top</a>'
            '<a href="docs/guide">Guide <b>here</b></a>'
            '</body></html>')
    df = spark.createDataFrame(
        [("https://example.org/a/b?q=1", html.encode())],
        "url string, html binary")
    rows = htmltext.extract_links(df).collect()
    got = {(r.href, r.resolved_url, r.anchor) for r in rows}
    assert got == {
        ("/about", "https://example.org/about", "About"),
        ("https://other.example.com/p", "https://other.example.com/p",
         "Ext"),
        ("docs/guide", "https://example.org/docs/guide",
         "Guide <b>here</b>"),
    }   # fragment link dropped


def test_extract_links_null_and_linkless_html(spark):
    df = spark.createDataFrame(
        [("https://e.org/1", b"<html><body>no links</body></html>"),
         ("https://e.org/2", None)],
        "url string, html binary")
    assert htmltext.extract_links(df).count() == 0


def test_extract_links_is_pure_codegen(spark):
    df = spark.createDataFrame([("u", b"<a href=\"/x\">y</a>")],
                               "url string, html binary")
    plan = htmltext.extract_links(df)._jdf.queryExecution().toString() \
        .split("== Physical Plan ==")[-1]
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------- metadata extraction


def test_extract_metadata_fields_and_nulls(spark):
    html = ('<html lang="de"><head><title>My Page</title>'
            '<meta name="description" content="a summary here">'
            '<link rel="canonical" href="https://e.org/canon">'
            '</head><body></body></html>')
    df = spark.createDataFrame(
        [("u1", html.encode()),
         ("u2", b"<html><body>bare</body></html>"),
         ("u3", None)],
        "url string, html binary")
    got = {r.url: r for r in htmltext.extract_metadata(df).collect()}
    assert got["u1"].title == "My Page"
    assert got["u1"].meta_description == "a summary here"
    assert got["u1"].canonical_url == "https://e.org/canon"
    assert got["u1"].html_lang == "de"
    assert got["u2"].title is None and got["u2"].html_lang is None
    assert got["u3"].title is None


def test_extract_metadata_first_match_wins(spark):
    html = b'<title>First</title><title>Second</title>'
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    assert htmltext.extract_metadata(df).collect()[0].title == "First"
