"""html -> text extraction: the first operator a Common-Crawl-style
pipeline runs, turning the ``html binary`` column of the pages schema
(BASELINE.json input_hint; SURVEY.md §1.4) into the extracted text the
rest of the engine consumes. The reference consumes pre-annotated TXP and
ships nothing here; this surface is Spark-engine-native (round-2 verdict
'What's missing' #3).

Semantics (documented, deterministic - a boilerplate HEURISTIC, not a
browser):

1. decode UTF-8, malformed bytes -> U+FFFD (a Latin-1 page never fails
   the job);
2. drop ``<!-- -->`` comments and ``<script>/<style>`` elements (their
   content is never text);
3. drop the classic boilerplate elements ``<nav>/<header>/<footer>/
   <aside>`` including their content;
4. restrict to the main content: the first ``<article>`` element if one
   exists, else ``<main>``, else ``<body>``, else the whole document
   (the readability-style container heuristic);
5. ``<pre>`` blocks keep their whitespace VERBATIM; all other markup is
   tag-stripped and whitespace-collapsed (``\\s+`` -> one space, trimmed);
6. the five XML entities (&lt; &gt; &quot; &#39; and &amp; last) are
   unescaped;
7. output = normalized flow text, then each pre block in document order,
   joined by newlines with empty segments dropped. (Interleaving order
   between flow text and pre blocks is NOT preserved - the standard
   segment-reordering simplification of regex-based extractors.)

Everything is whole-stage-codegen (regexp_replace / regexp_extract_all /
replace chains on the JVM): no shuffle, no Python, no UDF - the operator
fuses into the page scan. Each step is its own projection of ``out_col``:
a step that reads the string twice (container choice, pre/flow split)
would copy the whole upstream expression tree into each use if nested,
and CollapseProject does not merge a projection whose costly output is
read twice, so every regex runs once per page. tests/test_htmltext.py
asserts zero Exchange, no Python stage and the regex node count.

The synthetic-page wrapper (datagen.wrap_html) round-trips byte-exactly:
``html_to_text(wrap_html(text)) == text`` is the oracled
``html_text_extract`` gate (the north rule's byte-identical-text-per-url
invariant, now enforced THROUGH the html path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# elements whose content is dropped wholesale
_DROP_CONTENT = ("script", "style")
_BOILERPLATE = ("nav", "header", "footer", "aside")


def _element_pattern(tags) -> str:
    return "(?is)<(" + "|".join(tags) + r")\b[^>]*>.*?</\1\s*>"


def _first_content(col: Column, tag: str) -> Column:
    """Content of the first <tag> element ('' when absent); greedy to the
    LAST closing tag, the cheap nesting-tolerant choice."""
    return F.regexp_extract(col, rf"(?is)<{tag}\b[^>]*>(.*)</{tag}\s*>", 1)


def _unescape(col: Column) -> Column:
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&amp;", "&")):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def html_to_text(df: DataFrame, out_col: str = "text") -> DataFrame:
    """Adds/replaces ``out_col`` with the extracted text of ``html``
    (null html -> null text), one projection per step."""
    s = F.col(out_col)
    df = df.withColumn(out_col, F.col("html").cast("string"))
    for pat in (r"(?s)<!--.*?-->", _element_pattern(_DROP_CONTENT),
                _element_pattern(_BOILERPLATE)):
        df = df.withColumn(out_col, F.regexp_replace(s, pat, " "))
    for tag in ("article", "main", "body"):
        df = df.withColumn(out_col, F.coalesce(
            F.nullif(_first_content(s, tag), F.lit("")), s))
    pres = F.regexp_extract_all(s, F.lit(r"(?is)<pre\b[^>]*>(.*?)</pre\s*>"),
                                F.lit(1))
    flow = F.regexp_replace(s, r"(?is)<pre\b[^>]*>.*?</pre\s*>", " ")
    flow = F.regexp_replace(flow, r"<[^>]*>", " ")
    flow = F.trim(F.regexp_replace(flow, r"\s+", " "))
    segs = F.concat(F.array(_unescape(flow)), F.transform(pres, _unescape))
    return df.withColumn(out_col,
                         F.array_join(F.filter(segs, lambda x: x != ""), "\n"))


def escape_expr(text_col: Column) -> Column:
    """Codegen twin of datagen's HTML escaping (& first, then < and >)."""
    col = F.replace(text_col, F.lit("&"), F.lit("&amp;"))
    col = F.replace(col, F.lit("<"), F.lit("&lt;"))
    return F.replace(col, F.lit(">"), F.lit("&gt;"))


def wrap_html_expr(text_col: Column, key_col: Column) -> Column:
    """Codegen twin of datagen.wrap_html (binary column) - built from the
    same WRAP_TEMPLATE, byte-identical by construction (asserted in
    tests/test_htmltext.py)."""
    from ..datagen import WRAP_TEMPLATE
    parts = []
    for part in WRAP_TEMPLATE:
        if part[0] == "lit":
            parts.append(F.lit(part[1]))
        elif part[0] == "key":
            parts.append(key_col)
        else:
            parts.append(escape_expr(text_col))
    return F.encode(F.concat(*parts), "UTF-8")


# hyperlink pattern: href value + anchor markup, both groups from the
# SAME pattern so the two regexp_extract_all passes stay index-aligned.
# Java regex and RE2 agree on every construct used (lazy quantifier,
# char classes); shared verbatim with the SQL oracle.
A_PATTERN = r'(?is)<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def extract_links(df: DataFrame) -> DataFrame:
    """(src_url, href, resolved_url, anchor): the crawl-graph edge
    extractor - the step between WARC/html ingestion and every
    link-graph operator (pagerank, communities, anchor rollups,
    frontier expansion). Pure whole-stage codegen: two
    ``regexp_extract_all`` passes over the SAME pattern (href group,
    anchor group - index-aligned by construction), arrays_zip + one
    explode; no UDF, no shuffle.

    Resolution (the crawler subset): absolute http(s) hrefs pass
    through; root-relative ``/path`` joins scheme://host of the source
    url; other relative paths join under host root; pure-fragment
    ``#...`` hrefs are dropped (same-page references, never crawl
    edges). Anchor text is the raw inner markup (caller strips tags if
    needed - anchor_rollup tokenizes anyway)."""
    h = F.coalesce(F.col("html").cast("string"), F.lit(""))
    hrefs = F.regexp_extract_all(h, F.lit(A_PATTERN), F.lit(1))
    texts = F.regexp_extract_all(h, F.lit(A_PATTERN), F.lit(2))
    base = F.regexp_extract(F.col("url"), r"^[a-zA-Z]+://[^/?#]+", 0)
    pairs = F.explode(F.arrays_zip(hrefs.alias("href"),
                                   texts.alias("anchor")))
    out = (df.select(F.col("url").alias("src_url"), base.alias("base"),
                     pairs.alias("p"))
           .select("src_url", "base",
                   F.col("p.href").alias("href"),
                   F.col("p.anchor").alias("anchor"))
           .filter(~F.col("href").startswith("#")))
    resolved = (F.when(F.col("href").rlike("^https?://"), F.col("href"))
                .when(F.col("href").startswith("/"),
                      F.concat(F.col("base"), F.col("href")))
                .otherwise(F.concat(F.col("base"), F.lit("/"),
                                    F.col("href"))))
    return out.select("src_url", "href", resolved.alias("resolved_url"),
                      "anchor")


# metadata patterns - shared verbatim with the SQL oracle (Java/RE2
# common subset: lazy quantifiers + char classes only)
META_PATTERNS = {
    "title": r'(?is)<title[^>]*>(.*?)</title>',
    "meta_description":
        r'(?is)<meta\s[^>]*name="description"[^>]*content="([^"]*)"',
    "canonical_url": r'(?is)<link\s[^>]*rel="canonical"[^>]*href="([^"]*)"',
    "html_lang": r'(?is)<html\s[^>]*lang="([^"]*)"',
}


def extract_metadata(df: DataFrame) -> DataFrame:
    """(url, title, meta_description, canonical_url, html_lang): the
    page-metadata head extractor - canonical-URL dedup keys, language
    routing before content-based lang-id, and title/description for
    index/snippet tables. First match wins per field; absent fields
    are NULL (regexp_extract's empty string mapped through nullif).
    Pure whole-stage codegen, rides the scan."""
    h = F.coalesce(F.col("html").cast("string"), F.lit(""))
    cols = [F.col("url")]
    for name, pat in META_PATTERNS.items():
        cols.append(F.nullif(F.regexp_extract(h, pat, 1), F.lit(""))
                    .alias(name))
    return df.select(*cols)
