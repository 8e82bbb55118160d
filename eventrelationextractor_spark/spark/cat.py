"""CAT XML source + format converters (CELCT Content Annotation Tool,
the distribution format of Causal-TimeBank and the reference's CAT
corpora).

Reference surface: ``/root/reference/src/parser/convertCATToColumns.py:
1-75`` and its 3 siblings (``convertCATToTimeML.py``,
``convertTimeMLToCAT.py``, ``convertTimeMLToColumns.py``) are CLI
wrappers over a ``converter`` package that is NOT shipped in the
reference repo, and ``CATParser.java:1-5`` is an empty class — so the
conversion logic here is re-derived from the PUBLIC CAT format as used
by Causal-TimeBank (Mirza & Tonelli, "Annotating Causality in the
TempEval-3 Corpus", 2014): a ``<Document>`` of ``<token t_id sentence
number>`` leaves plus ``<Markables>`` (EVENT / TIMEX3 / C-SIGNAL with
``<token_anchor t_id>`` children) and ``<Relations>`` (TLINK with
relType, CLINK) referencing markable ids.

Spark-first shape: the WHOLE parse is ``F.from_xml`` against a typed
schema — one JVM-side expression, no Python in the loop; explodes and
joins do the rest. The parallel unit is the document (one XML string
per row), exactly like the WARC/WET/JSONL sources, so a 100-TB CAT
corpus parses embarrassingly parallel with predicate pushdown intact
on the id column.

Column layout (``cat_to_columns``, the ``.col`` files of
``convertCATToColumns``): one row per token — (doc_id, t_id, sent_id,
number, token, ev, tmx, sig) with ``e<m_id>`` / ``t<m_id>`` /
``s<m_id>`` labels, ``O`` when unanchored; overlapping markables of
one kind pin to the SMALLEST m_id (deterministic first-wins, the
docmodel.py A5 convention).

Escaping contract: ``cat_to_timeml`` / ``timeml_to_cat`` round-trip
token text containing no XML metacharacters or embedded whitespace
(true of tokenized CAT corpora, whose leaves are single tokens); an
ingestion path for raw text must escape upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_cat", "cat_tokens", "cat_markables", "cat_relations",
           "cat_to_columns", "cat_to_timeml", "timeml_to_cat",
           "CAT_SCHEMA"]

CAT_SCHEMA = """struct<
  _doc_name: string,
  token: array<struct<_t_id: bigint, _sentence: bigint,
                      _number: bigint, _VALUE: string>>,
  Markables: struct<
    EVENT: array<struct<_m_id: bigint, _class: string, _tense: string,
                        _aspect: string, _polarity: string, _eid: string,
                        token_anchor: array<struct<_t_id: bigint>>>>,
    TIMEX3: array<struct<_m_id: bigint, _type: string, _value: string,
                         _functionInDocument: string, _tid: string,
                         token_anchor: array<struct<_t_id: bigint>>>>,
    `C-SIGNAL`: array<struct<_m_id: bigint,
                             token_anchor: array<struct<_t_id: bigint>>>>
  >,
  Relations: struct<
    TLINK: array<struct<_r_id: bigint, _relType: string,
                        source: struct<_m_id: bigint>,
                        target: struct<_m_id: bigint>>>,
    CLINK: array<struct<_r_id: bigint,
                        source: struct<_m_id: bigint>,
                        target: struct<_m_id: bigint>>>
  >
>"""


def parse_cat(df: DataFrame) -> DataFrame:
    """(doc_id, cat): typed parse of one CAT XML document per row via
    ``from_xml`` — fully JVM-side, malformed fields null out instead of
    failing the task (PERMISSIVE mode), so one bad document never kills
    a 100-TB read."""
    return df.select(F.col("doc_id"),
                     F.from_xml(F.col("xml"), CAT_SCHEMA).alias("cat"))


def cat_tokens(parsed: DataFrame) -> DataFrame:
    """(doc_id, t_id, sent_id, number, token): the token layer."""
    t = parsed.select("doc_id", F.explode("cat.token").alias("t"))
    return t.select("doc_id", F.col("t._t_id").alias("t_id"),
                    F.col("t._sentence").alias("sent_id"),
                    F.col("t._number").alias("number"),
                    F.col("t._VALUE").alias("token"))


def cat_markables(parsed: DataFrame) -> DataFrame:
    """(doc_id, m_id, mtype, cls, value, t_ids): the markable layer,
    EVENT / TIMEX3 / C-SIGNAL unioned with their anchor id arrays
    (sorted — CAT files list anchors in order but the contract should
    not depend on it)."""
    def anchors(col):
        return F.array_sort(F.transform(F.coalesce(
            col, F.expr("CAST(array() AS ARRAY<STRUCT<_t_id: BIGINT>>)")),
            lambda a: a["_t_id"]))

    ev = (parsed.select(
        "doc_id", F.explode_outer("cat.Markables.EVENT").alias("m"))
        .filter(F.col("m").isNotNull())
        .select("doc_id", F.col("m._m_id").alias("m_id"),
                F.lit("EVENT").alias("mtype"),
                F.col("m._class").alias("cls"),
                F.col("m._eid").alias("value"),
                anchors(F.col("m.token_anchor")).alias("t_ids")))
    tmx = (parsed.select(
        "doc_id", F.explode_outer("cat.Markables.TIMEX3").alias("m"))
        .filter(F.col("m").isNotNull())
        .select("doc_id", F.col("m._m_id").alias("m_id"),
                F.lit("TIMEX3").alias("mtype"),
                F.col("m._type").alias("cls"),
                F.col("m._value").alias("value"),
                anchors(F.col("m.token_anchor")).alias("t_ids")))
    sig = (parsed.select(
        "doc_id", F.explode_outer(F.col("cat.Markables.`C-SIGNAL`"))
        .alias("m"))
        .filter(F.col("m").isNotNull())
        .select("doc_id", F.col("m._m_id").alias("m_id"),
                F.lit("C-SIGNAL").alias("mtype"),
                F.lit(None).cast("string").alias("cls"),
                F.lit(None).cast("string").alias("value"),
                anchors(F.col("m.token_anchor")).alias("t_ids")))
    return ev.unionByName(tmx).unionByName(sig)


def cat_relations(parsed: DataFrame) -> DataFrame:
    """(doc_id, r_id, rtype, rel_type, source_m, target_m): TLINK + CLINK
    (CLINK carries no relType in CAT; it IS the CAUSE assertion)."""
    tl = (parsed.select(
        "doc_id", F.explode_outer("cat.Relations.TLINK").alias("r"))
        .filter(F.col("r").isNotNull())
        .select("doc_id", F.col("r._r_id").alias("r_id"),
                F.lit("TLINK").alias("rtype"),
                F.col("r._relType").alias("rel_type"),
                F.col("r.source._m_id").alias("source_m"),
                F.col("r.target._m_id").alias("target_m")))
    cl = (parsed.select(
        "doc_id", F.explode_outer("cat.Relations.CLINK").alias("r"))
        .filter(F.col("r").isNotNull())
        .select("doc_id", F.col("r._r_id").alias("r_id"),
                F.lit("CLINK").alias("rtype"),
                F.lit("CAUSE").alias("rel_type"),
                F.col("r.source._m_id").alias("source_m"),
                F.col("r.target._m_id").alias("target_m")))
    return tl.unionByName(cl)


def cat_to_columns(df: DataFrame) -> DataFrame:
    """convertCATToColumns: one row per token with per-layer labels
    (``e<m_id>``/``t<m_id>``/``s<m_id>``, ``O`` when unanchored;
    overlaps pin to the smallest m_id). One explode + one partial-agged
    groupBy on (doc, t_id) + one broadcast-free equi-join back to the
    token layer — no window, no per-row Python."""
    parsed = parse_cat(df)
    toks = cat_tokens(parsed)
    marks = cat_markables(parsed)
    anch = (marks.select("doc_id", "m_id", "mtype",
                         F.explode("t_ids").alias("t_id"))
            .groupBy("doc_id", "t_id")
            .agg(F.min(F.when(F.col("mtype") == "EVENT", F.col("m_id")))
                 .alias("ev_m"),
                 F.min(F.when(F.col("mtype") == "TIMEX3", F.col("m_id")))
                 .alias("tmx_m"),
                 F.min(F.when(F.col("mtype") == "C-SIGNAL", F.col("m_id")))
                 .alias("sig_m")))
    lab = lambda c, p: F.coalesce(  # noqa: E731
        F.concat(F.lit(p), F.col(c).cast("string")), F.lit("O"))
    return (toks.join(anch, ["doc_id", "t_id"], "left")
            .select("doc_id", "t_id", "sent_id", "number", "token",
                    lab("ev_m", "e").alias("ev"),
                    lab("tmx_m", "t").alias("tmx"),
                    lab("sig_m", "s").alias("sig")))


def cat_to_timeml(df: DataFrame) -> DataFrame:
    """convertCATToTimeML: (doc_id, timeml) — inline-annotated TimeML text:
    tokens space-joined inside ``<TEXT>``, EVENT anchors wrapped
    ``<EVENT m_id class>``, contiguous TIMEX3 anchor spans wrapped once
    around the whole span, followed by self-closing ``<TLINK>`` /
    ``<CLINK>`` elements. Entirely JVM-side: the per-token open/close
    decorations come from the anchor join (span starts/ends = anchor
    positions whose predecessor/successor t_id is absent), the document
    string from one sorted-struct aggregation."""
    parsed = parse_cat(df)
    toks = cat_tokens(parsed)
    marks = cat_markables(parsed)
    rels = cat_relations(parsed)

    anch = marks.select(
        "doc_id", "m_id", "mtype", "cls",
        F.posexplode("t_ids").alias("pos", "t_id"),
        F.size("t_ids").alias("n_anch"))
    deco = (anch.groupBy("doc_id", "t_id").agg(
        F.min(F.when((F.col("mtype") == "EVENT") & (F.col("pos") == 0),
                     F.concat(F.lit('<EVENT m_id="'),
                              F.col("m_id").cast("string"),
                              F.lit('" class="'),
                              F.coalesce("cls", F.lit("")),
                              F.lit('">')))).alias("ev_open"),
        F.max(F.when((F.col("mtype") == "EVENT")
                     & (F.col("pos") == F.col("n_anch") - 1),
                     F.lit("</EVENT>"))).alias("ev_close"),
        F.min(F.when((F.col("mtype") == "TIMEX3") & (F.col("pos") == 0),
                     F.concat(F.lit('<TIMEX3 m_id="'),
                              F.col("m_id").cast("string"),
                              F.lit('" type="'),
                              F.coalesce("cls", F.lit("")),
                              F.lit('">')))).alias("tmx_open"),
        F.max(F.when((F.col("mtype") == "TIMEX3")
                     & (F.col("pos") == F.col("n_anch") - 1),
                     F.lit("</TIMEX3>"))).alias("tmx_close")))
    pieces = (toks.join(deco, ["doc_id", "t_id"], "left")
              .select("doc_id", "t_id", F.concat(
                  F.coalesce("tmx_open", F.lit("")),
                  F.coalesce("ev_open", F.lit("")),
                  F.col("token"),
                  F.coalesce("ev_close", F.lit("")),
                  F.coalesce("tmx_close", F.lit(""))).alias("piece")))
    text = (pieces.groupBy("doc_id").agg(F.array_join(F.transform(
        F.array_sort(F.collect_list(F.struct("t_id", "piece"))),
        lambda s: s["piece"]), " ").alias("text")))
    rel_str = (rels.select(
        "doc_id", "r_id", F.concat(
            F.lit("<"), F.col("rtype"), F.lit(' r_id="'),
            F.col("r_id").cast("string"), F.lit('" relType="'),
            F.col("rel_type"), F.lit('" source="'),
            F.col("source_m").cast("string"), F.lit('" target="'),
            F.col("target_m").cast("string"), F.lit('"/>')).alias("rel"))
        .groupBy("doc_id").agg(F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("r_id", "rel"))),
            lambda s: s["rel"]), "").alias("rels")))
    return (text.join(rel_str, "doc_id", "left")
            .select("doc_id", F.concat(
                F.lit("<TimeML><TEXT>"), F.col("text"),
                F.lit("</TEXT>"), F.coalesce("rels", F.lit("")),
                F.lit("</TimeML>")).alias("timeml")))


# a TimeML text slice is a stream of these three alternatives
_TIMEML_PIECE = (r"<EVENT [^>]*>[^<]*</EVENT>"
                 r"|<TIMEX3 [^>]*>[^<]*</TIMEX3>"
                 r"|[^<> ]+")


def timeml_to_cat(df: DataFrame) -> DataFrame:
    """convertTimeMLToCAT: (doc_id, xml) — rebuild CAT XML from the inline
    TimeML produced by :func:`cat_to_timeml`. Token stream =
    ``regexp_extract_all`` over the ``<TEXT>`` slice (wrapped spans
    come out as ONE piece and re-expand to their tokens, so multi-token
    TIMEX3 anchors survive); markable/relation layers re-emit from the
    piece attributes. Token ids are REASSIGNED 1..n in reading order
    (the converters' normalization — CAT ids are file-local), sentence
    boundaries are not represented inline in TimeML so every token
    lands in sentence 1 with running numbers: the documented lossy
    axis of the TimeML leg, exactly like the reference's column files
    which carry no sentence ids through TimeML either."""
    pieces = F.expr(
        "regexp_extract_all(regexp_extract(timeml, "
        f"'<TEXT>(.*)</TEXT>', 1), '{_TIMEML_PIECE}', 0)")
    base = df.select(F.col("doc_id"), pieces.alias("ps"),
                     F.col("timeml").alias("_tml"))
    p = (base.select("doc_id", "_tml",
                     F.posexplode("ps").alias("ppos", "piece"))
         .withColumn("words", F.split(F.regexp_replace(
             "piece", "<[^>]*>", ""), " "))
         .withColumn("m_id", F.nullif(F.regexp_extract(
             "piece", 'm_id="([0-9]+)"', 1), F.lit("")).cast("bigint"))
         .withColumn("mtype", F.when(
             F.col("piece").startswith("<EVENT"), "EVENT").when(
             F.col("piece").startswith("<TIMEX3"), "TIMEX3"))
         .withColumn("cls", F.regexp_extract(
             "piece", '(?:class|type)="([^"]*)"', 1)))
    w = (p.select("doc_id", "_tml", "ppos", "m_id", "mtype", "cls",
                  F.posexplode("words").alias("wpos", "word")))
    from pyspark.sql import Window
    ww = Window.partitionBy("doc_id").orderBy("ppos", "wpos")
    w = w.withColumn("t_id", F.row_number().over(ww))
    tok_xml = (w.groupBy("doc_id").agg(F.array_join(F.transform(
        F.array_sort(F.collect_list(F.struct("t_id", F.concat(
            F.lit('<token t_id="'), F.col("t_id").cast("string"),
            F.lit('" sentence="1" number="'),
            F.col("t_id").cast("string"), F.lit('">'),
            F.col("word"), F.lit("</token>")).alias("x")))),
        lambda s: s["x"]), "").alias("toks")))
    mark_xml = (w.filter(F.col("mtype").isNotNull())
                .groupBy("doc_id", "m_id", "mtype", "cls")
                .agg(F.array_join(F.transform(
                    F.array_sort(F.collect_list(F.struct("t_id", F.concat(
                        F.lit('<token_anchor t_id="'),
                        F.col("t_id").cast("string"),
                        F.lit('"/>')).alias("x")))),
                    lambda s: s["x"]), "").alias("anchors"))
                .select("doc_id", "m_id", F.concat(
                    F.lit("<"), F.col("mtype"),
                    F.lit(' m_id="'), F.col("m_id").cast("string"),
                    F.when(F.col("mtype") == "EVENT",
                           F.concat(F.lit('" class="'), F.col("cls")))
                    .otherwise(F.concat(F.lit('" type="'), F.col("cls"))),
                    F.lit('">'), F.col("anchors"),
                    F.lit("</"), F.col("mtype"), F.lit(">")).alias("m")))
    marks = (mark_xml.groupBy("doc_id").agg(F.array_join(F.transform(
        F.array_sort(F.collect_list(F.struct("m_id", "m"))),
        lambda s: s["m"]), "").alias("marks")))
    rel_rows = (df.select(F.col("doc_id"), F.explode(F.expr(
        "regexp_extract_all(timeml, '<(?:TLINK|CLINK) [^>]*/>', 0)"))
        .alias("r"))
        .select("doc_id",
                F.regexp_extract("r", "^<(TLINK|CLINK)", 1).alias("rt"),
                F.regexp_extract("r", 'r_id="([0-9]+)"', 1)
                .cast("bigint").alias("r_id"),
                F.regexp_extract("r", 'relType="([^"]*)"', 1).alias("rl"),
                F.regexp_extract("r", 'source="([0-9]+)"', 1).alias("s"),
                F.regexp_extract("r", 'target="([0-9]+)"', 1).alias("t")))
    rel_xml = rel_rows.select("doc_id", "r_id", F.concat(
        F.lit("<"), F.col("rt"), F.lit(' r_id="'),
        F.col("r_id").cast("string"), F.lit('"'),
        # CLINK carries no relType attribute in CAT; it IS the CAUSE edge
        F.when(F.col("rt") == "TLINK",
               F.concat(F.lit(' relType="'), F.col("rl"), F.lit('"')))
        .otherwise(F.lit("")),
        F.lit('><source m_id="'), F.col("s"),
        F.lit('"/><target m_id="'), F.col("t"), F.lit('"/></'),
        F.col("rt"), F.lit(">")).alias("rel"))
    rels = (rel_xml.groupBy("doc_id").agg(F.array_join(F.transform(
        F.array_sort(F.collect_list(F.struct("r_id", "rel"))),
        lambda s: s["rel"]), "").alias("rels")))
    return (df.select(F.col("doc_id"))
            .join(tok_xml, "doc_id", "left")
            .join(marks, "doc_id", "left")
            .join(rels, "doc_id", "left")
            .select("doc_id", F.concat(
                F.lit('<Document doc_name="d'),
                F.col("doc_id").cast("string"), F.lit('.xml">'),
                F.coalesce("toks", F.lit("")),
                F.lit("<Markables>"), F.coalesce("marks", F.lit("")),
                F.lit("</Markables><Relations>"),
                F.coalesce("rels", F.lit("")),
                F.lit("</Relations></Document>")).alias("xml")))
