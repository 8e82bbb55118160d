"""DataFrame stages: pages -> tokens/mentions -> triples.

Execution design (SURVEY.md §1.4, §4):

* The corpus is **embarrassingly parallel by document** - one page row IS
  one document, so extraction is a pure ``mapInPandas`` over the pages
  scan: zero shuffles, linear scaling with executors. No groupBy is needed
  because no cross-document state exists until canonicalization.
* All Python work is Arrow-batched; the per-document core
  (eventrelationextractor_spark.core) is pure Python/numpy and is loaded
  once per executor (lexicons and liblinear weights are module-level
  caches, equivalent to a broadcast of a few hundred KB).
* Column pruning: only (url, text) are read; Catalyst prunes ``html``
  (binary) at the parquet/Iceberg scan - verified via
  ``explain_scan_pruning`` in tests.
* Giant pages: the timex-timex sieve is O(n_timex^2) per document; pages
  whose timex count exceeds ``max_timex_pairs_per_doc`` are truncated with
  a lineage warning rather than stalling a task (skew guard, SURVEY.md
  §7.1 step 8).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from ..core.docmodel import (FIELDS_FILE24, FIELDS_FILE28, FIELDS_TEXT16,
                             FIELDS_TEXT18, DocState, parse_txp_lines)

TRIPLE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("pair_type", StringType(), False),
])

MENTION_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("mention_id", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("sent_id", StringType(), True),
    StructField("ent_idx", LongType(), False),
    StructField("surface", StringType(), True),
    StructField("lemma", StringType(), True),
    StructField("ev_class", StringType(), True),
    StructField("tmx_type", StringType(), True),
    StructField("tmx_value", StringType(), True),
    StructField("is_dct", StringType(), True),
])


def infer_layout(text: str):
    """Pick the TXP positional layout from the document shape.

    File-format docs start with '# ' comment headers (4 lines skipped,
    TXPParser.java:45-49); the column count of the first token row selects
    the field set (the reference declares layouts per call site)."""
    skip = 4 if text.startswith("#") else 0
    lines = text.split("\n")[skip:]
    for ln in lines:
        if ln and "DCT_" not in ln and "ETX_" not in ln:
            n = ln.count("\t") + 1
            if n >= 28:
                return lines, FIELDS_FILE28
            if n >= 24:
                return lines, FIELDS_FILE24
            if n >= 18:
                return lines, FIELDS_TEXT18
            return lines, FIELDS_TEXT16
    return lines, FIELDS_TEXT16


def parse_page(text: str, name: str = "PAGE") -> DocState:
    lines, fields = infer_layout(text)
    return parse_txp_lines(lines, fields, name)


def _repartition_for_cpu(df: DataFrame) -> DataFrame:
    """The extraction stages do milliseconds of CPU per row, so when the
    input scan yields fewer splits than cores (tiny parquet inputs: one
    600KB file -> 2 splits) we pay one cheap shuffle to restore full
    parallelism. At production scale the scan already has >= cores splits
    and this is a no-op (no Exchange added)."""
    if df.isStreaming:   # micro-batch sizing is the source's job
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _page_source(pages: DataFrame):
    """(df, batch-transform) for a page source that is either a real pages
    table (has a ``text`` column) or a bare ``doc_id`` frame.

    For a doc_id frame the synthetic page text is generated *inside the
    same UDF* as the downstream extraction (stage fusion, SURVEY.md §4.2):
    chaining two mapInPandas stages makes every task hold TWO python
    workers (the JVM pipes one runner into the next), doubling the worker
    pool and paying an extra Arrow round-trip of the full page text."""
    if "text" in pages.columns:
        return pages.select("url", "text"), (lambda batches: batches)

    from ..datagen import synth_page
    ids = _repartition_for_cpu(
        pages.select(F.col("doc_id").cast("long").alias("id")))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            pg = [synth_page(int(d)) for d in pdf["id"]]
            yield pd.DataFrame({"url": [p["url"] for p in pg],
                                "text": [p["text"] for p in pg]})

    return ids, gen


def extract_triples(pages: DataFrame, mode: str = "both",
                    max_timexes_per_doc: int = 500,
                    causal_tlinks_from_temporal: bool = False,
                    consistent_only: bool = False) -> DataFrame:
    """pages(url, ..., text) -> triples. Pure map stage: no shuffle.

    ``mode``: 'temporal' | 'causal' | 'both'.
    ``max_timexes_per_doc``: giant-page skew guard - the timex-timex sieve
    is O(n^2) per document; pages beyond the cap are truncated (lineage
    stage row 'tt-truncated' marks them).
    ``causal_tlinks_from_temporal``: inter-stage dependency J4
    (SURVEY.md §7.1 step 5) - feed the causal classifier's tlink-type
    feature from this run's temporal predictions (as CauseRelPro.main does
    with an externally supplied tlink map) instead of the page's annotated
    tlink cells.

    ``consistent_only``: apply the per-document timegraph consistency
    filter (G1) to the temporal triples *inside the same UDF*. The
    timegraph is doc-local (no cross-document edges exist, SURVEY.md §2.8),
    so filtering here costs zero extra stages; the
    groupBy.applyInPandas variant is only needed for triple tables that
    were already materialized without the filter.

    ``pages`` may be a bare doc_id frame: the synthetic page is then
    generated in the same UDF (see _page_source)."""
    cols, gen_pages = _page_source(pages)

    def run(batches: Iterator) -> Iterator:
        # heavy imports inside the UDF so the driver plan stays light
        import pandas as pd

        from ..core.lexicons import load_lexicons
        from ..core.pipeline import causal_triples, temporal_triples
        from ..core.timegraph import filter_consistent
        lx = load_lexicons()
        for pdf in gen_pages(batches):
            out = {"url": [], "subj": [], "pred": [], "obj": [],
                   "stage": [], "pair_type": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    # malformed page: emit a meta row instead of vanishing
                    # silently - the lineage pred_histogram then reports
                    # parse failures per bucket
                    out["url"].append(url)
                    out["subj"].append("_doc")
                    out["pred"].append("PARSE_ERROR")
                    out["obj"].append("_doc")
                    out["stage"].append("parse-error")
                    out["pair_type"].append("meta")
                    continue
                trips = []
                temporal = None
                if mode in ("temporal", "both"):
                    temporal = temporal_triples(
                        doc, lx, max_timexes=max_timexes_per_doc)
                    if consistent_only:
                        ordered = sorted((t.source, t.target, t.rel)
                                         for t in temporal)
                        kept, _ = filter_consistent(ordered)
                        keep = set(kept)
                        temporal = [t for t in temporal
                                    if (t.source, t.target, t.rel) in keep]
                    trips += temporal
                if mode in ("causal", "both"):
                    tlinks_map = None
                    if causal_tlinks_from_temporal and temporal is not None:
                        tlinks_map = {t.source + "," + t.target: t.rel
                                      for t in temporal}
                    trips += causal_triples(doc, tlinks_map=tlinks_map,
                                            lexicons=lx)
                if doc.memo.get("tt_truncated"):
                    from ..core.pipeline import Triple
                    trips.append(Triple("_doc", "_doc", "TRUNCATED",
                                        "tt-truncated", "meta"))
                for t in trips:
                    out["url"].append(url)
                    out["subj"].append(t.source)
                    out["pred"].append(t.rel)
                    out["obj"].append(t.target)
                    out["stage"].append(t.stage)
                    out["pair_type"].append(t.pair_type)
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, schema=TRIPLE_SCHEMA)


def extract_triples_salted(pages: DataFrame, mode: str = "both",
                           salt: int = 8,
                           giant_page_bytes: int = 256 * 1024,
                           max_timexes_per_doc: int | None = None) -> DataFrame:
    """Skew-safe extraction: salted repartition of giant pages
    (SURVEY.md §4.2 skew row - the lossless alternative to the
    ``max_timexes_per_doc`` truncation cap).

    One page = one task unit, so a single pathological page (the
    timex-timex sieve is O(n_timex^2)) stalls its task while 31 cores sit
    idle. Pages >= ``giant_page_bytes`` are exploded into ``salt`` copies,
    hash-repartitioned on (url, salt) so the copies land on different
    tasks, and each copy computes exactly the pair_slice (s, salt) of the
    tt pair space (copy 0 also runs the linear candidate sieves). Normal
    pages take the usual shuffle-free path; the union is exactly
    extract_triples' output - asserted in tests.

    Requires a real pages input (text column): the giant/normal split
    predicate needs the text length at plan time."""
    cols = pages.select("url", "text")
    is_giant = F.length("text") >= giant_page_bytes
    normal = extract_triples(cols.filter(~is_giant), mode=mode,
                             max_timexes_per_doc=max_timexes_per_doc)
    giant = (cols.filter(is_giant)
             .withColumn("salt",
                         F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
             .repartition("url", "salt"))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..core.lexicons import load_lexicons
        from ..core.pipeline import causal_triples, temporal_triples
        lx = load_lexicons()
        for pdf in batches:
            out = {"url": [], "subj": [], "pred": [], "obj": [],
                   "stage": [], "pair_type": []}
            for url, text, s in zip(pdf["url"], pdf["text"], pdf["salt"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    if int(s) == 0:  # one meta row per page, not per copy
                        out["url"].append(url)
                        out["subj"].append("_doc")
                        out["pred"].append("PARSE_ERROR")
                        out["obj"].append("_doc")
                        out["stage"].append("parse-error")
                        out["pair_type"].append("meta")
                    continue
                trips = []
                if mode in ("temporal", "both"):
                    trips += temporal_triples(
                        doc, lx, max_timexes=max_timexes_per_doc,
                        pair_slice=(int(s), salt))
                if int(s) == 0 and mode in ("causal", "both"):
                    trips += causal_triples(doc, lexicons=lx)
                for t in trips:
                    out["url"].append(url)
                    out["subj"].append(t.source)
                    out["pred"].append(t.rel)
                    out["obj"].append(t.target)
                    out["stage"].append(t.stage)
                    out["pair_type"].append(t.pair_type)
            yield pd.DataFrame(out)

    return normal.unionByName(giant.mapInPandas(run, schema=TRIPLE_SCHEMA))


def extract_mentions(pages: DataFrame) -> DataFrame:
    """pages -> mention table (for entity linking / canonicalization)."""
    cols, gen_pages = _page_source(pages)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..core.deps import token_attr
        for pdf in gen_pages(batches):
            rows = {k.name: [] for k in MENTION_SCHEMA.fields}
            for url, text in zip(pdf["url"], pdf["text"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    continue
                for mid, m in doc.entities.items():
                    rows["url"].append(url)
                    rows["mention_id"].append(mid)
                    rows["kind"].append(m.kind)
                    rows["sent_id"].append(m.sent_id)
                    rows["ent_idx"].append(m.idx)
                    if m.start_tok != "O" and m.start_tok in doc.tokens:
                        rows["surface"].append(token_attr(doc, m, "token"))
                        rows["lemma"].append(token_attr(doc, m, "lemma"))
                    else:
                        rows["surface"].append(None)
                        rows["lemma"].append(None)
                    rows["ev_class"].append(m.ev_class)
                    rows["tmx_type"].append(m.tmx_type)
                    rows["tmx_value"].append(m.tmx_value)
                    rows["is_dct"].append("TRUE" if m.is_dct else "FALSE")
            yield pd.DataFrame(rows)

    return cols.mapInPandas(run, schema=MENTION_SCHEMA)


TOKEN_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("tok_idx", LongType(), False),
    StructField("tok_id", StringType(), False),
    StructField("sent_id", StringType(), False),
    StructField("text", StringType(), False),
    StructField("lemma", StringType(), True),
    StructField("pos", StringType(), True),
    StructField("main_pos", StringType(), True),
    StructField("chunk", StringType(), True),
    StructField("tense", StringType(), True),
    StructField("aspect", StringType(), True),
    StructField("pol", StringType(), True),
    StructField("main_verb", StringType(), True),
    StructField("deps", StringType(), True),     # 'dep:REL||...' cell form
    StructField("ev_id", StringType(), True),
    StructField("tmx_id", StringType(), True),
])


CANDIDATE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("source_id", StringType(), False),
    StructField("target_id", StringType(), False),
    StructField("pair_type", StringType(), False),   # ed | et | ee
    StructField("gold_rel", StringType(), True),
])


def extract_candidates(pages: DataFrame) -> DataFrame:
    """pages -> resolved candidate-pair table (the `candidates` DataFrame
    of SURVEY.md §1.4): tlink cells exploded (S6), dangling/self pairs
    dropped (F2), split into E-DCT / E-T / E-E streams (F1, F3), canonical
    pair ordering applied (R7: EE doc-order swap + invert, ET event
    first). This is exactly the frame the sieve cascade consumes."""
    cols, gen_pages = _page_source(pages)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..core.pipeline import _candidate_groups
        for pdf in gen_pages(batches):
            rows = {k.name: [] for k in CANDIDATE_SCHEMA.fields}
            for url, text in zip(pdf["url"], pdf["text"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    continue
                dct_pairs, et_pairs, ee_pairs = _candidate_groups(doc)
                for ptype, group in (("ed", dct_pairs), ("et", et_pairs),
                                     ("ee", ee_pairs)):
                    for e1, e2, label in group:
                        rows["url"].append(url)
                        rows["source_id"].append(e1.mid)
                        rows["target_id"].append(e2.mid)
                        rows["pair_type"].append(ptype)
                        rows["gold_rel"].append(label)
            yield pd.DataFrame(rows)

    return cols.mapInPandas(run, schema=CANDIDATE_SCHEMA)


PROB_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("source_id", StringType(), False),
    StructField("target_id", StringType(), False),
    StructField("label", StringType(), False),
    StructField("dec", DoubleType(), False),
    StructField("prob", DoubleType(), False),
])


def extract_ee_probabilities(pages: DataFrame) -> DataFrame:
    """M3 as a stage: per-class decision values + liblinear-formula
    probabilities for the classifier-bound EE pairs (see
    core.pipeline.ee_clf_probabilities). Pure map stage like the other
    extractors - one row per (pair, model class)."""
    cols, gen_pages = _page_source(pages)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..core.lexicons import load_lexicons
        from ..core.pipeline import ee_clf_probabilities
        lx = load_lexicons()
        for pdf in gen_pages(batches):
            rows = {k.name: [] for k in PROB_SCHEMA.fields}
            for url, text in zip(pdf["url"], pdf["text"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    continue
                for s, t, name, dec, prob in ee_clf_probabilities(doc, lx):
                    rows["url"].append(url)
                    rows["source_id"].append(s)
                    rows["target_id"].append(t)
                    rows["label"].append(name)
                    rows["dec"].append(dec)
                    rows["prob"].append(prob)
            yield pd.DataFrame(rows)

    return cols.mapInPandas(run, schema=PROB_SCHEMA)


def extract_tokens(pages: DataFrame) -> DataFrame:
    """pages -> annotated token table (the `tokens` DataFrame of SURVEY.md
    §1.4): one row per token in document order with the full annotation
    payload. Downstream consumers (custom feature pipelines, corpus
    statistics, token-level exports) get the columnar form without
    re-parsing; deps keep the reference's cell encoding so the table
    round-trips to TXP."""
    cols, gen_pages = _page_source(pages)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in gen_pages(batches):
            rows = {k.name: [] for k in TOKEN_SCHEMA.fields}
            for url, text in zip(pdf["url"], pdf["text"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    continue
                for tid in doc.token_arr:
                    t = doc.tokens[tid]
                    rows["url"].append(url)
                    rows["tok_idx"].append(t.idx)
                    rows["tok_id"].append(t.tid)
                    rows["sent_id"].append(t.sent_id)
                    rows["text"].append(t.text)
                    rows["lemma"].append(t.lemma)
                    rows["pos"].append(t.pos)
                    rows["main_pos"].append(t.main_pos)
                    rows["chunk"].append(t.chunk)
                    rows["tense"].append(t.tense)
                    rows["aspect"].append(t.aspect)
                    rows["pol"].append(t.pol)
                    rows["main_verb"].append("mainVb" if t.main_verb else "O")
                    rows["deps"].append(
                        "||".join(f"{k}:{t.deps[k]}" for k in t.dep_order)
                        if t.deps else "O")
                    rows["ev_id"].append(t.ev_id)
                    rows["tmx_id"].append(t.tmx_id)
            yield pd.DataFrame(rows)

    return cols.mapInPandas(run, schema=TOKEN_SCHEMA)


def extracted_text(pages: DataFrame) -> DataFrame:
    """Byte-identity surface: url -> extracted (detokenized) text + sha256.

    Detokenization reproduces the reference's escaping rules
    (TempEval3TaskABC.java:284-292): PTB bracket escapes back to literal
    brackets, double-backtick/quote pairs back to '"'."""
    cols, gen_pages = _page_source(pages)
    schema = StructType([StructField("url", StringType(), False),
                         StructField("extracted_text", StringType(), False),
                         StructField("sha256", StringType(), False)])

    def run(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd
        for pdf in gen_pages(batches):
            out = {"url": [], "extracted_text": [], "sha256": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                doc = parse_page(text, url)
                words = []
                for tid in doc.token_arr:
                    w = doc.tokens[tid].text
                    w = (w.replace("-LRB-", "(").replace("-RRB-", ")")
                          .replace("-LCB-", "{").replace("-RCB-", "}")
                          .replace("-LSB-", "[").replace("-RSB-", "]")
                          .replace("``", '"').replace("''", '"'))
                    words.append(w)
                extracted = " ".join(words)
                out["url"].append(url)
                out["extracted_text"].append(extracted)
                out["sha256"].append(
                    hashlib.sha256(extracted.encode("utf-8")).hexdigest())
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, schema=schema)


def synth_pages_df(spark, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic pages corpus as a DataFrame, generated
    partition-parallel from a doc-id range (no driver-side materialize)."""
    from ..datagen import synth_page
    ids = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ])

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            rows = [synth_page(int(d)) for d in pdf["id"]]
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, schema=schema)


def pages_from_doc_ids(doc_ids: DataFrame) -> DataFrame:
    """documents(doc_id, ...) -> synthetic pages keyed by those ids (ties
    the synthetic corpus scale to the sf directory). Prefer passing the
    doc_id frame straight to the extractors (fused path, _page_source);
    this materialized form exists for mixed/unioned corpora and tests."""
    ids, gen = _page_source(doc_ids.select("doc_id"))
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("text", StringType(), False),
    ])
    return ids.mapInPandas(lambda b: gen(b), schema=schema)


KG_ROW_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("row_kind", StringType(), False),     # 'mention' | 'triple'
    StructField("mention_id", StringType(), True),
    StructField("kind", StringType(), True),          # EVENT | TIMEX
    StructField("lemma", StringType(), True),
    StructField("subj", StringType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", StringType(), True),
])


def extract_kg_rows(pages: DataFrame, mode: str = "temporal",
                    max_timexes_per_doc: int = 500) -> DataFrame:
    """One-pass extraction of the mention table AND the triple table.

    The canonicalization pipeline needs both; extracting them separately
    parses the whole corpus twice (the reference parses each TXP up to 4x
    per run, TempRelPro.java:133,181,229 - exactly the waste we avoid).
    Downstream splits by ``row_kind`` after a localCheckpoint, so the
    corpus is scanned and parsed exactly once."""
    cols, gen_pages = _page_source(pages)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..core.deps import token_attr
        from ..core.lexicons import load_lexicons
        from ..core.pipeline import causal_triples, temporal_triples
        lx = load_lexicons()
        for pdf in gen_pages(batches):
            rows = {k.name: [] for k in KG_ROW_SCHEMA.fields}

            def emit(url, row_kind, mention_id=None, kind=None, lemma=None,
                     subj=None, pred=None, obj=None):
                rows["url"].append(url)
                rows["row_kind"].append(row_kind)
                rows["mention_id"].append(mention_id)
                rows["kind"].append(kind)
                rows["lemma"].append(lemma)
                rows["subj"].append(subj)
                rows["pred"].append(pred)
                rows["obj"].append(obj)

            for url, text in zip(pdf["url"], pdf["text"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    continue
                for mid, m in doc.entities.items():
                    lemma = (token_attr(doc, m, "lemma")
                             if m.start_tok != "O" and m.start_tok in doc.tokens
                             else None)
                    emit(url, "mention", mention_id=mid, kind=m.kind,
                         lemma=lemma)
                trips = []
                if mode in ("temporal", "both"):
                    trips += temporal_triples(doc, lx,
                                              max_timexes=max_timexes_per_doc)
                if mode in ("causal", "both"):
                    trips += causal_triples(doc, lexicons=lx)
                for t in trips:
                    emit(url, "triple", subj=t.source, pred=t.rel,
                         obj=t.target)
            yield pd.DataFrame(rows)

    return cols.mapInPandas(run, schema=KG_ROW_SCHEMA)


FEATURE_EXPORT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("group", StringType(), False),   # dct | et | ee
    StructField("src", StringType(), False),
    StructField("tgt", StringType(), False),
    StructField("label", LongType(), False),
    StructField("libsvm", StringType(), False),
])


def export_training_features(pages: DataFrame,
                             labeled_only: bool = False) -> DataFrame:
    """Training-data preparation (M1 precursor): per classifier-bound pair,
    the exact one-hot row in liblinear/libsvm text format - byte-identical
    to the reference's printLibSVMVectors on its own vectors. Feed the
    output to core.lltrain.train (or liblinear itself) to reproduce model
    files; inference uses the vendored shipped models.

    ``labeled_only`` is the F4 train-label filter (the reference trains
    only on gold-labeled pairs - the label column's 0/NONE rows are test
    candidates, never training rows): applied as a DataFrame filter so
    Catalyst can combine it with downstream predicates."""
    cols, gen_pages = _page_source(pages)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..core import features
        from ..core.lexicons import load_lexicons
        from ..core.pipeline import _candidate_groups
        lx = load_lexicons()
        for pdf in gen_pages(batches):
            rows = {k.name: [] for k in FEATURE_EXPORT_SCHEMA.fields}
            for url, text in zip(pdf["url"], pdf["text"]):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    continue
                dct_pairs, et_pairs, ee_pairs = _candidate_groups(doc)
                groups = (
                    ("dct", dct_pairs,
                     lambda ps: features.et_vector(doc, ps, False)),
                    ("et", et_pairs,
                     lambda ps: features.et_vector(doc, ps, False)),
                    ("ee", ee_pairs,
                     lambda ps: features.ee_vector(doc, ps, lx)),
                )
                for gname, pairs, build in groups:
                    if not pairs:
                        continue
                    for (e1, e2, _), vec in zip(pairs, build(pairs)):
                        rows["url"].append(url)
                        rows["group"].append(gname)
                        rows["src"].append(e1.mid)
                        rows["tgt"].append(e2.mid)
                        rows["label"].append(int(vec[-1]))
                        rows["libsvm"].append(features.to_libsvm(vec))
            yield pd.DataFrame(rows)

    out = cols.mapInPandas(run, schema=FEATURE_EXPORT_SCHEMA)
    if labeled_only:
        out = out.filter(F.col("label") != 0)   # F4
    return out


def train_models(pages: DataFrame, groups=("dct", "et", "ee"),
                 max_rows: int = 2_000_000) -> dict:
    """M1 end-to-end through Spark: distributed feature extraction
    (export_training_features with the F4 labeled_only filter) followed
    by the in-repo liblinear-exact trainer (core.lltrain, bit-level
    golden vs liblinear-java).

    The gather to the driver is inherent to liblinear training (a dense
    dual solve over all rows; the reference trains the same way -
    EventEventRelationClassifier.train collects every vector into one
    Problem). The distributed part - parsing + candidate generation +
    one-hot vectorization over the corpus - is the expensive stage and
    runs as the usual pure map; the libsvm rows that reach the driver
    are a few hundred bytes each, and training data is gold-labeled (a
    tiny fraction of any corpus). ``max_rows`` guards the gather: if any
    group exceeds it (someone pointing the trainer at auto-labeled
    corpus-scale data), the job fails fast with a clear error instead of
    a driver OOM. The guard count re-runs the extraction once (features
    are not cached); that cost only exists on the training path.
    Returns {group: LinearModel}."""
    from ..core import lltrain
    feats = export_training_features(pages, labeled_only=True)
    sizes = {r["group"]: r["n"] for r in
             feats.groupBy("group").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    too_big = {g: n for g, n in sizes.items() if n > max_rows}
    if too_big:
        raise ValueError(
            f"training groups exceed max_rows={max_rows}: {too_big}. "
            "liblinear training gathers all rows to the driver (dense "
            "dual solve); gold-labeled training sets fit, corpus-scale "
            "auto-labeled data does not. Raise max_rows only if the "
            "driver has the memory.")
    rows = (feats.select("group", "libsvm")
            .groupBy("group")
            .agg(F.sort_array(F.collect_list("libsvm")).alias("rows"))
            .collect())
    by_group = {r["group"]: list(r["rows"]) for r in rows}
    return {g: lltrain.train(by_group[g]) for g in groups if g in by_group}
