"""DataFrame stages: pages -> tokens/mentions -> triples.

Execution design (SURVEY.md §1.4, §4):

* The corpus is **embarrassingly parallel by document** - one page row IS
  one document, so extraction is a pure ``mapInArrow`` over the pages
  scan: zero shuffles, linear scaling with executors. No groupBy is needed
  because no cross-document state exists until canonicalization.
* Every per-page extractor runs through one kernel, ``_map_pages``: it
  reads the Arrow batches, parses each page once, applies the one error
  policy (a page that fails to parse yields exactly one error row, with
  ``PARSE_ERROR`` in the stage's label-like column, never vanishes and
  never fails the job) and frames the output columns. An extractor only
  supplies its schema, its per-page row emitter and its error row.
* What a page yields as triples is decided in one place,
  ``core.pipeline.page_triples``: the temporal cascade (optionally
  consistency-filtered), the causal cascade and the truncation meta
  triple. ``extract_triples``, the giant branch of
  ``extract_triples_salted`` and ``extract_kg_rows`` only frame its
  triples as rows, through one emitter (``_triple_emitter``).
* All Python work is Arrow-batched; the per-document core
  (eventrelationextractor_spark.core) is pure Python/numpy and is loaded
  once per executor (lexicons and liblinear weights are module-level
  caches, equivalent to a broadcast of a few hundred KB).
* Column pruning: only (url, text) are read; Catalyst prunes ``html``
  (binary) at the parquet/Iceberg scan - verified via
  ``explain_scan_pruning`` in tests.
* Giant pages: the timex-timex sieve is O(n_timex^2) per document; pages
  whose timex count exceeds ``max_timexes_per_doc`` are truncated, and
  yield one ``_doc TRUNCATED _doc`` meta triple, rather than stalling a
  task (skew guard, SURVEY.md §7.1 step 8).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from ..core.deps import token_attr
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
    table (has a ``text`` column) or a bare ``doc_id`` frame; the
    transform turns the df's Arrow batches into (url, text) batches.

    For a doc_id frame the synthetic page text is generated *inside the
    same UDF* as the downstream extraction (stage fusion, SURVEY.md §4.2):
    chaining two Python map stages makes every task hold TWO python
    workers (the JVM pipes one runner into the next), doubling the worker
    pool and paying an extra Arrow round-trip of the full page text."""
    if "text" in pages.columns:
        return pages.select("url", "text"), (lambda batches: batches)
    ids = _repartition_for_cpu(
        pages.select(F.col("doc_id").cast("long").alias("id")))
    return ids, _synth_batches(("url", "text"))


def _synth_batches(columns):
    """Arrow batch transform: each batch of an ``id`` column becomes a
    batch of the ``columns`` of those ids' synthetic pages
    (``datagen.synth_page``)."""

    def gen(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from ..datagen import synth_page
        for batch in batches:
            pg = [synth_page(d) for d in batch.column("id").to_pylist()]
            yield pa.RecordBatch.from_pydict(
                {c: [p[c] for p in pg] for c in columns})

    return gen


def _map_pages(src: DataFrame, gen_pages, schema: StructType, make_emit,
               error_rows) -> DataFrame:
    """The per-page extraction kernel: one ``mapInArrow`` over ``src``.

    ``gen_pages`` turns the input Arrow batches into batches whose
    columns are (url, text, *extra). ``make_emit()`` runs once per task
    inside the UDF (imports, lexicons) and returns ``emit(url, doc,
    *extra)``, which yields row tuples in ``schema`` order. A page that
    fails to parse yields ``error_rows(url, *extra)`` instead - one row
    per page, so every page is accounted for and downstream lineage sees
    its parse failures."""

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(schema)
        emit = make_emit()
        for batch in gen_pages(batches):
            rows = []
            for url, text, *extra in zip(*batch.to_pydict().values()):
                try:
                    doc = parse_page(text, url)
                except Exception:
                    rows.extend(error_rows(url, *extra))
                    continue
                rows.extend(emit(url, doc, *extra))
            columns = zip(*rows) if rows else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, type=field.type)
                 for col, field in zip(columns, arrow_schema)],
                schema=arrow_schema)

    return src.mapInArrow(run, schema)


_TRIPLE_ERROR = ("_doc", "PARSE_ERROR", "_doc", "parse-error", "meta")


def _triple_emitter(mode: str, frame, max_timexes: int | None,
                    salt: int | None = None, **options):
    """``make_emit`` of the triple extractors: ``frame(url, doc,
    triples)`` turns the triples ``pipeline.page_triples`` decides for a
    page into rows. With ``salt``, the page's extra column is its salt
    copy s, which computes pair slice (s, salt). An unknown ``mode``
    fails here, while the plan is built."""
    from ..core.pipeline import check_mode
    check_mode(mode)

    def make_emit():
        from ..core.lexicons import load_lexicons
        from ..core.pipeline import page_triples
        lx = load_lexicons()

        def emit(url, doc, *s):
            return frame(url, doc, page_triples(
                doc, lx, mode, max_timexes,
                pair_slice=(s[0], salt) if s else None, **options))
        return emit
    return make_emit


def _triple_table(url, doc, trips) -> Iterator:
    return ((url, t.source, t.rel, t.target, t.stage, t.pair_type)
            for t in trips)


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
    so filtering here costs zero extra stages.

    ``pages`` may be a bare doc_id frame: the synthetic page is then
    generated in the same UDF (see _page_source)."""
    return _map_pages(*_page_source(pages), TRIPLE_SCHEMA,
                      _triple_emitter(
                          mode, _triple_table, max_timexes_per_doc,
                          consistent_only=consistent_only,
                          tlinks_from_temporal=causal_tlinks_from_temporal),
                      lambda url: [(url, *_TRIPLE_ERROR)])


def extract_triples_salted(pages: DataFrame, mode: str = "both",
                           salt: int = 8,
                           giant_page_bytes: int = 256 * 1024,
                           max_timexes_per_doc: int | None = None) -> DataFrame:
    """Skew-safe extraction: salted repartition of giant pages
    (SURVEY.md §4.2 skew row - the lossless alternative to the
    ``max_timexes_per_doc`` truncation cap).

    One page = one task unit, so a single pathological page (the
    timex-timex sieve is O(n_timex^2)) stalls its task while the other
    cores sit idle. Pages >= ``giant_page_bytes`` are exploded into
    ``salt`` copies, hash-repartitioned on (url, salt) so the copies land
    on different tasks, and each copy computes exactly the pair_slice
    (s, salt) of the tt pair space (copy 0 also runs the linear candidate
    sieves and carries the page's one error row and its truncation row).
    Normal pages take the usual shuffle-free path; the union is exactly
    extract_triples' output - asserted in tests. A page without text
    counts as 0 bytes.

    Requires a real pages input (text column): the giant/normal split
    predicate needs the text length at plan time."""
    cols = pages.select("url", "text")
    is_giant = F.coalesce(F.length("text"), F.lit(0)) >= giant_page_bytes
    normal = extract_triples(cols.filter(~is_giant), mode=mode,
                             max_timexes_per_doc=max_timexes_per_doc)
    giant = (cols.filter(is_giant)
             .withColumn("salt",
                         F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
             .repartition("url", "salt"))
    return normal.unionByName(_map_pages(
        giant, lambda batches: batches, TRIPLE_SCHEMA,
        _triple_emitter(mode, _triple_table, max_timexes_per_doc, salt=salt),
        lambda url, s: [(url, *_TRIPLE_ERROR)] if s == 0 else []))


def extract_mentions(pages: DataFrame) -> DataFrame:
    """pages -> mention table (for entity linking / canonicalization)."""

    def make_emit():
        def emit(url, doc):
            for mid, m, (surface, lemma) in _mentions(doc, ("token", "lemma")):
                yield (url, mid, m.kind, m.sent_id, m.idx, surface, lemma,
                       m.ev_class, m.tmx_type, m.tmx_value,
                       "TRUE" if m.is_dct else "FALSE")
        return emit

    # null lemma: the error row never links to an alias
    return _map_pages(*_page_source(pages), MENTION_SCHEMA, make_emit,
                      lambda url: [(url, "_doc", "PARSE_ERROR", None, -1,
                                    None, None, None, None, None, "FALSE")])


def _mentions(doc: DocState, attrs: tuple) -> Iterator:
    """(mention id, mention, values) for each entity of ``doc``: the
    ``token_attr`` of each of ``attrs``, or None for each when the
    mention's first token does not exist."""
    missing = (None,) * len(attrs)
    for mid, m in doc.entities.items():
        if m.start_tok != "O" and m.start_tok in doc.tokens:
            yield mid, m, [token_attr(doc, m, a) for a in attrs]
        else:
            yield mid, m, missing


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

    def make_emit():
        from ..core.pipeline import _candidate_groups

        def emit(url, doc):
            for ptype, group in zip(("ed", "et", "ee"),
                                    _candidate_groups(doc)):
                for e1, e2, label in group:
                    yield (url, e1.mid, e2.mid, ptype, label)
        return emit

    return _map_pages(*_page_source(pages), CANDIDATE_SCHEMA, make_emit,
                      lambda url: [(url, "_doc", "_doc", "meta",
                                    "PARSE_ERROR")])


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

    def make_emit():
        from ..core.lexicons import load_lexicons
        from ..core.pipeline import ee_clf_probabilities
        lx = load_lexicons()

        def emit(url, doc):
            for s, t, name, dec, prob in ee_clf_probabilities(doc, lx):
                yield (url, s, t, name, dec, prob)
        return emit

    nan = float("nan")
    return _map_pages(*_page_source(pages), PROB_SCHEMA, make_emit,
                      lambda url: [(url, "_doc", "_doc", "PARSE_ERROR",
                                    nan, nan)])


def extract_tokens(pages: DataFrame) -> DataFrame:
    """pages -> annotated token table (the `tokens` DataFrame of SURVEY.md
    §1.4): one row per token in document order with the full annotation
    payload. Downstream consumers (custom feature pipelines, corpus
    statistics, token-level exports) get the columnar form without
    re-parsing; deps keep the reference's cell encoding so the table
    round-trips to TXP."""

    def make_emit():
        def emit(url, doc):
            for tid in doc.token_arr:
                t = doc.tokens[tid]
                deps = ("||".join(f"{k}:{t.deps[k]}" for k in t.dep_order)
                        if t.deps else "O")
                yield (url, t.idx, t.tid, t.sent_id, t.text, t.lemma, t.pos,
                       t.main_pos, t.chunk, t.tense, t.aspect, t.pol,
                       "mainVb" if t.main_verb else "O", deps, t.ev_id,
                       t.tmx_id)
        return emit

    return _map_pages(*_page_source(pages), TOKEN_SCHEMA, make_emit,
                      lambda url: [(url, -1, "_doc", "_doc", "PARSE_ERROR")
                                   + (None,) * 11])


def extracted_text(pages: DataFrame) -> DataFrame:
    """Byte-identity surface: url -> extracted (detokenized) text + sha256.

    Detokenization reproduces the reference's escaping rules
    (TempEval3TaskABC.java:284-292): PTB bracket escapes back to literal
    brackets, double-backtick/quote pairs back to '"'. A page that fails
    to parse gets empty text and ``PARSE_ERROR`` in place of the hash."""
    schema = StructType([StructField("url", StringType(), False),
                         StructField("extracted_text", StringType(), False),
                         StructField("sha256", StringType(), False)])

    def make_emit():
        import hashlib

        def emit(url, doc):
            words = []
            for tid in doc.token_arr:
                w = doc.tokens[tid].text
                w = (w.replace("-LRB-", "(").replace("-RRB-", ")")
                      .replace("-LCB-", "{").replace("-RCB-", "}")
                      .replace("-LSB-", "[").replace("-RSB-", "]")
                      .replace("``", '"').replace("''", '"'))
                words.append(w)
            extracted = " ".join(words)
            yield (url, extracted,
                   hashlib.sha256(extracted.encode("utf-8")).hexdigest())
        return emit

    return _map_pages(*_page_source(pages), schema, make_emit,
                      lambda url: [(url, "", "PARSE_ERROR")])


def synth_pages_df(spark, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic pages corpus as a DataFrame, generated
    partition-parallel from a doc-id range (no driver-side materialize)."""
    ids = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ])
    return ids.mapInArrow(_synth_batches(schema.names), schema)


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
    return ids.mapInArrow(gen, schema)


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

    def frame(url, doc, trips):
        for mid, m, (lemma,) in _mentions(doc, ("lemma",)):
            yield (url, "mention", mid, m.kind, lemma, None, None, None)
        for t in trips:
            yield (url, "triple", None, None, None, t.source, t.rel, t.target)

    # canonicalization keeps only SIMULTANEOUS/IDENTITY edges, so it
    # skips the _doc meta triples
    return _map_pages(*_page_source(pages), KG_ROW_SCHEMA,
                      _triple_emitter(mode, frame, max_timexes_per_doc),
                      lambda url: [(url, "triple", None, None, None, "_doc",
                                    "PARSE_ERROR", "_doc")])


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
    Catalyst can combine it with downstream predicates. A page that fails
    to parse yields one label-0 ``meta`` row, which the filter drops."""

    def make_emit():
        from ..core import features
        from ..core.lexicons import load_lexicons
        from ..core.pipeline import _candidate_groups
        lx = load_lexicons()

        def emit(url, doc):
            dct_pairs, et_pairs, ee_pairs = _candidate_groups(doc)
            groups = (
                ("dct", dct_pairs, lambda ps: features.et_vector(doc, ps)),
                ("et", et_pairs, lambda ps: features.et_vector(doc, ps)),
                ("ee", ee_pairs,
                 lambda ps: features.ee_vector(doc, ps, lx)),
            )
            for gname, pairs, build in groups:
                if not pairs:
                    continue
                for (e1, e2, _), vec in zip(pairs, build(pairs)):
                    yield (url, gname, e1.mid, e2.mid, int(vec[-1]),
                           features.to_libsvm(vec))
        return emit

    out = _map_pages(*_page_source(pages), FEATURE_EXPORT_SCHEMA, make_emit,
                     lambda url: [(url, "meta", "_doc", "_doc", 0, "")])
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
