"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship staged KG-construction job on a mixed
corpus (reference fixtures + deterministic synthetic web pages) and returns
the triples DataFrame. ``queries()`` exposes the pipeline stages (``kg_*``,
``html_text_extract``) and the operators that have their own behavioural
tests, each as (spark, sf_dir) -> DataFrame, and ``oracle_sql()`` gives a
DuckDB-runnable ANSI-SQL twin for the value-hash correctness gate.

The synthetic corpus (eventrelationextractor_spark.datagen) is a pure
function of doc_id, so the full temporal/causal triple output has a
closed-form SQL oracle; the fixture corpus is oracled by the *reference
engine's own outputs* (golden TSVs vendored under resources/fixtures).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventrelationextractor_spark import fixtures as fx  # noqa: E402
from eventrelationextractor_spark.ops import bm25, bpe, graph  # noqa: E402
from eventrelationextractor_spark.ops import dedup, events, multimodal  # noqa: E402
from eventrelationextractor_spark.ops import htmltext  # noqa: E402
from eventrelationextractor_spark.ops import maintenance, mining, quality  # noqa: E402
from eventrelationextractor_spark.ops import linkage  # noqa: E402
from eventrelationextractor_spark.ops import simsearch, sketches, spell, textstats  # noqa: E402
from eventrelationextractor_spark.spark import kg, stages  # noqa: E402

# broadcast-able entity-linking dictionary: synthetic-corpus event lemmas
# -> canonical KG ids (FIXTURES.md §5)
ALIAS_ROWS = (("happen", "EVENT", "EVT_HAPPEN"),
              ("say", "EVENT", "EVT_SAY"),
              ("trading", "EVENT", "EVT_TRADING"),
              ("arrive", "EVENT", "EVT_ARRIVE"))

# ---------------------------------------------------------------- helpers

_PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                 "text string, lang string")


def _fixture_pages_df(spark: SparkSession, names) -> DataFrame:
    return spark.createDataFrame(fx.fixture_pages(names), _PAGES_SCHEMA)


def _doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")) \
        .select("doc_id")


def _synth_triples(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    # fused path: page generation happens inside the extraction UDF
    trips = stages.extract_triples(_doc_ids(spark, sf_dir), mode=mode)
    return (trips
            .withColumn("doc_id", F.substring("url", -8, 8).cast("long"))
            .select("doc_id", "subj", "pred", "obj"))


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fixtures + 200 synthetic pages -> (url, subj, pred, obj,
    stage, pair_type) triples, temporal and causal sieves combined.

    Starts from the ``html`` BINARY column (the Common-Crawl-style north
    rule): the text column is DROPPED and re-derived by the
    ops.htmltext.html_to_text boilerplate-stripping operator, which
    round-trips the deterministic page wrapper byte-exactly (the
    html_text_extract oracle gate), so the triples equal the
    text-column run."""
    synth = stages.synth_pages_df(spark, 200)
    fixture = _fixture_pages_df(spark, fx.TEMPORAL_FIXTURES)
    pages = synth.unionByName(fixture)
    pages = htmltext.html_to_text(pages.drop("text"))
    return stages.extract_triples(pages, mode="both")


# ---------------------------------------------------------------- queries

def _q_kg_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _synth_triples(spark, sf_dir, "temporal")


def _q_kg_causal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _synth_triples(spark, sf_dir, "causal")


def _q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resolved candidate-pair table the sieve cascade consumes
    (F1-F3 filters, J2 resolution, R7 canonical ordering applied)."""
    c = stages.extract_candidates(_doc_ids(spark, sf_dir))
    return (c.withColumn("doc_id", F.substring("url", -8, 8).cast("long"))
            .select("doc_id", "source_id", "target_id", "pair_type",
                    "gold_rel"))


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus statistics off the annotated token table
    (tokens DataFrame of SURVEY.md §1.4) - the kind of rollup a corpus
    pipeline runs before training-data selection."""
    toks = stages.extract_tokens(_doc_ids(spark, sf_dir))
    return (toks
            .withColumn("doc_id", F.substring("url", -8, 8).cast("long"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.countDistinct("sent_id").alias("n_sentences"),
                 F.countDistinct("ev_id").alias("n_event_mentions"),
                 F.countDistinct("tmx_id").alias("n_timex_mentions")))


def _q_pred_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate histogram over the temporal triples (A3 class-count
    logging as a first-class aggregate; map-side partial agg)."""
    return (_synth_triples(spark, sf_dir, "temporal")
            .groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n")))


def _q_kg_temporal_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The giant-page salted-repartition path, proven lossless by sharing
    kg_temporal_triples' oracle: every synthetic page lands over the byte
    threshold, so the whole corpus runs through pair-space chunking."""
    pages = stages.pages_from_doc_ids(_doc_ids(spark, sf_dir))
    trips = stages.extract_triples_salted(pages, mode="temporal",
                                          salt=4, giant_page_bytes=64)
    return (trips
            .withColumn("doc_id", F.substring("url", -8, 8).cast("long"))
            .select("doc_id", "subj", "pred", "obj"))


def _q_fixture_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _fixture_pages_df(spark, fx.TEMPORAL_FIXTURES)
    return stages.extract_triples(pages, mode="temporal") \
        .select("url", "subj", "pred", "obj")


def _q_fixture_causal(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _fixture_pages_df(spark, fx.CAUSAL_FIXTURES)
    return stages.extract_triples(pages, mode="causal") \
        .select("url", "subj", "pred", "obj")


def _q_text_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stages.extracted_text(_doc_ids(spark, sf_dir)) \
        .withColumn("doc_id", F.substring("url", -8, 8).cast("long")) \
        .select("doc_id", "sha256")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus near-duplicate copies (id + 1000000, one appended
    token) and exact copies of every 10th doc (id + 2000000) - known
    positive sets for the near-dup and exact-dup detectors at every SF."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = d.select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" extra")).alias("text"))
    exact = d.filter(F.col("doc_id") % 10 == 0)         .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    return d.unionByName(dups).unionByName(exact)


BM25_QUERY_TERMS = ["hash", "join", "spark", "window", "stream"]


def _linked_mentions(spark, sf_dir):
    mentions = stages.extract_mentions(_doc_ids(spark, sf_dir))
    alias = spark.createDataFrame(list(ALIAS_ROWS),
                                  "alias string, kind string, canonical_id string")
    return kg.link_mentions(mentions, alias)


def _q_entity_linking(spark, sf_dir):
    linked = _linked_mentions(spark, sf_dir)
    return (linked.filter(F.col("canonical_id").isNotNull())
            .withColumn("doc_id", F.substring("url", -8, 8).cast("long"))
            .select("doc_id", "mention_id", "canonical_id"))


def _q_canonical_components(spark, sf_dir):
    # one-pass extraction of mentions + triples, materialized once
    # (localCheckpoint) so the two consumers don't re-parse the corpus
    rows = stages.extract_kg_rows(_doc_ids(spark, sf_dir),
                                  mode="temporal").localCheckpoint()
    mentions = rows.filter(F.col("row_kind") == "mention") \
        .select("url", "mention_id", "kind", "lemma")
    alias = spark.createDataFrame(
        list(ALIAS_ROWS), "alias string, kind string, canonical_id string")
    linked = kg.link_mentions(mentions, alias)
    trips = rows.filter(F.col("row_kind") == "triple") \
        .select("url", "subj", "pred", "obj")
    return kg.canonicalize(linked, trips).select("vertex", "component")


def _q_consistent_triples(spark, sf_dir):
    """Timegraph-filtered temporal triples (non-SQL-expressible: the filter
    is an incremental point-algebra closure; rows-only check).

    The timegraph is doc-local, so the filter runs inside the extraction
    UDF (consistent_only) - zero extra stages vs. the naive
    groupBy(url).applyInPandas formulation, which pays a full shuffle of
    the triple table plus per-group overhead for 5000 tiny groups."""
    trips = stages.extract_triples(_doc_ids(spark, sf_dir), mode="temporal",
                                   consistent_only=True)
    return (trips
            .withColumn("doc_id", F.substring("url", -8, 8).cast("long"))
            .select("doc_id", "subj", "pred", "obj"))


def _q_dedup_resolution(spark, sf_dir):
    """Fuzzy-dedup end to end over the augmented corpus (known near-dup
    + exact-dup structure): pairs -> transitive clusters -> keep
    decision. The oracle recomputes the clusters with a recursive-CTE
    transitive closure over the SAME pair set - an independent
    formulation of the connected-components semantics (the Spark side is
    iterative pointer jumping)."""
    return dedup.dedup_resolution(_augmented_docs(spark, sf_dir),
                                  threshold=0.5)


def _q_ee_probabilities(spark, sf_dir):
    """M3 predictProbability over the classifier-bound EE pairs: one row
    per (doc, model class) with the decision value and the
    liblinear-formula probability. The oracle anchors the decision-value
    constants (pure function of doc_id % 3; asserted against the
    golden-verified predict path in tests/test_core_parity.py) and
    recomputes sigmoid + normalization independently in SQL."""
    probs = stages.extract_ee_probabilities(_doc_ids(spark, sf_dir))
    return (probs
            .withColumn("doc_id", F.substring("url", -8, 8).cast("long"))
            .select("doc_id", "label",
                    F.round("dec", 6).alias("dec"),
                    F.round("prob", 6).alias("prob")))


def _gold_and_perturbed(spark, sf_dir):
    """(gold, pred) frames of (url, src, tgt, rel): gold = the synthetic
    temporal triples; pred = gold without the e4-source rows of every 9th
    doc (-> fn), plus a spurious (e1, e2, BEFORE) for every 11th doc
    (-> fp)."""
    # localCheckpoint: gold feeds BOTH the gold side and the perturbed
    # pred side - without it each consumer re-runs the extraction
    gold = _synth_triples(spark, sf_dir, "temporal").select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("subj").alias("src"), F.col("obj").alias("tgt"),
        F.col("pred").alias("rel")).localCheckpoint()
    dropped = gold.filter(~((F.col("url").cast("long") % 9 == 0)
                            & (F.col("src") == "e4")))
    spurious = _docs(spark, sf_dir).filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit("e1").alias("src"), F.lit("e2").alias("tgt"),
        F.lit("BEFORE").alias("rel"))
    return gold, dropped.unionByName(spurious)


def _q_eval_metrics(spark, sf_dir):
    """J6/A2 as an oracled query: per-label tp/fp/fn/P/R/F1 from
    spark.evaluate.evaluate_pairs over the gold and perturbed pred frames
    of _gold_and_perturbed. The SQL twin re-implements the inverse
    normalization, full-outer pair match and per-label aggregation
    independently."""
    from eventrelationextractor_spark.spark import evaluate
    return evaluate.evaluate_pairs(*_gold_and_perturbed(spark, sf_dir))


def _q_awareness(spark, sf_dir):
    """TempEval-3 temporal-awareness scores per document (the reference's
    own published metric; core.awareness is golden-anchored against the
    reference's evaluation tool). Non-SQL-expressible - the score needs
    the timegraph closure - so this is a rows-only query like
    kg_consistent_triples; correctness is carried by the golden parity
    tests (tests/test_awareness_golden.py). Gold = the synthetic
    extraction; system = the same deterministic perturbation
    kg_eval_metrics uses."""
    from eventrelationextractor_spark.spark import evaluate
    return (evaluate.awareness_scores(*_gold_and_perturbed(spark, sf_dir))
            .select(F.col("url").cast("long").alias("doc_id"),
                    F.round("precision", 6).alias("precision"),
                    F.round("recall", 6).alias("recall"),
                    F.round("f1", 6).alias("f1"),
                    "sys_total", "gold_total"))


def _q_html_text_extract(spark, sf_dir):
    """html->text extraction gate: wrap each document's text in the
    deterministic Common-Crawl-style wrapper (wrap_html_expr, the codegen
    twin of datagen.wrap_html - head/script/style + header/nav/aside/
    footer boilerplate, payload entity-escaped inside <article><pre>),
    DROP the text column, extract through ops.htmltext.html_to_text, and
    emit (doc_id, n_chars, sha) of the EXTRACTED text. The oracle hashes
    the ORIGINAL text column, so any boilerplate leakage, whitespace
    damage, or entity mishandling breaks the value hash (the north
    rule's byte-identical-text-per-url invariant through the html
    path). Pure codegen end to end - no shuffle, no Python."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    pages = d.select("doc_id", htmltext.wrap_html_expr(
        F.col("text"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("html"))
    ext = htmltext.html_to_text(pages, out_col="etext")
    return ext.select(
        "doc_id",
        F.length("etext").cast("long").alias("n_chars"),
        F.sha2(F.col("etext"), 256).alias("sha"))


def _media_pngs(doc_ids_df: DataFrame) -> DataFrame:
    """Deterministic PNG payloads, a pure function of doc_id: dims
    h = 8 + (d%5)*4, w = 8 + ((d//5)%5)*4, pixel[y,x,c] =
    (x*3 + y*7 + c*11 + d) % 256, encoded with row filter d % 3 (None/
    Sub/Up - all the paths our encoder can emit). The closed pixel form
    is what lets a SQL oracle verify a REAL decode (see
    _MEDIA_DECODE_ORACLE)."""
    from eventrelationextractor_spark.ops import codecs as _codecs

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            ids, payloads, ws, hs = [], [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                h = 8 + (d % 5) * 4
                w = 8 + ((d // 5) % 5) * 4
                y, x, c = np.mgrid[0:h, 0:w, 0:3]
                arr = ((x * 3 + y * 7 + c * 11 + d) % 256).astype("uint8")
                ids.append(d)
                payloads.append(_codecs.encode_png(arr, row_filter=d % 3))
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame({"media_id": ids,
                                "kind": ["image"] * len(ids),
                                "payload": payloads,
                                "width": ws, "height": hs})

    return doc_ids_df.mapInPandas(gen, multimodal.MEDIA_SCHEMA)


def _media_wavs(doc_ids_df: DataFrame) -> DataFrame:
    """Deterministic 8 kHz mono WAV payloads, a pure function of
    doc_id: n = 800 + (d%7)*160 + (d%3)*53 int16 samples (exercising
    partial trailing frames), sample i = 0 when ((i//160)+d) % 5 < 2
    (two-frame silence blocks) else ((i*37 + d*11) % 2048) - 1024.
    Encoded via codecs.encode_wav_pcm16 (NO float rescale) so the SQL
    oracle replays every frame statistic from this closed form."""
    from eventrelationextractor_spark.ops import codecs as _codecs

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 800 + (d % 7) * 160 + (d % 3) * 53
                i = np.arange(n, dtype=np.int64)
                v = np.where(((i // 160) + d) % 5 < 2, 0,
                             ((i * 37 + d * 11) % 2048) - 1024)
                ids.append(d)
                payloads.append(
                    _codecs.encode_wav_pcm16(8000, v.astype(np.int16)))
            k = len(ids)
            yield pd.DataFrame({"media_id": ids, "kind": ["audio"] * k,
                                "payload": payloads,
                                "width": [0] * k, "height": [0] * k})

    return doc_ids_df.mapInPandas(gen, multimodal.MEDIA_SCHEMA)


def _q_audio_frame_stats(spark, sf_dir):
    """Frame-energy / silence-run telemetry from a REAL WAV decode
    (ops/multimodal.py::audio_frame_stats): all-integer VAD statistics
    under the value hash — the oracle recomputes energies, silent
    frames, and gaps-and-islands silence runs from the staged
    closed-form PCM pattern."""
    ids = _docs(spark, sf_dir).select("doc_id")
    return multimodal.audio_frame_stats(_media_wavs(ids))


def _link_edges(spark, sf_dir):
    """Deterministic synthetic hyperlink graph over the document ids:
    page d links to (d*7+1) % N and (d*13+3) % N, except every 17th page
    is dangling (no out-links) - exercising PageRank's dangling-mass
    redistribution. Pure function of doc_id, mirrored in the SQL oracle.
    Returns (edges, nodes, n)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    linked = docs.filter(F.col("doc_id") % 17 != 0)
    e = (linked.select(F.col("doc_id").alias("src"),
                       ((F.col("doc_id") * 7 + 1) % n).alias("dst"))
         .unionByName(
             linked.select(F.col("doc_id").alias("src"),
                           ((F.col("doc_id") * 13 + 3) % n).alias("dst"))))
    nodes = docs.select(F.col("doc_id").alias("node"))
    return e, nodes


def _q_kg_cc_incremental(spark, sf_dir):
    """Incremental connected components (spark/kg.py::cc_incremental):
    canonical-cluster labels refreshed from a delta edge batch by
    contract-and-solve - the delta, contracted through the old labels,
    is solved by one union-find on the driver, never the base (the
    graph analogue of ivm_refresh). The oracle computes a full
    recursive-closure CC over base UNION delta, so the hash gate
    asserts refresh == recompute. Graph capped at doc_id < 300 to keep
    the closure oracle quadratic-safe at any SF."""
    docs = _docs(spark, sf_dir).select("doc_id")         .filter(F.col("doc_id") < 300)
    n = docs.count()
    linked = docs.filter(F.col("doc_id") % 17 != 0)
    e = (linked.select(F.col("doc_id").alias("src"),
                       ((F.col("doc_id") * 7 + 1) % n).alias("dst"))
         .unionByName(
             linked.select(F.col("doc_id").alias("src"),
                           ((F.col("doc_id") * 13 + 3) % n).alias("dst"))))
    base = e.filter((F.col("src") * 31 + F.col("dst")) % 5 != 0)
    delta = e.filter((F.col("src") * 31 + F.col("dst")) % 5 == 0)
    labels = kg.connected_components(base)
    return kg.cc_incremental(labels, delta)


def _q_tfidf_cosine_pairs(spark, sf_dir):
    """Exact sparse TF-IDF shingle-cosine similarity join
    (ops/dedup.py::tfidf_cosine_pairs, Bayardo/Vernica inverted-index
    all-pairs with the contractual hot-term candidate cap) over the
    augmented corpus: the +1000000 one-token-appended near-copies and
    +2000000 exact copies are the known positive pairs. max_df=10:
    this corpus's fixed tiny vocabulary makes shingle df grow linearly
    with N, so the cap must stay low to hold the candidate budget
    (measured: cap 100 -> 5.0M candidates and an OOM at sf0.1, cap 10
    -> 71k; a real heavy-tailed vocabulary is far less dense)."""
    return dedup.tfidf_cosine_pairs(_augmented_docs(spark, sf_dir),
                                    n=3, threshold=0.5, max_df=10)


def _q_prefix_filter_pairs(spark, sf_dir):
    """EXACT all-pairs Jaccard join (ops/dedup.py::prefix_filter_pairs,
    AllPairs prefix filtering): recall-1 near-dup tier next to the
    probabilistic MinHash one, over the augmented corpus with planted
    near/exact dups. All filters in integer ppm; the oracle replays
    df-rank prefixes, the size gate, and exact verification."""
    return dedup.prefix_filter_pairs(_augmented_docs(spark, sf_dir),
                                     t_ppm=800_000)


def _q_frequent_pairs(spark, sf_dir):
    """A-priori size-2 frequent itemsets (ops/mining.py::
    frequent_pairs) over event-type baskets per (user, day):
    support / confidence / lift in exact integer ppm. Items below
    min_support are pruned BEFORE the basket self-join (downward
    closure) and the pair generator is a basket-keyed equi-join,
    never an all-pairs product."""
    ev = _events(spark, sf_dir).selectExpr(
        "concat(cast(user_id as string), '|', cast(to_date(ts) as string))"
        " AS basket",
        "event_type AS item")
    return mining.frequent_pairs(ev, "basket", "item", min_support=2)


def _q_roc_auc(spark, sf_dir):
    """Tie-aware ROC AUC (ops/quality.py::roc_auc) of the length-
    derived ppm score against a noisy threshold label (the doc_id%7
    slice flips, so the ranking is good but not perfect and the score
    has heavy ties across docs of equal length). Mann-Whitney over
    score GROUPS - auc_num2/auc_den2 exact integers, one groupBy plus
    a window over score-distinct rows only."""
    d = _docs(spark, sf_dir).selectExpr(
        "least(999999, (1000000 * cast(n_chars as bigint)) div 300)"
        " AS score_ppm",
        "(n_chars >= 150) != (doc_id % 7 = 0) AS label")
    return quality.roc_auc(d, "score_ppm", "label")


def _q_pr_curve(spark, sf_dir):
    """Precision/recall curve (ops/quality.py::pr_curve) of a length-
    derived ppm score against a noisy threshold label (doc_id%5 slice
    flips) - one row per distinct score, tp/fp/fn and the ppm ratios
    all exact integers. The threshold-sweep companion of roc_auc:
    same groupBy-to-score-cardinality + window-over-distinct-scores
    shape, different staging so the two gates are independent."""
    d = _docs(spark, sf_dir).selectExpr(
        "least(999999, (1000000 * cast(n_chars as bigint)) div 250)"
        " AS score_ppm",
        "(n_chars >= 120) != (doc_id % 5 = 0) AS label")
    return quality.pr_curve(d, "score_ppm", "label")


def _q_phrase_search(spark, sf_dir):
    """Exact-phrase search (ops/bm25.py::phrase_search) for the
    REPEATED-token phrase "table table" - the classic PhraseQuery
    subtlety the distinct-offset count exists for (a lone 'table'
    satisfies one offset, never both). Postings shift onto a common
    anchor; one groupBy, no self-join chain."""
    return bm25.phrase_search(_docs(spark, sf_dir), ["table", "table"])


def _q_token_label_mi(spark, sf_dir):
    """Mutual-information + G^2 feature selection (ops/quality.py::
    token_label_mi) between hashed-bigram presence and the doc_id%10
    label - the feature space ops/quality.py's classifier trains on.
    Exact integer cell counts; mi/g2 are per-row 4-term float
    expressions (6dp)."""
    d = _docs(spark, sf_dir)
    return quality.token_label_mi(d, F.expr("doc_id % 10 = 0"),
                                  n_buckets=64)


def _q_zipf_fit(spark, sf_dir):
    """Zipf exponent of the corpus term distribution (ops/bm25.py::
    zipf_fit): OLS of ln(freq) on ln(rank) over the top-50 terms.
    Top-n cut is TakeOrdered (freq DESC, term ASC — deterministic
    under ties); the regression aggregates 50 rows."""
    return bm25.zipf_fit(_docs(spark, sf_dir), top_n=50)


def _q_weighted_median(spark, sf_dir):
    """Quantity-weighted median unit price per return flag over
    lineitem (ops/textstats.py::weighted_median): exact lower weighted
    median via cumulative integer weights — 2*cum >= total, no
    interpolation, no floats. Money in integer cents (floor(x*100+.5))
    and quantities as exact integers, the repo-standard twins."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .selectExpr("l_returnflag",
                    "cast(floor(l_extendedprice * 100 + 0.5) as bigint)"
                    " AS cents",
                    "cast(floor(l_quantity + 0.5) as bigint) AS qty")
    return textstats.weighted_median(li, ["l_returnflag"], "cents",
                                     "qty")


def _q_naive_bayes(spark, sf_dir):
    """Bernoulli naive Bayes (ops/quality.py::naive_bayes_classify)
    over the shared hashed-bigram space, label doc_id%10==0 — the
    generative sibling of token_label_mi. Integer
    counts + add-one smoothing; scores are log-sums at the 6dp gate
    and the decision compares ROUNDED scores so both engines argmax
    identically."""
    d = _docs(spark, sf_dir)
    return quality.naive_bayes_classify(d, F.expr("doc_id % 10 = 0"),
                                        n_buckets=64)


def _q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth (ops/bm25.py::vocab_growth):
    distinct vocabulary after each tenth of the id space. First-
    sighting per term is one vocab-cardinality groupBy; checkpoints
    are VALUE-based id boundaries (no doc ranking anywhere); the
    cumulative window runs over the 10 checkpoint rows. The corpus
    vocabulary is a fixed word list (every term first appears in
    checkpoint 1 - a plateau), so a marker token per 50-doc block is
    staged in to exercise actual growth."""
    d = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "concat(text, ' tok', cast(doc_id div 50 as string)) AS text")
    return bm25.vocab_growth(d, n_checkpoints=10)


def _q_mad_outliers(spark, sf_dir):
    """Hampel/MAD robust outlier flags over document lengths
    (ops/textstats.py::mad_outliers): both medians ride the value-
    histogram walk (no full-data sort - the hdr 'window over sketch
    rows' shape), and the 3-MAD fence is evaluated in doubled/
    quadrupled integers so flags are engine-exact."""
    return textstats.mad_outliers(_docs(spark, sf_dir), "n_chars",
                                  "doc_id")


def _q_session_transitions(spark, sf_dir):
    """First-order Markov next-event matrix
    (ops/events.py::session_transitions): one lead window per user
    stream (event_id tie-break), integer transition counts, row-
    normalized by a single exact division."""
    return events.session_transitions(_events(spark, sf_dir))


def _q_events_stream_enrich(spark, sf_dir):
    """view->click attribution within 30 min
    (ops/events.py::interval_enrich). The SAME expression is Spark's
    watermarked stream-stream inner join under readStream (batch
    equivalence + watermark state eviction are pytest-gated in
    test_spark_stages.py); in batch it plans as an equi-join on the
    user key + residual range filter. At scale the hot-key-safe batch
    variant is interval_join_bucketed; this query gates the streaming
    operator's semantics. The emitted l_ts/r_ts are cast back to
    TIMESTAMP_NTZ: the operator's event time must be ltz (watermark
    contract), which renders session-zone instants — the ntz
    round-trip restores the original wall time under ANY session
    timezone (window-sweep-caught divergence)."""
    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id",
                                       "event_type")
    out = events.interval_enrich(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
        minutes=30, watermark="60 days")
    return out.select(
        "user_id", "l_id", "l_type",
        F.col("l_ts").cast("timestamp_ntz").alias("l_ts"),
        "r_id", "r_type",
        F.col("r_ts").cast("timestamp_ntz").alias("r_ts"))


def _q_ivm_refresh(spark, sf_dir):
    """Incremental view maintenance (ops/maintenance.py::{rollup_build,
    ivm_refresh}): the per-(event_type, day) money rollup is refreshed
    from an append-only delta (event_id div 10 == 0 rows) WITHOUT
    touching the base rows again - count/sum add, min/max fold. The
    oracle recomputes the rollup over base UNION delta directly, so the
    hash gate asserts the IVM equivalence itself. Money rides exact
    integer cents (floor(v*100 + 0.5) - HALF_UP round diverges across
    engines on negative halves); day = integer epoch-day from
    ops/events.py::ntz_epoch_us - pure NTZ calendar-field extraction,
    identical under ANY session timezone. ROOT CAUSE of the r03/r04
    driver-only hash-red, finally reproduced by the round-5 window
    sweep: the parquet ts is TIMESTAMP_NTZ, so BOTH the original
    unix_timestamp(ts) AND the first unix_micros(cast(ts as
    timestamp_ltz)) fix interpret the wall time in the SESSION zone -
    a driver harness with a non-UTC JVM default shifts every epoch by
    the zone offset while DuckDB's epoch(ts) stays naive."""
    ev = _events(spark, sf_dir).select(
        "event_id", "event_type",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("1970-01-01").cast("date")).cast("long")
        .alias("day"),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"))
    base = ev.filter(F.expr("event_id % 10 != 0"))
    delta = ev.filter(F.expr("event_id % 10 = 0"))
    snap = maintenance.rollup_build(base, ["event_type", "day"], "cents")
    drol = maintenance.rollup_build(delta, ["event_type", "day"], "cents")
    return maintenance.ivm_refresh(snap, drol)


def _q_hdr_quantiles(spark, sf_dir):
    """Mergeable log-linear quantile sketch (ops/sketches.py::hdr_*,
    HdrHistogram/DDSketch family): per-source shard sketches -> count
    addition merge -> p50/p90/p99 extraction. Bucketing is pure
    string/integer arithmetic (2 leading digits x decimal magnitude,
    <= 10% bucket width) - no float log, so the sketch is bit-identical
    on any engine; the oracle replays buckets, ceil-rank and midpoint
    with the same integer div."""
    sharded = sketches.hdr_buckets(_docs(spark, sf_dir), "n_chars",
                                   group_cols=("source",))
    return sketches.hdr_quantiles(sketches.hdr_merge(sharded))


def _q_hdr_group_quantiles(spark, sf_dir):
    """Per-source p50/p90/p99 from grouped HDR sketches
    (ops/sketches.py::hdr_group_quantiles): the cumulative window is
    partitioned per group and runs over the <=90-row-per-decade sketch,
    never the data - grouped quantiles with NO per-group data sort, the
    only sane shape at 100 TB. Oracle replays bucketing + per-group
    ceil-rank in integer arithmetic."""
    sk = sketches.hdr_buckets(_docs(spark, sf_dir), "n_chars",
                              group_cols=("source",))
    return sketches.hdr_group_quantiles(sk, ("source",))


# --- record linkage: shared derivation strings (valid Spark SQL AND
# --- DuckDB SQL verbatim - the WRAP_TEMPLATE lockstep pattern)

def _case_pick(expr: str, options: list[str]) -> str:
    whens = " ".join(f"WHEN {i} THEN '{w}'" for i, w in enumerate(options))
    return f"CASE ({expr}) {whens} END"


_LINK_SURNAME = _case_pick("(doc_id*7+3)%16", [
    "smith", "jones", "taylor", "brown", "wilson", "evans", "thomas",
    "walker", "white", "green", "hall", "wood", "clarke", "hughes",
    "lewis", "young"])
_LINK_FIRST = _case_pick("(doc_id*11+5)%12", [
    "beth", "ben", "carl", "dana", "eli", "fay", "gus", "hana",
    "ivan", "josh", "kim", "lena"])
_LINK_CITY = _case_pick("doc_id%8", [
    "aston", "boone", "cadiz", "derry", "ely", "fargo", "gary", "hilo"])
_LINK_BASE_FIELDS = (
    "doc_id AS rec_id",
    f"{_LINK_SURNAME} AS surname",
    f"{_LINK_FIRST} AS first_name",
    f"{_LINK_CITY} AS city",
    "10000 + (doc_id*37)%900 AS zipc")
_LINK_PERTURB = (
    "rec_id",
    "CASE WHEN rec_id%5=0 THEN translate(surname,'a','e') "
    "ELSE surname END AS surname",
    "CASE WHEN rec_id%5=2 THEN substr(first_name,1,length(first_name)-1) "
    "ELSE first_name END AS first_name",
    "city",
    "CASE WHEN rec_id%5=1 THEN zipc+1 ELSE zipc END AS zipc")
_LINK_COMPARISONS = [("surname", "lev1", 240, -180),
                     ("first_name", "exact", 180, -120),
                     ("zipc", "exact", 300, -150),
                     ("city", "exact", 90, -60)]


def _linkage_records(spark, sf_dir):
    base = _docs(spark, sf_dir).selectExpr(*_LINK_BASE_FIELDS)
    left = base.where("rec_id % 3 <> 2")
    right = base.where("rec_id % 2 = 0").selectExpr(*_LINK_PERTURB)
    block = ["zipc div 10 AS zb", "substr(surname,1,1) AS sb"]
    return (left.selectExpr("*", *block), right.selectExpr("*", *block))


def _q_record_linkage(spark, sf_dir):
    """Fellegi-Sunter record linkage (ops/linkage.py::link_records):
    two record sources derived from the doc universe (the right side
    perturbed - surname vowel typos, zip off-by-one, truncated first
    names), blocked on (zipc div 10, surname initial), scored with
    integer centiban agree/disagree weights, classified match /
    possible / nonmatch. The blocked equi-join is the only pair
    generator - no all-pairs anywhere; field comparisons (incl. the
    banded thresholded levenshtein) are pure codegen."""
    left, right = _linkage_records(spark, sf_dir)
    return linkage.link_records(left, right, ["zb", "sb"],
                                _LINK_COMPARISONS, match_threshold=500,
                                possible_threshold=0)


def _q_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrases (ops/mining.py::rake_keyphrases): top-3
    stopword-delimited phrases per document by integer micro-score -
    model-free and multi-word. The
    oracle replays tokenization, the stopword-run segmentation
    (cumulative-stopword window), freq/degree, and the floor-scaled
    scoring."""
    return mining.rake_keyphrases(_docs(spark, sf_dir))


def _q_ams_f2(spark, sf_dir):
    """AMS F2 (self-join size) sketch (ops/sketches.py::ams_f2): 32
    md5-signed sketch rows + exact-integer middle-two median + the
    exact F2 audit, all BIGINT end-to-end (median kept as the SUM of
    the two middle order stats - no /2 float)."""
    return sketches.ams_f2(_docs(spark, sf_dir), n_rows=32)


def _q_decision_stump(spark, sf_dir):
    """1-R decision stump (ops/quality.py::decision_stump, Holte
    1993): best single n_chars threshold for lang='en' by weighted
    Gini over a common integer denominator - the interpretable
    baseline a curation gate ships when it can't justify a model.
    One partial-agg groupBy to the bucket spine, then windows at
    statistic scale."""
    return quality.decision_stump(_docs(spark, sf_dir),
                                  F.col("lang") == "en",
                                  feature_col="n_chars", bucket_width=16)


def _q_maxsim_search(spark, sf_dir):
    """Late-interaction MaxSim retrieval (ops/simsearch.py::
    maxsim_topk, the ColBERT scoring shape) over deterministic hashed
    16-dim token vectors: per-query-token max cosine summed in one
    fixed-order expression. Vocab-cardinality vector compute, posting
    equi-join, partial-agg maxes, TakeOrderedAndProject."""
    return simsearch.maxsim_topk(_docs(spark, sf_dir),
                                 ["hash", "join", "stream"], k=15)


def _q_scc_pivot(spark, sf_dir):
    """FW-BW pivot SCC round (ops/graph.py::scc_pivot, Fleischer et
    al.): forward + backward hop-bounded BFS from the min-id pivot,
    FW ∩ BW = the pivot's SCC, the complement sets = the recursion
    partitions. Two frontier sweeps + one full-outer join; oracle =
    two recursive CTEs intersected."""
    e, _ = _link_edges(spark, sf_dir)
    return graph.scc_pivot(e, max_hops=8)


def _q_ltr_features(spark, sf_dir):
    """Learning-to-rank feature extraction (ops/bm25.py::
    ltr_features): per matching doc the lexical feature vector
    (match counts, tf stats, df bounds, doc length, shared-formula
    bm25) - broadcast query semi-join before any shuffle, one
    partial-agg groupBy, no top-k cut (LTR wants every candidate)."""
    return bm25.ltr_features(_docs(spark, sf_dir), BM25_QUERY_TERMS)


GAZETTEER_PHRASES = ["hash scan", "join order", "sort table scan",
                     "batch batch", "spark window", "stream"]


def _q_gazetteer_spans(spark, sf_dir):
    """Dictionary entity tagging with leftmost-longest resolution
    (ops/mining.py::gazetteer_spans, the Aho-Corasick reporting
    convention): overlapping shorter matches suppressed. Broadcast
    gazetteer, one zero-shuffle mapInPandas; oracle = candidate scan
    as a recursive CTE carrying last_end."""
    return mining.gazetteer_spans(_docs(spark, sf_dir),
                                  GAZETTEER_PHRASES)


def _q_mattr_diversity(spark, sf_dir):
    """Moving-average TTR lexical diversity (ops/textstats.py::
    mattr_diversity): window-enumeration-free sliding-window distinct
    counts via one lag() per (doc, term) - exact integer ppm, two
    shuffles total."""
    return textstats.mattr_diversity(_docs(spark, sf_dir), window=20)


def _q_spearman_rho(spark, sf_dir):
    """Spearman rank correlation (ops/quality.py::spearman_rho) on the
    O(n log n) rank space instead of Kendall tau's O(n^2) pair
    join. Tie-averaged ranks kept exact via
    rank_asc + n + 1 - rank_desc; integer moments, one sqrt per key."""
    t = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", (F.col("doc_id") % 16).alias("grp"), "n_chars",
        F.size(F.array_distinct(F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda w: w != ""))).cast("long").alias("nt"))
    return quality.spearman_rho(t, "grp", "n_chars", "nt")


def _q_symspell_correct(spark, sf_dir):
    """SymSpell edit-distance-1 correction (ops/spell.py::
    symspell_correct): dictionary = corpus terms with cnt>=5 and
    length>=4; queries = deterministic single-char deletions of the
    top-100 dictionary terms (position = cnt mod length). Both sides
    publish delete keys map-side, meet in one equi-join, verify with
    levenshtein, rank (dist, cnt desc, term)."""
    toks = _docs(spark, sf_dir).select(
        F.explode(F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != "")).alias("term"))
    dic = (toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
           .filter((F.col("cnt") >= 5) & (F.length("term") >= 4)))
    top = dic.orderBy(F.col("cnt").desc(), "term").limit(100)
    qs = top.select(F.expr(
        "concat(substr(term, 1, cnt % length(term)), "
        "substr(term, cnt % length(term) + 2))").alias("q"))
    return spell.symspell_correct(qs, dic)


def _q_boruvka_mst(spark, sf_dir):
    """Minimum spanning forest by Boruvka (ops/graph.py::boruvka_mst)
    over a deterministic weighted graph on the doc_id%10 stratum
    (three generators incl. a ring, so it's connected; w = (31u+17v)
    mod 997, ties broken by eid). Every round is one incidence groupBy
    + a component-graph CC at statistic scale; <= log2(V) rounds. The
    oracle replays Kruskal under the identical (w, eid) order in a
    single-row recursive CTE carrying the label list - same unique
    forest. sf1.0 note: the oracle's list recursion is O(V*E)
    (a verification-only wall); Spark does
    the same graph in log-rounds of joins."""
    ks = (_docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
          .select(F.expr("doc_id div 10").alias("k")))
    m = ks.count()
    gen = ks.select("k", F.explode(F.array(
        (F.col("k") * 7 + 1) % m, (F.col("k") * 13 + 3) % m,
        (F.col("k") + 1) % m)).alias("g"))
    e = (gen.select(F.least("k", "g").alias("u"),
                    F.greatest("k", "g").alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .select((F.col("u") * m + F.col("v")).alias("eid"), "u", "v",
                 ((F.col("u") * 31 + F.col("v") * 17) % 997)
                 .alias("w")))
    return graph.boruvka_mst(e)


def _q_media_sobel(spark, sf_dir):
    """Integer Sobel edge statistics over REAL PNG decode
    (ops/multimodal.py::sobel_stats) on the closed-form pixel corpus
    (_media_pngs): gray = (r+g+b) div 3, mag2 = Gx^2+Gy^2, no sqrt -
    so actual decoded pixels sit under the value hash with zero float
    tolerance. The oracle re-derives every interior gradient from the
    closed pixel form (a 3x3 stencil, not just channel means)."""
    return multimodal.sobel_stats(
        _media_pngs(_docs(spark, sf_dir).select("doc_id")))


def _q_woe_iv(spark, sf_dir):
    """Weight-of-Evidence / Information-Value feature screen
    (ops/quality.py::woe_iv) over length bins vs an id-derived label:
    Laplace-smoothed woe as exact-integer 2k+1 halves, iv terms from
    the same counts - one n_bins groupBy + a 1-row class-total
    broadcast."""
    d = _docs(spark, sf_dir).selectExpr(
        "least(n_chars div 40, 9) AS bin",
        "doc_id % 3 = 0 AS label")
    return quality.woe_iv(d, "bin", "label")


def _q_skipgram_ppmi(spark, sf_dir):
    """Skip-gram PPMI matrix top-50 (ops/textstats.py::skipgram_ppmi):
    the word2vec co-occurrence preprocessing - +-2 context window
    generated by EQUI-join probe keys (doc, p+1..p+2), never a range
    join; directed-pair marginals; 6dp PPMI before the TakeOrdered
    cut."""
    return textstats.skipgram_ppmi(_docs(spark, sf_dir), window=2,
                                   min_count=5, k=50)


def _q_fd_violations(spark, sf_dir):
    """Functional-dependency audit (ops/maintenance.py::
    fd_violations): g3 repair distance for three candidate FDs over
    documents - one that holds exactly (doc_id -> source) and two
    that don't. Per FD one (lhs, rhs) partial agg + statistic-scale
    majority sums; exact integers."""
    return maintenance.fd_violations(_docs(spark, sf_dir), [
        ("doc_to_source", "doc_id", "source"),
        ("len_to_lang", "n_chars", "lang"),
        ("source_to_lang", "source", "lang")])


def _q_matryoshka_eval(spark, sf_dir):
    """Matryoshka truncation evaluation (ops/simsearch.py::
    matryoshka_agreement): per prefix dim (8/16/32/64), does
    brute-force cosine top-1 agree with the full vector? Cosine
    6dp-rounded BEFORE argmax + id tie-break (ivfpq contract);
    broadcast query side, one corpus stream per dim."""
    return simsearch.matryoshka_agreement(_emb(spark, sf_dir),
                                          dims=(8, 16, 32, 64),
                                          n_queries=10)


def _q_knn_shapley(spark, sf_dir):
    """Exact KNN-Shapley data valuation (ops/simsearch.py::
    knn_shapley, Jia et al. VLDB 2019): test = first 10 vectors,
    train = the rest, K=5; top-10 most valuable training points per
    test point. Contributions are lockstep BIGINT nano-units
    (sign * (1e9 div max(K, i)) suffix-summed), so the value surface
    is engine-exact; the distance ranking is 6dp-rounded d^2 with id
    tie-break. Oracle replays the identical window formulation."""
    return simsearch.knn_shapley(_emb(spark, sf_dir),
                                 n_test=10, k_nn=5, topn=10)


def _q_wl_colors(spark, sf_dir):
    """1-WL color refinement census (ops/graph.py::wl_colors) over
    the synthetic link graph: 3 rounds of neighborhood-multiset
    rehashing, output = (color, n_nodes) — the structural-role
    histogram that detects templated/mirrored link farms plain degree
    or triangle profiles cannot. Pure string/integer logic (md5
    colors, sorted joins), so the oracle's chained-CTE replay is
    bit-exact."""
    e, nodes = _link_edges(spark, sf_dir)
    return graph.wl_colors(e, nodes=nodes, n_rounds=3)


def _q_rfm_segments(spark, sf_dir):
    """RFM segmentation census (ops/events.py::rfm_segments): per-user
    recency/frequency/monetary quintiles via the bucket-offset exact
    NTILE (no single-partition window), then the 5^3-bounded segment
    grid with user counts and integer-cents revenue. The oracle uses
    plain NTILE windows ordered by (metric, user_id) — the Spark side
    must reproduce the SQL-standard larger-tiles-first distribution
    from rank arithmetic alone."""
    return events.rfm_segments(_events(spark, sf_dir))


_JSON_INFER_STAGE = (
    'concat(\'{"a":\', cast(event_id % 100 as string), '
    '\',"b":"\', event_type, \'"\', '
    'CASE WHEN user_id % 4 = 0 THEN concat(\',"c":\', '
    '  CASE WHEN user_id % 8 = 0 THEN \'true\' ELSE \'false\' END) '
    'WHEN user_id % 4 = 1 THEN concat(\',"c":\', '
    '  cast(event_id % 90 as string), \'.5\') '
    'WHEN user_id % 4 = 2 THEN \',"c":null\' ELSE \'\' END, '
    'CASE WHEN event_id % 5 = 0 THEN concat(\',"d":{"e":\', '
    '  cast(event_id % 7 as string), \'}\') ELSE \'\' END, '
    "'}')")


def _q_wordpiece(spark, sf_dir):
    """WordPiece subword tokenizer (ops/bpe.py::wordpiece_vocab +
    wordpiece_census): position-flavored units (plain at word start,
    ##gram continuations) from a frequency-derived top-160 vocabulary
    plus the full both-flavor alphabet, then greedy longest-match-
    first encoding. Words are staged
    as token || doc_id%97 to open the closed ~31-word corpus
    vocabulary to ~3k distinct words. The oracle replays the greedy
    match as a recursive list-state CTE over the same vocab."""
    wf = (_docs(spark, sf_dir)
          .select(F.explode(F.split(
              F.col("text"), " ")).alias("tok"),
              (F.col("doc_id") % 97).alias("m"))
          .filter(F.col("tok") != "")
          .select(F.concat("tok", F.col("m").cast("string"))
                  .alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).cast("long")
                            .alias("freq")))
    vocab = bpe.wordpiece_vocab(wf, k=160, max_len=4)
    return bpe.wordpiece_census(wf, vocab, max_len=4)


def _q_lz_complexity(spark, sf_dir):
    """LZ76 phrase complexity (ops/textstats.py::lz_complexity) over
    60-char doc prefixes: greedy shortest-novel-phrase parse, phrase
    count + ratio_ppm per doc — the codec-free gzip-ratio quality
    proxy. Oracle = one
    phrase per recursive-CTE iteration with a list_filter/strpos
    scan, bit-identical parse by construction."""
    return textstats.lz_complexity(_docs(spark, sf_dir),
                                   prefix_len=60)


def _q_shapley_attribution(spark, sf_dir):
    """Exact Shapley channel attribution (ops/events.py::
    shapley_attribution): channels staged as event_id%4, conversion
    as user_id%3==0; credit = the k!-scaled Shapley value over the
    coalition table built from per-user channel bitmasks — the
    axiomatically-fair attribution. Efficiency axiom (sum phi = k!(v(full)-v(empty)))
    pytest-pinned."""
    d = _events(spark, sf_dir).select(
        "user_id",
        (F.col("event_id") % 4).cast("int").alias("channel"),
        F.when(F.col("user_id") % 3 == 0, 1).otherwise(0)
        .alias("conv"))
    return events.shapley_attribution(d)


def _q_qte(spark, sf_dir):
    """Quantile treatment effects (ops/quality.py::
    quantile_treatment_effect) at the quartiles: parity arms over
    doc length with a +25-char planted treatment shift on the odd
    arm — a distributional A/B readout.
    Exact nearest-rank quantiles from value-histogram cumsums."""
    d = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 2).alias("arm"),
        (F.col("n_chars")
         + F.when(F.col("doc_id") % 2 == 1, 25).otherwise(0))
        .alias("v"))
    return quality.quantile_treatment_effect(d, "arm", "v")


def _q_json_schema_infer(spark, sf_dir):
    """Semi-structured schema inference (ops/maintenance.py::
    json_schema_infer) over a staged JSON column with a deliberately
    conflicted field: "c" is bool / float / null / missing by
    user_id stratum, "d" nests one level. Spark parses each doc to
    map<string,variant> and classes every value via
    schema_of_variant (typed, no regex guessing — quoting survives,
    unlike a map<string,string> parse); DuckDB reads the same
    classes off json_each/json_type. Output = the schema-bounded
    (path, type-class) census."""
    d = _events(spark, sf_dir).selectExpr(_JSON_INFER_STAGE + " as js")
    return maintenance.json_schema_infer(d)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ivm_refresh": _q_ivm_refresh,
        "hdr_quantiles": _q_hdr_quantiles,
        "kg_temporal_triples": _q_kg_temporal,
        "kg_causal_triples": _q_kg_causal,
        "kg_text_identity": _q_text_identity,
        "kg_canonical_components": _q_canonical_components,
        "kg_eval_metrics": _q_eval_metrics,
        "kg_consistent_triples": _q_consistent_triples,
        "kg_awareness": _q_awareness,
        "knn_shapley": _q_knn_shapley,
        "wordpiece_census": _q_wordpiece,
        "json_schema_infer": _q_json_schema_infer,
        "lz_complexity": _q_lz_complexity,
        "shapley_attribution": _q_shapley_attribution,
        "dedup_resolution": _q_dedup_resolution,
        "prefix_filter_pairs": _q_prefix_filter_pairs,
        "tfidf_cosine_pairs": _q_tfidf_cosine_pairs,
        "rfm_segments": _q_rfm_segments,
        "boruvka_mst": _q_boruvka_mst,
        "media_sobel": _q_media_sobel,
        "maxsim_search": _q_maxsim_search,
        "events_stream_enrich": _q_events_stream_enrich,
        "audio_frame_stats": _q_audio_frame_stats,
        "wl_colors": _q_wl_colors,
        "symspell_correct": _q_symspell_correct,
        "kg_fixture_temporal": _q_fixture_temporal,
        "gazetteer_spans": _q_gazetteer_spans,
        "naive_bayes": _q_naive_bayes,
        "kg_entity_linking": _q_entity_linking,
        "kg_ee_probabilities": _q_ee_probabilities,
        "kg_temporal_salted": _q_kg_temporal_salted,
        "kg_doc_stats": _q_doc_stats,
        "kg_candidates": _q_candidates,
        "kg_pred_histogram": _q_pred_histogram,
        "kg_fixture_causal": _q_fixture_causal,
        "hdr_group_quantiles": _q_hdr_group_quantiles,
        "kg_cc_incremental": _q_kg_cc_incremental,
        "record_linkage": _q_record_linkage,
        "session_transitions": _q_session_transitions,
        "mad_outliers": _q_mad_outliers,
        "roc_auc": _q_roc_auc,
        "frequent_pairs": _q_frequent_pairs,
        "pr_curve": _q_pr_curve,
        "phrase_search": _q_phrase_search,
        "vocab_growth": _q_vocab_growth,
        "zipf_fit": _q_zipf_fit,
        "weighted_median": _q_weighted_median,
        "token_label_mi": _q_token_label_mi,
        "rake_keyphrases": _q_rake_keyphrases,
        "ams_f2": _q_ams_f2,
        "decision_stump": _q_decision_stump,
        "mattr_diversity": _q_mattr_diversity,
        "spearman_rho": _q_spearman_rho,
        "woe_iv": _q_woe_iv,
        "skipgram_ppmi": _q_skipgram_ppmi,
        "fd_violations": _q_fd_violations,
        "matryoshka_eval": _q_matryoshka_eval,
        "scc_pivot": _q_scc_pivot,
        "ltr_features": _q_ltr_features,
        "html_text_extract": _q_html_text_extract,
        "qte": _q_qte,
    }


# ---------------------------------------------------------------- oracles

_TT_ORACLE = """
WITH docs AS (SELECT doc_id AS d FROM documents),
vals AS (
  SELECT d, k,
    CASE WHEN k = 0 THEN strftime(DATE '2010-01-01' + (d % 100) * INTERVAL 1 DAY, '%Y-%m-%d')
         WHEN k = 4 THEN strftime(DATE '2000-01-01' + ((d*37 + 101) % 365) * INTERVAL 1 DAY, '%Y-%m')
         WHEN k = 3 AND d % 5 = 0 THEN strftime(DATE '2000-01-01' + ((d*37 + 101) % 365) * INTERVAL 1 DAY, '%Y-%m-%d')
         ELSE strftime(DATE '2000-01-01' + ((d*37 + k*101) % 365) * INTERVAL 1 DAY, '%Y-%m-%d')
    END AS v
  FROM docs, (VALUES (0),(1),(2),(3),(4)) t(k)
),
pairs AS (
  SELECT a.d AS d, 'tmx' || a.k AS src, 'tmx' || b.k AS tgt,
    CASE WHEN a.v = b.v THEN 'SIMULTANEOUS'
         WHEN len(a.v) = 7 AND len(b.v) = 10 AND b.v LIKE a.v || '%' THEN 'INCLUDES'
         WHEN len(b.v) = 7 AND len(a.v) = 10 AND a.v LIKE b.v || '%' THEN 'IS_INCLUDED'
         WHEN substr(a.v,1,7) < substr(b.v,1,7)
              OR (substr(a.v,1,7) = substr(b.v,1,7) AND a.v < b.v) THEN 'BEFORE'
         ELSE 'AFTER' END AS rel
  FROM vals a JOIN vals b ON a.d = b.d AND a.k < b.k
),
tt AS (
  SELECT d, src, tgt, rel FROM pairs
  UNION ALL
  SELECT d, tgt, src,
    CASE rel WHEN 'BEFORE' THEN 'AFTER' WHEN 'AFTER' THEN 'BEFORE'
             WHEN 'INCLUDES' THEN 'IS_INCLUDED'
             WHEN 'IS_INCLUDED' THEN 'INCLUDES' ELSE rel END
  FROM pairs
),
edct AS (
  SELECT d, 'e' || k AS src, 'tmx0' AS tgt,
    CASE (d + k) % 3 WHEN 0 THEN 'AFTER' WHEN 1 THEN 'INCLUDES' ELSE 'BEFORE' END AS rel
  FROM docs, (VALUES (1),(2),(3)) t(k)
),
et AS (
  SELECT d, 'e1' AS src, 'tmx1' AS tgt,
    CASE d % 6 WHEN 2 THEN 'AFTER' WHEN 3 THEN 'BEFORE'
               WHEN 4 THEN 'BEGUN_BY' ELSE 'IS_INCLUDED' END AS rel
  FROM docs
),
ee AS (
  SELECT d, 'e4' AS src, 'e5' AS tgt,
    CASE d % 2 WHEN 0 THEN 'AFTER' ELSE 'BEFORE' END AS rel FROM docs
),
eeclf AS (
  SELECT d, 'e8' AS src, 'e9' AS tgt,
    CASE d % 3 WHEN 0 THEN 'BEFORE' ELSE 'AFTER' END AS rel FROM docs
),
allrows AS (
  SELECT * FROM tt UNION ALL SELECT * FROM edct UNION ALL
  SELECT * FROM et UNION ALL SELECT * FROM ee UNION ALL SELECT * FROM eeclf
)
SELECT d AS doc_id, src AS subj, rel AS pred, tgt AS obj FROM allrows
"""


_CANDIDATES_ORACLE = """
SELECT doc_id, m.source_id, m.target_id, m.pair_type, 'NONE' AS gold_rel
FROM documents, (VALUES
  ('e1','tmx0','ed'), ('e2','tmx0','ed'), ('e3','tmx0','ed'),
  ('e1','tmx1','et'), ('e4','e5','ee'), ('e8','e9','ee')
) AS m(source_id, target_id, pair_type)
"""

_DOC_STATS_ORACLE = """
SELECT doc_id, CAST(28 AS BIGINT) AS n_tokens,
       CAST(4 AS BIGINT) AS n_sentences,
       CAST(9 AS BIGINT) AS n_event_mentions,
       CAST(4 AS BIGINT) AS n_timex_mentions
FROM documents
"""

_PRED_HIST_ORACLE = ("SELECT pred, CAST(count(*) AS BIGINT) AS n FROM ("
                     + _TT_ORACLE + ") GROUP BY pred")

_CAUSAL_ORACLE = """
SELECT doc_id, 'e6' AS subj, 'CLINK' AS pred, 'e7' AS obj
FROM documents WHERE doc_id % 4 <> 3
"""

_TEXT_ORACLE = """
WITH docs AS (SELECT doc_id AS d FROM documents),
vals AS (
  SELECT d,
    strftime(DATE '2000-01-01' + ((d*37 + 101) % 365) * INTERVAL 1 DAY, '%Y-%m-%d') AS v1,
    strftime(DATE '2000-01-01' + ((d*37 + 202) % 365) * INTERVAL 1 DAY, '%Y-%m-%d') AS v2,
    CASE WHEN d % 5 = 0
         THEN strftime(DATE '2000-01-01' + ((d*37 + 101) % 365) * INTERVAL 1 DAY, '%Y-%m-%d')
         ELSE strftime(DATE '2000-01-01' + ((d*37 + 303) % 365) * INTERVAL 1 DAY, '%Y-%m-%d') END AS v3,
    strftime(DATE '2000-01-01' + ((d*37 + 101) % 365) * INTERVAL 1 DAY, '%Y-%m') AS v4,
    CASE d % 6 WHEN 0 THEN 'on' WHEN 1 THEN 'at' WHEN 2 THEN 'after'
               WHEN 3 THEN 'before' WHEN 4 THEN 'from' ELSE 'until' END AS prep,
    CASE d % 4 WHEN 0 THEN 'cause' WHEN 1 THEN 'prevent'
               WHEN 2 THEN 'make' ELSE 'see' END AS verb
  FROM docs
)
SELECT d AS doc_id,
  sha256('happened ' || prep || ' ' || v1 || ' and occurred near ' || v2
         || ' then vanished near ' || v3 || ' within ' || v4
         || ' . said that walked . trading ' || verb
         || 's to lose . met others arrived quietly .') AS sha256
FROM vals
"""


_NORM = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', "
         "'g'), ' +', ' ', 'g'))")

_AUG = ("aug AS (SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 1000000, text || ' extra' FROM documents "
        "UNION ALL SELECT doc_id + 2000000, text FROM documents "
        "WHERE doc_id % 10 = 0)")


_MINHASH_ORACLE = f"""
WITH {_AUG},
norm AS (SELECT doc_id, {_NORM} AS t FROM aug),
words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM words, LATERAL unnest(generate_series(1, len(w) - 2)) AS g(i)
        WHERE len(w) >= 3),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sig AS (SELECT doc_id,
        min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
        min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
        min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
        min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
        FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig),
sizes0 AS (SELECT band, bucket, count(*) AS bn FROM bands GROUP BY 1, 2),
capped AS (SELECT b.doc_id, b.band, b.bucket FROM bands b
           JOIN sizes0 s ON s.band = b.band AND s.bucket = b.bucket
           WHERE s.bn <= 100),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         FROM capped l JOIN capped r
         ON l.bucket = r.bucket AND l.band = r.band AND l.doc_id < r.doc_id),
inter AS (SELECT c.a, c.b, count(*) AS n_inter
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.a
          JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
          GROUP BY c.a, c.b),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
SELECT i.a, i.b,
       round(i.n_inter / (na.n + nb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.a
JOIN sizes nb ON nb.doc_id = i.b
WHERE i.n_inter / (na.n + nb.n - i.n_inter) >= 0.5
"""

# transitive closure via recursive CTE: an INDEPENDENT formulation of
# the connected-components semantics (Spark side: iterative pointer
# jumping). Cluster sizes are tiny (near-dup groups), so the closure is
# cheap for the oracle even though it's quadratic per cluster.
_DEDUP_RESOLUTION_ORACLE = f"""
WITH RECURSIVE
jp AS ({_MINHASH_ORACLE}),
edges AS (SELECT a, b FROM jp UNION SELECT b, a FROM jp),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
canon AS (SELECT src AS v, least(src, min(dst)) AS c
          FROM reach GROUP BY src),
aug2 AS (SELECT doc_id FROM documents
         UNION ALL SELECT doc_id + 1000000 FROM documents
         UNION ALL SELECT doc_id + 2000000 FROM documents
         WHERE doc_id % 10 = 0)
SELECT a2.doc_id, coalesce(c.c, a2.doc_id) AS canonical_id,
       coalesce(c.c, a2.doc_id) = a2.doc_id AS is_kept
FROM aug2 a2 LEFT JOIN canon c ON c.v = a2.doc_id
"""


def _linking_oracle() -> str:
    vals = ", ".join("('%s','%s')" % (m, c) for (a, k, c) in ALIAS_ROWS
                     for m, _ in [(_LEMMA_TO_MENTION[a], None)])
    return (f"SELECT doc_id, m.mention_id, m.canonical_id FROM documents, "
            f"(VALUES {vals}) AS m(mention_id, canonical_id)")


_LEMMA_TO_MENTION = {"happen": "e1", "say": "e4", "trading": "e6",
                     "arrive": "e9"}

_CANONICAL_ORACLE = """
WITH docs AS (SELECT doc_id AS d,
  'https://example.org/doc/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url
  FROM documents),
mention_rows AS (
  SELECT url || '#' || m.mid AS vertex, 'alias:' || m.cid AS component
  FROM docs, (VALUES ('e1','EVT_HAPPEN'), ('e4','EVT_SAY'),
                     ('e6','EVT_TRADING'), ('e9','EVT_ARRIVE')) m(mid, cid)),
alias_rows AS (SELECT DISTINCT component AS vertex, component
               FROM mention_rows),
tmx_rows AS (
  SELECT url || '#tmx1' AS vertex, url || '#tmx1' AS component
  FROM docs WHERE d % 5 = 0
  UNION ALL
  SELECT url || '#tmx3', url || '#tmx1' FROM docs WHERE d % 5 = 0)
SELECT vertex, component FROM mention_rows
UNION ALL SELECT vertex, component FROM alias_rows
UNION ALL SELECT vertex, component FROM tmx_rows
"""

# M3 oracle: decision-value constants for the synthetic EE-clf pair
# (pure function of doc_id % 3 - the ee feature vector takes exactly 3
# values over the corpus, asserted in tests/test_core_parity.py::
# test_ee_probability_oracle_constants against the golden-verified
# predict path). The SQL recomputes sigmoid + normalization itself, so
# the probability FORMULA is verified independently of numpy.
_EE_PROB_CONSTS = """
  (0, 'SIMULTANEOUS', -0.6025350863665082),
  (0, 'BEGINS', -1.4244821041811624),
  (0, 'BEFORE', 0.2630859925223193),
  (0, 'INCLUDES', -1.0495698685509371),
  (0, 'IDENTITY', -1.3656300439424363),
  (0, 'IS_INCLUDED', -1.1450386290369452),
  (0, 'AFTER', -0.4340075995996801),
  (0, 'ENDED_BY', -1.5606789295296652),
  (0, 'ENDS', -1.0930103084320688),
  (0, 'BEGUN_BY', -1.0359114393164297),
  (1, 'SIMULTANEOUS', -0.7910340988888735),
  (1, 'BEGINS', -1.4539997762144472),
  (1, 'BEFORE', -0.24142037127760446),
  (1, 'INCLUDES', -0.9307020085771093),
  (1, 'IDENTITY', -1.2930594254363441),
  (1, 'IS_INCLUDED', -0.8945060297456146),
  (1, 'AFTER', -0.11858338574053133),
  (1, 'ENDED_BY', -1.3639692897418054),
  (1, 'ENDS', -1.57413105727984),
  (1, 'BEGUN_BY', -1.0145690797503137),
  (2, 'SIMULTANEOUS', -0.8846461197623001),
  (2, 'BEGINS', -1.9726596510917975),
  (2, 'BEFORE', -0.29522318291282656),
  (2, 'INCLUDES', -0.9105732546362363),
  (2, 'IDENTITY', -1.4276521656461563),
  (2, 'IS_INCLUDED', -0.846914104167518),
  (2, 'AFTER', 0.09406146213543502),
  (2, 'ENDED_BY', -0.9850665328261194),
  (2, 'ENDS', -1.3980136626359334),
  (2, 'BEGUN_BY', -0.9544943197530386)
"""

_EE_PROB_ORACLE = f"""
WITH consts(m3, label, dec) AS (VALUES
{_EE_PROB_CONSTS}
),
p AS (SELECT d.doc_id, c.label, CAST(c.dec AS DOUBLE) AS dec,
             1.0/(1.0+exp(-CAST(c.dec AS DOUBLE))) AS sp
      FROM documents d JOIN consts c ON d.doc_id % 3 = c.m3),
n AS (SELECT doc_id, label, dec,
             sp / sum(sp) OVER (PARTITION BY doc_id) AS prob FROM p)
SELECT doc_id, label, round(dec, 6) AS dec, round(prob, 6) AS prob FROM n
"""

_INV_CASE = ("CASE {c} WHEN 'BEFORE' THEN 'AFTER' WHEN 'AFTER' THEN 'BEFORE' "
             "WHEN 'INCLUDES' THEN 'IS_INCLUDED' WHEN 'IS_INCLUDED' THEN 'INCLUDES' "
             "WHEN 'BEGINS' THEN 'BEGUN_BY' WHEN 'BEGUN_BY' THEN 'BEGINS' "
             "WHEN 'ENDS' THEN 'ENDED_BY' WHEN 'ENDED_BY' THEN 'ENDS' "
             "WHEN 'IBEFORE' THEN 'IAFTER' WHEN 'IAFTER' THEN 'IBEFORE' "
             "ELSE {c} END")

_EVAL_ORACLE = f"""
WITH gold0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS url, subj AS src, obj AS tgt, pred AS rel
  FROM ({_TT_ORACLE})
),
pred0 AS (
  SELECT * FROM gold0
  WHERE NOT (CAST(url AS BIGINT) % 9 = 0 AND src = 'e4')
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), 'e1', 'e2', 'BEFORE'
  FROM documents WHERE doc_id % 11 = 0
),
gold AS (SELECT DISTINCT url,
  CASE WHEN src > tgt THEN tgt ELSE src END AS src,
  CASE WHEN src > tgt THEN src ELSE tgt END AS tgt,
  CASE WHEN src > tgt THEN {_INV_CASE.format(c='rel')} ELSE rel END AS rel
  FROM gold0),
pred AS (SELECT DISTINCT url,
  CASE WHEN src > tgt THEN tgt ELSE src END AS src,
  CASE WHEN src > tgt THEN src ELSE tgt END AS tgt,
  CASE WHEN src > tgt THEN {_INV_CASE.format(c='rel')} ELSE rel END AS rel
  FROM pred0),
j AS (SELECT g.rel AS gold_rel, p.rel AS pred_rel
      FROM gold g FULL JOIN pred p USING (url, src, tgt)),
per_gold AS (SELECT gold_rel AS label,
  sum(CASE WHEN pred_rel = gold_rel THEN 1 ELSE 0 END) AS tp,
  sum(CASE WHEN pred_rel IS NULL OR pred_rel <> gold_rel THEN 1 ELSE 0 END) AS fn
  FROM j WHERE gold_rel IS NOT NULL GROUP BY 1),
per_pred AS (SELECT pred_rel AS label,
  sum(CASE WHEN gold_rel IS NULL OR gold_rel <> pred_rel THEN 1 ELSE 0 END) AS fp
  FROM j WHERE pred_rel IS NOT NULL GROUP BY 1),
m AS (SELECT coalesce(g.label, p.label) AS label,
      CAST(coalesce(tp, 0) AS BIGINT) AS tp,
      CAST(coalesce(fp, 0) AS BIGINT) AS fp,
      CAST(coalesce(fn, 0) AS BIGINT) AS fn
      FROM per_gold g FULL JOIN per_pred p ON g.label = p.label)
SELECT label, tp, fp, fn,
  round(tp / greatest(tp + fp, 1), 6) AS precision,
  round(tp / greatest(tp + fn, 1), 6) AS recall,
  round(2.0 * tp / greatest(2 * tp + fp + fn, 1), 6) AS f1
FROM m
"""


def _values_oracle(rows) -> str:
    vals = ",\n".join("('%s','%s','%s','%s')" % r for r in rows)
    return ("SELECT url, subj, pred, obj FROM (VALUES\n" + vals
            + "\n) AS t(url, subj, pred, obj)")


_TFIDF_COS_ORACLE = f"""
WITH {_AUG},
norm AS (SELECT doc_id, {_NORM} AS t FROM aug),
words AS (SELECT doc_id,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws FROM norm),
grams AS (SELECT doc_id,
    ws[CAST(i AS BIGINT)] || ' ' || ws[CAST(i + 1 AS BIGINT)]
      || ' ' || ws[CAST(i + 2 AS BIGINT)] AS term
  FROM words, LATERAL unnest(generate_series(1, len(ws) - 2)) AS r(i)
  WHERE len(ws) >= 3),
tf AS (SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS term_df FROM tf GROUP BY 1),
w AS (SELECT doc_id, term, term_df,
      tf * ln((SELECT count(*) FROM aug) / term_df) AS w
      FROM tf JOIN dfreq USING (term)),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
idx AS (SELECT w.doc_id AS doc, term, term_df, w / nrm AS u
        FROM w JOIN nrm USING (doc_id) WHERE nrm > 0),
rare AS (SELECT * FROM idx WHERE term_df <= 10),
cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
         FROM rare a JOIN rare b ON a.term = b.term AND a.doc < b.doc),
dots AS (SELECT c.doc_a, c.doc_b, round(sum(ia.u * ib.u), 6) AS cosine
  FROM cand c JOIN idx ia ON ia.doc = c.doc_a
  JOIN idx ib ON ib.doc = c.doc_b AND ib.term = ia.term
  GROUP BY 1, 2)
SELECT doc_a, doc_b, cosine FROM dots WHERE cosine >= 0.5
"""


_PREFIX_FILTER_ORACLE = f"""
WITH {_AUG},
norm AS (SELECT doc_id, {_NORM} AS t FROM aug),
words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM words, LATERAL unnest(generate_series(1, len(w) - 2)) AS g(i)
        WHERE len(w) >= 3),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
dfc AS (SELECT shingle, count(*) AS dfc FROM sh GROUP BY shingle),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
ranked AS (SELECT s.doc_id, s.shingle, z.n,
                  row_number() OVER (PARTITION BY s.doc_id
                                     ORDER BY d.dfc, s.shingle) AS r
           FROM sh s JOIN dfc d USING (shingle)
           JOIN sizes z USING (doc_id)),
pref AS (SELECT * FROM ranked
         WHERE r <= n - ((800000 * n + 999999) // 1000000) + 1),
cand AS (SELECT DISTINCT pa.doc_id AS a, pb.doc_id AS b,
                pa.n AS na, pb.n AS nb
         FROM pref pa JOIN pref pb ON pa.shingle = pb.shingle
          AND pa.doc_id < pb.doc_id
         WHERE 1000000 * least(pa.n, pb.n)
               >= 800000 * greatest(pa.n, pb.n)),
inter AS (SELECT c.a, c.b, c.na, c.nb, count(*) AS n_inter
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.a
          JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
          GROUP BY c.a, c.b, c.na, c.nb)
SELECT a, b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(na + nb - n_inter AS BIGINT) AS n_union,
       round(n_inter / (na + nb - n_inter), 6) AS jaccard
FROM inter
WHERE 1000000 * n_inter >= 800000 * (na + nb - n_inter)
"""


_GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "tests", "golden")

# Fixture-anchored oracles for the two non-SQL-expressible queries
# (timegraph closure / awareness scoring): the synthetic corpus is a pure
# function of doc_id, so each query's per-document output is precomputed
# once by tools/make_oracle_fixtures.py (replaying the single-document
# core computation, itself golden-anchored against the compiled
# reference) and committed as parquet covering doc_id < 50000 (sf0.001
# through sf1.0). The JOIN against the registered ``documents`` view
# restricts the fixture to the SF under test, so one fixture serves every
# gate; the hash then verifies the distributed execution (mapInPandas
# batching, cogroup bucketing, Arrow round-trip) reproduces the
# per-document core bit-for-bit.
_CONSISTENT_ORACLE = f"""
SELECT f.doc_id, f.subj, f.pred, f.obj
FROM read_parquet(
  '{os.path.join(_GOLDEN_DIR, "consistent_triples_expected.parquet")}') f
JOIN (SELECT DISTINCT doc_id FROM documents) d USING (doc_id)
"""

_AWARENESS_ORACLE = f"""
SELECT f.doc_id, f.precision, f.recall, f.f1, f.sys_total, f.gold_total
FROM read_parquet(
  '{os.path.join(_GOLDEN_DIR, "awareness_expected.parquet")}') f
JOIN (SELECT DISTINCT doc_id FROM documents) d USING (doc_id)
"""


_HDR_ORACLE = """
WITH vals AS (
  SELECT n_chars AS v FROM documents WHERE n_chars >= 1),
b AS (
  SELECT
    CASE WHEN length(CAST(v AS VARCHAR)) <= 2 THEN v
         ELSE CAST(substr(CAST(v AS VARCHAR), 1, 2) AS BIGINT)
              * CAST('1' || repeat('0', length(CAST(v AS VARCHAR)) - 2)
                     AS BIGINT) END AS bucket_lo,
    CASE WHEN length(CAST(v AS VARCHAR)) <= 2 THEN v
         ELSE CAST(substr(CAST(v AS VARCHAR), 1, 2) AS BIGINT)
              * CAST('1' || repeat('0', length(CAST(v AS VARCHAR)) - 2)
                     AS BIGINT)
              + CAST('1' || repeat('0', length(CAST(v AS VARCHAR)) - 2)
                     AS BIGINT) - 1 END AS bucket_hi
  FROM vals),
sk AS (
  SELECT bucket_lo, bucket_hi, count(*) AS cnt FROM b GROUP BY 1, 2),
cum AS (
  SELECT bucket_lo, bucket_hi,
         sum(cnt) OVER (ORDER BY bucket_lo) AS cum,
         sum(cnt) OVER () AS n_total
  FROM sk),
spec(q_label, num, den) AS (
  VALUES ('1/2', 1, 2), ('9/10', 9, 10), ('99/100', 99, 100))
SELECT q_label, (num * n_total + den - 1) // den AS rank, n_total,
       bucket_lo, bucket_hi, (bucket_lo + bucket_hi) // 2 AS estimate
FROM cum, spec
WHERE cum >= (num * n_total + den - 1) // den
QUALIFY row_number() OVER (PARTITION BY q_label ORDER BY bucket_lo) = 1
"""

_IVM_ORACLE = """
WITH ev AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT event_type, day, count(*) AS n, sum(cents) AS sum_m,
       min(cents) AS min_m, max(cents) AS max_m
FROM ev GROUP BY 1, 2
"""


_CC_INC_ORACLE = """
WITH RECURSIVE
caps AS (SELECT doc_id AS s FROM documents WHERE doc_id < 300),
params AS (SELECT count(*) AS n FROM caps),
linked AS (SELECT s FROM caps WHERE s % 17 <> 0),
e0 AS (
  SELECT s AS a, (s * 7 + 1) % n AS b FROM linked, params
  UNION ALL
  SELECT s, (s * 13 + 3) % n FROM linked, params),
edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
canon AS (SELECT src AS vertex, least(src, min(dst)) AS component
          FROM reach GROUP BY src)
SELECT vertex, component FROM canon
"""


_ENRICH_ORACLE = """
WITH l AS (
  SELECT user_id, event_id AS l_id, event_type AS l_type, ts AS l_ts
  FROM events WHERE event_type = 'view'),
r AS (
  SELECT user_id, event_id AS r_id, event_type AS r_type, ts AS r_ts
  FROM events WHERE event_type = 'click')
SELECT l.user_id, l_id, l_type, l_ts, r_id, r_type, r_ts
FROM l JOIN r ON l.user_id = r.user_id
WHERE r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 30 MINUTE
"""


_HDR_GROUP_ORACLE = """
WITH vals AS (
  SELECT source, n_chars AS v FROM documents WHERE n_chars >= 1),
b AS (
  SELECT source,
    CASE WHEN length(CAST(v AS VARCHAR)) <= 2 THEN v
         ELSE CAST(substr(CAST(v AS VARCHAR), 1, 2) AS BIGINT)
              * CAST('1' || repeat('0', length(CAST(v AS VARCHAR)) - 2)
                     AS BIGINT) END AS bucket_lo,
    CASE WHEN length(CAST(v AS VARCHAR)) <= 2 THEN v
         ELSE CAST(substr(CAST(v AS VARCHAR), 1, 2) AS BIGINT)
              * CAST('1' || repeat('0', length(CAST(v AS VARCHAR)) - 2)
                     AS BIGINT)
              + CAST('1' || repeat('0', length(CAST(v AS VARCHAR)) - 2)
                     AS BIGINT) - 1 END AS bucket_hi
  FROM vals),
sk AS (
  SELECT source, bucket_lo, bucket_hi, count(*) AS cnt
  FROM b GROUP BY 1, 2, 3),
cum AS (
  SELECT source, bucket_lo, bucket_hi,
         sum(cnt) OVER (PARTITION BY source ORDER BY bucket_lo) AS cum,
         sum(cnt) OVER (PARTITION BY source) AS n_total
  FROM sk),
spec(q_label, num, den) AS (
  VALUES ('1/2', 1, 2), ('9/10', 9, 10), ('99/100', 99, 100))
SELECT source, q_label, (num * n_total + den - 1) // den AS rank, n_total,
       bucket_lo, bucket_hi, (bucket_lo + bucket_hi) // 2 AS estimate
FROM cum, spec
WHERE cum >= (num * n_total + den - 1) // den
QUALIFY row_number() OVER (PARTITION BY source, q_label
                           ORDER BY bucket_lo) = 1
"""

_LINKAGE_ORACLE = f"""
WITH base AS (
  SELECT {", ".join(_LINK_BASE_FIELDS)}
  FROM documents),
l AS (SELECT * FROM base WHERE rec_id % 3 <> 2),
r AS (SELECT {", ".join(_LINK_PERTURB)}
      FROM base WHERE rec_id % 2 = 0),
p AS (
  SELECT l.rec_id AS left_id, r.rec_id AS right_id,
         levenshtein(l.surname, r.surname) <= 1 AS surname_agree,
         l.first_name = r.first_name AS first_name_agree,
         l.zipc = r.zipc AS zipc_agree,
         l.city = r.city AS city_agree
  FROM l JOIN r
    ON l.zipc // 10 = r.zipc // 10
   AND substr(l.surname, 1, 1) = substr(r.surname, 1, 1)),
s AS (
  SELECT *,
         (CASE WHEN surname_agree THEN 240 ELSE -180 END
          + CASE WHEN first_name_agree THEN 180 ELSE -120 END
          + CASE WHEN zipc_agree THEN 300 ELSE -150 END
          + CASE WHEN city_agree THEN 90 ELSE -60 END) AS raw_score
  FROM p)
SELECT left_id, right_id, surname_agree, first_name_agree, zipc_agree,
       city_agree, CAST(raw_score AS BIGINT) AS score,
       CASE WHEN raw_score >= 500 THEN 'match'
            WHEN raw_score >= 0 THEN 'possible'
            ELSE 'nonmatch' END AS decision
FROM s
"""


_VOCAB_GROWTH_ORACLE = """
WITH staged AS (
  SELECT doc_id,
         text || ' tok' || CAST(doc_id // 50 AS VARCHAR) AS text
  FROM documents),
toks AS (
  SELECT doc_id, t.term
  FROM staged,
       unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''),
firsts AS (SELECT term, CAST(min(doc_id) AS BIGINT) AS first_id
           FROM toks GROUP BY 1),
rng AS (SELECT CAST(min(doc_id) AS BIGINT) AS lo,
               CAST(max(doc_id) AS BIGINT) AS hi
        FROM staged),
bk AS (SELECT least(10, 1 + ((first_id - lo)
                             // (((hi - lo + 1) + 9) // 10)))
         AS checkpoint, lo, hi
       FROM firsts, rng),
c AS (SELECT checkpoint, lo, hi, CAST(count(*) AS BIGINT) AS new_terms
      FROM bk GROUP BY 1, 2, 3)
SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
  CAST(least(hi, lo + checkpoint * (((hi - lo + 1) + 9) // 10) - 1)
       AS BIGINT) AS boundary_id,
  new_terms,
  CAST(sum(new_terms) OVER (ORDER BY checkpoint) AS BIGINT) AS vocab
FROM c
"""


_FREQ_PAIRS_ORACLE = """
WITH b AS (
  SELECT DISTINCT
         CAST(user_id AS VARCHAR) || '|' ||
           CAST(CAST(ts AS DATE) AS VARCHAR) AS basket,
         event_type AS item
  FROM events WHERE event_type IS NOT NULL),
nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM b),
c AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
      FROM b GROUP BY 1 HAVING count(*) >= 2),
fb AS (SELECT b.basket, b.item FROM b JOIN c USING (item)),
p AS (SELECT l.item AS item_a, r.item AS item_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM fb l JOIN fb r ON l.basket = r.basket AND l.item < r.item
      GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT item_a, item_b, n_ab, ca.n_item AS n_a, cb.n_item AS n_b,
       CAST((1000000 * n_ab) // n_baskets AS BIGINT) AS support_ppm,
       CAST((1000000 * n_ab) // ca.n_item AS BIGINT) AS confidence_ppm,
       CAST((1000000 * n_ab * n_baskets) // (ca.n_item * cb.n_item)
            AS BIGINT) AS lift_ppm
FROM p JOIN c ca ON p.item_a = ca.item
       JOIN c cb ON p.item_b = cb.item
       CROSS JOIN nb
"""

_ROC_AUC_ORACLE = """
WITH b AS (
  SELECT least(999999, (1000000 * n_chars) // 300) AS score,
         CASE WHEN (n_chars >= 150) <> (doc_id % 7 = 0)
              THEN 1 ELSE 0 END AS pos
  FROM documents),
g AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(1 - pos) AS BIGINT) AS nn
      FROM b GROUP BY 1),
t AS (SELECT np, nn,
             CAST(coalesce(sum(nn) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_nn
      FROM g),
agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS auc_num2
        FROM t)
SELECT n_pos, n_neg, auc_num2,
       CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den2,
       round(CASE WHEN n_pos * n_neg > 0
             THEN CAST(auc_num2 AS DOUBLE) / (2.0 * n_pos * n_neg)
             END, 6) AS auc
FROM agg
"""

_PR_CURVE_ORACLE = """
WITH b AS (
  SELECT least(999999, (1000000 * n_chars) // 250) AS threshold,
         CASE WHEN (n_chars >= 120) <> (doc_id % 5 = 0)
              THEN 1 ELSE 0 END AS pos
  FROM documents),
g AS (SELECT threshold, CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(1 - pos) AS BIGINT) AS nn
      FROM b GROUP BY 1),
c AS (SELECT threshold,
             CAST(sum(np) OVER (ORDER BY threshold DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp,
             CAST(sum(nn) OVER (ORDER BY threshold DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS fp,
             CAST(sum(np) OVER () AS BIGINT) AS n_pos
      FROM g)
SELECT threshold, tp, fp, CAST(n_pos - tp AS BIGINT) AS fn,
       CAST((1000000 * tp) // (tp + fp) AS BIGINT) AS precision_ppm,
       CASE WHEN n_pos > 0
            THEN CAST((1000000 * tp) // n_pos AS BIGINT) END AS recall_ppm,
       CASE WHEN n_pos > 0
            THEN CAST((2000000 * tp) // (2 * tp + fp + (n_pos - tp))
                      AS BIGINT) END AS f1_ppm
FROM c
"""


_ZIPF_ORACLE = """
WITH toks AS (
  SELECT t.term FROM documents,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             w -> w <> '')) AS t(term)),
tf AS (SELECT term, count(*) AS freq FROM toks GROUP BY term
       ORDER BY freq DESC, term LIMIT 50),
xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
                      AS DOUBLE)) AS x,
              ln(CAST(freq AS DOUBLE)) AS y
       FROM tf),
agg AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
               sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
               sum(y * y) AS syy
        FROM xy)
SELECT CAST(n AS BIGINT) AS n_terms,
       round(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6) AS alpha,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
             / n, 6) AS intercept,
       round(((n * sxy - sx * sy) / (n * sxx - sx * sx))
             * (sxy - sx * sy / n) / (syy - sy * sy / n), 6) AS r2
FROM agg
"""

_WEIGHTED_MEDIAN_ORACLE = """
WITH li AS (SELECT l_returnflag,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS cents,
                   CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
            FROM lineitem),
vals AS (SELECT l_returnflag, cents, CAST(sum(qty) AS BIGINT) AS w
         FROM li GROUP BY l_returnflag, cents),
c AS (SELECT l_returnflag, cents, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
             sum(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM vals)
SELECT l_returnflag, CAST(min(cents) AS BIGINT) AS wmedian,
       CAST(min(tot) AS BIGINT) AS total_weight
FROM c WHERE 2 * cum >= tot GROUP BY l_returnflag
"""

_NAIVE_BAYES_ORACLE = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
words AS (SELECT doc_id,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws FROM norm),
grams AS (SELECT doc_id,
    CAST(('0x' || substr(md5(ws[CAST(i AS BIGINT)] || ' '
                             || ws[CAST(i + 1 AS BIGINT)]), 1, 8))::UBIGINT
         % 64 AS BIGINT) AS bucket
  FROM words, LATERAL unnest(generate_series(1, len(ws) - 1)) AS r(i)
  WHERE len(ws) >= 2),
pres AS (SELECT DISTINCT doc_id, bucket FROM grams),
lab AS (SELECT doc_id,
        CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS y FROM documents),
tot AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
               CAST(sum(1 - y) AS BIGINT) AS n0 FROM lab),
model AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS m1,
                 CAST(sum(1 - y) AS BIGINT) AS m0
          FROM pres JOIN lab USING (doc_id) GROUP BY 1),
lik AS (SELECT doc_id,
               sum(ln((m0 + 1) / CAST(n0 + 2 AS DOUBLE))) AS l0,
               sum(ln((m1 + 1) / CAST(n1 + 2 AS DOUBLE))) AS l1
        FROM pres JOIN model USING (bucket) CROSS JOIN tot
        GROUP BY doc_id),
prior AS (SELECT doc_id, y,
                 ln(n0 / CAST(n0 + n1 AS DOUBLE)) AS p0,
                 ln(n1 / CAST(n0 + n1 AS DOUBLE)) AS p1
          FROM lab CROSS JOIN tot),
sc AS (SELECT p.doc_id, p.y,
              round(p.p0 + coalesce(l.l0, 0.0), 6) AS score0,
              round(p.p1 + coalesce(l.l1, 0.0), 6) AS score1
       FROM prior p LEFT JOIN lik l ON l.doc_id = p.doc_id)
SELECT doc_id, CAST(y AS BIGINT) AS y, score0, score1,
       CAST(CASE WHEN score1 > score0 THEN 1 ELSE 0 END AS BIGINT)
           AS pred
FROM sc
"""

_TOKEN_MI_ORACLE = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
words AS (SELECT doc_id,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws FROM norm),
grams AS (SELECT doc_id,
    CAST(('0x' || substr(md5(ws[CAST(i AS BIGINT)] || ' '
                             || ws[CAST(i + 1 AS BIGINT)]), 1, 8))::UBIGINT
         % 64 AS BIGINT) AS bucket
  FROM words, LATERAL unnest(generate_series(1, len(ws) - 1)) AS r(i)
  WHERE len(ws) >= 2),
pres AS (SELECT DISTINCT doc_id, bucket FROM grams),
lab AS (SELECT doc_id,
        CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS y FROM documents),
tot AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
               CAST(sum(1 - y) AS BIGINT) AS n0 FROM lab),
bc AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS n11,
              CAST(sum(1 - y) AS BIGINT) AS n10
       FROM pres JOIN lab USING (doc_id) GROUP BY 1),
base AS (SELECT bucket, n11, n10,
                CAST(n1 - n11 AS BIGINT) AS n01,
                CAST(n0 - n10 AS BIGINT) AS n00,
                CAST(n1 + n0 AS BIGINT) AS nn
         FROM bc CROSS JOIN tot)
SELECT bucket, n11, n10, n01, n00,
  round(
    (CASE WHEN n11 > 0 THEN n11 / CAST(nn AS DOUBLE)
       * log2(nn * n11 / (CAST((n11+n10) AS DOUBLE) * (n11+n01)))
       ELSE 0.0 END)
  + (CASE WHEN n10 > 0 THEN n10 / CAST(nn AS DOUBLE)
       * log2(nn * n10 / (CAST((n11+n10) AS DOUBLE) * (n10+n00)))
       ELSE 0.0 END)
  + (CASE WHEN n01 > 0 THEN n01 / CAST(nn AS DOUBLE)
       * log2(nn * n01 / (CAST((n01+n00) AS DOUBLE) * (n11+n01)))
       ELSE 0.0 END)
  + (CASE WHEN n00 > 0 THEN n00 / CAST(nn AS DOUBLE)
       * log2(nn * n00 / (CAST((n01+n00) AS DOUBLE) * (n10+n00)))
       ELSE 0.0 END), 6) AS mi,
  round(2.0 * (
    (CASE WHEN n11 > 0 THEN n11
       * ln(nn * n11 / (CAST((n11+n10) AS DOUBLE) * (n11+n01)))
       ELSE 0.0 END)
  + (CASE WHEN n10 > 0 THEN n10
       * ln(nn * n10 / (CAST((n11+n10) AS DOUBLE) * (n10+n00)))
       ELSE 0.0 END)
  + (CASE WHEN n01 > 0 THEN n01
       * ln(nn * n01 / (CAST((n01+n00) AS DOUBLE) * (n11+n01)))
       ELSE 0.0 END)
  + (CASE WHEN n00 > 0 THEN n00
       * ln(nn * n00 / (CAST((n01+n00) AS DOUBLE) * (n10+n00)))
       ELSE 0.0 END)), 6) AS g2
FROM base
"""


_AUDIO_FRAME_ORACLE = """
WITH p AS (SELECT doc_id,
                  CAST(800 + (doc_id % 7) * 160 + (doc_id % 3) * 53
                       AS BIGINT) AS n
           FROM documents),
s AS (SELECT p.doc_id, p.n, i.i AS i,
             CASE WHEN ((i.i // 160) + p.doc_id) % 5 < 2 THEN 0
                  ELSE ((i.i * 37 + p.doc_id * 11) % 2048) - 1024
             END AS v
      FROM p, range(1866) i(i) WHERE i.i < p.n),
fr AS (SELECT doc_id, n, i // 160 AS f, count(*) AS cnt,
              sum(v * v) AS e, max(abs(v)) AS pk
       FROM s GROUP BY doc_id, n, i // 160),
fl AS (SELECT doc_id, n, f, cnt, e, pk,
              CASE WHEN e < cnt * 262144 THEN 1 ELSE 0 END AS silent
       FROM fr),
runs AS (SELECT doc_id,
                f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
                    AS grp
         FROM fl WHERE silent = 1),
mx AS (SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run
       FROM (SELECT doc_id, grp, count(*) AS rl
             FROM runs GROUP BY doc_id, grp)
       GROUP BY doc_id)
SELECT fl.doc_id AS media_id, CAST(8000 AS BIGINT) AS rate,
       any_value(fl.n) AS n_samples,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(fl.silent) AS BIGINT) AS n_silent,
       CAST(coalesce(any_value(mx.max_run), 0) AS BIGINT)
           AS max_silent_run,
       CAST(max(fl.pk) AS BIGINT) AS peak,
       CAST(sum(fl.e) AS BIGINT) AS energy_total
FROM fl LEFT JOIN mx ON mx.doc_id = fl.doc_id
GROUP BY fl.doc_id
"""


_PHRASE_ORACLE = """
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     w -> w <> '') AS ws
  FROM documents),
idx AS (SELECT doc_id, ws[CAST(i AS BIGINT)] AS term,
               CAST(i - 1 AS BIGINT) AS pos
        FROM words, LATERAL unnest(generate_series(1, len(ws))) r(i)),
offs AS (SELECT * FROM (VALUES ('table', 0), ('table', 1))
         AS t(term, i)),
anchored AS (SELECT idx.doc_id, idx.pos - offs.i AS anchor, offs.i
             FROM idx JOIN offs USING (term)
             WHERE idx.pos - offs.i >= 0),
starts AS (SELECT doc_id, anchor
           FROM anchored GROUP BY doc_id, anchor
           HAVING count(DISTINCT i) = 2)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(anchor) AS BIGINT) AS first_pos
FROM starts GROUP BY doc_id
"""


_MAD_ORACLE = """
WITH v AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
vc AS (SELECT x AS val, count(*) AS c FROM v GROUP BY 1),
cum AS (SELECT val, sum(c) OVER (ORDER BY val) AS cum FROM vc),
lo AS (SELECT min(val) AS lo FROM cum, tot WHERE cum >= (n + 1) // 2),
hi AS (SELECT min(val) AS hi FROM cum, tot WHERE cum >= (n + 2) // 2),
med AS (SELECT CAST(lo + hi AS BIGINT) AS med2 FROM lo, hi),
dev AS (SELECT doc_id, x, med2,
               CAST(abs(2 * x - med2) AS BIGINT) AS dev2
        FROM v, med),
dvc AS (SELECT dev2 AS val, count(*) AS c FROM dev GROUP BY 1),
dcum AS (SELECT val, sum(c) OVER (ORDER BY val) AS cum FROM dvc),
dlo AS (SELECT min(val) AS lo FROM dcum, tot WHERE cum >= (n + 1) // 2),
dhi AS (SELECT min(val) AS hi FROM dcum, tot WHERE cum >= (n + 2) // 2),
mad AS (SELECT CAST(lo + hi AS BIGINT) AS mad4 FROM dlo, dhi)
SELECT doc_id, x AS n_chars, med2, mad4, dev2,
       (2 * dev2 > 3 * mad4) AS is_outlier
FROM dev, mad
"""


_TRANSITIONS_ORACLE = """
WITH p AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events),
c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE dst IS NOT NULL GROUP BY 1, 2)
SELECT src, dst, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS p
FROM c
"""


_RAKE_ORACLE = """
WITH toks0 AS (SELECT doc_id, u.w AS w, u.pos AS pos FROM documents,
        LATERAL unnest(list_transform(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            (x, i) -> {'w': x, 'pos': i})) AS sub(u)),
toks AS (SELECT doc_id, w, pos,
                CASE WHEN w IN ('a', 'the', 'and', 'of', 'is', 'to') THEN 1 ELSE 0 END AS st,
                sum(CASE WHEN w IN ('a', 'the', 'and', 'of', 'is', 'to') THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS g
         FROM toks0 WHERE w <> ''),
wp AS (SELECT *, count(*) OVER (PARTITION BY doc_id, g) AS plen
       FROM toks WHERE st = 0),
wstat AS (SELECT doc_id, w, count(*) AS freq, sum(plen) AS degree
          FROM wp GROUP BY doc_id, w),
scored AS (SELECT wp.doc_id, wp.g, wp.pos, wp.w,
                  (s.degree * 1000000) // s.freq AS wscore
           FROM wp JOIN wstat s
           ON s.doc_id = wp.doc_id AND s.w = wp.w),
ph AS (SELECT doc_id, g, string_agg(w, ' ' ORDER BY pos) AS phrase,
              sum(wscore) AS score_micro
       FROM scored GROUP BY doc_id, g),
dist AS (SELECT DISTINCT doc_id, phrase, score_micro FROM ph)
SELECT doc_id, phrase, CAST(score_micro AS BIGINT) AS score_micro,
       CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score_micro DESC, phrase) AS BIGINT) AS rank
FROM dist
QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY score_micro DESC, phrase) <= 3
"""


_AMS_F2_ORACLE = """
WITH cnt AS (
  SELECT t.term, CAST(count(*) AS BIGINT) AS cnt FROM documents,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             w -> w <> '')) AS t(term)
  GROUP BY 1),
s AS (SELECT j,
        CAST(sum(CASE WHEN ('0x' || substr(md5('ams' || CAST(j AS VARCHAR)
                   || ':' || term), 32, 1))::UBIGINT % 2 = 0
                 THEN cnt ELSE -cnt END) AS BIGINT) AS sv
      FROM cnt, LATERAL unnest(generate_series(0, 31)) AS g(j)
      GROUP BY j),
sq AS (SELECT j, sv * sv AS value FROM s)
SELECT 'sketch' AS kind, CAST(j AS BIGINT) AS j,
       CAST(value AS BIGINT) AS value FROM sq
UNION ALL
SELECT 'median2x', CAST(-1 AS BIGINT), CAST(sum(value) AS BIGINT)
FROM (SELECT value, row_number() OVER (ORDER BY value) AS r FROM sq)
WHERE r IN (16, 17)
UNION ALL
SELECT 'exact_f2', CAST(-2 AS BIGINT),
       CAST(sum(cnt * cnt) AS BIGINT) FROM cnt
"""


_STUMP_ORACLE = """
WITH per AS (
  SELECT n_chars // 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
         CAST(sum((lang = 'en')::INT) AS BIGINT) AS pos
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(pos) AS BIGINT) AS tp FROM per),
cum AS (SELECT bucket AS threshold,
          CAST(sum(n) OVER w AS BIGINT) AS l_n,
          CAST(sum(pos) OVER w AS BIGINT) AS l_pos, tn, tp
        FROM per, tot
        WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)),
g AS (SELECT threshold, l_n, l_pos,
        tn - l_n AS r_n, tp - l_pos AS r_pos,
        CAST((2000000 * (l_pos*(l_n-l_pos)*(tn-l_n)
                         + (tp-l_pos)*((tn-l_n)-(tp-l_pos))*l_n))
             // (l_n * (tn-l_n) * tn) AS BIGINT) AS gini_ppm
      FROM cum WHERE l_n >= 1 AND tn - l_n >= 1),
b AS (SELECT min(gini_ppm) AS bg FROM g),
bt AS (SELECT min(threshold) AS btr FROM g, b WHERE gini_ppm = bg)
SELECT threshold, l_n, l_pos, r_n, r_pos, gini_ppm,
       (gini_ppm = bg AND threshold = btr) AS is_best
FROM g, b, bt
"""


def _maxsim_oracle(terms, k: int = 15) -> str:
    """Replays ops/simsearch.py::maxsim_topk digit-for-digit: 16-dim
    integer token vectors x_i = 2*hexdigit_i(md5(term)) - 15, query
    vectors inlined as Python-computed literals (hashlib md5 == engine
    md5), cosines rounded 6dp BEFORE the max, maxes added in the same
    fixed order."""
    import hashlib as _hl
    dims = ", ".join(
        f"(('0x' || substr(md5(term), {i + 1}, 1))::INT * 2 - 15) AS x{i}"
        for i in range(16))
    tn2 = " + ".join(f"x{i}*x{i}" for i in range(16))
    cos_exprs = []
    for qi, q in enumerate(terms):
        qv = [2 * int(c, 16) - 15
              for c in _hl.md5(q.encode()).hexdigest()[:16]]
        qn2 = sum(x * x for x in qv)
        dot = " + ".join(f"({w})*x{i}" for i, w in enumerate(qv))
        cos_exprs.append(
            f"round(({dot}) / sqrt(CAST(({tn2}) * {qn2} AS DOUBLE)), 6)"
            f" AS cos{qi}")
    msum = " + ".join(f"m{qi}" for qi in range(len(terms)))
    maxes = ", ".join(f"max(cos{qi}) AS m{qi}" for qi in range(len(terms)))
    return f"""
WITH postings AS (
  SELECT DISTINCT doc_id, t.term FROM documents,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             w -> w <> '')) AS t(term)),
vocab AS (SELECT DISTINCT term FROM postings),
vd AS (SELECT term, {dims} FROM vocab),
vc AS (SELECT term, {", ".join(cos_exprs)} FROM vd),
mx AS (SELECT doc_id, {maxes}
       FROM postings JOIN vc USING (term) GROUP BY doc_id),
sc AS (SELECT doc_id, round({msum}, 6) AS score FROM mx),
top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT {int(k)})
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id, score
FROM top
"""


_SCC_ORACLE = """
WITH RECURSIVE
e0 AS (
  SELECT doc_id AS src, (doc_id*7+1) % (SELECT count(*) FROM documents)
    AS dst FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % (SELECT count(*) FROM documents)
  FROM documents WHERE doc_id % 17 <> 0),
piv AS (SELECT min(src) AS node FROM e0),
fwr(node, d) AS (
  SELECT node, 0 FROM piv
  UNION
  SELECT e0.dst, fwr.d + 1 FROM fwr JOIN e0 ON e0.src = fwr.node
  WHERE fwr.d < 8),
bwr(node, d) AS (
  SELECT node, 0 FROM piv
  UNION
  SELECT e0.src, bwr.d + 1 FROM bwr JOIN e0 ON e0.dst = bwr.node
  WHERE bwr.d < 8),
f AS (SELECT DISTINCT node FROM fwr),
b AS (SELECT DISTINCT node FROM bwr)
SELECT coalesce(f.node, b.node) AS node,
       f.node IS NOT NULL AS fw,
       b.node IS NOT NULL AS bw,
       (f.node IS NOT NULL AND b.node IS NOT NULL) AS in_scc
FROM f FULL OUTER JOIN b ON f.node = b.node
"""

_LTR_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len
       FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                 avg(CAST(doc_len AS DOUBLE)) AS avgdl FROM dl),
qt AS (SELECT * FROM (VALUES ('hash'),('join'),('spark'),('window'),
                             ('stream')) q(term)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks JOIN qt USING (term) GROUP BY doc_id, term),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
  CAST(count(*) AS BIGINT) AS n_matched,
  CAST(sum(tf.tf) AS BIGINT) AS sum_tf,
  CAST(min(tf.tf) AS BIGINT) AS min_tf,
  CAST(max(tf.tf) AS BIGINT) AS max_tf,
  CAST(min(dl.doc_len) AS BIGINT) AS doc_len,
  CAST(min(dfs.df) AS BIGINT) AS min_df,
  CAST(max(dfs.df) AS BIGINT) AS max_df,
  round(sum(ln(1 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
        * tf.tf * (1.2 + 1.0)
        / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.doc_len / s.avgdl))), 6)
    AS bm25
FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
GROUP BY tf.doc_id
"""


def _gazetteer_oracle(phrases) -> str:
    """Recursive-CTE twin of ops/mining.py::gazetteer_spans: candidate
    scan ordered (start asc, len desc) carrying last_end - the
    sequential leftmost-longest state SQL can only say as recursion."""
    import re as _re
    pts = sorted({tuple(t for t in _re.split(r"[^a-z0-9]+", p.lower())
                        if t) for p in phrases if p})
    branches = []
    for pt in pts:
        ln = len(pt)
        arr = "[" + ", ".join(f"'{t}'" for t in pt) + "]"
        branches.append(
            f"SELECT doc_id, g.p AS start_tok, {ln} AS plen,\n"
            f"       '{' '.join(pt)}' AS phrase\n"
            f"FROM base, LATERAL unnest(generate_series(1, "
            f"len(ws) - {ln} + 1)) AS g(p)\n"
            f"WHERE len(ws) >= {ln} AND ws[g.p:g.p + {ln} - 1] = {arr}")
    cand = "\nUNION ALL\n".join(branches)
    return f"""
WITH RECURSIVE
base AS (SELECT doc_id,
  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS ws FROM documents),
cand AS ({cand}),
c2 AS (SELECT doc_id, start_tok, plen,
         start_tok + plen - 1 AS end_tok, phrase,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY start_tok, plen DESC) AS rn
       FROM cand),
rec(doc_id, rn, last_end, start_tok, end_tok, phrase, kept) AS (
  SELECT doc_id, 0, 0, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS VARCHAR), false
  FROM (SELECT DISTINCT doc_id FROM c2)
  UNION ALL
  SELECT c.doc_id, c.rn,
         CASE WHEN c.start_tok > r.last_end THEN c.end_tok
              ELSE r.last_end END,
         c.start_tok, c.end_tok, c.phrase, c.start_tok > r.last_end
  FROM rec r JOIN c2 c ON c.doc_id = r.doc_id AND c.rn = r.rn + 1)
SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
       CAST(end_tok AS BIGINT) AS end_tok, phrase
FROM rec WHERE kept
"""


_MATTR_ORACLE = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
words AS (SELECT doc_id,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws FROM norm),
toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(i - 1 AS BIGINT) AS pos, ws[CAST(i AS BIGINT)] AS term
         FROM words, LATERAL unnest(generate_series(1, len(ws))) AS r(i)
         WHERE len(ws) >= 20),
lagged AS (SELECT doc_id, n_tokens, pos,
             coalesce(lag(pos) OVER (PARTITION BY doc_id, term
                                     ORDER BY pos), -1) AS pp
           FROM toks),
contrib AS (SELECT doc_id, n_tokens,
              greatest(0, least(pos, n_tokens - 20)
                          - greatest(pos - 20 + 1, pp + 1, 0) + 1) AS c
            FROM lagged)
SELECT doc_id, n_tokens, CAST(n_tokens - 19 AS BIGINT) AS n_windows,
  CAST(sum(c) AS BIGINT) AS sum_distinct,
  (1000000 * CAST(sum(c) AS BIGINT)) // ((n_tokens - 19) * 20) AS mattr_ppm
FROM contrib GROUP BY doc_id, n_tokens
"""


_SPEARMAN_ORACLE = """
WITH t AS (SELECT doc_id, doc_id % 16 AS grp, n_chars,
                  CAST(len(list_distinct(list_filter(
                      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      w -> w <> ''))) AS BIGINT) AS nt
           FROM documents WHERE doc_id % 5 = 0),
r AS (SELECT grp,
        CAST(rank() OVER (PARTITION BY grp ORDER BY n_chars ASC)
             + count(*) OVER (PARTITION BY grp) + 1
             - rank() OVER (PARTITION BY grp ORDER BY n_chars DESC)
             AS BIGINT) AS rx2,
        CAST(rank() OVER (PARTITION BY grp ORDER BY nt ASC)
             + count(*) OVER (PARTITION BY grp) + 1
             - rank() OVER (PARTITION BY grp ORDER BY nt DESC)
             AS BIGINT) AS ry2
      FROM t),
agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
          CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
          CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
          CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
        FROM r GROUP BY 1)
SELECT grp, n,
  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
       THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS rho
FROM agg
"""


_SYMSPELL_ORACLE = f"""
WITH norm AS (SELECT doc_id, lower(text) AS t FROM documents),
toks AS (SELECT u.term FROM norm,
  LATERAL unnest(list_filter(regexp_split_to_array(t, '[^a-z0-9]+'),
                             w -> w <> '')) AS u(term)),
dic AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks
        GROUP BY 1 HAVING count(*) >= 5 AND length(term) >= 4),
top AS (SELECT term, cnt FROM dic ORDER BY cnt DESC, term LIMIT 100),
qs AS (SELECT DISTINCT substr(term, 1, CAST(cnt % length(term) AS INT))
         || substr(term, CAST(cnt % length(term) + 2 AS INT)) AS q
       FROM top),
qk AS (SELECT q, k.key FROM qs, LATERAL unnest(list_concat([q],
         list_transform(range(1, length(q) + 1),
           i -> substr(q, 1, CAST(i - 1 AS INT))
                || substr(q, CAST(i + 1 AS INT))))) AS k(key)),
dk AS (SELECT term, cnt, k.key FROM dic, LATERAL unnest(list_concat(
         [term], list_transform(range(1, length(term) + 1),
           i -> substr(term, 1, CAST(i - 1 AS INT))
                || substr(term, CAST(i + 1 AS INT))))) AS k(key)),
pairs AS (SELECT DISTINCT q, term, cnt FROM qk JOIN dk USING (key)),
scored AS (SELECT q, term, cnt, levenshtein(q, term) AS dist
           FROM pairs WHERE levenshtein(q, term) <= 1),
ranked AS (SELECT q, term, dist, cnt,
             row_number() OVER (PARTITION BY q
               ORDER BY dist, cnt DESC, term) AS rn
           FROM scored)
SELECT q, term AS match, CAST(dist AS BIGINT) AS dist,
       CAST(cnt AS BIGINT) AS match_cnt
FROM ranked WHERE rn = 1
"""


_BORUVKA_ORACLE = """
WITH RECURSIVE
p AS (SELECT count(*) AS m FROM documents WHERE doc_id % 10 = 0),
ks AS (SELECT doc_id // 10 AS k FROM documents WHERE doc_id % 10 = 0),
gen AS (SELECT k, t.g FROM ks, p,
        LATERAL unnest([(k*7+1) % m, (k*13+3) % m, (k+1) % m]) AS t(g)),
e AS (SELECT DISTINCT least(k, g) AS u, greatest(k, g) AS v
      FROM gen WHERE k <> g),
g2 AS (SELECT u * m + v AS eid, u, v, (u*31 + v*17) % 997 AS w
       FROM e, p),
es AS (SELECT row_number() OVER (ORDER BY w, eid) AS i, eid, u, v
       FROM g2),
cnt AS (SELECT count(*) AS ne FROM es),
nodes AS (SELECT DISTINCT u AS node FROM g2
          UNION SELECT v FROM g2),
kr AS (
  SELECT CAST(0 AS BIGINT) AS i,
         list(node ORDER BY node) AS nds,
         list(node ORDER BY node) AS lbl,
         CAST([] AS BIGINT[]) AS mst
  FROM nodes
  UNION ALL
  SELECT kr.i + 1, kr.nds,
    CASE WHEN t.lu <> t.lv
         THEN list_transform(kr.lbl,
                x -> CASE WHEN x = t.lv THEN t.lu ELSE x END)
         ELSE kr.lbl END,
    CASE WHEN t.lu <> t.lv THEN list_append(kr.mst, e.eid)
         ELSE kr.mst END
  FROM kr JOIN es e ON e.i = kr.i + 1,
       LATERAL (SELECT kr.lbl[list_position(kr.nds, e.u)] AS lu,
                       kr.lbl[list_position(kr.nds, e.v)] AS lv) t
),
fin AS (SELECT mst FROM kr, cnt WHERE kr.i = cnt.ne),
ou AS (SELECT unnest(mst) AS eid FROM fin)
SELECT g2.eid, CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       CAST(w AS BIGINT) AS w
FROM g2 JOIN ou USING (eid)
"""


def _sobel_oracle(edge_mag2: int = 10000) -> str:
    """Re-derives sobel_stats from _media_pngs' closed pixel form:
    gray(y, x) is inlined for each of the 8 stencil neighbours, so the
    whole oracle is one map-side expression over the (doc, y, x)
    interior grid - no joins, pure integers."""
    def g(dy, dx):
        base = f"((x + {dx}) * 3 + (y + {dy}) * 7 + doc_id)"
        return (f"((({base}) % 256 + ({base} + 11) % 256"
                f" + ({base} + 22) % 256) // 3)")

    gx = (f"({g(-1, 1)} + 2 * {g(0, 1)} + {g(1, 1)}"
          f" - {g(-1, -1)} - 2 * {g(0, -1)} - {g(1, -1)})")
    gy = (f"({g(1, -1)} + 2 * {g(1, 0)} + {g(1, 1)}"
          f" - {g(-1, -1)} - 2 * {g(-1, 0)} - {g(-1, 1)})")
    return f"""
WITH dims AS (SELECT doc_id, 8 + (doc_id % 5) * 4 AS h,
                     8 + ((doc_id // 5) % 5) * 4 AS w
              FROM documents),
px AS (SELECT d.doc_id, d.h, d.w,
         {gx} AS gx, {gy} AS gy
       FROM dims d, range(24) yy(y), range(24) xx(x)
       WHERE y >= 1 AND y <= h - 2 AND x >= 1 AND x <= w - 2)
SELECT doc_id AS media_id, CAST(any_value(h) AS BIGINT) AS h,
  CAST(any_value(w) AS BIGINT) AS w,
  CAST(count(*) AS BIGINT) AS n_interior,
  CAST(sum(gx * gx + gy * gy) AS BIGINT) AS sum_mag2,
  CAST(max(gx * gx + gy * gy) AS BIGINT) AS max_mag2,
  CAST(sum(CASE WHEN gx * gx + gy * gy >= {int(edge_mag2)}
           THEN 1 ELSE 0 END) AS BIGINT) AS n_edges
FROM px GROUP BY doc_id
"""


_WOE_ORACLE = """
WITH b AS (SELECT least(n_chars // 40, 9) AS bin,
                  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS pos
           FROM documents),
agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos FROM b GROUP BY 1),
tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
               CAST(sum(n - n_pos) AS BIGINT) AS tn FROM agg)
SELECT bin, n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
  round(ln(CAST((2 * n_pos + 1) * tn AS DOUBLE)
           / CAST((2 * (n - n_pos) + 1) * tp AS DOUBLE)), 6) AS woe,
  round((CAST(n_pos AS DOUBLE) / tp - CAST(n - n_pos AS DOUBLE) / tn)
        * ln(CAST((2 * n_pos + 1) * tn AS DOUBLE)
             / CAST((2 * (n - n_pos) + 1) * tp AS DOUBLE)), 6)
  AS iv_term
FROM agg, tot
"""


_SKIPGRAM_ORACLE = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
words AS (SELECT doc_id AS d,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws
          FROM norm),
toks AS (SELECT d, CAST(i - 1 AS BIGINT) AS p,
                ws[CAST(i AS BIGINT)] AS t
         FROM words, LATERAL unnest(generate_series(1, len(ws)))
           AS r(i)),
probes AS (SELECT d, t AS a, p + o AS p2 FROM toks,
           LATERAL unnest([1, 2]) AS q(o)),
fwd AS (SELECT pr.a, tk.t AS b FROM probes pr JOIN toks tk
        ON pr.d = tk.d AND pr.p2 = tk.p),
pairs AS (SELECT a AS w_center, b AS w_context FROM fwd
          UNION ALL SELECT b, a FROM fwd),
cnt AS (SELECT w_center, w_context, CAST(count(*) AS BIGINT) AS c_xy
        FROM pairs GROUP BY 1, 2),
lft AS (SELECT w_center, CAST(sum(c_xy) AS BIGINT) AS c_c
        FROM cnt GROUP BY 1),
rgt AS (SELECT w_context, CAST(sum(c_xy) AS BIGINT) AS c_x
        FROM cnt GROUP BY 1),
tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS t_total FROM cnt)
SELECT w_center, w_context, c_xy,
  round(greatest(0.0, ln(CAST(c_xy * t_total AS DOUBLE)
                         / CAST(c_c * c_x AS DOUBLE))), 6) AS ppmi
FROM cnt JOIN lft USING (w_center) JOIN rgt USING (w_context), tot
WHERE c_xy >= 5
ORDER BY ppmi DESC, w_center, w_context LIMIT 50
"""


def _fd_oracle(fds) -> str:
    """Per-FD g3 blocks, unioned - each block reads only its two
    columns, mirroring fd_violations' independent aggregations."""
    blocks = []
    for name, lhs, rhs in fds:
        blocks.append(f"""
SELECT '{name}' AS fd,
  CAST(sum(nk) AS BIGINT) AS n_rows,
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_keys,
  CAST(sum(nk - maj) AS BIGINT) AS g3_rows
FROM (SELECT k, sum(c) AS nk, max(c) AS maj, count(*) AS ndv
      FROM (SELECT {lhs} AS k, {rhs} AS v, count(*) AS c
            FROM documents GROUP BY 1, 2)
      GROUP BY k)""")
    return "\nUNION ALL\n".join(blocks)


def _matryoshka_oracle(dims=(8, 16, 32, 64), n_queries: int = 10) -> str:
    """Per-dim brute-force cosine top-1 replay: 6dp-rounded score +
    id tie-break (list_dot_product summation-order drift absorbed by
    the rounding, the jl/ivfpq contract)."""
    full = max(dims)
    parts, units = [], []
    for d in dims:
        parts.append(f"""
b{d} AS (SELECT vec_id AS cid,
         list_transform(embedding[1:{d}], x -> CAST(x AS DOUBLE)) AS cv
         FROM embeddings),
q{d} AS (SELECT vec_id AS qid,
         list_transform(embedding[1:{d}], x -> CAST(x AS DOUBLE)) AS qv
         FROM embeddings WHERE vec_id < {n_queries}),
s{d} AS (SELECT qid, cid,
   round(CASE WHEN sqrt(list_dot_product(qv, qv))
                   * sqrt(list_dot_product(cv, cv)) > 0
         THEN list_dot_product(qv, cv)
              / (sqrt(list_dot_product(qv, qv))
                 * sqrt(list_dot_product(cv, cv)))
         ELSE -1.0 END, 6) AS c6
   FROM q{d}, b{d} WHERE qid <> cid),
t{d} AS (SELECT CAST({d} AS BIGINT) AS dim, qid AS query_id,
                cid AS top1_id,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY c6 DESC, cid) AS rn
         FROM s{d})""")
        units.append(f"SELECT dim, query_id, top1_id FROM t{d} "
                     f"WHERE rn = 1")
    u = "\nUNION ALL\n".join(units)
    return ("WITH " + ",".join(parts) + f""",
allt AS ({u}),
ref AS (SELECT query_id, top1_id AS ref_id FROM allt
        WHERE dim = {full})
SELECT dim, a.query_id, a.top1_id, a.top1_id = ref.ref_id AS agree
FROM allt a JOIN ref ON a.query_id = ref.query_id
""")


_KNN_SHAPLEY_ORACLE = """
WITH t AS (SELECT vec_id AS qid, embedding AS qv, label AS qy
           FROM embeddings WHERE vec_id < 10),
tr AS (SELECT vec_id AS cid, embedding AS cv, label AS cy
       FROM embeddings WHERE vec_id >= 10),
sc AS (SELECT qid, cid,
    CASE WHEN cy = qy THEN 1 ELSE 0 END AS m,
    round(list_sum(list_transform(range(1, 65), i ->
      (CAST(qv[CAST(i AS INT)] AS DOUBLE)
        - CAST(cv[CAST(i AS INT)] AS DOUBLE))
      * (CAST(qv[CAST(i AS INT)] AS DOUBLE)
        - CAST(cv[CAST(i AS INT)] AS DOUBLE)))), 6) AS d2
  FROM tr, t),
rk AS (SELECT qid, cid, m,
    row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS i,
    count(*) OVER (PARTITION BY qid) AS n
  FROM sc),
st AS (SELECT qid, cid, m, i, n,
    CASE WHEN i = n THEN 0
         ELSE (m - lead(m) OVER (PARTITION BY qid ORDER BY i))
              * (1000000000 // greatest(5, i)) END AS term
  FROM rk),
sh AS (SELECT qid, cid, i, n,
    max(CASE WHEN i = n THEN m END) OVER (PARTITION BY qid)
      * (1000000000 // n)
    + sum(CASE WHEN i < n THEN term ELSE 0 END)
        OVER (PARTITION BY qid ORDER BY i DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS shap_nano
  FROM st),
top AS (SELECT qid, cid, shap_nano,
    row_number() OVER (PARTITION BY qid
                       ORDER BY shap_nano DESC, cid) AS rnk
  FROM sh)
SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank,
       cid AS train_id, CAST(shap_nano AS BIGINT) AS shap_nano
FROM top WHERE rnk <= 10
"""


_WL_COLORS_ORACLE = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS s, (doc_id*7+1) % n AS d FROM documents, nn
  WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % n FROM documents, nn
  WHERE doc_id % 17 <> 0),
und AS (SELECT DISTINCT src, dst FROM (
  SELECT s AS src, d AS dst FROM e0
  UNION ALL SELECT d, s FROM e0)),
nodes AS (SELECT doc_id AS node FROM documents),
deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
c0 AS (SELECT n.node, CAST(coalesce(d.deg, 0) AS VARCHAR) AS c
       FROM nodes n LEFT JOIN deg d USING (node)),
a1 AS (SELECT u.src AS node, string_agg(c.c, ',' ORDER BY c.c) AS nbs
       FROM und u JOIN c0 c ON c.node = u.dst GROUP BY u.src),
c1 AS (SELECT c0.node, md5(c0.c || '|' || coalesce(a1.nbs, '')) AS c
       FROM c0 LEFT JOIN a1 USING (node)),
a2 AS (SELECT u.src AS node, string_agg(c.c, ',' ORDER BY c.c) AS nbs
       FROM und u JOIN c1 c ON c.node = u.dst GROUP BY u.src),
c2 AS (SELECT c1.node, md5(c1.c || '|' || coalesce(a2.nbs, '')) AS c
       FROM c1 LEFT JOIN a2 USING (node)),
a3 AS (SELECT u.src AS node, string_agg(c.c, ',' ORDER BY c.c) AS nbs
       FROM und u JOIN c2 c ON c.node = u.dst GROUP BY u.src),
c3 AS (SELECT c2.node, md5(c2.c || '|' || coalesce(a3.nbs, '')) AS c
       FROM c2 LEFT JOIN a3 USING (node))
SELECT c AS color, CAST(count(*) AS BIGINT) AS n_nodes
FROM c3 GROUP BY c
"""


def oracle_sql() -> dict[str, str]:
    fixture_temporal = []
    for name in fx.TEMPORAL_FIXTURES:
        fixture_temporal += fx.golden_predictions(name, "temporal")
    fixture_causal = []
    for name in fx.CAUSAL_FIXTURES:
        fixture_causal += fx.golden_predictions(name, "causal")
    return {
        "kg_temporal_triples": _TT_ORACLE,
        "kg_causal_triples": _CAUSAL_ORACLE,
        "kg_temporal_salted": _TT_ORACLE,
        "kg_doc_stats": _DOC_STATS_ORACLE,
        "kg_candidates": _CANDIDATES_ORACLE,
        "kg_pred_histogram": _PRED_HIST_ORACLE,
        "kg_fixture_temporal": _values_oracle(fixture_temporal),
        "kg_fixture_causal": _values_oracle(fixture_causal),
        "kg_text_identity": _TEXT_ORACLE,
        "html_text_extract": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
            "sha256(text) AS sha FROM documents"),
        "kg_entity_linking": _linking_oracle(),
        "kg_canonical_components": _CANONICAL_ORACLE,
        "dedup_resolution": _DEDUP_RESOLUTION_ORACLE,
        "kg_eval_metrics": _EVAL_ORACLE,
        "kg_consistent_triples": _CONSISTENT_ORACLE,
        "kg_awareness": _AWARENESS_ORACLE,
        "hdr_quantiles": _HDR_ORACLE,
        "hdr_group_quantiles": _HDR_GROUP_ORACLE,
        "ivm_refresh": _IVM_ORACLE,
        "events_stream_enrich": _ENRICH_ORACLE,
        "kg_cc_incremental": _CC_INC_ORACLE,
        "record_linkage": _LINKAGE_ORACLE,
        "session_transitions": _TRANSITIONS_ORACLE,
        "mad_outliers": _MAD_ORACLE,
        "roc_auc": _ROC_AUC_ORACLE,
        "frequent_pairs": _FREQ_PAIRS_ORACLE,
        "pr_curve": _PR_CURVE_ORACLE,
        "token_label_mi": _TOKEN_MI_ORACLE,
        "phrase_search": _PHRASE_ORACLE,
        "vocab_growth": _VOCAB_GROWTH_ORACLE,
        "kg_ee_probabilities": _EE_PROB_ORACLE,
        "tfidf_cosine_pairs": _TFIDF_COS_ORACLE,
        "prefix_filter_pairs": _PREFIX_FILTER_ORACLE,
        "audio_frame_stats": _AUDIO_FRAME_ORACLE,
        "naive_bayes": _NAIVE_BAYES_ORACLE,
        "zipf_fit": _ZIPF_ORACLE,
        "weighted_median": _WEIGHTED_MEDIAN_ORACLE,
        "rake_keyphrases": _RAKE_ORACLE,
        "ams_f2": _AMS_F2_ORACLE,
        "decision_stump": _STUMP_ORACLE,
        "maxsim_search": _maxsim_oracle(["hash", "join", "stream"]),
        "scc_pivot": _SCC_ORACLE,
        "ltr_features": _LTR_ORACLE,
        "gazetteer_spans": _gazetteer_oracle(GAZETTEER_PHRASES),
        "mattr_diversity": _MATTR_ORACLE,
        "spearman_rho": _SPEARMAN_ORACLE,
        "symspell_correct": _SYMSPELL_ORACLE,
        "boruvka_mst": _BORUVKA_ORACLE,
        "media_sobel": _sobel_oracle(),
        "woe_iv": _WOE_ORACLE,
        "skipgram_ppmi": _SKIPGRAM_ORACLE,
        "fd_violations": _fd_oracle([
            ("doc_to_source", "doc_id", "source"),
            ("len_to_lang", "n_chars", "lang"),
            ("source_to_lang", "source", "lang")]),
        "matryoshka_eval": _matryoshka_oracle(),
        "knn_shapley": _KNN_SHAPLEY_ORACLE,
        "wl_colors": _WL_COLORS_ORACLE,
        "rfm_segments": _RFM_ORACLE,
        "json_schema_infer": _JSON_INFER_ORACLE,
        "wordpiece_census": _WORDPIECE_ORACLE,
        "lz_complexity": _LZ_ORACLE,
        "shapley_attribution": _SHAPLEY_ATTR_ORACLE,
        "qte": _QTE_ORACLE,
    }


_QTE_ORACLE = """
WITH b AS (SELECT doc_id % 2 AS arm,
             n_chars + CASE WHEN doc_id % 2 = 1 THEN 25 ELSE 0 END
               AS v
           FROM documents),
hist AS (SELECT arm, v, count(*) AS c FROM b GROUP BY arm, v),
cum AS (SELECT arm, v, c,
          sum(c) OVER (PARTITION BY arm ORDER BY v) AS cum
        FROM hist),
ns AS (SELECT arm, count(*) AS n FROM b GROUP BY arm),
fan AS (SELECT cum.arm, cum.v, cum.cum, ns.n, t.tau,
               (t.tau * ns.n + 99) // 100 AS k
        FROM cum JOIN ns ON ns.arm = cum.arm
        CROSS JOIN (SELECT unnest([25, 50, 75]) AS tau) t),
q AS (SELECT arm, tau, n, min(v) AS q FROM fan
      WHERE cum >= k GROUP BY arm, tau, n)
SELECT CAST(t.tau AS BIGINT) AS tau, CAST(t.n AS BIGINT) AS n_t,
       CAST(c.n AS BIGINT) AS n_c, CAST(t.q AS BIGINT) AS q_t,
       CAST(c.q AS BIGINT) AS q_c, CAST(t.q - c.q AS BIGINT) AS qte
FROM (SELECT * FROM q WHERE arm = 1) t
JOIN (SELECT * FROM q WHERE arm = 0) c ON c.tau = t.tau
"""


_SHAPLEY_ATTR_ORACLE = """
WITH um AS (SELECT user_id AS u,
              bit_or(CAST(1 AS BIGINT) << (event_id % 4)) AS m,
              max(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)
                AS conv
            FROM events GROUP BY user_id),
mk AS (SELECT m, sum(conv) AS c FROM um GROUP BY m),
sub AS (SELECT unnest(range(0, 16)) AS s),
v AS (SELECT s.s,
        coalesce((SELECT sum(mk.c) FROM mk
                  WHERE (mk.m & s.s) = mk.m), 0) AS v
      FROM sub s),
ch AS (SELECT unnest(range(0, 4)) AS ch),
pr AS (SELECT ch.ch, s.s FROM ch, sub s
       WHERE ((s.s >> ch.ch) & 1) = 0),
con AS (SELECT pr.ch,
          factorial(CAST(bit_count(pr.s) AS INT))
          * factorial(CAST(3 - bit_count(pr.s) AS INT))
          * (v1.v - v0.v) AS w
        FROM pr
        JOIN v v0 ON v0.s = pr.s
        JOIN v v1 ON v1.s = (pr.s | (CAST(1 AS BIGINT) << pr.ch))),
solo AS (SELECT ch.ch AS ch_s, v.v AS v_solo FROM ch
         JOIN v ON v.s = (CAST(1 AS BIGINT) << ch.ch)),
tot AS (SELECT sum(conv) AS total_conv FROM um)
SELECT CAST(c.ch AS BIGINT) AS channel,
       CAST(sum(c.w) AS BIGINT) AS shapley_xkfact,
       CAST(s.v_solo AS BIGINT) AS v_solo,
       CAST(t.total_conv AS BIGINT) AS total_conv
FROM con c JOIN solo s ON s.ch_s = c.ch CROSS JOIN tot t
GROUP BY c.ch, s.v_solo, t.total_conv
"""


_LZ_ORACLE = """
WITH RECURSIVE
s0 AS (SELECT doc_id, substr(text, 1, 60) AS s,
              length(substr(text, 1, 60)) AS n
       FROM documents),
lz(doc_id, s, n, p, c) AS (
  SELECT doc_id, s, n, 0, 0 FROM s0
  UNION ALL
  SELECT doc_id, s, n, p + coalesce(lmin, n - p), c + 1
  FROM (SELECT doc_id, s, n, p, c,
          list_min(list_filter(range(1, n - p + 1),
            l -> strpos(substr(s, 1, p + l - 1),
                        substr(s, p + 1, l)) = 0)) AS lmin
        FROM lz WHERE p < n) t),
fin AS (SELECT doc_id, n, c FROM lz WHERE p >= n)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       CAST(c AS BIGINT) AS n_phrases,
       CASE WHEN n > 0 THEN CAST(c AS BIGINT) * 1000000 // n
            ELSE 0 END AS ratio_ppm
FROM fin
"""


_WORDPIECE_ORACLE = """
WITH RECURSIVE
wf AS (SELECT u.tok || CAST(d.doc_id % 97 AS VARCHAR) AS w,
              count(*) AS freq
       FROM documents d,
            LATERAL unnest(string_split(d.text, ' ')) AS u(tok)
       WHERE u.tok <> ''
       GROUP BY 1),
grid AS (SELECT CASE WHEN p.p = 1 THEN substr(w, 1, l.L)
                     ELSE '##' || substr(w, p.p, l.L) END AS unit,
                freq
         FROM wf,
              LATERAL unnest(range(1, length(w) + 1)) AS p(p),
              LATERAL unnest(range(1, least(4, length(w) - p.p + 1)
                                   + 1)) AS l(L)),
agg AS (SELECT unit, sum(freq) AS cnt FROM grid GROUP BY unit),
topu AS (SELECT unit FROM agg ORDER BY cnt DESC, unit LIMIT 160),
chars0 AS (SELECT DISTINCT substr(w, i.i, 1) AS c
           FROM wf, LATERAL unnest(range(1, length(w) + 1)) AS i(i)),
vocab AS (SELECT DISTINCT unit FROM (
            SELECT unit FROM topu
            UNION ALL SELECT c FROM chars0
            UNION ALL SELECT '##' || c FROM chars0) z),
vl AS (SELECT list(unit) AS vs FROM vocab),
enc(w, freq, pos, pieces) AS (
  SELECT w, freq, 1, []::VARCHAR[] FROM wf
  UNION ALL
  SELECT w, freq, pos + ml,
         list_append(pieces, CASE WHEN pos = 1 THEN substr(w, pos, ml)
                     ELSE '##' || substr(w, pos, ml) END)
  FROM (SELECT e.w, e.freq, e.pos, e.pieces,
          list_max(list_filter(
            range(1, least(4, length(e.w) - e.pos + 1) + 1),
            L -> list_contains(vl.vs,
              CASE WHEN e.pos = 1 THEN substr(e.w, e.pos, L)
                   ELSE '##' || substr(e.w, e.pos, L) END))) AS ml
        FROM enc e, vl WHERE e.pos <= length(e.w)) s
  WHERE ml IS NOT NULL),
fin AS (SELECT w, freq, pieces FROM enc WHERE pos > length(w)),
ex AS (SELECT w, freq, u.piece
       FROM fin, LATERAL unnest(pieces) AS u(piece))
SELECT piece AS unit, sum(freq) AS uses,
       count(DISTINCT w) AS n_words
FROM ex GROUP BY piece
"""


_JSON_INFER_ORACLE = """
WITH js AS (
  SELECT concat('{"a":', CAST(event_id % 100 AS VARCHAR),
    ',"b":"', event_type, '"',
    CASE WHEN user_id % 4 = 0 THEN concat(',"c":',
      CASE WHEN user_id % 8 = 0 THEN 'true' ELSE 'false' END)
    WHEN user_id % 4 = 1 THEN concat(',"c":',
      CAST(event_id % 90 AS VARCHAR), '.5')
    WHEN user_id % 4 = 2 THEN ',"c":null' ELSE '' END,
    CASE WHEN event_id % 5 = 0 THEN concat(',"d":{"e":',
      CAST(event_id % 7 AS VARCHAR), '}') ELSE '' END,
    '}')::JSON AS j
  FROM events),
top AS (SELECT u.k AS p, json_type(j, u.k) AS t, j FROM js,
        LATERAL unnest(json_keys(j)) AS u(k)),
obj AS (SELECT p, j FROM top WHERE t = 'OBJECT'),
inn AS (SELECT obj.p || '.' || u2.k AS p,
               json_type(json_extract(obj.j, obj.p), u2.k) AS t
        FROM obj, LATERAL unnest(json_keys(obj.j, obj.p)) AS u2(k)),
allp AS (SELECT p, t FROM top UNION ALL SELECT p, t FROM inn)
SELECT p AS path,
  CASE WHEN t IS NULL THEN 'null'
       WHEN t IN ('UBIGINT', 'BIGINT') THEN 'int'
       WHEN t = 'DOUBLE' THEN 'float'
       WHEN t = 'BOOLEAN' THEN 'bool'
       WHEN t = 'VARCHAR' THEN 'string'
       WHEN t = 'OBJECT' THEN 'object'
       ELSE 'other' END AS jtype,
  count(*) AS n
FROM allp GROUP BY path, jtype
"""


_RFM_ORACLE = """
WITH ev AS (
  SELECT user_id,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
u AS (SELECT user_id, max(d) AS rec, count(*) AS freq,
             sum(cents) AS mon
      FROM ev GROUP BY user_id),
q AS (SELECT user_id, mon,
             ntile(5) OVER (ORDER BY rec, user_id) AS r_q,
             ntile(5) OVER (ORDER BY freq, user_id) AS f_q,
             ntile(5) OVER (ORDER BY mon, user_id) AS m_q
      FROM u)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       count(*) AS n_users, sum(mon) AS cents
FROM q GROUP BY r_q, f_q, m_q
"""


if __name__ == "__main__":
    from eventrelationextractor_spark.spark.session import build_session
    spark = build_session(master="local[4]", shuffle_partitions=8)
    df = entry(spark)
    df.show(10, truncate=False)
    print("rows:", df.count())
