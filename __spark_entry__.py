"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship staged KG-construction job on a mixed
corpus (reference fixtures + deterministic synthetic web pages) and returns
the triples DataFrame. ``queries()`` exposes the pipeline stages (``kg_*``,
``html_text_extract``), the TPC-H suite and the operators that a test or tool
runs, each as (spark, sf_dir) -> DataFrame, and ``oracle_sql()`` gives a
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
from eventrelationextractor_spark.ops import bm25, cluster, packing, pq  # noqa: E402
from eventrelationextractor_spark.ops import dedup, events, multimodal  # noqa: E402
from eventrelationextractor_spark.ops import bpe, graph, iforest  # noqa: E402
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


def _q_dedup_minhash(spark, sf_dir):
    return dedup.jaccard_pairs(_augmented_docs(spark, sf_dir), threshold=0.5)


BM25_QUERY_TERMS = ["hash", "join", "spark", "window", "stream"]


def _q_optimal_segmentation(spark, sf_dir):
    """Fewest-pieces subword segmentation (ops/bpe.py::optimal_segment)
    under the corpus top-200 gram vocabulary (ops/bpe.py::gram_vocab):
    pure integer DP, so optimal piece counts and fertility are
    cross-engine exact - no greedy-matcher or float-Viterbi ambiguity.
    Vocab over ALL docs; segmentation gated on the doc_id % 10 == 0
    slice to bound the oracle's recursive-CTE DP replay."""
    docs = _docs(spark, sf_dir)
    vocab = bpe.gram_vocab(docs, min_len=2, max_len=4, k=200)
    subset = docs.filter(F.expr("doc_id % 10 = 0"))
    return bpe.optimal_segment(subset, vocab, max_len=4)


def _q_sequence_packing(spark, sf_dir):
    """GPT-style concatenate-and-chop layout (ops/packing.py): per-group
    window cumsum over token counts only - parallel across groups,
    append-stable, no global ORDER BY."""
    return packing.pack_sequences(_docs(spark, sf_dir))


def _q_embedding_kmeans(spark, sf_dir):
    """Fixed-iteration Lloyd k-means over the embeddings table
    (ops/cluster.py): map-side broadcast-centroid assignment, one
    partial-agg shuffle per update; the oracle replays the identical
    deterministic iterations in SQL."""
    _, assigned = cluster.kmeans_fit(_emb(spark, sf_dir), k=8, n_iter=2)
    return assigned


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


def _q_eval_metrics(spark, sf_dir):
    """J6/A2 as an oracled query: per-label tp/fp/fn/P/R/F1 from
    spark.evaluate.evaluate_pairs over gold = the closed-form synthetic
    temporal triples and pred = a deterministic perturbation (drop the
    e4-source rows of every 9th doc -> fn; add a spurious (e1,e2,BEFORE)
    for every 11th doc -> fp). The SQL twin re-implements the inverse
    normalization, full-outer pair match and per-label aggregation
    independently."""
    from eventrelationextractor_spark.spark import evaluate
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
    pred = dropped.unionByName(spurious)
    return evaluate.evaluate_pairs(gold, pred)


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
    # localCheckpoint: see _q_eval_metrics (gold feeds both cogroup sides)
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
    pred = dropped.unionByName(spurious)
    return (evaluate.awareness_scores(gold, pred)
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


def _q_link_clustering(spark, sf_dir):
    """Local clustering coefficients in exact integer ppm (ops/
    graph.py::clustering_coefficients) over the clique-augmented
    link graph — the injected 3-cliques surface as
    high-cc nodes. Integer div keeps the gate exact; the oracle
    extends the brute-force triangle count with a degree join and the
    identical ppm formula."""
    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    e, nodes = _link_edges(spark, sf_dir)
    d = F.col("doc_id")
    cl = docs.filter(d % 10 == 0)
    clique = (cl.select(d.alias("src"), ((d + 1) % n).alias("dst"))
              .unionByName(cl.select(((d + 1) % n).alias("src"),
                                     ((d + 2) % n).alias("dst")))
              .unionByName(cl.select(d.alias("src"),
                                     ((d + 2) % n).alias("dst"))))
    return graph.clustering_coefficients(e.unionByName(clique),
                                         nodes=nodes)


def _q_link_truss(spark, sf_dir):
    """Bounded 5-truss peeling (ops/graph.py::ktruss_peel, 3 rounds)
    over a graph built to exercise every peel regime: pagerank noise
    edges (zero support - drop round 1), banded blocks of 8 with
    deltas 1-3 (a 4-truss-but-not-5-truss - they CASCADE out as each
    round's drops starve the next), and a 5-clique per 32nd doc (every
    edge in 3 triangles - the surviving 5-truss core). The oracle
    replays identical rounds as chained CTEs with id-ordered triangle
    enumeration - same triangle set, so identical supports; the Spark
    side enumerates degree-ordered (hub-proof O(m^1.5) wedges)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    e, _nodes = _link_edges(spark, sf_dir)
    for delta in (1, 2, 3):
        e = e.unionByName(
            docs.filter(d % 8 <= 7 - delta)
            .select(d.alias("src"), (d + delta).alias("dst")))
    pairs = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    clique = (docs.filter(d % 32 == 0)
              .select(F.explode(F.array(*[
                  F.struct((d + i).alias("s"), (d + j).alias("t"))
                  for i, j in pairs])).alias("p"))
              .select(F.col("p.s").alias("src"), F.col("p.t").alias("dst")))
    return graph.ktruss_peel(e.unionByName(clique), k=5, rounds=3)


def _q_link_jaccard(spark, sf_dir):
    """Neighborhood-Jaccard link scores (ops/graph.py::jaccard_links)
    over the synthetic link graph: exact-integer |∩| div |∪| ppm per
    co-neighbor pair, hub-capped candidate generation (the adamic-adar
    cap semantics), true degrees in the denominator, is_edge splitting
    prediction from confirmation. Oracle enumerates the same pairs
    via an id-ordered wedge self-join."""
    e, _nodes = _link_edges(spark, sf_dir)
    return graph.jaccard_links(e, max_degree=100)


def _q_link_assortativity(spark, sf_dir):
    """Degree assortativity (ops/graph.py::degree_assortativity) of
    the link graph plus the per-10th-doc 3-cliques (degree variety so
    the variance term is nonzero): one row of exact-integer moment
    sums m2/sx/sxy/sx2 and the 6dp Pearson r."""
    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    e, _nodes = _link_edges(spark, sf_dir)
    d = F.col("doc_id")
    cl = docs.filter(d % 10 == 0)
    clique = (cl.select(d.alias("src"), ((d + 1) % n).alias("dst"))
              .unionByName(cl.select(((d + 1) % n).alias("src"),
                                     ((d + 2) % n).alias("dst")))
              .unionByName(cl.select(d.alias("src"),
                                     ((d + 2) % n).alias("dst"))))
    return graph.degree_assortativity(e.unionByName(clique))


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


def _q_quality_classifier(spark, sf_dir):
    """FastText-style quality classifier (ops/quality.py): train a
    hashed-bigram linear classifier on the corpus itself — positive
    class = every 10th doc, the same deterministic "reference subset"
    DSIR targets, so the two selection methods are comparable — then
    score every document. FIXED-POINT formulation
    (train_quality_classifier_fixedpoint): the whole loop — margins,
    the rational sigmoid surrogate, gradients, updates — is BIGINT
    micro-unit arithmetic with NO exp() and NO float sums, so the
    model and scores are bit-identical across engines, JVM libm builds
    and partial-agg merge orders. The float-logistic version stayed
    locally green but was driver hash-red in round 4: its
    round(sigmoid, 6) output flips at 6dp boundaries under last-ulp
    exp() drift, which this query can never observe locally. The
    oracle replays both integer iterations in SQL (iteration 1 is
    closed-form: zero weights => p = 500000 micro exactly)."""
    d = _docs(spark, sf_dir)
    w, b = quality.train_quality_classifier_fixedpoint(
        d, (F.col("doc_id") % 10 == 0).cast("double"),
        n_buckets=64, n_iter=2, lr_x=5)
    return quality.score_quality_fixedpoint(d, w, b)


def _q_events_interval_join(spark, sf_dir):
    """Bucketed range join (ops/events.py::interval_join_bucketed):
    attribute every event to each 30-minute purchase window of the same
    user it falls in, then aggregate per window. The equi-join on
    (user, time-bucket) + residual filter replaces the nested-loop
    inequality join; oracle = the plain inequality join in DuckDB."""
    ev = _events(spark, sf_dir)
    intervals = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("interval_id"), "user_id",
                         F.col("ts").alias("start"),
                         (F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
                         .alias("end")))
    points = ev.select("user_id", "ts", "event_id", "value")
    j = events.interval_join_bucketed(points, intervals, on="user_id",
                                      ts_col="ts", bucket_minutes=10)
    return (j.groupBy("interval_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.min("event_id").alias("first_event_id")))


def _q_prefix_filter_pairs(spark, sf_dir):
    """EXACT all-pairs Jaccard join (ops/dedup.py::prefix_filter_pairs,
    AllPairs prefix filtering): recall-1 near-dup tier next to the
    probabilistic MinHash one, over the augmented corpus with planted
    near/exact dups. All filters in integer ppm; the oracle replays
    df-rank prefixes, the size gate, and exact verification."""
    return dedup.prefix_filter_pairs(_augmented_docs(spark, sf_dir),
                                     t_ppm=800_000)


def _q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ approximate top-k (ops/pq.py, Jegou et al. 2011): coarse
    1-iteration k-means cells prune the scan to nprobe=2 cells; stored
    vectors are 4 uint8 product codes; per-candidate distance = 4
    codegen table lookups against the per-query ADC table. The oracle
    replays the ENTIRE index: coarse Lloyd, all four subspace Lloyds,
    code assignment, probe selection, and the ADC sum - ranked on the
    6dp-rounded distance both sides (the bm25 lesson)."""
    return pq.ivfpq_topk(_emb(spark, sf_dir), n_queries=10, k=5)


def _q_calibration_bins(spark, sf_dir):
    """Reliability diagram (ops/quality.py::calibration_table) for a
    synthetic ppm confidence (length-derived, clipped at 999999)
    against a threshold label: per-bin confidence mean, positive rate,
    and calibration gap - every column an exact integer, so the whole
    diagram rides the hash gate with zero float tolerance."""
    d = _docs(spark, sf_dir).selectExpr(
        "least(999999, (1000000 * cast(n_chars as bigint)) div 300)"
        " AS score_ppm",
        "n_chars >= 150 AS label")
    return quality.calibration_table(d, "score_ppm", "label", n_bins=10)


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


def _q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift (ops/quality.py::
    ks_two_sample) between the doc_id%3=0 slice and the rest, with a
    staged +25-char shift on the flagged slice so D is materially
    nonzero. d_num = max|cum_a*n_b - cum_b*n_a| over the merged value
    support - exact integer, one groupBy + one window over value-
    distinct rows."""
    d = _docs(spark, sf_dir).selectExpr(
        "n_chars + if(doc_id % 3 = 0, 25, 0) AS v",
        "doc_id % 3 = 0 AS flag")
    return quality.ks_two_sample(d, "v", "flag")


def _q_chi2_independence(spark, sf_dir):
    """Chi-square independence cells (ops/quality.py::
    chi_square_independence) between event_type and the user_id%4
    shard - is the event mix independent of the sharding key. Counts
    exact integers; expected/contrib are per-ROW 6dp floats over those
    integers (no cross-partition float sum)."""
    ev = _events(spark, sf_dir).selectExpr(
        "event_type AS a", "user_id % 4 AS b")
    return quality.chi_square_independence(ev, "a", "b")


def _q_benford_digits(spark, sf_dir):
    """Benford first-digit profile (ops/quality.py::benford_profile)
    of order totals in integer cents (floor(x*100 + 0.5) - the
    repo-standard rounding twin). Digit extraction from the decimal
    string of the exact integer, expected_ppm the shared literal
    table; 9 spine rows, zero-count digits included."""
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .selectExpr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                    " AS cents")
    return quality.benford_profile(od, "cents")


def _daily_counts(spark, sf_dir):
    """(key=event_type, o=epoch day, x=count) — the bounded per-key
    series (30 points per key at every SF grain) feeding the trend/
    autocorrelation ops; the aggregation grain IS their scale
    contract (never raw event rows)."""
    return (_events(spark, sf_dir)
            .selectExpr("event_type AS key",
                        "datediff(to_date(ts), DATE'1970-01-01') AS o")
            .groupBy("key", "o")
            .agg(F.count(F.lit(1)).cast("long").alias("x")))


def _q_trend_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test (ops/events.py::mann_kendall) per
    event_type over the daily-count series: S and the tie-corrected
    18*Var(S) exact integers, z the only float. The pairwise join
    runs over the 30-row aggregated series per key."""
    return events.mann_kendall(_daily_counts(spark, sf_dir),
                                   "key", "o", "x")


def _q_events_acf(spark, sf_dir):
    """Autocorrelation at lags 1..5 (ops/events.py::acf) per
    event_type over the daily-count series, in n-scaled integer
    centered form: num/den exact integers, acf the per-row 6dp
    ratio. Gaps in the day spine drop pairs rather than injecting
    zeros (join on o + lag)."""
    return events.acf(_daily_counts(spark, sf_dir),
                          "key", "o", "x", max_lag=5)


def _q_tcloseness(spark, sf_dir):
    """t-closeness audit (ops/maintenance.py::tcloseness_groups)
    completing the k-anon / l-diversity release triad: per
    (lang, source) group, the ordinal EMD between the group's length-
    bucket distribution and the global one, in exact integer ppm
    (emd_num = sum |cum_c*N - cum_C*n_g| over the ladder's first m-1
    rungs). Threshold 200000 ppm = the paper's t=0.2."""
    d = _docs(spark, sf_dir).selectExpr(
        "lang", "source", "least(n_chars div 100, 5) AS bucket")
    return maintenance.tcloseness_groups(
        d, ["lang", "source"], "bucket", t_ppm=200_000)


def _q_events_linfit(spark, sf_dir):
    """Per-event-type OLS over the daily-count series (ops/events.py::
    linfit): five exact-integer moment sums from ONE groupBy, slope/
    intercept/r2 per-row 6dp floats - the effect-size companion of
    trend_mann_kendall on the same staging."""
    return events.linfit(_daily_counts(spark, sf_dir), "key", "o", "x")


def _q_psi_drift(spark, sf_dir):
    """Population Stability Index cells (ops/quality.py::psi_buckets)
    between the doc_id%3=0 slice (staged +25-char shift, the ks_drift
    staging) and the rest, over 50-char length buckets capped at 19.
    Proportions exact integer ppm floored at the 100-ppm smoothing;
    psi_term per-row float."""
    d = _docs(spark, sf_dir).selectExpr(
        "least((n_chars + if(doc_id % 3 = 0, 25, 0)) div 50, 19)"
        " AS bucket",
        "doc_id % 3 = 0 AS flag")
    return quality.psi_buckets(d, "bucket", "flag", smooth_ppm=100)


def _q_phrase_search(spark, sf_dir):
    """Exact-phrase search (ops/bm25.py::phrase_search) for the
    REPEATED-token phrase "table table" - the classic PhraseQuery
    subtlety the distinct-offset count exists for (a lone 'table'
    satisfies one offset, never both). Postings shift onto a common
    anchor; one groupBy, no self-join chain."""
    return bm25.phrase_search(_docs(spark, sf_dir), ["table", "table"])


def _q_proximity_minspan(spark, sf_dir):
    """Minimal-window proximity (ops/bm25.py::min_span_proximity) for
    the 3-term query {scan, merge, window}: shortest token window per
    doc containing all three, cover count, and the end position of the
    first minimal window. Pure-integer sweep over ONE doc-partitioned
    window spec; postings filtered to the query terms before the
    exchange."""
    return bm25.min_span_proximity(_docs(spark, sf_dir),
                                   ["scan", "merge", "window"])


def _q_events_seasonality(spark, sf_dir):
    """Ratio-to-moving-average seasonal decomposition (ops/events.py::
    seasonal_decompose): per (event_type, epoch-dow) seasonal index in
    exact integer ppm — centered 7-row trend over the observed day
    series, full windows only, integer div throughout (the
    sequence_packing lesson: no cross-engine float arithmetic)."""
    return events.seasonal_decompose(_events(spark, sf_dir))


def _q_events_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival for time-to-first-purchase per user
    (ops/events.py::kaplan_meier): right-censoring at the user's last
    observed event, integer-microsecond durations, risk sets from one
    descending cumulative window, survival = exp(sum ln) at the 6dp
    gate with an exact-zero guard when a risk set dies out."""
    return events.kaplan_meier(_events(spark, sf_dir))


def _q_pareto_docs(spark, sf_dir):
    """Per-language 2-D Pareto front (ops/mining.py::pareto_front):
    docs not dominated on (n_chars, distinct-term count) — the multi-
    objective curation pick. Spark runs the sweep formulation (per-x
    champion reduce + one statistic-scale window + keyed join-back);
    the oracle is the INDEPENDENT quadratic NOT-EXISTS dominance
    anti-join, so the gate cross-checks two different algorithms."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "n_chars",
        F.size(F.array_distinct(F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != ""))).cast("long").alias("n_terms"))
    return mining.pareto_front(d, "n_chars", "n_terms", ["lang"])


def _q_token_label_mi(spark, sf_dir):
    """Mutual-information + G^2 feature selection (ops/quality.py::
    token_label_mi) between hashed-bigram presence and the doc_id%10
    label - the same feature space and label as quality_classifier, so
    selected buckets map onto classifier weights. Exact integer cell
    counts; mi/g2 are per-row 4-term float expressions (6dp)."""
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
    generative sibling of quality_classifier/token_label_mi. Integer
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


def _q_label_spread(spark, sf_dir):
    """Semi-supervised label spread
    (ops/graph.py::seeded_label_propagation): every 10th doc seeds its
    language label; 3 synchronous clamped rounds push labels over the
    synthetic link graph (min-label ties, keep-current when no labeled
    neighbor). The oracle unrolls the identical rounds as chained
    CTEs."""
    e, nodes = _link_edges(spark, sf_dir)
    seeds = _docs(spark, sf_dir).filter("doc_id % 10 = 0").select(
        F.col("doc_id").alias("node"), F.col("lang").alias("label"))
    return graph.seeded_label_propagation(e, seeds, n_iter=3, nodes=nodes)


def _q_annotator_agreement(spark, sf_dir):
    """Cohen's kappa (ops/quality.py::cohens_kappa) between two
    synthetic annotators over the doc length buckets: annotator B
    recomputes A's label from length(text) and the doc_id%7 slice is
    shifted one bucket up - so agreement is high but not total and
    kappa must discount the skewed-marginal chance floor. Exact
    integer contingency terms, three single divisions."""
    d = _docs(spark, sf_dir).selectExpr(
        "least(cast(n_chars as bigint) div 150, 5) AS ann_a",
        "CASE WHEN doc_id % 7 = 0 "
        "THEN least(least(cast(length(text) as bigint) div 150, 5) + 1, 5) "
        "ELSE least(cast(length(text) as bigint) div 150, 5) END AS ann_b")
    return quality.cohens_kappa(d, "ann_a", "ann_b")


def _q_mad_outliers(spark, sf_dir):
    """Hampel/MAD robust outlier flags over document lengths
    (ops/textstats.py::mad_outliers): both medians ride the value-
    histogram walk (no full-data sort - the hdr 'window over sketch
    rows' shape), and the 3-MAD fence is evaluated in doubled/
    quadrupled integers so flags are engine-exact."""
    return textstats.mad_outliers(_docs(spark, sf_dir), "n_chars",
                                  "doc_id")


def _q_events_gini(spark, sf_dir):
    """Gini concentration of events over users
    (ops/maintenance.py::gini_concentration): the scalar skew monitor -
    rank-formula numerator/denominator in exact integers, one window
    over user cardinality."""
    return maintenance.gini_concentration(_events(spark, sf_dir),
                                          "user_id")


def _q_events_cusum(spark, sf_dir):
    """CUSUM volume-shift alarms (ops/events.py::cusum_alarms) over
    per-(event_type, minute) counts with per-type integer-floor mean
    targets; a deterministic click burst is
    injected so the alarm provably fires at every SF. The clipped
    recursion rides the prefix-sum/running-min closed form - two
    stacked windows, zero iteration, exact integers end to end."""
    ev = _events(spark, sf_dir).select("ts", "event_type")
    burst = _events(spark, sf_dir).filter(F.col("event_id") % 5 == 0) \
        .select(F.lit("2024-01-02 00:15:00").cast("timestamp").alias("ts"),
                F.lit("click").alias("event_type"))
    counts = (ev.unionByName(burst)
              .groupBy("event_type",
                       F.date_trunc("minute", F.col("ts")).alias("minute"))
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tgt = counts.groupBy("event_type").agg(
        F.expr("sum(n) div count(1)").alias("target"))
    series = counts.join(F.broadcast(tgt), "event_type")
    out = events.cusum_alarms(series, "event_type", "minute", "n",
                              "target", slack=1, threshold=50)
    return out.select(
        "event_type",
        events.ntz_epoch_us("minute").alias("minute_us"),
        "n", "cusum", "alarm")


def _q_session_transitions(spark, sf_dir):
    """First-order Markov next-event matrix
    (ops/events.py::session_transitions): one lead window per user
    stream (event_id tie-break), integer transition counts, row-
    normalized by a single exact division."""
    return events.session_transitions(_events(spark, sf_dir))


def _q_link_shortest_paths(spark, sf_dir):
    """Weighted shortest paths within a 4-hop budget (ops/graph.py::
    weighted_seed_distances): delta-frontier Bellman-Ford over the
    synthetic link graph with integer edge weights
    (src*3 + dst*5) % 9 + 1, seeds = doc_id % 97 == 0. Exact integer
    distances; the oracle enumerates every <=4-edge path from the
    seed set in a recursive CTE and takes min(dist) — an independent
    formulation of the same semantics."""
    e, nodes = _link_edges(spark, sf_dir)
    we = e.withColumn(
        "w", ((F.col("src") * 3 + F.col("dst") * 5) % 9 + 1))
    seeds = nodes.filter(F.col("node") % 97 == 0)
    return graph.weighted_seed_distances(we, seeds, max_hops=4)


def _q_bm25_map_mrr(spark, sf_dir):
    """AP@25 / MRR / recall@25 of the BM25 run
    (ops/bm25.py::map_mrr_at_k) against binary judgments (any query
    term present). AP's rank-reciprocal sum rides lcm(1..25)-scaled
    exact integers, so the metric is engine-deterministic regardless
    of aggregation merge order; the oracle shares the run CTEs with
    the ndcg oracle so both metrics grade the same run."""
    docs = _docs(spark, sf_dir)
    res = bm25.bm25_topk(docs, BM25_QUERY_TERMS, k=25)
    qt = spark.createDataFrame([(t,) for t in BM25_QUERY_TERMS],
                               "term string")
    rel = (bm25.tokenize(docs).select("doc_id", "term").distinct()
           .join(F.broadcast(qt), "term")
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("rel")))
    return bm25.map_mrr_at_k(res, rel, k=25)


def _q_events_funnel(spark, sf_dir):
    """Ordered funnel (ops/events.py::funnel): per user the earliest
    view -> click -> purchase completion chain, each step strictly
    after the previous; stage = steps completed. One groupBy + one
    user-keyed join per later step, filters pruned before the shuffle;
    the oracle is the identical chained-min formulation."""
    return events.funnel(_events(spark, sf_dir))


def _cents(col):
    """Exact integer cents from a 2-decimal double column: the classic
    money-exactness discipline - float SUMS drift with partial-agg merge
    order across engines (the bm25 lesson at money magnitudes), integer
    sums cannot. round() of the identical IEEE double agrees across
    engines except exactly-at-.5 doubles, which 2-decimal money values
    never hit."""
    return F.round(col * 100, 0).cast("long")


def _q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1 pricing summary over the relational slice of the
    driver tables (lineitem): per (returnflag, linestatus) the qty /
    base / discounted / charged totals and means. All money arithmetic
    in exact integer cents (discount and tax become x100 integer
    factors), divided back to dollars only at the end - so the value
    hash is engine-exact with NO tolerance games. Pure one-pass
    partial-agged groupBy after a pushed-down date filter."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    pc = _cents(F.col("l_extendedprice"))
    dc = _cents(F.col("l_discount"))        # 0..100
    tc = _cents(F.col("l_tax"))
    staged = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))         .select("l_returnflag", "l_linestatus",
                F.col("l_quantity").cast("long").alias("qty"),
                pc.alias("pc"), dc.alias("dc"), tc.alias("tc"))
    g = staged.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        F.sum("pc").alias("base_c"),
        F.sum(F.col("pc") * (100 - F.col("dc"))).alias("disc_c2"),
        F.sum(F.col("pc") * (100 - F.col("dc")) * (100 + F.col("tc")))
        .alias("charge_c4"),
        F.sum("dc").alias("disc_sum"),
        F.count(F.lit(1)).alias("count_order"))
    # Every output column is an exact BIGINT: sums stay in integer
    # cents/c2/c4 units and the averages are integer micro-units via
    # trunc-div (all operands positive, so Spark `div` == DuckDB `//`).
    # The previous projection divided back to DOUBLE dollars and
    # emitted round(x, 6) averages - re-introducing exactly the
    # float-boundary fragility the integer-cents discipline exists to
    # kill (driver hash-red in round 4 while locally green:
    # engine-version round()/division drift is unobservable here, so
    # the output surface is now integer-pure end to end).
    return g.select(
        "l_returnflag", "l_linestatus", "sum_qty",
        F.col("base_c").alias("sum_base_price_c"),
        F.col("disc_c2").alias("sum_disc_price_c2"),
        F.col("charge_c4").alias("sum_charge_c4"),
        F.expr("(1000000 * sum_qty) div count_order").alias("avg_qty_ppm"),
        F.expr("(10000 * base_c) div count_order").alias("avg_price_upd"),
        F.expr("(10000 * disc_sum) div count_order").alias("avg_disc_upd"),
        "count_order")


def _q_tpch_shipping(spark, sf_dir):
    """TPC-H Q3 shipping priority: BUILDING-segment customers, orders
    placed before / lines shipped after the cut date, top-10 orders by
    discounted revenue. The canonical 3-table join: customer is the
    small dimension (broadcast), orders->lineitem the fact join;
    revenue in exact integer cents so the top-10 ordering is
    engine-exact (ranked on the long, never a float)."""
    cut = F.lit("1998-03-15").cast("timestamp")
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))         .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))         .filter(F.col("o_orderdate") < cut)         .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))         .filter(F.col("l_shipdate") > cut)         .select("l_orderkey", _cents(F.col("l_extendedprice")).alias("pc"),
                _cents(F.col("l_discount")).alias("dc"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    from pyspark.sql import Window
    rev = (j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
           .agg(F.sum(F.col("pc") * (100 - F.col("dc")))
                .alias("rev_c2")))
    w = Window.orderBy(F.col("rev_c2").desc(), F.col("l_orderkey"))
    return (rev.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .select(F.col("l_orderkey").alias("orderkey"),
                    (F.col("rev_c2") / 10000.0).alias("revenue"),
                    "o_orderdate", "o_orderpriority",
                    F.col("rnk").cast("long").alias("rnk")))


def _q_tpch_local_volume(spark, sf_dir):
    """TPC-H Q5 local-supplier volume: ASIA-1996 revenue per nation
    where customer and supplier share the nation - the canonical
    6-table star join (region->nation as broadcast snowflake dims,
    customer/supplier as keyed dims, orders->lineitem as the fact
    spine). Revenue in exact integer cents; ordering on the exact
    long. Consumes region/nation/customer/supplier/orders/lineitem -
    with Q1/Q3/Q9 every driver table feeds at least one query."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    region = rd("region").filter(F.col("r_name") == "ASIA")
    nation = rd("nation").join(F.broadcast(region),
                               F.col("n_regionkey") == F.col("r_regionkey"))
    cust = rd("customer").join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"))         .select("c_custkey", "c_nationkey", "n_name")
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))         .select("o_orderkey", "o_custkey")
    li = rd("lineitem").select(
        "l_orderkey", "l_suppkey",
        _cents(F.col("l_extendedprice")).alias("pc"),
        _cents(F.col("l_discount")).alias("dc"))
    supp = rd("supplier").select("s_suppkey", "s_nationkey")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(supp),
               (li.l_suppkey == supp.s_suppkey)
               & (cust.c_nationkey == supp.s_nationkey)))
    return (j.groupBy("n_name")
            .agg(F.sum(F.col("pc") * (100 - F.col("dc"))).alias("rev_c2"),
                 F.count(F.lit(1)).alias("n_lines"))
            .select("n_name", (F.col("rev_c2") / 10000.0).alias("revenue"),
                    "n_lines"))


def _q_tpch_part_margin(spark, sf_dir):
    """TPC-H Q9-shape product-profit rollup: per (supplier nation,
    order year) the margin on red parts - discounted revenue minus
    retail-price x quantity (the driver schema ships no partsupp, so
    retail price stands in for supply cost; the oracle replays the
    substitution). part/supplier are broadcast dims; margin in exact
    integer cents. Consumes part + supplier + nation + orders +
    lineitem."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    part = rd("part").filter(F.col("p_name").contains("red"))         .select("p_partkey", _cents(F.col("p_retailprice")).alias("rc"))
    supp = rd("supplier").select("s_suppkey", "s_nationkey")
    nation = rd("nation").select("n_nationkey", "n_name")
    orders = rd("orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    li = rd("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.col("l_quantity").cast("long").alias("qty"),
        _cents(F.col("l_extendedprice")).alias("pc"),
        _cents(F.col("l_discount")).alias("dc"))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(F.broadcast(nation),
               supp.s_nationkey == nation.n_nationkey)
         .join(orders, li.l_orderkey == orders.o_orderkey))
    margin = (F.col("pc") * (100 - F.col("dc"))
              - F.col("rc") * 100 * F.col("qty"))
    return (j.groupBy("n_name", "o_year")
            .agg(F.sum(margin).alias("m_c2"),
                 F.count(F.lit(1)).alias("n_lines"))
            .select("n_name", "o_year",
                    (F.col("m_c2") / 10000.0).alias("sum_margin"),
                    "n_lines"))


def _q_tpch_order_priority(spark, sf_dir):
    """TPC-H Q4-shape order-priority check: orders in one quarter with
    AT LEAST ONE late line (shipped > 60 days after order date),
    counted per priority - the canonical LEFT SEMI join (EXISTS): the
    fact side is probed once, never multiplied by matching lines. The
    driver schema has no commit/receipt dates, so lateness =
    shipdate - orderdate > 60 days (the oracle replays the
    substitution)."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    li = rd("lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li, (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate")
           + F.expr("INTERVAL 60 DAYS")), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders")))


def _q_tpch_returned_items(spark, sf_dir):
    """TPC-H Q10-shape returned-item report: revenue lost to returns
    (l_returnflag = 'R') per customer over one quarter, top-20 by lost
    revenue - the classic customer-facing join rollup (lineitem ->
    orders -> customer with a broadcast-sized final dimension lookup).
    Exact integer cents; ranked on the exact long."""
    from pyspark.sql import Window
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))         .select("o_orderkey", "o_custkey")
    li = rd("lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", _cents(F.col("l_extendedprice")).alias("pc"),
        _cents(F.col("l_discount")).alias("dc"))
    rev = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .groupBy("o_custkey")
           .agg(F.sum(F.col("pc") * (100 - F.col("dc"))).alias("rev_c2"),
                F.count(F.lit(1)).alias("n_lines")))
    cust = rd("customer").select("c_custkey", "c_name", "c_mktsegment")
    w = Window.orderBy(F.col("rev_c2").desc(), F.col("o_custkey"))
    return (rev.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 20)
            .join(F.broadcast(cust),
                  F.col("o_custkey") == F.col("c_custkey"))
            .select(F.col("o_custkey").alias("custkey"), "c_name",
                    "c_mktsegment",
                    (F.col("rev_c2") / 10000.0).alias("lost_revenue"),
                    "n_lines", F.col("rnk").cast("long").alias("rnk")))


def _q_tpch_volume_shipping(spark, sf_dir):
    """TPC-H Q7 volume shipping: discounted revenue flowing between two
    nations per ship year. Five-way join where BOTH nation dims and the
    supplier dim broadcast; lineitem (the fact) is the only shuffled
    side, once, on orderkey. Money in exact integer cents (c2 scale)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cu = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    su = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    na = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    rev = (_cents(F.col("l_extendedprice"))
           * (100 - _cents(F.col("l_discount")))).alias("rev_c2")
    # the nation PAIR is data-driven (the two lexicographically-first
    # nation names) so the query is non-vacuous at every SF regardless
    # of the generator's naming scheme; the dim is 25 rows, so the
    # selection window is free and the dim still broadcasts
    from pyspark.sql import Window as _W
    na2 = (na.withColumn("nrank", F.row_number().over(
        _W.orderBy("n_name"))).filter(F.col("nrank") <= 2)
        .select("n_nationkey", "n_name"))
    sn = (su.join(F.broadcast(na2), su.s_nationkey == na2.n_nationkey)
          .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cn = (cu.join(F.broadcast(na2), cu.c_nationkey == na2.n_nationkey)
          .select("c_custkey", F.col("n_name").alias("cust_nation")))
    j = (li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
         .join(od, li.l_orderkey == od.o_orderkey)
         .join(F.broadcast(cn), od.o_custkey == cn.c_custkey)
         .filter(F.col("supp_nation") != F.col("cust_nation")))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(rev).alias("rev_sum_c2"))
            .select("supp_nation", "cust_nation", "l_year",
                    (F.col("rev_sum_c2") / 10000.0).alias("revenue")))


def _q_tpch_promo_revenue(spark, sf_dir):
    """TPC-H Q14 promo-revenue share, widened to every ship month: the
    part-type dimension broadcasts; one conditional-sum groupBy of the
    fact. share = 100 * promo / total computed from exact integer c2
    sums, so the hash carries no float-merge-order risk."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    pa = spark.read.parquet(os.path.join(sf_dir, "part.parquet")) \
        .select("p_partkey", "p_type")
    rev = (_cents(F.col("l_extendedprice"))
           * (100 - _cents(F.col("l_discount")))).alias("rev_c2")
    j = li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
    return (j.groupBy(F.date_format("l_shipdate", "yyyy-MM")
                      .alias("ship_month"))
            .agg(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                       .otherwise(F.lit(0))).alias("promo_c2"),
                 F.sum(rev).alias("total_c2"))
            .select("ship_month",
                    (F.col("promo_c2") / 10000.0).alias("promo_revenue"),
                    (F.col("total_c2") / 10000.0).alias("total_revenue"),
                    F.round(100.0 * F.col("promo_c2") / F.col("total_c2"),
                            6).alias("promo_share")))


def _q_tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15 top supplier: per-supplier quarterly revenue, keep the
    max (view + scalar-subquery shape). The revenue aggregate is ONE
    partial-agged groupBy; the max rides back as a broadcast single-row
    dimension (no second scan, no window over all suppliers). Exact
    integer c2 revenue makes the max unambiguous across engines."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    su = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    rev = (_cents(F.col("l_extendedprice"))
           * (100 - _cents(F.col("l_discount")))).alias("rev_c2")
    per_supp = (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
        .groupBy("l_suppkey").agg(F.sum(rev).alias("total_c2")))
    mx = per_supp.agg(F.max("total_c2").alias("max_c2"))
    return (per_supp.crossJoin(F.broadcast(mx))
            .filter(F.col("total_c2") == F.col("max_c2"))
            .join(F.broadcast(su), per_supp.l_suppkey == su.s_suppkey)
            .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                    "s_name",
                    (F.col("total_c2") / 10000.0).alias("total_revenue")))


def _q_tpch_large_orders(spark, sf_dir):
    """TPC-H Q18 large-volume orders: orders whose line quantities sum
    past 250 units, with customer context. The HAVING pre-aggregate
    shrinks the fact to the qualifying orderkeys BEFORE any dimension
    join - the classic aggregate-then-join ordering that a naive
    join-then-filter plan gets wrong at scale."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cu = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    return (big.join(od, big.l_orderkey == od.o_orderkey)
            .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
            .select(F.col("c_name"),
                    F.col("c_custkey").cast("long").alias("c_custkey"),
                    F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    (_cents(F.col("o_totalprice")) / 100.0)
                    .alias("o_totalprice"),
                    "total_qty"))


def _q_tpch_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (here: none since 2000-01-01; the synthetic corpus gives
    every customer SOME order, so the classic no-orders-ever predicate
    is vacuous), rolled up by nation. Anti-join + broadcast scalar
    average; the above-average comparison runs in count-scaled integer
    cents (bal_c * n_custs > sum_c) so no float mean can flip a
    boundary customer between engines."""
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cu = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")) \
        .withColumn("bal_c", _cents(F.col("c_acctbal")))
    na = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    avg_row = (cu.filter(F.col("bal_c") > 0)
               .agg(F.sum("bal_c").alias("sum_c"),
                    F.count(F.lit(1)).alias("n_pos")))
    recent = od.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")) \
        .select("o_custkey").distinct()
    idle = (cu.crossJoin(F.broadcast(avg_row))
            .filter(F.col("bal_c") * F.col("n_pos") > F.col("sum_c"))
            .join(recent, cu.c_custkey == recent.o_custkey, "left_anti"))
    return (idle.join(F.broadcast(na), idle.c_nationkey == na.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count(F.lit(1)).alias("n_custs"),
                 (F.sum("bal_c") / 100.0).alias("total_acctbal")))


def _q_tpch_revenue_delta(spark, sf_dir):
    """TPC-H Q6 forecasting-revenue change: one pushed-down scan of
    lineitem (date window + discount band + quantity cap, all reaching
    the parquet reader as PushedFilters) and one partial-agged global
    sum - the canonical scan-dominated query whose 100-TB cost is
    pure IO. Revenue in exact integer c2 (price-cents x discount-
    percent) so the single output row hashes engine-exact."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & _cents(F.col("l_discount")).between(3, 7)
        & (F.col("l_quantity") < 24))
    return (f.agg(F.sum(_cents(F.col("l_extendedprice"))
                        * _cents(F.col("l_discount"))).alias("rev_c2"),
                  F.count(F.lit(1)).alias("n_lines"))
            .select((F.col("rev_c2") / 10000.0).alias("revenue"),
                    "n_lines"))


def _q_tpch_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier: for small STANDARD parts, the
    EUROPE supplier(s) achieving the minimum supply cost. The driver
    schema ships no partsupp, so the supply relation is derived from
    lineitem - min line price per (part, supplier) stands in for
    ps_supplycost (the oracle replays the substitution). The correlated
    MIN subquery is de-correlated the way a 100-TB plan wants it:
    aggregate per part, then equi-join back on (partkey, cost) - never
    a per-row re-scan. Dimensions (region->nation->supplier, filtered
    part) broadcast; the only fact-scale shuffle is the (part,supp)
    groupBy."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    region = rd("region").filter(F.col("r_name") == "EUROPE")
    eu = (rd("supplier")
          .join(F.broadcast(rd("nation").join(
              F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
              .select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", "s_name", "n_name",
                  _cents(F.col("s_acctbal")).alias("bal_c")))
    part = rd("part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)) \
        .select("p_partkey", "p_name")
    supply = (rd("lineitem")
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.min(_cents(F.col("l_extendedprice"))).alias("cost_c")))
    cand = (supply.join(F.broadcast(eu),
                        supply.l_suppkey == eu.s_suppkey)
            .join(F.broadcast(part), supply.l_partkey == part.p_partkey))
    mn = cand.groupBy(F.col("p_partkey").alias("pk")) \
        .agg(F.min("cost_c").alias("min_c"))
    return (cand.join(F.broadcast(mn),
                      (cand.p_partkey == mn.pk)
                      & (cand.cost_c == mn.min_c))
            .select((F.col("bal_c") / 100.0).alias("s_acctbal"),
                    "s_name", "n_name",
                    F.col("p_partkey").cast("long").alias("p_partkey"),
                    "p_name",
                    (F.col("cost_c") / 100.0).alias("cost")))


def _q_tpch_market_share(spark, sf_dir):
    """TPC-H Q8 national market share: of the ECONOMY-part volume sold
    into AMERICA-region customers during 1996-1997, the share supplied
    by nation 11 (selected by nationkey - the synthetic generators
    spell nation NAMES differently across SFs, keys are stable), per
    order year. Share = ratio of two exact integer-c2
    sums, divided once at the end and rounded 6dp on both engines - the
    conditional-sum-over-join shape (no second scan for the
    numerator). part / nation / supplier broadcast; orders->lineitem is
    the fact spine."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    region = rd("region").filter(F.col("r_name") == "AMERICA")
    am_nations = rd("nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")) \
        .select("n_nationkey")
    cust = rd("customer").join(
        F.broadcast(am_nations),
        F.col("c_nationkey") == F.col("n_nationkey")).select("c_custkey")
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))) \
        .select("o_orderkey", "o_custkey",
                F.year("o_orderdate").cast("long").alias("o_year"))
    part = rd("part").filter(F.col("p_type") == "ECONOMY") \
        .select("p_partkey")
    snat = rd("supplier").select(
        "s_suppkey", F.col("s_nationkey").cast("long").alias("supp_nkey"))
    li = rd("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (_cents(F.col("l_extendedprice"))
         * (100 - _cents(F.col("l_discount")))).alias("vol_c2"))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(snat), li.l_suppkey == snat.s_suppkey))
    g = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nkey") == 11,
                     F.col("vol_c2")).otherwise(F.lit(0)))
        .alias("nat_c2"),
        F.sum("vol_c2").alias("total_c2"))
    return g.select(
        "o_year",
        (F.col("nat_c2") / 10000.0).alias("nation_volume"),
        (F.col("total_c2") / 10000.0).alias("total_volume"),
        F.round(F.col("nat_c2") / F.col("total_c2"), 6).alias("mkt_share"))


def _q_tpch_important_parts(spark, sf_dir):
    """TPC-H Q11 important stock: parts whose inventory value held by
    nation-7 suppliers (keyed, not named - nation-name spellings vary
    across the SF generators) exceeds TWICE the mean part value - the
    mean-relative form of Q11's fixed-fraction HAVING, chosen because
    a fixed share of a growing corpus empties as SF rises while the
    above-mean set stays populated at every SF. The driver schema
    ships no partsupp, so value per part = sum of line prices from
    that nation's suppliers (oracle replays the substitution). The
    global (total, n_parts) rides back as a broadcast single-row
    dimension and the HAVING comparison runs count-scaled in exact
    integers (value_c * n > 2 * total_c) - no float mean can flip a
    boundary part between engines."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    supp = rd("supplier").filter(F.col("s_nationkey") == 7) \
        .select("s_suppkey")
    li = rd("lineitem").join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")) \
        .select("l_partkey", _cents(F.col("l_extendedprice")).alias("pc"))
    per_part = li.groupBy("l_partkey").agg(F.sum("pc").alias("value_c"))
    total = per_part.agg(F.sum("value_c").alias("total_c"),
                         F.count(F.lit(1)).alias("n_parts"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("value_c") * F.col("n_parts")
                    > 2 * F.col("total_c"))
            .select(F.col("l_partkey").cast("long").alias("p_partkey"),
                    (F.col("value_c") / 100.0).alias("value")))


def _q_tpch_late_line_priority(spark, sf_dir):
    """TPC-H Q12 shipping-mode priority split: lines shipped in 1997
    more than 90 days after their order date, split per line category
    into critical- vs non-critical-priority order counts. The driver
    schema has no l_shipmode, so l_returnflag stands in as the line
    category (oracle replays the substitution). The canonical
    conditional-aggregation-over-join: ONE pass, the CASE does the
    pivot - never two scans."""
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))) \
        .select("l_orderkey", "l_returnflag", "l_shipdate")
    j = li.join(od, (li.l_orderkey == od.o_orderkey)
                & (li.l_shipdate
                   > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")))
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.groupBy("l_returnflag")
            .agg(F.sum(F.when(crit, 1).otherwise(0))
                 .cast("long").alias("high_line_count"),
                 F.sum(F.when(crit, 0).otherwise(1))
                 .cast("long").alias("low_line_count")))


def _q_tpch_order_counts(spark, sf_dir):
    """TPC-H Q13 customer order-count distribution: LEFT OUTER join so
    order-less customers land in the zero bucket, then a second
    aggregation folds per-customer counts into a histogram. The
    priority filter sits ON THE JOIN's right side (not a post-filter,
    which would silently turn the outer join inner). Two partial-agged
    shuffles; customer-count histogram is tiny by construction."""
    cu = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")) \
        .select("c_custkey")
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED") \
        .select("o_orderkey", "o_custkey")
    per_cust = (cu.join(od, cu.c_custkey == od.o_custkey, "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def _q_tpch_supplier_variety(spark, sf_dir):
    """TPC-H Q16 parts/supplier relationship: distinct supplier count
    per (brand, type, size) for selected sizes, excluding one brand,
    one type, and suppliers with negative balances (the schema has no
    comment column, so negative s_acctbal stands in for the customer-
    complaints exclusion - oracle replays it). The supply relation is
    the DISTINCT (part, supplier) projection of lineitem; the
    complaint exclusion is a broadcast LEFT ANTI join BEFORE the
    count-distinct shuffle so excluded pairs never travel."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    bad = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet")) \
        .filter(F.col("s_acctbal") < 0).select("s_suppkey")
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet")) \
        .filter((F.col("p_brand") != "Brand#1")
                & (F.col("p_type") != "PROMO")
                & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)) \
        .select("p_partkey", "p_brand", "p_type", "p_size")
    kept = pairs.join(F.broadcast(bad),
                      pairs.l_suppkey == bad.s_suppkey, "left_anti")
    return (kept.join(F.broadcast(part), kept.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type",
                     F.col("p_size").cast("long").alias("p_size"))
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def _q_tpch_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 small-quantity-order revenue: for one brand's MEDIUM
    parts, total price of lines below 20% of that part's average
    quantity, scaled to a yearly figure. The correlated AVG is
    de-correlated as aggregate-then-broadcast-join, and the 0.2*avg
    comparison runs count-scaled in exact integers
    (5*qty*cnt < sum_qty) so no float mean can flip a boundary line."""
    pp = spark.read.parquet(os.path.join(sf_dir, "part.parquet")) \
        .filter((F.col("p_brand") == "Brand#23")
                & (F.col("p_type") == "MEDIUM")).select("p_partkey")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .select("l_partkey",
                F.col("l_quantity").cast("long").alias("qty"),
                _cents(F.col("l_extendedprice")).alias("pc"))
    sel = li.join(F.broadcast(pp), li.l_partkey == pp.p_partkey)
    stats = sel.groupBy(F.col("l_partkey").alias("pk")) \
        .agg(F.sum("qty").alias("sum_qty"),
             F.count(F.lit(1)).alias("cnt"))
    small = (sel.join(F.broadcast(stats), sel.l_partkey == stats.pk)
             .filter(5 * F.col("qty") * F.col("cnt") < F.col("sum_qty")))
    return (small.agg(F.sum("pc").alias("rev_c"),
                      F.count(F.lit(1)).alias("n_lines"))
            .select(F.round(F.col("rev_c") / 700.0, 6).alias("avg_yearly"),
                    "n_lines"))


def _q_tpch_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 discounted revenue under three OR'd (brand, size
    range, quantity range) clauses - the disjunctive-predicate query.
    The part attributes needed by every disjunct ride a broadcast
    join; the OR evaluates once post-join in codegen (no union of
    three scans). Revenue in exact integer c2."""
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet")) \
        .select("p_partkey", "p_brand", "p_size")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .select("l_partkey", F.col("l_quantity").cast("long").alias("qty"),
                _cents(F.col("l_extendedprice")).alias("pc"),
                _cents(F.col("l_discount")).alias("dc"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    d1 = ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
          & F.col("qty").between(1, 11))
    d2 = ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
          & F.col("qty").between(10, 20))
    d3 = ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
          & F.col("qty").between(20, 30))
    return (j.filter(d1 | d2 | d3)
            .agg(F.sum(F.col("pc") * (100 - F.col("dc"))).alias("rev_c2"),
                 F.count(F.lit(1)).alias("n_lines"))
            .select((F.col("rev_c2") / 10000.0).alias("revenue"),
                    "n_lines"))


def _q_tpch_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 potential part promotion: EUROPE suppliers who shipped
    more than half of their total volume of a 'blue' part during 1996.
    The partsupp availability check becomes a per-(part, supplier)
    shipped-quantity profile from lineitem (oracle replays it); the
    more-than-half comparison is exact integers (2*qty_1996 >
    qty_total). Qualification flows supplier-ward through a LEFT SEMI
    join - the probe side is never multiplied."""
    rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    blue = rd("part").filter(F.col("p_name").startswith("blue")) \
        .select("p_partkey")
    li = rd("lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate",
        F.col("l_quantity").cast("long").alias("qty"))
    in96 = ((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    prof = (li.join(F.broadcast(blue), li.l_partkey == blue.p_partkey)
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.sum("qty").alias("qty_total"),
                 F.sum(F.when(in96, F.col("qty")).otherwise(0))
                 .alias("qty_1996")))
    excess = prof.filter(2 * F.col("qty_1996") > F.col("qty_total")) \
        .select("l_suppkey").distinct()
    region = rd("region").filter(F.col("r_name") == "EUROPE")
    nat = rd("nation").join(F.broadcast(region),
                            F.col("n_regionkey") == F.col("r_regionkey")) \
        .select("n_nationkey")
    eu = rd("supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    return (eu.join(excess, eu.s_suppkey == excess.l_suppkey, "left_semi")
            .select("s_name",
                    (_cents(F.col("s_acctbal")) / 100.0).alias("s_acctbal")))


def _q_tpch_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 suppliers who kept orders waiting: for finished ('F')
    orders, AMERICA suppliers with a late line (shipped >60 days after
    the order date - the schema ships no receipt/commit dates, so
    order-relative lateness stands in, as in Q4) on a multi-supplier
    order where NO other supplier was late. EXISTS -> LEFT SEMI,
    NOT EXISTS -> LEFT ANTI, both against the SAME pre-joined
    line+order frame (one scan, reused); top 20 by wait count ranked
    on the exact long + name tie-break."""
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    base = li.join(od, li.l_orderkey == od.o_orderkey) \
        .withColumn("late", F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")) \
        .select("l_orderkey", "l_suppkey", "late")
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet")) \
        .filter(F.col("r_name") == "AMERICA")
    nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")) \
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey")) \
        .select("n_nationkey")
    am = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet")) \
        .join(F.broadcast(nat),
              F.col("s_nationkey") == F.col("n_nationkey")) \
        .select("s_suppkey", "s_name")
    l1 = base.filter(F.col("late")) \
        .join(F.broadcast(am), F.col("l_suppkey") == F.col("s_suppkey"))
    other = base.select(F.col("l_orderkey").alias("ok2"),
                        F.col("l_suppkey").alias("sk2"),
                        F.col("late").alias("late2"))
    waited = (l1.join(other, (l1.l_orderkey == other.ok2)
                      & (l1.l_suppkey != other.sk2), "left_semi")
              .join(other.filter(F.col("late2")),
                    (l1.l_orderkey == F.col("ok2"))
                    & (l1.l_suppkey != F.col("sk2")), "left_anti"))
    counts = waited.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("numwait"))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("numwait").desc(), F.col("s_name"))
    return (counts.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 20)
            .select("s_name", "numwait",
                    F.col("rnk").cast("long").alias("rnk")))


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


def _q_dedup_bcubed(spark, sf_dir):
    """B-cubed precision/recall/F1 (ops/cluster.py::bcubed) of the
    end-to-end fuzzy dedup (dedup_resolution's transitive clusters)
    against the GENERATOR's truth on the augmented corpus: gold
    cluster = base id (d, its d+1e6 near-copy, and the d+2e6 exact
    copy every 10th doc). The acceptance gate for dedup-tier changes -
    a recall drop means missed duplicates, a precision drop means
    over-merging. All integer ppm; the oracle replays the clusters via
    the recursive-CTE closure and the same cell arithmetic. Runs on
    the doc_id%5 stratum: the fixed-vocabulary synthetic corpus grows
    near-dup cluster sizes with N, and the ORACLE's quadratic closure
    (not the Spark side) needs the pair space bounded at sf1.0."""
    sample = _augmented_docs(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 0)
    res = dedup.dedup_resolution(sample, threshold=0.5)
    assign = res.select(F.col("canonical_id").alias("pred"),
                        (F.col("doc_id") % 1000000).alias("gold"))
    return cluster.bcubed(assign)


def _q_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAV) calibration curve (ops/quality.py::
    isotonic_calibrate) per (doc_id div 12)%4 stratum (independent of the bin key - doc_id%4
    would be a function of the bin) over 12 score bins with a
    deliberately NON-monotone empirical rate (the bin target oscillates
    via x*2 + (x%3)*3, forcing real pooling). Exact integer PAV -
    cross-multiplied merge test, ppm floor output; the oracle computes
    the same curve through the closed minimax formula
    max_{j<=i} min_{k>=i} mean(j..k), which floor-scaling commutes
    with."""
    d = _docs(spark, sf_dir).select(
        (F.expr("doc_id div 12") % 4).alias("grp"),
        (F.col("doc_id") % 12).alias("x"),
        F.when((F.col("doc_id") * 13 + 5) % 29
               < ((F.col("doc_id") % 12) * 2
                  + ((F.col("doc_id") % 12) % 3) * 3), 1)
        .otherwise(0).alias("y"))
    bins = d.groupBy("grp", "x").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"))
    return quality.isotonic_calibrate(bins)


def _q_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrases (ops/mining.py::rake_keyphrases): top-3
    stopword-delimited phrases per document by integer micro-score -
    model-free and multi-word. The
    oracle replays tokenization, the stopword-run segmentation
    (cumulative-stopword window), freq/degree, and the floor-scaled
    scoring."""
    return mining.rake_keyphrases(_docs(spark, sf_dir))


def _q_dedup_multitier(spark, sf_dir):
    """Single resolution over ALL dedup tiers (ops/dedup.py::
    multitier_resolution): exact fingerprint STAR edges + MinHash
    Jaccard pairs + SimHash hamming pairs -> one connected-components
    pass -> keep decision. Same doc_id%5 stratum as dedup_bcubed (the
    ORACLE's recursive closure is quadratic in cluster size at sf1.0);
    the oracle unions the three tiers' pair CTEs and re-derives the
    clusters via transitive closure."""
    sample = _augmented_docs(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 0)
    return dedup.multitier_resolution(sample, threshold=0.5)


def _q_link_rings(spark, sf_dir):
    """Directed link-ring detection (ops/graph.py::bounded_rings) over
    the synthetic crawl graph: nodes mutually reachable within 3 hops
    clustered into rings - the link-exchange/PBN signal undirected CC
    cannot see (it merges on ANY path, direction ignored). The oracle
    replays the bounded reachability as a depth-capped recursive CTE,
    the mutual join, and the ring clusters via transitive closure."""
    e, _nodes = _link_edges(spark, sf_dir)
    return graph.bounded_rings(e, k=3)


def _q_media_phash_pairs(spark, sf_dir):
    """Image near-duplicate pairs: the multimodal member of the dedup
    tier family (ops/multimodal.py::perceptual_hash_pairs). 4x16-bit
    Manku banding (exact for hamming<=3) + capped_bucket_pairs hot-
    bucket guard + codegen bit_count verify - the same scale shape as
    the text tiers, over genuinely decoded pixels."""
    media = _media_pngs(_docs(spark, sf_dir).select("doc_id"))
    return multimodal.perceptual_hash_pairs(media)


def _q_bucketed_batching(spark, sf_dir):
    """Length-bucketed batching pad-waste pricing (ops/packing.py::
    bucketed_batches): power-of-two bucket per doc via BINARY-STRING
    length (no float log2), exact-integer pad/waste_ppm, one map-side
    combinable groupBy reducing the corpus to ~11 rows. The
    pad-to-bucket twin of sequence_packing's concatenate layout."""
    return packing.bucketed_batches(_docs(spark, sf_dir), batch_size=16,
                                    max_len=1024)


def _q_posting_bytes(spark, sf_dir):
    """Inverted-index storage pricing (ops/bm25.py::
    posting_list_sizes): per-term delta-gap LEB128-varint posting
    bytes, exact integer staircase (1+[gap>=2^7]+...), top-30 by
    bytes via TakeOrderedAndProject. The index-layout planning op."""
    return bm25.posting_list_sizes(_docs(spark, sf_dir), k=30)


def _q_query_completion(spark, sf_dir):
    """Query-autocompletion index (ops/bm25.py::prefix_completions):
    top-3 completions per 2..4-char term prefix, (count desc, term)
    ties, prefixes below min_count=5 best-support dropped. Prefix
    explode runs at VOCAB cardinality, never corpus rows."""
    return bm25.prefix_completions(_docs(spark, sf_dir), min_len=2,
                                   max_len=4, per_prefix=3, min_count=5)


def _q_ams_f2(spark, sf_dir):
    """AMS F2 (self-join size) sketch (ops/sketches.py::ams_f2): 32
    md5-signed sketch rows + exact-integer middle-two median + the
    exact F2 audit, all BIGINT end-to-end (median kept as the SUM of
    the two middle order stats - no /2 float)."""
    return sketches.ams_f2(_docs(spark, sf_dir), n_rows=32)


def _q_harmonic_centrality(spark, sf_dir):
    """Seed-sampled harmonic centrality (ops/graph.py::
    harmonic_from_seeds, Boldi-Vigna 2014) over the synthetic link
    graph: |seeds| simultaneous BFS sharing each hop's single
    equi-join, exact integer sum(1000000 div d) - integer-cents for a
    graph metric. Oracle = recursive CTE min-distance + same sum."""
    e, _ = _link_edges(spark, sf_dir)
    seeds = _docs(spark, sf_dir).filter(F.col("doc_id") % 50 == 0) \
        .select(F.col("doc_id").alias("node"))
    return graph.harmonic_from_seeds(e, seeds, max_hops=4)


def _q_link_simrank(spark, sf_dir):
    """Sparse threshold-SimRank (ops/graph.py::simrank_pairs, Jeh-
    Widom 2002) over the synthetic link graph: 3 exact-integer ppm
    iterations (score = (4*sum) div (5*da*db)), per-round min_ppm
    pruning keeps the pair frontier sparse instead of materializing
    the O(n^2) pair matrix. Oracle unrolls the identical rounds."""
    e, _ = _link_edges(spark, sf_dir)
    return graph.simrank_pairs(e, n_iter=3, min_ppm=1000)


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


def _q_trending_terms(spark, sf_dir):
    """Trending-term lift between corpus slices (ops/textstats.py::
    term_lift): every 10th doc is the 'new batch' and stages a drift
    suffix (pure function of doc_id, mirrored in SQL) so the detector
    has planted positives; exact-integer rate-lift ppm with add-one
    smoothing, one partial-agg groupBy + TakeOrderedAndProject."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 9,
               F.concat(F.col("text"),
                        F.lit(" gpu cluster training gpu")))
        .otherwise(F.col("text")).alias("text"),
        (F.col("doc_id") % 10 == 9).alias("is_new"))
    return textstats.term_lift(d, flag_col="is_new", k=20, min_new=5)


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


def _q_llr_collocations(spark, sf_dir):
    """Dunning log-likelihood collocations (ops/textstats.py::
    llr_collocations): the significance-test form of collocation
    scoring - two partial-agg counts + vocabulary-scale
    joins, LLR = fixed 4-term 2x2 contingency expression over exact
    integer counts, 6dp-rounded before the top-50 cut."""
    return textstats.llr_collocations(_docs(spark, sf_dir),
                                      min_count=5, k=50)


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


def _q_brier_bins(spark, sf_dir):
    """Murphy Brier decomposition per confidence bin (ops/quality.py::
    brier_decomposition) over the calibration_bins score/label pair -
    reliability vs resolution numerators plus per-bin MSE, all exact
    integer ppm^2, one n_bins-row groupBy + a 1-row broadcast."""
    d = _docs(spark, sf_dir).selectExpr(
        "least(999999, (1000000 * cast(n_chars as bigint)) div 300)"
        " AS score_ppm",
        "n_chars >= 150 AS label")
    return quality.brier_decomposition(d, "score_ppm", "label",
                                       n_bins=10)


def _q_equidepth_hist(spark, sf_dir):
    """Equi-depth histogram of n_chars (ops/maintenance.py::
    equidepth_histogram): 8 CBO-style buckets with count/min/max/ndv.
    Exact ntile branch under the gate; the percentile_approx branch is
    the same-schema 100-TB path."""
    return maintenance.equidepth_histogram(_docs(spark, sf_dir),
                                           "n_chars", n_buckets=8)


def _q_encoding_advisor(spark, sf_dir):
    """Columnar-encoding advisor (ops/maintenance.py::
    encoding_advisor) over documents (source, lang, n_chars):
    layout-aware run counts per (column, source-partition) + exact
    integer plain/dict/RLE size estimates and the argmin pick."""
    return maintenance.encoding_advisor(
        _docs(spark, sf_dir), ["source", "lang", "n_chars"])


def _q_rendezvous_shards(spark, sf_dir):
    """Rendezvous-hash shard balance (ops/maintenance.py::
    rendezvous_shards): HRW argmax over 16 shards per doc key as a
    partial-aggregable string max (no window), then statistic-scale
    counts - the consistent-hashing planning query."""
    return maintenance.rendezvous_shards(_docs(spark, sf_dir),
                                         "doc_id", n_shards=16)


def _q_lateness_profile(spark, sf_dir):
    """Watermark-sizing lateness histogram (ops/events.py::
    lateness_profile): per-key running-max event time in arrival order
    minus own event time, exact integer microseconds, 10-min buckets
    capped at 10 - the question answered before anyone picks a
    withWatermark duration. The synthetic stream arrives in order, so
    the query scrambles arrival deterministically (each 16-block of
    event_ids reversed) to exercise the non-zero buckets; identical
    integer arithmetic on the oracle side."""
    ev = _events(spark, sf_dir).withColumn(
        "arr", F.expr("(event_id div 16) * 16 + (15 - event_id % 16)"))
    return events.lateness_profile(ev, arrival_col="arr",
                                   bucket_seconds=600)


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


def _q_target_encode(spark, sf_dir):
    """Leakage-free K-fold target encoding (ops/quality.py::
    target_encode_oof): per (source, (doc_id div 20)%5 fold - div 20
    first because source IS doc_id%20, so a bare %5 fold would be
    degenerate: one fold per source) the out-of-fold
    category mean in exact integer ppm, global-prior fallback for
    single-fold categories. One (cat, fold) partial agg; per-cat
    totals derive from it at statistic scale."""
    d = _docs(spark, sf_dir).selectExpr(
        "source", "(doc_id div 20) % 5 AS fold",
        "cast(n_chars >= 150 as int) AS t")
    return quality.target_encode_oof(d, "source", "fold", "t")


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


def _q_texttiling(spark, sf_dir):
    """TextTiling topic segmentation (ops/textstats.py::
    texttile_boundaries): vocabulary-shift chunking for RAG - block
    cosine valleys in exact integer micro-cosines, depth from +-2
    neighbouring gaps, top-2 deepest gaps per doc as boundaries. All
    windows run at gap cardinality (doc_len/block), never over
    tokens."""
    return textstats.texttile_boundaries(_docs(spark, sf_dir),
                                         block=10, depth_window=2,
                                         n_boundaries=2)


_IF_SPIKES = [(9000001, 99999, 999999, 5), (9000002, 1, 1, 96),
              (9000003, 50000, 3, 50)]


def _q_isolation_forest(spark, sf_dir):
    """Level-synchronous isolation forest (ops/iforest.py::
    isolation_scores) over (n_chars, byte length, id-noise) with three
    planted extreme rows: 8 md5-seeded trees built depth-by-depth (one
    partial-agg groupBy per level for ALL nodes of ALL trees), top-20
    earliest-isolating points. The oracle replays every level as
    chained CTEs - the forest is a pure function of data + seed."""
    base = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("f0"),
        F.length("text").cast("long").alias("f1"),
        (F.col("doc_id") % 97).cast("long").alias("f2"))
    spikes = spark.createDataFrame(
        _IF_SPIKES, "doc_id long, f0 long, f1 long, f2 long")
    return iforest.isolation_scores(base.unionByName(spikes),
                                    "doc_id", ["f0", "f1", "f2"],
                                    n_trees=8, max_depth=6, seed="if",
                                    k=20)


def _linkage_blocked_terms(spark, sf_dir):
    """Shared record-linkage staging: top-100 alpha dictionary terms
    UNION their deterministic single-deletion mangles (the symspell
    staging), soundex-blocked. Feeds both the Jaro-Winkler and the
    Damerau-Levenshtein blocked matchers so the two metrics are
    compared over the identical candidate set."""
    toks = _docs(spark, sf_dir).select(
        F.explode(F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != "")).alias("term"))
    dic = (toks.filter(F.col("term").rlike("^[a-z]+$")
                       & (F.length("term") >= 4))
           .groupBy("term").agg(F.count(F.lit(1)).alias("cnt")))
    top = dic.orderBy(F.col("cnt").desc(), "term").limit(100)
    mang = top.select(F.expr(
        "concat(substr(term, 1, cnt % length(term)), "
        "substr(term, cnt % length(term) + 2))").alias("term"))
    allt = top.select("term").unionByName(mang).distinct()
    return allt.select("term", F.soundex("term").alias("sdx"))


def _q_jw_linkage(spark, sf_dir):
    """Blocked fuzzy matching (ops/linkage.py::blocked_jw_pairs):
    soundex blocks over the top-100 alpha dictionary terms UNION their
    deterministic single-deletion mangles (the symspell staging), then
    Jaro-Winkler >= 0.85 on block-collided pairs only. The JW kernel
    is pure Python verified BIT-identical to DuckDB's
    jaro_winkler_similarity, so the oracle calls the builtin."""
    t = _linkage_blocked_terms(spark, sf_dir)
    return linkage.blocked_jw_pairs(t, "sdx", "term", threshold=0.85)


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


def _q_reuse_distance(spark, sf_dir):
    """LRU reuse-distance histogram (ops/events.py::
    reuse_distance_hist, Mattson 1970) over the events stream keyed
    by props.k: one pass gives the hit-rate curve for every cache
    size at once. The user_id % 5 stratum keeps the oracle's
    correlated count-distinct-in-gap formulation (Theta(n * gap) by
    construction) at verification scale while the Spark side's
    per-user sequential replay is linear in the stream."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 5 == 0)
    acc = ev.select("user_id",
                    F.get_json_object("props", "$.k").cast("long")
                    .alias("k"),
                    "ts", "event_id")
    return events.reuse_distance_hist(acc)


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


def _q_interleave_eval(spark, sf_dir):
    """Team-draft interleaving (ops/bm25.py::team_draft_interleave,
    Radlinski 2008) of two INTEGER rankers per single-term query —
    raw term frequency vs density (1e6*tf div dl) — with judgments
    rel = (tf >= 2 AND doc_id % 3 > 0, chosen so per-query winners
    split across A/B/tie). The whole surface is exact integers/strings
    (the md5-coin draft, list credits), so the hash gate checks the
    full sequential draft protocol; the oracle replays it as one
    recursive CTE carrying picked/team lists per query."""
    ra, rb, tf = _ranker_runs(spark, sf_dir)
    rel = tf.select(F.col("term").alias("qid"), "doc_id",
                    F.when((F.col("tf") >= 2)
                           & (F.col("doc_id") % 3 > 0), 1)
                    .otherwise(0).alias("rel"))
    return bm25.team_draft_interleave(ra, rb, rel, k=10)


def _ranker_runs(spark, sf_dir):
    """Shared staging for the ranker-comparison queries: two INTEGER
    rankers per single-term query over the corpus — raw term
    frequency vs density (1e6*tf div dl) — top-10 each. Returns
    (run_a, run_b, tf)."""
    docs = _docs(spark, sf_dir)
    toks = bm25.tokenize(docs)
    qt = spark.createDataFrame([(t,) for t in BM25_QUERY_TERMS],
                               "term string")
    tf = (toks.join(F.broadcast(qt), "term")
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    from pyspark.sql import Window as W
    wa = W.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    ra = (tf.select(F.col("term").alias("qid"), "doc_id",
                    F.row_number().over(wa).alias("rank"))
          .filter(F.col("rank") <= 10))
    dens = tf.join(dl, "doc_id").withColumn(
        "dens", F.expr("(1000000 * tf) div dl"))
    wb = W.partitionBy("term").orderBy(F.col("dens").desc(), "doc_id")
    rb = (dens.select(F.col("term").alias("qid"), "doc_id",
                      F.row_number().over(wb).alias("rank"))
          .filter(F.col("rank") <= 10))
    return ra, rb, tf


def _q_haar_signature(spark, sf_dir):
    """Haar activity signature (ops/events.py::haar_coefficients):
    15 unnormalized wavelet coefficients per user over the 16-slot
    epoch-day-mod-16 activity histogram — TZ-proof day buckets (the
    NTZ datediff rule), closed-form slice sums, zero recursion, all
    BIGINT."""
    return events.haar_coefficients(_events(spark, sf_dir))


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
    first encoding — the greedy counterpart to
    optimal_segmentation's minimal-piece DP. Words are staged
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
        "sequence_packing": _q_sequence_packing,
        "quality_classifier": _q_quality_classifier,
        "hdr_quantiles": _q_hdr_quantiles,
        "tpch_pricing_summary": _q_tpch_pricing,
        "kg_temporal_triples": _q_kg_temporal,
        "kg_causal_triples": _q_kg_causal,
        "kg_text_identity": _q_text_identity,
        "kg_canonical_components": _q_canonical_components,
        "kg_eval_metrics": _q_eval_metrics,
        "kg_consistent_triples": _q_consistent_triples,
        "kg_awareness": _q_awareness,
        "texttiling": _q_texttiling,
        "isolation_forest": _q_isolation_forest,
        "jw_linkage": _q_jw_linkage,
        "knn_shapley": _q_knn_shapley,
        "interleave_eval": _q_interleave_eval,
        "wordpiece_census": _q_wordpiece,
        "optimal_segmentation": _q_optimal_segmentation,
        "json_schema_infer": _q_json_schema_infer,
        "lz_complexity": _q_lz_complexity,
        "shapley_attribution": _q_shapley_attribution,
        "dedup_minhash_jaccard": _q_dedup_minhash,
        "dedup_resolution": _q_dedup_resolution,
        "prefix_filter_pairs": _q_prefix_filter_pairs,
        "tfidf_cosine_pairs": _q_tfidf_cosine_pairs,
        "rfm_segments": _q_rfm_segments,
        "boruvka_mst": _q_boruvka_mst,
        "media_sobel": _q_media_sobel,
        "ann_ivfpq": _q_ann_ivfpq,
        "link_truss": _q_link_truss,
        "maxsim_search": _q_maxsim_search,
        "embedding_kmeans": _q_embedding_kmeans,
        "events_stream_enrich": _q_events_stream_enrich,
        "reuse_distance": _q_reuse_distance,
        "events_interval_join": _q_events_interval_join,
        "events_funnel": _q_events_funnel,
        "events_kaplan_meier": _q_events_kaplan_meier,
        "link_simrank": _q_link_simrank,
        "audio_frame_stats": _q_audio_frame_stats,
        "wl_colors": _q_wl_colors,
        "haar_signature": _q_haar_signature,
        # --- end of the 42-query session-sweep window ---
        "symspell_correct": _q_symspell_correct,
        "kg_fixture_temporal": _q_fixture_temporal,
        "gazetteer_spans": _q_gazetteer_spans,
        "naive_bayes": _q_naive_bayes,
        "tpch_returned_items": _q_tpch_returned_items,
        "tpch_waiting_suppliers": _q_tpch_waiting_suppliers,
        "tpch_top_supplier": _q_tpch_top_supplier,
        "kg_entity_linking": _q_entity_linking,
        "kg_ee_probabilities": _q_ee_probabilities,
        "tpch_idle_customers": _q_tpch_idle_customers,
        "kg_temporal_salted": _q_kg_temporal_salted,
        "kg_doc_stats": _q_doc_stats,
        "kg_candidates": _q_candidates,
        "kg_pred_histogram": _q_pred_histogram,
        "kg_fixture_causal": _q_fixture_causal,
        "tpch_shipping_priority": _q_tpch_shipping,
        "tpch_local_volume": _q_tpch_local_volume,
        "tpch_order_priority": _q_tpch_order_priority,
        "tpch_revenue_delta": _q_tpch_revenue_delta,
        "tpch_min_cost_supplier": _q_tpch_min_cost_supplier,
        "tpch_market_share": _q_tpch_market_share,
        "tpch_important_parts": _q_tpch_important_parts,
        "tpch_late_line_priority": _q_tpch_late_line_priority,
        "tpch_order_counts": _q_tpch_order_counts,
        "tpch_supplier_variety": _q_tpch_supplier_variety,
        "tpch_small_qty_revenue": _q_tpch_small_qty_revenue,
        "tpch_disjunctive_revenue": _q_tpch_disjunctive_revenue,
        "tpch_excess_suppliers": _q_tpch_excess_suppliers,
        "tpch_promo_revenue": _q_tpch_promo_revenue,
        "tpch_large_orders": _q_tpch_large_orders,
        "hdr_group_quantiles": _q_hdr_group_quantiles,
        "kg_cc_incremental": _q_kg_cc_incremental,
        "record_linkage": _q_record_linkage,
        "bm25_map_mrr": _q_bm25_map_mrr,
        "events_cusum": _q_events_cusum,
        "session_transitions": _q_session_transitions,
        "annotator_agreement": _q_annotator_agreement,
        "mad_outliers": _q_mad_outliers,
        "events_gini": _q_events_gini,
        "label_spread": _q_label_spread,
        "calibration_bins": _q_calibration_bins,
        "roc_auc": _q_roc_auc,
        "frequent_pairs": _q_frequent_pairs,
        "pr_curve": _q_pr_curve,
        "ks_drift": _q_ks_drift,
        "chi2_independence": _q_chi2_independence,
        "benford_digits": _q_benford_digits,
        "trend_mann_kendall": _q_trend_mann_kendall,
        "events_acf": _q_events_acf,
        "link_jaccard": _q_link_jaccard,
        "link_assortativity": _q_link_assortativity,
        "tcloseness_audit": _q_tcloseness,
        "events_linfit": _q_events_linfit,
        "psi_drift": _q_psi_drift,
        "phrase_search": _q_phrase_search,
        "vocab_growth": _q_vocab_growth,
        "hilbert_layout": _q_hilbert_layout,
        "proximity_minspan": _q_proximity_minspan,
        "pareto_docs": _q_pareto_docs,
        "link_shortest_paths": _q_link_shortest_paths,
        "events_seasonality": _q_events_seasonality,
        "zipf_fit": _q_zipf_fit,
        "weighted_median": _q_weighted_median,
        "link_clustering": _q_link_clustering,
        "token_label_mi": _q_token_label_mi,
        "tpch_volume_shipping": _q_tpch_volume_shipping,
        "media_phash_pairs": _q_media_phash_pairs,
        "dedup_bcubed": _q_dedup_bcubed,
        "isotonic_calibration": _q_isotonic_calibration,
        "rake_keyphrases": _q_rake_keyphrases,
        "dedup_multitier": _q_dedup_multitier,
        "link_rings": _q_link_rings,
        "bucketed_batching": _q_bucketed_batching,
        "posting_bytes": _q_posting_bytes,
        "query_completion": _q_query_completion,
        "ams_f2": _q_ams_f2,
        "harmonic_centrality": _q_harmonic_centrality,
        "decision_stump": _q_decision_stump,
        "llr_collocations": _q_llr_collocations,
        "mattr_diversity": _q_mattr_diversity,
        "spearman_rho": _q_spearman_rho,
        "brier_bins": _q_brier_bins,
        "equidepth_hist": _q_equidepth_hist,
        "encoding_advisor": _q_encoding_advisor,
        "rendezvous_shards": _q_rendezvous_shards,
        "lateness_profile": _q_lateness_profile,
        "woe_iv": _q_woe_iv,
        "target_encode": _q_target_encode,
        "skipgram_ppmi": _q_skipgram_ppmi,
        "fd_violations": _q_fd_violations,
        "matryoshka_eval": _q_matryoshka_eval,
        "tpch_part_margin": _q_tpch_part_margin,
        "scc_pivot": _q_scc_pivot,
        "ltr_features": _q_ltr_features,
        "trending_terms": _q_trending_terms,
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


_SIMHASH_PAIRS_ORACLE = f"""
WITH {_AUG},
norm AS (SELECT doc_id, {_NORM} AS t FROM aug),
tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
hx AS (SELECT doc_id, substr(md5(w), 1, 4) AS h FROM tok),
hv AS (SELECT doc_id,
       (strpos('0123456789abcdef', substr(h,1,1)) - 1) * 4096
     + (strpos('0123456789abcdef', substr(h,2,1)) - 1) * 256
     + (strpos('0123456789abcdef', substr(h,3,1)) - 1) * 16
     + (strpos('0123456789abcdef', substr(h,4,1)) - 1) AS v FROM hx),
bits AS (SELECT doc_id, b,
         CASE WHEN (v // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END AS vote
         FROM hv, LATERAL unnest(generate_series(0, 15)) AS g(b)),
agg AS (SELECT doc_id, b, sum(vote) AS s FROM bits GROUP BY doc_id, b),
sig AS (SELECT doc_id,
        CAST(sum(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT)
        AS sh FROM agg GROUP BY doc_id),
bands AS (SELECT doc_id, bd AS band, (sh // (1 << (bd * 4))) % 16 AS bucket
          FROM sig, LATERAL unnest(generate_series(0, 3)) AS g(bd)),
sizes AS (SELECT band, bucket, count(*) AS bn FROM bands GROUP BY 1, 2),
capped AS (SELECT b.doc_id, b.band, b.bucket FROM bands b
           JOIN sizes z ON z.band = b.band AND z.bucket = b.bucket
           WHERE z.bn BETWEEN 2 AND 100),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         FROM capped l JOIN capped r
         ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
ham AS (SELECT c.a, c.b,
        CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
        FROM cand c JOIN sig sa ON sa.doc_id = c.a
                    JOIN sig sb ON sb.doc_id = c.b)
SELECT a, b, hamming FROM ham WHERE hamming <= 3
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


_PACKING_ORACLE = r"""
WITH t AS (
  SELECT doc_id, doc_id // 128 AS grp,
         CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS BIGINT) + 1
           AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, grp, n_tokens,
         sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id) - n_tokens
           AS start_offset
  FROM t)
SELECT doc_id, grp, n_tokens, start_offset,
       start_offset // 512 AS seq_first,
       (start_offset + n_tokens - 1) // 512 AS seq_last
FROM c
"""


def _kmeans_oracle(k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    """Replays kmeans_fit's deterministic Lloyd iterations: init =
    vec_ids [0, k); per-dim avg update with COALESCE keeping empty
    clusters' previous centroids; final assignment under the last
    centroids. list_distance ties (exactly equidistant) break to the
    lowest cell, like the Spark side's stable argmin."""
    parts = [f"""
WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
c0 AS (SELECT vec_id AS cell, v AS cv FROM ev WHERE vec_id < {k})"""]
    for i in range(n_iter):
        parts.append(f""",
a{i + 1} AS (SELECT e.vec_id, e.v,
        (SELECT c.cell FROM c{i} c
         ORDER BY list_distance(e.v, c.cv), c.cell LIMIT 1) AS cell
       FROM ev e),
u{i + 1} AS (SELECT cell, list(m ORDER BY pos) AS cv FROM (
         SELECT a.cell, t.pos, avg(a.v[t.pos + 1]) AS m
         FROM a{i + 1} a, range({dim}) t(pos) GROUP BY a.cell, t.pos)
       GROUP BY cell),
c{i + 1} AS (SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
       FROM c{i} p LEFT JOIN u{i + 1} u ON p.cell = u.cell)""")
    parts.append(f"""
SELECT e.vec_id,
       (SELECT c.cell FROM c{n_iter} c
        ORDER BY list_distance(e.v, c.cv), c.cell LIMIT 1) AS cluster
FROM ev e
""")
    return "".join(parts)


def _q_hilbert_layout(spark, sf_dir):
    """Hilbert-curve layout envelope telemetry
    (ops/layout.py::hilbert_layout_stats): same per-file min/max
    envelope report as a z-order layout over doc_id-derived dimensions,
    but on the Hilbert index - consecutive keys are always grid
    neighbors (property-tested: bijection + unit-step adjacency), so
    no file ever spans a Z-jump. The unrolled rotate-and-flip walk is
    pure integer codegen, one named projection per level."""
    from eventrelationextractor_spark.ops import layout
    pts = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 64).alias("x"),
        ((F.col("doc_id") * 11 + 5) % 64).alias("y"))
    return layout.hilbert_layout_stats(pts, "x", "y", n_files=8, bits=6)


def _hilbert_oracle(n_files: int = 8, bits: int = 6) -> str:
    """Unrolled Hilbert xy2d levels + quantile file assignment
    mirroring ops/layout.py::hilbert_key / hilbert_layout_stats
    expression-for-expression (quadrant = 3*rx + ry - 2*rx*ry, flip
    constant (2^bits)-1, swap on ry=0)."""
    m = (1 << bits) - 1
    parts = [f"""
WITH pts AS (SELECT doc_id % 64 AS x, (doc_id * 11 + 5) % 64 AS y
             FROM documents),
h{bits} AS (SELECT x, y, CAST(x AS BIGINT) AS hx, CAST(y AS BIGINT) AS hy,
            CAST(0 AS BIGINT) AS hd FROM pts)"""]
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        parts.append(f""",
h{k} AS (SELECT x, y,
  CASE WHEN ((hy >> {k}) & 1) = 0
       THEN CASE WHEN ((hx >> {k}) & 1) = 1 THEN {m} - hy ELSE hy END
       ELSE hx END AS hx,
  CASE WHEN ((hy >> {k}) & 1) = 0
       THEN CASE WHEN ((hx >> {k}) & 1) = 1 THEN {m} - hx ELSE hx END
       ELSE hy END AS hy,
  hd + {s * s} * (3 * ((hx >> {k}) & 1) + ((hy >> {k}) & 1)
                  - 2 * ((hx >> {k}) & 1) * ((hy >> {k}) & 1)) AS hd
  FROM h{k + 1})""")
    qs = ", ".join(repr(i / n_files) for i in range(1, n_files))
    parts.append(f""",
keyed AS (SELECT x, y, hd AS hkey FROM h0),
bounds AS (SELECT quantile_cont(hkey, [{qs}]) AS bs FROM keyed),
filed AS (SELECT x, y,
          1 + len(list_filter(bs, b -> b < hkey)) AS file
          FROM keyed CROSS JOIN bounds)
SELECT file, count(*) AS n_rows,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y
FROM filed GROUP BY file""")
    return "".join(parts)


def _label_spread_oracle(n_iter: int = 3) -> str:
    """Unrolled seeded label-propagation rounds mirroring
    ops/graph.py::seeded_label_propagation: clamped seeds, labeled-
    neighbor majority votes, min-label ties, keep-current fallback."""
    parts = ["""WITH nodes AS (SELECT doc_id AS node FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id*7+1) % (SELECT count(*) FROM documents) AS dst
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % (SELECT count(*) FROM documents)
  FROM documents WHERE doc_id % 17 <> 0),
sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
base AS (SELECT n.node, d.lang AS seed_label, d.lang IS NOT NULL AS is_seed
         FROM nodes n LEFT JOIN (SELECT doc_id, lang FROM documents
                                 WHERE doc_id % 10 = 0) d
           ON n.node = d.doc_id),
l0 AS (SELECT node, seed_label AS label FROM base)"""]
    for i in range(n_iter):
        parts.append(f""",
v{i} AS (SELECT s.dst AS v, l.label, count(*) AS c
         FROM sym s JOIN l{i} l ON l.node = s.src
         WHERE l.label IS NOT NULL
         GROUP BY 1, 2),
b{i} AS (SELECT v, label FROM v{i}
         QUALIFY row_number() OVER (PARTITION BY v
                                    ORDER BY c DESC, label ASC) = 1),
l{i + 1} AS (SELECT base.node,
           CASE WHEN base.is_seed THEN base.seed_label
                ELSE coalesce(b.label, p.label) END AS label
           FROM base LEFT JOIN b{i} b ON b.v = base.node
                     JOIN l{i} p ON p.node = base.node)""")
    parts.append(f"""
SELECT base.node, l.label, base.is_seed
FROM base JOIN l{n_iter} l ON l.node = base.node""")
    return "".join(parts)


_LINK_CLUSTERING_ORACLE = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS s, (doc_id*7+1) % n AS d FROM documents, nn
  WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % n FROM documents, nn WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id+1) % n FROM documents, nn WHERE doc_id % 10 = 0
  UNION ALL
  SELECT (doc_id+1) % n, (doc_id+2) % n FROM documents, nn
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, (doc_id+2) % n FROM documents, nn WHERE doc_id % 10 = 0),
e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      FROM e0 WHERE s <> d),
tri AS (SELECT x.a AS u, x.b AS v1, y.b AS v2
        FROM e x JOIN e y ON x.a = y.a AND x.b < y.b
        JOIN e z ON z.a = x.b AND z.b = y.b),
corners AS (SELECT unnest([u, v1, v2]) AS node FROM tri),
cnt AS (SELECT node, count(*) AS c FROM corners GROUP BY node),
deg AS (SELECT node, count(*) AS degree FROM (
          SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node)
SELECT d.doc_id AS node,
       CAST(coalesce(g.degree, 0) AS BIGINT) AS degree,
       CAST(coalesce(cnt.c, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN coalesce(g.degree, 0) >= 2
                 THEN (2 * coalesce(cnt.c, 0) * 1000000)
                      // (g.degree * (g.degree - 1))
                 ELSE 0 END AS BIGINT) AS cc_ppm
FROM documents d
LEFT JOIN cnt ON cnt.node = d.doc_id
LEFT JOIN deg g ON g.node = d.doc_id
"""


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


_QUALITY_CLF_ORACLE = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
words AS (SELECT doc_id,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws FROM norm),
grams AS (SELECT doc_id,
    CAST(('0x' || substr(md5(ws[CAST(i AS BIGINT)] || ' '
                             || ws[CAST(i + 1 AS BIGINT)]), 1, 8))::UBIGINT
         % 64 AS BIGINT) AS bucket
  FROM words, LATERAL unnest(generate_series(1, len(ws) - 1)) AS r(i)
  WHERE len(ws) >= 2),
feat AS (SELECT doc_id, bucket, count(*) AS cnt FROM grams GROUP BY 1, 2),
nd AS (SELECT doc_id, sum(cnt) AS n FROM feat GROUP BY 1),
lab AS (SELECT doc_id,
        CASE WHEN doc_id % 10 = 0 THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
fl AS (SELECT f.doc_id, f.bucket, f.cnt, nd.n, lab.y
       FROM feat f JOIN nd USING (doc_id) JOIN lab USING (doc_id)),
ntr AS (SELECT count(DISTINCT doc_id) AS nt FROM fl),
-- fixed-point replay: everything BIGINT micro-units; DuckDB's integer
-- // truncates toward zero exactly like Spark's div, and integer sums
-- commute exactly, so this replay is bit-identical to the Spark
-- training loop by construction.
e1 AS (SELECT DISTINCT doc_id,
              500000 - CAST(y * 1000000 AS BIGINT) AS err FROM fl),
g1 AS (SELECT bucket, sum((e1.err * fl.cnt) // fl.n) AS gn
       FROM fl JOIN e1 USING (doc_id) GROUP BY bucket),
w1 AS (SELECT bucket, -5 * (gn // nt) AS w FROM g1 CROSS JOIN ntr),
b1 AS (SELECT -5 * (sum(err) // nt) AS b FROM e1 CROSS JOIN ntr
       GROUP BY nt),
m2 AS (SELECT fl.doc_id, any_value(b1.b)
              + sum((w1.w * fl.cnt) // fl.n) AS margin
       FROM fl JOIN w1 USING (bucket) CROSS JOIN b1 GROUP BY fl.doc_id),
e2 AS (SELECT m2.doc_id,
              500000 + (500000 * m2.margin)
                // (2 * (1000000 + abs(m2.margin)))
              - CAST(l.y * 1000000 AS BIGINT) AS err
       FROM m2 JOIN lab l USING (doc_id)),
g2 AS (SELECT bucket, sum((e2.err * fl.cnt) // fl.n) AS gn
       FROM fl JOIN e2 USING (doc_id) GROUP BY bucket),
w2 AS (SELECT w1.bucket, w1.w - 5 * (g2.gn // nt) AS w
       FROM w1 JOIN g2 USING (bucket) CROSS JOIN ntr),
b2 AS (SELECT b1.b - 5 * ((SELECT sum(err) FROM e2) // nt) AS b
       FROM b1 CROSS JOIN ntr),
ms AS (SELECT f.doc_id, any_value(b2.b)
              + sum((w2.w * f.cnt) // nd.n) AS margin
       FROM feat f JOIN nd USING (doc_id) JOIN w2 USING (bucket)
       CROSS JOIN b2 GROUP BY f.doc_id)
SELECT d.doc_id, CAST(coalesce(nd.n, 0) AS BIGINT) AS n_bigrams,
       500000 + (500000 * coalesce(ms.margin, b2.b))
         // (2 * (1000000 + abs(coalesce(ms.margin, b2.b))))
         AS score_upm
FROM documents d
LEFT JOIN ms ON ms.doc_id = d.doc_id
LEFT JOIN nd ON nd.doc_id = d.doc_id
CROSS JOIN b2
"""


_INTERVAL_ORACLE = """
WITH iv AS (SELECT event_id AS interval_id, user_id, ts AS start_ts,
                   ts + INTERVAL 30 MINUTE AS end_ts
            FROM events WHERE event_type = 'purchase')
SELECT iv.interval_id,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(e.value), 4) AS sum_value,
  min(e.event_id) AS first_event_id
FROM iv JOIN events e ON e.user_id = iv.user_id
  AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
GROUP BY iv.interval_id
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


def _ivfpq_cand_sql(n_queries: int = 10, coarse_k: int = 8,
                    m: int = 4, k_sub: int = 16, nprobe: int = 2,
                    dim: int = 64) -> str:
    """Replays the ENTIRE IVF-PQ index as chained CTEs: the coarse
    1-iteration Lloyd (the _kmeans_oracle pattern), each subspace's
    Lloyd over the list slice, per-vector code assignment, per-query
    probe selection and the ADC distance sum - all mirroring ops/pq.py
    expression-for-expression (sqrt-then-square of list_distance vs the
    direct squared sum differs by ~1 ulp, far under the 6dp rounding
    both engines rank on)."""
    sub = dim // m
    parts = [f"""WITH ev AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cell, v AS cv FROM ev WHERE vec_id < {coarse_k}),
a1 AS (SELECT e.vec_id, e.v, (SELECT c.cell FROM c0 c
       ORDER BY list_distance(e.v, c.cv), c.cell LIMIT 1) AS cell FROM ev e),
u1 AS (SELECT cell, list(m ORDER BY pos) AS cv FROM (
       SELECT a.cell, t.pos, avg(a.v[t.pos + 1]) AS m
       FROM a1 a, range({dim}) t(pos) GROUP BY a.cell, t.pos) GROUP BY cell),
c1 AS (SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
       FROM c0 p LEFT JOIN u1 u ON p.cell = u.cell),
cellof AS (SELECT e.vec_id, (SELECT c.cell FROM c1 c
           ORDER BY list_distance(e.v, c.cv), c.cell LIMIT 1) AS cell
           FROM ev e)"""]
    for b in range(m):
        lo, hi = b * sub + 1, (b + 1) * sub
        parts.append(f""",
s{b} AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM ev),
s{b}c0 AS (SELECT vec_id AS cell, sv AS cv FROM s{b} WHERE vec_id < {k_sub}),
s{b}a1 AS (SELECT e.vec_id, e.sv, (SELECT c.cell FROM s{b}c0 c
  ORDER BY list_distance(e.sv, c.cv), c.cell LIMIT 1) AS cell FROM s{b} e),
s{b}u1 AS (SELECT cell, list(m ORDER BY pos) AS cv FROM (
  SELECT a.cell, t.pos, avg(a.sv[t.pos + 1]) AS m
  FROM s{b}a1 a, range({sub}) t(pos) GROUP BY a.cell, t.pos) GROUP BY cell),
s{b}c1 AS (SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
  FROM s{b}c0 p LEFT JOIN s{b}u1 u ON p.cell = u.cell),
code{b} AS (SELECT e.vec_id, (SELECT c.cell FROM s{b}c1 c
  ORDER BY list_distance(e.sv, c.cv), c.cell LIMIT 1) AS code FROM s{b} e)""")
    parts.append(f""",
q AS (SELECT vec_id AS qid, v FROM ev WHERE vec_id < {n_queries}),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell, row_number() OVER (PARTITION BY q.qid
    ORDER BY list_distance(q.v, c.cv), c.cell) AS rn
  FROM q CROSS JOIN c1 c) WHERE rn <= {nprobe})""")
    for b in range(m):
        lo, hi = b * sub + 1, (b + 1) * sub
        parts.append(f""",
qd{b} AS (SELECT q.qid, c.cell AS code,
  pow(list_distance(q.v[{lo}:{hi}], c.cv), 2) AS d
  FROM q CROSS JOIN s{b}c1 c)""")
    joins = "\n  ".join(
        f"JOIN code{b} ON code{b}.vec_id = cellof.vec_id "
        f"JOIN qd{b} ON qd{b}.qid = probe.qid AND qd{b}.code = code{b}.code"
        for b in range(m))
    dsum = " + ".join(f"qd{b}.d" for b in range(m))
    parts.append(f""",
cand AS (SELECT probe.qid, cellof.vec_id, round({dsum}, 6) AS adc_dist
  FROM probe
  JOIN cellof ON cellof.cell = probe.cell AND cellof.vec_id <> probe.qid
  {joins})""")
    return "".join(parts)


def _ivfpq_oracle(n_queries: int = 10, k: int = 5, **kw) -> str:
    return _ivfpq_cand_sql(n_queries=n_queries, **kw) + f"""
SELECT qid AS query_id,
  CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id)
       AS BIGINT) AS rank,
  vec_id AS neighbor_id, adc_dist
FROM cand
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id)
        <= {k}"""


# BM25 run + judgments CTE block shared by the ndcg and map/mrr
# oracles - one definition so the two metrics can never grade
# different runs.
_BM25_RUN_CTES = """toks AS (
  SELECT doc_id, t.term
  FROM documents,
       unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
qt AS (SELECT * FROM (VALUES ('hash'),('join'),('spark'),('window'),('stream')) q(term)),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       FROM toks JOIN qt USING (term) GROUP BY doc_id, term),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 6)
           AS score
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id),
topk AS (SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
         doc_id FROM scored
         QUALIFY rnk <= 25),
rel AS (SELECT doc_id, count(DISTINCT term) AS rel
        FROM toks JOIN qt USING (term) GROUP BY doc_id)"""


# lcm(1..25): every AP term (hits_so_far / rank) scaled by this is an
# exact integer - the sum can't drift with aggregation merge order.
_LCM25 = 26771144400

_BM25_MAP_ORACLE = f"""
WITH {_BM25_RUN_CTES},
relevant AS (SELECT doc_id FROM rel WHERE rel > 0),
rtot AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM relevant),
hits AS (SELECT rnk,
                CAST(row_number() OVER (ORDER BY rnk) AS BIGINT) AS hsf
         FROM topk JOIN relevant USING (doc_id)),
aggd AS (SELECT
           CAST(coalesce(sum(({_LCM25} // rnk) * hsf), 0) AS BIGINT)
             AS ap_num,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(coalesce(min(rnk), 0) AS BIGINT) AS first_rank
         FROM hits)
SELECT CAST(25 AS BIGINT) AS k, n_rel, n_hits, first_rank,
  round(CASE WHEN least(n_rel, 25) > 0
        THEN CAST(ap_num AS DOUBLE)
             / ({_LCM25}.0 * CAST(least(n_rel, 25) AS DOUBLE))
        ELSE 0.0 END, 6) AS ap,
  round(CASE WHEN first_rank > 0 THEN 1.0 / first_rank
        ELSE 0.0 END, 6) AS mrr,
  round(CASE WHEN n_rel > 0 THEN CAST(n_hits AS DOUBLE) / n_rel
        ELSE 0.0 END, 6) AS recall
FROM aggd CROSS JOIN rtot
"""


_FUNNEL_ORACLE = """
WITH f1 AS (SELECT user_id,
  min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY user_id),
f2 AS (SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN f1 ON f1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > f1.t1
  GROUP BY e.user_id),
f3 AS (SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN f2 ON f2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > f2.t2
  GROUP BY e.user_id)
SELECT f1.user_id, f1.t1, f2.t2, f3.t3,
  CAST(CASE WHEN t3 IS NOT NULL THEN 3
            WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
FROM f1 LEFT JOIN f2 ON f2.user_id = f1.user_id
LEFT JOIN f3 ON f3.user_id = f1.user_id
"""


_TPCH_Q1_ORACLE = """
WITH staged AS (
  SELECT l_returnflag, l_linestatus,
    CAST(l_quantity AS BIGINT) AS qty,
    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
    CAST(round(l_discount * 100, 0) AS BIGINT) AS dc,
    CAST(round(l_tax * 100, 0) AS BIGINT) AS tc
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
g AS (SELECT l_returnflag, l_linestatus,
  sum(qty) AS sum_qty, sum(pc) AS base_c,
  sum(pc * (100 - dc)) AS disc_c2,
  sum(pc * (100 - dc) * (100 + tc)) AS charge_c4,
  sum(dc) AS disc_sum, count(*) AS count_order
  FROM staged GROUP BY 1, 2)
SELECT l_returnflag, l_linestatus, sum_qty,
  base_c AS sum_base_price_c,
  disc_c2 AS sum_disc_price_c2,
  charge_c4 AS sum_charge_c4,
  (1000000 * sum_qty) // count_order AS avg_qty_ppm,
  (10000 * base_c) // count_order AS avg_price_upd,
  (10000 * disc_sum) // count_order AS avg_disc_upd,
  count_order
FROM g
"""

_TPCH_Q3_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
    CAST(round(l_discount * 100, 0) AS BIGINT) AS dc
  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-03-15'),
rev AS (SELECT li.l_orderkey, o.o_orderdate, o.o_orderpriority,
        sum(pc * (100 - dc)) AS rev_c2
  FROM li
  JOIN orders o ON o.o_orderkey = li.l_orderkey
   AND o.o_orderdate < TIMESTAMP '1998-03-15'
  JOIN customer c ON c.c_custkey = o.o_custkey
   AND c.c_mktsegment = 'BUILDING'
  GROUP BY 1, 2, 3)
SELECT l_orderkey AS orderkey, rev_c2 / 10000.0 AS revenue,
  o_orderdate, o_orderpriority,
  CAST(row_number() OVER (ORDER BY rev_c2 DESC, l_orderkey) AS BIGINT)
    AS rnk
FROM rev
QUALIFY row_number() OVER (ORDER BY rev_c2 DESC, l_orderkey) <= 10
"""


_TPCH_Q5_ORACLE = """
WITH li AS (SELECT l_orderkey, l_suppkey,
  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
  CAST(round(l_discount * 100, 0) AS BIGINT) AS dc FROM lineitem)
SELECT n.n_name,
  sum(pc * (100 - dc)) / 10000.0 AS revenue,
  count(*) AS n_lines
FROM li
JOIN orders o ON o.o_orderkey = li.l_orderkey
 AND o.o_orderdate >= TIMESTAMP '1996-01-01'
 AND o.o_orderdate < TIMESTAMP '1997-01-01'
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = li.l_suppkey
 AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
GROUP BY n.n_name
"""

_TPCH_Q9_ORACLE = """
WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
  CAST(l_quantity AS BIGINT) AS qty,
  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
  CAST(round(l_discount * 100, 0) AS BIGINT) AS dc FROM lineitem),
pt AS (SELECT p_partkey,
  CAST(round(p_retailprice * 100, 0) AS BIGINT) AS rc
  FROM part WHERE p_name LIKE '%red%')
SELECT n.n_name,
  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
  sum(pc * (100 - dc) - rc * 100 * qty) / 10000.0 AS sum_margin,
  count(*) AS n_lines
FROM li
JOIN pt ON pt.p_partkey = li.l_partkey
JOIN supplier s ON s.s_suppkey = li.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = li.l_orderkey
GROUP BY 1, 2
"""


_TPCH_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


_TPCH_Q10_ORACLE = """
WITH li AS (SELECT l_orderkey,
  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
  CAST(round(l_discount * 100, 0) AS BIGINT) AS dc
  FROM lineitem WHERE l_returnflag = 'R'),
rev AS (SELECT o.o_custkey, sum(pc * (100 - dc)) AS rev_c2,
        count(*) AS n_lines
  FROM li JOIN orders o ON o.o_orderkey = li.l_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY o.o_custkey),
top AS (SELECT o_custkey, rev_c2, n_lines,
  row_number() OVER (ORDER BY rev_c2 DESC, o_custkey) AS rnk FROM rev
  QUALIFY rnk <= 20)
SELECT t.o_custkey AS custkey, c.c_name, c.c_mktsegment,
  t.rev_c2 / 10000.0 AS lost_revenue, t.n_lines,
  CAST(t.rnk AS BIGINT) AS rnk
FROM top t JOIN customer c ON c.c_custkey = t.o_custkey
"""


_Q7_ORACLE = """
WITH rev AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(round(l_extendedprice*100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount*100, 0) AS BIGINT)) AS rev_c2
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN (SELECT n_nationkey, n_name FROM
        (SELECT n_nationkey, n_name,
                row_number() OVER (ORDER BY n_name) AS nrank FROM nation)
        WHERE nrank <= 2) n1 ON s_nationkey = n1.n_nationkey
  JOIN (SELECT n_nationkey, n_name FROM
        (SELECT n_nationkey, n_name,
                row_number() OVER (ORDER BY n_name) AS nrank FROM nation)
        WHERE nrank <= 2) n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name)
SELECT supp_nation, cust_nation, l_year,
       sum(rev_c2) / 10000.0 AS revenue
FROM rev GROUP BY 1, 2, 3
"""

_Q14_ORACLE = """
WITH rev AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, p_type,
         CAST(round(l_extendedprice*100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount*100, 0) AS BIGINT)) AS rev_c2
  FROM lineitem JOIN part ON l_partkey = p_partkey)
SELECT ship_month,
       sum(CASE WHEN p_type = 'PROMO' THEN rev_c2 ELSE 0 END)
         / 10000.0 AS promo_revenue,
       sum(rev_c2) / 10000.0 AS total_revenue,
       round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev_c2
                         ELSE 0 END) / sum(rev_c2), 6) AS promo_share
FROM rev GROUP BY 1
"""

_Q15_ORACLE = """
WITH per_supp AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
             * (100 - CAST(round(l_discount*100, 0) AS BIGINT)))
           AS total_c2
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       total_c2 / 10000.0 AS total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE total_c2 = (SELECT max(total_c2) FROM per_supp)
"""

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
           AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(o_totalprice*100, 0) AS BIGINT) / 100.0 AS o_totalprice,
       total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""

_Q22_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal*100, 0) AS BIGINT) AS bal_c
  FROM customer),
pos AS (SELECT sum(bal_c) AS sum_c, count(*) AS n_pos
        FROM c WHERE bal_c > 0),
recent AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
idle AS (
  SELECT c.* FROM c, pos
  WHERE c.bal_c * pos.n_pos > pos.sum_c
    AND c.c_custkey NOT IN (SELECT o_custkey FROM recent))
SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n_custs,
       sum(bal_c) / 100.0 AS total_acctbal
FROM idle JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""

_TPCH_Q6_ORACLE = """
SELECT sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
           * CAST(round(l_discount*100, 0) AS BIGINT)) / 10000.0
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(round(l_discount*100, 0) AS BIGINT) BETWEEN 3 AND 7
  AND l_quantity < 24
"""

_TPCH_Q2_ORACLE = """
WITH eu AS (
  SELECT s_suppkey, s_name, n_name,
         CAST(round(s_acctbal*100, 0) AS BIGINT) AS bal_c
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
supply AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS cost_c
  FROM lineitem GROUP BY 1, 2),
cand AS (
  SELECT p_partkey, p_name, s_name, n_name, bal_c, cost_c
  FROM supply JOIN eu ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'STANDARD' AND p_size <= 10),
mn AS (SELECT p_partkey AS pk, min(cost_c) AS min_c FROM cand GROUP BY 1)
SELECT bal_c / 100.0 AS s_acctbal, s_name, n_name,
       CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
       cost_c / 100.0 AS cost
FROM cand JOIN mn ON p_partkey = pk AND cost_c = min_c
"""

_TPCH_Q8_ORACLE = """
WITH vol AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(s_nationkey AS BIGINT) AS supp_nkey,
         CAST(round(l_extendedprice*100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount*100, 0) AS BIGINT)) AS vol_c2
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01')
SELECT o_year,
       sum(CASE WHEN supp_nkey = 11 THEN vol_c2 ELSE 0 END)
         / 10000.0 AS nation_volume,
       sum(vol_c2) / 10000.0 AS total_volume,
       round(sum(CASE WHEN supp_nkey = 11 THEN vol_c2
                 ELSE 0 END) * 1.0 / sum(vol_c2), 6) AS mkt_share
FROM vol GROUP BY 1
"""

_TPCH_Q11_ORACLE = """
WITH nat_li AS (
  SELECT l_partkey, CAST(round(l_extendedprice*100, 0) AS BIGINT) AS pc
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 7),
per_part AS (
  SELECT l_partkey, sum(pc) AS value_c FROM nat_li GROUP BY 1),
t AS (SELECT sum(value_c) AS total_c, count(*) AS n FROM per_part)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey, value_c / 100.0 AS value
FROM per_part, t WHERE value_c * n > 2 * total_c
"""

_TPCH_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY 1
"""

_TPCH_Q13_ORACLE = """
WITH per_cust AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY 1)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY 1
"""

_TPCH_Q16_ORACLE = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
kept AS (
  SELECT l_partkey, l_suppkey FROM pairs
  WHERE l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM kept JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY 1, 2, 3
"""

_TPCH_Q17_ORACLE = """
WITH sel AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice*100, 0) AS BIGINT) AS pc
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'),
stats AS (
  SELECT l_partkey AS pk, sum(qty) AS sum_qty, count(*) AS cnt
  FROM sel GROUP BY 1)
SELECT round(sum(pc) / 700.0, 6) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM sel JOIN stats ON l_partkey = pk
WHERE 5 * qty * cnt < sum_qty
"""

_TPCH_Q19_ORACLE = """
SELECT sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount*100, 0) AS BIGINT)))
         / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)
"""

_TPCH_Q20_ORACLE = """
WITH prof AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS BIGINT)) AS qty_total,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate < TIMESTAMP '1997-01-01'
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_1996
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'blue%' GROUP BY 1, 2),
excess AS (
  SELECT DISTINCT l_suppkey FROM prof WHERE 2 * qty_1996 > qty_total)
SELECT s_name, CAST(round(s_acctbal*100, 0) AS BIGINT) / 100.0 AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (SELECT l_suppkey FROM excess)
"""

_TPCH_Q21_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
am AS (
  SELECT s_suppkey, s_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'AMERICA'),
waited AS (
  SELECT l1.l_orderkey, s_name
  FROM base l1 JOIN am ON l1.l_suppkey = s_suppkey
  WHERE l1.late
    AND EXISTS (SELECT 1 FROM base l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM base l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)),
counts AS (
  SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
  FROM waited GROUP BY 1)
SELECT s_name, numwait, rnk FROM (
  SELECT s_name, numwait,
         CAST(row_number() OVER (ORDER BY numwait DESC, s_name)
              AS BIGINT) AS rnk
  FROM counts) WHERE rnk <= 20
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


_OPTSEG_ORACLE = """
WITH RECURSIVE lens(L) AS (VALUES (2), (3), (4)),
grams AS (
  SELECT substr(text, i, L) AS gram, count(*) AS n
  FROM documents
  CROSS JOIN lens
  CROSS JOIN LATERAL unnest(range(1, length(text) - L + 2)) AS u(i)
  WHERE length(text) >= L
  GROUP BY 1),
vocab AS (
  SELECT gram FROM grams
  QUALIFY row_number() OVER (ORDER BY n DESC, gram) <= 200),
docs AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE doc_id % 10 = 0),
dp AS (
  SELECT doc_id, text, n, 0 AS pos,
         CAST(0 AS BIGINT) AS d0, CAST(0 AS BIGINT) AS d1,
         CAST(0 AS BIGINT) AS d2, CAST(0 AS BIGINT) AS d3
  FROM docs
  UNION ALL
  SELECT doc_id, text, n, pos + 1,
         1 + least(d0,
             CASE WHEN pos >= 1 AND v2.gram IS NOT NULL
                  THEN d1 ELSE 1152921504606846976 END,
             CASE WHEN pos >= 2 AND v3.gram IS NOT NULL
                  THEN d2 ELSE 1152921504606846976 END,
             CASE WHEN pos >= 3 AND v4.gram IS NOT NULL
                  THEN d3 ELSE 1152921504606846976 END),
         d0, d1, d2
  FROM dp
  LEFT JOIN vocab v2 ON v2.gram = substr(text, pos, 2)
  LEFT JOIN vocab v3 ON v3.gram = substr(text, pos - 1, 3)
  LEFT JOIN vocab v4 ON v4.gram = substr(text, pos - 2, 4)
  WHERE pos < n)
SELECT doc_id, n AS n_chars, d0 AS n_pieces,
       CASE WHEN n = 0 THEN 0 ELSE (d0 * 1000) // n END AS fertility_x1000
FROM dp WHERE pos = n
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

_CALIBRATION_ORACLE = """
WITH b AS (
  SELECT least(999999, (1000000 * n_chars) // 300) AS conf,
         CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS pos
  FROM documents),
agg AS (SELECT conf // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(conf) AS BIGINT) AS conf_sum
        FROM b GROUP BY 1)
SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
       CAST(conf_sum // n AS BIGINT) AS avg_conf_ppm,
       CAST((1000000 * n_pos) // n AS BIGINT) AS pos_rate_ppm,
       CAST(abs(conf_sum // n - (1000000 * n_pos) // n) AS BIGINT)
         AS gap_ppm,
       CAST(n * abs(conf_sum // n - (1000000 * n_pos) // n) AS BIGINT)
         AS ece_num
FROM agg
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

def _ktruss_oracle(rounds: int = 3, min_supp: int = 3) -> str:
    """Chained-CTE replay of _q_link_truss: identical edge set, then
    per round an id-ordered triangle enumeration (same triangle SET as
    Spark's degree-ordered one), 3-edge explode, support count, and
    the >= k-2 filter feeding the next round's edge CTE."""
    cliques = "\n  UNION ALL ".join(
        f"SELECT doc_id + {i}, doc_id + {j} FROM documents "
        "WHERE doc_id % 32 = 0"
        for i in range(5) for j in range(i + 1, 5))
    bands = "\n  UNION ALL ".join(
        f"SELECT doc_id, doc_id + {delta} FROM documents "
        f"WHERE doc_id % 8 <= {7 - delta}"
        for delta in (1, 2, 3))
    sql = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT doc_id AS s, (doc_id*7+1) % n AS d FROM documents, nn
  WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % n FROM documents, nn WHERE doc_id % 17 <> 0
  UNION ALL {bands}
  UNION ALL {cliques}),
e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
       FROM raw WHERE s <> d)"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
t{r} AS MATERIALIZED (SELECT x.a AS u, x.b AS v1, y.b AS v2
        FROM e{p} x JOIN e{p} y ON x.a = y.a AND x.b < y.b
        JOIN e{p} z ON z.a = x.b AND z.b = y.b),
ex{r} AS (SELECT u AS a, v1 AS b FROM t{r}
         UNION ALL SELECT u, v2 FROM t{r}
         UNION ALL SELECT v1, v2 FROM t{r}),
s{r} AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
        FROM ex{r} GROUP BY 1, 2),
sc{r} AS MATERIALIZED (
  SELECT e.a, e.b, CAST(coalesce(s.c, 0) AS BIGINT) AS support
  FROM e{p} e LEFT JOIN s{r} s USING (a, b)),
e{r} AS MATERIALIZED (SELECT a, b FROM sc{r} WHERE support >= {min_supp})"""
    finals = [f"SELECT a, b, support, CAST(0 AS BIGINT) AS dropped_round "
              f"FROM sc{rounds} WHERE support >= {min_supp}"]
    finals += [f"SELECT a, b, support, CAST({r} AS BIGINT) "
               f"FROM sc{r} WHERE support < {min_supp}"
               for r in range(1, rounds + 1)]
    return sql + "\n" + "\nUNION ALL ".join(finals)


_KTRUSS_ORACLE = _ktruss_oracle()

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

_KS_DRIFT_ORACLE = """
WITH b AS (
  SELECT n_chars + CASE WHEN doc_id % 3 = 0 THEN 25 ELSE 0 END AS v,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS ia
  FROM documents),
g AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
             CAST(sum(1 - ia) AS BIGINT) AS cb
      FROM b GROUP BY 1),
c AS (SELECT CAST(sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_a,
             CAST(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_b
      FROM g),
s AS (SELECT cum_a, cum_b,
             CAST(max(cum_a) OVER () AS BIGINT) AS ta,
             CAST(max(cum_b) OVER () AS BIGINT) AS tb
      FROM c),
agg AS (SELECT CAST(max(ta) AS BIGINT) AS n_a,
               CAST(max(tb) AS BIGINT) AS n_b,
               CAST(max(abs(cum_a * tb - cum_b * ta)) AS BIGINT) AS d_num
        FROM s)
SELECT n_a, n_b, d_num,
       CASE WHEN n_a * n_b > 0
            THEN CAST((1000000 * d_num) // (n_a * n_b) AS BIGINT)
            END AS d_ppm
FROM agg
"""

_CHI2_ORACLE = """
WITH d AS (SELECT event_type AS a, user_id % 4 AS b FROM events),
cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS observed
          FROM d GROUP BY 1, 2),
r AS (SELECT a, CAST(count(*) AS BIGINT) AS row_n FROM d GROUP BY 1),
c AS (SELECT b, CAST(count(*) AS BIGINT) AS col_n FROM d GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
SELECT a, b, observed, row_n, col_n, n,
       round(row_n * col_n / CAST(n AS DOUBLE), 6) AS expected,
       round(pow(observed - row_n * col_n / CAST(n AS DOUBLE), 2)
             / (row_n * col_n / CAST(n AS DOUBLE)), 6) AS contrib
FROM cells JOIN r USING (a) JOIN c USING (b) CROSS JOIN nn
"""

_BENFORD_ORACLE = """
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS amt
  FROM orders),
dg AS (SELECT CAST(substring(CAST(amt AS VARCHAR), 1, 1) AS INTEGER)
              AS digit,
              CAST(count(*) AS BIGINT) AS n
       FROM cents WHERE amt > 0 GROUP BY 1),
spine AS (SELECT * FROM (VALUES
  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
  (6, 66947), (7, 57992), (8, 51153), (9, 45757))
  AS t(digit, expected_ppm)),
j AS (SELECT s.digit, CAST(coalesce(dg.n, 0) AS BIGINT) AS n,
             CAST(s.expected_ppm AS BIGINT) AS expected_ppm
      FROM spine s LEFT JOIN dg USING (digit)),
t AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS total FROM j)
SELECT digit, n,
       CASE WHEN total > 0
            THEN CAST((1000000 * n) // total AS BIGINT) END AS observed_ppm,
       expected_ppm,
       CASE WHEN total > 0
            THEN CAST(abs((1000000 * n) // total - expected_ppm) AS BIGINT)
            END AS dev_ppm
FROM t
"""

_DAILY_CTE = """
daily AS (
  SELECT event_type AS key,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS o,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2)"""


_MANN_KENDALL_ORACLE = f"""
WITH {_DAILY_CTE},
p AS (SELECT a.key,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM daily a JOIN daily b ON a.key = b.key AND a.o < b.o
      GROUP BY 1),
n AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
ties AS (SELECT key, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                AS tie18
         FROM (SELECT key, x, CAST(count(*) AS BIGINT) AS t
               FROM daily GROUP BY 1, 2) GROUP BY 1),
base AS (
  SELECT n.key, n.n, CAST(coalesce(p.s, 0) AS BIGINT) AS s,
         CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie18 AS BIGINT)
           AS var18
  FROM n LEFT JOIN p ON n.key = p.key JOIN ties ON n.key = ties.key)
SELECT key, n, s, var18,
       round(CASE WHEN s = 0 OR var18 <= 0 THEN 0.0
             ELSE (s - sign(s)) / sqrt(var18 / 18.0) END, 6) AS z
FROM base
"""

_ACF_ORACLE = f"""
WITH {_DAILY_CTE},
tot AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS ssum
        FROM daily GROUP BY 1),
c AS (SELECT d.key, d.o, tot.n,
             CAST(tot.n * d.x - tot.ssum AS BIGINT) AS cx
      FROM daily d JOIN tot USING (key)),
den AS (SELECT key, CAST(sum(cx * cx) AS BIGINT) AS den,
               CAST(max(n) AS BIGINT) AS n
        FROM c GROUP BY 1),
lags AS (SELECT unnest([1, 2, 3, 4, 5]) AS lag),
num AS (SELECT a.key, lags.lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(a.cx * b.cx) AS BIGINT) AS num
        FROM c a CROSS JOIN lags
        JOIN c b ON a.key = b.key AND a.o + lags.lag = b.o
        GROUP BY 1, 2)
SELECT key, CAST(lag AS INTEGER) AS lag, den.n AS n, n_pairs, num,
       den.den AS den,
       CASE WHEN den.den > 0
            THEN round(num / CAST(den.den AS DOUBLE), 6) END AS acf
FROM num JOIN den USING (key)
"""

_LINK_JACCARD_ORACLE = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS s, (doc_id*7+1) % n AS d FROM documents, nn
  WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % n FROM documents, nn
  WHERE doc_id % 17 <> 0),
sym AS (SELECT DISTINCT s, d FROM (
  SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0) WHERE s <> d),
deg AS (SELECT s AS z, CAST(count(*) AS BIGINT) AS dg
        FROM sym GROUP BY s),
quiet AS (SELECT z FROM deg WHERE dg BETWEEN 2 AND 100),
p AS (SELECT l.d AS a, r.d AS b
      FROM sym l JOIN sym r ON l.s = r.s AND l.d < r.d
      JOIN quiet ON quiet.z = l.s),
common AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
           FROM p GROUP BY a, b),
canon AS (SELECT DISTINCT s AS a, d AS b FROM sym WHERE s < d)
SELECT c.a, c.b, c.n_common,
       da.dg AS deg_a, db.dg AS deg_b,
       CAST((1000000 * c.n_common)
            // (da.dg + db.dg - c.n_common) AS BIGINT) AS jaccard_ppm,
       (canon.a IS NOT NULL) AS is_edge
FROM common c
JOIN deg da ON da.z = c.a
JOIN deg db ON db.z = c.b
LEFT JOIN canon ON canon.a = c.a AND canon.b = c.b
"""

_ASSORTATIVITY_ORACLE = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS s, (doc_id*7+1) % n AS d FROM documents, nn
  WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % n FROM documents, nn
  WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id+1) % n FROM documents, nn WHERE doc_id % 10 = 0
  UNION ALL
  SELECT (doc_id+1) % n, (doc_id+2) % n FROM documents, nn
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, (doc_id+2) % n FROM documents, nn WHERE doc_id % 10 = 0),
sym AS (SELECT DISTINCT s, d FROM (
  SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0) WHERE s <> d),
deg AS (SELECT s AS z, CAST(count(*) AS BIGINT) AS dg
        FROM sym GROUP BY s),
agg AS (SELECT CAST(count(*) AS BIGINT) AS m2,
               CAST(sum(da.dg) AS BIGINT) AS sx,
               CAST(sum(da.dg * db.dg) AS BIGINT) AS sxy,
               CAST(sum(da.dg * da.dg) AS BIGINT) AS sx2
        FROM sym JOIN deg da ON da.z = sym.s
                 JOIN deg db ON db.z = sym.d)
SELECT m2, sx, sxy, sx2,
       CASE WHEN m2 * sx2 - sx * sx > 0
            THEN round(CAST(m2 * sxy - sx * sx AS DOUBLE)
                       / CAST(m2 * sx2 - sx * sx AS DOUBLE), 6)
            END AS r
FROM agg
"""

_TCLOSENESS_ORACLE = """
WITH d AS (SELECT lang, source,
                  least(n_chars // 100, 5) AS sv
           FROM documents),
gdist AS (SELECT sv, CAST(count(*) AS BIGINT) AS gc FROM d GROUP BY 1),
ladder AS (SELECT sv, gc,
                  CAST(sum(gc) OVER (ORDER BY sv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_gc,
                  CAST(sum(gc) OVER () AS BIGINT) AS n_all,
                  CAST(count(*) OVER () AS BIGINT) AS m,
                  row_number() OVER (ORDER BY sv) AS rung
           FROM gdist),
cells AS (SELECT lang, source, sv, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2, 3),
grp AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS group_n
        FROM d GROUP BY 1, 2),
spine AS (SELECT g.lang, g.source, g.group_n, l.sv, l.cum_gc, l.n_all,
                 l.m, l.rung, CAST(coalesce(c.c, 0) AS BIGINT) AS c
          FROM grp g CROSS JOIN ladder l
          LEFT JOIN cells c ON c.lang = g.lang AND c.source = g.source
                            AND c.sv = l.sv),
pref AS (SELECT *, CAST(sum(c) OVER (PARTITION BY lang, source
           ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_c
         FROM spine),
agg AS (SELECT lang, source,
               CAST(max(group_n) AS BIGINT) AS group_n,
               CAST(max(m) AS BIGINT) AS m,
               CAST(max(n_all) AS BIGINT) AS n_all,
               CAST(sum(CASE WHEN rung < m
                    THEN abs(cum_c * n_all - cum_gc * group_n)
                    ELSE 0 END) AS BIGINT) AS emd_num
        FROM pref GROUP BY 1, 2)
SELECT lang, source, group_n, m, emd_num,
       CAST(CASE WHEN m > 1
            THEN (1000000 * emd_num) // ((m - 1) * group_n * n_all)
            ELSE 0 END AS BIGINT) AS t_ppm,
       (CASE WHEN m > 1
             THEN (1000000 * emd_num) // ((m - 1) * group_n * n_all)
             ELSE 0 END) > 200000 AS is_suppressed
FROM agg
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

_LINFIT_ORACLE = f"""
WITH {_DAILY_CTE},
agg AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(o) AS BIGINT) AS sx,
               CAST(sum(x) AS BIGINT) AS sy,
               CAST(sum(o * x) AS BIGINT) AS sxy,
               CAST(sum(o * o) AS BIGINT) AS sx2,
               CAST(sum(x * x) AS BIGINT) AS sy2
        FROM daily GROUP BY 1)
SELECT key, n, sx, sy, sxy, sx2, sy2,
       round(CASE WHEN n * sx2 - sx * sx > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sx2 - sx * sx AS DOUBLE) END, 6) AS slope,
       round(CASE WHEN n * sx2 - sx * sx > 0
             THEN (sy - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sx2 - sx * sx AS DOUBLE)) * sx)
                  / CAST(n AS DOUBLE) END, 6) AS intercept,
       round(CASE WHEN n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE)
                  / (CAST(n * sx2 - sx * sx AS DOUBLE)
                     * CAST(n * sy2 - sy * sy AS DOUBLE)) END, 6) AS r2
FROM agg
"""

_PSI_ORACLE = """
WITH d AS (
  SELECT least((n_chars + CASE WHEN doc_id % 3 = 0 THEN 25 ELSE 0 END)
               // 50, 19) AS bucket,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS ia
  FROM documents),
g AS (SELECT bucket, CAST(sum(ia) AS BIGINT) AS n_a,
             CAST(sum(1 - ia) AS BIGINT) AS n_b
      FROM d GROUP BY 1),
tot AS (SELECT CAST(sum(ia) AS BIGINT) AS ta,
               CAST(sum(1 - ia) AS BIGINT) AS tb FROM d),
p AS (SELECT bucket, n_a, n_b,
             CASE WHEN ta > 0 THEN CAST(greatest(
               (1000000 * n_a) // ta, 100) AS BIGINT) END AS p_a_ppm,
             CASE WHEN tb > 0 THEN CAST(greatest(
               (1000000 * n_b) // tb, 100) AS BIGINT) END AS p_b_ppm
      FROM g CROSS JOIN tot)
SELECT bucket, n_a, n_b, p_a_ppm, p_b_ppm,
       round((p_a_ppm - p_b_ppm) / 1e6
             * ln(CAST(p_a_ppm AS DOUBLE) / p_b_ppm), 6) AS psi_term
FROM p
"""

_PROXIMITY_MINSPAN_ORACLE = """
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     w -> w <> '') AS ws
  FROM documents),
idx AS (SELECT doc_id, ws[CAST(i AS BIGINT)] AS term,
               CAST(i - 1 AS BIGINT) AS pos
        FROM words, LATERAL unnest(generate_series(1, len(ws))) r(i)),
hits AS (SELECT * FROM idx WHERE term IN ('merge', 'scan', 'window')),
lasts AS (SELECT doc_id, pos,
                 max(CASE WHEN term = 'merge' THEN pos END) OVER w AS l0,
                 max(CASE WHEN term = 'scan' THEN pos END) OVER w AS l1,
                 max(CASE WHEN term = 'window' THEN pos END) OVER w AS l2
          FROM hits
          WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
spans AS (SELECT doc_id, pos, pos - least(l0, l1, l2) + 1 AS span
          FROM lasts
          WHERE l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL),
m AS (SELECT doc_id, pos, span,
             min(span) OVER (PARTITION BY doc_id) AS doc_min
      FROM spans)
SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span,
       CAST(count(*) AS BIGINT) AS n_covers,
       CAST(min(CASE WHEN span = doc_min THEN pos END) AS BIGINT)
           AS best_end
FROM m GROUP BY doc_id
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

_KAPLAN_MEIER_ORACLE = """
WITH subj AS (
  SELECT user_id, min(ts) AS t0, max(ts) AS t_last,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_evt
  FROM events GROUP BY user_id),
s2 AS (SELECT CAST((epoch_us(coalesce(t_evt, t_last)) - epoch_us(t0))
                   // 60000000 AS BIGINT) AS duration_min,
              CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS observed
       FROM subj),
times AS (SELECT duration_min, CAST(sum(observed) AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM s2 GROUP BY duration_min),
ar AS (SELECT *, CAST(sum(c) OVER (ORDER BY duration_min DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_risk
       FROM times),
km AS (SELECT * FROM ar WHERE d > 0),
fin AS (SELECT duration_min, n_risk, d,
               max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w2
                   AS dead,
               sum(CASE WHEN d < n_risk
                        THEN ln((n_risk - d) * 1.0 / n_risk)
                        ELSE 0.0 END) OVER w2 AS lsum
        FROM km
        WINDOW w2 AS (ORDER BY duration_min
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT duration_min, n_risk, d AS n_events,
       CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lsum), 6) END
           AS survival
FROM fin
"""

_EVENTS_SEASONALITY_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
t AS (
  SELECT event_type, day, cnt,
         sum(cnt) OVER w AS s, count(cnt) OVER w AS k
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
ratio AS (
  SELECT event_type,
         CAST(CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS BIGINT)
             AS dow,
         (7 * 1000000 * cnt) // s AS ratio_ppm
  FROM t WHERE k = 7)
SELECT event_type, dow,
       CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS seasonal_ppm,
       CAST(count(*) AS BIGINT) AS n_days
FROM ratio GROUP BY event_type, dow
"""

_LINK_SHORTEST_PATHS_ORACLE = """
WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
linked AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
e AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT n FROM nn) AS dst
  FROM linked
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 3) % (SELECT n FROM nn) FROM linked),
we AS (SELECT src, dst, (src * 3 + dst * 5) % 9 + 1 AS w FROM e),
seeds AS (SELECT doc_id AS node FROM documents WHERE doc_id % 97 = 0),
walk(node, dist, hops) AS (
  SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
  UNION ALL
  SELECT we.dst, walk.dist + we.w, walk.hops + 1
  FROM walk JOIN we ON we.src = walk.node
  WHERE walk.hops < 4)
SELECT node, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY node
"""

_PARETO_DOCS_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(list_distinct(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             w -> w <> ''))) AS BIGINT) AS n_terms
  FROM documents)
SELECT lang, n_chars, n_terms, doc_id
FROM t a
WHERE NOT EXISTS (
  SELECT 1 FROM t b
  WHERE b.lang = a.lang
    AND b.n_chars >= a.n_chars AND b.n_terms >= a.n_terms
    AND (b.n_chars > a.n_chars OR b.n_terms > a.n_terms))
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


_KAPPA_ORACLE = """
WITH lab AS (
  SELECT least(n_chars // 150, 5) AS a,
         CASE WHEN doc_id % 7 = 0
              THEN least(least(length(text) // 150, 5) + 1, 5)
              ELSE least(length(text) // 150, 5) END AS b
  FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_agree
        FROM lab),
ma AS (SELECT CAST(a AS VARCHAR) AS lbl, CAST(count(*) AS BIGINT) AS na
       FROM lab GROUP BY 1),
mb AS (SELECT CAST(b AS VARCHAR) AS lbl, CAST(count(*) AS BIGINT) AS nb
       FROM lab GROUP BY 1),
pe AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS pe_num
       FROM ma JOIN mb USING (lbl))
SELECT n, n_agree,
  round(CAST(n_agree AS DOUBLE) / n, 6) AS po,
  round(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS pe,
  round(CASE WHEN n * n <> pe_num
        THEN CAST(n * n_agree - pe_num AS DOUBLE)
             / CAST(n * n - pe_num AS DOUBLE)
        ELSE 1.0 END, 6) AS kappa
FROM tot CROSS JOIN pe
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

_GINI_ORACLE = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
                  CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1),
r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, key) AS BIGINT) AS i
      FROM c),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(x) AS BIGINT) AS total,
             CAST(sum(i * x) AS BIGINT) AS t
      FROM r)
SELECT n_groups, total,
  round(CASE WHEN n_groups > 0 AND total > 0
        THEN CAST(2 * t - (n_groups + 1) * total AS DOUBLE)
             / CAST(n_groups * total AS DOUBLE)
        ELSE 0.0 END, 6) AS gini
FROM a
"""

_CUSUM_ORACLE = """
WITH ev AS (
  SELECT ts, event_type FROM events
  UNION ALL
  SELECT TIMESTAMP '2024-01-02 00:15:00' AS ts, 'click' AS event_type
  FROM events WHERE event_id % 5 = 0),
c AS (SELECT event_type, date_trunc('minute', ts) AS minute,
             CAST(count(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2),
t AS (SELECT event_type, sum(n) // count(*) AS target
      FROM c GROUP BY 1),
s AS (SELECT c.event_type, minute, n,
        sum(n - target - 1) OVER (PARTITION BY c.event_type
                                  ORDER BY minute) AS p
      FROM c JOIN t USING (event_type)),
m AS (SELECT event_type, minute, n, p,
        min(p) OVER (PARTITION BY event_type ORDER BY minute) AS pmin
      FROM s)
SELECT event_type, epoch_us(minute) AS minute_us, n,
       CAST(p - least(0, pmin) AS BIGINT) AS cusum,
       (p - least(0, pmin)) >= 50 AS alarm
FROM m
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


# dHash replayed from the closed-form pixel pattern of _media_pngs:
# pixel[y,x,c] = (x*3 + y*7 + c*11 + d) % 256, h = 8+(d%5)*4,
# w = 8+((d//5)%5)*4. Gray = channel sum (three mod terms), samples at
# nearest-neighbor grid (gy*h//8, gx*w//9), bit k=gy*8+gx set iff
# gray < next gray in the row, packed MSB-first into 16-bit bands.
_PHASH_CTE = """
dims AS (SELECT doc_id AS media_id,
                8 + (doc_id % 5) * 4 AS h,
                8 + ((doc_id // 5) % 5) * 4 AS w
         FROM documents),
samp AS (SELECT media_id, gy, gx,
                ((gx * w) // 9) * 3 + ((gy * h) // 8) * 7 + media_id AS t
         FROM dims,
              LATERAL unnest(generate_series(0, 7)) AS r(gy),
              LATERAL unnest(generate_series(0, 8)) AS c(gx)),
g AS (SELECT media_id, gy, gx,
             t % 256 + (t + 11) % 256 + (t + 22) % 256 AS gray
      FROM samp),
bits AS (SELECT media_id, gy * 8 + gx AS k,
                CASE WHEN gray < lead(gray) OVER
                     (PARTITION BY media_id, gy ORDER BY gx)
                     THEN 1 ELSE 0 END AS bit
         FROM g QUALIFY gx <= 7),
ph AS (SELECT media_id,
              CAST(sum(CASE WHEN k // 16 = 0
                   THEN bit * (1 << (15 - k % 16)) ELSE 0 END) AS BIGINT)
                  AS b0,
              CAST(sum(CASE WHEN k // 16 = 1
                   THEN bit * (1 << (15 - k % 16)) ELSE 0 END) AS BIGINT)
                  AS b1,
              CAST(sum(CASE WHEN k // 16 = 2
                   THEN bit * (1 << (15 - k % 16)) ELSE 0 END) AS BIGINT)
                  AS b2,
              CAST(sum(CASE WHEN k // 16 = 3
                   THEN bit * (1 << (15 - k % 16)) ELSE 0 END) AS BIGINT)
                  AS b3
       FROM bits GROUP BY media_id)
"""

_DEDUP_BCUBED_ORACLE = f"""
WITH pred AS ({{resolution}}),
lab AS (SELECT canonical_id AS p, doc_id % 1000000 AS g FROM pred),
np AS (SELECT p, count(*) AS sp FROM lab GROUP BY p),
ng AS (SELECT g, count(*) AS sg FROM lab GROUP BY g),
cells AS (SELECT p, g, count(*) AS c FROM lab GROUP BY p, g),
contrib AS (SELECT c.c,
                   (c.c * c.c * 1000000) // np.sp AS pc,
                   (c.c * c.c * 1000000) // ng.sg AS rc
            FROM cells c JOIN np ON np.p = c.p JOIN ng ON ng.g = c.g),
agg AS (SELECT sum(c) AS n, sum(pc) AS psum, sum(rc) AS rsum
        FROM contrib)
SELECT CAST(n AS BIGINT) AS n_items,
       CAST(psum // n AS BIGINT) AS b3_precision_ppm,
       CAST(rsum // n AS BIGINT) AS b3_recall_ppm,
       CAST(CASE WHEN psum // n + rsum // n > 0 THEN
            2 * (psum // n) * (rsum // n) // (psum // n + rsum // n)
            ELSE 0 END AS BIGINT) AS b3_f1_ppm
FROM agg
"""

_ISOTONIC_ORACLE = """
WITH raw AS (SELECT (doc_id // 12) % 4 AS grp, doc_id % 12 AS x,
    CASE WHEN (doc_id * 13 + 5) % 29
              < ((doc_id % 12) * 2 + ((doc_id % 12) % 3) * 3)
         THEN 1 ELSE 0 END AS y
  FROM documents),
bins AS (SELECT grp, x, count(*) AS n, sum(y) AS pos,
                row_number() OVER (PARTITION BY grp ORDER BY x) AS i
         FROM raw GROUP BY grp, x),
pre AS (SELECT grp, x, n, pos, i,
               sum(n) OVER w AS cn, sum(pos) OVER w AS cp
        FROM bins WINDOW w AS (PARTITION BY grp ORDER BY i)),
seg AS (SELECT a.grp, a.i AS ji, b.i AS ki,
               ((b.cp - a.cp + a.pos) * 1000000)
                   // (b.cn - a.cn + a.n) AS ms
        FROM pre a JOIN pre b ON a.grp = b.grp AND b.i >= a.i),
inner_min AS (SELECT t.grp, t.i, s.ji, min(s.ms) AS mn
              FROM bins t JOIN seg s
              ON s.grp = t.grp AND s.ji <= t.i AND s.ki >= t.i
              GROUP BY t.grp, t.i, s.ji),
iso AS (SELECT grp, i, max(mn) AS rate_ppm
        FROM inner_min GROUP BY grp, i)
SELECT b.grp, b.x, CAST(b.n AS BIGINT) AS n, CAST(b.pos AS BIGINT) AS pos,
       CAST(o.rate_ppm AS BIGINT) AS rate_ppm
FROM bins b JOIN iso o ON o.grp = b.grp AND o.i = b.i
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

_MULTITIER_ORACLE = f"""
WITH RECURSIVE
mh AS (SELECT a, b FROM ({_MINHASH_ORACLE}) mhq),
sh AS (SELECT a, b FROM ({_SIMHASH_PAIRS_ORACLE}) shq),
{_AUG},
fp AS (SELECT doc_id, md5({_NORM}) AS fingerprint FROM aug),
mins AS (SELECT fingerprint, min(doc_id) AS mn FROM fp
         GROUP BY fingerprint),
star AS (SELECT m.mn AS a, f.doc_id AS b
         FROM fp f JOIN mins m USING (fingerprint)
         WHERE f.doc_id <> m.mn),
allp AS (SELECT a, b FROM star
         UNION SELECT a, b FROM mh
         UNION SELECT a, b FROM sh),
edges AS (SELECT a, b FROM allp UNION SELECT b, a FROM allp),
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

_LINK_RINGS_ORACLE = """
WITH RECURSIVE
params AS (SELECT count(*) AS n FROM documents),
linked AS (SELECT doc_id AS s FROM documents WHERE doc_id % 17 <> 0),
e AS (SELECT s AS u, (s * 7 + 1) % n AS v FROM linked, params
      UNION ALL SELECT s, (s * 13 + 3) % n FROM linked, params),
reach(u, v, d) AS (
  SELECT DISTINCT u, v, 1 FROM e
  UNION
  SELECT r.u, e.v, r.d + 1 FROM reach r JOIN e ON e.u = r.v
  WHERE r.d < 3
),
rr AS (SELECT DISTINCT u, v FROM reach),
mutual AS (SELECT a.u AS a, a.v AS b FROM rr a JOIN rr b
           ON b.u = a.v AND b.v = a.u WHERE a.u < a.v),
medges AS (SELECT a, b FROM mutual UNION SELECT b, a FROM mutual),
closure(src, dst) AS (
  SELECT a, b FROM medges
  UNION
  SELECT c.src, m.b FROM closure c JOIN medges m ON m.a = c.dst
),
canon AS (SELECT src AS node, least(src, min(dst)) AS ring_id
          FROM closure GROUP BY src),
sizes AS (SELECT ring_id, count(*) AS ring_size FROM canon
          GROUP BY ring_id)
SELECT c.node, c.ring_id, CAST(s.ring_size AS BIGINT) AS ring_size
FROM canon c JOIN sizes s USING (ring_id) WHERE s.ring_size > 1
"""


_MEDIA_PHASH_PAIRS_ORACLE = f"""
WITH {_PHASH_CTE},
bands AS (SELECT media_id, bd AS band,
                 CASE bd WHEN 0 THEN b0 WHEN 1 THEN b1
                         WHEN 2 THEN b2 ELSE b3 END AS bucket
          FROM ph, LATERAL unnest(generate_series(0, 3)) AS u(bd)),
sizes AS (SELECT band, bucket, count(*) AS bn FROM bands GROUP BY 1, 2),
capped AS (SELECT b.media_id, b.band, b.bucket FROM bands b
           JOIN sizes z ON z.band = b.band AND z.bucket = b.bucket
           WHERE z.bn BETWEEN 2 AND 100),
cand AS (SELECT DISTINCT l.media_id AS a, r.media_id AS b
         FROM capped l JOIN capped r
         ON l.band = r.band AND l.bucket = r.bucket
            AND l.media_id < r.media_id),
ham AS (SELECT c.a, c.b,
        CAST(bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1))
           + bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3))
             AS BIGINT) AS hamming
        FROM cand c JOIN ph pa ON pa.media_id = c.a
                    JOIN ph pb ON pb.media_id = c.b)
SELECT a, b, hamming FROM ham WHERE hamming <= 3
"""


_BUCKET_BATCH_ORACLE = r"""
WITH t AS (
  SELECT CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
         AS BIGINT) AS toks FROM documents),
c AS (SELECT greatest(least(toks, 1024), 1) AS nt FROM t),
b AS (SELECT CASE WHEN nt <= 1 THEN CAST(1 AS BIGINT)
             ELSE CAST(1 AS BIGINT) << length(bin(nt - 1)) END
        AS bucket_len, nt FROM c)
SELECT bucket_len,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST((count(*) + 15) // 16 AS BIGINT) AS n_batches,
  CAST(sum(nt) AS BIGINT) AS token_sum,
  CAST(sum(bucket_len - nt) AS BIGINT) AS pad_tokens,
  CAST((1000000 * sum(bucket_len - nt)) // (count(*) * bucket_len)
       AS BIGINT) AS waste_ppm
FROM b GROUP BY bucket_len
"""

_POSTING_BYTES_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term FROM documents,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             w -> w <> '')) AS t(term)),
g AS (SELECT term,
        doc_id - coalesce(lag(doc_id) OVER
                          (PARTITION BY term ORDER BY doc_id), 0) AS gap
      FROM toks),
s AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        CAST(sum(1 + (gap >= 128)::INT + (gap >= 16384)::INT
                 + (gap >= 2097152)::INT + (gap >= 268435456)::INT)
             AS BIGINT) AS bytes
      FROM g GROUP BY term),
top AS (SELECT * FROM s ORDER BY bytes DESC, term LIMIT 30)
SELECT CAST(row_number() OVER (ORDER BY bytes DESC, term) AS BIGINT)
         AS rank,
       term, df, bytes,
       CAST((1000000 * bytes) // df AS BIGINT) AS bytes_per_posting_ppm
FROM top
"""

_COMPLETION_ORACLE = """
WITH cnt AS (
  SELECT t.term, CAST(count(*) AS BIGINT) AS n FROM documents,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             w -> w <> '')) AS t(term)
  GROUP BY 1),
pref AS (SELECT substr(term, 1, p) AS prefix, term, n
         FROM cnt, LATERAL unnest(generate_series(2, 4)) AS g(p)
         WHERE length(term) >= p),
ranked AS (SELECT prefix, term, n,
             CAST(row_number() OVER (PARTITION BY prefix
                    ORDER BY n DESC, term) AS BIGINT) AS rank,
             max(n) OVER (PARTITION BY prefix) AS best
           FROM pref)
SELECT prefix, rank, term, n FROM ranked WHERE rank <= 3 AND best >= 5
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

_HARMONIC_ORACLE = """
WITH RECURSIVE
e AS (
  SELECT doc_id AS src, (doc_id*7+1) % (SELECT count(*) FROM documents)
    AS dst FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % (SELECT count(*) FROM documents)
  FROM documents WHERE doc_id % 17 <> 0),
seeds AS (SELECT doc_id AS node FROM documents WHERE doc_id % 50 = 0),
r(seed, node, d) AS (
  SELECT node, node, 0 FROM seeds
  UNION ALL
  SELECT r.seed, e.dst, r.d + 1 FROM r JOIN e ON e.src = r.node
  WHERE r.d < 4),
md AS (SELECT seed, node, min(d) AS dist FROM r GROUP BY seed, node)
SELECT node, CAST(count(*) AS BIGINT) AS n_seeds_reaching,
       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_ppm
FROM md WHERE dist >= 1 GROUP BY node
"""


def _simrank_oracle(n_iter: int = 3, min_ppm: int = 1000) -> str:
    """Unrolls ops/graph.py::simrank_pairs round-for-round: distinct
    in-edge sets, diagonal contribution 1e6 per common in-neighbor,
    off-diagonal from the previous round's pruned sparse scores, the
    same integer (4*s) // (5*da*db) and min_ppm cut each round."""
    parts = ["""WITH
e0 AS (
  SELECT doc_id AS src, (doc_id*7+1) % (SELECT count(*) FROM documents)
    AS dst FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % (SELECT count(*) FROM documents)
  FROM documents WHERE doc_id % 17 <> 0),
e AS (SELECT DISTINCT dst AS node, src AS inn FROM e0),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY node)"""]
    prev = None
    for r in range(1, n_iter + 1):
        diag = f"""
d{r} AS (SELECT x.node AS a, y.node AS b,
         CAST(count(*) AS BIGINT) * 1000000 AS s
       FROM e x JOIN e y ON x.inn = y.inn AND x.node < y.node
       GROUP BY 1, 2)"""
        if prev is None:
            total = f"t{r} AS (SELECT a, b, s FROM d{r})"
        else:
            total = f"""
sym{r} AS (SELECT a AS i, b AS j, score_ppm FROM {prev}
           UNION ALL SELECT b, a, score_ppm FROM {prev}),
o{r} AS (SELECT ea.node AS a, eb.node AS b,
           CAST(sum(sy.score_ppm) AS BIGINT) AS s
         FROM e ea JOIN sym{r} sy ON ea.inn = sy.i
         JOIN e eb ON eb.inn = sy.j
         WHERE ea.node < eb.node GROUP BY 1, 2),
t{r} AS (SELECT a, b, CAST(sum(s) AS BIGINT) AS s FROM
         (SELECT * FROM d{r} UNION ALL SELECT * FROM o{r}) GROUP BY a, b)"""
        score = f"""
s{r} AS (SELECT t.a, t.b,
           CAST((4 * t.s) // (5 * da.deg * db.deg) AS BIGINT) AS score_ppm
         FROM t{r} t JOIN deg da ON t.a = da.node
         JOIN deg db ON t.b = db.node
         WHERE (4 * t.s) // (5 * da.deg * db.deg) >= {int(min_ppm)})"""
        parts.append("," + diag + ",")
        parts.append(total + ",")
        parts.append(score)
        prev = f"s{r}"
    parts.append(f"\nSELECT a, b, score_ppm FROM {prev}")
    return "".join(parts)


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

_TRENDING_ORACLE = """
WITH d AS (
  SELECT CASE WHEN doc_id % 10 = 9
         THEN text || ' gpu cluster training gpu' ELSE text END AS text,
         doc_id % 10 = 9 AS is_new
  FROM documents),
toks AS (SELECT is_new, t.term FROM d,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             w -> w <> '')) AS t(term)),
per AS (SELECT term,
          CAST(sum(is_new::INT) AS BIGINT) AS new_cnt,
          CAST(sum((NOT is_new)::INT) AS BIGINT) AS ref_cnt
        FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(new_cnt) AS BIGINT) AS new_total,
               CAST(sum(ref_cnt) AS BIGINT) AS ref_total FROM per),
sc AS (SELECT term, new_cnt, ref_cnt,
         CAST((1000000 * new_cnt * ref_total)
              // ((ref_cnt + 1) * new_total) AS BIGINT) AS lift_ppm
       FROM per, tot WHERE new_cnt >= 5),
top AS (SELECT * FROM sc ORDER BY lift_ppm DESC, term LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY lift_ppm DESC, term) AS BIGINT)
         AS rank,
       term, new_cnt, ref_cnt, lift_ppm
FROM top
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


_LLR_TERM = ("CASE WHEN {k} > 0 THEN {k} * ln(CAST({k} AS DOUBLE) * b_total"
             " / (CAST({r} AS DOUBLE) * {c})) ELSE 0.0 END")

_LLR_ORACLE = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
words AS (SELECT doc_id,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws FROM norm),
bg0 AS (SELECT ws[CAST(i AS BIGINT)] AS w1, ws[CAST(i + 1 AS BIGINT)] AS w2
        FROM words,
          LATERAL unnest(generate_series(1, len(ws) - 1)) AS r(i)
        WHERE len(ws) >= 2),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
       FROM bg0 GROUP BY 1, 2),
lft AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_1dot FROM bg GROUP BY 1),
rgt AS (SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_dot2 FROM bg GROUP BY 1),
btot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS b_total FROM bg)
SELECT w1, w2, c_xy, c_1dot AS c_x, c_dot2 AS c_y,
  round(2.0 * ({_LLR_TERM.format(k="c_xy", r="c_1dot", c="c_dot2")}
    + {_LLR_TERM.format(k="(c_1dot - c_xy)", r="c_1dot",
                        c="(b_total - c_dot2)")}
    + {_LLR_TERM.format(k="(c_dot2 - c_xy)", r="(b_total - c_1dot)",
                        c="c_dot2")}
    + {_LLR_TERM.format(k="(b_total - c_1dot - c_dot2 + c_xy)",
                        r="(b_total - c_1dot)", c="(b_total - c_dot2)")}),
  6) AS llr
FROM bg JOIN lft USING (w1) JOIN rgt USING (w2), btot
WHERE c_xy >= 5
ORDER BY llr DESC, w1, w2 LIMIT 50
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

_BRIER_ORACLE = """
WITH b AS (SELECT
    CAST(least(999999, (1000000 * CAST(n_chars AS BIGINT)) // 300)
         AS BIGINT) AS conf,
    CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS pos
  FROM documents),
agg AS (SELECT conf // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS n_pos,
          CAST(sum(conf) AS BIGINT) AS conf_sum,
          CAST(sum((conf - 1000000 * pos) * (conf - 1000000 * pos))
               AS BIGINT) AS se_sum
        FROM b GROUP BY 1),
gl AS (SELECT CAST((1000000 * sum(n_pos)) // sum(n) AS BIGINT)
               AS global_o_ppm FROM agg)
SELECT bin, n, n_pos,
  conf_sum // n AS mean_p_ppm,
  (1000000 * n_pos) // n AS mean_o_ppm,
  global_o_ppm,
  se_sum // n AS mse_pp2,
  CAST(n * (conf_sum // n - (1000000 * n_pos) // n)
         * (conf_sum // n - (1000000 * n_pos) // n)
       AS BIGINT) AS rel_num_pp2,
  CAST(n * ((1000000 * n_pos) // n - global_o_ppm)
         * ((1000000 * n_pos) // n - global_o_ppm)
       AS BIGINT) AS res_num_pp2
FROM agg, gl
"""


_EQUIDEPTH_ORACLE = """
WITH b AS (SELECT n_chars,
    CAST(ntile(8) OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS bucket
  FROM documents)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
  CAST(min(n_chars) AS BIGINT) AS min_val,
  CAST(max(n_chars) AS BIGINT) AS max_val,
  CAST(count(DISTINCT n_chars) AS BIGINT) AS ndv
FROM b GROUP BY 1
"""

_ENCODING_ORACLE = """
WITH long_t AS (
  SELECT source AS grp, doc_id AS rid, 'source' AS col_name,
         CAST(source AS VARCHAR) AS val FROM documents
  UNION ALL SELECT source, doc_id, 'lang', CAST(lang AS VARCHAR)
  FROM documents
  UNION ALL SELECT source, doc_id, 'n_chars', CAST(n_chars AS VARCHAR)
  FROM documents),
runs AS (SELECT col_name, val,
    (row_number() OVER w = 1
     OR val IS DISTINCT FROM lag(val) OVER w) AS is_head
  FROM long_t WINDOW w AS (PARTITION BY col_name, grp ORDER BY rid)),
base AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(coalesce(length(val), 0)) AS BIGINT) AS total_bytes,
    CAST(sum(CASE WHEN is_head THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
    CAST(sum(CASE WHEN is_head THEN coalesce(length(val), 0) ELSE 0 END)
         AS BIGINT) AS run_head_bytes
  FROM runs GROUP BY 1),
dist AS (SELECT col_name, CAST(count(*) AS BIGINT) AS ndv,
    CAST(sum(coalesce(length(val), 0)) AS BIGINT) AS distinct_bytes
  FROM (SELECT DISTINCT col_name, val FROM long_t) GROUP BY 1),
est AS (SELECT b.col_name, n, ndv, total_bytes, n_runs,
    total_bytes + 4 * n AS plain_bytes,
    distinct_bytes
      + (n * CAST(length(bin(greatest(ndv - 1, 1))) AS BIGINT) + 7) // 8
      AS dict_bytes,
    run_head_bytes + 4 * n_runs AS rle_bytes
  FROM base b JOIN dist d USING (col_name))
SELECT col_name, n, ndv, total_bytes, n_runs,
  CAST(plain_bytes AS BIGINT) AS plain_bytes,
  CAST(dict_bytes AS BIGINT) AS dict_bytes,
  CAST(rle_bytes AS BIGINT) AS rle_bytes,
  CASE WHEN plain_bytes <= dict_bytes AND plain_bytes <= rle_bytes
       THEN 'plain'
       WHEN dict_bytes <= rle_bytes THEN 'dict' ELSE 'rle' END
  AS encoding
FROM est
"""

_RENDEZVOUS_ORACLE = """
WITH keys AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k
              FROM documents),
tagged AS (SELECT k,
    md5(k || ':' || CAST(s AS VARCHAR)) || ':'
      || lpad(CAST(s AS VARCHAR), 2, '0') AS hs
  FROM keys, LATERAL unnest(generate_series(0, 15)) AS t(s)),
best AS (SELECT k, max(hs) AS win FROM tagged GROUP BY 1),
counts AS (SELECT CAST(right(win, 2) AS BIGINT) AS shard,
                  CAST(count(*) AS BIGINT) AS n_keys
           FROM best GROUP BY 1),
tot AS (SELECT CAST(sum(n_keys) AS BIGINT) AS t FROM counts)
SELECT shard, n_keys, (1000000 * n_keys) // t AS pct_ppm
FROM counts, tot
"""


_LATENESS_ORACLE = """
WITH e AS (SELECT user_id, ts,
    (event_id // 16) * 16 + (15 - event_id % 16) AS arr FROM events),
l AS (SELECT
    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY arr
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    - epoch_us(ts) AS late_us
  FROM e),
b AS (SELECT least(late_us // 600000000, 10) AS bucket, late_us FROM l)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(late_us) AS BIGINT) AS sum_late_us,
  CAST(max(late_us) AS BIGINT) AS max_late_us
FROM b GROUP BY 1
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

_TARGET_ENCODE_ORACLE = """
WITH b AS (SELECT source AS cat, (doc_id // 20) % 5 AS fold,
                  CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS t
           FROM documents),
cf AS (SELECT cat, fold, CAST(count(*) AS BIGINT) AS n_cf,
              CAST(sum(t) AS BIGINT) AS s_cf FROM b GROUP BY 1, 2),
c AS (SELECT cat, CAST(sum(n_cf) AS BIGINT) AS n_c,
             CAST(sum(s_cf) AS BIGINT) AS s_c FROM cf GROUP BY 1),
g AS (SELECT CAST(sum(n_cf) AS BIGINT) AS n_g,
             CAST(sum(s_cf) AS BIGINT) AS s_g FROM cf)
SELECT cat, CAST(fold AS BIGINT) AS fold, n_cf,
  CASE WHEN n_c > n_cf THEN (1000000 * (s_c - s_cf)) // (n_c - n_cf)
       ELSE (1000000 * s_g) // n_g END AS oof_mean_ppm
FROM cf JOIN c USING (cat), g
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


_TEXTTILE_ORACLE = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
words AS (SELECT doc_id,
          list_filter(string_split(t, ' '), w -> w <> '') AS ws
          FROM norm),
toks AS (SELECT doc_id AS d, CAST((i - 1) // 10 AS BIGINT) AS b,
                ws[CAST(i AS BIGINT)] AS t
         FROM words, LATERAL unnest(generate_series(1, len(ws)))
           AS r(i)),
ct AS (SELECT d, b, t, CAST(count(*) AS BIGINT) AS c
       FROM toks GROUP BY 1, 2, 3),
norms AS (SELECT d, b, CAST(sum(c * c) AS BIGINT) AS n2
          FROM ct GROUP BY 1, 2),
nblocks AS (SELECT d, CAST(count(*) AS BIGINT) AS n_blocks
            FROM norms GROUP BY 1),
dots AS (SELECT l.d, l.b, CAST(sum(l.c * r.c) AS BIGINT) AS dot
         FROM ct l JOIN ct r
           ON l.d = r.d AND l.t = r.t AND r.b = l.b + 1
         GROUP BY 1, 2),
gaps AS (SELECT n.d, n.b AS gap,
    CAST(floor(CAST(coalesce(dot, 0) AS DOUBLE) * 1000000.0
         / sqrt(CAST(n.n2 AS DOUBLE) * CAST(r2.n2 AS DOUBLE)) + 0.5)
      AS BIGINT) AS ucos
  FROM norms n JOIN norms r2 ON n.d = r2.d AND r2.b = n.b + 1
  LEFT JOIN dots ON dots.d = n.d AND dots.b = n.b),
dep AS (SELECT d, gap, ucos,
   CAST(greatest(coalesce(max(ucos) OVER (PARTITION BY d ORDER BY gap
          ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), ucos) - ucos, 0)
      + greatest(coalesce(max(ucos) OVER (PARTITION BY d ORDER BY gap
          ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), ucos) - ucos, 0)
     AS BIGINT) AS depth_u
  FROM gaps),
rk AS (SELECT *, row_number() OVER (PARTITION BY d
         ORDER BY depth_u DESC, gap) AS rn FROM dep)
SELECT rk.d AS doc_id, gap, n_blocks, ucos, depth_u,
  (rn <= 2 AND depth_u > 0) AS is_boundary
FROM rk JOIN nblocks ON nblocks.d = rk.d
"""


def _iforest_oracle(n_trees: int = 8, max_depth: int = 6,
                    seed: str = "if", k: int = 20) -> str:
    """Replays isolation_scores level by level as chained CTEs: per
    level one (tree, node) min/max agg, md5-derived feature/threshold,
    frozen nodes drain into dn{L}, survivors re-assign to child
    nodes."""
    def u32(purpose):
        return (f"('0x' || substr(md5('{seed}:' || CAST(tree AS "
                f"VARCHAR) || ':' || CAST(node AS VARCHAR) || "
                f"':{purpose}'), 1, 8))::UBIGINT")

    spikes = ", ".join(f"({d}, {a}, {b}, {c})"
                       for d, a, b, c in _IF_SPIKES)
    parts = [f"""
WITH pts AS (
  SELECT doc_id AS pid, CAST(n_chars AS BIGINT) AS x0,
         CAST(length(text) AS BIGINT) AS x1,
         CAST(doc_id % 97 AS BIGINT) AS x2 FROM documents
  UNION ALL
  SELECT CAST(pid AS BIGINT), CAST(x0 AS BIGINT), CAST(x1 AS BIGINT),
         CAST(x2 AS BIGINT)
  FROM (VALUES {spikes}) v(pid, x0, x1, x2)),
a0 AS (SELECT pid, x0, x1, x2, t.tree, CAST(1 AS BIGINT) AS node
       FROM pts, LATERAL unnest(generate_series(0, {n_trees - 1}))
         AS t(tree))"""]
    for lv in range(max_depth):
        parts.append(f""",
b{lv} AS (SELECT tree, node, CAST(count(*) AS BIGINT) AS cnt,
    CAST(min(x0) AS BIGINT) AS mn0, CAST(max(x0) AS BIGINT) AS mx0,
    CAST(min(x1) AS BIGINT) AS mn1, CAST(max(x1) AS BIGINT) AS mx1,
    CAST(min(x2) AS BIGINT) AS mn2, CAST(max(x2) AS BIGINT) AS mx2
  FROM a{lv} GROUP BY 1, 2),
c{lv} AS (SELECT tree, node, cnt,
    CAST({u32('f')} % 3 AS BIGINT) AS fi,
    CAST({u32('t')} AS DOUBLE) / 4294967296.0 AS u,
    mn0, mx0, mn1, mx1, mn2, mx2 FROM b{lv}),
d{lv} AS (SELECT tree, node, cnt, fi, u,
    CASE fi WHEN 1 THEN mn1 WHEN 2 THEN mn2 ELSE mn0 END AS mn,
    CASE fi WHEN 1 THEN mx1 WHEN 2 THEN mx2 ELSE mx0 END AS mx
  FROM c{lv}),
e{lv} AS (SELECT tree, node, fi, mn + (mx - mn) * u AS thr,
    (cnt <= 1 OR mn = mx) AS frozen FROM d{lv}),
dn{lv} AS (SELECT a.pid, a.tree, CAST({lv} AS BIGINT) AS depth
  FROM a{lv} a JOIN e{lv} e USING (tree, node) WHERE e.frozen),
a{lv + 1} AS (SELECT a.pid, a.x0, a.x1, a.x2, a.tree,
    a.node * 2 + CASE WHEN (CASE e.fi WHEN 1 THEN a.x1
                            WHEN 2 THEN a.x2 ELSE a.x0 END) >= e.thr
                 THEN 1 ELSE 0 END AS node
  FROM a{lv} a JOIN e{lv} e USING (tree, node) WHERE NOT e.frozen)""")
    dns = " UNION ALL ".join(
        [f"SELECT * FROM dn{lv}" for lv in range(max_depth)]
        + [f"SELECT pid, tree, CAST({max_depth} AS BIGINT) "
           f"FROM a{max_depth}"])
    parts.append(f""",
alldone AS ({dns}),
scores AS (SELECT pid, CAST(sum(depth) AS BIGINT) AS sum_depth
           FROM alldone GROUP BY 1),
ranked AS (SELECT pid AS doc_id, sum_depth,
             CAST(row_number() OVER (ORDER BY sum_depth, pid)
                  AS BIGINT) AS rank
           FROM scores)
SELECT doc_id, sum_depth, rank FROM ranked WHERE rank <= {k}
""")
    return "".join(parts)


_LINKAGE_PAIRS_CTE = """
WITH t0 AS (SELECT u.term FROM documents,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
    '[^a-z0-9]+'), w -> w <> '')) AS u(term)),
dic AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t0
        WHERE regexp_matches(term, '^[a-z]+$') AND length(term) >= 4
        GROUP BY 1),
top AS (SELECT term, cnt FROM dic ORDER BY cnt DESC, term LIMIT 100),
mang AS (SELECT DISTINCT
           substr(term, 1, CAST(cnt % length(term) AS INT))
           || substr(term, CAST(cnt % length(term) + 2 AS INT)) AS term
         FROM top),
allt AS (SELECT term FROM top UNION SELECT term FROM mang),
chars AS (SELECT term AS w, i, substr(term, CAST(i AS INT), 1) AS ch
  FROM allt, LATERAL unnest(generate_series(1, length(term))) r(i)),
coded AS (SELECT w, i,
  CASE WHEN ch IN ('b','f','p','v') THEN 1
       WHEN ch IN ('c','g','j','k','q','s','x','z') THEN 2
       WHEN ch IN ('d','t') THEN 3
       WHEN ch = 'l' THEN 4
       WHEN ch IN ('m','n') THEN 5
       WHEN ch = 'r' THEN 6
       WHEN ch IN ('h','w') THEN -1
       ELSE 0 END AS code
  FROM chars),
nohw AS (SELECT * FROM coded WHERE code <> -1 OR i = 1),
digits AS (SELECT w, i, code,
   lag(code) OVER (PARTITION BY w ORDER BY i) AS prev
  FROM nohw),
emit AS (SELECT w, i, code,
   row_number() OVER (PARTITION BY w ORDER BY i) AS rn
  FROM digits
  WHERE i > 1 AND code > 0 AND (prev IS NULL OR code <> prev)),
d3 AS (SELECT w, string_agg(CAST(code AS VARCHAR), '' ORDER BY i)
         AS ds
       FROM emit WHERE rn <= 3 GROUP BY w),
blocked AS (SELECT allt.term,
    upper(substr(allt.term, 1, 1)) || rpad(coalesce(ds, ''), 3, '0')
      AS sdx
  FROM allt LEFT JOIN d3 ON d3.w = allt.term),
pairs AS (SELECT l.term AS a, r.term AS b
          FROM blocked l JOIN blocked r
            ON l.sdx = r.sdx AND l.term < r.term)
"""

_JW_LINKAGE_ORACLE = _LINKAGE_PAIRS_CTE + """
SELECT a, b, round(jaro_winkler_similarity(a, b), 6) AS jw
FROM pairs WHERE round(jaro_winkler_similarity(a, b), 6) >= 0.85
"""


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


_REUSE_DISTANCE_ORACLE = """
WITH a AS (SELECT user_id AS u,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS key,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS seq
  FROM events WHERE user_id % 5 = 0),
p AS (SELECT u, key, seq,
    lag(seq) OVER (PARTITION BY u, key ORDER BY seq) AS prev
  FROM a),
d AS (SELECT CASE WHEN prev IS NULL THEN -1
    ELSE (SELECT CAST(count(DISTINCT a2.key) AS BIGINT) FROM a a2
          WHERE a2.u = p.u AND a2.seq > p.prev AND a2.seq < p.seq
            AND a2.key <> p.key) END AS distance
  FROM p)
SELECT distance, CAST(count(*) AS BIGINT) AS n_accesses
FROM d GROUP BY distance
"""


def _haar_oracle() -> str:
    """15 closed-form coefficient SELECTs over the per-user 16-slot
    epoch-day histogram (naive-date day diff == the Spark NTZ
    datediff day bucket, bit-exactly)."""
    cols = ", ".join(
        f"CAST(sum(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}" for i in range(16))
    arr = "[" + ", ".join(f"c{i}" for i in range(16)) + "]"
    sels = []
    for level in range(1, 5):
        h = 1 << (level - 1)
        for pos in range(16 >> level):
            a = pos << level
            sels.append(
                f"SELECT u AS user_id, CAST({level} AS BIGINT) AS"
                f" level, CAST({pos} AS BIGINT) AS pos,"
                f" CAST(list_sum(list_slice(x, {a + 1}, {a + h}))"
                f" - list_sum(list_slice(x, {a + h + 1},"
                f" {a + 2 * h})) AS BIGINT) AS coeff FROM arr")
    return (f"""
WITH bk AS (SELECT user_id AS u,
  (CAST(ts AS DATE) - DATE '1970-01-01') % 16 AS b FROM events),
cnt AS (SELECT u, {cols} FROM bk GROUP BY u),
arr AS (SELECT u, {arr} AS x FROM cnt)
""" + " UNION ALL ".join(sels))


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

_INTERLEAVE_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, u.term
  FROM documents,
  LATERAL unnest(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             w -> w <> '')) AS u(term)),
qt AS (SELECT * FROM (VALUES ('hash'), ('join'), ('spark'),
                             ('window'), ('stream')) AS t(term)),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM toks JOIN qt USING (term) GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
ra AS (SELECT term AS qid, doc_id,
         row_number() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id) AS rnk
       FROM tf),
rb AS (SELECT t.term AS qid, t.doc_id,
         row_number() OVER (PARTITION BY t.term
                            ORDER BY (1000000 * t.tf) // d.dl DESC,
                                     t.doc_id) AS rnk
       FROM tf t JOIN dl d USING (doc_id)),
la AS (SELECT qid, list(doc_id ORDER BY rnk) AS l FROM ra
       WHERE rnk <= 10 GROUP BY qid),
lb AS (SELECT qid, list(doc_id ORDER BY rnk) AS l FROM rb
       WHERE rnk <= 10 GROUP BY qid),
init AS (SELECT la.qid, la.l AS xa, lb.l AS xb
         FROM la JOIN lb USING (qid)),
draft AS (
  SELECT qid, xa, xb, 0 AS step,
         CAST([] AS BIGINT[]) AS picked,
         CAST([] AS BIGINT[]) AS ta, CAST([] AS BIGINT[]) AS tb
  FROM init
  UNION ALL
  SELECT qid, xa, xb, step + 1,
         list_append(picked, CASE WHEN t = 'A' THEN rem_a[1]
                                  ELSE rem_b[1] END),
         CASE WHEN t = 'A' THEN list_append(ta, rem_a[1]) ELSE ta END,
         CASE WHEN t = 'B' THEN list_append(tb, rem_b[1]) ELSE tb END
  FROM (
    SELECT qid, xa, xb, step, picked, ta, tb, rem_a, rem_b,
           CASE WHEN t0 = 'A' AND len(rem_a) = 0 THEN 'B'
                WHEN t0 = 'B' AND len(rem_b) = 0 THEN 'A'
                ELSE t0 END AS t
    FROM (
      SELECT *,
             list_filter(xa, d -> NOT list_contains(picked, d))
               AS rem_a,
             list_filter(xb, d -> NOT list_contains(picked, d))
               AS rem_b,
             CASE WHEN len(ta) < len(tb) THEN 'A'
                  WHEN len(tb) < len(ta) THEN 'B'
                  WHEN ascii(substr(md5(qid || ':'
                       || CAST(len(picked) AS VARCHAR)), 1, 1))
                       % 2 = 0 THEN 'A'
                  ELSE 'B' END AS t0
      FROM draft WHERE step < 10) s1) s2
  WHERE len(rem_a) > 0 OR len(rem_b) > 0),
fin AS (SELECT qid, ta, tb FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY step DESC) AS rn
          FROM draft) WHERE rn = 1),
rel AS (SELECT term AS qid, doc_id,
               CASE WHEN tf >= 2 AND doc_id % 3 > 0
                    THEN 1 ELSE 0 END AS rel FROM tf),
exp AS (SELECT qid, u.d AS doc_id, 'A' AS team
        FROM fin, LATERAL unnest(fin.ta) AS u(d)
        UNION ALL
        SELECT qid, u.d, 'B'
        FROM fin, LATERAL unnest(fin.tb) AS u(d)),
cred AS (SELECT e.qid,
           sum(CASE WHEN e.team = 'A' AND r.rel > 0
               THEN 1 ELSE 0 END) AS ca,
           sum(CASE WHEN e.team = 'B' AND r.rel > 0
               THEN 1 ELSE 0 END) AS cb
         FROM exp e JOIN rel r
           ON r.qid = e.qid AND r.doc_id = e.doc_id
         GROUP BY e.qid)
SELECT qid, CAST(ca AS BIGINT) AS credit_a,
       CAST(cb AS BIGINT) AS credit_b,
       CASE WHEN ca > cb THEN 'A' WHEN cb > ca THEN 'B'
            ELSE 'tie' END AS winner
FROM cred
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
        "dedup_minhash_jaccard": _MINHASH_ORACLE,
        "dedup_resolution": _DEDUP_RESOLUTION_ORACLE,
        "kg_eval_metrics": _EVAL_ORACLE,
        "kg_consistent_triples": _CONSISTENT_ORACLE,
        "kg_awareness": _AWARENESS_ORACLE,
        "tpch_volume_shipping": _Q7_ORACLE,
        "tpch_promo_revenue": _Q14_ORACLE,
        "tpch_top_supplier": _Q15_ORACLE,
        "tpch_large_orders": _Q18_ORACLE,
        "hdr_quantiles": _HDR_ORACLE,
        "hdr_group_quantiles": _HDR_GROUP_ORACLE,
        "ivm_refresh": _IVM_ORACLE,
        "events_stream_enrich": _ENRICH_ORACLE,
        "optimal_segmentation": _OPTSEG_ORACLE,
        "kg_cc_incremental": _CC_INC_ORACLE,
        "record_linkage": _LINKAGE_ORACLE,
        "bm25_map_mrr": _BM25_MAP_ORACLE,
        "events_cusum": _CUSUM_ORACLE,
        "session_transitions": _TRANSITIONS_ORACLE,
        "annotator_agreement": _KAPPA_ORACLE,
        "mad_outliers": _MAD_ORACLE,
        "events_gini": _GINI_ORACLE,
        "label_spread": _label_spread_oracle(),
        "calibration_bins": _CALIBRATION_ORACLE,
        "roc_auc": _ROC_AUC_ORACLE,
        "frequent_pairs": _FREQ_PAIRS_ORACLE,
        "link_truss": _KTRUSS_ORACLE,
        "pr_curve": _PR_CURVE_ORACLE,
        "ks_drift": _KS_DRIFT_ORACLE,
        "chi2_independence": _CHI2_ORACLE,
        "benford_digits": _BENFORD_ORACLE,
        "trend_mann_kendall": _MANN_KENDALL_ORACLE,
        "events_acf": _ACF_ORACLE,
        "link_jaccard": _LINK_JACCARD_ORACLE,
        "link_assortativity": _ASSORTATIVITY_ORACLE,
        "tcloseness_audit": _TCLOSENESS_ORACLE,
        "token_label_mi": _TOKEN_MI_ORACLE,
        "events_linfit": _LINFIT_ORACLE,
        "psi_drift": _PSI_ORACLE,
        "phrase_search": _PHRASE_ORACLE,
        "vocab_growth": _VOCAB_GROWTH_ORACLE,
        "hilbert_layout": _hilbert_oracle(),
        "tpch_idle_customers": _Q22_ORACLE,
        "kg_ee_probabilities": _EE_PROB_ORACLE,
        "embedding_kmeans": _kmeans_oracle(),
        "sequence_packing": _PACKING_ORACLE,
        "tfidf_cosine_pairs": _TFIDF_COS_ORACLE,
        "quality_classifier": _QUALITY_CLF_ORACLE,
        "events_interval_join": _INTERVAL_ORACLE,
        "ann_ivfpq": _ivfpq_oracle(),
        "events_funnel": _FUNNEL_ORACLE,
        "tpch_pricing_summary": _TPCH_Q1_ORACLE,
        "tpch_shipping_priority": _TPCH_Q3_ORACLE,
        "tpch_local_volume": _TPCH_Q5_ORACLE,
        "tpch_part_margin": _TPCH_Q9_ORACLE,
        "tpch_order_priority": _TPCH_Q4_ORACLE,
        "tpch_returned_items": _TPCH_Q10_ORACLE,
        "tpch_revenue_delta": _TPCH_Q6_ORACLE,
        "tpch_min_cost_supplier": _TPCH_Q2_ORACLE,
        "tpch_market_share": _TPCH_Q8_ORACLE,
        "tpch_important_parts": _TPCH_Q11_ORACLE,
        "tpch_late_line_priority": _TPCH_Q12_ORACLE,
        "tpch_order_counts": _TPCH_Q13_ORACLE,
        "tpch_supplier_variety": _TPCH_Q16_ORACLE,
        "tpch_small_qty_revenue": _TPCH_Q17_ORACLE,
        "tpch_disjunctive_revenue": _TPCH_Q19_ORACLE,
        "tpch_excess_suppliers": _TPCH_Q20_ORACLE,
        "tpch_waiting_suppliers": _TPCH_Q21_ORACLE,
        "proximity_minspan": _PROXIMITY_MINSPAN_ORACLE,
        "pareto_docs": _PARETO_DOCS_ORACLE,
        "link_shortest_paths": _LINK_SHORTEST_PATHS_ORACLE,
        "events_seasonality": _EVENTS_SEASONALITY_ORACLE,
        "prefix_filter_pairs": _PREFIX_FILTER_ORACLE,
        "events_kaplan_meier": _KAPLAN_MEIER_ORACLE,
        "audio_frame_stats": _AUDIO_FRAME_ORACLE,
        "naive_bayes": _NAIVE_BAYES_ORACLE,
        "zipf_fit": _ZIPF_ORACLE,
        "weighted_median": _WEIGHTED_MEDIAN_ORACLE,
        "link_clustering": _LINK_CLUSTERING_ORACLE,
        "isotonic_calibration": _ISOTONIC_ORACLE,
        "rake_keyphrases": _RAKE_ORACLE,
        "link_rings": _LINK_RINGS_ORACLE,
        "bucketed_batching": _BUCKET_BATCH_ORACLE,
        "posting_bytes": _POSTING_BYTES_ORACLE,
        "query_completion": _COMPLETION_ORACLE,
        "ams_f2": _AMS_F2_ORACLE,
        "harmonic_centrality": _HARMONIC_ORACLE,
        "link_simrank": _simrank_oracle(),
        "decision_stump": _STUMP_ORACLE,
        "maxsim_search": _maxsim_oracle(["hash", "join", "stream"]),
        "scc_pivot": _SCC_ORACLE,
        "ltr_features": _LTR_ORACLE,
        "trending_terms": _TRENDING_ORACLE,
        "gazetteer_spans": _gazetteer_oracle(GAZETTEER_PHRASES),
        "llr_collocations": _LLR_ORACLE,
        "mattr_diversity": _MATTR_ORACLE,
        "spearman_rho": _SPEARMAN_ORACLE,
        "brier_bins": _BRIER_ORACLE,
        "equidepth_hist": _EQUIDEPTH_ORACLE,
        "encoding_advisor": _ENCODING_ORACLE,
        "rendezvous_shards": _RENDEZVOUS_ORACLE,
        "lateness_profile": _LATENESS_ORACLE,
        "symspell_correct": _SYMSPELL_ORACLE,
        "boruvka_mst": _BORUVKA_ORACLE,
        "media_sobel": _sobel_oracle(),
        "woe_iv": _WOE_ORACLE,
        "target_encode": _TARGET_ENCODE_ORACLE,
        "skipgram_ppmi": _SKIPGRAM_ORACLE,
        "fd_violations": _fd_oracle([
            ("doc_to_source", "doc_id", "source"),
            ("len_to_lang", "n_chars", "lang"),
            ("source_to_lang", "source", "lang")]),
        "matryoshka_eval": _matryoshka_oracle(),
        "texttiling": _TEXTTILE_ORACLE,
        "isolation_forest": _iforest_oracle(),
        "jw_linkage": _JW_LINKAGE_ORACLE,
        "dedup_multitier": _MULTITIER_ORACLE.replace(
            "FROM documents",
            "FROM (SELECT * FROM documents WHERE doc_id % 5 = 0) "
            "documents"),
        "media_phash_pairs": _MEDIA_PHASH_PAIRS_ORACLE,
        # bcubed runs resolution on the doc_id%5 stratum: rewrite every
        # base-table read in the embedded resolution oracle to the
        # sampled subquery (6 occurrences: _AUG x2 + aug2 x3 + minhash).
        "dedup_bcubed": _DEDUP_BCUBED_ORACLE.format(
            resolution=_DEDUP_RESOLUTION_ORACLE.replace(
                "FROM documents",
                "FROM (SELECT * FROM documents WHERE doc_id % 5 = 0) "
                "documents")),
        "knn_shapley": _KNN_SHAPLEY_ORACLE,
        "reuse_distance": _REUSE_DISTANCE_ORACLE,
        "wl_colors": _WL_COLORS_ORACLE,
        "interleave_eval": _INTERLEAVE_ORACLE,
        "haar_signature": _haar_oracle(),
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
