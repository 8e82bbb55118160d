"""Contrastive training-pair mining for embedding-model training.

The data op behind dense-retriever / sentence-embedding training sets
(DPR, E5, GTE style): for each anchor document emit

* a POSITIVE - the semantically closest corpus document (top-1 by
  embedding cosine), and
* a HARD NEGATIVE - the most lexically confusable document that is
  semantically DISTANT (max shared k-word shingles among candidates
  whose anchor cosine sits below ``sem_threshold``): exactly the pair a
  contrastive loss learns the most from, because surface overlap alone
  would mis-rank it.

Scale shape:

* Anchors are a SAMPLE by contract (tens to thousands), so both the
  cosine side and the shingle side broadcast the anchor dimension; the
  corpus is scanned once per side and never self-joined.
* The lexical join is keyed on the shingle with the anchor side
  broadcast - candidate volume is (anchor shingles x corpus hits), not
  O(n^2); the semantic gate then prunes to below-threshold candidates
  before the per-anchor argmax window.
* Determinism: cosines are 6dp-rounded before ranking and the argmax
  windows tie-break on the id (the ivfpq ranked-float contract);
  shingle overlap counts are exact integers.

No counterpart in /root/reference (no embedding-training surface
there); semantics follow Karpukhin et al. 2020 (DPR) hard-negative
mining, with lexical confusability standing in for the BM25 retriever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import dedup
from .simsearch import _norm, _with_cosine


def frequent_pairs(df: DataFrame, basket_col: str, item_col: str,
                   min_support: int = 2) -> DataFrame:
    """A-priori size-2 frequent-itemset mining (Agrawal & Srikant 1994)
    over (basket, item) rows -> (item_a, item_b, n_ab, n_a, n_b,
    support_ppm, confidence_ppm, lift_ppm), item_a < item_b. The
    market-basket classic, here the co-occurrence miner for corpus
    telemetry (event types per user, tags per document, hosts per
    session): which items co-occur more than their marginals predict.

    Scale shape — the a-priori pruning IS the scale story:

    * Baskets dedupe to distinct (basket, item) first (one groupBy).
    * Items below ``min_support`` are pruned BEFORE the pair join
      (downward closure: an infrequent item can't be in a frequent
      pair), so the self-join fans out only over frequent items.
    * The pair generator is a basket-keyed equi-join with item_a <
      item_b — never an all-pairs product; hot baskets fan out as
      deg^2, so cap basket size upstream if the domain has them.
    * lift_ppm = 1e6 * P(ab) / (P(a)P(b)) = (1e6 * n_ab * n_baskets)
      div (n_a * n_b) — exact integers end to end, hash-gate safe.
    """
    b = (df.select(F.col(basket_col).alias("basket"),
                   F.col(item_col).alias("item"))
         .where(F.col("item").isNotNull()).distinct())
    n_baskets = b.select("basket").distinct() \
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    counts = b.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_item"))
    freq = counts.filter(F.col("n_item") >= min_support)
    fb = b.join(F.broadcast(freq.select("item")), "item")
    left = fb.select("basket", F.col("item").alias("item_a"))
    right = fb.select("basket", F.col("item").alias("item_b"))
    pairs = (left.join(right, "basket")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
             .filter(F.col("n_ab") >= min_support))
    ca = freq.select(F.col("item").alias("item_a"),
                     F.col("n_item").alias("n_a"))
    cb = freq.select(F.col("item").alias("item_b"),
                     F.col("n_item").alias("n_b"))
    return (pairs.join(F.broadcast(ca), "item_a")
            .join(F.broadcast(cb), "item_b")
            .crossJoin(F.broadcast(n_baskets))
            .select("item_a", "item_b", "n_ab", "n_a", "n_b",
                    F.expr("(1000000 * n_ab) div n_baskets")
                    .alias("support_ppm"),
                    F.expr("(1000000 * n_ab) div n_a")
                    .alias("confidence_ppm"),
                    F.expr("(1000000 * n_ab * n_baskets) div (n_a * n_b)")
                    .alias("lift_ppm")))


def frequent_triples(df: DataFrame, basket_col: str, item_col: str,
                     min_support: int = 2) -> DataFrame:
    """A-priori size-3 frequent-itemset mining -> (item_a, item_b,
    item_c, n_abc, support_ppm), item_a < item_b < item_c. The level-3
    pass of Agrawal & Srikant 1994 on top of :func:`frequent_pairs`'
    level-2 machinery.

    Scale shape — downward closure applied at BOTH levels before any
    triple is materialized:

    * Items below ``min_support`` are pruned before pair formation;
      basket-pairs are then semi-joined against the FREQUENT pair set
      (an infrequent pair can't extend to a frequent triple), so the
      triple generator fans out only over (frequent pair x frequent
      item) within a basket, never deg^3 over raw items.
    * The two downward-closure semi-joins on (a,c) and (b,c) prune
      candidates BEFORE the counting shuffle.
    * Pruning is performance-only: any triple with n_abc >=
      min_support necessarily has all its pairs and items frequent
      (count monotonicity), so the SQL oracle may count triples
      directly — same result, different plan.
    """
    b = (df.select(F.col(basket_col).alias("basket"),
                   F.col(item_col).alias("item"))
         .where(F.col("item").isNotNull()).distinct())
    n_baskets = b.select("basket").distinct() \
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    freq = (b.groupBy("item")
            .agg(F.count(F.lit(1)).cast("long").alias("n_item"))
            .filter(F.col("n_item") >= min_support))
    fb = b.join(F.broadcast(freq.select("item")), "item")
    left = fb.select("basket", F.col("item").alias("item_a"))
    right = fb.select("basket", F.col("item").alias("item_b"))
    bpairs = left.join(right, "basket") \
        .filter(F.col("item_a") < F.col("item_b"))
    fpairs = (bpairs.groupBy("item_a", "item_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
              .filter(F.col("n_ab") >= min_support)
              .select("item_a", "item_b"))
    fbp = bpairs.join(fpairs, ["item_a", "item_b"], "left_semi")
    cand = (fbp.join(fb.select("basket", F.col("item").alias("item_c")),
                     "basket")
            .filter(F.col("item_c") > F.col("item_b")))
    cand = cand.join(
        fpairs.select(F.col("item_a"), F.col("item_b").alias("item_c")),
        ["item_a", "item_c"], "left_semi")
    cand = cand.join(
        fpairs.select(F.col("item_a").alias("item_b"),
                      F.col("item_b").alias("item_c")),
        ["item_b", "item_c"], "left_semi")
    return (cand.groupBy("item_a", "item_b", "item_c")
            .agg(F.count(F.lit(1)).cast("long").alias("n_abc"))
            .filter(F.col("n_abc") >= min_support)
            .crossJoin(F.broadcast(n_baskets))
            .select("item_a", "item_b", "item_c", "n_abc",
                    F.expr("(1000000 * n_abc) div n_baskets")
                    .alias("support_ppm")))


def contrastive_pairs(docs: DataFrame, emb: DataFrame,
                      n_anchors: int = 20, shingle_k: int = 3,
                      sem_threshold: float = 0.5,
                      id_col: str = "doc_id", text_col: str = "text",
                      vec_id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """(anchor_id, positive_id, pos_cosine, negative_id, n_shared,
    neg_cosine); negative columns are NULL when no candidate shares a
    shingle with the anchor below the semantic threshold (left join -
    the anchor still yields its positive)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(vec_id_col).alias("cid"), vec.alias("cv")) \
        .withColumn("cn", _norm(F.col("cv")))
    anchors = (emb.filter(F.col(vec_id_col) < n_anchors)
               .select(F.col(vec_id_col).alias("qid"), vec.alias("qv"))
               .withColumn("qn", _norm(F.col("qv"))))
    cos6 = _with_cosine(base.crossJoin(F.broadcast(anchors))
                        .filter(F.col("qid") != F.col("cid"))) \
        .select("qid", "cid", F.round("cosine", 6).alias("cos6"))

    wpos = Window.partitionBy("qid").orderBy(F.col("cos6").desc(),
                                             F.col("cid"))
    pos = (cos6.withColumn("r", F.row_number().over(wpos))
           .filter(F.col("r") == 1)
           .select(F.col("qid").alias("anchor_id"),
                   F.col("cid").alias("positive_id"),
                   F.col("cos6").alias("pos_cosine")))

    sh = dedup.shingles(docs, id_col, text_col, shingle_k)
    asha = sh.filter(F.col(id_col) < n_anchors) \
        .select(F.col(id_col).alias("a"), "shingle")
    shb = sh.select(F.col(id_col).alias("b"), "shingle")
    shared = (shb.join(F.broadcast(asha), "shingle")
              .filter(F.col("a") != F.col("b"))
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared")))
    negc = (shared.join(cos6, (shared.a == cos6.qid)
                        & (shared.b == cos6.cid))
            .filter(F.col("cos6") < sem_threshold))
    wneg = Window.partitionBy("a").orderBy(F.col("n_shared").desc(),
                                           F.col("b"))
    neg = (negc.withColumn("r", F.row_number().over(wneg))
           .filter(F.col("r") == 1)
           .select(F.col("a").alias("anchor_id"),
                   F.col("b").alias("negative_id"), "n_shared",
                   F.col("cos6").alias("neg_cosine")))
    return pos.join(neg, "anchor_id", "left_outer")


def als_rank1(ratings: DataFrame, user_col: str, item_col: str,
              rating_col: str, n_iter: int = 3) -> DataFrame:
    """Rank-1 alternating least squares (the Netflix-prize primitive at
    its smallest honest size) over implicit-count ratings -> one row
    per observed (user, item): (user, item, r, u_q, v_q, pred_milli).
    The dominant singular pair of the ratings matrix: u ranks users by
    activity intensity, v ranks items by popularity-given-u, u*v is
    the baseline 'expected interaction count' whose residual feeds
    anomaly/novelty scoring.

    EVERYTHING cross-partition is an exact integer: both factors live
    in 1e-3 fixed point (u_q = u*1e3, v_q = v*1e3, init v_q = 1000),
    and each ALS update

        u_q = (1e6 * sum_j r_ij * v_qj) div (sum_j v_qj^2)
        v_q = (1e6 * sum_i r_ij * u_qi) div (sum_i u_qi^2)

    is an integer ratio of integer partial-agg sums — no float ever
    crosses a partition boundary, so the factorization is engine-exact
    under the hash gate (the integer-cents discipline applied to ALS;
    quantization noise is the documented contract, ~1e-3 relative per
    component). pred_milli = (u_q * v_q) div 1000 = 1e3 * u*v.
    Ratings must be non-negative integers (counts), which keeps every
    numerator/denominator positive so div's truncation direction never
    matters.

    Scale shape: the user-side update is one partial-agged groupBy
    over the ratings table joined to the BROADCAST item factor; the
    item factor (item cardinality by construction — event types,
    product catalog shards) is the only collect, the kmeans/LR 'only
    collect is the model' contract. n_iter fixed, no convergence
    test."""
    r = ratings.select(F.col(user_col).alias("u_id"),
                       F.col(item_col).alias("item"),
                       F.col(rating_col).cast("long").alias("r"))
    spark = r.sparkSession
    items = [row.item for row in r.select("item").distinct().collect()]
    v_rows = [(it, 1000) for it in sorted(items)]
    users = None
    for _ in range(n_iter):
        vdf = spark.createDataFrame(v_rows, "item string, v_q long")
        users = (r.join(F.broadcast(vdf), "item")
                 .groupBy("u_id")
                 .agg(F.sum(F.col("r") * F.col("v_q")).cast("long")
                      .alias("num"),
                      F.sum(F.col("v_q") * F.col("v_q")).cast("long")
                      .alias("den"))
                 .selectExpr("u_id", "(1000000 * num) div den AS u_q"))
        v_rows = [(row.item, int(row.v_q)) for row in
                  (r.join(users, "u_id")
                   .groupBy("item")
                   .agg(F.sum(F.col("r") * F.col("u_q")).cast("long")
                        .alias("num"),
                        F.sum(F.col("u_q") * F.col("u_q")).cast("long")
                        .alias("den"))
                   .selectExpr("item", "(1000000 * num) div den AS v_q")
                   .collect())]
        v_rows.sort()
    vdf = spark.createDataFrame(v_rows, "item string, v_q long")
    return (r.join(users, "u_id").join(F.broadcast(vdf), "item")
            .select(F.col("u_id").alias(user_col),
                    F.col("item").alias(item_col), "r", "u_q", "v_q",
                    F.expr("(u_q * v_q) div 1000").alias("pred_milli")))


def pareto_front(df: DataFrame, x_col: str, y_col: str,
                 group_cols: list | None = None) -> DataFrame:
    """2-D Pareto skyline (Borzsony/Kossmann SKYLINE OF): keep the rows
    not dominated within their group, where row b dominates row a iff
    b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y), both axes
    maximizing. Duplicate points on the front all survive (neither
    dominates the other). THE multi-objective selection primitive for
    corpus curation: "longest docs that are also the most lexically
    diverse", "highest-quality pages per crawl cost", etc.

    Scale shape — NOT the quadratic NOT-EXISTS self-join: 2-D skyline
    is a sweep. (1) reduce to one row per distinct x (max y, partial-
    agg groupBy); (2) one window over that per-group x-frame sorted by
    x DESC takes the running max of y over STRICTLY greater x (rows
    1-preceding); an x-column survives iff its max-y beats it;
    (3) equi-join the surviving (x, max_y) pairs back to pick up every
    tied original row. The window frame holds |distinct x| rows per
    group — corpus-scale input, statistic-scale frame — and the join
    back is a keyed equi-join (broadcastable when the front is small,
    which it almost always is). Dominance correctness splits into the
    two window facts: y < max y at same x => dominated by the same-x
    champion; y <= max y at greater x => dominated by that row."""
    gcols = list(group_cols or [])
    x, y = F.col(x_col), F.col(y_col)
    champ = (df.groupBy(*gcols, x_col)
             .agg(F.max(y).alias("_gx")))
    w = (Window.partitionBy(*gcols).orderBy(F.col(x_col).desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    front = (champ
             .withColumn("_prev", F.max("_gx").over(w))
             .filter(F.col("_prev").isNull() |
                     (F.col("_gx") > F.col("_prev")))
             .select(*gcols, x_col, F.col("_gx").alias(y_col)))
    return df.join(front, gcols + [x_col, y_col])


RAKE_STOPWORDS = ("a", "the", "and", "of", "is", "to")


def rake_keyphrases(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    stopwords: tuple = RAKE_STOPWORDS,
                    k: int = 3) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) -> top-``k``
    phrases per document with (phrase, score_micro, rank): candidate
    phrases are maximal stopword-free token runs; word score =
    degree/freq where freq counts the word's occurrences in the
    document's candidates and degree additionally credits
    co-occurrence (sum of lengths of the phrases it appears in);
    phrase score = sum of member-token scores. The model-free
    keyphrase baseline next to TextRank (which ranks single terms via
    the co-occurrence graph) - RAKE surfaces multi-word phrases with
    zero iteration.

    Integer-exact cross-engine: word score = degree * 10^6 div freq
    (floor), phrase score = integer SUM of member micro-scores (merge
    order cannot move it); identical phrase instances in one document
    collapse before ranking (they tie exactly by construction), and
    the final rank breaks ties (score desc, phrase asc) - fully
    deterministic.

    Scale shape: one posexplode + a per-DOCUMENT cumulative-sum window
    (partition = doc_id, bounded by document length - never a global
    sort), two partial-agged groupBys for freq/degree at (doc, word)
    cardinality, one join back on (doc, phrase-run), top-k via
    per-doc row_number."""
    toks = (df.select(F.col(id_col).alias("doc_id"),
                      F.posexplode(F.split(F.lower(F.col(text_col)),
                                           "[^a-z0-9]+"))
                      .alias("pos", "w"))
            .filter(F.col("w") != ""))
    is_stop = F.col("w").isin(*stopwords)
    win = Window.partitionBy("doc_id").orderBy("pos")
    toks = toks.withColumn("g", F.sum(is_stop.cast("long")).over(win))
    words = toks.filter(~is_stop)
    plen = Window.partitionBy("doc_id", "g")
    words = words.withColumn("plen", F.count(F.lit(1)).over(plen))
    wstat = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"))
    scored = words.join(wstat, ["doc_id", "w"]).withColumn(
        "wscore", F.expr("degree * 1000000 div freq"))
    phrases = (scored.groupBy("doc_id", "g")
               .agg(F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list(
                                F.struct("pos", "w"))),
                            lambda s: s["w"]), " ").alias("phrase"),
                    F.sum("wscore").alias("score_micro"))
               .select("doc_id", "phrase", "score_micro").distinct())
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("phrase"))
    return (phrases.withColumn("rank", F.row_number().over(rk))
            .filter(F.col("rank") <= k)
            .select("doc_id", "phrase",
                    F.col("score_micro").cast("long").alias("score_micro"),
                    F.col("rank").cast("long").alias("rank")))


def gazetteer_spans(docs: DataFrame, phrases: list,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Multi-phrase gazetteer matching with LEFTMOST-LONGEST conflict
    resolution (the Aho-Corasick reporting convention every
    dictionary-based entity tagger uses: at each position take the
    longest match, then resume past it - overlapping shorter matches
    are suppressed). -> (doc_id, start_tok, end_tok, phrase), token
    positions 1-based over the shared bm25 tokenizer contract
    (lowercase, [^a-z0-9]+ split, empties dropped).

    The gazetteer is a model-sized list - closed over, the
    broadcast-model pattern; matching + resolution run in ONE
    Arrow-batched mapInPandas over the narrow (id, text) projection:
    zero shuffle, corpus-parallel. Resolution is the candidate scan
    ordered (start asc, len desc) keeping any match that starts past
    the last kept end - per-row sequential state no relational
    operator expresses (the DuckDB twin says it as a recursive CTE
    carrying last_end)."""
    import re as _re
    pts = [tuple(t for t in _re.split(r"[^a-z0-9]+", p.lower()) if t)
           for p in phrases]
    pts = sorted({t for t in pts if t}, key=lambda t: (-len(t), t))
    out_schema = (f"{id_col} long, start_tok long, end_tok long, "
                  "phrase string")

    def fn(batches):
        import pandas as pd
        for b in batches:
            ids, starts, ends, names = [], [], [], []
            for i, t in zip(b[id_col], b[text_col]):
                toks = [w for w in _re.split(
                    r"[^a-z0-9]+", (t or "").lower()) if w]
                cands = []
                for p, _ in enumerate(toks):
                    for pt in pts:
                        ln = len(pt)
                        if tuple(toks[p:p + ln]) == pt:
                            cands.append((p + 1, -ln, " ".join(pt)))
                cands.sort()
                last_end = 0
                for start, neg_ln, name in cands:
                    if start > last_end:
                        end = start - neg_ln - 1
                        ids.append(i)
                        starts.append(start)
                        ends.append(end)
                        names.append(name)
                        last_end = end
            yield pd.DataFrame({id_col: ids, "start_tok": starts,
                                "end_tok": ends, "phrase": names})

    return docs.select(id_col, text_col).mapInPandas(fn, out_schema)


