"""Text-analysis operators for large-scale training-data pipelines:
character-trigram language-ID, quality scoring, token counting,
document fingerprinting.

All four are pure built-in-function column expressions - they run entirely
JVM-side inside whole-stage codegen (no Python UDFs), so they scale with
the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _occurrences(col, word):
    """Count of standalone `word` tokens: size(split(' '||text||' ',
    ' word ')) - 1 counts non-overlapping separators; matches the SQL twin
    len(string_split(...)) - 1. Overlapping separators (word word) are
    counted once by both engines - the same convention on both sides."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return F.size(F.split(padded, F.lit(" " + word + " "))) - 1


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length
    heuristics, combined into a 0..1 score (all integer/decimal arithmetic
    so the SQL twin hashes identically)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, F.lit(" ")))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    n_stop = None
    for w in ("the", "and", "of", "is", "a", "to"):
        occ = _occurrences(F.lower(t), w)
        n_stop = occ if n_stop is None else n_stop + occ
    return (df
            .withColumn("n_chars", n_chars.cast("long"))
            .withColumn("n_tokens", n_tokens.cast("long"))
            .withColumn("n_punct", n_punct.cast("long"))
            .withColumn("n_stopwords", n_stop.cast("long"))
            .withColumn(
                "quality",
                F.round(
                    F.when(F.col("n_tokens") <= 0, F.lit(0.0)).otherwise(
                        F.least(F.lit(1.0), F.col("n_stopwords") * 6.0
                                / F.col("n_tokens"))
                        * (1.0 - F.least(F.lit(1.0), F.col("n_punct") * 4.0
                                         / F.col("n_chars")))),
                    6)))


# Whitespace class for ws-token counting (ops/packing.py), spelled out
# because the two engines' \s disagree on exactly one character: Java \s
# (Spark) is [ \t\n\x0b\f\r] while RE2 \s (DuckDB) is [ \t\n\f\r] - no
# \x0b (vertical tab). A '\s+' twin silently diverges on any text containing
# \x0b (caught by tests/test_packing.py adversarial sweep). \v is NOT a
# safe spelling either: Java \v means "vertical whitespace" (a 6-char
# class) while RE2 \v is the single \x0b. Hex-escaped, the class is
# byte-identical under both engines.
WS_PATTERN = r"[ \t\n\x0b\f\r]+"


def _top_run(sorted_arr):
    """Max run length in a SORTED array = count of the most frequent
    element. One fold over the per-row array (tens of elements) - array
    lambdas at this size are cheap; the pathological case is per-ROW
    blowup, not per-element work."""
    step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        .alias("run"),
        F.greatest(acc["best"],
                   F.when(x == acc["prev"], acc["run"] + 1)
                   .otherwise(F.lit(1))).alias("best"))
    init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))
    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     keep: tuple = ()) -> DataFrame:
    """Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1,
    the standard webtext filter family): per document,

    * ``n_words``          - whitespace token count;
    * ``dup_word_frac``    - 1 - distinct_words/words (word-level mass of
      repetition);
    * ``top_word_frac``    - occurrences of the most frequent word / words
      (Gopher's top-n-gram fraction at n=1);
    * ``top_bigram_frac``  - same for 2-grams (0.0 for 1-word docs);
    * ``mean_word_len``    - sum(len(word))/words.

    Pure codegen: per-row array expressions only (split/array_distinct/
    array_sort + one fold per array - the most-frequent count is the max
    run length of the sorted array, avoiding any explode/groupBy
    shuffle). A corpus filter is then a plain WHERE over these columns."""
    words = F.split(F.col(text_col), F.lit(" "))
    n = F.size(words)
    nd = F.size(F.array_distinct(words))
    # guarded: sequence/element_at never go out of bounds on 0/1-word
    # docs (slice(words, 1, 0) is the empty array<string>)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(F.element_at(words, i), F.lit(" "),
                           F.element_at(words, i + 1)))) \
        .otherwise(F.slice(words, 1, 0))
    nb = n - 1
    top_w = _top_run(F.array_sort(words))
    top_b = _top_run(F.array_sort(bigrams))
    char_sum = F.aggregate(words, F.lit(0),
                           lambda acc, x: acc + F.length(x))
    return df.select(
        id_col,
        *keep,          # carry-through columns: filter chains compose
        n.cast("long").alias("n_words"),
        F.round(F.when(n > 0, 1.0 - nd / n).otherwise(0.0), 6)
        .alias("dup_word_frac"),
        F.round(F.when(n > 0, top_w / n).otherwise(0.0), 6)
        .alias("top_word_frac"),
        F.round(F.when(nb > 0, top_b / nb).otherwise(0.0), 6)
        .alias("top_bigram_frac"),
        F.round(F.when(n > 0, char_sum / n).otherwise(0.0), 6)
        .alias("mean_word_len"))


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    vocab: DataFrame | None = None) -> DataFrame:
    """CCNet-style language-model quality signal: per document the mean
    unigram log-probability and the corresponding perplexity
    ``exp(-mean)`` - the workhorse corpus-quality score one tier above
    the stopword heuristics (documents of improbable tokens - boilerplate
    residue, encoding damage, gibberish - score high-perplexity and get
    filtered or down-weighted in the mix).

    ``vocab`` (word string, logprob double) supplies an external model
    (the CCNet setup scores web text under a Wikipedia LM); by default
    the model is the corpus itself (self-scoring): word counts over the
    normalized corpus, logprob = ln(count/total). Out-of-vocabulary
    words (possible only with an external vocab) take the floor
    ln(1)-ln(total)-style smoothing via ``oov_logprob`` = null-filled
    minimum of the vocab minus ln(10).

    Shape: one word explode (map-side) -> vocab join (AQE picks
    broadcast for LM-sized vocabs; the self-built corpus vocab stays a
    shuffle join at corpus scale, which is correct - a 100-TB corpus
    vocab does not broadcast) -> one partial-agg groupBy per doc."""
    from .dedup import normalized_text
    tok = df.select(F.col(id_col),
                    F.explode(F.split(normalized_text(F.col(text_col)),
                                      " ")).alias("w")) \
        .filter(F.col("w") != "")        # empty docs emit no tokens
    if vocab is None:
        counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
        total = counts.agg(F.sum("wn").alias("tot"))
        vocab = (counts.crossJoin(F.broadcast(total))
                 .select(F.col("w").alias("word"),
                         F.log(F.col("wn") / F.col("tot")).alias("logprob")))
        oov = None                      # self-scored: no OOV possible
    else:
        oov = vocab.agg(
            (F.min("logprob") - F.log(F.lit(10.0))).alias("o")).first().o
    scored = tok.join(vocab.withColumnRenamed("word", "w"), "w", "left")
    if oov is not None:
        scored = scored.withColumn(
            "logprob", F.coalesce("logprob", F.lit(float(oov))))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("logprob").alias("mean_lp"))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.round("mean_lp", 6).alias("mean_logprob"),
                    F.round(F.exp(-F.col("mean_lp")), 4).alias("ppl")))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization fingerprint: md5 of lowercased alnum+space text with
    collapsed whitespace - the exact-dedup key."""
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 ]", ""),
        r" +", " "))
    return df.withColumn("fingerprint", F.md5(norm))


# ------------------------------------------------------------------ trigram
# language-ID tier 2: character-trigram profiles over 12 languages.
# LANG_SEEDS are self-authored sample sentences (two per language) that
# double as the deterministic multilingual test corpus; profiles are the
# distinct trigrams of each language's seed text. Scoring = for each doc
# trigram occurrence, +1 to every language whose profile contains it -
# integer sums, so aggregation order cannot perturb the argmax.
LANG_SEEDS = {
    "ar": ("الثعلب البني السريع يقفز فوق الكلب الكسول بينما تنام القطة قرب الموقد الدافئ",
           "أكلنا معا في المدينة القديمة مساء أمس وتحدثنا كثيرا عن الموسيقى والفن"),
    "de": ("der schnelle braune fuchs springt über den faulen hund und die katze schläft am warmen ofen",
           "wir haben gestern abend zusammen in der alten stadt gegessen und viel über musik gesprochen"),
    "en": ("the quick brown fox jumps over the lazy dog while the cat sleeps near the warm stove",
           "we ate together in the old town yesterday evening and talked a lot about music and art"),
    "es": ("el rápido zorro marrón salta sobre el perro perezoso mientras el gato duerme junto a la estufa",
           "anoche cenamos juntos en la ciudad vieja y hablamos mucho sobre música y arte"),
    "fr": ("le rapide renard brun saute par dessus le chien paresseux pendant que le chat dort près du poêle",
           "hier soir nous avons mangé ensemble dans la vieille ville et beaucoup parlé de musique"),
    "it": ("la rapida volpe marrone salta sopra il cane pigro mentre il gatto dorme vicino alla stufa calda",
           "ieri sera abbiamo mangiato insieme nella città vecchia e abbiamo parlato molto di musica"),
    "ja": ("すばやい茶色のきつねはなまけものの犬をとびこえてねこはあたたかいストーブのそばでねむる",
           "きのうのばんわたしたちはふるいまちでいっしょにしょくじをしておんがくについてたくさんはなした"),
    "nl": ("de snelle bruine vos springt over de luie hond terwijl de kat slaapt bij de warme kachel",
           "we hebben gisteravond samen in de oude stad gegeten en veel over muziek gesproken"),
    "pt": ("a rápida raposa marrom salta sobre o cão preguiçoso enquanto o gato dorme perto do fogão",
           "ontem à noite comemos juntos na cidade velha e falamos muito sobre música e arte"),
    "ru": ("быстрая коричневая лиса прыгает через ленивую собаку пока кот спит у тёплой печки",
           "вчера вечером мы вместе ужинали в старом городе и много говорили о музыке"),
    "sv": ("den snabba bruna räven hoppar över den lata hunden medan katten sover vid den varma spisen",
           "vi åt tillsammans i gamla staden igår kväll och pratade mycket om musik och konst"),
    "tr": ("hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve kedi sıcak sobanın yanında uyur",
           "dün akşam eski şehirde birlikte yemek yedik ve müzik hakkında çok konuştuk"),
}

TRIGRAM_LANGS = tuple(sorted(LANG_SEEDS))


def _seed_trigrams(text: str) -> set:
    padded = " " + " ".join(text.split()) + " "
    return {padded[i:i + 3] for i in range(len(padded) - 2)}


def trigram_profiles() -> list:
    """(lang, trigram) rows - the broadcastable model table. At 100
    languages this is a few hundred KB; a production deployment would
    load it from a dictionary table the same way."""
    return [(lang, t)
            for lang in TRIGRAM_LANGS
            for t in sorted(_seed_trigrams(" ".join(LANG_SEEDS[lang])))]


def lang_id_trigram(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, predicted_lang): character-trigram model tier.

    Plan shape: doc trigrams exploded map-side (array expression over
    the padded text), equi-joined against the BROADCAST profile table,
    then ONE integer-sum aggregation per doc with a per-language
    conditional count and a map-side argmax (greatest + CASE cascade,
    ties -> alphabetical first, matching the marker-word tier). Docs
    with no profile hit rejoin via a left join and classify 'und'."""
    spark = df.sparkSession
    prof = spark.createDataFrame(trigram_profiles(),
                                 "lang string, trigram string")
    padded = F.concat(F.lit(" "),
                      F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                       r"\s+", " "),
                      F.lit(" "))
    trigs = (df.select(F.col(id_col), padded.alias("t"))
             .select(id_col, F.explode(F.expr(
                 "transform(sequence(1, greatest(length(t)-2, 1)), "
                 "i -> substr(t, i, 3))")).alias("trigram")))
    hits = trigs.join(F.broadcast(prof), "trigram")
    aggs = [F.sum(F.when(F.col("lang") == lang, 1).otherwise(0))
            .alias("ts_" + lang) for lang in TRIGRAM_LANGS]
    scores = hits.groupBy(id_col).agg(*aggs)
    best = F.greatest(*[F.col("ts_" + lang) for lang in TRIGRAM_LANGS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in TRIGRAM_LANGS:
        pred = pred.when(F.col("ts_" + lang) == best, F.lit(lang))
    scored = scores.withColumn("predicted_lang", pred)
    return (df.select(id_col)
            .join(scored.select(id_col, "predicted_lang"), id_col, "left")
            .withColumn("predicted_lang",
                        F.coalesce("predicted_lang", F.lit("und"))))


def assign_split(df: DataFrame, weights: dict, id_col: str = "doc_id",
                 salt: str = "split1") -> DataFrame:
    """Deterministic train/val/test split assignment - the other half of
    the data-mixing toolkit next to ``stratified_sample``.

    Splits get consecutive fate ranges in [0, 10000), in sorted split-name
    order, sized by ``weights`` (weights may sum to < 1; rows whose fate
    falls past the total get a NULL split = held out). The fate is
    ``conv(substr(md5(salt:id), 1, 8), 16, 10) % 10000`` - a pure
    function of (salt, id), so membership is reproducible across runs,
    engines and corpus growth (a document never migrates between splits
    when new data arrives), and independent across salts. Pure codegen,
    no shuffle, no RNG state."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        1, 8), 16, 10).cast("long") % 10000
    expr = None
    lo = 0
    for name, w in sorted(weights.items()):
        hi = lo + int(round(w * 10000))
        cond = (h >= lo) & (h < hi)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
        lo = hi
    if expr is None:
        return df.withColumn("split", F.lit(None).cast("string"))
    return df.withColumn("split", expr.otherwise(F.lit(None)))


def stratified_sample(df: DataFrame, rates: dict, stratum_col: str,
                      id_col: str = "doc_id",
                      salt: str = "mix1") -> DataFrame:
    """Deterministic stratified sampling - the data-mixing primitive of a
    training-corpus pipeline (per-language / per-domain / per-quality
    retention weights).

    A row with stratum s survives iff
    ``conv(substr(md5(salt:id), 1, 8), 16, 10) % 10000 < rates[s]*10000``
    - a pure function of (salt, id), so mixes are reproducible across
    runs and engines (the SQL oracle replays the identical hash), rows
    keep independent fates across different salts, and the filter is
    whole-stage-codegen with no shuffle and no RNG state. Strata absent
    from ``rates`` are dropped (rate 0); an empty ``rates`` therefore
    drops every row."""
    if not rates:
        return df.filter(F.lit(False))
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        1, 8), 16, 10).cast("long") % 10000
    rate_col = None
    for s, r in sorted(rates.items()):
        thr = F.lit(int(round(r * 10000)))
        cond = F.when(F.col(stratum_col) == s, thr)
        rate_col = cond if rate_col is None else rate_col.when(
            F.col(stratum_col) == s, thr)
    rate_col = rate_col.otherwise(F.lit(0))
    return df.filter(h < rate_col)


def _word_array(text_col):
    """Normalized word array of a text column (shared by the n-gram LMs):
    lowercase, strip non-alphanumerics, collapse whitespace, split, drop
    empties. Pure codegen."""
    from .dedup import normalized_text
    return F.filter(F.split(normalized_text(text_col), " "),
                    lambda w: w != "")


def doc_bigrams(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, w1, w2) bigram tokens per document, formed entirely map-side:
    within-row slice+zip+explode - no window function, no shuffle. Docs
    with fewer than two words emit no rows."""
    return (df.select(F.col(id_col), _word_array(F.col(text_col)).alias("ws"))
            .filter(F.size("ws") >= 2)
            .withColumn("a", F.expr("slice(ws, 1, size(ws) - 1)"))
            .withColumn("b", F.expr("slice(ws, 2, size(ws) - 1)"))
            .select(id_col, F.explode(F.arrays_zip("a", "b")).alias("p"))
            .select(id_col, F.col("p.a").alias("w1"),
                    F.col("p.b").alias("w2")))


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   bigram_model: DataFrame | None = None,
                   discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity per document - the
    CCNet/KenLM-tier corpus-quality filter one order above
    ``unigram_logprob`` (context-sensitive: "the the the" scores badly
    under a bigram model but fine under a unigram one).

    Model (absolute discounting D, Chen & Goodman eq. 4.21 at n=2):

        p(w2|w1) = max(c(w1 w2) - D, 0) / c(w1.)
                   + D * N1+(w1.) / c(w1.) * Pcont(w2)
        Pcont(w2) = N1+(.w2) / |distinct bigram types|

    where c(w1.) counts bigram tokens with left word w1, N1+(w1.) its
    distinct followers, and N1+(.w2) the distinct left-contexts of w2
    (the continuation count - the KN signature). ``bigram_model``
    (w1, w2, c) supplies an external model (score web text under a
    clean-corpus LM); default is self-scoring. Under an external model,
    an unseen bigram takes the backoff term only and an unseen context
    falls back to the continuation probability (0.5 pseudo-count for a
    wholly unseen word).

    Shape at 100 TB: bigram formation is per-row codegen (no shuffle);
    the model is two map-side-combinable groupBys over the bigram table;
    scoring is three shuffle joins keyed on words (an LM over a web
    corpus does NOT broadcast - the shuffle is inherent, and AQE picks
    broadcast automatically at small scale) plus one per-doc partial
    agg."""
    D = float(discount)
    bag = doc_bigrams(df, id_col, text_col)
    if bigram_model is None:
        bgc = bag.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    else:
        bgc = bigram_model.select("w1", "w2", F.col("c").alias("c12"))
    ctx = bgc.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                F.count(F.lit(1)).alias("nfol"))
    cont = bgc.groupBy("w2").agg(F.count(F.lit(1)).alias("cont"))
    tot = bgc.agg(F.count(F.lit(1)).alias("nbt"))
    scored = (bag.join(bgc, ["w1", "w2"], "left")
              .join(ctx, "w1", "left")
              .join(cont, "w2", "left")
              .crossJoin(F.broadcast(tot)))
    pcont = F.coalesce("cont", F.lit(0.5)) / F.col("nbt")
    p = F.when(
        F.col("c1").isNotNull(),
        F.greatest(F.coalesce("c12", F.lit(0)) - D, F.lit(0.0))
        / F.col("c1")
        + F.lit(D) * F.col("nfol") / F.col("c1") * pcont
    ).otherwise(pcont)
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg(F.log(p)).alias("mean_lp"))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.round("mean_lp", 6).alias("mean_logprob"),
                    F.round(F.exp(-F.col("mean_lp")), 4).alias("ppl")))


def pmi_collocations(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_count: int = 5,
                     k: int = 50) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information -
    the classic corpus-analytics pass (Church & Hanks 1990) a
    training-data pipeline runs to surface multi-word expressions and
    template boilerplate.

        pmi = ln( (c_xy / B) / ((c_x / N) * (c_y / N)) )

    with c_xy the corpus bigram count (over ``doc_bigrams``' map-side
    within-row pairs), c_x/c_y unigram counts, B/N the bigram/unigram
    totals. ``min_count`` drops the unstable low-frequency tail before
    any join, so the joined relation is vocabulary-sized, not
    corpus-sized.

    Scale shape: two partial-aggregated ``groupBy`` counts (map-side
    combine absorbs Zipfian head words), the totals reduced to a 1-row
    broadcast, and two joins of the *filtered* bigram table against the
    unigram table - both sides are vocabulary-scale, orders below the
    token stream, and AQE picks broadcast when the vocab fits. The
    final top-k is a TakeOrdered (no global sort materialization). PMI
    is rounded to 6 decimals BEFORE ranking so the cut is deterministic
    across engines; ties break on (w1, w2)."""
    words = (df.select(F.explode(_word_array(F.col(text_col))).alias("w")))
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    totals = uni.agg(F.sum("c_w").alias("n_total"))
    bg = (doc_bigrams(df, id_col, text_col)
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
          .filter(F.col("c_xy") >= min_count))
    btot = bg.agg(F.sum("c_xy").alias("b_total"))
    joined = (bg
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("c_w").alias("c_x")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("c_w").alias("c_y")), "w2")
              .crossJoin(F.broadcast(totals))
              .crossJoin(F.broadcast(btot)))
    scored = joined.withColumn(
        "pmi", F.round(F.log(
            (F.col("c_xy") / F.col("b_total"))
            / ((F.col("c_x") / F.col("n_total"))
               * (F.col("c_y") / F.col("n_total")))), 6))
    return (scored
            .orderBy(F.col("pmi").desc(), "w1", "w2").limit(k)
            .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi"))


def length_percentiles(df: DataFrame, stratum_col: str = "lang",
                       value_col: str = "n_chars",
                       percentiles=(0.25, 0.5, 0.9, 0.99),
                       approx: bool = False) -> DataFrame:
    """Per-stratum length distribution telemetry (the dashboard query
    behind corpus length-filter thresholds): exact linear-interpolated
    percentiles plus count/mean per stratum.

    The exact path uses Spark's ``percentile`` aggregate, which buffers
    each group's values (ObjectHashAggregate) - correct and fine when
    strata are few and group cardinality fits an executor, which is the
    case for per-language rollups at any corpus size ONLY via the
    ``approx=True`` branch: ``percentile_approx`` (GK sketch, bounded
    memory, mergeable map-side) is the 100-TB path, at the cost of
    rank-error epsilon. The oracle gates the exact branch; the approx
    branch shares schema so callers can flip the flag without plumbing
    changes."""
    ps = "array(" + ", ".join(repr(float(p)) for p in percentiles) + ")"
    fn = "percentile_approx" if approx else "percentile"
    extra = ", 10000" if approx else ""
    agg = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(value_col), 4).alias("mean_val"),
        F.expr(f"{fn}({value_col}, {ps}{extra})").alias("pcts"))
    cols = [F.col(stratum_col), F.col("n_docs"), F.col("mean_val")]
    for i, p in enumerate(percentiles):
        name = f"p{str(p).replace('0.', '').ljust(2, '0')}"
        cols.append(F.round(F.col("pcts")[i], 4).alias(name))
    return agg.select(*cols)


def grouped_topk(df: DataFrame, group_col: str, order_col: str,
                 k: int = 3, ascending: bool = False,
                 tie_col: str = "doc_id") -> DataFrame:
    """Top-``k`` rows per group (per-domain best documents, per-language
    longest pages, per-host freshest captures ...), rank attached.

    One ``row_number`` window - but Spark compiles the rank<=k filter
    into a WindowGroupLimit that prunes to k rows per group DURING the
    sort (per-partition pre-limit before the shuffle, again after), so
    the exchange carries O(k * groups * mappers), not the corpus, and
    no group is ever fully materialized. This is the shape to prefer
    over collect_list+slice for any per-group head. Ties break on
    ``tie_col`` so the cut is deterministic across engines."""
    order = (F.col(order_col).asc() if ascending
             else F.col(order_col).desc())
    w = Window.partitionBy(group_col).orderBy(order, F.col(tie_col).asc())
    return (df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("rank", F.col("rank").cast("long")))


def ccnet_buckets(df: DataFrame, lang_col: str = "lang",
                  value_col: str = "ppl", id_col: str = "doc_id",
                  n_buckets: int = 3, approx: bool = False) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al. 2020):
    rank each language's documents by LM perplexity and cut into
    ``n_buckets`` equal-count tiers - head/middle/tail for the classic 3
    (head = lowest perplexity = cleanest text). The bucket label is the
    standard mixing key: train mostly on head, sample middle, drop or
    down-weight tail.

    Exact path: ``ntile`` over a per-language window ordered by
    (value, id) - deterministic across engines (the tiebreak pins the
    order; ntile then depends only on rank), gated by the SQL oracle.
    The window sorts each language's full partition, which is correct
    telemetry-scale but a single-language 100-TB corpus is one giant
    partition - so ``approx=True`` is the production path: per-language
    ``percentile_approx`` thresholds (GK sketch, mergeable map-side)
    broadcast-joined back, bucket = 1 + #thresholds strictly below the
    value. Boundary docs (exact threshold ties) may land one bucket
    earlier than ntile's equal-count cut - rank-epsilon, by design.
    Both branches share the output schema (id, lang, value, bucket).
    """
    labels = (["head", "middle", "tail"] if n_buckets == 3
              else [f"b{i + 1}" for i in range(n_buckets)])

    def name(tile):
        m = F.when(tile == 1, F.lit(labels[0]))
        for i in range(1, n_buckets):
            m = m.when(tile == i + 1, F.lit(labels[i]))
        return m

    if not approx:
        w = Window.partitionBy(lang_col).orderBy(
            F.col(value_col).asc(), F.col(id_col).asc())
        tile = F.ntile(n_buckets).over(w)
        return df.select(id_col, lang_col, value_col,
                         name(tile).alias("bucket"))
    qs = "array(" + ", ".join(repr(i / n_buckets)
                              for i in range(1, n_buckets)) + ")"
    thr = df.groupBy(lang_col).agg(
        F.expr(f"percentile_approx({value_col}, {qs}, 10000)").alias("ths"))
    joined = df.join(F.broadcast(thr), lang_col)
    tile = (F.lit(1) + F.aggregate(
        "ths", F.lit(0),
        lambda acc, t: acc + F.when(t < F.col(value_col), 1).otherwise(0)))
    return joined.select(id_col, lang_col, value_col,
                         name(tile).alias("bucket"))


def nfc_normalize(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization + encoding-damage telemetry:
    (id, text_nfc, changed, n_cp_before, n_cp_after). Normalizing to
    NFC is step zero of every multilingual corpus pipeline - dedup
    fingerprints, tokenizers, and n-gram models all silently fork on
    composed-vs-decomposed sequences ('e'+U+0301 vs U+00E9) and the
    changed/shrink counters are the standard mojibake dashboards.

    Python-unavoidable by design, not accident: Spark SQL ships no NFC
    expression (collation support normalizes for COMPARISON only, it
    cannot emit the normalized string), so this is an Arrow-batched
    ``mapInPandas`` - narrow projection in, zero shuffle, no per-row
    Python UDF overhead. The hot path calls
    ``unicodedata.is_normalized`` first: already-NFC rows (the
    overwhelming majority of real text) skip the allocation entirely.
    Codepoint counts use Python ``len`` = DuckDB ``length`` semantics
    (codepoints, not UTF-16 units), so the SQL twin is exact.
    """
    out_schema = (f"{id_col} long, text_nfc string, changed boolean, "
                  "n_cp_before long, n_cp_after long")

    def fn(batches):
        import unicodedata

        import pandas as pd
        for b in batches:
            nfc, changed, nb, na = [], [], [], []
            for t in b[text_col]:
                t = t if isinstance(t, str) else ""
                if unicodedata.is_normalized("NFC", t):
                    u = t
                else:
                    u = unicodedata.normalize("NFC", t)
                nfc.append(u)
                changed.append(u != t)
                nb.append(len(t))
                na.append(len(u))
            yield pd.DataFrame({id_col: b[id_col], "text_nfc": nfc,
                                "changed": changed, "n_cp_before": nb,
                                "n_cp_after": na})

    return df.select(id_col, text_col).mapInPandas(fn, out_schema)


# ----------------------------------------------------------- script mix
# Unicode-block character classes for script profiling. Explicit
# codepoint RANGES, not \p{Script=...} properties: Java regex (Spark)
# and RE2 (DuckDB) ship different Unicode tables/spellings, while block
# ranges are engine-invariant by construction. Coverage is the
# main-use blocks of each script (BMP); that is the standard heuristic
# tier - full script property tables are a tokenizer-level concern.
SCRIPT_BLOCKS = [
    ("latin", "a-zA-ZÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("arabic", "؀-ۿ"),
    ("devanagari", "ऀ-ॿ"),
    ("greek", "Ͱ-Ͽ"),
    ("hangul", "가-힯ᄀ-ᇿ"),
    ("kana", "぀-ヿ"),
    ("cjk", "一-鿿㐀-䶿"),
]


def script_profile(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document Unicode script mix - the multilingual-curation
    dashboard next to language-ID: per-script character counts, an
    ``other`` bucket (non-space characters in none of the blocks), and
    the dominant script with deterministic ties (block-list order).
    Mixed-script documents (above ~30% secondary script) are the
    classic mojibake / spam / wrong-lang-tag signals; main_script
    crosschecked against the claimed lang column catches mislabeled
    segments before they poison per-language models.

    Pure whole-stage-codegen column expressions (``regexp_count`` per
    block) - rides the scan, zero shuffle, no UDF. main_script argmax
    via array_max over (count, -priority, name) structs: ties go to
    the earlier block deterministically; all-zero -> 'none'. Null text
    counts as empty (0 everywhere, main_script 'none')."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {name: F.regexp_count(t, F.lit(f"[{rng}]"))
              for name, rng in SCRIPT_BLOCKS}
    nonspace = F.regexp_count(t, F.lit(r"\S"))
    known = None
    for c in counts.values():
        known = c if known is None else known + c
    entries = [F.struct(c.alias("c"), F.lit(-i).alias("p"),
                        F.lit(name).alias("s"))
               for i, (name, c) in enumerate(counts.items())]
    best = F.array_max(F.array(*entries))
    main = F.when(best["c"] <= 0, F.lit("none")).otherwise(best["s"])
    cols = [F.col(id_col), nonspace.alias("n_nonspace")]
    cols += [c.cast("long").alias(n) for n, c in counts.items()]
    cols += [(nonspace - known).cast("long").alias("other"),
             main.alias("main_script")]
    return df.select(*cols)


def sample_k_per_stratum(df: DataFrame, stratum_col: str, k: int,
                         id_col: str = "doc_id",
                         salt: str = "samp1") -> DataFrame:
    """Exact-k deterministic uniform sample per stratum - the
    fixed-size companion of ``stratified_sample`` (which keeps a RATE):
    eval-set carving, human-review batches, per-domain probes all need
    "exactly k of each". Rows rank within their stratum by the same
    md5 fate used everywhere (pure function of (salt, id) - the sample
    is stable across runs, engines and corpus growth ONLY in
    distribution, not membership: adding rows can displace ranks,
    which is inherent to exact-k) and the k smallest win.

    -> (id, stratum, sample_rank). The per-stratum window is capped by
    WindowGroupLimit (rank pushed into the sort - same shape as
    grouped_topk), so a giant stratum never sorts fully."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(),
                                                F.col(id_col).asc())
    return (df.select(F.col(id_col), F.col(stratum_col),
                      F.row_number().over(w).alias("sample_rank"))
            .filter(F.col("sample_rank") <= k)
            .withColumn("sample_rank", F.col("sample_rank").cast("long")))


# sentence splitter: maximal runs of non-terminators plus their trailing
# terminator. No lookbehind (RE2 has none - the script_profile lesson:
# stay in the Java-regex ∩ RE2 subset), greedy and anchor-free, so Java
# and RE2 tokenize identically.
SENTENCE_PATTERN = r"[^.!?]+[.!?]?"


def sentence_split(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, sent_idx, sentence): terminator-delimited sentence table -
    the unit of C4's and Gopher's sentence-level filters (min-sentence
    counts, terminal-punctuation ratios, sentence-level dedup). Pure
    codegen: regexp_extract_all -> trim -> drop empties -> posexplode;
    whitespace inside sentences is preserved (only the ends are
    trimmed), so reassembly is lossless up to inter-sentence space."""
    # NB lambda, not bare F.trim: F.trim has an optional 2nd parameter,
    # so transform() would call it as trim(element, ARRAY_INDEX) - the
    # documented F.transform two-arg pitfall (CLAUDE.md session-5)
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(F.col(text_col),
                                 F.lit(SENTENCE_PATTERN), 0),
            lambda s: F.trim(s)),
        lambda s: s != "")
    return (df.select(F.col(id_col), sents.alias("ss"))
            .select(id_col, F.posexplode("ss").alias("sent_idx", "sentence"))
            .withColumn("sent_idx", F.col("sent_idx").cast("long")))


def sentence_stats(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   short_words: int = 4) -> DataFrame:
    """Per-doc sentence-shape telemetry over ``sentence_split``:
    (id, n_sentences, mean_sent_words, max_sent_chars, n_short,
    terminal_ratio). C4 drops docs with < 3 sentences and lines without
    terminal punctuation; Gopher bounds the short-sentence fraction -
    these are those filters' inputs. One partial-agged groupBy after
    the map-side split; docs with no sentences emit n_sentences = 0."""
    s = sentence_split(df, id_col, text_col)
    words = F.size(F.filter(F.split(F.col("sentence"), " "),
                            lambda w: w != ""))
    terminal = F.col("sentence").rlike(r"[.!?]$")
    per = (s.withColumn("w", words)
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_sentences"),
                F.round(F.avg("w"), 6).alias("mean_sent_words"),
                F.max(F.length("sentence")).cast("long")
                .alias("max_sent_chars"),
                F.sum(F.when(F.col("w") < short_words, 1).otherwise(0))
                .cast("long").alias("n_short"),
                F.round(F.avg(F.when(terminal, 1.0).otherwise(0.0)), 6)
                .alias("terminal_ratio")))
    return (df.select(id_col).join(per, id_col, "left")
            .select(id_col,
                    F.coalesce("n_sentences", F.lit(0)).cast("long")
                    .alias("n_sentences"),
                    "mean_sent_words",
                    F.coalesce("max_sent_chars", F.lit(0)).cast("long")
                    .alias("max_sent_chars"),
                    F.coalesce("n_short", F.lit(0)).cast("long")
                    .alias("n_short"),
                    "terminal_ratio"))


def badwords_stats(df: DataFrame, badwords: list,
                   id_col: str = "doc_id", text_col: str = "text",
                   max_ratio: float = 0.02) -> DataFrame:
    """C4-style blocklist filtering: per doc the blocklisted-token count,
    ratio over all tokens, and the keep flag (ratio <= ``max_ratio``;
    an empty doc keeps). The list ships broadcast-style as an expression
    literal (blocklists are KB-sized); matching is exact-token over the
    normalized word array, NOT substring (the classic 'Scunthorpe'
    false-positive), mirrored by the SQL twin.

    Pure per-row codegen: normalized split + one array_size over a
    filtered array - no shuffle, no UDF, no join (the blocklist is a
    literal IN set, constant-folded)."""
    ws = _word_array(F.col(text_col))
    bad = F.filter(ws, lambda w: w.isin([b.lower() for b in badwords]))
    n_tokens = F.size(ws).cast("long")
    n_bad = F.size(bad).cast("long")
    ratio = F.when(n_tokens > 0, F.round(n_bad / n_tokens, 6)) \
        .otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_bad.alias("n_bad"),
        ratio.alias("bad_ratio"),
        (ratio <= max_ratio).alias("keep"))


def weighted_sample_k(df: DataFrame, weight_col: str, stratum_col: str,
                      k: int, id_col: str = "doc_id",
                      salt: str = "wsamp1") -> DataFrame:
    """Exact-k WEIGHTED sample per stratum without replacement
    (Efraimidis & Spirakis 2006, A-ES): each row draws the key
    ``u^(1/w)`` from its deterministic md5 fate u in (0,1] and the k
    LARGEST keys win - provably equivalent to sequential weighted
    draws. The quality-weighted counterpart of ``sample_k_per_stratum``
    (uniform): "k docs per source, preferring high quality" is this
    exact op in every curation pipeline.

    Key arithmetic is pow(u, 1/w) in IEEE double on both engines
    (identical expression tree -> identical ranking); rows with
    non-positive weight are excluded (their key is undefined), ties
    (astronomically unlikely) break by id. -> (id, stratum, weight,
    sample_rank); the per-stratum window caps via WindowGroupLimit
    like the uniform variant."""
    h = (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        1, 8), 16, 10).cast("long") % 1000000 + 1) / 1000000.0
    key = F.pow(h, 1.0 / F.col(weight_col))
    w = Window.partitionBy(stratum_col).orderBy(F.col("_k").desc(),
                                                F.col(id_col).asc())
    return (df.filter(F.col(weight_col) > 0)
            .select(F.col(id_col), F.col(stratum_col),
                    F.col(weight_col).alias("weight"), key.alias("_k"))
            .withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k)
            .select(id_col, stratum_col, "weight",
                    F.col("sample_rank").cast("long").alias("sample_rank")))


def char_entropy(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc character-level Shannon entropy (bits/char) over the
    normalized text -> (id, n_chars, n_distinct, entropy). The
    compression-ratio cousin every quality stack carries: binary
    junk / key-mash scores high, single-char spam scores ~0, natural
    language sits in a narrow band (EN ~4.1) - a cheap anomaly gate on
    both tails.

    Shape: one split-explode to characters (map-side; rows bounded by
    corpus chars like every token explode) -> per (doc, char) partial-
    agged count -> per-doc entropy as -sum(p log2 p). No UDF; log2 and
    the division are codegen, and the oracle replays the identical
    two-aggregation plan."""
    from .dedup import normalized_text
    chars = (df.select(F.col(id_col),
                       F.explode(F.split(normalized_text(F.col(text_col)),
                                         "")).alias("c"))
             .filter(F.col("c") != ""))
    cc = chars.groupBy(id_col, "c").agg(F.count(F.lit(1)).alias("n"))
    per = (cc.groupBy(id_col)
           .agg(F.sum("n").alias("total"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum(F.col("n") * F.log2("n")).alias("nlogn")))
    # -sum(p log2 p) = log2(total) - sum(n log2 n)/total
    ent = F.log2("total") - F.col("nlogn") / F.col("total")
    out = per.select(F.col(id_col),
                     F.col("total").cast("long").alias("n_chars"),
                     F.col("n_distinct").cast("long").alias("n_distinct"),
                     F.round(ent, 6).alias("entropy"))
    return (df.select(id_col).join(out, id_col, "left")
            .select(id_col,
                    F.coalesce("n_chars", F.lit(0)).cast("long")
                    .alias("n_chars"),
                    F.coalesce("n_distinct", F.lit(0)).cast("long")
                    .alias("n_distinct"),
                    "entropy"))


def hashed_doc_vectors(df: DataFrame, dim: int = 64,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Feature hashing (Weinberger et al. ICML 2009): sparse hashed
    bag-of-words document vectors -> (id, dim_idx, value) rows for the
    non-zero dimensions, value = bucket token share (L1-normalized).
    THE bridge from the text table into the embedding stack - no
    vocabulary, no training, fixed dimensionality at any corpus size -
    so jl_project / quantize_int8 / the ANN operators can run on pure
    text. Sign-alternating variant (md5 parity) keeps the hash
    inner-product unbiased, mirrored by the oracle.

    One token explode -> one partial-agged (id, bucket) count -> one
    per-doc total join: two aggregations sharing the id-hash exchange,
    no UDF. Sparse rows (never dim columns), so dim can be 2^20 without
    a wide schema."""
    from .dedup import normalized_text
    tok = df.select(F.col(id_col),
                    F.explode(F.split(normalized_text(F.col(text_col)),
                                      " ")).alias("w")) \
        .filter(F.col("w") != "")
    h = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
    sign = F.when(
        F.conv(F.substring(F.md5("w"), 9, 1), 16, 10) % 2 == 0,
        F.lit(1)).otherwise(F.lit(-1))
    bucketed = tok.select(id_col, (h % dim).alias("dim_idx"),
                          sign.alias("s"))
    counts = bucketed.groupBy(id_col, "dim_idx").agg(
        F.sum("s").alias("c"))
    totals = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    return (counts.join(totals, id_col)
            .filter(F.col("c") != 0)
            .select(id_col, F.col("dim_idx").cast("long").alias("dim_idx"),
                    F.round(F.col("c") / F.col("n"), 6).alias("value")))


def profile_table(df: DataFrame, columns: list | None = None) -> DataFrame:
    """Data-quality profile: one row per column with (n_rows, n_nulls,
    n_distinct, min_value, max_value) - the onboarding pass every
    engine runs on an unfamiliar table before trusting it (null bursts
    = upstream schema drift; distinct collapse = a join key gone
    constant; min/max = range sanity).

    ONE aggregation pass over the table (Spark expands the multiple
    count-distincts internally); the wide 1-row result unpivots to
    per-column rows via a stack() projection, so the output shape is
    stable at any column count. min/max are cast to string so one
    schema profiles every column type."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [F.count(F.lit(1)).alias(f"{c}__rows"),
                 (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
                 F.countDistinct(c).alias(f"{c}__distinct"),
                 F.min(c).cast("string").alias(f"{c}__min"),
                 F.max(c).cast("string").alias(f"{c}__max")]
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols)
    return wide.select(F.expr(
        f"stack({len(cols)}, {stack}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_value, max_value)"))


def profile_drift(old_profile: DataFrame, new_profile: DataFrame,
                  null_rate_x1e6_threshold: int = 10000,
                  distinct_ratio_x1e6_low: int = 500000) -> DataFrame:
    """Schema/profile drift between two :func:`profile_table` snapshots
    - the alert layer on top of the onboarding pass: columns appearing
    or vanishing, null-rate jumps, and distinct-count collapse (a join
    key going constant) are the three upstream-breakage signatures that
    precede silently-wrong joins.

    Full-outer join on the column name (profile tables are
    column-count-sized, the join is trivially broadcastable at any data
    scale - drift detection costs nothing beyond the two profile
    passes). Rates are exact integers scaled by 1e6 (ppm): ratio
    comparisons in floats would put the alert threshold on a
    merge-order knife edge.

    Flags per column: status (added|removed|kept), null_rate_jump
    (new null ppm - old null ppm > threshold), distinct_collapse
    (new distinct < old distinct * low/1e6 with data still present)."""
    o = old_profile.select(
        F.col("column"), F.col("n_rows").alias("o_rows"),
        F.col("n_nulls").alias("o_nulls"),
        F.col("n_distinct").alias("o_distinct"))
    n = new_profile.select(
        F.col("column"), F.col("n_rows").alias("n_rows"),
        F.col("n_nulls").alias("n_nulls"),
        F.col("n_distinct").alias("n_distinct"))
    j = o.join(n, "column", "full_outer")
    # pure integer div: double-divide-then-truncate is not pinned
    # across engines (the sequence_packing lesson). The isNull branch
    # must come FIRST: a null n_rows would otherwise fall into
    # .otherwise(0) and mask the added/removed sentinel.
    o_ppm = (F.when(F.col("o_rows").isNull(), F.lit(None))
             .when(F.col("o_rows") > 0,
                   F.expr("(o_nulls * 1000000) div o_rows"))
             .otherwise(F.lit(0)))
    n_ppm = (F.when(F.col("n_rows").isNull(), F.lit(None))
             .when(F.col("n_rows") > 0,
                   F.expr("(n_nulls * 1000000) div n_rows"))
             .otherwise(F.lit(0)))
    status = (F.when(F.col("o_rows").isNull(), "added")
              .when(F.col("n_rows").isNull(), "removed")
              .otherwise("kept"))
    return (j.select(
        "column", status.alias("status"),
        F.coalesce(o_ppm, F.lit(-1)).alias("old_null_ppm"),
        F.coalesce(n_ppm, F.lit(-1)).alias("new_null_ppm"),
        F.coalesce("o_distinct", F.lit(-1)).alias("old_distinct"),
        F.coalesce("n_distinct", F.lit(-1)).alias("new_distinct"),
        (F.coalesce(n_ppm, F.lit(0)) - F.coalesce(o_ppm, F.lit(0))
         > null_rate_x1e6_threshold).alias("null_rate_jump"),
        ((status == "kept")
         & (F.col("n_distinct") * 1000000
            < F.col("o_distinct") * distinct_ratio_x1e6_low)
         & (F.col("n_rows") > 0)).alias("distinct_collapse")))


def _hist_median2(vals: DataFrame, col: str) -> DataFrame:
    """ONE row (med2,): TWICE the exact median of an integer column.

    Median via the value-histogram walk, not a data sort: groupBy the
    value (cardinality of distinct values, not rows), one cumulative
    window over those histogram rows (the hdr-sketch precedent -
    windows over SKETCH rows are fine; windows over data are not), and
    the two middle order statistics read off the cumulative counts.
    med2 = lo+hi keeps the even-n half-step in exact integers."""
    vc = vals.groupBy(F.col(col).cast("long").alias("v")) \
        .agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    tot = vc.agg(F.sum("c").alias("n"))
    cum = vc.withColumn("cum", F.sum("c").over(w)).crossJoin(
        F.broadcast(tot))
    lo = cum.filter(F.col("cum") >= F.expr("(n+1) div 2")) \
        .agg(F.min("v").alias("lo"))
    hi = cum.filter(F.col("cum") >= F.expr("(n+2) div 2")) \
        .agg(F.min("v").alias("hi"))
    return lo.crossJoin(hi).select(
        (F.col("lo") + F.col("hi")).cast("long").alias("med2"))


def mad_outliers(df: DataFrame, val_col: str, id_col: str = "doc_id",
                 k_num: int = 3, k_den: int = 1) -> DataFrame:
    """Robust outlier flags via Median Absolute Deviation ->
    (id, val, med2, mad4, dev2, is_outlier): flag rows with
    |x - median| > (k_num/k_den) * MAD. The robust sibling of the
    z-score anomaly ops - median/MAD don't move when the outliers
    themselves get bigger, so the fence is stable under contamination
    (Hampel's identifier; the winsorize/HDR family's flagging cousin).

    Exactness: everything stays integer by carrying doubled values -
    med2 = 2*median (lo+hi order stats), dev2 = 2*|x - median| =
    |2x - med2|, mad4 = 2*median(dev2) = 4*MAD - and the fence
    |x-med| > (kn/kd)*MAD becomes kd*2*dev2 > kn*mad4: no float
    anywhere, engine-exact flags. Both medians ride the
    value-histogram walk (_hist_median2): zero full-data sorts, two
    tiny windows over distinct-value cardinality. For continuous
    (non-integer) columns, quantize to ppm first or use the HDR
    sketch path."""
    vals = df.select(F.col(id_col), F.col(val_col).cast("long").alias("x"))
    med = _hist_median2(vals, "x")
    dev = vals.crossJoin(F.broadcast(med)).withColumn(
        "dev2", F.abs(F.lit(2) * F.col("x") - F.col("med2")).cast("long"))
    mad = _hist_median2(dev, "dev2").select(
        F.col("med2").alias("mad4"))
    return (dev.crossJoin(F.broadcast(mad))
            .select(F.col(id_col), F.col("x").alias(val_col),
                    "med2", "mad4", "dev2",
                    (F.lit(2 * int(k_den)) * F.col("dev2")
                     > F.lit(int(k_num)) * F.col("mad4"))
                    .alias("is_outlier")))


def weighted_median(df: DataFrame, key_cols: list, value_col: str,
                    weight_col: str) -> DataFrame:
    """Exact lower weighted median per key -> (keys..., wmedian,
    total_weight): the smallest value v whose cumulative weight
    reaches half the total (2*cum >= total, pure-integer test when
    weights are integers — no percentile interpolation, no floats).
    THE robust center for skewed operational data (spend per user,
    bytes per host) where the mean is hostage to whales and
    percentile_approx is... approximate.

    Scale shape: one partial-agged groupBy collapses to (key, value)
    grain first — the window then runs over DISTINCT values per key,
    not raw rows, so a key with a billion identical readings costs
    one window row. Cumulative sum + first-qualifying-row pick are
    one window pass; ties need no tie-break because values are
    grouped before ranking."""
    vals = (df.groupBy(*key_cols, value_col)
            .agg(F.sum(weight_col).cast("long").alias("w")))
    wk = Window.partitionBy(*key_cols).orderBy(value_col) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy(*key_cols)
    c = (vals.withColumn("cum", F.sum("w").over(wk))
         .withColumn("tot", F.sum("w").over(tot))
         .filter(F.lit(2) * F.col("cum") >= F.col("tot")))
    best = (c.groupBy(*key_cols)
            .agg(F.min(value_col).alias("wmedian"),
                 F.min("tot").cast("long").alias("total_weight")))
    return best


def flesch_readability(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per doc -> (id, n_words, n_sentences,
    n_syllables, flesch): 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words), the classic readability gate in web-text
    quality stacks (C4-style heuristics keep mid-range scores; tables
    and boilerplate pin the extremes). Sentence segmentation is the
    shared ``sentence_split`` contract; words are the standard
    [^a-z0-9]+ tokenizer; syllables are counted as [aeiouy]+ vowel
    runs with a 1-per-word floor (the textbook approximation, stated
    so the SQL twin replays it exactly). Docs with zero sentences or
    zero words emit NULL flesch (they fail the upstream filters
    anyway). Counting is map-side explode + one partial-agged groupBy;
    the only floats are two divisions of exact integers, 6dp."""
    toks = (df.select(
        F.col(id_col),
        F.explode(F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda t: t != "")).alias("w")))
    syl = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("w"), F.lit("[aeiouy]+"),
                                    F.lit(0))))
    per_w = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(syl).cast("long").alias("n_syllables"))
    sents = (sentence_split(df, id_col, text_col)
             .groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("long").alias("n_sentences")))
    base = (df.select(id_col)
            .join(per_w, id_col, "left").join(sents, id_col, "left")
            .select(id_col,
                    F.coalesce("n_words", F.lit(0)).alias("n_words"),
                    F.coalesce("n_sentences", F.lit(0))
                    .alias("n_sentences"),
                    F.coalesce("n_syllables", F.lit(0))
                    .alias("n_syllables")))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * F.col("n_words") / F.col("n_sentences")
              - F.lit(84.6) * F.col("n_syllables") / F.col("n_words"))
    return base.withColumn(
        "flesch",
        F.when((F.col("n_sentences") > 0) & (F.col("n_words") > 0),
               F.round(flesch, 6)))


def source_js_divergence(df: DataFrame, group_col: str = "source",
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Jensen-Shannon divergence of each group's unigram distribution
    from the corpus distribution -> (group, n_terms, overlap_q, jsd):
    the mixture-health number a multi-source pipeline tracks per
    snapshot — a source drifting from the corpus (template flood,
    language shift, spam burst) moves its JSD long before eyeballs
    notice. Bounded [0, ln 2], symmetric, finite on disjoint support
    (KL is not, which is why JSD is the production choice).

    Absent-term closed form keeps the sum group-support-sized: for
    terms missing from the group, the integrand collapses to
    q*ln 2, so JSD = 0.5*(sum over the group's terms of p*ln(p/m) +
    q*ln(q/m)) + 0.5*ln 2*(1 - overlap_q) where overlap_q is the
    corpus mass on the group's support — NO scan over the full
    vocabulary per group. One term-keyed join of the group
    distribution against the corpus distribution + a group-grain
    aggregate; counts are exact integers and the float terms are
    per-row lns at the 6dp gate."""
    toks = (df.select(F.col(group_col).alias("g"),
                      F.explode(F.filter(
                          F.split(F.lower(F.col(text_col)),
                                  "[^a-z0-9]+"),
                          lambda t: t != "")).alias("term")))
    gt = toks.groupBy("g", "term").agg(F.count(F.lit(1)).alias("c"))
    gn = gt.groupBy("g").agg(F.sum("c").alias("gn"))
    ct = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cc")) \
        .hint("merge")
    cn = toks.agg(F.sum(F.lit(1)).alias("cn"))
    j = (gt.join(ct, "term").join(gn, "g")
         .crossJoin(F.broadcast(cn)))
    p = F.col("c") / F.col("gn")
    q = F.col("cc") / F.col("cn")
    m = (p + q) / 2
    per = j.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(p * F.log(p / m) + q * F.log(q / m)).alias("core"),
        F.sum(q).alias("overlap_q"))
    ln2 = 0.6931471805599453
    return per.select(
        F.col("g").alias(group_col), "n_terms",
        F.round("overlap_q", 6).alias("overlap_q"),
        F.round(0.5 * F.col("core")
                + F.lit(0.5 * ln2) * (F.lit(1.0) - F.col("overlap_q")),
                6).alias("jsd"))


def term_lift(docs: DataFrame, flag_col: str = "is_new", k: int = 20,
              min_new: int = 5, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Trending-term detection between a reference slice and a new
    batch (the term-level drift report a continuous-crawl pipeline
    publishes next to novelty_scores' doc-level ppm): per-term rate
    lift of the ``flag_col``-marked batch over the reference ->
    top-k (rank, term, new_cnt, ref_cnt, lift_ppm).

    lift_ppm is the EXACT integer
    ``(1e6 * new_cnt * ref_total) div ((ref_cnt + 1) * new_total)``
    - the +1 is add-one smoothing so unseen-in-reference terms rank
    by their new-batch mass instead of dividing by zero; totals are
    token totals per slice, making the lift a rate ratio, not a raw
    count ratio. Terms with new_cnt < ``min_new`` are dropped (a
    one-off token is not a trend).

    Scale shape: ONE groupBy collapses the corpus to (term, slice)
    counts with map-side combine; the two 1-row slice totals broadcast;
    TakeOrderedAndProject emits k. Lexical twin of the bm25 tokenizer
    so the SQL oracle shares the split."""
    terms = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    toks = docs.select(
        F.col(flag_col),
        F.explode(F.filter(terms, lambda t: t != "")).alias("term"))
    per = (toks.groupBy("term")
           .agg(F.sum(F.col(flag_col).cast("long")).alias("new_cnt"),
                F.sum((~F.col(flag_col)).cast("long")).alias("ref_cnt")))
    tot = per.agg(F.sum("new_cnt").alias("new_total"),
                  F.sum("ref_cnt").alias("ref_total"))
    scored = (per.filter(F.col("new_cnt") >= int(min_new))
              .crossJoin(F.broadcast(tot))
              .withColumn("lift_ppm", F.expr(
                  "(1000000 * new_cnt * ref_total) div "
                  "((ref_cnt + 1) * new_total)")))
    top = scored.orderBy(F.col("lift_ppm").desc(), F.col("term")) \
        .limit(int(k))
    w = Window.orderBy(F.col("lift_ppm").desc(), F.col("term"))
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "term", "new_cnt", "ref_cnt", "lift_ppm"))


def llr_collocations(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_count: int = 5,
                     k: int = 50) -> DataFrame:
    """Top-``k`` bigram collocations by Dunning's log-likelihood ratio
    (Dunning 1993) - the significance-test sibling of
    ``pmi_collocations``. PMI over-rewards rare pairs (two hapaxes that
    co-occur once get the max score); LLR weights the evidence by the
    full 2x2 contingency table over the bigram event space, so it
    surfaces *statistically supported* multi-word expressions:

        k11 = c(w1 w2)            k12 = c(w1 .) - k11
        k21 = c(. w2) - k11       k22 = B - c(w1 .) - c(. w2) + k11
        llr = 2 * sum_ij  k_ij * ln( k_ij * B / (row_i * col_j) )

    with c(w1 .) / c(. w2) POSITIONAL marginals (bigrams starting with
    w1 / ending with w2 - computed over ALL bigrams, before the
    min_count cut) and B the bigram total. Zero cells contribute 0.

    Scale shape: identical to pmi_collocations - the bigram count is
    one partial-aggregated groupBy of map-side within-row pairs, the
    marginals are two more partial aggs of that vocabulary-scale table,
    the joins are vocabulary x vocabulary with the min_count filter
    applied to the probe side first, totals ride a broadcast 1-row
    frame, and the top-k is a TakeOrdered. LLR is a fixed 4-term
    expression (deterministic summation order) over exact integer
    counts, rounded to 6 decimals BEFORE ranking; ties break (w1, w2)."""
    bg_all = (doc_bigrams(df, id_col, text_col)
              .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy")))
    left = bg_all.groupBy("w1").agg(F.sum("c_xy").alias("c_1dot"))
    right = bg_all.groupBy("w2").agg(F.sum("c_xy").alias("c_dot2"))
    btot = bg_all.agg(F.sum("c_xy").alias("b_total"))
    cand = (bg_all.filter(F.col("c_xy") >= int(min_count))
            .join(left, "w1").join(right, "w2")
            .crossJoin(F.broadcast(btot)))
    term = ("CASE WHEN {k} > 0 THEN {k} * ln(CAST({k} AS DOUBLE) * b_total"
            " / (CAST({r} AS DOUBLE) * {c})) ELSE 0.0 END")
    llr = ("2.0 * (" + " + ".join([
        term.format(k="c_xy", r="c_1dot", c="c_dot2"),
        term.format(k="(c_1dot - c_xy)", r="c_1dot",
                    c="(b_total - c_dot2)"),
        term.format(k="(c_dot2 - c_xy)", r="(b_total - c_1dot)",
                    c="c_dot2"),
        term.format(k="(b_total - c_1dot - c_dot2 + c_xy)",
                    r="(b_total - c_1dot)", c="(b_total - c_dot2)"),
    ]) + ")")
    scored = cand.withColumn("llr", F.round(F.expr(llr), 6))
    return (scored.orderBy(F.col("llr").desc(), "w1", "w2").limit(int(k))
            .select("w1", "w2", "c_xy",
                    F.col("c_1dot").alias("c_x"),
                    F.col("c_dot2").alias("c_y"), "llr"))


def mattr_diversity(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    window: int = 20) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall 2010) - the
    length-independent lexical-diversity score (plain TTR collapses as
    documents grow; MATTR averages TTR over every ``window``-token
    sliding window, so a 50-token and a 5000-token doc are comparable).
    The corpus-quality signal that separates template spam (diversity
    near 1/window) from natural prose.

    Window-enumeration-free: an occurrence of term t at 0-based
    position p with previous occurrence at pp (-1 if none) is the
    FIRST t inside window start s iff max(p-W+1, pp+1, 0) <= s <=
    min(p, n-W); summing that interval length over occurrences equals
    sum-over-windows of the distinct count - one lag() per (doc, term)
    plus one groupBy, never materializing the n_windows x W blowup.

    mattr_ppm = (1e6 * sum_distinct) div (n_windows * window) - exact
    integer arithmetic end to end (merge-order-proof). Docs shorter
    than ``window`` tokens are excluded (MATTR is undefined there).

    Scale shape: tokens carry n from size(ws) BEFORE the explode (no
    per-doc count window), then exactly two shuffles: the lag's
    (doc, term) partition and the per-doc sum."""
    w = int(window)
    toks = (df.select(F.col(id_col), _word_array(F.col(text_col))
                      .alias("ws"))
            .filter(F.size("ws") >= w)
            .select(id_col, F.size("ws").cast("long").alias("n_tokens"),
                    F.posexplode("ws").alias("pos", "term")))
    lag_w = Window.partitionBy(id_col, "term").orderBy("pos")
    contrib = (toks
               .withColumn("pp", F.coalesce(
                   F.lag("pos").over(lag_w), F.lit(-1)))
               .withColumn("c", F.greatest(
                   F.lit(0),
                   F.least(F.col("pos"), F.col("n_tokens") - w)
                   - F.greatest(F.col("pos") - w + 1, F.col("pp") + 1,
                                F.lit(0)) + 1)))
    return (contrib.groupBy(id_col, "n_tokens")
            .agg(F.sum("c").cast("long").alias("sum_distinct"))
            .select(id_col, "n_tokens",
                    (F.col("n_tokens") - w + 1).cast("long")
                    .alias("n_windows"), "sum_distinct",
                    F.expr(f"(1000000 * sum_distinct) div "
                           f"((n_tokens - {w} + 1) * {w})")
                    .alias("mattr_ppm")))


def skipgram_ppmi(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", window: int = 2,
                  min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-``k`` (center, context) pairs by positive PMI over a
    +-``window`` skip-gram context -> (w_center, w_context, c_xy,
    ppmi): the word2vec/GloVe preprocessing matrix (Levy & Goldberg
    2014 showed SGNS implicitly factorizes exactly this), one step
    wider than ``pmi_collocations``' adjacent-bigram view.

        ppmi = max(0, ln( c_xy * T / (c_center * c_context) ))

    with marginals/total over the DIRECTED pair space (each
    co-occurrence counts once per direction, the standard symmetric-
    context convention) and c_xy >= min_count before any join.

    Scale shape: contexts are generated by an EQUI-join - each token
    at position p emits probe keys (doc, p+1..p+window), joined back
    to the token table on (doc, pos); no inequality/range join, no
    per-doc crossJoin. Counts partial-agg map-side; marginals derive
    from the pair table (one more partial agg); total rides a 1-row
    broadcast; final cut is a TakeOrdered on the 6dp-rounded score
    (ties (w_center, w_context))."""
    w = int(window)
    toks = (df.select(F.col(id_col).alias("d"),
                      _word_array(F.col(text_col)).alias("ws"))
            .select("d", F.posexplode("ws").alias("p", "t")))
    probes = toks.select(
        "d", F.col("t").alias("a"),
        F.explode(F.expr(f"sequence(p + 1, p + {w})")).alias("p"))
    fwd = probes.join(toks, ["d", "p"]).select(F.col("a"),
                                               F.col("t").alias("b"))
    pairs = (fwd.select(F.col("a").alias("w_center"),
                        F.col("b").alias("w_context"))
             .unionByName(fwd.select(F.col("b").alias("w_center"),
                                     F.col("a").alias("w_context"))))
    cnt = (pairs.groupBy("w_center", "w_context")
           .agg(F.count(F.lit(1)).alias("c_xy")))
    left = cnt.groupBy("w_center").agg(F.sum("c_xy").alias("c_c"))
    right = cnt.groupBy("w_context").agg(F.sum("c_xy").alias("c_x"))
    tot = cnt.agg(F.sum("c_xy").alias("t_total"))
    scored = (cnt.filter(F.col("c_xy") >= int(min_count))
              .join(left, "w_center").join(right, "w_context")
              .crossJoin(F.broadcast(tot))
              .withColumn("ppmi", F.round(F.greatest(F.lit(0.0), F.log(
                  (F.col("c_xy") * F.col("t_total")).cast("double")
                  / (F.col("c_c") * F.col("c_x")).cast("double"))), 6)))
    return (scored.orderBy(F.col("ppmi").desc(), "w_center",
                           "w_context").limit(int(k))
            .select("w_center", "w_context",
                    F.col("c_xy").cast("long").alias("c_xy"), "ppmi"))


def texttile_boundaries(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", block: int = 10,
                        depth_window: int = 2,
                        n_boundaries: int = 2) -> DataFrame:
    """TextTiling topic segmentation (Hearst 1997, the windowed-cosine
    variant) -> one row per inter-block gap: (doc_id, gap, n_blocks,
    ucos, depth_u, is_boundary). The structure-aware chunker for RAG /
    training-window splitting: ``doc_chunking`` cuts at fixed offsets,
    this cuts where the VOCABULARY shifts - gaps whose block-to-block
    cosine sits in a valley relative to the neighbouring
    ``depth_window`` gaps.

        ucos_g  = floor(1e6 * cosine(counts(block g), counts(g+1)) + .5)
        depth_g = (max ucos over the w gaps left) - ucos_g
                + (max ucos over the w gaps right) - ucos_g   (floor 0)

    boundaries = the ``n_boundaries`` deepest gaps per doc (depth desc,
    gap asc - fixed ranks, no corpus moments, so the cut is
    deterministic and engine-exact: ucos is an exact integer via the
    floor(x+0.5) convention and depth is pure integer arithmetic on
    it).

    Scale shape: one (doc, block, term) partial agg; the gap dot
    product is a keyed self-join on (doc, term, block+1); norms one
    more partial agg; the depth/rank windows run per doc over
    GAP-cardinality rows (doc_len/block - statistic scale). No
    all-pairs, no global sort."""
    k, w, nb = int(block), int(depth_window), int(n_boundaries)
    toks = (df.select(F.col(id_col).alias("d"),
                      _word_array(F.col(text_col)).alias("ws"))
            .select("d", F.posexplode("ws").alias("p", "t"))
            .select("d", F.expr(f"p div {k}").alias("b"), "t"))
    ct = toks.groupBy("d", "b", "t").agg(F.count(F.lit(1)).alias("c"))
    norms = ct.groupBy("d", "b").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2"))
    nb_blocks = norms.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"))
    right = ct.select("d", (F.col("b") - 1).alias("b"),
                      F.col("t"), F.col("c").alias("c2"))
    dots = (ct.join(right, ["d", "b", "t"])
            .groupBy("d", "b").agg(F.sum(F.col("c") * F.col("c2"))
                                   .alias("dot")))
    n2r = norms.select("d", (F.col("b") - 1).alias("b"),
                       F.col("n2").alias("n2r"))
    gaps = (norms.join(n2r, ["d", "b"])
            .join(dots, ["d", "b"], "left")
            .select("d", F.col("b").alias("gap"),
                    F.floor(F.coalesce(F.col("dot"), F.lit(0))
                            .cast("double") * 1000000.0
                            / F.sqrt(F.col("n2").cast("double")
                                     * F.col("n2r").cast("double"))
                            + 0.5).cast("long").alias("ucos")))
    wl = (Window.partitionBy("d").orderBy("gap")
          .rowsBetween(-w, -1))
    wr = (Window.partitionBy("d").orderBy("gap")
          .rowsBetween(1, w))
    depth = (F.greatest(F.coalesce(F.max("ucos").over(wl),
                                   F.col("ucos")) - F.col("ucos"),
                        F.lit(0))
             + F.greatest(F.coalesce(F.max("ucos").over(wr),
                                     F.col("ucos")) - F.col("ucos"),
                          F.lit(0)))
    scored = gaps.withColumn("depth_u", depth.cast("long"))
    rk = Window.partitionBy("d").orderBy(F.col("depth_u").desc(),
                                         F.col("gap"))
    return (scored.withColumn("rn", F.row_number().over(rk))
            .join(nb_blocks, "d")
            .select(F.col("d").alias(id_col), "gap", "n_blocks",
                    "ucos", "depth_u",
                    ((F.col("rn") <= nb) & (F.col("depth_u") > 0))
                    .alias("is_boundary")))


def quantile_normalize(df: DataFrame, group_col: str, value_col: str,
                       id_col: str, bucket_width: int = 256) -> DataFrame:
    """Quantile normalization across groups -> (id, group, value,
    qn_value): map each row to the POOLED distribution's value at the
    same (nearest-rank) quantile, so every group ends up with an
    identical marginal distribution — the feature-alignment transform
    (microarray QN, cross-tokenizer length alignment) for mixing
    corpora whose raw scales differ.

    Nearest-rank contract (integer-exact, no interpolation): a row at
    within-group rank r of n_g maps to pooled index
    idx = ((2r - 1) * n_pool + n_g) div (2 * n_g)  (midpoint rank,
    in [1, n_pool]); qn_value = the pooled value at global rank idx.
    Ranks order by (value, id) — total and engine-agnostic.

    Distributed shape: within-group ranks are PARTITIONED windows;
    the pooled GLOBAL rank uses the bucket-offset scheme (value-range
    buckets of ``bucket_width`` are contiguous in the sort order, so
    global_rank = bucket offset + local row_number — the
    sorted_neighborhood trick, no single-partition window); the final
    lookup is one equi-join on the computed pooled rank."""
    from pyspark.sql import Window

    base = df.select(F.col(id_col).alias("rid"),
                     F.col(group_col).alias("g"),
                     F.col(value_col).cast("long").alias("x"))
    w_g = Window.partitionBy("g").orderBy("x", "rid")
    grp = (base
           .withColumn("r", F.row_number().over(w_g).cast("long"))
           .withColumn("n_g", F.count(F.lit(1))
                       .over(Window.partitionBy("g")).cast("long")))
    pooled = base.withColumn("bkt", F.expr(f"x div {bucket_width}"))
    counts = pooled.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w_off = (Window.orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
    w_loc = Window.partitionBy("bkt").orderBy("x", "rid")
    pr = (pooled.join(F.broadcast(offs.select("bkt", "off")), "bkt")
          .withColumn("pr", (F.col("off")
                             + F.row_number().over(w_loc)).cast("long"))
          .select(F.col("x").alias("px"), "pr"))
    n_pool = F.sum("cnt").over(
        Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    npool_df = F.broadcast(
        offs.select(n_pool.cast("long").alias("n_pool")).limit(1))
    tgt = (grp.crossJoin(npool_df)
           .withColumn("idx", F.expr(
               "((2 * r - 1) * n_pool + n_g) div (2 * n_g)")))
    return (tgt.join(pr, tgt.idx == pr.pr)
            .select(F.col("rid").alias(id_col),
                    F.col("g").alias(group_col),
                    F.col("x").alias(value_col),
                    F.col("px").alias("qn_value")))


def rouge_scores(df: DataFrame, ref_col: str, sys_col: str,
                 id_col: str = "doc_id", n: int = 1) -> DataFrame:
    """ROUGE-N with clipped counts -> (id, match_n, ref_n, sys_n,
    p_ppm, r_ppm, f_ppm): the standard summary/overlap metric (Lin
    2004) - match = sum over n-grams of min(count_ref, count_sys),
    precision = match/sys, recall = match/ref, F1 = 2pr/(p+r). The
    eval half of a summarization / decontamination pipeline (its
    n-gram machinery is the same shape as ops/decontam.py, but scored
    per document pair instead of thresholded).

    All ratios are ppm via integer div with the rational-F1 spelled
    as (2 * 1e6 * match) div (ref_n + sys_n) - algebraically equal to
    2pr/(p+r) on counts, but ONE integer division instead of a
    float compose (engine-lockstep). Empty sides -> 0 ppm.

    Scale shape: tokenize + posexplode + two groupBys keyed by
    (id, gram) - everything partial-aggregable; the join back is
    per-id n-gram counts, never cross-document."""
    d = df.select(F.col(id_col).alias("rid"),
                  F.col(ref_col).alias("rtext"),
                  F.col(sys_col).alias("stext"))
    for side, col in (("r", "rtext"), ("s", "stext")):
        toks = F.filter(F.split(F.lower(F.col(col)), "[^a-z0-9]+"),
                        lambda t: t != "")
        d = d.withColumn(f"{side}_toks", toks)
    if n == 1:
        d = d.withColumn("r_grams", F.col("r_toks")) \
             .withColumn("s_grams", F.col("s_toks"))
    else:
        for side in ("r", "s"):
            # Guard short docs: Spark sequence(1, 0) DESCENDS ([1, 0])
            # instead of emitting empty, which would fabricate phantom
            # grams from out-of-range slices on sub-n-token texts.
            d = d.withColumn(f"{side}_grams", F.expr(
                f"CASE WHEN size({side}_toks) < {n}"
                f" THEN slice({side}_toks, 1, 0)"
                f" ELSE transform(sequence(1, size({side}_toks)"
                f" - {n - 1}), i -> concat_ws(' ',"
                f" slice({side}_toks, i, {n}))) END"))
    rc = (d.select("rid", F.explode("r_grams").alias("g"))
          .groupBy("rid", "g")
          .agg(F.count(F.lit(1)).cast("long").alias("cr")))
    sc = (d.select("rid", F.explode("s_grams").alias("g"))
          .groupBy("rid", "g")
          .agg(F.count(F.lit(1)).cast("long").alias("cs")))
    match = (rc.join(sc, ["rid", "g"])
             .groupBy("rid")
             .agg(F.sum(F.least("cr", "cs")).cast("long")
                  .alias("match_n")))
    totals = d.select("rid",
                      F.size("r_grams").cast("long").alias("ref_n"),
                      F.size("s_grams").cast("long").alias("sys_n"))
    out = (totals.join(match, "rid", "left")
           .select(F.col("rid").alias(id_col), "ref_n", "sys_n",
                   F.coalesce(F.col("match_n"), F.lit(0))
                   .cast("long").alias("match_n")))
    return out.select(
        id_col, "match_n", "ref_n", "sys_n",
        F.expr("CASE WHEN sys_n > 0 THEN (1000000 * match_n) div sys_n"
               " ELSE 0 END").cast("long").alias("p_ppm"),
        F.expr("CASE WHEN ref_n > 0 THEN (1000000 * match_n) div ref_n"
               " ELSE 0 END").cast("long").alias("r_ppm"),
        F.expr("CASE WHEN ref_n + sys_n > 0 THEN"
               " (2000000 * match_n) div (ref_n + sys_n)"
               " ELSE 0 END").cast("long").alias("f_ppm"))


def trigram_search(docs: DataFrame, literal: str,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Trigram-posting substring search (the Google Code Search /
    Zoekt index shape, Cox 2012) -> (doc_id, verified): candidate
    documents are those containing EVERY trigram of the query
    literal; ``verified`` then confirms the actual substring. The
    telemetry point IS the gap — rows with verified = false are the
    index's false positives (trigrams present, contiguity broken),
    exactly what you tune posting granularity on. A regex frontend
    reduces to this by extracting required trigram sets from the
    pattern's literal fragments (documented extension; the index
    side is identical).

    Scale shape: positions explode to (doc, gram) pairs but the
    ``isin(query grams)`` filter is applied MAP-SIDE before the
    distinct's shuffle — the only exchange carries <= k grams per
    doc, never the full posting list. The verify join touches only
    candidates. Needs len(literal) >= 3."""
    lit = str(literal)
    if len(lit) < 3:
        raise ValueError("literal must be >= 3 chars")
    grams = sorted({lit[i:i + 3] for i in range(len(lit) - 2)})
    k = len(grams)
    posts = (docs.select(F.col(id_col).alias("id"),
                         F.explode(F.expr(
                             f"transform(sequence(1, greatest("
                             f"length({text_col}) - 2, 0)),"
                             f" p -> substr({text_col}, p, 3))"))
                         .alias("gram"))
             .filter(F.col("gram").isin(grams))
             .distinct())
    cand = (posts.groupBy("id")
            .agg(F.count("*").alias("hit"))
            .filter(F.col("hit") == k).select("id"))
    return (cand.join(docs.select(F.col(id_col).alias("id"),
                                  F.col(text_col).alias("_t")), "id")
            .select(F.col("id").alias(id_col),
                    (F.instr("_t", lit) > 0).alias("verified")))


def bleu_stats(df: DataFrame, ref_col: str, sys_col: str,
               id_col: str = "doc_id", max_n: int = 4) -> DataFrame:
    """Corpus-level BLEU sufficient statistics (Papineni et al. 2002)
    -> one row per n in 1..``max_n``: (n, match_n, sys_n, ref_n,
    p_ppm, ref_len, sys_len). match_n is the CLIPPED n-gram match
    total (per doc-pair, each sys n-gram counts at most its reference
    count — BLEU's anti-gaming rule), p_ppm the corpus modified
    precision, ref_len/sys_len the corpus token totals feeding the
    brevity penalty. The composed geometric mean + exp brevity term
    are float surfaces a caller derives from these exact integers;
    the op emits the sufficient statistics so the whole table is
    engine-lockstep BIGINT (the rouge_scores discipline extended to
    multi-n corpus scoring).

    Scale shape mirrors rouge_scores: per n one explode + two
    (id, gram) partial-aggregable counts and a per-id join; the final
    corpus totals are statistic-scale."""
    d = df.select(F.col(id_col).alias("rid"),
                  F.col(ref_col).alias("rtext"),
                  F.col(sys_col).alias("stext"))
    for side, col in (("r", "rtext"), ("s", "stext")):
        d = d.withColumn(f"{side}_toks", F.filter(
            F.split(F.lower(F.col(col)), "[^a-z0-9]+"),
            lambda t: t != ""))
    lens = d.agg(F.sum(F.size("r_toks")).cast("long").alias("ref_len"),
                 F.sum(F.size("s_toks")).cast("long").alias("sys_len"))
    outs = []
    for n in range(1, int(max_n) + 1):
        g = d
        for side in ("r", "s"):
            g = g.withColumn(f"{side}_grams", F.expr(
                f"CASE WHEN size({side}_toks) < {n}"
                f" THEN slice({side}_toks, 1, 0)"
                f" ELSE transform(sequence(1, size({side}_toks)"
                f" - {n - 1}), i -> concat_ws(' ',"
                f" slice({side}_toks, i, {n}))) END"))
        rc = (g.select("rid", F.explode("r_grams").alias("gm"))
              .groupBy("rid", "gm").agg(F.count(F.lit(1)).alias("cr")))
        sc = (g.select("rid", F.explode("s_grams").alias("gm"))
              .groupBy("rid", "gm").agg(F.count(F.lit(1)).alias("cs")))
        stats = (sc.join(rc, ["rid", "gm"], "left")
                 .agg(F.sum(F.least(F.coalesce("cr", F.lit(0)), "cs"))
                      .cast("long").alias("match_n"),
                      F.sum("cs").cast("long").alias("sys_n")))
        refs = g.agg(F.sum(F.size("r_grams")).cast("long")
                     .alias("ref_n"))
        outs.append(stats.crossJoin(refs)
                    .select(F.lit(n).cast("long").alias("n"),
                            "match_n", "sys_n", "ref_n"))
    allrows = outs[0]
    for o in outs[1:]:
        allrows = allrows.unionByName(o)
    return (allrows.crossJoin(F.broadcast(lens))
            .select("n", "match_n", "sys_n", "ref_n",
                    F.expr("CASE WHEN sys_n > 0 THEN"
                           " (1000000 * match_n) div sys_n"
                           " ELSE 0 END").cast("long").alias("p_ppm"),
                    "ref_len", "sys_len"))


def lz_complexity(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  prefix_len: int = 60) -> DataFrame:
    """Lempel-Ziv (LZ76) phrase complexity -> (id, n_chars,
    n_phrases, ratio_ppm): the greedy exhaustive-history parse of
    each document prefix — each phrase is the SHORTEST substring
    starting at the cursor that has not occurred in the text before
    it (the final phrase may be contained). Phrase count per
    character is the classic compressibility proxy (what gzip-ratio
    quality filters measure, without the codec): natural text lands
    mid-range, boilerplate/repetition collapses it, noise maxes it —
    the complexity-side companion to repetition_stats' n-gram ratios
    and char_entropy's order-0 bound.

    Per-doc sequential state (the cursor) -> Arrow-batched
    mapInPandas over a narrow (id, prefix) projection: zero shuffle,
    corpus-parallel, O(prefix_len^2) per doc with ``prefix_len``
    bounded by contract (60 here; the signal saturates within the
    first lines of a page). The DuckDB twin advances one phrase per
    recursive-CTE iteration, finding each phrase length with a
    list_filter/strpos scan — bit-identical by construction."""
    pl = int(prefix_len)
    out_schema = f"{id_col} long, n_chars long, n_phrases long, " \
                 "ratio_ppm long"

    def fn(batches):
        import pandas as pd
        for b in batches:
            ids, ncs, cs, rs = [], [], [], []
            for i, t in zip(b[id_col], b["s"]):
                s = t if isinstance(t, str) else ""
                n = len(s)
                p, c = 0, 0
                while p < n:
                    phrase = n - p
                    for l in range(1, n - p + 1):
                        if s[p:p + l] not in s[:p + l - 1]:
                            phrase = l
                            break
                    c += 1
                    p += phrase
                ids.append(int(i))
                ncs.append(n)
                cs.append(c)
                rs.append(c * 1000000 // n if n else 0)
            yield pd.DataFrame({id_col: ids, "n_chars": ncs,
                                "n_phrases": cs, "ratio_ppm": rs})

    return (df.select(F.col(id_col),
                      F.substring(F.col(text_col), 1, pl).alias("s"))
            .mapInPandas(fn, out_schema))


def stupid_backoff_score(train: DataFrame, eval_docs: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007) ->
    (doc_id, n_scored, sum_score_ppm): score every trigram position
    of the EVAL stream against counts from the TRAIN corpus, backing
    off trigram -> bigram -> unigram with the 0.4 factor, in pure
    fixed-point integers — S(w3|w1w2) = 1e6*c123 div c12, else
    0.4 * (1e6*c23 div c2), else 0.4^2 * (1e6*c3 div N), else 0 for
    an unseen word (0.4x = (2*x) div 5, applied per backoff level;
    the truncation IS the contract, identical on both engines). The
    large-corpus LM-quality scorer that needs no discount estimation
    — exactly why Brants et al. built it for web-scale counts; sits
    beside unigram_logprob / bigram_logprob (KN), which pay libm for
    proper probabilities.

    Scale shape: n-gram extraction = positional equi-joins (p+1,
    p+2 probe keys — the skipgram_ppmi pattern, never a window over
    the token stream); count tables are vocabulary-scale groupBys;
    lookups are five LEFT equi-joins pinned hint('merge') because an
    n-gram dim's true cardinality is corpus-scale (the
    ngram_dup_stats AQE-broadcast lesson). Whitespace-normalized
    input contract: positions must be gap-free for adjacency."""

    def toks(df):
        return (df.select(F.col(id_col).alias("d"),
                          F.posexplode(F.split(F.col(text_col), " "))
                          .alias("p", "w"))
                .filter(F.col("w") != ""))

    tt = toks(train)
    t1, t2, t3 = tt.alias("t1"), tt.alias("t2"), tt.alias("t3")
    pairs = (t1.join(t2, (F.col("t1.d") == F.col("t2.d"))
                     & (F.col("t2.p") == F.col("t1.p") + 1))
             .select(F.col("t1.d").alias("d"), F.col("t1.p").alias("p"),
                     F.col("t1.w").alias("w1"), F.col("t2.w").alias("w2")))
    pr = pairs.alias("pr")
    tris = (pr.join(t3, (F.col("pr.d") == F.col("t3.d"))
                    & (F.col("t3.p") == F.col("pr.p") + 2))
            .select(F.col("pr.w1").alias("w1"),
                    F.col("pr.w2").alias("w2"),
                    F.col("t3.w").alias("w3")))
    tri_c = tris.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("long").alias("c123"))
    big_c = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12"))
    uni_c = tt.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c1"))
    n_tot = tt.agg(F.count(F.lit(1)).cast("long").alias("n_tok"))

    et = toks(eval_docs)
    e1, e2, e3 = et.alias("e1"), et.alias("e2"), et.alias("e3")
    epos = (e1.join(e2, (F.col("e1.d") == F.col("e2.d"))
                    & (F.col("e2.p") == F.col("e1.p") + 1))
            .join(e3, (F.col("e1.d") == F.col("e3.d"))
                  & (F.col("e3.p") == F.col("e1.p") + 2))
            .select(F.col("e1.d").alias("d"), F.col("e1.p").alias("p"),
                    F.col("e1.w").alias("w1"), F.col("e2.w").alias("w2"),
                    F.col("e3.w").alias("w3")))
    scored = (epos
              .join(tri_c.hint("merge"), ["w1", "w2", "w3"], "left")
              .join(big_c.hint("merge"), ["w1", "w2"], "left")
              .join(big_c.hint("merge")
                    .select(F.col("w1").alias("w2"),
                            F.col("w2").alias("w3"),
                            F.col("c12").alias("c23")),
                    ["w2", "w3"], "left")
              .join(uni_c.hint("merge")
                    .select(F.col("w").alias("w2"),
                            F.col("c1").alias("c2")), ["w2"], "left")
              .join(uni_c.hint("merge")
                    .select(F.col("w").alias("w3"),
                            F.col("c1").alias("c3")), ["w3"], "left")
              .crossJoin(F.broadcast(n_tot)))
    sc = F.expr(
        "CASE WHEN c123 IS NOT NULL "
        "THEN (c123 * 1000000) div c12 "
        "WHEN c23 IS NOT NULL "
        "THEN (2 * ((c23 * 1000000) div c2)) div 5 "
        "WHEN c3 IS NOT NULL "
        "THEN (2 * ((2 * ((c3 * 1000000) div n_tok)) div 5)) div 5 "
        "ELSE 0 END")
    return (scored.select(F.col("d").alias(id_col), sc.alias("s"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_scored"),
                 F.sum("s").cast("long").alias("sum_score_ppm")))


def term_burstiness(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    bucket_docs: int = 50,
                    min_total: int = 20) -> DataFrame:
    """Per-term Fano factor -> (term, n_buckets, total, fano_ppm):
    variance-to-mean of a term's occurrence counts over fixed doc
    buckets — the classic burstiness signal (Church & Gale): a
    uniform function word sits near 1e6 (Poisson), a topical term
    clumps far above it. The missing-zero problem is handled by
    construction: buckets where the term is absent contribute x=0
    through the GLOBAL bucket count, not a per-term dense explode —
    sums over absent buckets are zero, so only n (all buckets) and
    the term's own rows enter the moments.

    Integer-pure: fano_ppm = 1e6 * (n*Sxx - Sx^2) div ((n-1) * Sx)
    over exact BIGINT moments (absent buckets add nothing to Sx/Sxx
    and are counted in n). One token explode + two groupBys."""
    b = (df.select(F.expr(f"{id_col} div {int(bucket_docs)}")
                   .alias("b"),
                   F.explode(F.split(F.col(text_col), " "))
                   .alias("term"))
         .filter(F.col("term") != ""))
    per = b.groupBy("term", "b").agg(
        F.count(F.lit(1)).cast("long").alias("x"))
    nb = (df.select(F.expr(f"{id_col} div {int(bucket_docs)}")
                    .alias("b")).distinct()
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    agg = (per.groupBy("term")
           .agg(F.sum("x").alias("sx"),
                F.sum(F.expr("x * x")).alias("sxx"))
           .filter(F.col("sx") >= int(min_total))
           .crossJoin(F.broadcast(nb)))
    return agg.select(
        "term", F.col("n").alias("n_buckets"),
        F.col("sx").alias("total"),
        F.expr("CASE WHEN n > 1 AND sx > 0 THEN "
               "(1000000 * (n * sxx - sx * sx)) div ((n - 1) * sx) "
               "ELSE 0 END").alias("fano_ppm"))


def simpson_diversity(df: DataFrame, group_col: str,
                      text_col: str = "text") -> DataFrame:
    """Gini-Simpson token diversity per group -> (g, n_tokens,
    n_types, simpson_ppm): 1 - sum n_i(n_i-1)/(N(N-1)) — the
    ecology-standard concentration complement to char_entropy's
    Shannon view and mattr_diversity's windowed TTR; the n(n-1)
    unbiased form keeps everything exact BIGINT (no p^2 floats),
    ppm by one trunc div. Two vocabulary-scale groupBys."""
    tk = (df.select(F.col(group_col).alias("g"),
                    F.explode(F.split(F.col(text_col), " "))
                    .alias("w"))
          .filter(F.col("w") != ""))
    per = tk.groupBy("g", "w").agg(F.count(F.lit(1)).cast("long")
                                   .alias("c"))
    agg = per.groupBy("g").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.expr("c * (c - 1)")).alias("rep"))
    return agg.select(
        "g", F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_types",
        F.expr("CASE WHEN n_tokens > 1 THEN 1000000 - "
               "(1000000 * rep) div (n_tokens * (n_tokens - 1)) "
               "ELSE 0 END").alias("simpson_ppm"))
