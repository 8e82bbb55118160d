"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
* exact dedup = one hash-groupBy on a 32-char key (map-side partial agg);
* MinHash-LSH = shingle explode -> per-doc min-agg (8 hashes) -> band keys
  -> self-join on band buckets (equi-join, broadcastable band dimension is
  unnecessary: bucket sizes are tiny by construction) -> exact Jaccard
  verification ONLY on candidate pairs. No O(n^2) stage anywhere; the
  verify join is proportional to candidate count.
* SimHash = token x bit-position explode with sign aggregation - one
  shuffle, output is a per-doc 16-bit signature usable as a bucket key.

Hash functions are md5-based so the DuckDB oracle can reproduce every
value bit-for-bit (md5 is identical across engines; no engine-specific
hash() is used anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_MINHASHES = 8
BAND_SIZE = 2  # 4 bands of 2 -> candidates need 1 identical band


def normalized_text(text_col):
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(text_col), r"[^a-z0-9 ]", ""), r" +", " "))


def exact_dedup_keep(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, fingerprint) of the KEPT document per fingerprint group (the
    numerically smallest id) - the batch twin of
    ``streaming_exact_dedup``."""
    keyed = df.select(
        F.col(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("fingerprint"))
    return keyed.groupBy("fingerprint").agg(F.min(id_col).alias(id_col)) \
        .select(id_col, "fingerprint")


def streaming_exact_dedup(stream: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: emit each normalization fingerprint's FIRST
    document, suppress every later duplicate across micro-batches - the
    incremental-corpus-construction primitive (WARC drops arriving over
    time, already-seen pages dropped on ingest).

    Custom stateful operator (applyInPandasWithState keyed on the
    fingerprint): state is one boolean per fingerprint ever seen. Within
    a single trigger the smallest id of the group wins (deterministic
    under any partitioning); across triggers first-arrival wins. The
    output therefore equals the batch twin ``exact_dedup_keep`` whenever
    the earliest trigger containing a fingerprint also carries its
    minimal id (append-ordered sources); under arbitrary arrival the
    streaming contract is first-wins, which is exactly what ingest
    dedup wants.

    State is fingerprint-count-sized and never expires (NoTimeout): a
    deployment bounds it with a TTL timeout or periodic snapshot-compact
    into the exact-dedup table; document-scale state (16 bytes/doc) is
    the standard trade for exact ingest dedup."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{id_col} long, fingerprint string"
    state_schema = "seen boolean"

    def fn(key, pdfs, state):
        import pandas as pd
        if state.exists:
            return
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf[id_col].min()
                best = m if best is None else min(best, m)
        if best is not None:
            state.update((True,))
            yield pd.DataFrame({id_col: [int(best)],
                                "fingerprint": [key[0]]})

    keyed = stream.select(
        F.col(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("fingerprint"))
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document (w_i .. w_{i+k-1} joined by
    spaces over the normalized text)."""
    words = F.split(normalized_text(F.col(text_col)), " ")
    df2 = df.select(F.col(id_col), words.alias("w"))
    n = F.size("w")
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(F.col("w"), i + j + 1)
                                          for j in range(k)]))
    return (df2.filter(n >= k)
            .select(id_col, F.explode(F.array_distinct(sh)).alias("shingle")))


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """8 md5-minhashes per doc + 4 band keys (2 hashes per band)."""
    aggs = [F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"mh{s}")
            for s in range(N_MINHASHES)]
    sig = sh.groupBy(id_col).agg(*aggs)
    for b in range(N_MINHASHES // BAND_SIZE):
        cols = [F.col(f"mh{b * BAND_SIZE + j}") for j in range(BAND_SIZE)]
        sig = sig.withColumn(f"band{b}", F.md5(F.concat_ws("|", *cols)))
    return sig


MAX_BUCKET_SIZE = 100


def capped_bucket_pairs(bands: DataFrame,
                        max_bucket_size: int = MAX_BUCKET_SIZE) -> DataFrame:
    """(id, band, bucket) rows -> distinct (a < b) pairs that share a
    (band, bucket) cell, with hot buckets dropped BEFORE any member list
    is materialized.

    Hot-bucket guard: a bucket holding k documents yields k^2/2 pairs, so
    boilerplate-heavy corpora can turn one bucket into the whole job's
    skew. Buckets larger than ``max_bucket_size`` are dropped (standard
    LSH practice - such groups are better served by the exact-fingerprint
    dedup pass); the SQL oracles apply the same cap.

    Physical plan: a cheap count aggregation (map-side partial agg, so the
    shuffle carries one row per distinct bucket per mapper) selects
    surviving buckets; the band rows are then equi-joined to the survivor
    set and collected per bucket. The size filter runs before
    collect_list, so a pathological bucket (the exact skew case the cap
    exists for) never builds its giant member list in an aggregation
    buffer. The join and the collect groupBy share the (band, bucket)
    hash partitioning, so the survivor path re-shuffles the capped band
    rows once; every list is bounded at ``max_bucket_size`` ids."""
    sizes = (bands.groupBy("band", "bucket")
             .agg(F.count(F.lit(1)).alias("bn"))
             .filter((F.col("bn") >= 2) & (F.col("bn") <= max_bucket_size)))
    survivors = bands.join(sizes.select("band", "bucket"), ["band", "bucket"])
    groups = (survivors.groupBy("band", "bucket")
              .agg(F.sort_array(F.collect_list("id")).alias("ids")))
    pairs = groups.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))"
    )).alias("p")).select("p.a", "p.b")
    return pairs.distinct()


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id",
                        max_bucket_size: int = MAX_BUCKET_SIZE) -> DataFrame:
    """Distinct (a < b) pairs sharing at least one MinHash band bucket
    (see ``capped_bucket_pairs`` for the skew guard + plan shape)."""
    n_bands = N_MINHASHES // BAND_SIZE
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(n_bands)]))
        .alias("band", "bucket"))
    return capped_bucket_pairs(bands, max_bucket_size)


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  threshold: float = 0.5,
                  shingle_table_path: str | None = None) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle-set Jaccard:
    (a, b, jaccard) for pairs >= threshold.

    The shingle table is consumed 4x (signatures, both verify sides,
    sizes). Default path: ``.cache()`` - an optimization, not a
    correctness dependency; at 100 TB the cache degrades to
    recompute-per-consumer (still correct). Production path:
    ``shingle_table_path`` materializes the shingles to a parquet table
    pre-partitioned on the id column and every consumer reads THAT -
    one shingle computation total, durable spill-to-disk, and the
    id-keyed layout co-locates the verify-join sides (on Iceberg the
    same write is ``bucket(n, doc_id)``; see spark/bucketing.py for the
    transform mapping). Both paths produce identical pairs
    (tests/test_textstats_ops.py::test_jaccard_materialized_shingles)."""
    sh = _shingle_source(df, id_col, text_col, k, shingle_table_path)
    return (_pair_intersections(sh, id_col)
            .withColumn("jaccard",
                        F.round(F.col("n_inter")
                                / (F.col("na") + F.col("nb") - F.col("n_inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def _shingle_source(df: DataFrame, id_col: str, text_col: str, k: int,
                    shingle_table_path: str | None) -> DataFrame:
    """The multiply-consumed shingle table: cached by default,
    materialized to an id-partitioned parquet table when a path is given
    (see ``jaccard_pairs`` docstring for the 100-TB tradeoff)."""
    if shingle_table_path is not None:
        (shingles(df, id_col, text_col, k)
         .repartition(F.col(id_col))
         .write.mode("overwrite").parquet(shingle_table_path))
        return df.sparkSession.read.parquet(shingle_table_path)
    return shingles(df, id_col, text_col, k).cache()


def _pair_intersections(sh: DataFrame, id_col: str) -> DataFrame:
    """LSH candidates with exact shingle-set overlap counts:
    (a, b, n_inter, na, nb). The shared verify core of ``jaccard_pairs``
    (symmetric similarity) and ``containment_pairs`` (asymmetric
    subset/quote detection): candidates from the capped band join, one
    intersection count join proportional to candidates, two broadcast-
    friendly size joins."""
    cands = lsh_candidate_pairs(minhash_signatures(sh, id_col), id_col)
    sa = sh.select(F.col(id_col).alias("a"), "shingle")
    sb = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (cands.join(sa, "a").join(sb, ["b", "shingle"])
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_inter")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    return (inter
            .join(sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na")), "a")
            .join(sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb")), "b"))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      threshold: float = 0.8,
                      shingle_table_path: str | None = None) -> DataFrame:
    """Asymmetric shingle containment over LSH candidate pairs:
    (a, b, containment_ab, containment_ba) where
    ``containment_ab = |S(a) ∩ S(b)| / |S(a)|`` - the quote / subset /
    boilerplate-inclusion detector (Broder's containment, the companion
    measure to Jaccard resemblance). A page that wholly quotes another
    scores containment 1.0 in one direction while its Jaccard can sit far
    below any dedup threshold, so this is the measure that catches
    aggregation/scraper sites. Pairs survive when EITHER direction
    reaches ``threshold``.

    Same scale shape as ``jaccard_pairs`` (shared ``_pair_intersections``
    core): capped LSH banding generates candidates, so no O(n^2) stage;
    the containment division is a per-pair codegen expression.

    No counterpart in /root/reference (no corpus-dedup surface there);
    semantics follow Broder 1997 "On the resemblance and containment of
    documents"."""
    sh = _shingle_source(df, id_col, text_col, k, shingle_table_path)
    pairs = _pair_intersections(sh, id_col)
    c_ab = F.round(F.col("n_inter") / F.col("na"), 6)
    c_ba = F.round(F.col("n_inter") / F.col("nb"), 6)
    return (pairs
            .withColumn("containment_ab", c_ab)
            .withColumn("containment_ba", c_ba)
            .filter((F.col("containment_ab") >= threshold)
                    | (F.col("containment_ba") >= threshold))
            .select("a", "b", "containment_ab", "containment_ba"))


def levenshtein_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      max_dist: int = 16) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: MinHash-LSH
    candidates whose NORMALIZED texts are within ``max_dist``
    Levenshtein edits -> (a, b, edit_dist). The character-exact verify
    tier above Jaccard: shingle similarity tolerates reordering, edit
    distance does not, so this is the detector for templated/suffix-
    stamped copies (mirror banners, tracking footers).

    Scale design: candidates come from the capped LSH band join (no
    O(n^2) stage); the verify join ships each candidate pair's two
    normalized texts once. The distance itself uses Spark's THRESHOLDED
    ``levenshtein(l, r, threshold)`` (banded DP, O(len * max_dist) with
    early exit, returns -1 past the bound) so a candidate pair of long
    dissimilar texts costs O(len * max_dist), not O(len^2) - the
    difference between feasible and not on book-length documents.

    No counterpart in /root/reference; the SQL oracle verifies with
    DuckDB's exact ``levenshtein`` over the same candidates."""
    sh = shingles(df, id_col, text_col, k).cache()
    cands = lsh_candidate_pairs(minhash_signatures(sh, id_col), id_col)
    norm = df.select(F.col(id_col), normalized_text(F.col(text_col)).alias("t"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"), max_dist)
    return (cands
            .join(norm.select(F.col(id_col).alias("a"),
                              F.col("t").alias("ta")), "a")
            .join(norm.select(F.col(id_col).alias("b"),
                              F.col("t").alias("tb")), "b")
            .withColumn("edit_dist", dist.cast("long"))
            .filter(F.col("edit_dist") >= 0)
            .select("a", "b", "edit_dist"))


def dedup_resolution(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 3,
                     threshold: float = 0.5) -> DataFrame:
    """End-to-end near-duplicate RESOLUTION: MinHash-LSH verified pairs
    -> transitive clusters (a~b, b~c => one cluster even when a,c are
    not directly similar - the standard fuzzy-dedup semantics) ->
    per-document keep decision.

    -> (id, canonical_id, is_kept): canonical_id = the numerically
    smallest member of the document's near-dup cluster (itself when the
    doc has no near-dups), is_kept = doc is its cluster's
    representative. ``df.filter(is_kept)`` IS the deduplicated corpus.

    Distributed shape: pairs from ``jaccard_pairs`` (capped LSH, verify
    join proportional to candidates), clusters from the pointer-jumping
    min-label connected components in spark/kg.py (O(log diameter)
    rounds; near-dup clusters are short chains/cliques so 2-3 rounds).
    Ids ride through CC as zero-padded strings so the string-min label
    equals the numeric min."""
    from ..spark.kg import connected_components
    pairs = jaccard_pairs(df, id_col, text_col, k, threshold)
    pad = 12
    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), pad, "0").alias("src"),
        F.lpad(F.col("b").cast("string"), pad, "0").alias("dst"))
    comp = connected_components(edges)
    canon = comp.select(
        F.col("vertex").cast("long").alias(id_col),
        F.col("component").cast("long").alias("canonical_id"))
    return (df.select(id_col).join(canon, id_col, "left")
            .select(id_col,
                    F.coalesce("canonical_id", F.col(id_col))
                    .alias("canonical_id"))
            .withColumn("is_kept",
                        F.col("canonical_id") == F.col(id_col)))


def embedding_neardup(emb: DataFrame, threshold: float = 0.9,
                      n_bands: int = 4, band_planes: int = 8, dim: int = 64,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      max_bucket_size: int = MAX_BUCKET_SIZE,
                      signatures: str = "arrow") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a < b, cosine) with
    cosine >= threshold.

    Banded hyperplane LSH, mirroring the MinHash path: ``n_bands``
    independent signatures of ``band_planes`` hyperplanes each (plane
    seeds ``band * band_planes + j``); a pair is a candidate when it
    agrees on EVERY plane of at least one band (OR over bands). Exact
    cosine is then verified on candidates only.

    Scale shape: candidates come from ``capped_bucket_pairs``, so the
    pair space is bucket-local AND a degenerate bucket (mass-duplicate or
    near-zero vectors sharing one signature) is dropped at
    ``max_bucket_size`` before its member list materializes - there is no
    unguarded self-join and no O((N/buckets)^2) stage. Banding keeps
    recall: near-identical vectors flip any single plane with low
    probability, and only one intact band of the ``n_bands`` is needed
    (P[candidate] = 1-(1-(1-p)^r)^b vs (1-p)^r for one r-plane signature).
    Genuine misses - all bands cut by a plane - are the documented LSH
    trade-off; the SQL oracle applies the identical scheme.

    ``signatures='arrow'`` (default) computes all n_bands*band_planes
    plane dot products in ONE Arrow matmul stage
    (simsearch.banded_signatures_arrow - the round-2 formulation paid 32
    separate aggregate(zip_with(...)) expression passes, measured ~3x
    slower in an A/B). ``signatures='expr'`` keeps
    the pure-codegen expression path (useful where Python workers are
    unavailable)."""
    from .simsearch import _dot, banded_signatures_arrow, hyperplane_signature
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if signatures == "arrow":
        bands = banded_signatures_arrow(emb, n_bands, band_planes, dim,
                                        id_col, vec_col)
    else:
        sigs = [hyperplane_signature(emb, band_planes, dim, vec_col,
                                     seed_offset=b * band_planes)
                .alias(f"bsig{b}") for b in range(n_bands)]
        with_sig = emb.select(F.col(id_col).alias("id"), *sigs)
        bands = with_sig.select(
            F.col("id"),
            F.posexplode(F.array(*[F.col(f"bsig{b}")
                                   for b in range(n_bands)]))
            .alias("band", "bucket"))
    cands = capped_bucket_pairs(bands, max_bucket_size)
    # norms precomputed ONCE per vector, not per pair: the verify join
    # fans each vector out to many candidate pairs (bucket collisions are
    # chance-driven), so recomputing |v| per pair tripled the per-pair
    # dot-product work - measured 3.5s -> 2.2s at sf0.1 in an A/B.
    # Bit-identical: |v| is a deterministic function of the vector, same
    # value wherever it's computed.
    withn = (emb.select(F.col(id_col).alias("id"), vec.alias("v"))
             .withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v")))))
    va = withn.select(F.col("id").alias("a"), F.col("v").alias("av"),
                      F.col("nv").alias("na"))
    vb = withn.select(F.col("id").alias("b"), F.col("v").alias("bv"),
                      F.col("nv").alias("nb"))
    return (cands.join(va, "a").join(vb, "b")
            .withColumn("cosine",
                        _dot(F.col("av"), F.col("bv"))
                        / (F.col("na") * F.col("nb")))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", F.round("cosine", 6).alias("cosine")))


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over md5-derived token
    hashes. conv(substr(md5,1,4),16,10) gives 16 bits per token; bit b of
    the signature is 1 when the b-th bit is set in more tokens than not.

    Plan shape: ONE groupBy(doc_id) carrying ``bits`` conditional-sum
    aggregates (sum(when(bit_b_set, 1).otherwise(-1))) computed from the
    token hash, then the signature assembled from the per-bit sums in the
    same projection - one shuffle of (doc_id, 16 longs) with map-side
    partial aggregation, replacing the earlier token x bit-position
    explode (bits-fold row blow-up) + two shuffles."""
    words = F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("w")
    tok = df.select(F.col(id_col), words)
    tok = tok.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("long"))
    aggs = [F.sum(F.when(F.expr(f"(h div shiftleft(1L, {b})) % 2") == 1,
                         F.lit(1)).otherwise(F.lit(-1))).alias(f"s{b}")
            for b in range(bits)]
    sums = tok.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sums.select(id_col, sig.cast("long").alias("simhash"))


def simhash_neardup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", bits: int = 16,
                    n_bands: int = 4, max_hamming: int = 3,
                    max_bucket_size: int = MAX_BUCKET_SIZE) -> DataFrame:
    """SimHash near-duplicate pairs (a < b, hamming) with hamming <=
    ``max_hamming`` - the classic rotation/banding scheme (Manku et al.,
    WWW'07): two signatures within hamming distance k must agree exactly
    on at least one of k+1 disjoint bit bands, so candidates are pairs
    sharing any band value and only candidates pay the exact
    hamming check (bit_count(a XOR b), pure codegen).

    Same scale shape as the MinHash and embedding paths: band explode ->
    ``capped_bucket_pairs`` (hot buckets dropped before any member list
    materializes) -> verify join proportional to candidates. With the
    default 4 bands of 4 bits the scheme is exact for max_hamming <= 3."""
    band_bits = bits // n_bands
    sigs = simhash(df, id_col, text_col, bits)
    bands = sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*[
            ((F.col("simhash") / F.lit(1 << (b * band_bits))).cast("long")
             % (1 << band_bits))
            for b in range(n_bands)])).alias("band", "bucket"))
    cands = capped_bucket_pairs(bands, max_bucket_size)
    sa = sigs.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"))
    return (cands.join(sa, "a").join(sb, "b")
            .withColumn("hamming", F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", F.col("hamming").cast("long").alias("hamming")))


def ngram_dup_stats(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 5) -> DataFrame:
    """Substring-level duplication telemetry (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): for
    each document, how many of its DISTINCT word ``n``-grams also occur
    in at least one OTHER document, and the resulting duplicate
    fraction. This is the per-document signal the paper's ExactSubstr
    dedup thresholds on; unlike whole-document hashing it catches
    boilerplate and partially-copied passages.

    Plan shape (the TF-IDF document-frequency shape):
      1. n-grams are formed entirely map-side - within-row
         ``transform(sequence(...))`` over the normalized word array,
         then ``array_distinct`` BEFORE the explode, so per-document
         deduplication is free and the shuffled row count is bounded by
         distinct grams per doc.
      2. ``groupBy(ngram).count()`` - partial aggregation absorbs hot
         n-grams (ubiquitous boilerplate) map-side.
      3. join back on ngram + final ``groupBy(doc_id)``. The join is a
         sort-merge on ngram whose build side reuses the aggregation's
         exchange; a pathologically hot ngram's probe partition is
         split by AQE skew-join handling - this is why the df-count is
         NOT computed with a ``count() over (partition by ngram)``
         window, which would pin each hot key to a single task with no
         AQE escape hatch.

    Docs with fewer than ``n`` words emit no row (no n-grams exist)."""
    grams = (df.select(
                 F.col(id_col),
                 F.filter(F.split(normalized_text(F.col(text_col)), " "),
                          lambda w: w != "").alias("ws"))
             .filter(F.size("ws") >= n)
             .select(id_col, F.explode(F.array_distinct(F.expr(
                 f"transform(sequence(1, size(ws) - {n - 1}),"
                 f" i -> concat_ws(' ', slice(ws, i, {n})))")))
                 .alias("ngram")))
    dfreq = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("ngram_df"))
    # merge hint: dfreq is corpus-VOCABULARY-scale (distinct n-grams),
    # but its post-aggregation size estimate reads small enough that AQE
    # picks a broadcast join - which OOMs the driver at sf1.0 already
    # and is structurally wrong at any real scale. Pin the sort-merge
    # join; its dfreq side reuses the aggregation's exchange.
    return (grams.join(dfreq.hint("merge"), "ngram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 F.sum(F.when(F.col("ngram_df") > 1, 1).otherwise(0))
                  .alias("n_dup_ngrams"))
            .withColumn("dup_fraction",
                        F.round(F.col("n_dup_ngrams")
                                / F.col("n_ngrams"), 6)))


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                  fp_col: str = "fingerprint") -> DataFrame:
    """Crawl-over-crawl diff: classify every id across two snapshots as
    added / removed / changed / unchanged by comparing content
    fingerprints - the incremental-ingest primitive (process only
    added+changed, tombstone removed) that turns a monthly full crawl
    into a delta pipeline.

    ONE full-outer sort-merge join on the id (both sides shuffle once
    on the same key; at scale, snapshots stored bucketed by id make
    even that shuffle-free - see spark/bucketing.py), null-side checks
    and fingerprint compare in codegen. No collect, no window."""
    o = old.select(F.col(id_col), F.col(fp_col).alias("old_fp"))
    n = new.select(F.col(id_col), F.col(fp_col).alias("new_fp"))
    status = (F.when(F.col("old_fp").isNull(), F.lit("added"))
              .when(F.col("new_fp").isNull(), F.lit("removed"))
              .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return (o.join(n, id_col, "full_outer")
            .select(id_col, "old_fp", "new_fp", status.alias("status")))


def winnowing_fingerprints(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 8,
                           window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 - the MOSS algorithm): hash every character ``k``-gram of
    the normalized text, slide a ``window`` over the hash sequence, and
    keep each window's minimum - guaranteeing at least one shared
    fingerprint for any match of length >= k + window - 1 while storing
    ~2/(window+1) of the grams. The distinct fingerprint SET per doc is
    emitted (the form plagiarism/overlap detection joins on); position
    bookkeeping is dropped, as in MOSS's set-based matcher.

    -> (id, fingerprint), distinct. Entirely map-side: within-row
    transform/slice/array_min over the gram array, ``array_distinct``
    BEFORE the explode - no shuffle at all (the caller's join or
    groupBy is the first Exchange). Hashes are md5 strings so the
    lexicographic window-min is reproduced exactly by the SQL oracle."""
    grams = (f"transform(sequence(1, length(t) - {k - 1}),"
             f" i -> md5(substring(t, i, {k})))")
    mins = (f"transform(sequence(1, size(g) - {window - 1}),"
            f" j -> array_min(slice(g, j, {window})))")
    return (df.select(F.col(id_col),
                      normalized_text(F.col(text_col)).alias("t"))
            .filter(F.length("t") >= k + window - 1)
            .select(id_col, F.expr(grams).alias("g"))
            .select(id_col,
                    F.explode(F.array_distinct(F.expr(mins)))
                    .alias("fingerprint")))


def streaming_snapshot_cdc(stream: DataFrame, id_col: str = "doc_id",
                           seq_col: str = "seq",
                           fp_col: str = "fingerprint") -> DataFrame:
    """Streaming change-data-capture - the incremental complement of
    ``snapshot_diff``: for a stream of (id, seq, fingerprint)
    observations (seq = crawl generation / capture time), emit
    ``added`` the first time an id is ever seen and ``changed``
    whenever its fingerprint differs from the stored one; unchanged
    re-observations emit nothing, so downstream reprocessing cost is
    proportional to the DELTA, not the crawl.

    Custom stateful operator (applyInPandasWithState keyed on the id;
    state = last fingerprint, 32 bytes/doc). Rows of a key process in
    ``seq`` order within a trigger and state carries across triggers,
    so a full-crawl replay and a trickle arrive at the same emissions.
    An append stream cannot OBSERVE removal - snapshot_diff (which
    sees both full snapshots) reports ``removed``, or model deletions
    as tombstone fingerprints. State never expires (NoTimeout), like
    streaming_exact_dedup: bound it in deployment with a TTL or
    periodic compaction into the snapshot table."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{id_col} long, {seq_col} long, status string"
    state_schema = "fp string"

    def fn(key, pdfs, state):
        import pandas as pd
        last = state.get[0] if state.exists else None
        ids, seqs, sts = [], [], []
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(seq_col, kind="mergesort")
        for s, fp in zip(rows[seq_col], rows[fp_col]):
            if last is None:
                st = "added"
            elif fp != last:
                st = "changed"
            else:
                st = None
            if st is not None:
                ids.append(int(key[0])); seqs.append(int(s)); sts.append(st)
            last = fp
        state.update((last,))
        if ids:
            yield pd.DataFrame({id_col: ids, seq_col: seqs, "status": sts})

    return stream.groupBy(F.col(id_col)).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def tfidf_cosine_pairs(df: DataFrame, n: int = 3, threshold: float = 0.8,
                       max_df: int = 20, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Sparse lexical similarity join: all document pairs whose TF-IDF
    word-``n``-gram vectors have cosine >= ``threshold`` - the
    inverted-index all-pairs formulation (Bayardo et al. WWW'07;
    Vernica et al. SIGMOD'10 for the MapReduce shape) that complements
    the hash-based dedup family: MinHash estimates Jaccard, SimHash
    buckets hamming balls, this computes the EXACT weighted cosine,
    the score IR-era near-dup systems thresholded.

    -> (doc_a, doc_b, cosine) with doc_a < doc_b, cosine rounded to 6.

    Pipeline (shingle tf -> df -> idf = ln(N/df) -> unit-normalized
    weights) runs as partial-agged groupBys; the pair space then:

    * **Candidate generation** joins the inverted index with itself
      ONLY on terms with document frequency <= ``max_df`` - the
      standard hot-term guard: a term in k docs emits O(k^2) candidate
      rows, so ubiquitous boilerplate shingles must not generate
      candidates. The cap is part of the operator's CONTRACT (and of
      the SQL oracle): a pair sharing exclusively hotter-than-cap
      terms is not reported. With idf weighting those terms carry the
      least cosine mass, and every such equi-join partition is
      AQE-splittable - no nested loop anywhere. Budget rule: the
      candidate space is bounded by n_distinct_terms * max_df^2 / 2,
      so size max_df to the candidate budget - the default 20 caps
      each term at 190 pairs. (In-session evidence: on the dense
      synthetic corpus at sf0.1, max_df=100 admitted 5.0M candidate
      pairs and OOMed the verify join; max_df=10 admits 71k.)
    * **Verification** recomputes the cosine EXACTLY over the FULL
      index (all shared terms, hot ones included) for the candidate
      pairs only - the same capped-candidates + exact-verify pattern
      as jaccard_pairs; work is proportional to candidates, not to
      the pair space.

    Docs with fewer than ``n`` words (no shingles) never pair."""
    grams = (df.select(
                 F.col(id_col),
                 F.filter(F.split(normalized_text(F.col(text_col)), " "),
                          lambda w: w != "").alias("ws"))
             .filter(F.size("ws") >= n)
             .select(id_col, F.explode(F.expr(
                 f"transform(sequence(1, size(ws) - {n - 1}),"
                 f" i -> concat_ws(' ', slice(ws, i, {n})))"))
                 .alias("term")))
    tf = grams.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("term_df"))
    # N as a driver literal (count() over parquet is rowgroup-metadata
    # only - cheap at any scale) instead of a 1-row crossJoin dimension:
    # the idf expression stays pure codegen and the totals subtree is
    # not re-inlined under every consumer of the index.
    n_docs = df.count()
    # idf = ln(N/df); terms present in every doc weigh 0 and drop out
    weighted = (tf.join(dfreq.hint("merge"), "term")
                .select(id_col, "term", "term_df",
                        (F.col("tf") * F.log(F.lit(float(n_docs))
                                             / F.col("term_df")))
                        .alias("w")))
    norm = weighted.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    index = (weighted.join(norm, id_col).filter(F.col("nrm") > 0)
             .select(F.col(id_col).alias("doc"), "term", "term_df",
                     (F.col("w") / F.col("nrm")).alias("u")))
    rare = index.filter(F.col("term_df") <= max_df)
    cand = (rare.select(F.col("doc").alias("doc_a"), "term")
            .join(rare.select(F.col("doc").alias("doc_b"), "term"), "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    ia = index.select(F.col("doc").alias("doc_a"), "term",
                      F.col("u").alias("ua"))
    ib = index.select(F.col("doc").alias("doc_b"), "term",
                      F.col("u").alias("ub"))
    return (cand.join(ia, "doc_a").join(ib, ["doc_b", "term"])
            .groupBy("doc_a", "doc_b")
            .agg(F.round(F.sum(F.col("ua") * F.col("ub")), 6)
                 .alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def rowwise_band_keys(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, band, bucket): MinHash-LSH band keys computed ENTIRELY
    within-row - shingle array, per-hash array_min, band digests - then
    one posexplode. Identical values to shingles() +
    minhash_signatures() (min over an array equals min over exploded
    rows), but with zero pre-state shuffle: the shape a streaming
    source needs, where a groupBy-agg signature would add a stateful
    aggregation before the stateful dedup. Docs with fewer than ``k``
    words emit no keys."""
    words = F.split(normalized_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), words.alias("w"))
    n = F.size("w")
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(F.col("w"), i + j + 1)
                                          for j in range(k)])))
    sig = base.filter(n >= k).select(id_col, sh.alias("sh"))

    def _mh(s):
        # NB: a two-parameter lambda would make F.transform pass the
        # ARRAY INDEX as the second argument - close over s instead
        return lambda x: F.md5(F.concat(F.lit(f"{s}:"), x))

    for s in range(N_MINHASHES):
        sig = sig.withColumn(f"mh{s}",
                             F.array_min(F.transform(F.col("sh"), _mh(s))))
    bands = F.array(*[
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * BAND_SIZE + j}")
                                 for j in range(BAND_SIZE)]))
        for b in range(N_MINHASHES // BAND_SIZE)])
    return sig.select(F.col(id_col),
                      F.posexplode(bands).alias("band", "bucket"))


def lsh_band_hits(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Batch twin of ``streaming_lsh_neardup``: per (band, bucket) the
    owner is the minimum doc id; every other member emits
    (doc_id, band, first_doc). A doc appearing in ANY row is an LSH
    near-dup candidate (OR-of-bands); verification against the owner is
    the caller's join (jaccard_pairs-style). Owner resolution is a
    partial-agged groupBy + join back - no per-bucket window."""
    keys = rowwise_band_keys(df, id_col, text_col)
    owners = keys.groupBy("band", "bucket").agg(
        F.min(id_col).alias("first_doc"))
    return (keys.join(owners, ["band", "bucket"])
            .filter(F.col(id_col) != F.col("first_doc"))
            .select(id_col, F.col("band").cast("long").alias("band"),
                    "first_doc"))


def streaming_lsh_neardup(stream: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Streaming MinHash-LSH ingest near-dup detection: the fuzzy
    sibling of ``streaming_exact_dedup``. Band keys are computed
    within-row (``rowwise_band_keys`` - no stateful aggregation before
    the stateful operator), the stream is keyed by (band, bucket), and
    state remembers each bucket's first-arrival owner. Every later doc
    landing in an owned bucket emits (doc_id, band, first_doc); a doc
    emitting in >= 1 band is a near-dup candidate exactly as in batch
    LSH (OR-of-bands). Within one trigger the smallest id owns the
    bucket (deterministic under any partitioning); across triggers
    first arrival owns - so with append-ordered sources the emitted
    hits equal the batch twin ``lsh_band_hits`` (equivalence-tested
    across genuine multi-trigger state carry-over).

    State is one long per occupied bucket (bounded by corpus band
    cardinality; a deployment TTLs or snapshot-compacts it like the
    exact-dedup state). Candidates still need cosine/jaccard VERIFY
    downstream - same contract as batch LSH candidates."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{id_col} long, band long, first_doc long"
    state_schema = "owner long"

    def fn(key, pdfs, state):
        import pandas as pd
        ids = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf[id_col])
        if not ids:
            return
        ids = sorted(set(ids))
        if state.exists:
            owner = int(state.get[0])
        else:
            owner = ids[0]
            state.update((owner,))
            ids = ids[1:]
        hits = [d for d in ids if d != owner]
        if hits:
            yield pd.DataFrame({id_col: hits,
                                "band": [int(key[0])] * len(hits),
                                "first_doc": [owner] * len(hits)})

    keyed = rowwise_band_keys(stream, id_col, text_col)
    return keyed.groupBy("band", "bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def dup_spans(df: DataFrame, n: int = 5, min_words: int = 8,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Duplicated-SPAN telemetry (the span-level companion of
    ``ngram_dup_stats``, after Lee et al. arXiv:2107.06499 ExactSubstr):
    per document the maximal word ranges every ``n``-gram window of
    which occurs at least twice in the corpus (anywhere - another doc
    or elsewhere in the same doc, the ExactSubstr notion of a repeat).
    -> (id, start_word, end_word, span_words): 0-based inclusive word
    range, reported when the span covers >= ``min_words`` words.
    A substring duplicated as a whole has all its windows duplicated,
    so every true duplicated substring of >= min_words words is
    contained in a reported span; chained runs whose windows repeat
    against DIFFERENT partners over-approximate (the documented
    ExactSubstr-family behavior), which is the right direction for a
    removal/flagging signal.

    Scale shape: windows form map-side (posexplode over the within-row
    gram array); the occurrence count is one partial-agged groupBy
    (hot boilerplate grams absorb map-side) joined back with a pinned
    sort-merge (vocabulary-scale build side - the ngram_dup_stats AQE
    lesson); run detection is per-document and WINDOW-FREE: duplicated
    positions collect into one bounded-by-doc-length sorted array and
    a single fold emits the maximal runs (gaps-and-islands without a
    per-doc window - the oracle uses the row_number islands
    formulation as an independent check)."""
    grams = (df.select(
                 F.col(id_col),
                 F.filter(F.split(normalized_text(F.col(text_col)), " "),
                          lambda w: w != "").alias("ws"))
             .filter(F.size("ws") >= n)
             .select(id_col, F.posexplode(F.expr(
                 f"transform(sequence(1, size(ws) - {n - 1}),"
                 f" i -> concat_ws(' ', slice(ws, i, {n})))"))
                 .alias("pos", "gram")))
    occ = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_occ"))
    dup_pos = (grams.join(occ.hint("merge"), "gram")
               .filter(F.col("n_occ") >= 2)
               .select(id_col, "pos"))
    runs = dup_pos.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("ps"))
    # fold the sorted positions into (start, end) islands
    init = F.expr("named_struct('spans', cast(array() as "
                  "array<struct<s int, e int>>), 's', -2, 'e', -2)")
    step = lambda acc, p: F.struct(  # noqa: E731
        F.when(p == acc["e"] + 1, acc["spans"])
        .otherwise(F.when(acc["s"] >= 0,
                          F.concat(acc["spans"], F.array(F.struct(
                              acc["s"].alias("s"), acc["e"].alias("e")))))
                   .otherwise(acc["spans"])).alias("spans"),
        F.when(p == acc["e"] + 1, acc["s"]).otherwise(p).alias("s"),
        p.alias("e"))
    fin = lambda acc: F.when(  # noqa: E731
        acc["s"] >= 0,
        F.concat(acc["spans"],
                 F.array(F.struct(acc["s"].alias("s"),
                                  acc["e"].alias("e"))))).otherwise(
        acc["spans"])
    spans = runs.select(
        F.col(id_col),
        F.explode(F.aggregate("ps", init, step, fin)).alias("sp"))
    out = spans.select(
        id_col,
        F.col("sp.s").cast("long").alias("start_word"),
        (F.col("sp.e") + n - 1).cast("long").alias("end_word"),
        (F.col("sp.e") - F.col("sp.s") + n).cast("long")
        .alias("span_words"))
    return out.filter(F.col("span_words") >= min_words)


def remove_spans(df: DataFrame, spans: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """ExactSubstr REMOVAL (the second half of Lee et al.'s dedup:
    ``dup_spans`` detects, this cuts): -> (id, text_clean, n_removed_words,
    n_kept_words) with every reported word span deleted from the
    normalized text (first occurrences go too, matching the paper's
    ExactSubstr behavior - both copies of a cluster lose the span; the
    keep-one-copy policy lives at document level via dedup_keep).

    Spans collect per document (bounded by spans-per-doc, not corpus)
    into one array; the cut is a single within-row filter over the
    word positions - no explode of the text side, no UDF. Documents
    with no spans pass through with their normalized text intact.
    Output text is the NORMALIZED form (dup_spans' coordinate space -
    word indices over normalized_text)."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_word", "end_word")).alias("sps"))
    words = F.filter(F.split(normalized_text(F.col(text_col)), " "),
                     lambda w: w != "")
    base = df.select(F.col(id_col), words.alias("ws")) \
        .join(sp, id_col, "left")
    # keep word i unless some span [s, e] covers it
    kept = F.filter(
        F.expr("transform(ws, (w, i) -> struct(w as w, i as i))"),
        lambda p: ~F.exists(
            F.coalesce(F.col("sps"),
                       F.expr("cast(array() as array<struct<"
                              "start_word bigint, end_word bigint>>)")),
            lambda s: (p["i"] >= s["start_word"])
            & (p["i"] <= s["end_word"])))
    return base.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda p: p["w"]), " ")
        .alias("text_clean"),
        (F.size("ws") - F.size(kept)).cast("long")
        .alias("n_removed_words"),
        F.size(kept).cast("long").alias("n_kept_words"))


def apply_cdc(changes: DataFrame, id_col: str = "doc_id",
              seq_col: str = "seq", op_col: str = "op") -> DataFrame:
    """CDC apply / latest-snapshot materialization - the MERGE half of
    the CDC story (``streaming_snapshot_cdc`` detects deltas; this
    collapses an accumulated change log back into the current table,
    the lakehouse ``MERGE INTO`` without Iceberg jars): for a log of
    (id, seq, op, payload...) rows keep each id's row with the highest
    ``seq`` (ties -> upsert wins over delete, the conservative order),
    then drop ids whose latest op is ``'d'`` (tombstone).

    One partial-agged groupBy: ``max(struct(seq, op_rank, payload))``
    per id - latest-wins resolution is an AGGREGATION, never a
    row_number window over the log, so a hot key (frequently re-crawled
    page) partial-aggregates map-side. Payload columns ride inside the
    struct, so the row stays atomic (no join-back). At scale, bucket
    the log and the snapshot by id-hash and the groupBy is
    shuffle-free."""
    payload = [c for c in changes.columns
               if c not in (id_col, seq_col, op_col)]
    op_rank = F.when(F.col(op_col) == "d", F.lit(0)).otherwise(F.lit(1))
    packed = F.struct(F.col(seq_col).alias("seq"),
                      op_rank.alias("opr"),
                      F.col(op_col).alias("op"),
                      *[F.col(c).alias(c) for c in payload])
    latest = changes.groupBy(id_col).agg(F.max(packed).alias("b"))
    live = latest.filter(F.col("b.op") != "d")
    return live.select(id_col, F.col("b.seq").alias(seq_col),
                       *[F.col(f"b.{c}").alias(c) for c in payload])


def exact_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """EXACT all-pairs shingle Jaccard >= threshold - no LSH, ground
    truth for ``neardup_recall``. Any pair above any positive threshold
    shares at least one shingle, so the pair space is generated by the
    shingle self-join itself (sum of df^2 over shingles) - correct and
    complete, but NOT the 100-TB path: run it on the SAMPLED slice the
    acceptance check uses, never the corpus (that is what the LSH path
    is for)."""
    sh = shingles(df, id_col, text_col, k).cache()
    sa = sh.select(F.col(id_col).alias("a"), "shingle")
    sb = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (sa.join(sb, "shingle")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_inter")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    return (inter
            .join(sizes.select(F.col(id_col).alias("a"),
                               F.col("n").alias("na")), "a")
            .join(sizes.select(F.col(id_col).alias("b"),
                               F.col("n").alias("nb")), "b")
            .withColumn("jaccard",
                        F.round(F.col("n_inter")
                                / (F.col("na") + F.col("nb")
                                   - F.col("n_inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def neardup_recall(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 3,
                   threshold: float = 0.5) -> DataFrame:
    """Acceptance telemetry for the LSH near-dup pipeline: ONE row
    (n_exact, n_approx, n_hits, recall, precision) comparing
    ``jaccard_pairs`` (LSH candidates, exact verify) against
    ``exact_jaccard_pairs`` ground truth at the same threshold - the
    ivfpq_recall counterpart for dedup. Precision is 1.0 by
    construction (the verify step computes exact Jaccard on every
    candidate); recall measures band-collision misses - THE number to
    watch when tuning bands/rows or shrinking signatures. Run on a
    deterministic SAMPLE (the exact side is quadratic in shingle df);
    the pipeline's scale path stays LSH."""
    approx = jaccard_pairs(df, id_col, text_col, k, threshold) \
        .select("a", "b")
    exact = exact_jaccard_pairs(df, id_col, text_col, k, threshold) \
        .select("a", "b")
    hits = exact.join(approx, ["a", "b"])
    ne = exact.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_exact"))
    na = approx.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_approx"))
    nh = hits.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_hits"))
    return (ne.crossJoin(na).crossJoin(nh)
            .select("n_exact", "n_approx", "n_hits",
                    F.round(F.when(F.col("n_exact") > 0,
                                   F.col("n_hits") / F.col("n_exact"))
                            .otherwise(F.lit(1.0)), 6).alias("recall"),
                    F.round(F.when(F.col("n_approx") > 0,
                                   F.col("n_hits") / F.col("n_approx"))
                            .otherwise(F.lit(1.0)), 6).alias("precision")))


def winnowing_pairs(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8, window: int = 4,
                    min_shared: int = 10,
                    max_fingerprint_df: int = 100) -> DataFrame:
    """MOSS's second half: document pairs ranked by SHARED winnowing
    fingerprints -> (a, b, n_shared, overlap) with overlap =
    n_shared / min(|A|, |B|) (the containment-style score MOSS reports;
    a short doc lifted wholesale from a long one scores ~1.0).

    Pure composition: the pair space is ``graph.cocitation`` over
    (fingerprint -> doc) edges - docs "co-cited" by a fingerprint share
    it - inheriting its skew discipline verbatim (fingerprints shared
    by more than ``max_fingerprint_df`` docs are boilerplate, dropped
    BEFORE any pair forms, standard MOSS practice). Two broadcastable
    size joins and a codegen score finish it."""
    from .dedup import winnowing_fingerprints  # self-import for clarity
    from .graph_compose import doc_pair_counts
    fp = winnowing_fingerprints(df, id_col, text_col, k, window)
    pairs = doc_pair_counts(fp, key_col="fingerprint", id_col=id_col,
                            max_df=max_fingerprint_df)
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    return (pairs
            .join(sizes.select(F.col(id_col).alias("a"),
                               F.col("n").alias("na")), "a")
            .join(sizes.select(F.col(id_col).alias("b"),
                               F.col("n").alias("nb")), "b")
            .filter(F.col("n_common") >= min_shared)
            .select("a", "b", F.col("n_common").alias("n_shared"),
                    F.round(F.col("n_common")
                            / F.least("na", "nb"), 6).alias("overlap")))


def prefix_filter_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        t_ppm: int = 800_000,
                        shingle_table_path: str | None = None) -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering (Chaudhuri
    SSJoin / Bayardo AllPairs, WWW'07) -> (a, b, n_inter, n_union,
    jaccard) for every pair with Jaccard >= t_ppm/1e6 — no LSH
    probability of a miss, unlike the MinHash tier. The threshold is
    an integer ppm and every filter below is integer arithmetic; only
    the reported ``jaccard`` column divides (exact small-int ratio,
    6dp-stable on both engines).

    Completeness argument (the reason this is exact): order every
    doc's distinct shingles by GLOBAL ascending document frequency
    (ties by shingle string); the prefix is the first
    n - ceil(t*n) + 1 tokens. If J(a,b) >= t then the overlap O
    satisfies O >= t*max(|a|,|b|) (since union >= max), so fewer than
    ceil(t*n) shared tokens fit in either suffix, each prefix holds a
    shared token — and the globally-SMALLEST shared token is then in
    BOTH prefixes (prefixes are downward-closed in the global order).
    Hence the prefix-to-prefix equi-join generates every qualifying
    pair; the size gate 1e6*min(na,nb) >= t_ppm*max(na,nb) is another
    necessary condition applied before verification.

    Scale shape: df-rank ordering makes prefixes RARE-token-heavy, so
    the candidate equi-join fans out on low-df keys (candidate volume
    ~ sum over prefix tokens of df^2, the quantity AllPairs bounds in
    practice); verification joins full shingle sets only for
    candidates. One window (per-doc rank), three keyed equi-joins,
    no cartesian anywhere. Hot shingles land in prefixes only for
    docs where nearly the whole doc is the prefix (tiny n), and AQE
    skew-splits the residue. Versus ``jaccard_pairs`` (MinHash-LSH +
    verify): this tier trades candidate volume for RECALL=1 — run it
    on the post-LSH survivors or mid-sized corpora where exactness is
    contractual.

    Budget contract (measured, round 5): candidate volume is
    sum over prefix tokens of df^2 — on a corpus with NO rare
    shingles (the synthetic fixed-vocab corpus: every df ~ n) that is
    Θ(n^2) and the sf1.0 sweep spilled >80 GB before filling the
    sandbox disk (twice reproduced; green at sf0.3 = 15k docs).
    Zipfian dfs are the regime this op assumes; if min df over a
    doc's shingles is Ω(n), pre-dedup with the LSH tier or raise k
    until shingles individuate."""
    sh = _shingle_source(df, id_col, text_col, k, shingle_table_path)
    # every dimension below (shingle dfs, doc sizes, the opposite
    # prefix side, the candidate set) is vocabulary/corpus-scale BY
    # CONSTRUCTION, while its post-agg size estimate is small — the
    # exact AQE-broadcast OOM the ngram_dup_stats lesson documents;
    # hint("merge") pins them out of the broadcast planner (reproduced:
    # sf1.0 driver OOM without the hints)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfc")) \
        .hint("merge")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n")) \
        .hint("merge")
    w = Window.partitionBy(id_col).orderBy("dfc", "shingle")
    ranked = (sh.join(dfc, "shingle").join(sizes, id_col)
              .withColumn("r", F.row_number().over(w)))
    pref = ranked.filter(
        F.col("r") <= F.col("n")
        - F.expr(f"({t_ppm} * n + 999999) div 1000000") + F.lit(1))
    pa = pref.select(F.col(id_col).alias("a"), "shingle",
                     F.col("n").alias("na"))
    pb = pref.select(F.col(id_col).alias("b"), "shingle",
                     F.col("n").alias("nb"))
    cand = (pa.join(pb.hint("merge"), "shingle")
            .filter((F.col("a") < F.col("b")) &
                    (F.lit(1_000_000) * F.least("na", "nb") >=
                     F.lit(t_ppm) * F.greatest("na", "nb")))
            .select("a", "b", "na", "nb").distinct())
    sa = sh.select(F.col(id_col).alias("a"), "shingle")
    sb = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (cand.hint("merge").join(sa, "a")
             .join(sb.hint("merge"), ["b", "shingle"])
             .groupBy("a", "b", "na", "nb")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    uni = F.col("na") + F.col("nb") - F.col("n_inter")
    return (inter.filter(F.lit(1_000_000) * F.col("n_inter")
                         >= F.lit(t_ppm) * uni)
            .select("a", "b",
                    F.col("n_inter").cast("long").alias("n_inter"),
                    uni.cast("long").alias("n_union"),
                    F.round(F.col("n_inter") / uni, 6).alias("jaccard")))


def novelty_scores(new_docs: DataFrame, ref_docs: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   k: int = 3) -> DataFrame:
    """Incremental-ingest novelty -> (doc_id, n_shingles, n_novel,
    novelty_ppm): per incoming document, the fraction of its distinct
    k-shingles absent from the reference corpus, in exact integer ppm.
    THE triage stat for continuous crawls: near-0 means re-crawl/
    boilerplate (skip), near-1e6 means genuinely new text (keep,
    prioritize the host). Complements the dedup tiers: those find
    WHICH existing doc matches; this scores HOW MUCH is new without
    naming a match.

    Shape: the reference side collapses to DISTINCT shingles once
    (the thing you materialize and bucket by shingle at 100 TB — the
    same table ExactSubstr/winnowing probe), then one left join
    marks presence and one partial-agged groupBy counts. No windows,
    no pair blowup — cost is linear in shingle volume. Docs too short
    to shingle (< k words) emit 0 shingles and NULL novelty_ppm
    (the upstream length filters own them)."""
    sh_new = shingles(new_docs, id_col, text_col, k)
    ref = (shingles(ref_docs, id_col, text_col, k)
           .select("shingle").distinct()
           .withColumn("seen", F.lit(1)))
    marked = sh_new.join(ref, "shingle", "left_outer")
    per = (marked.groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
                .cast("long").alias("n_novel")))
    return (new_docs.select(id_col).join(per, id_col, "left_outer")
            .select(id_col,
                    F.coalesce("n_shingles", F.lit(0)).cast("long")
                    .alias("n_shingles"),
                    F.coalesce("n_novel", F.lit(0)).cast("long")
                    .alias("n_novel"),
                    F.when(F.col("n_shingles") > 0,
                           F.expr("(1000000 * n_novel) div n_shingles"))
                    .cast("long").alias("novelty_ppm")))


def multitier_resolution(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 3,
                         threshold: float = 0.5,
                         max_hamming: int = 3) -> DataFrame:
    """ONE dedup resolution over EVERY tier's evidence: exact
    fingerprint groups + MinHash-verified Jaccard pairs + SimHash
    hamming pairs feed a single connected-components pass -> (id,
    canonical_id, is_kept). This is how production dedup actually
    ships: each tier catches duplicates the others miss (byte-level
    re-uploads / shingle-level paraphrases / bit-level templating),
    and the keep decision must be made once over the union or the
    tiers disagree about survivors.

    The exact tier contributes STAR edges (group-min -> member), not
    within-group all-pairs: for connected components the star is
    equivalent and linear in group size, so a pathological exact-dup
    group (the hottest real-world skew: one boilerplate page uploaded
    a million times) costs O(n) edges instead of O(n^2). The fuzzy
    tiers keep their capped-bucket candidate generation; CC is the
    pointer-jumping loop from spark/kg.py (O(log diameter) rounds)."""
    from ..spark.kg import connected_components
    keyed = df.select(
        F.col(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("fingerprint"))
    mins = keyed.groupBy("fingerprint").agg(F.min(id_col).alias("mn"))
    star = (keyed.join(mins, "fingerprint")
            .filter(F.col(id_col) != F.col("mn"))
            .select(F.col("mn").alias("a"), F.col(id_col).alias("b")))
    mh = jaccard_pairs(df, id_col, text_col, k, threshold) \
        .select("a", "b")
    sh = simhash_neardup(df, id_col, text_col,
                         max_hamming=max_hamming).select("a", "b")
    pairs = star.unionByName(mh).unionByName(sh)
    pad = 12
    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), pad, "0").alias("src"),
        F.lpad(F.col("b").cast("string"), pad, "0").alias("dst"))
    comp = connected_components(edges)
    canon = comp.select(
        F.col("vertex").cast("long").alias(id_col),
        F.col("component").cast("long").alias("canonical_id"))
    return (df.select(id_col).join(canon, id_col, "left")
            .select(id_col,
                    F.coalesce("canonical_id", F.col(id_col))
                    .alias("canonical_id"))
            .withColumn("is_kept",
                        F.col("canonical_id") == F.col(id_col)))


def ppjoin_pairs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3,
                 t_ppm: int = 800_000) -> DataFrame:
    """PPJoin (Xiao et al., WWW'08): prefix filtering + the POSITIONAL
    filter -> (a, b, n_inter, n_union, jaccard), every pair with
    Jaccard >= t_ppm/1e6 (exact, recall=1 — same output contract as
    ``prefix_filter_pairs``, strictly fewer verified candidates).

    The positional upgrade: when prefixes of a and b first share a
    token at positions pa (of na tokens) and pb (of nb), the overlap
    can be at most ubound = 1 + min(na - pa, nb - pb); a candidate
    survives only if 1e6 * ubound >= t_ppm * (na + nb) / (1 + t) — in
    integers, (1e6 + t_ppm) * 1e6 * ubound >= t_ppm * 1e6 * (na + nb)
    reduces to (1_000_000 + t_ppm) * ubound >= t_ppm * (na + nb),
    using O >= t/(1+t) * (na+nb) (equivalent to J >= t via
    O = J*U and U = na+nb-O). The FIRST shared prefix token is
    selected per pair by a min-aggregation (not a window) so the
    filter is one groupBy over the prefix join output.

    Scale shape: identical joins to prefix_filter_pairs (df-ranked
    prefixes, merge-hinted corpus-scale sides) with the candidate set
    cut by the positional bound BEFORE the expensive verification
    join — the WWW'08 measurement is 2-5x fewer verifications at
    text-corpus skew. Verification recomputes exact intersections, so
    the bound only ever removes work, never rows."""
    sh = _shingle_source(df, id_col, text_col, k, None)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfc")) \
        .hint("merge")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n")) \
        .hint("merge")
    w = Window.partitionBy(id_col).orderBy("dfc", "shingle")
    ranked = (sh.join(dfc, "shingle").join(sizes, id_col)
              .withColumn("r", F.row_number().over(w)))
    pref = ranked.filter(
        F.col("r") <= F.col("n")
        - F.expr(f"({t_ppm} * n + 999999) div 1000000") + F.lit(1))
    pa = pref.select(F.col(id_col).alias("a"), "shingle",
                     F.col("n").alias("na"), F.col("r").alias("pa"))
    pb = pref.select(F.col(id_col).alias("b"), "shingle",
                     F.col("n").alias("nb"), F.col("r").alias("pb"))
    joined = (pa.join(pb.hint("merge"), "shingle")
              .filter((F.col("a") < F.col("b")) &
                      (F.lit(1_000_000) * F.least("na", "nb") >=
                       F.lit(t_ppm) * F.greatest("na", "nb"))))
    # positional filter on the FIRST (lowest-rank-sum) shared prefix
    # token: ubound = 1 + min(na-pa, nb-pb), computed by min-agg so
    # candidate dedup and the filter are the same shuffle
    cand = (joined.groupBy("a", "b", "na", "nb")
            .agg(F.max(F.least(F.col("na") - F.col("pa"),
                               F.col("nb") - F.col("pb")))
                 .alias("slack"))
            .filter(F.lit(1_000_000 + t_ppm) * (1 + F.col("slack"))
                    >= F.lit(t_ppm) * (F.col("na") + F.col("nb"))))
    sa = sh.select(F.col(id_col).alias("a"), "shingle")
    sb = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (cand.hint("merge").join(sa, "a")
             .join(sb.hint("merge"), ["b", "shingle"])
             .groupBy("a", "b", "na", "nb")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    uni = F.col("na") + F.col("nb") - F.col("n_inter")
    return (inter.filter(F.lit(1_000_000) * F.col("n_inter")
                         >= F.lit(t_ppm) * uni)
            .select("a", "b",
                    F.col("n_inter").cast("long").alias("n_inter"),
                    uni.cast("long").alias("n_union"),
                    F.round(F.col("n_inter") / uni, 6).alias("jaccard")))


def cdc_chunk_stats(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", window: int = 8,
                    mask_mod: int = 64) -> DataFrame:
    """Content-defined chunking dedup telemetry (the Rabin/FastCDC
    family under every backup/blob store and under LLM-era
    ExactSubstr variants) -> one row (n_docs, n_chunks, n_unique,
    total_bytes, unique_bytes): cut points are CONTENT positions
    (hash of the ``window``-gram at p divisible by ``mask_mod``), so
    an insertion early in a document shifts only the chunks it
    touches — byte-offset chunking would re-key everything after it.
    unique_bytes / total_bytes is the storage dedup ratio.

    Determinism: cut condition = conv(substr(md5(gram),1,8),16,10) %
    mask_mod == 0 (the repo's standard engine-replayable hash);
    chunks = [cut_i, cut_{i+1}) over {1} ∪ cuts ∪ {len+1}; chunk
    identity by md5 on BOTH engines (lockstep, collision odds
    documented-negligible). Min/max chunk-size clamps of FastCDC are
    out of scope (documented) — they change WHICH cuts survive, not
    the shape.

    Scale shape: the cut scan is a pure per-row array expression
    (sequence + filter, md5 inside the lambda — the winnowing
    expression-cost family, no shuffle); chunks explode and hit ONE
    md5-keyed partial-agg groupBy + a single-row fold. Nothing else
    shuffles."""
    w = int(window)
    m = int(mask_mod)
    cuts = (f"concat(array(1), CASE WHEN length({text_col}) >= {w} + 1"
            f" THEN filter(sequence(2, length({text_col}) - {w - 1}),"
            f" p -> conv(substring(md5(substring({text_col}, p, {w})),"
            f" 1, 8), 16, 10) % {m} = 0) ELSE array() END,"
            f" array(length({text_col}) + 1))")
    chunks = (docs
              .select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("_t"),
                      F.expr(cuts).alias("_cuts"))
              .select("id", F.explode(F.expr(
                  "transform(sequence(1, size(_cuts) - 1), i ->"
                  " substring(_t, element_at(_cuts, i),"
                  " element_at(_cuts, i + 1)"
                  " - element_at(_cuts, i)))")).alias("chunk"))
              .filter(F.length("chunk") > 0))
    per = (chunks.groupBy(F.md5("chunk").alias("h"))
           .agg(F.count("*").alias("c"),
                F.min(F.length("chunk")).cast("long").alias("l")))
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return nd.crossJoin(per.agg(
        F.sum("c").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_unique"),
        F.sum(F.col("c") * F.col("l")).cast("long")
        .alias("total_bytes"),
        F.sum("l").cast("long").alias("unique_bytes")))
