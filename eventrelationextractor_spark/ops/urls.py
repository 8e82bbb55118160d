"""URL operators for Common-Crawl-style page tables: parse + per-domain
rollups. Pure built-in-expression columns (regexp inside codegen, no
Python), so they ride the page scan for free; the rollup is one
map-side-combinable aggregation keyed on the registrable domain - the
natural partitioning key for crawl processing (politeness, per-site
quality, dedup scoping all group by it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HOST_RE = r"^[a-z]+://([^/]+)"
DOMAIN_RE = r"([^.]+\.[^.]+)$"
TLD_RE = r"\.([^.]+)$"


def parse_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds host, registrable-ish domain (last two labels; a production
    run substitutes the public-suffix list), tld, and path_depth."""
    u = F.col(url_col)
    host = F.regexp_extract(u, HOST_RE, 1)
    path = F.regexp_replace(u, HOST_RE.replace("(", "(?:"), "")
    return (df
            .withColumn("host", host)
            .withColumn("domain", F.regexp_extract(host, DOMAIN_RE, 1))
            .withColumn("tld", F.regexp_extract(host, TLD_RE, 1))
            .withColumn("path_depth",
                        F.size(F.split(F.regexp_replace(path, r"^/+|/+$",
                                                        ""), "/"))
                        .cast("long")))


def domain_stats(df: DataFrame, url_col: str = "url",
                 text_col: str | None = "text") -> DataFrame:
    """Per-domain rollup: (domain, n_docs, n_hosts, max_path_depth
    [, total_chars]) - the pre-pass a crawl pipeline runs for per-site
    quality, crawl-budget, and skew decisions."""
    parsed = parse_urls(df, url_col)
    aggs = [F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.max("path_depth").alias("max_path_depth")]
    if text_col and text_col in df.columns:
        aggs.append(F.sum(F.length(text_col)).alias("total_chars"))
    return parsed.groupBy("domain").agg(*aggs)


TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "utm_term",
                   "utm_content", "gclid", "fbclid", "msclkid", "ref")


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds ``canonical_url``: scheme+host lowercased, default ports
    (:80/:443) stripped, fragment dropped, tracking query parameters
    (utm_*, gclid, fbclid, ...) removed, surviving parameters sorted,
    trailing slash normalized off non-root paths - the standard crawl
    canonicalization pass, without which URL-level dedup misses the
    bulk of syntactic aliases.

    Pure built-in expressions (regexp + split/filter/sort_array inside
    codegen, no Python, no shuffle) so it rides the scan like
    parse_urls."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z]+)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[a-zA-Z]+://([^/?#]+)", 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    rest = F.regexp_replace(u, r"^[a-zA-Z]+://[^/?#]+", "")
    path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")) \
        .otherwise(F.regexp_replace(path, r"(.)/$", "$1"))
    query = F.regexp_extract(rest, r"\?([^#]*)", 1)
    kept = F.array_join(F.sort_array(F.filter(
        F.split(query, "&"),
        lambda p: ~F.split(p, "=").getItem(0).isin(*TRACKING_PARAMS)
                  & (p != ""))), "&")
    canon = F.concat(scheme, F.lit("://"), host, path,
                     F.when(kept == "", F.lit(""))
                     .otherwise(F.concat(F.lit("?"), kept)))
    return df.withColumn("canonical_url", canon)


def canonical_dedup(df: DataFrame, url_col: str = "url",
                    id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup under canonicalization: (id, canonical_url,
    is_kept) - keep the lowest id per canonical URL. One
    partial-agged min per canonical key; is_kept re-derives map-side
    from the broadcast-free self-comparison (min == id), i.e. a single
    Exchange."""
    from pyspark.sql import Window
    canon = canonicalize_urls(df, url_col)
    w = Window.partitionBy("canonical_url")
    return (canon
            .withColumn("keep_id", F.min(id_col).over(w))
            .select(id_col, "canonical_url",
                    (F.col(id_col) == F.col("keep_id")).alias("is_kept")))


def crawl_delays(robots: DataFrame, robots_col: str = "robots_txt",
                 default_sec: int = 5) -> DataFrame:
    """(host, crawl_delay): per-host Crawl-delay parsed from robots.txt
    (global-section subset, like ``robots_filter``; first match wins,
    absent or non-numeric -> ``default_sec``). Host-cardinality map-side
    parse - feeds ``frontier_schedule(delays=...)`` so politeness uses
    each host's OWN declared pacing instead of one global constant.
    Directive matching is case-insensitive ((?i)) per the robots.txt
    convention - real sites write Crawl-Delay / crawl-delay freely."""
    d = F.regexp_extract(F.col(robots_col),
                         r"(?mi)^crawl-delay:\s*([0-9]+)\s*$", 1)
    return robots.select(
        F.lower(F.col("host")).alias("host"),
        F.when(d == "", F.lit(default_sec))
        .otherwise(d.cast("long")).cast("long").alias("crawl_delay"))


def frontier_schedule(df: DataFrame, url_col: str = "url",
                      priority_col: str | None = None,
                      delay_sec: int = 5,
                      max_per_host: int | None = None,
                      delays: DataFrame | None = None) -> DataFrame:
    """Crawl-frontier politeness scheduling: (url, host, slot,
    fetch_offset_sec) - each host's URLs sequenced into fetch slots
    ``delay_sec`` apart, highest priority first, so no host is hit
    faster than its crawl-delay while every host proceeds in parallel.

    The per-host ``row_number`` window is the operator's SEMANTIC, not
    an accident: politeness serializes fetches within a host, so the
    parallel unit IS the host and a hot host (a million queued URLs)
    is inherently one ordered sequence - the window partition matches
    the real-world constraint exactly. ``max_per_host`` truncates each
    host's queue (frontier budgeting - WindowGroupLimit pushes the
    cap into the sort, same shape as grouped_topk); unbounded hosts
    just schedule further into the future.

    Deterministic: priority DESC (default = constant), then url ASC.
    fetch_offset_sec = (slot - 1) * delay_sec; callers add their epoch.
    ``delays`` (optional, (host, crawl_delay) - see ``crawl_delays``)
    overrides the constant per host: a host-cardinality broadcast
    dimension join, hosts absent from it fall back to ``delay_sec``."""
    from pyspark.sql import Window
    host = F.lower(F.regexp_extract(F.col(url_col),
                                    r"^[a-zA-Z]+://([^/?#]+)", 1))
    pr = (F.col(priority_col) if priority_col else F.lit(0))
    base = df.select(F.col(url_col).alias("url"), host.alias("host"),
                     pr.alias("_pr"))
    w = Window.partitionBy("host").orderBy(F.col("_pr").desc(),
                                           F.col("url").asc())
    out = base.withColumn("slot", F.row_number().over(w))
    if max_per_host is not None:
        out = out.filter(F.col("slot") <= max_per_host)
    if delays is not None:
        out = out.join(F.broadcast(
            delays.select(F.lower(F.col("host")).alias("host"),
                          "crawl_delay")), "host", "left")
        per_host = F.coalesce("crawl_delay", F.lit(delay_sec))
    else:
        per_host = F.lit(delay_sec)
    return out.select("url", "host", F.col("slot").cast("long").alias("slot"),
                      ((F.col("slot") - 1) * per_host).cast("long")
                      .alias("fetch_offset_sec"))


def robots_filter(frontier: DataFrame, robots: DataFrame,
                  url_col: str = "url",
                  robots_col: str = "robots_txt") -> DataFrame:
    """Robots-exclusion gate for a crawl frontier: (url, host, path,
    allowed) - a URL is blocked iff any ``Disallow:`` path of its
    host's robots.txt is a prefix of its path (the global-section
    subset of RFC 9309: per-user-agent groups, Allow overrides and
    wildcards are a parser tier above this gate; an empty Disallow
    value disallows nothing, per the RFC).

    Scale shape: ``robots`` is host-cardinality (one row per host -
    millions of rows at web scale, not billions), so the rule table is
    parsed ONCE per host map-side (regexp_extract_all -> array of
    prefixes) and joined to the frontier on host - a broadcastable
    dimension join; the prefix test is an ``exists`` lambda over the
    per-host array, pure codegen. No explode of the frontier side."""
    host = F.lower(F.regexp_extract(F.col(url_col),
                                    r"^[a-zA-Z]+://([^/?#]+)", 1))
    path = F.regexp_replace(F.col(url_col), r"^[a-zA-Z]+://[^/]*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rules = robots.select(
        F.lower(F.col("host")).alias("host"),
        F.filter(
            F.expr(f"regexp_extract_all({robots_col}, "
                   "'(?m)^Disallow:\\\\s*(\\\\S*)\\\\s*$', 1)"),
            lambda p: p != "").alias("disallow"))
    fr = frontier.select(F.col(url_col).alias("url"), host.alias("host"),
                         path.alias("path"))
    blocked = F.exists("disallow",
                       lambda p: F.col("path").startswith(p))
    return (fr.join(F.broadcast(rules), "host", "left")
            .select("url", "host", "path",
                    F.when(F.col("disallow").isNull(), F.lit(True))
                    .otherwise(~blocked).alias("allowed")))


def expand_frontier(links: DataFrame, known: DataFrame,
                    target_col: str = "resolved_url",
                    known_col: str = "url") -> DataFrame:
    """Frontier expansion: (url, n_refs) - distinct link targets not
    already in the known-page set, with referrer counts as the crawl
    priority signal. One partial-agged groupBy (hot targets absorb
    map-side) + one LEFT ANTI equi-join against the known set; at
    scale both sides bucket on url-hash (spark/bucketing.py) and the
    anti-join is shuffle-free."""
    agg = links.groupBy(F.col(target_col).alias("url")).agg(
        F.count(F.lit(1)).alias("n_refs"))
    k = known.select(F.col(known_col).alias("url")).distinct()
    return agg.join(k, "url", "left_anti")


def host_reputation(df: DataFrame, url_col: str = "url",
                    score_col: str = "quality",
                    host_threshold: float = 0.5,
                    doc_threshold: float = 0.8) -> DataFrame:
    """FineWeb-style host-reputation gating: aggregate each host's mean
    document quality, then keep a document iff its HOST's mean quality
    clears ``host_threshold`` OR its own score clears ``doc_threshold``
    (the rescue clause: a good page on a bad host survives). Output =
    kept rows + (host, host_docs, host_quality) evidence columns.

    This is the site-level prior every production crawl filter applies
    before per-document classifiers (a host that is 90% spam condemns
    its marginal pages): the signal is cheap, computed once per host,
    and catches template spam that per-doc heuristics miss.

    Scale shape: one partial-agged groupBy(host) - hosts compress
    map-side - then a host-keyed equi-join back. The host dimension is
    corpus-derived (millions of hosts at 100 TB), so the join stays a
    shuffled hash/sort-merge join sized by AQE; do NOT broadcast-hint it
    (the ngram_dup_stats AQE lesson: corpus-scale build sides with small
    post-agg estimates OOM the driver). No counterpart in
    /root/reference."""
    host = F.lower(F.regexp_extract(F.col(url_col), HOST_RE, 1))
    keyed = df.withColumn("host", host)
    stats = (keyed.groupBy("host")
             .agg(F.count(F.lit(1)).alias("host_docs"),
                  F.round(F.avg(score_col), 6).alias("host_quality")))
    return (keyed.join(stats, "host")
            .filter((F.col("host_quality") >= host_threshold)
                    | (F.col(score_col) >= doc_threshold)))


def url_spam_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Lexical URL spam features (Ntoulas et al. 2006 / Castillo et al.
    2007 feature family): host digit count and ratio, hyphen count,
    subdomain depth, url length, query-param count, tracking-param
    count, plus a bounded 0..1 heuristic spam score. THE cheapest spam
    tier a crawl pipeline runs - no page fetch needed, so it gates the
    frontier itself (spammy URLs are never fetched at all).

    Pure per-row codegen (regex + arithmetic): no shuffle, no UDF,
    column-prunable; the SQL oracle replays every expression. The score
    is a transparent linear bucket heuristic, NOT a learned model (the
    learned tier is
    ops/quality.py::train_quality_classifier_fixedpoint); weights
    chosen so each feature family saturates at least-1. No counterpart in
    /root/reference."""
    u = F.col(url_col)
    host = F.lower(F.regexp_extract(u, HOST_RE, 1))
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    host_digits = (F.length(host)
                   - F.length(F.regexp_replace(host, r"[0-9]", "")))
    host_hyphens = (F.length(host)
                    - F.length(F.regexp_replace(host, r"-", "")))
    n_subdomains = (F.size(F.split(host, r"\.")) - 2).cast("long")
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))).cast("long")
    n_tracking = F.size(F.filter(
        F.split(query, "&"),
        lambda p: F.split(p, "=")[0].isin(list(TRACKING_PARAMS)))
    ).cast("long")
    digit_ratio = F.round(host_digits / F.length(host), 6)
    score = F.round(F.least(F.lit(1.0),
                            host_digits / F.lit(8.0)
                            + host_hyphens / F.lit(6.0)
                            + F.greatest(n_subdomains - 2, F.lit(0))
                            / F.lit(4.0)
                            + n_tracking / F.lit(4.0)
                            + F.length(u) / F.lit(400.0)), 6)
    return (df
            .withColumn("host", host)
            .withColumn("url_len", F.length(u).cast("long"))
            .withColumn("host_digits", host_digits.cast("long"))
            .withColumn("host_digit_ratio", digit_ratio)
            .withColumn("host_hyphens", host_hyphens.cast("long"))
            .withColumn("n_subdomains", n_subdomains)
            .withColumn("n_params", n_params)
            .withColumn("n_tracking", n_tracking)
            .withColumn("spam_score", score))


def streaming_frontier_schedule(stream: DataFrame, url_col: str = "url",
                                delay_sec: int = 5) -> DataFrame:
    """Streaming twin of ``frontier_schedule``: the frontier arrives
    continuously (discovery emits links as pages are fetched) and each
    URL must get its host's NEXT politeness slot immediately - a batch
    re-sort per trigger would re-schedule the past. Custom stateful
    operator (applyInPandasWithState keyed on host): state = one long
    (slots already assigned); within a trigger a host's URLs take slots
    in url order, across triggers the counter continues -> (url, host,
    slot, fetch_offset_sec), identical to the batch operator whenever
    arrival order across triggers respects per-host url order (the
    ordered-source contract of streaming_sessionize; priority-ordered
    arrival gives priority scheduling for free). Per-host crawl-delay
    composes downstream exactly as in the batch path (offset = (slot-1)
    * delay of the host)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "url string, host string, slot long, fetch_offset_sec long"
    state_schema = "n long"

    def fn(key, pdfs, state):
        import pandas as pd
        n = state.get[0] if state.exists else 0
        urls_ = []
        for pdf in pdfs:
            urls_.extend(pdf["url"].tolist())
        if not urls_:
            return
        urls_.sort()
        slots = list(range(n + 1, n + 1 + len(urls_)))
        state.update((n + len(urls_),))
        yield pd.DataFrame({
            "url": urls_, "host": key[0],
            "slot": slots,
            "fetch_offset_sec": [(s - 1) * delay_sec for s in slots]})

    host = F.lower(F.regexp_extract(F.col(url_col),
                                    r"^[a-zA-Z]+://([^/?#]+)", 1))
    keyed = stream.select(F.col(url_col).alias("url"), host.alias("host"))
    return keyed.groupBy("host").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)


def host_profile(df: DataFrame, host_col: str = "host",
                 label_col: str = "predicted_lang") -> DataFrame:
    """Per-host label profile: (host, n_docs, n_labels, dominant_label,
    dominant_frac) - the routing table a multilingual pipeline keys on
    (route hosts to per-language pipelines, flag mixed-language hosts
    for review; works for any categorical label - lang, quality tier,
    content type).

    Two partial-agged aggregations; the argmax is a min-of-struct
    AGGREGATION over (-count, label) - count desc, label asc tie-break -
    never a per-host window, so hot hosts combine map-side (the LPA
    vote pattern)."""
    counts = df.groupBy(host_col, label_col).agg(
        F.count(F.lit(1)).alias("c"))
    return (counts.groupBy(host_col)
            .agg(F.sum("c").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_labels"),
                 F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col(label_col).alias("l"))).alias("b"))
            .select(host_col, "n_docs", "n_labels",
                    F.col("b.l").alias("dominant_label"),
                    F.round(-F.col("b.nc") / F.col("n_docs"), 6)
                    .alias("dominant_frac")))


def sitemap_seeds(robots: DataFrame, robots_col: str = "robots_txt") -> DataFrame:
    """(host, sitemap_url): every ``Sitemap:`` declaration in the
    per-host robots.txt - completing the robots parsing trio next to
    ``robots_filter`` (Disallow) and ``crawl_delays`` (Crawl-delay).
    Sitemaps are the highest-yield frontier seeds a crawler gets (the
    site TELLS you its URLs); the output unions straight into
    ``expand_frontier``'s known/discovery flow. Host-cardinality
    map-side regexp_extract_all -> explode; hosts declaring none emit
    nothing."""
    urls_ = F.expr(f"regexp_extract_all({robots_col}, "
                   "'(?m)^Sitemap:\\\\s*(\\\\S+)\\\\s*$', 1)")
    return (robots.select(F.lower(F.col("host")).alias("host"),
                          F.explode(urls_).alias("sitemap_url")))


def robots_rules(robots: DataFrame, agent: str = "*",
                 robots_col: str = "robots_txt") -> DataFrame:
    """RFC 9309 group-aware rule extraction: (host, rule_path, is_allow,
    plen) - the Allow/Disallow rules that govern ``agent`` on each host.

    Group semantics (RFC 9309 §2.2.1): consecutive ``User-agent:`` lines
    head ONE group; a User-agent line after rule lines starts a NEW
    group. A host's effective rules are those of the groups naming the
    agent token exactly (case-insensitive) when any exist, else the
    ``*`` groups; multiple matching groups combine. Empty rule values
    are ignored (``Disallow:`` alone allows everything, per the RFC).
    Path wildcards ($ / *) are treated literally - documented subset,
    same tier note as robots_filter.

    Shape: the sequential group structure is recovered with ONE lag +
    running-sum window per host over the exploded LINES of a
    host-cardinality dimension - never the frontier. Everything
    downstream of the parse is host-cardinality too."""
    from pyspark.sql import Window
    lines = robots.select(
        F.lower(F.col("host")).alias("host"),
        F.posexplode(F.split(F.col(robots_col), "\n"))
        .alias("pos", "line"))
    ua = F.regexp_extract("line", r"(?i)^\s*user-agent:\s*(\S+)\s*$", 1)
    rtype = F.lower(F.regexp_extract(
        "line", r"(?i)^\s*(allow|disallow):\s*(\S*)\s*$", 1))
    rpath = F.regexp_extract(
        "line", r"(?i)^\s*(allow|disallow):\s*(\S*)\s*$", 2)
    w = Window.partitionBy("host").orderBy("pos")
    tagged = (lines
              .withColumn("ua", F.lower(ua))
              .withColumn("rtype", rtype)
              .withColumn("rpath", rpath)
              .withColumn("is_ua", F.col("ua") != "")
              .withColumn("starts_group",
                          F.col("is_ua")
                          & ~F.coalesce(F.lag("is_ua").over(w),
                                        F.lit(False)))
              .withColumn("grp", F.sum(F.col("starts_group").cast("int"))
                          .over(w)))
    group_flags = (tagged.filter("is_ua")
                   .groupBy("host", "grp")
                   .agg(F.max((F.col("ua") == agent.lower()).cast("int"))
                        .alias("has_agent"),
                        F.max((F.col("ua") == "*").cast("int"))
                        .alias("has_star")))
    host_flags = group_flags.groupBy("host").agg(
        F.max("has_agent").alias("host_has_agent"))
    rules = (tagged.filter((F.col("rtype") != "") & (F.col("rpath") != ""))
             .join(group_flags, ["host", "grp"])
             .join(host_flags, "host")
             .filter(((F.col("host_has_agent") == 1)
                      & (F.col("has_agent") == 1))
                     | ((F.col("host_has_agent") == 0)
                        & (F.col("has_star") == 1))))
    return rules.select("host", F.col("rpath").alias("rule_path"),
                        (F.col("rtype") == "allow").alias("is_allow"),
                        F.length("rpath").cast("long").alias("plen"))


def robots_gate_full(frontier: DataFrame, robots: DataFrame,
                     agent: str = "*", url_col: str = "url",
                     robots_col: str = "robots_txt") -> DataFrame:
    """Real-crawler robots verdicts: (url, host, path, allowed) under
    RFC 9309 precedence - among the governing group's rules whose path
    is a prefix of the URL path, the LONGEST match wins; on a length
    tie Allow wins; no match (or no robots.txt) allows.

    The rule table (robots_rules) collects to one array of structs per
    host and broadcasts; the verdict is a pure-codegen aggregate() fold
    over that array per frontier row - the frontier is never exploded,
    shuffled, or Python-touched."""
    per_host = (robots_rules(robots, agent, robots_col)
                .groupBy("host")
                .agg(F.collect_list(F.struct("plen", "rule_path",
                                             "is_allow")).alias("rules")))
    host = F.lower(F.regexp_extract(F.col(url_col),
                                    r"^[a-zA-Z]+://([^/?#]+)", 1))
    path = F.regexp_replace(F.col(url_col), r"^[a-zA-Z]+://[^/]*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    fr = frontier.select(F.col(url_col).alias("url"), host.alias("host"),
                         path.alias("path"))
    best = F.aggregate(
        "rules",
        F.struct(F.lit(-1).cast("long").alias("plen"),
                 F.lit(True).alias("is_allow")),
        lambda acc, r: F.when(
            F.col("path").startswith(r["rule_path"])
            & ((r["plen"] > acc["plen"])
               | ((r["plen"] == acc["plen"]) & r["is_allow"])),
            F.struct(r["plen"].alias("plen"),
                     r["is_allow"].alias("is_allow"))).otherwise(acc))
    return (fr.join(F.broadcast(per_host), "host", "left")
            .withColumn("_b", best)
            .select("url", "host", "path",
                    F.when(F.col("rules").isNull(), F.lit(True))
                    .otherwise(F.col("_b.is_allow")
                               | (F.col("_b.plen") == -1))
                    .alias("allowed")))


# Unicode-confusable skeleton (the TR39 idea at dashboard scale): map
# the common Cyrillic/Greek lookalikes + digit substitutions onto their
# Latin targets so visually-identical hostnames collide. A deliberately
# SMALL, documented table - full TR39 includes multi-char mappings that
# translate() cannot express; this covers the homograph families real
# phishing hosts actually use.
CONFUSABLE_FROM = ("01"
                   "аеорсѕіј"
                   "ух"
                   "οαειν")
CONFUSABLE_TO = "olaeopcsijyxoaein"


def spoof_skeleton(col):
    """Column expression: lowercase + confusable->Latin translate
    (identical translate semantics in Spark and DuckDB)."""
    return F.translate(F.lower(col), CONFUSABLE_FROM, CONFUSABLE_TO)


def spoof_clusters(df, host_col: str = "host"):
    """Homograph-spoof candidates: hosts whose confusable SKELETONS
    collide while the raw strings differ - the IDN phishing detector
    (аpple.com vs apple.com) run over the whole host table.

    -> (host, skeleton, n_variants, is_spoof_cluster): one window over
    the skeleton key (host-cardinality input, single Exchange - the
    kanon_suppress shape). n_variants counts DISTINCT raw hosts per
    skeleton; clusters of one are the normal case and flagged false."""
    sk = df.select(F.col(host_col).alias("host")).distinct() \
        .withColumn("skeleton", spoof_skeleton(F.col("host")))
    w = Window.partitionBy("skeleton")
    return (sk.withColumn("n_variants",
                          F.size(F.collect_set("host").over(w))
                          .cast("long"))
            .withColumn("is_spoof_cluster", F.col("n_variants") > 1))


def url_templates(df: DataFrame, url_col: str = "url",
                  min_count: int = 2) -> DataFrame:
    """URL path templating rollup -> (host, template, n_urls,
    n_distinct_tails): collapse every all-digit path segment to {n}
    and every long-hex segment (>= 16 chars of [0-9a-f]) to {h}, then
    count URLs per (host, template). The crawl cartographer: a million
    product pages become ONE row (`/product/{n}`), surfacing the
    site's actual page-type inventory, the infinite-URL traps
    (calendars, session ids - huge n_urls on one template), and where
    crawl budget actually went.

    n_distinct_tails counts distinct substituted segment tuples per
    template - a template with n_urls >> n_distinct_tails is serving
    duplicate content behind vanity ids. Pure map-side expressions +
    one partial-agged groupBy; templates below ``min_count`` are
    dropped (the long tail is by definition untemplated)."""
    path = F.regexp_extract(F.col(url_col), r"^[a-z]+://[^/]+(/[^?#]*)?",
                            1)
    host = F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/?#]+)", 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")

    # lambda args must be used DIRECTLY (an F.expr("x ...") inside a
    # higher-order function does not bind to the lambda variable - the
    # documented F.transform pitfall)
    def _is_sub(x):
        return x.rlike("^[0-9]+$") | ((F.length(x) >= 16)
                                      & x.rlike("^[0-9a-f]+$"))

    def _sub(x):
        return (F.when(x.rlike("^[0-9]+$"), F.lit("{n}"))
                .when((F.length(x) >= 16) & x.rlike("^[0-9a-f]+$"),
                      F.lit("{h}"))
                .otherwise(x))

    tmpl = F.concat(F.lit("/"),
                    F.concat_ws("/", F.transform(segs, _sub)))
    tail = F.concat_ws("\x01", F.filter(segs, _is_sub))
    staged = df.select(host.alias("host"), tmpl.alias("template"),
                       tail.alias("tail"))
    return (staged.groupBy("host", "template")
            .agg(F.count(F.lit(1)).cast("long").alias("n_urls"),
                 F.countDistinct("tail").cast("long")
                 .alias("n_distinct_tails"))
            .filter(F.col("n_urls") >= int(min_count)))


def waterfill_budget(hosts: DataFrame, budget: int,
                     host_col: str = "host",
                     cap_col: str = "cap") -> DataFrame:
    """Water-filling crawl-budget allocation -> (host, cap, quota):
    split ``budget`` fetch slots across hosts so no host exceeds its
    cap (pages available / politeness ceiling) and the un-capped
    hosts all sit at one fair level — max-min fairness, the classic
    scheduler allocation (small hosts fully served, big hosts share
    the residue evenly). Exactly sum(quota) = min(budget, sum caps),
    all in integers.

    Closed form, no iteration: sort hosts by (cap, host) ascending
    with prefix sums; a prefix of fully-funded hosts is the largest K
    with cap_r * (n - r + 1) <= budget - prefix_{r-1} (prefix-closed
    because caps ascend — proved in-line), then the water level is
    lambda = (budget - prefix_K) div (n - K) with the mod-remainder
    going to the LAST ``rem`` rows in the same order (deterministic
    tie rule). One statistic-scale window over the host table + a
    1-row broadcast of (K, prefix_K) — hosts are bounded cardinality
    next to pages, so nothing here is corpus-scale."""
    b = int(budget)
    w = Window.orderBy(cap_col, host_col)
    s = (hosts.select(F.col(host_col).alias("host"),
                      F.col(cap_col).cast("long").alias("cap"))
         .withColumn("r", F.row_number().over(w).cast("long"))
         .withColumn("pre", F.sum("cap").over(
             w.rowsBetween(Window.unboundedPreceding,
                           Window.currentRow)))
         .withColumn("n", F.count(F.lit(1)).over(
             Window.partitionBy())))
    qual = (F.col("cap") * (F.col("n") - F.col("r") + 1)
            <= F.lit(b) - (F.col("pre") - F.col("cap")))
    kk = s.agg(
        F.coalesce(F.max(F.when(qual, F.col("r"))), F.lit(0))
        .alias("k"),
        F.coalesce(F.max(F.when(qual, F.col("pre"))), F.lit(0))
        .alias("prek"))
    out = s.crossJoin(F.broadcast(kk))
    uncapped = F.col("n") - F.col("k")
    lam = F.when(uncapped > 0, F.expr(f"({b} - prek) div (n - k)")) \
        .otherwise(F.lit(0))
    rem = F.when(uncapped > 0, F.expr(f"({b} - prek) % (n - k)")) \
        .otherwise(F.lit(0))
    quota = F.when(F.col("r") <= F.col("k"), F.col("cap")) \
        .otherwise(lam + F.when(F.col("r") > F.col("n") - rem, 1)
                   .otherwise(0))
    return out.select(F.col("host").alias(host_col), "cap",
                      quota.cast("long").alias("quota"))


# A documented SUBSET of the Mozilla Public Suffix List: enough rules
# to exercise every shape (1/2/3-label suffixes, private-section
# entries like github.io). A production run swaps in the full ~9k-rule
# list — the join shape below is built for that size (broadcast).
PSL_SUBSET = [
    "com", "org", "net", "edu", "gov", "io", "co", "de", "fr", "jp",
    "uk", "au", "br", "nl",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br",
    "github.io", "blogspot.com", "herokuapp.com",
]


def etld1(hosts: DataFrame, host_col: str = "host",
          psl: list | None = None) -> DataFrame:
    """Public-suffix-list registrable domain (eTLD+1) -> (host,
    suffix, registrable): the CORRECT per-site key for rollups,
    politeness, and reputation — naive last-two-labels calls
    ``foo.co.uk`` and ``bar.co.uk`` the same site ``co.uk`` and
    splits ``x.github.io`` pages from their true owner. This closes
    the gap ``parse_urls`` documents ("a production run substitutes
    the public-suffix list").

    PSL semantics implemented: LONGEST matching rule wins; the
    registrable domain is the matched suffix plus one more label; a
    host that IS a suffix (or a single unmatched label) has no
    registrable domain (NULL); unmatched hosts fall back to the
    prevailing '*' rule (suffix = last label). Wildcard/exception
    rules (*.ck, !www.ck) are out of the embedded subset — documented;
    they add one more join against the same table.

    Scale shape: operates on the DISTINCT host table (statistic
    scale next to the corpus); candidates = at most 4 suffixes per
    host exploded from the label array, one broadcast join against
    the rules table, one max-length groupBy. Join back to data rows
    by host."""
    rules = sorted(set(psl if psl is not None else PSL_SUBSET))
    spark = hosts.sparkSession
    rdf = spark.createDataFrame(
        [(r, r.count(".") + 1) for r in rules],
        "suffix string, slabels int")
    h = (hosts.select(F.col(host_col).alias("host")).distinct()
         .withColumn("_labels", F.split("host", r"\."))
         .withColumn("_n", F.size("_labels")))
    cand = (h.withColumn("_j", F.explode(
        F.expr("sequence(1, least(_n, 4))")))
        .withColumn("_suf", F.expr(
            "array_join(slice(_labels, _n - _j + 1, _j), '.')")))
    best = (cand.join(F.broadcast(rdf),
                      cand["_suf"] == rdf["suffix"])
            .groupBy("host").agg(F.max("_j").alias("_j")))
    matched = (h.join(best, "host")
               .select("host", "_labels", "_n", "_j"))
    fallback = (h.join(best, "host", "left_anti")
                .select("host", "_labels", "_n",
                        F.lit(1).alias("_j")))
    return (matched.unionByName(fallback)
            .select(
                "host",
                F.expr("array_join(slice(_labels, _n - _j + 1, _j),"
                       " '.')").alias("suffix"),
                F.when(F.col("_n") >= F.col("_j") + 1, F.expr(
                    "array_join(slice(_labels, _n - _j, _j + 1), '.')"
                )).alias("registrable")))


def cidr_rollup(df: DataFrame, ip_col: str = "ip32") -> DataFrame:
    """IPv4 CIDR rollup -> (o1, o2, o3, n): doc/client counts at /8,
    /16 and /24 plus the grand total, via the native ROLLUP grouping
    sets on the first three octets (NULL marks a rolled level, the
    SQL-standard encoding both engines share) — network telemetry
    for abuse/crawl-source analysis beside the host-level rollups in
    this module. One grouping-sets aggregate, partial-aggregable;
    octets by pure integer shifts."""
    b = df.select(
        F.expr(f"({ip_col} div 16777216) % 256").alias("o1"),
        F.expr(f"({ip_col} div 65536) % 256").alias("o2"),
        F.expr(f"({ip_col} div 256) % 256").alias("o3"))
    return (b.rollup("o1", "o2", "o3")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def pk_discovery(df, combos: list) -> DataFrame:
    """Primary-key candidate discovery -> (combo, n_rows,
    n_distinct, is_key): for each candidate column-combo expression
    (name, Column-of-STRING pairs — callers render non-string parts
    to stable integers first, e.g. NTZ timestamps via ntz_epoch_us,
    never engine-formatted casts), count exact distinct values and
    flag exact uniqueness — the profiling step that decides merge
    keys and dedup identity (the constructive complement of
    fd_violations' dependency audit). One exact distinct-count
    aggregate per candidate over a narrow projection; candidates are
    few by contract."""
    outs = []
    for name, col in combos:
        outs.append(df.select(col.alias("k")).agg(
            F.lit(name).alias("combo"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("k").cast("long").alias("n_distinct")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.withColumn("is_key",
                          F.col("n_rows") == F.col("n_distinct"))
