"""The benchmark's workloads. Each one stages its input tables from the seed,
runs one timed job per call of ``job``, checks every output it can see
outside the timed region (``verify`` per job, ``gate`` once per run) and,
for the traced run, executes its pipeline cut after each layer (``trace``).

The program sees only the staged parquet tables; seeds change the doc-id
offset, the replication order and url suffixes of the news pages and the
delta-batch selection, never the code path."""

from __future__ import annotations

import os
import random
import shutil
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from eventrelationextractor_spark import datagen
from eventrelationextractor_spark import fixtures as fx
from eventrelationextractor_spark.ops import htmltext
from eventrelationextractor_spark.spark import kg, lineage, stages

import corereplay

PAGES_SCHEMA = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()),
                          ("text", pa.string()),
                          ("lang", pa.string())])
# entity-linking dictionary for the synthetic corpus (lemma -> KG id)
ALIAS_ROWS = [("happen", "EVENT", "EVT_HAPPEN"), ("say", "EVENT", "EVT_SAY"),
              ("trading", "EVENT", "EVT_TRADING"),
              ("arrive", "EVENT", "EVT_ARRIVE")]
N_BUCKETS = 8       # url-hash buckets of the crawl_to_table output


def write_table(rows: list, schema: pa.Schema, out_dir: str,
                n_files: int) -> None:
    """rows -> ``n_files`` parquet files of 4 row groups each. Text and
    html are not dictionary-encoded, as in a table of distinct crawled
    pages."""
    os.makedirs(out_dir)
    table = pa.Table.from_pylist(rows, schema=schema)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        part = table.slice(i * per, per)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, -(-part.num_rows // 4)),
                       use_dictionary=["lang"])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def byte_skew(df, col: str) -> float:
    """max / mean input bytes over the scan partitions of ``df``."""
    n = df.rdd.getNumPartitions()
    per = [r["b"] for r in df.groupBy(F.spark_partition_id().alias("p"))
           .agg(F.sum(F.length(col)).alias("b")).collect()]
    return max(per) / (sum(per) / n) if per and sum(per) else 0.0


def components(edges) -> dict:
    """Driver-side union-find: vertex -> smallest vertex id (string order)
    of its connected component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:        # the smaller root wins, so roots are minima
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def synth_rows(ids) -> list:
    return [datagen.synth_page(d) for d in ids]


class Workload:
    name = ""
    mode = "both"
    consistent_only = False
    trace_reps = 3
    # untimed jobs after staging: the first job in a fresh JVM costs 2-3x a
    # settled one (class loading, JIT, Python worker start)
    warmup_jobs = 2
    # staged files per task slot; run.py makes every file its own scan split
    files_per_slot = 1

    def __init__(self, spark, work_dir: str, seed: int, smoke: bool):
        self.spark = spark
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        self.smoke = smoke
        self.n_files = (self.files_per_slot
                        * spark.sparkContext.defaultParallelism)
        if smoke:
            self.trace_reps = 1

    def table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.work_dir, name))

    def verify(self, out) -> int:
        """Documents of one timed job whose output is wrong or missing."""
        return 0

    def gate(self) -> tuple:
        """(documents attempted, documents failed) of a checked run made
        once, outside the timed jobs, for outputs a job does not keep."""
        return 0, 0

    def replay_pages(self) -> list:
        """[(url, text)] replayed single-threaded for the core.* rows."""
        raise NotImplementedError


class CrawlToTable(Workload):
    """pages(html) -> html_to_text -> extract_triples -> bucketed parquet."""
    name = "crawl_to_table"
    # after 2 warm-up jobs the timed jobs still shrink (3.5, 3.3, 2.8 s)
    warmup_jobs = 3

    def stage(self) -> None:
        n = 200 if self.smoke else 2000
        off = self.rng.randrange(0, 90_000_000)
        self.ids = range(off, off + n)
        self.docs_per_job = n
        write_table(synth_rows(self.ids), PAGES_SCHEMA,
                    os.path.join(self.work_dir, "pages"), self.n_files)
        self.expected = {
            datagen.synth_url(d): Counter(
                (s, r, t) for s, t, r in datagen.expected_temporal_triples(d)
                + datagen.expected_causal_triples(d))
            for d in self.ids}

    def pages(self):
        return htmltext.html_to_text(self.table("pages").drop("text"))

    def job(self, job_dir: str):
        res = lineage.write_triples_resumable(self.pages(), job_dir,
                                              n_buckets=N_BUCKETS,
                                              mode="both")
        return job_dir, res

    def verify(self, out) -> int:
        job_dir, res = out
        if sorted(res["written"]) != list(range(N_BUCKETS)):
            return self.docs_per_job
        got: dict = defaultdict(Counter)
        pdf = lineage.read_triples(self.spark, job_dir) \
            .select("url", "subj", "pred", "obj").toPandas()
        for u, s, p, o in zip(pdf["url"], pdf["subj"], pdf["pred"],
                              pdf["obj"]):
            got[u][(s, p, o)] += 1
        bad = sum(1 for u, want in self.expected.items() if got.get(u) != want)
        return min(self.docs_per_job,
                   bad + sum(1 for u in got if u not in self.expected))

    def replay_pages(self) -> list:
        ids = list(self.ids)[:200]
        return [(datagen.synth_url(d), "\n".join(datagen.synth_txp_lines(d)))
                for d in ids]

    def trace(self, tr, job_dir) -> dict:
        pages = self.table("pages")
        cuts = (("scan", lambda: noop(pages.select("url", "html"))),
                ("htmltext", lambda: noop(self.pages().select("url", "text"))),
                ("stages", lambda: noop(stages.extract_triples(
                    self.pages(), mode="both"))),
                ("lineage", lambda: self.job(job_dir)))
        files = size = rows = 0
        for _ in range(self.trace_reps):
            for name, run in cuts:
                with tr.span(name):
                    run()
            written = [os.path.join(d, f) for d, _, fs in os.walk(job_dir)
                       for f in fs]
            files = sum(1 for p in written if p.endswith(".parquet"))
            size = sum(os.path.getsize(p) for p in written)
            rows = sum(r["rows"] for r in lineage.read_manifest(job_dir)
                       .values())
            shutil.rmtree(job_dir)
        html_mb = pages.select(F.sum(F.length("html"))).first()[0] / 1e6
        html_s = tr.self_time("htmltext", "scan")
        return {
            "scan.self_s": tr.self_time("scan", None),
            "scan.partitions": pages.rdd.getNumPartitions(),
            "scan.partition_skew": byte_skew(pages, "html"),
            "htmltext.self_s": html_s,
            "htmltext.mb_per_s": html_mb / html_s if html_s > 0 else 0.0,
            "stages.extract_self_s": tr.self_time("stages", "htmltext"),
            "stages.rows_out": rows,
            "lineage.self_s": tr.self_time("lineage", "stages"),
            "lineage.files_written": files,
            "lineage.mb_written": size / 1e6,
            "_traced_job_s": tr.median("lineage"),
        }


class NewswireDense(Workload):
    """Replicated reference TXP documents -> extract_triples(consistent_only)
    -> noop sink."""
    name = "newswire_dense"
    consistent_only = True
    # a few slow documents per split: with more tasks than slots, a core
    # slowed by a busy neighbour on a shared host delays the job by its
    # share of the work, not as the straggler of a one-task-per-slot stage
    files_per_slot = 4
    names = ("wsj_1014", "bbc_20130322_721", "sample_temporal",
             "sample_causal")

    def stage(self) -> None:
        blocks = 2 if self.smoke else 32
        rows, self.source = [], {}
        for b in range(blocks):
            # every block holds one copy of each document, in seeded order,
            # so each scan split gets the same mix whatever the seed
            for name in self.rng.sample(self.names, len(self.names)):
                url = "%s/%08x-%d" % (fx.fixture_url(name),
                                      self.rng.getrandbits(32), b)
                self.source[url] = name
                rows.append({"url": url, "text": fx.fixture_text(name)})
        self.docs_per_job = len(rows)
        write_table(rows, pa.schema([("url", pa.string()),
                                     ("text", pa.string())]),
                    os.path.join(self.work_dir, "news"), self.n_files)

    def extract(self):
        return stages.extract_triples(self.table("news"), mode="both",
                                      consistent_only=True)

    def job(self, job_dir: str):
        noop(self.extract())

    def expected(self) -> tuple:
        """({fixture: Counter of output rows}, {fixture whose unfiltered
        core output differs from the vendored reference predictions})."""
        want, off_golden = {}, set()
        for name in self.names:
            temporal, kept, causal, truncated = corereplay.core_triples(
                fx.fixture_text(name), name, "both", True)
            rows = [(x.source, x.rel, x.target, x.stage, x.pair_type)
                    for x in kept + causal]
            if truncated:
                rows.append(("_doc", "TRUNCATED", "_doc", "tt-truncated",
                             "meta"))
            want[name] = Counter(rows)
            for kind, trips in (("temporal", temporal), ("causal", causal)):
                fixtures = (fx.TEMPORAL_FIXTURES if kind == "temporal"
                            else fx.CAUSAL_FIXTURES)
                if name in fixtures and {(x.source, x.rel, x.target)
                                         for x in trips} != {
                        (s, r, t) for _, s, r, t in
                        fx.golden_predictions(name, kind)}:
                    off_golden.add(name)
        return want, off_golden

    def gate(self) -> tuple:
        want, off_golden = self.expected()
        pdf = self.extract().toPandas()
        got: dict = defaultdict(Counter)
        for row in zip(pdf["url"], pdf["subj"], pdf["pred"], pdf["obj"],
                       pdf["stage"], pdf["pair_type"]):
            got[row[0]][row[1:]] += 1
        self.rows_out = len(pdf)
        bad = sum(1 for url, name in self.source.items()
                  if name in off_golden or got.get(url) != want[name])
        return len(self.source), bad

    def replay_pages(self) -> list:
        return [(n, fx.fixture_text(n)) for n in self.names] * 3

    def trace(self, tr, job_dir) -> dict:
        news = self.table("news")
        for _ in range(self.trace_reps):
            with tr.span("scan"):
                noop(news.select("url", "text"))
            with tr.span("stages"):
                noop(self.extract())
        self.gate()
        return {
            "scan.self_s": tr.self_time("scan", None),
            "scan.partitions": news.rdd.getNumPartitions(),
            "scan.partition_skew": byte_skew(news, "text"),
            "stages.extract_self_s": tr.self_time("stages", "scan"),
            "stages.rows_out": self.rows_out,
            "_traced_job_s": tr.median("stages"),
        }


class KgCanonicalize(Workload):
    """Synthetic pages -> extract_kg_rows -> link_mentions -> canonicalize,
    then cc_incremental with a seeded delta batch of new pages."""
    name = "kg_canonicalize"
    mode = "temporal"
    trace_reps = 2

    def stage(self) -> None:
        n, m = (200, 20) if self.smoke else (2000, 200)
        off = self.rng.randrange(0, 90_000_000)
        self.base_ids = range(off, off + n)
        self.delta_ids = self.rng.sample(range(off + n, off + n + 8 * m), m)
        self.docs_per_job = n + m
        write_table(synth_rows(self.base_ids), PAGES_SCHEMA,
                    os.path.join(self.work_dir, "base"), self.n_files)
        write_table(synth_rows(self.delta_ids), PAGES_SCHEMA,
                    os.path.join(self.work_dir, "delta"), self.n_files)
        write_table([dict(zip(("alias", "kind", "canonical_id"), r))
                     for r in ALIAS_ROWS],
                    pa.schema([("alias", pa.string()), ("kind", pa.string()),
                               ("canonical_id", pa.string())]),
                    os.path.join(self.work_dir, "alias"), 1)

    def kg_rows(self, table: str):
        # materialized once, as the canonical-components query does, so
        # mentions and triples do not re-parse the corpus
        rows = stages.extract_kg_rows(self.table(table),
                                      mode="temporal").localCheckpoint()
        linked = kg.link_mentions(
            rows.filter(F.col("row_kind") == "mention")
            .select("url", "mention_id", "kind", "lemma"),
            self.table("alias"))
        trips = rows.filter(F.col("row_kind") == "triple") \
            .select("url", "subj", "pred", "obj")
        return rows, linked, trips

    def job(self, job_dir: str):
        _, linked, trips = self.kg_rows("base")
        labels = kg.canonicalize(linked, trips)
        _, dlinked, dtrips = self.kg_rows("delta")
        delta = kg.canonical_edges(dlinked, dtrips)
        incr = kg.cc_incremental(labels, delta)
        noop(incr)
        return linked, trips, labels, delta, incr

    def verify(self, out) -> int:
        linked, trips, labels, delta, incr = out
        base_edges = [tuple(r) for r in
                      kg.canonical_edges(linked, trips).collect()]
        delta_edges = [tuple(r) for r in delta.collect()]
        urls = ({datagen.synth_url(d) for d in self.base_ids},
                {datagen.synth_url(d) for d in self.delta_ids})
        bad: set = set()
        for got_df, edges, docs in (
                (labels, base_edges, urls[0]),
                (incr, base_edges + delta_edges, urls[0] | urls[1])):
            rows = got_df.collect()
            got = {r["vertex"]: r["component"] for r in rows}
            want = components(edges)
            wrong = {v for v in want.keys() | got.keys()
                     if want.get(v) != got.get(v)}
            if len(rows) != len(got) or any(v.startswith("alias:")
                                             for v in wrong):
                bad |= docs
            bad |= {v.split("#", 1)[0] for v in wrong}
            bad |= docs - {v.split("#", 1)[0] for v in got}   # missing docs
        return len(bad & (urls[0] | urls[1]))

    def replay_pages(self) -> list:
        return [(datagen.synth_url(d), "\n".join(datagen.synth_txp_lines(d)))
                for d in list(self.base_ids)[:200]]

    def trace(self, tr, job_dir) -> dict:
        st_incr: dict = {}
        rows_out = 0
        for _ in range(self.trace_reps):
            with tr.span("scan"):
                noop(self.table("base").select("url", "text"))
            with tr.span("pipeline", parent="trace"):
                with tr.span("stages", parent="pipeline"):
                    rows, linked, trips = self.kg_rows("base")
                with tr.span("link", parent="pipeline"):
                    noop(linked)
                with tr.span("cc", parent="pipeline"):
                    labels = kg.canonicalize(linked, trips)
                with tr.span("delta", parent="pipeline"):
                    _, dlinked, dtrips = self.kg_rows("delta")
                with tr.span("incr", parent="pipeline"):
                    incr = kg.cc_incremental(
                        labels, kg.canonical_edges(dlinked, dtrips),
                        stats=st_incr)
                    noop(incr)
            rows_out = rows.count()
        # canonicalize reports no round count; the same edge list through
        # connected_components (what canonicalize runs) does, untimed
        st: dict = {}
        kg.connected_components(kg.canonical_edges(linked, trips), stats=st)
        sizes = labels.groupBy("component").count()
        cc_s = tr.median("cc")
        base = self.table("base")
        return {
            "scan.self_s": tr.self_time("scan", None),
            "scan.partitions": base.rdd.getNumPartitions(),
            "scan.partition_skew": byte_skew(base, "text"),
            "stages.extract_self_s": tr.self_time("stages", "scan"),
            "stages.rows_out": rows_out,
            "kg.link_self_s": tr.median("link"),
            "kg.cc_s": cc_s,
            "kg.cc_rounds": st["rounds"],
            "kg.cc_s_per_round": cc_s / st["rounds"],
            "kg.vertices": labels.count(),
            "kg.edges": kg.canonical_edges(linked, trips).count(),
            "kg.max_component": sizes.agg(F.max("count")).first()[0],
            "kg.incr_s": tr.median("incr"),
            "kg.incr_rounds": st_incr["rounds"],
            "_traced_job_s": tr.median("pipeline"),
        }


WORKLOADS = {w.name: w for w in (CrawlToTable, NewswireDense, KgCanonicalize)}

