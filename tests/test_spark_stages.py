"""Spark-layer tests: extraction stages, KG layers, ops, lineage/resume,
plan hygiene (column pruning), streaming."""

import json
import math
import os
import re
import subprocess
import sys
import textwrap
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from eventrelationextractor_spark import fixtures as fx
from eventrelationextractor_spark.ops import events as ev_ops
from eventrelationextractor_spark.spark import kg, lineage, stages

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")


@pytest.fixture(scope="module")
def fixture_pages(spark):
    return spark.createDataFrame(
        fx.fixture_pages(fx.TEMPORAL_FIXTURES), PAGES_SCHEMA).cache()


def test_extract_triples_matches_reference_golden(spark, fixture_pages):
    got = {(r.url, r.subj, r.pred, r.obj)
           for r in stages.extract_triples(fixture_pages, "temporal").collect()}
    want = set()
    for name in fx.TEMPORAL_FIXTURES:
        want |= set(fx.golden_predictions(name, "temporal"))
    assert got == want


def test_html_column_pruned_from_scan(spark, tmp_path, fixture_pages):
    """Catalyst must push column pruning to the parquet scan: the triples
    plan reads only url+text, never the binary html payload."""
    path = str(tmp_path / "pages")
    fixture_pages.write.parquet(path)
    pages = spark.read.parquet(path)
    plan = stages.extract_triples(pages, "temporal") \
        ._jdf.queryExecution().toString()
    schemas = [ln.split("ReadSchema:", 1)[1] for ln in plan.split("\n")
               if "ReadSchema:" in ln]
    assert schemas, plan
    assert all("html" not in s for s in schemas)
    assert any("url:string" in s and "text:string" in s for s in schemas)


# per-page extractor -> (run on a pages frame, its error row after url)
PER_PAGE_EXTRACTORS = {
    "extract_triples": (lambda p: stages.extract_triples(p, "both"),
                        ("_doc", "PARSE_ERROR", "_doc", "parse-error",
                         "meta")),
    "extract_kg_rows": (lambda p: stages.extract_kg_rows(p, "both"),
                        ("triple", None, None, None, "_doc", "PARSE_ERROR",
                         "_doc")),
    "extract_mentions": (stages.extract_mentions,
                         ("_doc", "PARSE_ERROR", None, -1, None, None, None,
                          None, None, "FALSE")),
    "extract_candidates": (stages.extract_candidates,
                           ("_doc", "_doc", "meta", "PARSE_ERROR")),
    "extract_ee_probabilities": (stages.extract_ee_probabilities,
                                 ("_doc", "_doc", "PARSE_ERROR", "nan",
                                  "nan")),
    "extract_tokens": (stages.extract_tokens,
                       (-1, "_doc", "_doc", "PARSE_ERROR") + (None,) * 11),
    "export_training_features": (stages.export_training_features,
                                 ("meta", "_doc", "_doc", 0, "")),
    "extracted_text": (stages.extracted_text, ("", "PARSE_ERROR")),
}


def test_extraction_is_shuffle_free(spark, fixture_pages):
    """Each per-page extractor is one Python map over the scan, without a
    shuffle: a second chained Python stage would make every task hold two
    Python workers."""
    for name, (run, _) in PER_PAGE_EXTRACTORS.items():
        physical = run(fixture_pages)._jdf.queryExecution().toString() \
            .split("== Physical Plan ==")[-1]
        assert "Exchange" not in physical, name   # pure map stage
        assert len(re.findall(r"MapIn(?:Arrow|Pandas)|EvalPython",
                              physical)) == 1, (name, physical)


def test_connected_components_long_chain(spark):
    # path graph 0-1-2-...-99: multi-hop convergence, component = min id
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(99)], "src string, dst string")
    labels = {r.vertex: r.component
              for r in kg.connected_components(edges).collect()}
    assert len(labels) == 100
    assert set(labels.values()) == {"v000"}


def test_connected_components_two_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string")
    labels = {r.vertex: r.component
              for r in kg.connected_components(edges).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


_CC_SLOW_PATH = (
    # a 44-vertex path from its minimum 0doc#e10 through the aliases Y and
    # X, then 40 SIMULTANEOUS-chained mentions AAA#e49 ... AAA#e10 whose
    # ids decrease with distance from the minimum: pointer jumping cannot
    # shortcut it, so min-label propagation needs 43 rounds
    [("0doc", "e10", "Y"), ("zz", "e10", "Y"), ("zz", "e10", "X"),
     ("AAA", "e49", "X")],
    [("AAA", f"e{i}", "SIMULTANEOUS", f"e{i + 1}") for i in range(10, 49)])


def test_connected_components_raises_or_labels_exactly(spark):
    """A graph that needs more than ``max_iterations`` rounds must not get
    unconverged labels: connected_components raises, or its labels equal
    a driver union-find's (and canonicalize's, which has a fixed plan)."""
    linked, trips = _kg_inputs(spark, *_CC_SLOW_PATH)
    edges = kg.canonical_edges(linked, trips)
    parent = {}
    for r in edges.collect():
        kg._union(parent, r.src, r.dst)
    want = {v: kg._find(parent, v) for v in parent}
    assert len(want) == 44 and set(want.values()) == {"0doc#e10"}
    assert {r.vertex: r.component
            for r in kg.canonicalize(linked, trips).collect()} == want
    try:
        got = {r.vertex: r.component
               for r in kg.connected_components(edges).collect()}
    except RuntimeError as e:
        assert "did not converge" in str(e)
    else:
        assert got == want


@pytest.mark.parametrize("daemon", ["true", "false"])
def test_build_session_worker_keeps_zip_directories(tmp_path, daemon):
    """Python tasks of a build_session session run the package's worker
    module, forked by pyspark's daemon or (use.daemon=false) started on
    their own: inside a task, importlib.invalidate_caches() leaves every
    zip importer's cached archive directory in place instead of
    re-reading it. The caller's own spark.executorEnv.PYTHONPATH (as
    perfbench passes one) stays on the workers' path next to the
    module's."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {root!r})
        from eventrelationextractor_spark.spark.session import build_session

        def probe(_):
            import importlib, sys, zipimport
            archives = {{imp.archive for imp in
                        list(sys.path_importer_cache.values())
                        if isinstance(imp, zipimport.zipimporter)}}
            before = {{a: zipimport._zip_directory_cache[a]
                      for a in archives}}
            importlib.invalidate_caches()
            yield {{"kept": {{a: zipimport._zip_directory_cache.get(a) is d
                             for a, d in before.items()}},
                   "path": sys.path}}

        spark = build_session(
            master="local[1]", shuffle_partitions=1,
            **{{"spark.driver.memory": "1g",
               "spark.ui.showConsoleProgress": "false",
               "spark.python.use.daemon": {daemon!r},
               "spark.executorEnv.PYTHONPATH": {str(tmp_path)!r}}})
        print(json.dumps(
            spark.sparkContext.parallelize([0], 1).mapPartitions(probe)
            .collect()[0]))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHONPATH" and not k.startswith("SPARK_GRAFT_")}
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    task = json.loads(proc.stdout.strip().splitlines()[-1])
    assert task["kept"] and all(task["kept"].values()), task["kept"]
    worker_dir = os.path.join(root, "eventrelationextractor_spark", "_worker")
    assert worker_dir in task["path"] and str(tmp_path) in task["path"]


def test_entity_linking_left_join_keeps_unlinked(spark, fixture_pages):
    mentions = stages.extract_mentions(fixture_pages)
    alias = spark.createDataFrame([("say", "EVENT", "EVT_SAY")],
                                  "alias string, kind string, canonical_id string")
    linked = kg.link_mentions(mentions, alias)
    physical = linked._jdf.queryExecution().toString() \
        .split("== Physical Plan ==")[-1]
    # the alias dictionary is broadcast: the mention table never shuffles
    assert "BroadcastHashJoin" in physical, physical
    assert "SortMergeJoin" not in physical, physical
    assert linked.count() == mentions.count()
    hits = linked.filter(F.col("canonical_id").isNotNull())
    assert hits.count() > 0
    assert {r.lemma for r in hits.collect()} == {"say"}


def test_resumable_write_skips_completed_buckets(spark, tmp_path):
    out = str(tmp_path / "triples")
    pages = stages.synth_pages_df(spark, 40, partitions=4)
    r1 = lineage.write_triples_resumable(pages, out, n_buckets=4,
                                         mode="temporal")
    assert sorted(r1["written"]) == [0, 1, 2, 3] and r1["skipped"] == []
    n1 = lineage.read_triples(spark, out).count()
    assert n1 == 40 * 26  # 25 temporal triples + 1 clf pair per doc

    mtimes = {b: os.path.getmtime(os.path.join(out, f"bucket={b}"))
              for b in range(4)}
    time.sleep(1.1)
    # simulate a mid-run crash: bucket 2's manifest entry lost
    manifest = lineage.read_manifest(out)
    del manifest[2]
    mpath = os.path.join(out, "_lineage", "manifest.jsonl")
    with open(mpath, "w") as f:
        import json
        for rec in manifest.values():
            f.write(json.dumps(rec) + "\n")

    r2 = lineage.write_triples_resumable(pages, out, n_buckets=4,
                                         mode="temporal")
    assert r2["written"] == [2] and sorted(r2["skipped"]) == [0, 1, 3]
    for b in (0, 1, 3):  # untouched buckets were not recomputed
        assert os.path.getmtime(os.path.join(out, f"bucket={b}")) == mtimes[b]
    assert lineage.read_triples(spark, out).count() == n1
    # lineage metrics present
    rec = lineage.read_manifest(out)[2]
    assert rec["rows"] > 0 and "pred_histogram" in rec


def test_resume_zero_row_bucket_drops_stale_partials(spark, tmp_path):
    """A crashed bucket whose resume extraction yields ZERO rows must not
    keep the crashed run's stale files: dynamic partition overwrite only
    replaces partitions present in the new output, so the writer deletes
    pending bucket directories up front. The manifest then records the
    true rows=0, not the stale count."""
    import json
    out = str(tmp_path / "triples0")
    pages = stages.synth_pages_df(spark, 40, partitions=4)
    lineage.write_triples_resumable(pages, out, n_buckets=4,
                                    mode="temporal")
    manifest = lineage.read_manifest(out)
    del manifest[2]            # crash: bucket 2's manifest entry lost
    mpath = os.path.join(out, "_lineage", "manifest.jsonl")
    with open(mpath, "w") as f:
        for rec in manifest.values():
            f.write(json.dumps(rec) + "\n")
    assert os.path.isdir(os.path.join(out, "bucket=2"))  # stale partials

    def empty_extract(p, mode):
        return stages.extract_triples(p, mode=mode).filter(F.lit(False))

    r = lineage.write_triples_resumable(pages, out, n_buckets=4,
                                        mode="temporal",
                                        extract=empty_extract)
    assert r["written"] == [2]
    assert not os.path.isdir(os.path.join(out, "bucket=2"))
    rec = lineage.read_manifest(out)[2]
    assert rec["rows"] == 0 and rec["pred_histogram"] == {}
    # completed buckets are still readable
    assert lineage.read_triples(spark, out).count() == 30 * 26


def test_read_triples_no_partitions_clear_error(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no bucket"):
        lineage.read_triples(spark, str(tmp_path / "never_written"))


def test_train_models_row_cap_fails_fast(spark):
    """The driver-side training gather is guarded: groups larger than
    max_rows raise instead of OOMing the driver."""
    pages = spark.createDataFrame(
        fx.fixture_pages(fx.TEMPORAL_FIXTURES), PAGES_SCHEMA)
    with pytest.raises(ValueError, match="max_rows"):
        stages.train_models(pages, max_rows=1)


def test_streaming_windowed_counts_matches_batch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "stream_src")
    events.write.parquet(src)
    batch = {(r.window_start, r.event_type): r.n_events
             for r in ev_ops.windowed_counts(events).collect()}

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = ev_ops.streaming_windowed_counts(stream)
    q = (out.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.window_start, r.event_type): r.n_events
           for r in spark.sql("select * from win_counts").collect()}
    assert got == batch


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """applyInPandasWithState ingest dedup == batch exact_dedup_keep
    when originals arrive before their duplicates (append-ordered
    drops): batch 1 carries the originals (plus an intra-batch dup),
    batch 2 re-delivers copies - every one must be suppressed by state
    carried across triggers."""
    from eventrelationextractor_spark.ops import dedup as dd

    texts = [(0, "the quick brown fox"), (1, "a completely other page"),
             (2, "THE quick  brown fox!"),      # dup of 0 in SAME batch
             (3, "third unique document")]
    later = [(10, "the quick brown fox"),       # dup of 0, later trigger
             (11, "a completely other page"),   # dup of 1
             (12, "brand new in batch two")]
    all_rows = texts + later
    batch_df = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {(r.doc_id, r.fingerprint)
            for r in dd.exact_dedup_keep(batch_df).collect()}

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    for i, part in enumerate((texts, later)):
        spark.createDataFrame(part, "doc_id long, text string") \
            .coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream.schema("doc_id long, text string") \
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (dd.streaming_exact_dedup(stream)
         .writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.fingerprint)
           for r in spark.sql("select * from dedup_out").collect()}
    assert got == want
    assert {d for d, _ in got} == {0, 1, 3, 12}


def test_media_feature_plumbing(spark):
    from eventrelationextractor_spark.ops import multimodal
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"\x89PNGfake"), 4, 4),
         (2, "audio", bytearray(b"RIFFfake"), None, None)],
        multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(media, dim=8, fake=True).collect()
    assert {r.media_id for r in feats} == {1, 2}
    for r in feats:
        assert len(r.feature) == 8 and all(0 <= v < 1 for v in r.feature)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"x")


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer == batch sessionize on closed
    sessions. Two ordered file-source batches exercise real state
    carry-over between triggers; a far-future sentinel per user closes
    every genuine session (the sentinel's own session stays open in
    state and is never emitted)."""
    import os
    import time

    from pyspark.sql import functions as F

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "ts", "user_id")
    batch = {(r.user_id, r.session_start, r.n_events)
             for r in ev_ops.sessionize(
                 events.withColumn("ts", F.col("ts").cast("timestamp_ltz")))
             .collect()}

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    # time-ordered arrival across triggers (what a real stream delivers):
    # first half of the timeline, then the rest, then the sentinels
    lohi = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    median = lohi.lo + (lohi.hi - lohi.lo) / 2
    half = events.filter(F.col("ts") <= F.lit(median))
    rest = events.filter(F.col("ts") > F.lit(median))
    sentinels = events.groupBy("user_id").agg(
        (F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts")) \
        .withColumn("event_id", F.lit(-1)) \
        .select("event_id", "ts", "user_id")
    for i, part in enumerate((half, rest, sentinels)):
        part.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    stream = spark.readStream.schema(events.schema) \
        .option("maxFilesPerTrigger", "1") \
        .option("latestFirst", "false") \
        .parquet(src + "/*")
    out = ev_ops.streaming_sessionize(stream)
    q = (out.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.user_id, r.session_start, r.n_events)
           for r in spark.sql("select * from sess_out").collect()}
    assert got == batch


def test_fused_doc_id_path_matches_composed(spark):
    """extract_triples/extract_mentions accept a bare doc_id frame (page
    generation fused into the extraction UDF); output must be identical to
    the composed pages_from_doc_ids -> extract path."""
    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    composed = {(r.url, r.subj, r.pred, r.obj)
                for r in stages.extract_triples(
                    stages.pages_from_doc_ids(ids), "both").collect()}
    fused = {(r.url, r.subj, r.pred, r.obj)
             for r in stages.extract_triples(ids, "both").collect()}
    assert fused == composed and len(fused) > 0

    m_composed = {(r.url, r.mention_id, r.kind, r.lemma)
                  for r in stages.extract_mentions(
                      stages.pages_from_doc_ids(ids)).collect()}
    m_fused = {(r.url, r.mention_id, r.kind, r.lemma)
               for r in stages.extract_mentions(ids).collect()}
    assert m_fused == m_composed and len(m_fused) > 0


def test_kg_rows_one_pass_matches_separate(spark):
    """extract_kg_rows (single parse of the corpus) == the union of the
    separate mention and triple extractions."""
    ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    rows = stages.extract_kg_rows(ids, mode="temporal").collect()
    got_m = {(r.url, r.mention_id, r.kind, r.lemma)
             for r in rows if r.row_kind == "mention"}
    got_t = {(r.url, r.subj, r.pred, r.obj)
             for r in rows if r.row_kind == "triple"}
    want_m = {(r.url, r.mention_id, r.kind, r.lemma)
              for r in stages.extract_mentions(ids).collect()}
    want_t = {(r.url, r.subj, r.pred, r.obj)
              for r in stages.extract_triples(ids, "temporal").collect()}
    assert got_m == want_m and got_t == want_t


def test_salted_extraction_matches_plain(spark, fixture_pages):
    """Salted repartition of giant pages is lossless: chunked tt pair
    space + sieves-on-copy-0 reproduce the plain output exactly, and the
    giant branch really repartitions on (url, salt)."""
    plain = sorted((r.url, r.subj, r.pred, r.obj, r.stage)
                   for r in stages.extract_triples(
                       fixture_pages, "both").collect())
    salted_df = stages.extract_triples_salted(
        fixture_pages, "both", salt=4, giant_page_bytes=10_000)
    salted = sorted((r.url, r.subj, r.pred, r.obj, r.stage)
                    for r in salted_df.collect())
    assert salted == plain and len(plain) > 500
    physical = salted_df._jdf.queryExecution().toString() \
        .split("== Physical Plan ==")[-1]
    assert "hashpartitioning" in physical and "salt" in physical


def _nan_as_text(row) -> tuple:
    return tuple("nan" if isinstance(v, float) and math.isnan(v) else v
                 for v in row)


def test_parse_failure_emits_meta_row(spark, fixture_pages):
    """A page that fails to parse yields exactly one error row in every
    per-page extractor (feeding the lineage pred_histogram), not zero
    rows and not a failed job, and leaves the other pages' rows as they
    are without it. The salted run makes every page giant, the bad one
    included, so its error row comes from one copy out of four."""
    good = fixture_pages.select("url", "text")
    pages = good.unionByName(spark.createDataFrame(
        [("u-bad", None)], "url string, text string"))
    runs = dict(PER_PAGE_EXTRACTORS)
    runs["extract_triples_salted"] = (
        lambda p: stages.extract_triples_salted(p, "both", salt=4,
                                                giant_page_bytes=0),
        PER_PAGE_EXTRACTORS["extract_triples"][1])
    for name, (run, want) in runs.items():
        rows = run(pages).collect()
        assert [_nan_as_text(r)[1:] for r in rows if r.url == "u-bad"] \
            == [want], name
        rest = Counter(tuple(r) for r in rows if r.url != "u-bad")
        assert rest and rest == Counter(
            tuple(r) for r in run(good).collect()), name

    # consumers skip the error rows: canonicalization makes no vertex of
    # the bad page, whether the mentions and triples come from one pass
    # or two, and the F4 filter keeps it away from training
    alias = spark.createDataFrame(
        [("say", "EVENT", "EVT_SAY")],
        "alias string, kind string, canonical_id string")
    kg_rows = stages.extract_kg_rows(pages, "temporal")
    for mentions, trips in (
            (kg_rows.filter(F.col("row_kind") == "mention"),
             kg_rows.filter(F.col("row_kind") == "triple")),
            (stages.extract_mentions(pages),
             stages.extract_triples(pages, "temporal"))):
        labels = kg.canonicalize(kg.link_mentions(mentions, alias), trips)
        assert not [r for r in labels.collect()
                    if r.vertex.startswith("u-bad")]
    feats = stages.export_training_features(pages, labeled_only=True)
    assert feats.filter(F.col("url") == "u-bad").count() == 0


def test_streaming_triple_extraction_matches_batch(spark, tmp_path, fixture_pages):
    """extract_triples is a stateless map stage, so the SAME code runs
    under Structured Streaming unchanged - incremental KG construction
    over a pages stream (new WARC drops appended to the table) with
    output identical to the batch run."""
    src = str(tmp_path / "pages_stream")
    fixture_pages.select("url", "text").write.parquet(src)
    batch = {(r.url, r.subj, r.pred, r.obj)
             for r in stages.extract_triples(fixture_pages, "both").collect()}

    stream = spark.readStream.schema("url string, text string").parquet(src)
    out = stages.extract_triples(stream, "both")
    q = (out.writeStream.format("memory").queryName("stream_triples")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.url, r.subj, r.pred, r.obj)
           for r in spark.sql("select * from stream_triples").collect()}
    assert got == batch and len(got) > 500


def test_multimodal_resize_and_frame_sampling(spark):
    """Resize keeps the media schema (stages compose), only touches image
    rows, and is deterministic; frame sampling is a 1-to-many transform
    emitting n_frames rows per video and dropping other kinds."""
    from eventrelationextractor_spark.ops import multimodal
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"img-payload-a"), 640, 480),
         (2, "video", bytearray(b"vid-payload-b"), 1920, 1080),
         (3, "audio", bytearray(b"aud-payload-c"), None, None)],
        multimodal.MEDIA_SCHEMA)

    resized = multimodal.resize_images(media, 224, 224, fake=True)
    assert resized.schema == multimodal.MEDIA_SCHEMA
    rows = {r.media_id: r for r in resized.collect()}
    assert bytes(rows[1].payload).startswith(b"RSZ")
    assert (rows[1].width, rows[1].height) == (224, 224)
    assert bytes(rows[2].payload) == b"vid-payload-b"  # untouched
    # deterministic: same input -> same payload
    again = {r.media_id: bytes(r.payload)
             for r in multimodal.resize_images(media, 224, 224).collect()}
    assert again[1] == bytes(rows[1].payload)
    # resize stages compose: double resize parses its own output schema
    assert multimodal.resize_images(resized, 64, 64).count() == 3

    frames = multimodal.sample_frames(media, n_frames=3, fake=True).collect()
    assert {r.media_id for r in frames} == {2}
    assert sorted(r.frame_idx for r in frames) == [0, 1, 2]
    assert all(bytes(r.payload).startswith(b"FRM") for r in frames)

    # real kernels are explicit stubs, not silent fakes
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        multimodal.resize_kernel(b"x", 1, 1)
    with _pytest.raises(NotImplementedError):
        multimodal.decode_video_frame(b"x", 0)


def test_export_training_features_f4_filter(spark):
    """F4 train-label filter: labeled_only=True keeps exactly the rows
    whose gold label is non-NONE (label != 0), as the reference's
    training path does; default export keeps every candidate row."""
    pages = spark.createDataFrame(
        fx.fixture_pages(("wsj_1014",)), PAGES_SCHEMA)
    full = stages.export_training_features(pages).collect()
    labeled = stages.export_training_features(pages,
                                              labeled_only=True).collect()
    assert len(full) > len(labeled) > 0
    assert all(r.label != 0 for r in labeled)
    want = {(r.url, r.group, r.src, r.tgt) for r in full if r.label != 0}
    got = {(r.url, r.group, r.src, r.tgt) for r in labeled}
    assert got == want


def test_streaming_sessionize_event_time_out_of_order(spark, tmp_path):
    """The watermark+EventTimeTimeout sessionizer must equal batch
    sessionize even when events arrive OUT OF ORDER across micro-batches
    (each batch is half of every user's timeline - the exact condition
    that silently corrupts the ordered-source sessionizer). Tail
    sessions flush via the event-time timeout once later batches advance
    the global watermark - no per-user sentinels."""
    import datetime

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "ts", "user_id")
    batch = {(r.user_id, r.session_start, r.n_events)
             for r in ev_ops.sessionize(
                 events.withColumn("ts", F.col("ts").cast("timestamp_ltz")))
             .collect()}

    src = str(tmp_path / "ooo_src")
    os.makedirs(src)
    # out-of-order across triggers: even event_ids first, then odd -
    # every user's timeline interleaves across the two batches. Two
    # trailing far-future events on a dummy user advance the GLOBAL
    # watermark in the following batches (maxFilesPerTrigger=1 -> one
    # batch per file; the watermark advances between batches), so the
    # event-time timeouts flush every genuine tail session inside ONE
    # availableNow run.
    part_a = events.filter(F.col("event_id") % 2 == 0)
    part_b = events.filter(F.col("event_id") % 2 == 1)
    hi = events.agg(F.max("ts").alias("hi")).first().hi
    adv1 = spark.createDataFrame(
        [(-1, hi + datetime.timedelta(days=60), -12345)],
        "event_id long, ts timestamp, user_id long")
    adv2 = spark.createDataFrame(
        [(-2, hi + datetime.timedelta(days=120), -12345)],
        "event_id long, ts timestamp, user_id long")
    for i, part in enumerate((part_a, part_b, adv1, adv2)):
        part.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)

    stream = spark.readStream.schema(events.schema) \
        .option("maxFilesPerTrigger", "1") \
        .option("latestFirst", "false") \
        .parquet(src + "/*")
    # watermark delay must cover the cross-batch disorder (here: the
    # whole timeline arrives as two interleaved halves), else the
    # operator CORRECTLY drops the too-late events and equivalence with
    # an order-blind batch run no longer holds
    out = ev_ops.streaming_sessionize_event_time(stream,
                                                 watermark="60 days")
    q = (out.writeStream.format("memory").queryName("sess_et")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r.user_id, r.session_start, r.n_events)
           for r in spark.sql("select * from sess_et").collect()
           if r.user_id != -12345}
    assert got == batch


def test_streaming_sessionize_event_time_drops_beyond_watermark(spark, tmp_path):
    """An event older than the watermark when its batch arrives is
    dropped upstream by Spark (the documented trade): the session set
    equals batch sessionize over the on-time events only."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, base, 7), (2, base + datetime.timedelta(minutes=5), 7)]
    late = [(3, base - datetime.timedelta(days=2), 7)]   # beyond watermark
    adv = [(-1, base + datetime.timedelta(days=30), -9),
           (-2, base + datetime.timedelta(days=60), -9)]
    schema = "event_id long, ts timestamp, user_id long"
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    for i, batch in enumerate((rows, late, adv[:1], adv[1:])):
        spark.createDataFrame(batch, schema).coalesce(1) \
            .write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false") \
        .parquet(src + "/*")
    out = ev_ops.streaming_sessionize_event_time(stream, watermark="4 hours")
    q = (out.writeStream.format("memory").queryName("late_sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.n_events)
           for r in spark.sql("select * from late_sess").collect()
           if r.user_id != -9}
    assert got == {(7, 2)}   # the 2-day-late event never splits a session


def test_asof_join_backward_semantics(spark):
    """asof_join == pandas merge_asof(direction='backward') on a case
    matrix: equal timestamps (inclusive), unmatched left rows (null
    payload), null right columns (payload must stay row-atomic, not
    mix columns across right rows), and a tolerance bound."""
    import pandas as pd

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 205), (3, "u2", 50), (4, "u3", 10)],
        "id long, k string, ts long")
    # u1@205 ties a right row exactly; u1@200 has null aux (the struct
    # payload must carry BOTH cols from ts=200, not aux from ts=100)
    right = spark.createDataFrame(
        [("u1", 100, "a", 1.0), ("u1", 200, "b", None),
         ("u1", 205, "c", 3.0), ("u2", 60, "d", 4.0)],
        "k string, ts long, tag string, aux double")

    got = {tuple(r) for r in ev_ops.asof_join(
        left, right, on="k", ts_col="ts").collect()}
    assert got == {
        (1, "u1", 100, 100, "a", 1.0),
        (2, "u1", 205, 205, "c", 3.0),   # inclusive <=
        (3, "u2", 50, None, None, None),  # right row is later -> no match
        (4, "u3", 10, None, None, None),  # key absent on right
    }

    # independent check vs pandas merge_asof on a bigger random-ish grid
    lp = pd.DataFrame({"k": ["u%d" % (i % 5) for i in range(40)],
                       "ts": [(i * 37) % 101 for i in range(40)],
                       "id": range(40)}).sort_values("ts")
    rp = pd.DataFrame({"k": ["u%d" % (i % 4) for i in range(30)],
                       "ts": [(i * 53) % 97 for i in range(30)],
                       "v": [float(i) for i in range(30)]}) \
        .drop_duplicates(["k", "ts"]).sort_values("ts")
    exp = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    want = {(int(r.id), None if pd.isna(r.v) else float(r.v))
            for r in exp.itertuples()}
    sj = ev_ops.asof_join(spark.createDataFrame(lp[["id", "k", "ts"]]),
                          spark.createDataFrame(rp), on="k", ts_col="ts")
    assert {(r.id, r.asof_v) for r in sj.collect()} == want


def test_asof_join_tolerance(spark):
    """tolerance_seconds nullifies matches older than the bound but
    keeps the left row (left-join semantics, pandas-compatible)."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    left = spark.createDataFrame([(1, "u", at(100)), (2, "u", at(500))],
                                 "id long, k string, ts timestamp")
    right = spark.createDataFrame([("u", at(90), "x")],
                                  "k string, ts timestamp, tag string")
    rows = {(r.id, r.asof_tag) for r in ev_ops.asof_join(
        left, right, on="k", ts_col="ts",
        tolerance_seconds=60).collect()}
    assert rows == {(1, "x"), (2, None)}   # 410s-old match nullified


def test_asof_join_forward_semantics(spark):
    """direction='forward' == pandas merge_asof(direction='forward'):
    earliest right row with rts >= lts, inclusive at equality,
    null when no later right row exists; tolerance bounds the
    look-AHEAD."""
    import pandas as pd

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 205), (3, "u2", 70), (4, "u3", 10)],
        "id long, k string, ts long")
    right = spark.createDataFrame(
        [("u1", 100, "a"), ("u1", 200, "b"), ("u1", 205, "c"),
         ("u2", 60, "d")],
        "k string, ts long, tag string")
    got = {tuple(r) for r in ev_ops.asof_join(
        left, right, on="k", ts_col="ts",
        direction="forward").collect()}
    assert got == {
        (1, "u1", 100, 100, "a"),          # inclusive >=
        (2, "u1", 205, 205, "c"),
        (3, "u2", 70, None, None),         # only EARLIER right rows
        (4, "u3", 10, None, None),
    }

    # independent check vs pandas merge_asof forward on a random-ish grid
    lp = pd.DataFrame({"k": ["u%d" % (i % 5) for i in range(40)],
                       "ts": [(i * 37) % 101 for i in range(40)],
                       "id": range(40)}).sort_values("ts")
    rp = pd.DataFrame({"k": ["u%d" % (i % 4) for i in range(30)],
                       "ts": [(i * 53) % 97 for i in range(30)],
                       "v": [float(i) for i in range(30)]}) \
        .drop_duplicates(["k", "ts"]).sort_values("ts")
    exp = pd.merge_asof(lp, rp, on="ts", by="k", direction="forward")
    want = {(int(r.id), None if pd.isna(r.v) else float(r.v))
            for r in exp.itertuples()}
    sj = ev_ops.asof_join(spark.createDataFrame(lp[["id", "k", "ts"]]),
                          spark.createDataFrame(rp), on="k", ts_col="ts",
                          direction="forward")
    assert {(r.id, r.asof_v) for r in sj.collect()} == want

    # forward tolerance: match at +100 dropped under a 50-tick bound
    far = spark.createDataFrame([("u1", 200, "late")],
                                "k string, ts long, tag string")
    near_left = spark.createDataFrame([(1, "u1", 100)],
                                      "id long, k string, ts long")
    rows = {(r.id, r.asof_tag) for r in ev_ops.asof_join(
        near_left, far, on="k", ts_col="ts", direction="forward",
        tolerance_seconds=50e-6).collect()}
    assert rows == {(1, None)}


def test_streaming_snapshot_cdc_matches_batch_diff(spark, tmp_path):
    """Streaming CDC == snapshot_diff's added/changed stream when crawl
    generations arrive as triggers: generation 1 emits 'added' for every
    id; generation 2 emits exactly snapshot_diff(s1, s2)'s added+changed
    rows (unchanged re-observations are suppressed by state carried
    across the trigger boundary)."""
    from eventrelationextractor_spark.ops import dedup as dd

    s1 = [(1, 1, "h1"), (2, 1, "h2"), (3, 1, "h3")]
    s2 = [(1, 2, "h1"),            # unchanged -> nothing
          (2, 2, "h2x"),           # changed
          (4, 2, "h4")]            # added
    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    for i, part in enumerate((s1, s2)):
        spark.createDataFrame(part, "doc_id long, seq long, fingerprint string") \
            .coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream \
        .schema("doc_id long, seq long, fingerprint string") \
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (dd.streaming_snapshot_cdc(stream)
         .writeStream.format("memory").queryName("cdc_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.seq, r.status)
           for r in spark.sql("select * from cdc_out").collect()}

    # batch twin: generation 1 all-added + snapshot_diff added/changed
    old = spark.createDataFrame([(i, f) for i, _, f in s1],
                                "doc_id long, fingerprint string")
    new = spark.createDataFrame([(i, f) for i, _, f in s2],
                                "doc_id long, fingerprint string")
    want = {(i, 1, "added") for i, _, _ in s1}
    want |= {(r.doc_id, 2, r.status)
             for r in dd.snapshot_diff(old, new).collect()
             if r.status in ("added", "changed")}
    assert got == want


def test_streaming_snapshot_cdc_in_trigger_ordering(spark, tmp_path):
    """Multiple generations of one id inside a SINGLE trigger process in
    seq order: added at seq 1, changed at seq 3, the interleaved
    unchanged observation suppressed."""
    from eventrelationextractor_spark.ops import dedup as dd
    rows = [(7, 3, "hB"), (7, 1, "hA"), (7, 2, "hA")]   # arrival disorder
    src = str(tmp_path / "cdc_one")
    os.makedirs(src)
    spark.createDataFrame(rows, "doc_id long, seq long, fingerprint string") \
        .coalesce(1).write.parquet(os.path.join(src, "b0"))
    stream = spark.readStream \
        .schema("doc_id long, seq long, fingerprint string") \
        .parquet(src + "/*")
    q = (dd.streaming_snapshot_cdc(stream)
         .writeStream.format("memory").queryName("cdc_one_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.seq, r.status)
           for r in spark.sql("select * from cdc_one_out").collect()}
    assert got == {(7, 1, "added"), (7, 3, "changed")}


def test_rowwise_band_keys_match_aggregate_signatures(spark):
    """Within-row array_min signatures == the explode+groupBy-min batch
    signatures, band for band."""
    from eventrelationextractor_spark.ops import dedup as dd
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the dog"),
         (2, "a wholly different page about spark plans"),
         (3, "too few")],                 # < 3 words after norm? 2 words
        "doc_id long, text string")
    agg = dd.minhash_signatures(dd.shingles(docs))
    want = set()
    for r in agg.collect():
        for b in range(4):
            want.add((r.doc_id, b, r[f"band{b}"]))
    got = {(r.doc_id, r.band, r.bucket)
           for r in dd.rowwise_band_keys(docs).collect()}
    assert got == want


def test_streaming_lsh_neardup_matches_batch(spark, tmp_path):
    """applyInPandasWithState LSH near-dup hits == batch lsh_band_hits
    under append-ordered arrival: originals in trigger 1 (with one
    intra-batch near-copy), more copies in trigger 2 - bucket ownership
    must carry across triggers."""
    from eventrelationextractor_spark.ops import dedup as dd

    t1 = [(0, "alpha bravo charlie delta echo foxtrot golf hotel"),
          (1, "one two three four five six seven eight nine"),
          (2, "alpha bravo charlie delta echo foxtrot golf hotel extra")]
    t2 = [(10, "alpha bravo charlie delta echo foxtrot golf hotel"),
          (11, "one two three four five six seven eight nine ten"),
          (12, "completely fresh content with no overlap at all")]
    both = spark.createDataFrame(t1 + t2, "doc_id long, text string")
    want = {(r.doc_id, r.band, r.first_doc)
            for r in dd.lsh_band_hits(both).collect()}
    assert want, "test corpus must produce at least one hit"

    src = str(tmp_path / "lsh_src")
    os.makedirs(src)
    for i, part in enumerate((t1, t2)):
        spark.createDataFrame(part, "doc_id long, text string") \
            .coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream.schema("doc_id long, text string") \
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (dd.streaming_lsh_neardup(stream)
         .writeStream.format("memory").queryName("lsh_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.band, r.first_doc)
           for r in spark.sql("select * from lsh_out").collect()}
    assert got == want
    # doc 10 (re-delivered copy of 0) must hit in all 4 bands
    assert {b for d, b, f in got if d == 10} == {0, 1, 2, 3}


def test_streaming_windowed_hll_matches_batch(spark, tmp_path):
    """Streaming HLL registers per event-time window == batch registers
    computed with the same geometry, and the stateless estimator over
    the streamed registers == batch hll_estimate per window."""
    from eventrelationextractor_spark.ops import sketches as sk

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "hll_src")
    events.write.parquet(src)

    win = F.window(F.col("ts"), "10 minutes")
    batch_regs = {(r.window_start, r.bucket): r.rho for r in
                  sk.hll_registers(
                      events.withColumn("window_start", win.start),
                      "user_id", ["window_start"]).collect()}
    batch_est = {r.window_start: (r.est_distinct, r.register_checksum)
                 for r in sk.hll_estimate(
                     events.withColumn("window_start", win.start),
                     "user_id", ["window_start"]).collect()}

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = sk.streaming_windowed_hll(stream, "ts", "user_id",
                                    window="10 minutes")
    q = (out.writeStream.format("memory").queryName("hll_regs")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    sunk = spark.sql("select * from hll_regs")
    got_regs = {(r.window_start, r.bucket): r.rho for r in sunk.collect()}
    assert got_regs == batch_regs
    got_est = {r.window_start: (r.est_distinct, r.register_checksum)
               for r in sk.hll_estimate_from_registers(
                   sunk, ["window_start"]).collect()}
    assert got_est == batch_est


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """applyInPandasWithState funnel == batch funnel: the user's LATEST
    emitted row (funnel progression is monotone) must equal the batch
    stage and step timestamps; stage-0 users emit nothing. Two ordered
    file-source batches exercise state carry-over mid-funnel."""
    import os
    import time

    from pyspark.sql import functions as F

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("ts", "user_id", "event_type")
    batch = {r.user_id: (r.stage, r.t1, r.t2, r.t3)
             for r in ev_ops.funnel(
                 events.withColumn("ts", F.col("ts").cast("timestamp_ltz")))
             .collect()}

    src = str(tmp_path / "funnel_src")
    os.makedirs(src)
    lohi = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    median = lohi.lo + (lohi.hi - lohi.lo) / 2
    for i, part in enumerate((events.filter(F.col("ts") <= F.lit(median)),
                              events.filter(F.col("ts") > F.lit(median)))):
        part.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)

    stream = spark.readStream.schema(events.schema) \
        .option("maxFilesPerTrigger", "1") \
        .option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (ev_ops.streaming_funnel(stream)
         .writeStream.format("memory").queryName("funnel_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {}
    for r in spark.sql("select * from funnel_out").collect():
        if r.user_id not in got or r.stage > got[r.user_id][0]:
            got[r.user_id] = (r.stage, r.t1, r.t2, r.t3)
    progressed = {u: v for u, v in batch.items() if v[0] >= 1}
    assert len(progressed) > 0
    assert got == progressed


def test_streaming_frontier_schedule_matches_batch(spark, tmp_path):
    """applyInPandasWithState politeness gate == batch frontier_schedule
    when arrival respects per-host url order: two url-ordered file
    batches, slot counters carried across the trigger boundary."""
    import os
    import time

    from pyspark.sql import functions as F

    from eventrelationextractor_spark.ops import urls as url_ops

    rows = [(f"https://h{i % 5}.example/p{j:03d}",)
            for j in range(40) for i in range(3)]
    df = spark.createDataFrame(rows, "url string")
    batch = {(r.url, r.host, r.slot, r.fetch_offset_sec)
             for r in url_ops.frontier_schedule(df, delay_sec=7).collect()}

    src = str(tmp_path / "front_src")
    os.makedirs(src)
    # per-host url order preserved across triggers: global url sort split
    first = df.filter(F.col("url") < "https://h1.example/p020")
    rest = df.subtract(first)
    for i, part in enumerate((first, rest)):
        part.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream.schema(df.schema) \
        .option("maxFilesPerTrigger", "1") \
        .option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (url_ops.streaming_frontier_schedule(stream, delay_sec=7)
         .writeStream.format("memory").queryName("front_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.url, r.host, r.slot, r.fetch_offset_sec)
           for r in spark.sql("select * from front_out").collect()}
    assert got == batch and len(got) == 120


def test_streaming_window_anomalies_prequential(spark, tmp_path):
    """Online Welford z-scores: each window judged by the PAST only;
    state carries across triggers; a burst after a stable history is
    flagged, and the same burst value arriving before history is not."""
    import math
    import os
    import time
    from datetime import datetime

    rows = [("click", datetime(2024, 1, 1, h), 10 + (h % 2))
            for h in range(12)] + [("click", datetime(2024, 1, 1, 12), 60)]
    df = spark.createDataFrame(rows,
                               "event_type string, window_start timestamp,"
                               " n long")
    src = str(tmp_path / "anom_src")
    os.makedirs(src)
    from pyspark.sql import functions as F
    early = df.filter(F.col("window_start")
                      < F.lit(datetime(2024, 1, 1, 6)))
    late = df.subtract(early)
    for i, part in enumerate((early, late)):
        part.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream.schema(df.schema) \
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (ev_ops.streaming_window_anomalies(stream)
         .writeStream.format("memory").queryName("anom_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r.window_start: r for r in
           spark.sql("select * from anom_out").collect()}
    assert len(got) == 13
    burst = got[datetime(2024, 1, 1, 12)]
    assert burst.anomaly and burst.z > 10
    # python mirror of the prequential Welford pass
    cnt, mean, m2 = 0, 0.0, 0.0
    for _, _, x in rows:
        if cnt >= 2 and m2 > 0:
            z = (x - mean) / math.sqrt(m2 / cnt)
        else:
            z = 0.0
        ws = [w for t, w, n in rows][cnt]
        assert got[ws].z == round(z, 6)
        cnt += 1
        d = x - mean
        mean += d / cnt
        m2 += d * (x - mean)
    # early windows (no history) are never flagged
    assert not got[datetime(2024, 1, 1, 0)].anomaly


def test_streaming_interval_enrich_matches_batch(spark, tmp_path):
    """Watermarked stream-stream inner join == the identical join
    expression run in batch (withWatermark is a no-op in batch), when
    the watermark horizon covers the data span so no state is evicted:
    view->click attribution within 30 minutes over the sf0.001 events."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "ts", "user_id", "event_type")
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    batch = {(r.user_id, r.l_id, r.r_id)
             for r in ev_ops.interval_enrich(
                 views, clicks, minutes=30, watermark="60 days").collect()}
    assert batch   # the corpus must actually exercise the join

    lsrc, rsrc = str(tmp_path / "ie_l"), str(tmp_path / "ie_r")
    views.write.parquet(lsrc)
    clicks.write.parquet(rsrc)
    out = ev_ops.interval_enrich(
        spark.readStream.schema(views.schema).parquet(lsrc),
        spark.readStream.schema(clicks.schema).parquet(rsrc),
        minutes=30, watermark="60 days")
    q = (out.writeStream.format("memory").queryName("ie_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.l_id, r.r_id)
           for r in spark.sql("select * from ie_join").collect()}
    assert got == batch


def test_streaming_interval_enrich_evicts_beyond_watermark(spark, tmp_path):
    """The time-range predicate lets Spark evict join state: once both
    watermarks pass l_ts + bound, a left row is gone and a late right
    partner cannot match (the documented bounded-state trade). Matches
    inside the horizon in the same run DO emit."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    far = base + datetime.timedelta(days=10)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    lsrc, rsrc = str(tmp_path / "ev_l"), str(tmp_path / "ev_r")
    os.makedirs(lsrc)
    os.makedirs(rsrc)
    lbatches = [
        [(1, base, 7, "view")],                       # b0: the left row
        [(-1, far, -9, "view")],                      # b1: advance wm
    ]
    rbatches = [
        [(100, base + datetime.timedelta(minutes=1), 8, "click")],
        [(-100, far, -9, "click")],                   # b1: advance wm
        # b2: spacer trigger - state eviction runs at END of a
        # micro-batch, so one more trigger must complete before the
        # advanced watermark has actually dropped left id 1's state
        [(-101, far + datetime.timedelta(minutes=1), -8, "click")],
        # b3: in-bound partner for left id 1, but its state is gone
        [(101, base + datetime.timedelta(minutes=5), 7, "click")],
    ]
    for src, batches in ((lsrc, lbatches), (rsrc, rbatches)):
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.parquet(os.path.join(src, f"b{i}"))
            time.sleep(1.1)
    out = ev_ops.interval_enrich(
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(lsrc + "/*"),
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(rsrc + "/*"),
        minutes=30, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("ie_evict")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.l_id, r.r_id)
           for r in spark.sql("select * from ie_evict").collect()}
    assert (7, 1, 101) not in got          # evicted: partner came too late
    assert (-9, -1, -100) in got           # same-horizon match emitted


def _kg_inputs(spark, linked_rows, triple_rows):
    linked = spark.createDataFrame(
        linked_rows, "url string, mention_id string, canonical_id string")
    trips = spark.createDataFrame(
        triple_rows, "url string, subj string, pred string, obj string")
    return linked, trips


def test_canonicalize_equals_connected_components(spark):
    """The doc-local/alias-class path labels every vertex exactly like
    CC over the canonical edges: urls sorting before 'alias:' (so an
    alias is not always its component's minimum), two aliases merged
    through a doc-local chain of 6, IDENTITY edges, unlinked mentions,
    an ignored non-identity predicate, and inputs shuffled so that one
    url's rows start in different partitions."""
    linked, trips = _kg_inputs(
        spark,
        [("AAA/chain", "e0", "X"), ("AAA/chain", "e6", "Y"),
         ("AAA/chain", "e9", None),
         ("0doc", "e2", "Y"), ("0doc", "e3", None),
         ("https://c", "e1", "X"), ("https://c", "e2", "Z"),
         ("https://d", "e1", "Z"), ("https://d", "e4", None),
         ("https://e", "e1", "W")],
        [("AAA/chain", f"e{i}", "SIMULTANEOUS", f"e{i + 1}")
         for i in range(6)]
        + [("AAA/chain", "e9", "BEFORE", "e0"),
           ("0doc", "e3", "IDENTITY", "e5"),
           ("https://c", "e2", "SIMULTANEOUS", "e1"),
           ("https://d", "e4", "SIMULTANEOUS", "e7"),
           ("https://e", "e2", "IDENTITY", "e1")])
    linked, trips = linked.repartition(3), trips.repartition(4)
    spread = trips.filter(F.col("url") == "AAA/chain") \
        .select(F.spark_partition_id()).distinct().count()
    assert spread > 1
    got = {r.vertex: r.component
           for r in kg.canonicalize(linked, trips).collect()}
    want = {r.vertex: r.component for r in kg.connected_components(
        kg.canonical_edges(linked, trips)).collect()}
    assert got == want
    # X, Y and Z merge through the chain and https://c; 0doc is smallest
    assert {got[v] for v in ("alias:X", "alias:Y", "alias:Z", "AAA/chain#e3",
                             "https://d#e1")} == {"0doc#e2"}
    assert got["0doc#e5"] == "0doc#e3"
    assert got["https://d#e7"] == "https://d#e4"
    assert got["alias:W"] == "alias:W" and got["https://e#e2"] == "alias:W"
    assert "AAA/chain#e9" not in got


def test_canonicalize_job_count_independent_of_chain_length(spark):
    """canonicalize runs a fixed plan: a within-document chain of 40
    launches as many Spark jobs as one of 2, and is labelled exactly.
    The chain joins the aliases X (at e0) and Y (at its far end)."""
    sc = spark.sparkContext
    jobs = {}
    try:
        for length in (2, 40):
            linked, trips = _kg_inputs(
                spark, [("AAA/chain", "e0", "X"),
                        ("AAA/chain", f"e{length}", "Y"),
                        ("https://b", "e1", "Y")],
                [("AAA/chain", f"e{i}", "SIMULTANEOUS", f"e{i + 1}")
                 for i in range(length)])
            group = f"canonicalize-chain-{length}"
            sc.setJobGroup(group, group)
            labels = kg.canonicalize(linked, trips)
            jobs[length] = len(sc.statusTracker().getJobIdsForGroup(group))
            got = {r.vertex: r.component for r in labels.collect()}
            assert len(got) == length + 4
            assert set(got.values()) == {"AAA/chain#e0"}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[2] == jobs[40] > 0


def test_cc_incremental_equals_full_recompute(spark):
    """cc_incremental(CC(base), delta) must be bit-identical to
    CC(base UNION delta): delta merges two old components (the one
    with the SMALLER label arriving second, so the rewrite direction
    is exercised), attaches a brand-new vertex to an old component,
    and creates an isolated brand-new pair."""
    base = spark.createDataFrame(
        [(10, 11), (11, 12),          # component 10
         (1, 2),                      # component 1
         (20, 21)],                   # component 20
        "src long, dst long")
    delta = spark.createDataFrame(
        [(12, 1),                     # merges comp 10 into comp 1
         (21, 30),                    # new vertex 30 joins comp 20
         (40, 41)],                   # brand-new component
        "src long, dst long")
    labels = kg.connected_components(base)
    inc = {(r.vertex, r.component)
           for r in kg.cc_incremental(labels, delta).collect()}
    full = {(r.vertex, r.component)
            for r in kg.connected_components(
                base.unionByName(delta)).collect()}
    assert inc == full
    got = dict(inc)
    assert got[12] == 1 and got[10] == 1       # merged through delta
    assert got[30] == 20                       # new vertex, old comp
    assert got[41] == 40 and got[40] == 40     # delta-only component
    # untouched component keeps its label
    assert got[20] == 20


def test_cc_incremental_delta_only_cost(spark):
    """The contracted subproblem the refresh solves is delta-sized:
    with a 1000-vertex base and a 2-edge delta, the inner CC runs on
    <= 4 contracted vertices (stats['rounds'] converges immediately)."""
    n = 1000
    base = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = kg.connected_components(base)
    delta = spark.createDataFrame(
        [(5000, 5001), (0, 5000)], "src long, dst long")
    stats = {}
    inc = kg.cc_incremental(labels, delta, stats=stats)
    got = {r.vertex: r.component for r in inc.collect()}
    assert got[5001] == 0 and got[5000] == 0 and got[999] == 0
    assert stats["rounds"] <= 3   # 3-vertex contracted graph


def _arrow_df(spark, rows, schema):
    """Test input as Arrow data (a LocalTableScan), so that any Python RDD
    in a plan or stage comes from the code under test."""
    import pyarrow as pa

    names = [f.split()[0] for f in schema.split(",")]
    return spark.createDataFrame(
        pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)}),
        schema)


def _stage_graphs(sc, group):
    """The RDD operation graph (dot text) of every stage the job group
    ran."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    return [dot(jsc.statusStore().operationGraphForStage(s))
            for j in sc.statusTracker().getJobIdsForGroup(group)
            for s in sc.statusTracker().getJobInfo(j).stageIds]


def test_canonicalize_without_alias_links_runs_no_python_rdd(spark):
    """With no alias links the class-label frame is empty: it must be
    Arrow data, not a Python RDD stage (an empty pandas frame is one),
    and the labels still equal connected_components."""
    sc = spark.sparkContext
    linked = _arrow_df(spark, [("https://a", "e1", None),
                               ("https://b", "e2", None)],
                       "url string, mention_id string, canonical_id string")
    trips = _arrow_df(spark, [("https://a", "e1", "SIMULTANEOUS", "e2"),
                              ("https://a", "e2", "IDENTITY", "e3"),
                              ("https://b", "e2", "SIMULTANEOUS", "e0")],
                      "url string, subj string, pred string, obj string")
    group = "canonicalize-no-alias"
    try:
        sc.setJobGroup(group, group)
        labels = kg.canonicalize(linked, trips)
        got = {r.vertex: r.component for r in labels.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    graphs = _stage_graphs(sc, group)
    assert graphs and not [g for g in graphs if "PythonRDD" in g]
    want = {r.vertex: r.component for r in kg.connected_components(
        kg.canonical_edges(linked, trips)).collect()}
    assert got == want
    assert got["https://a#e3"] == "https://a#e1"
    assert got["https://b#e2"] == "https://b#e0"


def test_cc_incremental_job_count_independent_of_delta_size(spark):
    """The refresh runs a fixed plan: a delta chain of 40 edges launches
    as many Spark jobs as one of 2, and is labelled exactly. The chain
    runs through new vertices from component c1 to component b1."""
    sc = spark.sparkContext
    base = spark.createDataFrame([("b1", "b2"), ("c1", "c2")],
                                 "src string, dst string")
    labels = kg.connected_components(base)
    jobs = {}
    try:
        for length in (2, 40):
            path = ["c2"] + [f"n{i:02d}" for i in range(length - 1)] + ["b2"]
            delta = spark.createDataFrame(list(zip(path, path[1:])),
                                          "src string, dst string")
            group = f"cc-incremental-chain-{length}"
            sc.setJobGroup(group, group)
            got = {r.vertex: r.component
                   for r in kg.cc_incremental(labels, delta).collect()}
            jobs[length] = len(sc.statusTracker().getJobIdsForGroup(group))
            assert len(got) == length + 3
            assert set(got.values()) == {"b1"}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[2] == jobs[40] > 0


def test_cc_incremental_plans_no_python_stage(spark):
    """The refreshed labels plan as Arrow scans and JVM operators only:
    for a delta that merges two components, for one that merges none
    (an empty old -> new map, new vertices only) and for an empty delta,
    which returns the labels unchanged."""
    labels = _arrow_df(spark, [("a", "a"), ("b", "a"), ("c", "c")],
                       "vertex string, component string")
    old = {"a": "a", "b": "a", "c": "c"}
    for edges, want in (
            ([("c", "b"), ("d", "c")], {"a": "a", "b": "a", "c": "a",
                                         "d": "a"}),
            ([("b", "a"), ("y", "x")], {**old, "x": "x", "y": "x"}),
            ([], old)):
        delta = _arrow_df(spark, edges, "src string, dst string")
        out = kg.cc_incremental(labels, delta)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "Python" not in plan, plan
        rows = out.collect()
        assert len(rows) == len(want)
        assert {r.vertex: r.component for r in rows} == want


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """The CUSUM closed form is incremental (two integers of state), so
    the streaming detector must agree with the batch windows EXACTLY -
    including across a trigger boundary splitting one key's series."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(minutes=i), n, 4)
            for i, n in enumerate([3, 3, 9, 1, 0, 8, 8, 2])] + \
           [("b", t0 + dt.timedelta(minutes=i), n, 2)
            for i, n in enumerate([1, 9, 9, 0])]
    schema = "event_type string, window_start timestamp, n long, target long"
    batch_df = spark.createDataFrame(rows, schema)
    want = {(r.event_type, r.window_start): (r.cusum, r.alarm)
            for r in ev_ops.cusum_alarms(
                batch_df, "event_type", "window_start", "n", "target",
                slack=1, threshold=6).collect()}

    src = str(tmp_path / "cusum_src")
    os.makedirs(src)
    first = [r for r in rows if r[1] < t0 + dt.timedelta(minutes=3)]
    second = [r for r in rows if r[1] >= t0 + dt.timedelta(minutes=3)]
    for i, part in enumerate((first, second)):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (ev_ops.streaming_cusum_alarms(stream, slack=1, threshold=6)
         .writeStream.format("memory").queryName("cusum_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.event_type, r.window_start): (r.cusum, r.alarm)
           for r in spark.sql("select * from cusum_out").collect()}
    assert got == want
    assert any(a for _, a in got.values())


def test_streaming_holt_matches_batch(spark, tmp_path):
    """Holt's integer recursion is order-deterministic, so the
    streaming twin must agree with holt_smooth EXACTLY - including
    across a trigger boundary splitting one key's series. A 1-point
    key ('c', arriving last with no second point) stays pending and
    emits nothing, by the documented init trade."""
    rows = [("a", i, n) for i, n in
            enumerate([20, 18, 15, 9, 30, 2, 7])] + \
           [("b", i, n) for i, n in enumerate([1, 9, 9, 0])] + \
           [("c", 0, 5)]
    schema = "key string, o long, x long"
    batch_df = spark.createDataFrame(rows, schema)
    want = {(r.key, r.o): (r.x, r.level_u, r.trend_u, r.forecast_u)
            for r in ev_ops.holt_smooth(batch_df, "key", "o",
                                        "x").collect()}

    src = str(tmp_path / "holt_src")
    os.makedirs(src)
    first = [r for r in rows if r[1] < 3]
    second = [r for r in rows if r[1] >= 3]
    for i, part in enumerate((first, second)):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false") \
        .parquet(src + "/*")
    q = (ev_ops.streaming_holt(stream)
         .writeStream.format("memory").queryName("holt_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.key, r.o): (r.x, r.level_u, r.trend_u, r.forecast_u)
           for r in spark.sql("select * from holt_out").collect()}
    # 'c' has one point: pending in streaming state, present in batch
    assert ("c", 0) in want and ("c", 0) not in got
    del want[("c", 0)]
    assert got == want
