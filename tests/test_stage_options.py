"""extract_triples options: giant-page skew guard, mode validation and J4
temporal->causal tlink feeding."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from eventrelationextractor_spark import fixtures as fx
from eventrelationextractor_spark.spark import stages

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")


def _giant_page(n_timexes: int) -> dict:
    from datetime import date, timedelta
    lines = ["DCT_2001-01-01\tO\tO\tO\tO\tO\ttmx0\tB-DATE\t2001-01-01"
             "\tO\tO\tO\tO\tO\tO\tO"]
    for i in range(n_timexes):
        d = (date(2000, 1, 1) + timedelta(days=i)).isoformat()
        lines.append("\t".join((d, f"t{i+1}", "1", "NP0", d, "O",
                                f"tmx{i+1}", "B-DATE", d, "O", "O", "O",
                                "B-NP", "O", "O", "O")))
    lines.append("\t".join((".", f"t{n_timexes+1}", "1", "PUN", ".") + ("O",) * 11))
    text = "\n".join(lines)
    from datetime import datetime, timezone
    return {"url": "https://example.org/giant", "warc_ts":
            datetime(2024, 1, 1, tzinfo=timezone.utc),
            "html": text.encode(), "text": text, "lang": "en"}


def test_giant_page_truncation(spark):
    pages = spark.createDataFrame([_giant_page(60)], PAGES_SCHEMA)
    capped = stages.extract_triples(pages, "temporal", max_timexes_per_doc=10)
    rows = capped.collect()
    meta = [r for r in rows if r.stage == "tt-truncated"]
    assert len(meta) == 1  # lineage marker present
    tt = [r for r in rows if r.pair_type == "tt"]
    assert len(tt) <= 10 * 9  # bounded pair space
    full = stages.extract_triples(pages, "temporal",
                                  max_timexes_per_doc=1000).collect()
    assert len([r for r in full if r.pair_type == "tt"]) > len(tt)
    assert not [r for r in full if r.stage == "tt-truncated"]
    # the KG path accounts for the truncated page the same way
    for cap, n_meta in ((10, 1), (1000, 0)):
        kg = stages.extract_kg_rows(pages, "temporal",
                                    max_timexes_per_doc=cap).collect()
        meta = [r for r in kg if r.pred == "TRUNCATED"]
        assert len(meta) == n_meta
        assert all((r.row_kind, r.subj, r.obj) == ("triple", "_doc", "_doc")
                   for r in meta)
    # and so does the salted path, when the capped page takes its giant
    # branch: the union is exactly extract_triples' rows, marker included
    salted = stages.extract_triples_salted(pages, "temporal", salt=4,
                                           giant_page_bytes=0,
                                           max_timexes_per_doc=10)
    assert (Counter(tuple(r) for r in salted.collect())
            == Counter(tuple(r) for r in rows))


def test_unknown_mode_fails_before_any_job(spark, tmp_path):
    """A misspelt mode is an error while the plan is built: no job runs,
    and the resumable writer leaves no bucket and no manifest behind."""
    from eventrelationextractor_spark.spark import lineage
    pages = spark.createDataFrame(fx.fixture_pages(["wsj_1014"]),
                                  PAGES_SCHEMA)
    out = tmp_path / "out"
    sc = spark.sparkContext
    sc.setJobGroup("unknown-mode", "extraction with an unknown mode")
    try:
        for build in (
                lambda: stages.extract_triples(pages, mode="temporl"),
                lambda: stages.extract_triples_salted(pages, mode="temporl"),
                lambda: stages.extract_kg_rows(pages, mode="temporl"),
                lambda: lineage.write_triples_resumable(pages, str(out),
                                                        mode="temporl")):
            with pytest.raises(ValueError, match="temporl"):
                build()
        assert sc.statusTracker().getJobIdsForGroup("unknown-mode") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not out.exists()


def test_causal_tlinks_from_temporal_changes_features(spark):
    """With J4 feeding, the causal classifier's tlink feature comes from
    this run's temporal predictions; outputs stay well-formed and the
    causal rule sieve (tlink-independent) is unchanged."""
    pages = spark.createDataFrame(
        fx.fixture_pages(["wsj_1014"]), PAGES_SCHEMA)
    base = stages.extract_triples(pages, "both").filter(
        F.col("pair_type") == "causal").collect()
    linked = stages.extract_triples(
        pages, "both", causal_tlinks_from_temporal=True).filter(
        F.col("pair_type") == "causal").collect()
    rules_b = {(r.subj, r.obj) for r in base if r.stage == "causal-rule"}
    rules_l = {(r.subj, r.obj) for r in linked if r.stage == "causal-rule"}
    assert rules_b == rules_l
    assert all(r.pred in ("CLINK", "CLINK-R") for r in linked)


def test_training_feature_export_matches_reference_printer(spark):
    """libsvm rows must be byte-identical to the reference's
    printLibSVMVectors applied to its own golden raw vectors."""
    import os
    here = os.path.dirname(os.path.abspath(__file__))
    pages = spark.createDataFrame(fx.fixture_pages(["wsj_1014"]), PAGES_SCHEMA)
    got = {(r.src, r.tgt): r.libsvm
           for r in stages.export_training_features(pages)
           .filter(F.col("group") == "ee").collect()}

    def java_libsvm(raws):
        out = [raws[-1]]
        for i, r in enumerate(raws[:-1]):
            if float(r) > 0:
                out.append(f"{i + 1}:{float(r)!r}")
        return out[0] + " " + " ".join(out[1:]) if len(out) > 1 else out[0]

    n = 0
    with open(os.path.join(here, "golden", "wsj_1014_ee_vectors.tsv")) as f:
        for line in f:
            p = line.rstrip("\n").split("\t")
            assert got[(p[0], p[1])] == java_libsvm(p[4].split(",")), (p[0], p[1])
            n += 1
    assert n == len(got) == 205


def test_predict_probabilities_shape():
    import numpy as np

    from eventrelationextractor_spark.core.liblinear import shipped_model
    m = shipped_model("ee")
    X = np.zeros((3, 269))
    X[:, 0] = 1.0
    # force=True: the shipped models are SVC, which liblinear's
    # isProbabilityModel gate (now reproduced) rejects by default
    P = m.predict_probabilities(X, force=True)
    assert P.shape == (3, m.nr_class)
    assert np.allclose(P.sum(axis=1), 1.0)
    assert int(np.argmax(P[0])) == int(np.argmax(m.predict_values(X)[0]))
