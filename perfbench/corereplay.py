"""Single-threaded, in-driver replay of the per-document core on a fixed
document sample: the ``core.*`` per-layer rows of the traced run and the
no-Spark baseline that ``stages.udf_overhead_frac`` is measured against.

The replay calls the same public functions the extraction UDF calls, in the
same order. Time inside the feature vectorizers and the liblinear predictor
is measured by wrapping those functions for the duration of the replay;
the wrappers are removed before it returns."""

from __future__ import annotations

import contextlib
import time

RULE_STAGES = ("tt-rule", "dct-rule", "et-rule", "ee-rule", "ee-anchor",
               "causal-rule")


@contextlib.contextmanager
def _timed_calls(acc: dict):
    """Time every call into core.features' vectorizers (acc['features'])
    and LinearModel.predict_strings (acc['liblinear'], rows in
    acc['clf_rows']) while the context is open."""
    from eventrelationextractor_spark.core import features, liblinear

    def wrap(fn, key):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[key] += time.perf_counter() - t0
        return timed

    saved = {n: getattr(features, n) for n in
             ("et_vector", "ee_vector", "causal_vector", "to_matrix")}
    predict = liblinear.LinearModel.predict_strings

    def predict_counted(self, X, label_names):
        acc["clf_rows"] += len(X)
        return predict(self, X, label_names)

    try:
        for n, fn in saved.items():
            setattr(features, n, wrap(fn, "features"))
        liblinear.LinearModel.predict_strings = wrap(predict_counted,
                                                     "liblinear")
        yield
    finally:
        for n, fn in saved.items():
            setattr(features, n, fn)
        liblinear.LinearModel.predict_strings = predict


def core_triples(text: str, url: str, mode: str, consistent_only: bool,
                 timings: dict | None = None):
    """(unfiltered temporal, kept temporal, causal, truncated) for one page,
    computed the way ``stages.extract_triples`` computes them."""
    from eventrelationextractor_spark.core.lexicons import load_lexicons
    from eventrelationextractor_spark.core.pipeline import (causal_triples,
                                                            temporal_triples)
    from eventrelationextractor_spark.core.timegraph import filter_consistent
    from eventrelationextractor_spark.spark.stages import parse_page
    lx = load_lexicons()
    t = {"parse": 0.0, "temporal": 0.0, "timegraph": 0.0, "causal": 0.0}
    t0 = time.perf_counter()
    doc = parse_page(text, url)
    t1 = time.perf_counter()
    t["parse"] = t1 - t0
    temporal, kept, causal = [], [], []
    if mode in ("temporal", "both"):
        temporal = temporal_triples(doc, lx, max_timexes=500)
        t2 = time.perf_counter()
        t["temporal"] = t2 - t1
        kept = temporal
        if consistent_only:
            ok, _ = filter_consistent(sorted((x.source, x.target, x.rel)
                                             for x in temporal))
            ok = set(ok)
            kept = [x for x in temporal if (x.source, x.target, x.rel) in ok]
            t["timegraph"] = time.perf_counter() - t2
    if mode in ("causal", "both"):
        t3 = time.perf_counter()
        causal = causal_triples(doc, lexicons=lx)
        t["causal"] = time.perf_counter() - t3
    if timings is not None:
        for k, v in t.items():
            timings[k] += v
    return temporal, kept, causal, bool(doc.memo.get("tt_truncated"))


def replay(pages: list, mode: str, consistent_only: bool) -> dict:
    """Per-layer core metrics over ``pages`` = [(url, text)], measured on
    a second pass after one untimed warm-up pass (lazy model, lexicon and
    WordNet loads)."""
    for url, text in pages:
        core_triples(text, url, mode, consistent_only)
    acc = {"parse": 0.0, "temporal": 0.0, "timegraph": 0.0, "causal": 0.0,
           "features": 0.0, "liblinear": 0.0, "clf_rows": 0}
    n_tt = n_rule = n_all = n_temporal = n_dropped = 0
    with _timed_calls(acc):
        for url, text in pages:
            temporal, kept, causal, _ = core_triples(text, url, mode,
                                                     consistent_only, acc)
            trips = temporal + causal
            n_tt += sum(1 for x in temporal if x.pair_type == "tt")
            n_rule += sum(1 for x in trips if x.stage in RULE_STAGES)
            n_all += len(trips)
            n_temporal += len(temporal)
            n_dropped += len(temporal) - len(kept)
    n = len(pages)
    ms = {k: 1000.0 * acc[k] / n for k in
          ("parse", "temporal", "timegraph", "causal", "features",
           "liblinear")}
    return {
        "core.parse_ms_per_doc": ms["parse"],
        "core.temporal_ms_per_doc": ms["temporal"],
        "core.causal_ms_per_doc": ms["causal"],
        "core.tt_pairs_per_doc": n_tt / n,
        "core.rule_share": n_rule / n_all if n_all else 0.0,
        "core.features_ms_per_doc": ms["features"],
        "core.liblinear_ms_per_doc": ms["liblinear"],
        "core.clf_pairs_per_doc": acc["clf_rows"] / n,
        "core.timegraph_ms_per_doc": ms["timegraph"],
        "timegraph.violated_frac": n_dropped / n_temporal if n_temporal
        else 0.0,
        # single-threaded core cost of one document: the UDF's useful work
        "core_ms_per_doc": ms["parse"] + ms["temporal"] + ms["timegraph"]
        + ms["causal"],
    }
