"""Registry-window session-config sweep: every query in ``WINDOW`` must
produce a value-hash-identical result under a hostile session
configuration -- ANSI on, a shifted session timezone, an odd
shuffle-partition count. A window query that leans on session defaults
(TZ-rendered timestamps, non-ANSI division, partition-count-sensitive
float merge order) fails HERE. The ``kg_*`` queries are not in the
window: ``test_kg_oracles.py`` runs them under the same confs against
their oracles.

Runs at sf0.001 (hash equality is within-process, same data on both
sides, so the smallest corpus suffices to catch config sensitivity)."""

import os

import pytest

from tools.value_hash import value_hash

SF_DIR = "/root/testdata/sf0.001"

HOSTILE = [("spark.sql.ansi.enabled", "true"),
           ("spark.sql.session.timeZone", "America/New_York"),
           ("spark.sql.shuffle.partitions", "7")]

WINDOW = ("ivm_refresh", "hdr_quantiles", "knn_shapley", "wordpiece_census",
          "json_schema_infer", "lz_complexity", "shapley_attribution",
          "dedup_resolution", "prefix_filter_pairs", "tfidf_cosine_pairs",
          "rfm_segments", "boruvka_mst", "media_sobel", "maxsim_search",
          "events_stream_enrich", "audio_frame_stats", "wl_colors")


@pytest.mark.skipif(not os.path.isdir(SF_DIR),
                    reason="driver test data not present")
def test_driver_window_is_session_config_insensitive(spark):
    import __spark_entry__ as entry

    qs = entry.queries()

    def run_all():
        out = {}
        for name in WINDOW:
            df = qs[name](spark, SF_DIR)
            out[name] = value_hash(df.columns,
                                   [tuple(r) for r in df.collect()])
        return out

    base = run_all()
    old = {k: spark.conf.get(k, None) for k, _v in HOSTILE}
    for k, v in HOSTILE:
        spark.conf.set(k, v)
    try:
        hostile = run_all()
    finally:
        for k, _v in HOSTILE:
            if old[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old[k])

    diverged = [n for n in WINDOW if base[n] != hostile[n]]
    assert not diverged, f"session-config-sensitive window queries: {diverged}"
