"""Driver-window session-config sweep (round-4 verdict item #3): every
query in the 50-entry driver hash-gate window must produce a
value-hash-identical result under a hostile session configuration —
ANSI on, a shifted session timezone, an odd shuffle-partition count.
Round 4 proved this by hand for the five driver-red queries; this
automates the insensitivity proof for every window entry, so a future
window addition that leans on session defaults (TZ-rendered
timestamps, non-ANSI division, partition-count-sensitive float merge
order) fails HERE instead of only in the driver's environment.

Runs at sf0.001 (hash equality is within-process, same data on both
sides, so the smallest corpus suffices to catch config sensitivity)."""

import os

import pytest

from tools.value_hash import value_hash

SF_DIR = "/root/testdata/sf0.001"

HOSTILE = [("spark.sql.ansi.enabled", "true"),
           ("spark.sql.session.timeZone", "America/New_York"),
           ("spark.sql.shuffle.partitions", "7")]


@pytest.mark.skipif(not os.path.isdir(SF_DIR),
                    reason="driver test data not present")
def test_driver_window_is_session_config_insensitive(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    # diag_env EXISTS to reflect the session config through its row
    # count (TZ / ANSI flags) — insensitivity would defeat it
    window = [n for n in list(qs)[:50] if n != "diag_env"]

    def run_all():
        out = {}
        for name in window:
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

    diverged = [n for n in window if base[n] != hostile[n]]
    assert not diverged, f"session-config-sensitive window queries: {diverged}"
