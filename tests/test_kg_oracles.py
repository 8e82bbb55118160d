"""Value-hash gate of the KG job contract: every ``kg_*`` query of
``__spark_entry__`` (the 16 pipeline stages), plus ``html_text_extract``
(the html pass must return each page's text byte-exactly), has an
``oracle_sql()`` twin and must equal it on DuckDB by row count, sorted
column names and value hash - once under the default test session and
once under a hostile session configuration (ANSI on, a shifted session
timezone, an odd shuffle-partition count), so a query that leans on
session defaults (TZ-rendered timestamps, non-ANSI division,
partition-count-sensitive float merge order) fails here.

Runs at sf0.001: the oracles are closed-form in doc_id (or read committed
per-document fixtures), so the smallest corpus exercises every path.
The value hash (``tools/value_hash.py``) is the one
``tools/check_correctness.py`` applies to the whole registry."""

import os

import pytest

from tools.value_hash import value_hash

SF_DIR = "/root/testdata/sf0.001"

HOSTILE = [("spark.sql.ansi.enabled", "true"),
           ("spark.sql.session.timeZone", "America/New_York"),
           ("spark.sql.shuffle.partitions", "7")]


def _summary(cols, rows):
    return len(rows), sorted(cols), value_hash(cols, rows)


def _gated(registry):
    return {n: v for n, v in registry.items()
            if n.startswith("kg_") or n == "html_text_extract"}


@pytest.fixture(scope="module")
def oracle_results():
    import duckdb

    import __spark_entry__ as entry
    con = duckdb.connect()
    for f in sorted(os.listdir(SF_DIR)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * "
                        f"FROM read_parquet('{os.path.join(SF_DIR, f)}')")
    out = {}
    for name, sql in _gated(entry.oracle_sql()).items():
        cur = con.execute(sql)
        out[name] = _summary([d[0] for d in cur.description],
                             cur.fetchall())
    con.close()
    return out


@pytest.mark.skipif(not os.path.isdir(SF_DIR),
                    reason="sf0.001 test data (TESTDATA.md) not present")
@pytest.mark.parametrize("session", ["default", "hostile"])
def test_kg_queries_equal_oracles(spark, oracle_results, session):
    import __spark_entry__ as entry

    confs = HOSTILE if session == "hostile" else []
    old = {k: spark.conf.get(k, None) for k, _v in confs}
    for k, v in confs:
        spark.conf.set(k, v)
    try:
        got = {}
        for name, fn in _gated(entry.queries()).items():
            df = fn(spark, SF_DIR)
            got[name] = _summary(df.columns,
                                 [tuple(r) for r in df.collect()])
    finally:
        for k, _v in confs:
            if old[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old[k])

    assert set(got) == set(oracle_results) and len(got) == 17, sorted(got)
    mismatched = {n: (got[n], oracle_results[n]) for n in got
                  if got[n] != oracle_results[n]}
    assert not mismatched, mismatched

