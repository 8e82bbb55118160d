"""Materialize the expected outputs of the two non-SQL-expressible driver
queries (kg_consistent_triples, kg_awareness) as golden fixture parquet,
so their oracle_sql() entries can hash-gate values instead of rows-only.

The synthetic corpus is a pure function of doc_id (datagen.py), so each
query's per-document output is too. This tool replays, per doc_id, the
exact per-document computation the Spark UDFs run (core.pipeline's
page_triples, with and without the timegraph consistency filter; the
kg_awareness gold/pred perturbation -> core.awareness closure scorer)
and writes the results keyed by doc_id. The oracle then JOINs the
fixture against the registered ``documents`` view, which restricts it to
whatever SF the gate runs at - one committed fixture covers sf0.001
through sf1.0 (doc_id < 50000 by default).

Correctness of the replayed computation is anchored by the golden parity
suite (tests/golden/ - the compiled reference's own outputs); what the
hash gate adds on top is that the DISTRIBUTED execution (mapInArrow
batching, the tag-union bucketing of awareness_scores, perturbation
logic, round-trip through Arrow) reproduces the single-document core
bit-for-bit at every SF.

Usage: python tools/make_oracle_fixtures.py [--max-doc 50000] [--procs N]
"""

from __future__ import annotations

import argparse
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN = os.path.join(REPO, "tests", "golden")

_LX = None


def _lexicons():
    global _LX
    if _LX is None:
        from eventrelationextractor_spark.core.lexicons import load_lexicons
        _LX = load_lexicons()
    return _LX


def _round6_half_up(x: float) -> float:
    """Replicate Spark's F.round(col, 6): BigDecimal HALF_UP on the exact
    binary double (NOT Python round(), which is banker's)."""
    return float(Decimal(x).quantize(Decimal("0.000001"),
                                     rounding=ROUND_HALF_UP))


def doc_rows(d: int) -> tuple:
    """-> (consistent_triple_rows, awareness_row) for one doc_id: the
    triples ``pipeline.page_triples`` gives the page, as
    spark/stages.py::extract_triples(mode="temporal") runs it with and
    without ``consistent_only``, and the awareness row of
    __spark_entry__._q_awareness / spark/evaluate.py::awareness_scores
    over the unfiltered ones."""
    from eventrelationextractor_spark.core.awareness import (
        temporal_awareness)
    from eventrelationextractor_spark.core.pipeline import page_triples
    from eventrelationextractor_spark.datagen import synth_page
    from eventrelationextractor_spark.spark.stages import parse_page

    page = synth_page(d)

    def triples(consistent_only):
        # a fresh parse per run, as each Spark query parses its own page
        return page_triples(parse_page(page["text"], page["url"]),
                            _lexicons(), "temporal", 500,
                            consistent_only=consistent_only)

    cons = [(d, t.source, t.rel, t.target) for t in triples(True)]
    gold = [(t.source, t.target, t.rel) for t in triples(False)]
    pred = [r for r in gold if not (d % 9 == 0 and r[0] == "e4")]
    if d % 11 == 0:
        pred.append(("e1", "e2", "BEFORE"))
    m = temporal_awareness(sorted(gold), sorted(pred))
    aw = (d, _round6_half_up(float(m["precision"])),
          _round6_half_up(float(m["recall"])),
          _round6_half_up(float(m["f1"])),
          int(m["sys_total"]), int(m["gold_total"]))
    return cons, aw


def main() -> None:
    import multiprocessing as mp

    import pyarrow as pa
    import pyarrow.parquet as pq

    ap = argparse.ArgumentParser()
    ap.add_argument("--max-doc", type=int, default=50000,
                    help="exclusive doc_id bound (50000 covers sf1.0)")
    ap.add_argument("--procs", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args()

    with mp.Pool(args.procs) as pool:
        results = pool.map(doc_rows, range(args.max_doc), chunksize=256)

    cons_rows = [r for cons, _ in results for r in cons]
    aw_rows = [aw for _, aw in results]

    cons_tbl = pa.table({
        "doc_id": pa.array([r[0] for r in cons_rows], pa.int64()),
        "subj": [r[1] for r in cons_rows],
        "pred": [r[2] for r in cons_rows],
        "obj": [r[3] for r in cons_rows]})
    aw_tbl = pa.table({
        "doc_id": pa.array([r[0] for r in aw_rows], pa.int64()),
        "precision": pa.array([r[1] for r in aw_rows], pa.float64()),
        "recall": pa.array([r[2] for r in aw_rows], pa.float64()),
        "f1": pa.array([r[3] for r in aw_rows], pa.float64()),
        "sys_total": pa.array([r[4] for r in aw_rows], pa.int64()),
        "gold_total": pa.array([r[5] for r in aw_rows], pa.int64())})

    os.makedirs(GOLDEN, exist_ok=True)
    cp = os.path.join(GOLDEN, "consistent_triples_expected.parquet")
    apath = os.path.join(GOLDEN, "awareness_expected.parquet")
    pq.write_table(cons_tbl, cp, compression="zstd")
    pq.write_table(aw_tbl, apath, compression="zstd")
    print(f"wrote {cp}: {cons_tbl.num_rows} rows "
          f"({os.path.getsize(cp)} bytes)")
    print(f"wrote {apath}: {aw_tbl.num_rows} rows "
          f"({os.path.getsize(apath)} bytes)")


if __name__ == "__main__":
    main()
