"""Distributed HMM Viterbi decoding (min-plus integer semiring).

Sequence labeling over tokenized text — the classic HMM decode the
reference's pipeline family (POS-driven features, gazetteer spans)
sits next to, expressed Spark-first: the entire per-document dynamic
program is ONE ``aggregate`` fold over the token array, so it runs
inside the JVM with zero Python in the hot path and zero shuffles
(the document is the parallel unit, exactly the extraction-stage
contract).

Everything is integer min-plus (costs, not log-probs): the decode is
bit-exact on any engine, and the DuckDB oracle replays the identical
recurrence as a recursive CTE. Ties in the argmin prefer the LOWEST
state index — pinned in both engines by the same sequential
``CASE``-with-``<=`` construction.

Model contract (documented because we own it): the first token's
cost is ``min_i(start[i] + trans[i][j]) + emit[j][cls]`` — i.e. the
start distribution is a virtual pre-state that already pays one
transition. This keeps the fold step uniform (the base constants
``B_j = min_i(start[i] + trans[i][j])`` are folded into the first
step on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[^a-z0-9]+"


def _argmin_case(cands: list[str], picks: list[str]) -> str:
    """Sequential CASE that returns picks[argmin(cands)] with ties
    going to the lowest index: branch i fires iff cands[i] <= every
    later candidate (earlier branches already failed)."""
    parts = []
    for i in range(len(cands) - 1):
        cond = " AND ".join(f"({cands[i]}) <= ({m})"
                            for m in cands[i + 1:])
        parts.append(f"WHEN {cond} THEN {picks[i]}")
    return ("CASE " + " ".join(parts)
            + f" ELSE {picks[-1]} END")


def viterbi_decode(df: DataFrame, text_col: str,
                   trans: list[list[int]], emit: list[list[int]],
                   start: list[int],
                   id_col: str = "doc_id") -> DataFrame:
    """Min-cost state path per document -> (id, vit_state, vit_cost,
    vit_path): tokens are lowercased ``[^a-z0-9]+`` splits, a token's
    emission class is ``length(token) % C``. ``trans`` is KxK,
    ``emit`` KxC, ``start`` K — all small ints (a broadcast-free
    model: the tables compile into the expression itself).

    Scale shape: one narrow projection, no shuffle, no UDF; the DP
    state is a K-cost/K-path struct folded through ``aggregate``
    (whole-stage codegen keeps it JVM-side). Path strings grow with
    document length — fine for web documents; for book-length inputs
    emit only the final state/cost (drop the path columns)."""
    k = len(start)
    c = len(emit[0])
    assert len(trans) == k and all(len(r) == k for r in trans)
    assert len(emit) == k and all(len(r) == c for r in emit)

    def emit_case(j: int, tok: str) -> str:
        whens = " ".join(f"WHEN {ci} THEN {emit[j][ci]}"
                         for ci in range(c - 1))
        return (f"CASE (length({tok}) % {c}) {whens}"
                f" ELSE {emit[j][c - 1]} END")

    init_fields = []
    for j in range(k):
        init_fields.append(f"'c{j}', CAST({start[j]} AS BIGINT)")
        init_fields.append(f"'p{j}', ''")
    step_fields = []
    for j in range(k):
        cands = [f"acc.c{i} + {trans[i][j]}" for i in range(k)]
        picks = [f"acc.p{i}" for i in range(k)]
        least = ("LEAST(" + ", ".join(cands) + ")") if k > 1 \
            else cands[0]
        step_fields.append(
            f"'c{j}', {least} + {emit_case(j, 'x')}")
        step_fields.append(
            f"'p{j}', {_argmin_case(cands, picks)} || '{j}'")
    expr = (
        f"aggregate(filter(split(lower({text_col}), '{TOKEN_RE}'),"
        " t -> t <> ''),"
        f" named_struct({', '.join(init_fields)}),"
        f" (acc, x) -> named_struct({', '.join(step_fields)}),"
        " acc -> acc)")
    final_cands = [f"v.c{j}" for j in range(k)]
    state = _argmin_case(final_cands, [str(j) for j in range(k)])
    path = _argmin_case(final_cands, [f"v.p{j}" for j in range(k)])
    cost = ("LEAST(" + ", ".join(final_cands) + ")") if k > 1 \
        else final_cands[0]
    return (df.select(F.col(id_col), F.expr(expr).alias("v"))
            .select(id_col,
                    F.expr(state).cast("long").alias("vit_state"),
                    F.expr(cost).cast("long").alias("vit_cost"),
                    F.expr(path).alias("vit_path")))


