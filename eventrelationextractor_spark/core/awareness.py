"""TempEval-3 temporal-awareness metric (UzZaman & Allen): the exact
scoring the reference ships in
tools/TempEval3-evaluation-tool/evaluation-relations/temporal_evaluation.py
(driven through the same timegraph as model/rule/TimeGraph.java).

Semantics port over core.timegraph's PointGraph:

* ``reduce_relations``: create_timegraph_from_weight_sorted_relations -
  dedup repeated (x, y, rel) handles, classify each relation as kept /
  REDUNDANT (both entities already in the graph and the relation fully
  derivable - remove_from_reduce, relation_to_timegraph.py:1380) /
  VIOLATED (inconsistent - :1368); the evaluated "final" list is
  kept + violated (temporal_evaluation.get_timegraphs:159-165 adds the
  violated list back).
* ``entails``: interval_rel_X_Y(..., 'evaluation') - relation-specific
  point conditions over the timegraph (:1752-1860), UNKNOWN unless all
  four interval endpoints exist. Reference quirks kept: BEGINS can never
  verify ('=' and 'UNKNOWN' can't both hold - :1826, a tool bug), and
  DURING/DURING_INV are rewritten to SIMULTANEOUS up front.
* ``temporal_awareness``: evaluate_two_files_implicit_in_recall
  (:265-330) - precision = matched(system_reduced vs gold)/|system_
  reduced|, recall = (matched(gold_reduced vs system) + w * implicit)/
  |gold_reduced| with w = 0.99/(1 + n(n-1)/2 - rec_matched) over the
  common entity count n; a system-reduced relation "matches" if its
  exact (x, y, rel) line occurs in the gold annotation (either
  direction) or the gold timegraph entails it.

Bit-for-bit parity with the reference tool is asserted against
tests/golden/awareness_{scores,reduced}.tsv (generated by RUNNING the
tool - tools/make_awareness_golden.py)."""

from __future__ import annotations

from .timegraph import _CONSTRAINTS, PointGraph
from .timexrule import inverse_relation

_DURING_MAP = {"DURING": "SIMULTANEOUS", "DURING_INV": "SIMULTANEOUS"}


def _norm(rel: str) -> str:
    return _DURING_MAP.get(rel, rel)


class ReducedGraph:
    __slots__ = ("kept", "violated", "redundant", "graph", "entities")

    def __init__(self):
        self.kept: list = []
        self.violated: list = []
        self.redundant: list = []
        self.graph = PointGraph()
        self.entities: set = set()

    @property
    def final(self) -> list:
        """The evaluated relation list: kept + violated (the tool adds
        violated back for scoring)."""
        return self.kept + self.violated

    def entails(self, x: str, y: str, rel: str) -> bool:
        """interval_rel_X_Y(x, y, tg, rel, 'evaluation') == 'true'."""
        rel = _norm(rel)
        if x not in self.entities or y not in self.entities:
            return False
        sx, ex, sy, ey = ("s", x), ("e", x), ("s", y), ("e", y)
        pr = self.graph.point_rel
        if rel == "BEFORE":
            return pr(ex, sy) == "<"
        if rel == "AFTER":
            return pr(ey, sx) == "<"
        if rel == "IBEFORE":
            return pr(ex, sy) == "="
        if rel == "IAFTER":
            return pr(ey, sx) == "="
        if rel == "BEGINS":
            return False        # tool bug: '=' and 'UNKNOWN' can't co-hold
        if rel == "BEGUN_BY":
            return pr(sx, sy) == "=" and pr(ey, ex) == "<"
        if rel == "ENDS":
            return pr(ex, ey) == "=" and pr(sy, sx) == "<"
        if rel == "ENDED_BY":
            return pr(ex, ey) == "=" and pr(sx, sy) == "<"
        if rel == "INCLUDES":
            return pr(sx, sy) == "<" and pr(ey, ex) == "<"
        if rel == "IS_INCLUDED":
            return pr(sy, sx) == "<" and pr(ex, ey) == "<"
        if rel in ("IDENTITY", "SIMULTANEOUS"):
            return pr(sx, sy) == "=" and pr(ex, ey) == "="
        return False


class ToolReducedGraph:
    """tool_compat twin of ReducedGraph: same kept/violated/redundant
    classification and entails() surface, but computed by the reference
    tool's own chain/pseudotime timegraph (core.tooltimegraph) instead
    of the exact point-algebra closure - including the tool's derivation
    incompleteness, so scores match the tool verdict-for-verdict (the
    wsj_1014 case that the exact engine adjudicates)."""
    __slots__ = ("kept", "violated", "redundant", "graph")

    def __init__(self):
        from .tooltimegraph import ToolTimegraph
        self.kept: list = []
        self.violated: list = []
        self.redundant: list = []
        self.graph = ToolTimegraph()

    @property
    def final(self) -> list:
        return self.kept + self.violated

    def entails(self, x: str, y: str, rel: str) -> bool:
        """interval_rel_X_Y(..., 'evaluation') contains 'true'
        (temporal_evaluation.py:191,217 match via re.search('true'))."""
        return "true" in self.graph.interval_rel(x, y, _norm(rel),
                                                 "evaluation")


def reduce_relations_tool(relations) -> ToolReducedGraph:
    """tool_compat reduce: same dedup-first-wins stream as
    reduce_relations, classified by the tool's insertion engine
    (create_timegraph_from_weight_sorted_relations semantics,
    relation_to_timegraph.py:1986 + :381)."""
    rg = ToolReducedGraph()
    seen = set()
    for x, y, rel in relations:
        rel = _norm(rel)
        if (x, y, rel) in seen:
            continue
        seen.add((x, y, rel))
        verdict = rg.graph.add_relation(x, y, rel)
        getattr(rg, {"kept": "kept", "violated": "violated",
                     "redundant": "redundant"}[verdict]).append((x, y, rel))
    return rg


def reduce_relations(relations) -> ReducedGraph:
    """relations: iterable of (x, y, rel) in order. Classifies into
    kept / redundant / violated with the reference's insertion
    semantics (first occurrence of a (x, y, rel) handle wins)."""
    rg = ReducedGraph()
    g = rg.graph
    seen = set()
    for x, y, rel in relations:
        rel = _norm(rel)
        if (x, y, rel) in seen:
            continue
        seen.add((x, y, rel))
        if rel not in _CONSTRAINTS:
            continue
        both_exist = x in rg.entities and y in rg.entities
        if both_exist and rg.entails(x, y, rel):
            rg.redundant.append((x, y, rel))
            continue
        if g.add_relation(x, y, rel):
            rg.kept.append((x, y, rel))
            rg.entities.update((x, y))
        else:
            rg.violated.append((x, y, rel))
    return rg


def _both_direction_set(relations) -> set:
    out = set()
    for x, y, rel in relations:
        rel = _norm(rel)
        out.add((x, y, rel))
        if x != y:
            out.add((y, x, inverse_relation(rel)))
    return out


def _matched(a_final, b_final_rg: ReducedGraph, b_annotation_set) -> int:
    """total_relation_matched: count of A-side reduced relations present
    verbatim in B's (both-direction) annotation or entailed by B's
    timegraph."""
    count = 0
    for x, y, rel in a_final:
        if (x, y, _norm(rel)) in b_annotation_set:
            count += 1
        elif b_final_rg.entails(x, y, rel):
            count += 1
    return count


def temporal_awareness(gold, system, tool_compat: bool = False) -> dict:
    """-> {precision, recall, f1, prec_matched, rec_matched,
    rec_implicit, n, sys_total, gold_total} - the TempEval-3
    temporal-awareness score of ``system`` [(x, y, rel), ...] against
    ``gold``, matching the reference tool's arithmetic exactly
    (including its implicit-recall weighting).

    ``tool_compat=True`` swaps the exact point-algebra closure for the
    tool's own chain/pseudotime timegraph (core.tooltimegraph), whose
    bounded cross-chain traversal misses some derivable relations - use
    it to reproduce the tool's published numbers bit-for-bit; the
    default derives correctly and can differ where the tool is
    incomplete (one known case: wsj_1014, see
    tests/test_awareness_golden.py)."""
    reduce_fn = reduce_relations_tool if tool_compat else reduce_relations
    rg_gold = reduce_fn(gold)
    rg_sys = reduce_fn(system)
    gold_ann = _both_direction_set(gold)
    sys_ann = _both_direction_set(system)

    prec_matched = _matched(rg_sys.final, rg_gold, gold_ann)
    rec_matched = _matched(rg_gold.final, rg_sys, sys_ann)

    # total_implicit_matched: system-reduced relations not verbatim in
    # the gold-reduced list but entailed by the gold timegraph
    gold_final_set = {(x, y, _norm(r)) for x, y, r in rg_gold.final}
    rec_implicit = 0
    for x, y, rel in rg_sys.final:
        if (x, y, _norm(rel)) in gold_final_set:
            continue
        if rg_gold.entails(x, y, rel):
            rec_implicit += 1

    # common entities between the two final lists (get_common_n)
    def ents(final):
        s = set()
        for x, y, _ in final:
            s.add(x)
            s.add(y)
        return s
    n = len(ents(rg_gold.final) & ents(rg_sys.final))

    ref_plus = 0.5 * n * (n - 1)
    w = 0.99 / (1 + ref_plus - rec_matched)
    sys_total = len(rg_sys.final)
    gold_total = len(rg_gold.final)
    precision = prec_matched * 1.0 / sys_total if sys_total > 0 else 0
    recall = ((rec_matched + w * rec_implicit) * 1.0 / gold_total
              if gold_total > 0 else 0)
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall > 0 else 0.0)
    return {"precision": precision, "recall": recall, "f1": f1,
            "prec_matched": prec_matched, "rec_matched": rec_matched,
            "rec_implicit": rec_implicit, "n": n,
            "sys_total": sys_total, "gold_total": gold_total}
