"""Property-based tests (hypothesis): robustness and invariants that the
fixture corpus cannot cover exhaustively."""

from datetime import date, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from eventrelationextractor_spark.core.docmodel import (FIELDS_TEXT16,
                                                        parse_txp_lines)
from eventrelationextractor_spark.core.javacompat import java_hashmap_order
from eventrelationextractor_spark.core.pipeline import (causal_triples,
                                                        temporal_triples,
                                                        timex_timex_rule_links)
from eventrelationextractor_spark.core.timegraph import (_CONSTRAINTS,
                                                         PointGraph,
                                                         filter_consistent)
from eventrelationextractor_spark.core.timexrule import (inverse_relation,
                                                         timex_timex_relation)

_DATES = st.integers(min_value=0, max_value=5000).map(
    lambda d: (date(1990, 1, 1) + timedelta(days=d)).isoformat())
_MONTHS = _DATES.map(lambda s: s[:7])
_YEARS = _DATES.map(lambda s: s[:4])
_VALUES = st.one_of(_DATES, _MONTHS, _YEARS)


@given(v1=_VALUES, v2=_VALUES, dct=_DATES)
@settings(max_examples=300, deadline=None)
def test_r1_inverse_consistency_on_calendar_values(v1, v2, dct):
    """For plain calendar values the rule is direction-consistent:
    rel(a,b) == inverse(rel(b,a)). (Not universal in the reference - era
    and week edge cases are asymmetric - but it must hold on this domain.)"""
    r12 = timex_timex_relation("DATE", v1, "DATE", v2, dct)
    r21 = timex_timex_relation("DATE", v2, "DATE", v1, dct)
    assert r12 == inverse_relation(r21)


@given(v=_VALUES, dct=_DATES)
@settings(max_examples=100, deadline=None)
def test_r1_self_distinct_ids_identity(v, dct):
    assert timex_timex_relation("DATE", v, "DATE", v, dct) == "SIMULTANEOUS"
    assert timex_timex_relation("DATE", v, "DATE", v, dct,
                                identity_rel=True) == "IDENTITY"


_CELL = st.text(
    alphabet=st.characters(blacklist_characters="\t\n", max_codepoint=0x2FF),
    max_size=8)


@given(rows=st.lists(st.lists(_CELL, min_size=1, max_size=20), max_size=12))
@settings(max_examples=150, deadline=None)
def test_parser_and_pipeline_never_crash_on_fuzz(rows):
    """Arbitrary tab-separated garbage must parse into SOME DocState and
    both pipelines must run (the Java crashes on many of these; our UDF
    must not kill a 100TB job over one page)."""
    lines = ["\t".join(r) for r in rows]
    doc = parse_txp_lines(lines, FIELDS_TEXT16)
    temporal_triples(doc)
    causal_triples(doc)


@given(keys=st.lists(st.text(min_size=1, max_size=10), unique=True,
                     max_size=64))
@settings(max_examples=100, deadline=None)
def test_hashmap_order_is_permutation(keys):
    out = java_hashmap_order(keys)
    assert sorted(out) == sorted(keys)


_REL = st.sampled_from(["BEFORE", "AFTER", "INCLUDES", "IS_INCLUDED",
                        "SIMULTANEOUS", "BEGINS", "ENDS", "IBEFORE"])
_ENT = st.sampled_from(["a", "b", "c", "d", "e"])


@given(rels=st.lists(st.tuples(_ENT, _ENT, _REL), max_size=25))
@settings(max_examples=150, deadline=None)
def test_timegraph_kept_set_is_consistent(rels):
    """The filter's kept set must itself pass the filter unchanged
    (fixed point), and kept+violated partitions the input."""
    rels = [r for r in rels if r[0] != r[1]]
    kept, violated = filter_consistent(rels)
    assert len(kept) + len(violated) == len(rels)
    kept2, violated2 = filter_consistent(kept)
    assert kept2 == kept and violated2 == []


def _closure(relations, ents) -> tuple:
    """Brute-force point algebra over every endpoint of ``ents``:
    ({point: index}, order) with order[i][j] 0 = unknown, 1 = <=, 2 = <,
    closed by Floyd-Warshall."""
    pts = {(k, x): i for i, (k, x) in
           enumerate((k, x) for x in sorted(ents) for k in "se")}
    n = len(pts)
    order = [[1 if i == j else 0 for j in range(n)] for i in range(n)]
    for x in ents:
        order[pts[("s", x)]][pts[("e", x)]] = 2
    for src, tgt, rel in relations:
        for kind, (p1, i1), (p2, i2) in _CONSTRAINTS[rel]:
            a, b = pts[(p1, (src, tgt)[i1])], pts[(p2, (src, tgt)[i2])]
            order[a][b] = max(order[a][b], 2 if kind == "<" else 1)
            if kind == "=":
                order[b][a] = max(order[b][a], 1)
    for k in range(n):
        for i in range(n):
            if order[i][k]:
                for j in range(n):
                    if order[k][j]:
                        order[i][j] = max(order[i][j], order[i][k],
                                          order[k][j])
    return pts, order


def _filter_oracle(relations) -> tuple:
    """filter_consistent by definition: a relation is kept iff the closure
    of the relations accepted before it plus itself puts no point before
    itself."""
    accepted, kept, violated = [], [], []
    for r in relations:
        if r[2] not in _CONSTRAINTS:
            kept.append(r)
            continue
        _, order = _closure(accepted + [r], {x for q in accepted + [r]
                                             for x in q[:2]})
        if all(order[i][i] < 2 for i in range(len(order))):
            accepted.append(r)
            kept.append(r)
        else:
            violated.append(r)
    return kept, violated


_ANY_REL = st.sampled_from(sorted(_CONSTRAINTS) + ["CLINK"])
# 2-6 entities per list: few entities make relations collide often
_RELATION_LISTS = st.integers(2, 6).flatmap(lambda n: st.lists(st.tuples(
    st.sampled_from("abcdef"[:n]), st.sampled_from("abcdef"[:n]), _ANY_REL),
    max_size=25))


@given(rels=_RELATION_LISTS)
@settings(max_examples=500, deadline=None)
def test_timegraph_filter_equals_closure_oracle(rels):
    """The incremental mask closure keeps and drops exactly what a
    from-scratch closure of the accepted set does, for every label
    (unknown labels pass through) and self-relations included; and the
    graph it ends with orders every endpoint as that closure does (so a
    rejected relation leaves nothing behind)."""
    kept, violated = _filter_oracle(rels)
    assert filter_consistent(rels) == (kept, violated)
    known = [r for r in rels if r[2] in _CONSTRAINTS]
    g = PointGraph()
    for r in known:
        g.add_relation(*r)
    pts, order = _closure([r for r in kept if r[2] in _CONSTRAINTS],
                          {x for r in known for x in r[:2]})
    for p, i in pts.items():
        for q, j in pts.items():
            want = ("=" if order[i][j] and order[j][i] else
                    "<" if order[i][j] == 2 else
                    ">" if order[j][i] == 2 else "UNKNOWN")
            assert g.point_rel(p, q) == want, (p, q)


@given(n=st.integers(min_value=0, max_value=30), cap=st.integers(1, 10))
@settings(max_examples=30, deadline=None)
def test_timex_cap_bounds_pair_count(n, cap):
    """The giant-page guard bounds the tt sieve at cap timexes."""
    lines = ["DCT_2001-01-01\tO\tO\tO\tO\tO\ttmx0\tB-DATE\t2001-01-01"
             "\tO\tO\tO\tO\tO\tO\tO"]
    for i in range(n):
        d = (date(2000, 1, 1) + timedelta(days=i)).isoformat()
        lines.append("\t".join((d, f"t{i+1}", "1", "NP0", d, "O",
                                f"tmx{i+1}", "B-DATE", d, "O", "O", "O",
                                "B-NP", "O", "O", "O")))
    lines.append("\t".join((".", f"t{n+1}", "1", "PUN", ".", "O", "O", "O",
                            "O", "O", "O", "O", "O", "O", "O", "O")))
    doc = parse_txp_lines(lines, FIELDS_TEXT16)
    tt = timex_timex_rule_links(doc, max_timexes=cap)
    # closed mentions: the last timex span stays open if it is the final
    # annotated token; DCT counts toward the cap
    n_timex = sum(1 for m in doc.entities.values() if m.is_timex)
    eff = min(n_timex, cap)
    assert len(tt) <= eff * (eff - 1)  # both directions
    if n_timex > cap:
        assert doc.memo.get("tt_truncated") is True


def test_pair_slice_partitions_exactly():
    """Union of the k pair_slice outputs == unsliced output, disjointly,
    for every k - the invariant the salted repartition path relies on."""
    from eventrelationextractor_spark.core.docmodel import (FIELDS_FILE24,
                                                            parse_txp_file_text)
    from eventrelationextractor_spark.core.pipeline import \
        timex_timex_rule_links
    text = open("tests/fixtures/wsj_1014.tml.txp").read()

    def links(pair_slice=None):
        doc = parse_txp_file_text(text, FIELDS_FILE24)
        return timex_timex_rule_links(doc, pair_slice=pair_slice)

    full = links()
    for k in (1, 2, 3, 7, 1000):   # k > n_pairs: empty tail slices
        parts = [links(pair_slice=(s, k)) for s in range(k if k < 50 else 50)]
        merged = {}
        for part in parts:
            for key in part:
                assert key not in merged or part[key] == merged[key]
            merged.update(part)
        if k >= 50:  # only checked a prefix of slices
            assert set(merged) <= set(full)
        else:
            assert merged == full


def _union_find_labels(edges) -> dict:
    """Driver-side reference: vertex -> smallest vertex of its component."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


_VERTEX = st.sampled_from(["a", "b", "c", "aa", "B", "0", "v1", "v10", "v2",
                           "é", "z#1", "alias:a"])
_EDGE_LISTS = st.lists(st.tuples(_VERTEX, _VERTEX), max_size=12)


@st.composite
def _graphs(draw):
    """Random edges (self-loops and duplicates allowed) plus a chain
    through a random ordering of some vertices."""
    edges = draw(_EDGE_LISTS)
    chain = draw(st.lists(_VERTEX, unique=True, max_size=8))
    return edges + list(zip(chain, chain[1:])) + draw(
        st.lists(st.sampled_from(edges), max_size=3) if edges else st.just([]))


@given(base=_graphs().filter(bool), delta=_graphs())
@settings(max_examples=25, deadline=None)
def test_connected_components_equal_union_find(spark, base, delta):
    """connected_components, and cc_incremental over its labels, label
    every vertex with the smallest vertex of its component."""
    from eventrelationextractor_spark.spark import kg

    def frame(edges):
        return spark.createDataFrame(edges, "src string, dst string")

    labels = kg.connected_components(frame(base))
    assert {r.vertex: r.component for r in labels.collect()} \
        == _union_find_labels(base)
    got = kg.cc_incremental(labels, frame(delta)).collect()
    assert len(got) == len({r.vertex for r in got})
    assert {r.vertex: r.component for r in got} \
        == _union_find_labels(base + delta)
