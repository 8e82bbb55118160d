"""The per-document indexes of the core answer exactly what a full scan
answers: the temporal and causal signal prefilters, the dependency-path
preorder, and the process-wide dependency-order cache."""

import random
import re
from types import SimpleNamespace

from hypothesis import given, settings
from hypothesis import strategies as st

from eventrelationextractor_spark import fixtures as fx
from eventrelationextractor_spark.core import javacompat
from eventrelationextractor_spark.core.deps import first_dependency_path
from eventrelationextractor_spark.core.docmodel import (FIELDS_TEXT16,
                                                        parse_txp_lines)
from eventrelationextractor_spark.core.javacompat import java_hashmap_order
from eventrelationextractor_spark.core.lexicons import Lexicons, load_lexicons
from eventrelationextractor_spark.core.markers import (
    _causal_signal, _temporal_signal_per_entity, get_temporal_signal)
from eventrelationextractor_spark.core.pipeline import (causal_triples,
                                                        temporal_triples)
from eventrelationextractor_spark.spark.stages import parse_page

LX = load_lexicons()
NEWSWIRE = ("wsj_1014", "bbc_20130322_721", "sample_temporal",
            "sample_causal")


class FullScan(Lexicons):
    """The reference: every temporal key tested against every context and
    every causal pattern searched in every context."""

    def signal_keys_in(self, which, words):
        return self.sorted_signal_keys(which)

    def causal_plan(self):
        return [(k, pat, None) for k, pat, _ in super().causal_plan()]


FULL = FullScan(LX.temporal_event, LX.temporal_timex, LX.causal_pattern,
                LX.causal_cluster, LX.causal_verb)


def _fields(m):
    return (m.text, m.cluster, m.position, m.dep1, m.dep2)


def _assert_signals_match(doc) -> int:
    """Indexed == full scan for every entity and every ordered pair of
    ``doc``'s mentions outside the DCT; returns how many markers found a
    signal."""
    ents = [e for e in doc.entities.values()
            if not (e.is_timex and (e.is_dct or e.is_empty))]
    found = 0
    for e in ents:
        got = _fields(_temporal_signal_per_entity(doc, e, LX))
        assert got == _fields(_temporal_signal_per_entity(doc, e, FULL)), e.mid
        found += got[0] != "O"
    for e1 in ents:
        for e2 in ents:
            if e1 is e2:
                continue
            for fn in (get_temporal_signal, _causal_signal):
                got = _fields(fn(doc, e1, e2, LX))
                assert got == _fields(fn(doc, e1, e2, FULL)), (
                    fn.__name__, e1.mid, e2.mid)
                found += got[0] != "O"
    return found


def test_signal_prefilter_matches_full_scan_on_newswire():
    found = sum(_assert_signals_match(parse_page(fx.fixture_text(n), n))
                for n in NEWSWIRE)
    assert found > 900          # not vacuous: 972 markers found a signal


def test_causal_plan_skips_only_word_led_patterns():
    plan = LX.causal_plan()
    assert [k for k, _, _ in plan] == java_hashmap_order(list(LX.causal_cluster))
    leads = {k: lead for k, _, lead in plan}
    assert leads["53"] is None                # th[ai][st] ...
    assert leads["1"] == "in" and leads["56"] == "thus"
    assert all(lead is None or "|" not in LX.causal_pattern[k]
               for k, lead in leads.items())


# -- hypothesis documents: lexicon words, case variants and noise ----------

_LEX_WORDS = sorted({w for src in (LX.temporal_event, LX.temporal_timex)
                     for key in src for w in key.split(" ")}
                    | {w for p in LX.causal_pattern.values()
                       for w in re.findall(r"[a-z][a-z'-]*", p)})
_WORD = st.one_of(st.sampled_from(_LEX_WORDS),
                  st.sampled_from(_LEX_WORDS).map(str.capitalize),
                  st.sampled_from(["the", ",", "x", "reasons", "is", "'s",
                                   "that", "of", "2013", "-"]))
_POS = st.sampled_from(["NN1", "VVD", "AJ0", "PRP", "AT0"])
_REL = st.sampled_from(["SBJ", "OBJ", "VC", "NMOD", "PMOD", "COORD",
                        "CONJ", "PRD", "ADV", "TMP"])


@st.composite
def _documents(draw):
    """A 16-column TXP page of one to three sentences with random words,
    parts of speech and in-sentence dependencies, and events and timexes
    on random tokens."""
    sent_lens = draw(st.lists(st.integers(1, 14), min_size=1, max_size=3))
    lines, tid, n_ev, n_tmx = [], 0, 0, 0
    for sid, n in enumerate(sent_lens):
        first = tid
        for _ in range(n):
            word = draw(_WORD)
            deps = draw(st.lists(st.tuples(st.integers(first, first + n - 1),
                                           _REL), max_size=2))
            dep_cell = "||".join(f"t{d}:{r}" for d, r in deps) or "O"
            kind = draw(st.sampled_from(["", "", "", "ev", "tmx"]))
            tmx, ev = ("O", "O", "O"), ("O", "O")
            if kind == "ev":
                n_ev += 1
                ev = ("OCCURRENCE", f"e{n_ev}")
            elif kind == "tmx":
                n_tmx += 1
                tmx = (f"tmx{n_tmx}", "B-DATE", "2013")
            lines.append("\t".join((
                word, f"t{tid}", str(sid), draw(_POS), word.lower(),
                dep_cell, *tmx, "O", *ev, "B-VP", "O", "O", "O")))
            tid += 1
    return parse_txp_lines(lines, FIELDS_TEXT16)


@given(doc=_documents())
@settings(max_examples=150, deadline=None)
def test_signal_prefilter_matches_full_scan_on_random_documents(doc):
    _assert_signals_match(doc)


# -- dependency-path preorder ---------------------------------------------

def _dfs_first_path(doc, gov_id, targets, path_so_far, on_stack):
    """The recursive generateDependencyPath (PairFeatureVector.java:
    615-637) the preorder index replaced: preorder DFS in HashMap order,
    first hit wins, guarded only against nodes on the current stack."""
    tok = doc.tokens.get(gov_id)
    if tok is None or not tok.deps or gov_id in on_stack:
        return None
    on_stack.add(gov_id)
    try:
        for key in java_hashmap_order(tok.dep_order):
            rel = tok.deps[key]
            if key in targets:
                return path_so_far + "-" + rel
            found = _dfs_first_path(doc, key, targets,
                                    path_so_far + "-" + rel, on_stack)
            if found is not None:
                return found
        return None
    finally:
        on_stack.discard(gov_id)


def _oracle(doc, gov_id, targets):
    if isinstance(targets, str):
        targets = (targets,)
    return _dfs_first_path(doc, gov_id, frozenset(targets), "", set())


class _CountingTokens(dict):
    """doc.tokens that counts node lookups: one per node either walk
    visits."""
    visits = 0

    def get(self, key, default=None):
        self.visits += 1
        return super().get(key, default)


_IDS = [f"t{i}" for i in range(9)] + ["m0", "m1"]     # m*: not tokens


@st.composite
def _dependency_maps(draw):
    """Tokens t0..t8 whose dependents are any ids, missing tokens, cycles
    and self-loops included; some tokens have no dependents."""
    tokens = {}
    for tid in _IDS[:9]:
        keys = draw(st.lists(st.sampled_from(_IDS), unique=True, max_size=4))
        deps = {k: draw(_REL) for k in keys} or None
        tokens[tid] = SimpleNamespace(deps=deps, dep_order=tuple(keys))
    return tokens


_TARGETS = st.one_of(
    st.sampled_from(_IDS),
    st.lists(st.sampled_from(_IDS), min_size=1, max_size=3).map(tuple),
    st.frozensets(st.sampled_from(_IDS), min_size=1, max_size=3))


@given(tokens=_dependency_maps(),
       queries=st.lists(st.tuples(st.sampled_from(_IDS), _TARGETS),
                        min_size=1, max_size=12))
@settings(max_examples=400, deadline=None)
def test_preorder_matches_recursive_dfs_and_walks_no_further(tokens,
                                                             queries):
    doc = SimpleNamespace(tokens=_CountingTokens(tokens), memo={})
    oracle_visits = 0
    for i, (gov, targets) in enumerate(queries):
        ref = SimpleNamespace(tokens=_CountingTokens(tokens))
        want = _oracle(ref, gov, targets)
        oracle_visits += ref.tokens.visits
        assert first_dependency_path(doc, gov, targets) == want, (gov,
                                                                  targets)
        if i == 0:      # fresh index: the same walk, node for node at most
            assert doc.tokens.visits <= ref.tokens.visits
    assert doc.tokens.visits <= oracle_visits
    # then every answer from a fully walked index: an absent target
    # exhausts each walk, and each id is looked up on its own
    for gov in _IDS:
        assert first_dependency_path(doc, gov, "absent") is None
        for tid in _IDS:
            assert first_dependency_path(doc, gov, tid) == _oracle(doc, gov,
                                                                   tid)


def test_preorder_matches_recursive_dfs_on_newswire():
    for name in NEWSWIRE:
        doc = parse_page(fx.fixture_text(name), name)
        rng = random.Random(name)
        for gov in doc.token_arr:
            sent = [t for t in doc.token_arr
                    if doc.tokens[t].sent_id == doc.tokens[gov].sent_id]
            for _ in range(3):
                targets = rng.sample(sent, min(len(sent), rng.randint(1, 3)))
                assert (first_dependency_path(doc, gov, targets)
                        == _oracle(doc, gov, targets))


# -- the process-wide dependency-order cache ------------------------------

def test_order_cache_stays_flat_over_distinct_entity_ids():
    """Pages that share their token ids but not their entity ids (as
    crawled pages do) add nothing to the cache: only dependency-map
    orders are memoized, and as tuples."""
    text = fx.fixture_text("wsj_1014")

    def run(i):
        renamed = re.sub(r"\b(e|tmx)(\d+)\b",
                         lambda m: f"{m[1]}{int(m[2]) + 100_000 * i}", text)
        doc = parse_page(renamed, f"page{i}")
        temporal_triples(doc, LX)
        causal_triples(doc, lexicons=LX)

    run(0)
    size = len(javacompat._ORDER_CACHE)
    for i in range(1, 6):
        run(i)
    assert len(javacompat._ORDER_CACHE) == size
    assert all(type(v) is tuple for v in javacompat._ORDER_CACHE.values())
