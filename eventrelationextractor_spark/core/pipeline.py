"""Per-document end-to-end extraction: the TempRelPro / CauseRelPro sieve
cascades (SURVEY.md §3.1, §3.2) as pure functions DocState -> triples.

Semantics follow /root/reference/src/relpro/TempRelPro.java:508-615
(testModel: tt rules -> E-DCT rule(+clf) -> E-T rule(+clf) -> E-E rule(+clf))
and CauseRelPro.java:97-305,377-398. ``page_triples`` runs both cascades
on one page and decides everything that page yields; at the Spark layer it
is called once per page inside ``spark.stages._map_pages``' ``mapInArrow``
- the corpus is embarrassingly parallel by url.

Replicated quirks:
* the timex-timex loop iterates ``doc.getEntities().keySet().toArray()`` in
  Java HashMap order (TempRelPro.java:64) - reproduced via javacompat so
  which member of a pair is t1 matches the reference;
* the rule mutates DCT timexes (strip time-of-day, force DATE) before any
  comparison - applied once up front, which is equivalent because the
  mutation is idempotent;
* EE rule output IDENTITY is remapped to SIMULTANEOUS (TempRelPro.java:572);
* causal candidates are gated on sentence-level signal/verb hits
  (CauseRelPro.java:61-95) and emitted in HashMap order of the "e1,e2" keys;
* the causal classifier gate evaluates getCausalSignal on the *unordered*
  pair (CauseRelPro.java:218-222) while features use the ordered pair;
  the gate runs first, so feature rows are built only for gated pairs;
* causal classifier predictions equal to NONE are dropped
  (CauseRelPro.java:392).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from . import features
from .deps import ee_dependency_path, et_dependency_path, pair_order
from .docmodel import DocState, Mention
from .eventrules import (event_causality_rule, event_event_anchor_rule,
                         event_event_rule, event_timex_rule)
from .javacompat import java_hashmap_order
from .lexicons import Lexicons, load_lexicons
from .liblinear import CAUS_LABELS, TEMP_LABELS, shipped_model
from .markers import _get_string, get_causal_signal, get_causal_verb
from .timegraph import keep_consistent
from .timexrule import inverse_relation, normalize_dct, timex_timex_relation

MODES = ("temporal", "causal", "both")


@dataclass
class Triple:
    source: str
    target: str
    rel: str
    stage: str          # 'tt-rule' | '{dct,et,ee}-rule' | '{dct,et,ee}-clf'
    pair_type: str      # 'tt' | 'ed' | 'et' | 'ee' | 'causal' | 'meta'


def timex_timex_rule_links(doc: DocState,
                           max_timexes: int | None = None,
                           pair_slice: tuple | None = None) -> dict:
    """getTimexTimexRuleRelation (TempRelPro.java:63-83): both directions.

    ``max_timexes`` is the giant-page skew guard (SURVEY.md §7.1 step 8):
    the loop is O(n_timex^2) per document, so web pages with pathological
    timex counts are truncated to the first ``max_timexes`` mentions in
    entity order rather than stalling a task; truncation is recorded in
    ``doc.memo['tt_truncated']`` for lineage.

    ``pair_slice=(s, k)`` is the lossless alternative used by the salted
    repartition path (stages.extract_triples_salted): only timex pairs
    whose running index is congruent to s mod k are evaluated, so k salted
    copies of a giant document partition its O(n^2) pair space exactly.
    Entity normalization stays unconditional, so chunk outputs are
    independent of which chunk runs first."""
    if doc.dct is not None:
        doc.dct.tmx_type, doc.dct.tmx_value = normalize_dct(
            doc.dct.tmx_type, doc.dct.tmx_value)
    dct_value = doc.dct.tmx_value if doc.dct is not None else ""
    keys = java_hashmap_order(list(doc.entities.keys()))
    if max_timexes is not None:
        n_tmx = 0
        kept = []
        for k in keys:
            if doc.entities[k].is_timex:
                n_tmx += 1
                if n_tmx > max_timexes:
                    doc.memo["tt_truncated"] = True
                    continue
            kept.append(k)
        keys = kept
    # pre-filter to timexes (same order): the inner loop then touches
    # only timex pairs instead of re-testing every entity pair
    tkeys = [k for k in keys if doc.entities[k].is_timex]
    tt: dict = {}
    pair_idx = 0
    for i in range(len(tkeys)):
        e1 = doc.entities[tkeys[i]]
        if e1.is_dct:
            e1.tmx_type, e1.tmx_value = normalize_dct(e1.tmx_type, e1.tmx_value)
        for j in range(i + 1, len(tkeys)):
            e2 = doc.entities[tkeys[j]]
            if e2.is_dct:
                e2.tmx_type, e2.tmx_value = normalize_dct(e2.tmx_type,
                                                          e2.tmx_value)
            mine = (pair_slice is None
                    or pair_idx % pair_slice[1] == pair_slice[0])
            pair_idx += 1
            if not mine:
                continue
            rel = timex_timex_relation(e1.tmx_type, e1.tmx_value,
                                       e2.tmx_type, e2.tmx_value, dct_value,
                                       identity_rel=False)
            if rel != "O":
                tt[(tkeys[i], tkeys[j])] = rel
                tt[(tkeys[j], tkeys[i])] = inverse_relation(rel)
    return tt


def _candidate_groups(doc: DocState):
    """Candidate pair routing (F1-F3): dct / et / ee groups, each pair
    canonically ordered (R7) with label inversion on swap."""
    dct_pairs, et_pairs, ee_pairs = [], [], []
    for src, tgt, rel in doc.tlinks:
        if src == tgt or src not in doc.entities or tgt not in doc.entities:
            continue
        e1, e2 = doc.entities[src], doc.entities[tgt]
        if e1.kind == "EVENT" and e2.kind == "EVENT":
            label = rel
            if pair_order(doc, e1, e2) == "AFTER":
                e1, e2 = e2, e1
                label = inverse_relation(label)
            ee_pairs.append((e1, e2, label))
        elif e1.is_timex != e2.is_timex:
            label = rel
            if e1.is_timex:
                e1, e2 = e2, e1
                label = inverse_relation(label)
            if e2.is_dct:
                dct_pairs.append((e1, e2, label))
            else:
                et_pairs.append((e1, e2, label))
    return dct_pairs, et_pairs, ee_pairs


def build_anchor_maps(doc: DocState, et_triples) -> tuple:
    """Anchor maps for R4 from E-T sieve outputs: an event anchors to a
    timex it IS_INCLUDED in / SIMULTANEOUS with; BEFORE/AFTER links feed
    the directional maps (our wiring - the reference exposes the rule but
    ships no builder; EventEventRelationRule.java:413-450)."""
    etanchor: dict = {}
    etbefore: dict = {}
    etafter: dict = {}
    for t in et_triples:
        ev, tmx = t.source, t.target
        if t.rel in ("IS_INCLUDED", "SIMULTANEOUS", "INCLUDES"):
            etanchor.setdefault(ev, tmx)
        elif t.rel == "BEFORE":
            etbefore.setdefault(ev, tmx)
        elif t.rel == "AFTER":
            etafter.setdefault(ev, tmx)
    return etanchor, etbefore, etafter


def temporal_triples(doc: DocState, lexicons: Lexicons | None = None,
                     anchor_deduction: bool = False,
                     max_timexes: int | None = None,
                     pair_slice: tuple | None = None) -> list:
    """The full temporal sieve cascade (TempRelPro.testModel).

    ``anchor_deduction=True`` additionally applies R4 (timex-anchor EE
    deduction) for EE pairs the dependency/Reichenbach rules leave
    unlabeled, before they fall through to the classifier - mirroring the
    8-arg EventEventRelationRule constructor (rule first, anchors second,
    EventEventRelationRule.java:66-91)."""
    lx = lexicons or load_lexicons()
    out: list[Triple] = []

    tt = timex_timex_rule_links(doc, max_timexes=max_timexes,
                                pair_slice=pair_slice)
    for (src, tgt), rel in tt.items():
        out.append(Triple(src, tgt, rel, "tt-rule", "tt"))

    if pair_slice is not None and pair_slice[0] != 0:
        # salted copies s>0 own only their tt chunk; the candidate sieves
        # (linear in pair-candidate count) run once, on copy 0
        return out
    if pair_slice is not None and anchor_deduction:
        raise ValueError("anchor_deduction needs the full tt map; "
                         "disable it when pair-slicing giant docs")

    dct_pairs, et_pairs, ee_pairs = _candidate_groups(doc)

    dct_clf, et_clf, ee_clf = [], [], []
    for e1, e2, label in dct_pairs:
        dep = et_dependency_path(doc, e1, e2)
        rel = event_timex_rule(doc, e1, e2, dep)
        if rel != "O":
            out.append(Triple(e1.mid, e2.mid, rel, "dct-rule", "ed"))
        else:
            dct_clf.append((e1, e2, label))
    for e1, e2, label in et_pairs:
        dep = et_dependency_path(doc, e1, e2)
        rel = event_timex_rule(doc, e1, e2, dep)
        if rel != "O":
            out.append(Triple(e1.mid, e2.mid, rel, "et-rule", "et"))
        else:
            et_clf.append((e1, e2, label))
    anchor_maps = None
    if anchor_deduction:
        et_out = [t for t in out if t.pair_type in ("et", "ed")]
        anchor_maps = build_anchor_maps(doc, et_out)
    for e1, e2, label in ee_pairs:
        dep = ee_dependency_path(doc, e1, e2)
        rel = event_event_rule(doc, e1, e2, dep)
        if rel == "O" and anchor_maps is not None:
            rel = event_event_anchor_rule(e1.mid, e2.mid, *anchor_maps, tt)
            if rel in ("DURING", "DURING_INV"):
                rel = "SIMULTANEOUS"
            if rel != "O":
                out.append(Triple(e1.mid, e2.mid, rel, "ee-anchor", "ee"))
                continue
        if rel != "O":
            if rel == "IDENTITY":
                rel = "SIMULTANEOUS"
            out.append(Triple(e1.mid, e2.mid, rel, "ee-rule", "ee"))
        else:
            ee_clf.append((e1, e2, label))

    # Both event-timex branches use the ET featureList: TempRelPro
    # instantiates EventTimexRelationClassifier for the DCT model too
    # (TempRelPro.java:511-512); EventDctRelationClassifier's richer list is
    # unused by the shipped pipeline.
    for group, name, ptype, build in (
            (dct_clf, "dct", "ed", lambda g: features.et_vector(doc, g)),
            (et_clf, "et", "et", lambda g: features.et_vector(doc, g)),
            (ee_clf, "ee", "ee",
             lambda g: features.ee_vector(doc, g, lx))):
        if not group:
            continue
        preds = shipped_model(name).predict_strings(build(group)[:, :-1],
                                                    TEMP_LABELS)
        for (e1, e2, _), rel in zip(group, preds):
            out.append(Triple(e1.mid, e2.mid, rel, name + "-clf", ptype))
    return out


def _sentence_lemma_text(doc: DocState, sent) -> str:
    i0 = doc.tokens[sent.start_tok].idx
    i1 = doc.tokens[sent.end_tok].idx
    return " ".join(doc.tokens[t].lemma for t in doc.token_arr[i0:i1 + 1])


def _gate_hit(text: str, regex) -> bool:
    return regex.search(" " + text + " ") is not None


def causal_candidate_pairs(doc: DocState, lx: Lexicons) -> list:
    """getCandidatePairs (CauseRelPro.java:97-153) in HashMap key order."""
    clinks = {}
    for src, tgt in doc.clinks:
        clinks[src + "," + tgt] = "CLINK"
        clinks[tgt + "," + src] = "CLINK-R"

    # sentence gates; single alternation regexes, compiled once per process.
    # Reference bug kept: isContainCausalSignal (CauseRelPro.java:61-77)
    # iterates csignalList.getList() whose KEYS are the numeric signal ids
    # ("1".."65"), so the signal gate actually tests for standalone number
    # tokens, not the signal phrases.
    sig_re = lx.gate_signal_regex()
    verb_re = lx.gate_verb_regex()
    sent_has_signal = {}
    sent_has_verb = {}
    for sid in doc.sentence_arr:
        s = doc.sentences[sid]
        sent_has_signal[sid] = _gate_hit(
            _get_string(doc, s.start_tok, s.end_tok), sig_re)
        sent_has_verb[sid] = _gate_hit(_sentence_lemma_text(doc, s), verb_re)

    candidates: dict = {}
    for si, sid in enumerate(doc.sentence_arr):
        s1 = doc.sentences[sid]
        gate_same = sent_has_signal[sid] or sent_has_verb[sid]
        for i, mid1 in enumerate(s1.entity_arr):
            e1 = doc.entities[mid1]
            if gate_same and i < len(s1.entity_arr) - 1:
                for mid2 in s1.entity_arr[i + 1:]:
                    e2 = doc.entities[mid2]
                    if e1.kind == "EVENT" and e2.kind == "EVENT":
                        pair = mid1 + "," + mid2
                        if pair not in candidates:
                            candidates[pair] = clinks.get(pair, "NONE")
            if si < len(doc.sentence_arr) - 1:
                sid2 = doc.sentence_arr[si + 1]
                if sent_has_signal[sid2]:
                    for mid2 in doc.sentences[sid2].entity_arr:
                        e2 = doc.entities[mid2]
                        if e1.kind == "EVENT" and e2.kind == "EVENT":
                            pair = mid1 + "," + mid2
                            if pair not in candidates:
                                candidates[pair] = clinks.get(pair, "NONE")
    order = java_hashmap_order(list(candidates.keys()))
    return [(k, candidates[k]) for k in order]


def causal_triples(doc: DocState, tlinks_map: dict | None = None,
                   lexicons: Lexicons | None = None) -> list:
    """The causal cascade: rule sieve then gated classifier
    (CauseRelPro.getEventEventClinksPerText + testModel)."""
    lx = lexicons or load_lexicons()
    tlinks_map = tlinks_map or {}
    out: list[Triple] = []
    clf = []

    for pair, gold in causal_candidate_pairs(doc, lx):
        src, tgt = pair.split(",")
        e1, e2 = doc.entities[src], doc.entities[tgt]
        # ordered pair for rule + features (EventEventFeatureVector.orderPair)
        o1, o2, olabel = e1, e2, gold
        if pair_order(doc, e1, e2) == "AFTER":
            o1, o2 = e2, e1
            olabel = inverse_relation(gold)   # CLINK not in the temp table

        m = get_causal_verb(doc, o1, o2, lx)
        rule = event_causality_rule(m, o1.sent_id == o2.sent_id)
        if rule != "O":
            rel = "CLINK-R" if "-R" in rule else "CLINK"
            out.append(Triple(o1.mid, o2.mid, rel, "causal-rule", "causal"))
            continue

        # classifier gate (F6): causal-signal dep path of the unordered
        # pair, checked before any feature is built
        gate = get_causal_signal(doc, e1, e2, lx)
        if (gate.dep1 or "O") + "|" + (gate.dep2 or "O") == "O|O":
            continue

        # tlink-type feature (J4): looked up on the *unordered* pair
        tlink_type = "O"
        if not tlinks_map:
            if src + "," + tgt in doc.tlink_types:
                tlink_type = doc.tlink_types[src + "," + tgt]
            elif tgt + "," + src in doc.tlink_types:
                tlink_type = inverse_relation(doc.tlink_types[tgt + "," + src])
        else:
            tlink_type = tlinks_map.get(src + "," + tgt, "O")
        clf.append((o1, o2, olabel, tlink_type))

    if clf:
        X = features.causal_vector(doc, clf, lx)[:, :-1]
        preds = shipped_model("causal").predict_strings(X, CAUS_LABELS)
        for (o1, o2, _, _), rel in zip(clf, preds):
            if rel != "NONE":
                out.append(Triple(o1.mid, o2.mid, rel, "causal-clf", "causal"))
    return out


def check_mode(mode: str) -> None:
    """Raise ValueError unless ``mode`` is one of MODES."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")


def page_triples(doc: DocState, lexicons: Lexicons, mode: str,
                 max_timexes: int | None = None,
                 consistent_only: bool = False,
                 tlinks_from_temporal: bool = False,
                 pair_slice: tuple | None = None) -> list:
    """Every triple one page yields, in order: the temporal cascade
    (``mode`` 'temporal' or 'both'), then the causal cascade ('causal' or
    'both'), then one ``_doc TRUNCATED _doc`` meta triple when
    ``max_timexes`` cut the timex-timex loop.

    ``consistent_only`` passes the temporal triples through the
    document's timegraph consistency filter (G1). ``tlinks_from_temporal``
    is J4: the causal classifier's tlink-type feature is read from those
    (filtered) temporal triples, as CauseRelPro.main does with an
    externally supplied tlink map, instead of the page's annotated tlink
    cells. A salted copy ``pair_slice=(s, k)`` with s > 0 yields only its
    tt chunk (see ``timex_timex_rule_links``)."""
    check_mode(mode)
    out = []
    if mode != "causal":
        out = temporal_triples(doc, lexicons, max_timexes=max_timexes,
                               pair_slice=pair_slice)
        if consistent_only:
            out = keep_consistent(out)
    if pair_slice is not None and pair_slice[0] != 0:
        return out
    if mode != "temporal":
        tlinks_map = ({t.source + "," + t.target: t.rel for t in out}
                      if tlinks_from_temporal else None)
        out += causal_triples(doc, tlinks_map=tlinks_map, lexicons=lexicons)
    if doc.memo.get("tt_truncated"):
        out.append(Triple("_doc", "_doc", "TRUNCATED", "tt-truncated",
                          "meta"))
    return out


def ee_clf_probabilities(doc: DocState, lexicons: Lexicons | None = None):
    """M3: per-class decision values + liblinear probabilities for the
    event-event pairs that reach the classifier sieve (stage 'ee-clf' of
    ``temporal_triples`` - rule-undecided pairs, exactly the set
    EventEventRelationClassifier scores).

    Returns rows (source, target, label_name, dec, prob), one per model
    class in model-label column order. Probabilities use liblinear-java's
    predictProbability formula (per-class sigmoid + normalize) applied to
    the shipped SVC model via force=True; liblinear itself would throw on
    a non-LR solver - see LinearModel.predict_probabilities."""
    lx = lexicons or load_lexicons()
    trips = temporal_triples(doc, lx)
    pairs = [(t.source, t.target) for t in trips if t.stage == "ee-clf"]
    if not pairs:
        return []
    model = shipped_model("ee")
    X = features.ee_vector(doc, [(doc.entities[s], doc.entities[t], "NONE")
                                 for s, t in pairs], lx)[:, :-1]
    dec = model.predict_values(X)
    prob = model.predict_probabilities(X, force=True)
    names = [TEMP_LABELS[v - 1] for v in model.labels]
    out = []
    for i, (s, t) in enumerate(pairs):
        for j, name in enumerate(names):
            out.append((s, t, name, float(dec[i, j]), float(prob[i, j])))
    return out
