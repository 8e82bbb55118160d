"""R2 (event-timex), R3 (event-event) and R5 (causal verb) rule sieves.

Semantics follow /root/reference/src/model/rule/EventTimexRelationRule.java
(23-197) and EventEventRelationRule.java (48-468).

Replicated reference quirks:
* The ET rule's constructor checks the returned code against "TMX_END"
  (underscore) while getTimexRule returns "TMX-END" (hyphen), so ENDED_BY is
  never produced from the timespan branch; a TMX-END return leaves whatever
  the TMP branch set (EventTimexRelationRule.java:28-35).
* The MEASURE branch reads the field before the 5-arg constructor sets it,
  so MEASURE never fires (EventTimexRelationRule.java:17-38) and is not
  ported.
* EE DURING/DURING_INV are post-mapped to SIMULTANEOUS
  (EventEventRelationRule.java:60-63).
"""

from __future__ import annotations

from .deps import span_token_ids
from .docmodel import DocState, Mention

_ASP_INIT = ("begin", "start", "initiate", "commence", "launch")
_ASP_TERM = ("stop", "finish", "terminate", "cease")
_ASP_CONT = ("continue", "retain", "keep")
_ASP_REMAIN = ("remain",)


def _lemma_string(doc: DocState, start_tok: str, end_tok: str) -> str:
    """EventTimexRelationRule.getString (50-57): lowercased lemma join."""
    return " ".join(doc.tokens[t].lemma.lower()
                    for t in span_token_ids(doc, start_tok, end_tok))


def event_timex_rule(doc: DocState, ev: Mention, tmx: Mention,
                     dep_path: str) -> str:
    """EventTimexRelationRule (23-197). Returns TLINK label or 'O'."""
    rel = "O"
    timex_code = "O"

    if not tmx.is_dct and not tmx.is_empty:
        if ev.sent_id == tmx.sent_id:
            s = doc.sentences[tmx.sent_id]
            ent_arr = s.entity_arr
            eidx = ent_arr.index(tmx.mid)
            tidx_start = doc.tokens[tmx.start_tok].idx
            tidx_start_sent = doc.tokens[s.start_tok].idx

            if tidx_start > tidx_start_sent:
                if ("TMP" in dep_path and "OBJ" not in dep_path
                        and "SUB" not in dep_path and "NMOD" not in dep_path):
                    # preceding-lemma window (94-103): note the unconditional
                    # tokenArr[tidxStart-1] endpoint.
                    if tidx_start - 1 > 0:
                        tid_before_start = doc.token_arr[tidx_start - 1]
                    else:
                        tid_before_start = doc.token_arr[tidx_start_sent]
                    tid_before = doc.token_arr[tidx_start - 1]
                    before_tmx = _lemma_string(doc, tid_before_start, tid_before)

                    if (before_tmx in ("for", "during", "through", "throughout")
                            and tmx.tmx_type == "DURATION"):
                        rel = "BEFORE" if "OPRD-IM" in dep_path else "DURING"
                    elif (before_tmx in ("in", "within")
                          and tmx.tmx_type == "DURATION"):
                        rel = "BEFORE" if "OPRD-IM" in dep_path else "IS_INCLUDED"
                    elif (before_tmx in ("in", "at", "on")
                          and tmx.tmx_type in ("DATE", "TIME")):
                        rel = "IS_INCLUDED"
                    elif before_tmx == "after":
                        rel = "AFTER"
                    elif before_tmx == "before":
                        rel = "BEFORE"
                    elif before_tmx in ("from", "since"):
                        rel = "BEGUN_BY"
                    elif before_tmx in ("until", "till") and ev.pol == "POS":
                        rel = "ENDED_BY"
                    else:
                        rel = "IS_INCLUDED"

                # timespan constructions (142-187)
                if (eidx < len(ent_arr) - 1
                        and doc.entities[ent_arr[eidx + 1]].is_timex):
                    tmx2 = doc.entities[ent_arr[eidx + 1]]
                    t2i = doc.tokens[tmx2.start_tok].idx
                    before1 = doc.tokens[doc.token_arr[tidx_start - 1]].lemma
                    before2 = doc.tokens[doc.token_arr[t2i - 1]].lemma
                    if tmx2.tmx_type in ("DATE", "TIME"):
                        if ((before1 == "between" and before2 == "and")
                                or (before1 == "from"
                                    and before2 in ("to", "until", "till"))
                                or before2 == "-"
                                or before2 in ("until", "till")):
                            timex_code = "TMX-BEGIN"
                elif eidx > 0 and doc.entities[ent_arr[eidx - 1]].is_timex:
                    tmx1 = doc.entities[ent_arr[eidx - 1]]
                    t1i = doc.tokens[tmx1.start_tok].idx
                    before1 = doc.tokens[doc.token_arr[t1i - 1]].lemma
                    before2 = doc.tokens[doc.token_arr[tidx_start - 1]].lemma
                    if tmx1.tmx_type in ("DATE", "TIME"):
                        if ((before1 == "between" and before2 == "and")
                                or (before1 == "from"
                                    and before2 in ("to", "until", "till"))
                                or before2 == "-"
                                or before2 == "until"):
                            timex_code = "TMX-END"
    elif tmx.is_dct:
        # DCT branch (189-204)
        if ev.tense == "FUTURE":
            rel = "AFTER"
        elif ev.tense == "PRESENT" and ev.aspect in ("PROGRESSIVE",
                                                     "PERFECTIVE_PROGRESSIVE"):
            rel = "INCLUDES"
        elif ev.tense == "PAST" and ev.aspect == "PERFECTIVE":
            rel = "BEFORE"

    # constructor merge (28-38) incl. the TMX_END typo
    if timex_code != "O":
        if timex_code == "TMX-BEGIN":
            rel = "BEGUN_BY"
        elif timex_code == "TMX_END":  # never true: reference typo kept
            rel = "ENDED_BY"
    return rel


def _reporting_rules(gov: Mention, dep: Mention) -> str:
    """reportingEventRules (EventEventRelationRule.java:360-386)."""
    if gov.tense == "PRESENT" and dep.tense == "PAST":
        return "AFTER"
    if (gov.tense == "PRESENT" and dep.tense == "PRESENT"
            and dep.aspect == "PERFECTIVE"):
        return "AFTER"
    if gov.tense == "PRESENT" and dep.tense == "FUTURE":
        return "BEFORE"
    if (gov.tense == "PAST" and dep.tense == "PAST"
            and dep.aspect == "PERFECTIVE"):
        return "AFTER"
    if (gov.tense == "PAST" and dep.tense == "PAST"
            and dep.aspect == "PROGRESSIVE"):
        return "IS_INCLUDED"
    return "O"


def _reichenbach_rules(e1: Mention, e2: Mention) -> str:
    """reichenbachRules (389-411)."""
    if (e1.tense == "PAST" and e1.aspect == "NONE"
            and e2.tense == "PAST" and e2.aspect == "PERFECTIVE"):
        return "AFTER"
    if (e1.tense == "FUTURE" and e1.aspect == "NONE"
            and e2.tense == "PRESENT" and e2.aspect == "PERFECTIVE"):
        return "AFTER"
    if (e1.tense == "PAST" and e1.aspect == "NONE"
            and e2.tense == "FUTURE" and e2.aspect == "NONE"):
        return "BEFORE"
    return "O"


def event_event_rule(doc: DocState, e1: Mention, e2: Mention,
                     dep_path: str) -> str:
    """EventEventRelationRule 4-arg constructor + getEventRule (48-357).
    Returns TLINK label or 'O' (DURING/DURING_INV already remapped)."""
    rel = "O"
    if e1.sent_id == e2.sent_id:
        s = doc.sentences[e1.sent_id]
        ent_arr = s.entity_arr
        eidx1 = ent_arr.index(e1.mid) if e1.mid in ent_arr else -1
        eidx2 = ent_arr.index(e2.mid) if e2.mid in ent_arr else -1
        adjacent = eidx1 < eidx2 and eidx2 - eidx1 == 1

        if adjacent and dep_path == "LGS-PMOD":
            rel = "AFTER"
        elif adjacent and dep_path == "OPRD-IM":
            lemma1 = doc.tokens[e1.start_tok].lemma
            if lemma1 in _ASP_INIT:
                rel = "BEGINS"
            elif lemma1 in _ASP_TERM:
                rel = "ENDS"
            elif lemma1 in _ASP_CONT:
                rel = "INCLUDES"
            elif lemma1 in _ASP_REMAIN:
                rel = "DURING_INV"
            elif e1.aspect == "PERFECTIVE_PROGRESSIVE":
                rel = "SIMULTANEOUS"
            else:
                rel = "BEFORE"
        elif dep_path == "OBJ-SUB" and e1.ev_class == "REPORTING":
            r = _reporting_rules(e1, e2)
            if r != "O":
                rel = r
        elif dep_path == "OBJ_REV" and e2.ev_class == "REPORTING":
            r = _reporting_rules(e2, e1)
            if r != "O":
                rel = r
        elif dep_path == "LOC-PMOD":
            rel = "IS_INCLUDED"
        elif dep_path == "PMOD-LOC":
            rel = "INCLUDES"
        else:
            r = _reichenbach_rules(e1, e2)
            if r != "O":
                rel = r

    if rel in ("DURING", "DURING_INV"):
        rel = "SIMULTANEOUS"
    return rel


def event_event_anchor_rule(e1_id: str, e2_id: str, etanchor: dict,
                            etbefore: dict, etafter: dict,
                            ttlinks: dict) -> str:
    """R4/J5: EE deduction through timex anchors
    (EventEventRelationRule.getEventRule 8-arg variant, 413-450).

    ``etanchor/etbefore/etafter`` map event id -> anchoring timex id;
    ``ttlinks`` maps (tmx1, tmx2) -> rule-derived relation. The reference
    ships no caller that builds these maps (the API is exposed unused);
    ``pipeline.build_anchor_maps`` wires them from the E-T sieve outputs.
    """
    if e1_id in etanchor and e2_id in etanchor:
        return ttlinks.get((etanchor[e1_id], etanchor[e2_id]), "O")
    if e1_id in etbefore and e2_id in etanchor:
        rel = ttlinks.get((etbefore[e1_id], etanchor[e2_id]))
        return rel if rel == "BEFORE" else "O"
    if e1_id in etafter and e2_id in etanchor:
        rel = ttlinks.get((etafter[e1_id], etanchor[e2_id]))
        return rel if rel == "AFTER" else "O"
    if e1_id in etanchor and e2_id in etafter:
        rel = ttlinks.get((etanchor[e1_id], etafter[e2_id]))
        return rel if rel == "BEFORE" else "O"
    if e1_id in etanchor and e2_id in etbefore:
        rel = ttlinks.get((etanchor[e1_id], etbefore[e2_id]))
        return rel if rel == "AFTER" else "O"
    return "O"


# depRelE1 whitelists of the causal-verb rule (getEventCausalityRule,
# EventEventRelationRule.java:93-282)
_DEP1_COMMON = ("SBJ", "ADV", "NMOD", "APPO", "PRD-IM", "PRP-IM")
_DEP1_BY_CLUSTER = {
    "AFFECT": _DEP1_COMMON,
    "LINK": _DEP1_COMMON + ("APPO-OPRD-IM", "NMOD-OPRD-IM"),
    "CAUSE": _DEP1_COMMON,
    "CAUSE-AMBIGUOUS": ("SBJ", "ADV", "NMOD", "PRD-IM", "PRP-IM",
                        "SBJ-PMOD", "SBJ-ADV-PMOD"),
    "PREVENT": _DEP1_COMMON + ("OBJ-IM",),
    "PREVENT-AMBIGUOUS": ("SBJ", "ADV", "NMOD", "PRD-IM", "PRP-IM",
                          "ADV-PMOD-IM"),
    "ENABLE": _DEP1_COMMON + ("OBJ-NMOD", "IM", "NMOD-IM"),
}


def event_causality_rule(marker, same_sentence: bool) -> str:
    """getEventCausalityRule decision table over the causal-verb Marker.

    Returns the cVerb code ('O', 'NONE', 'CAUSE', 'CAUSE-R', 'PREVENT',
    'PREVENT-R', 'ENABLE', 'AFFECT', 'LINK', ...). Callers map codes
    containing '-R' to CLINK-R and other non-O/NONE codes to CLINK
    (CauseRelPro.java:183-188)."""
    if not same_sentence:
        return "O"
    m = marker
    if m.cluster in (None, "O"):
        return "O"
    cluster = m.cluster

    if cluster == "AFFECT":
        if m.dep1 in _DEP1_BY_CLUSTER["AFFECT"]:
            return "AFFECT" if m.dep2 == "OBJ" else "NONE"
        return "NONE"
    if "LINK" in cluster:
        if m.dep1 in _DEP1_BY_CLUSTER["LINK"]:
            if m.dep2 in ("DIR-PMOD", "ADV-PMOD", "NMOD-PMOD", "AMOD-PMOD"):
                return cluster
            return "NONE"
        return "NONE"
    if cluster == "CAUSE":
        if m.dep1 in _DEP1_BY_CLUSTER["CAUSE"]:
            if m.dep2 == "OBJ":
                return "CAUSE"
            if m.dep2 in ("OPRD-IM", "OPRD"):
                return "CAUSE"
            if m.dep2 == "LGS-PMOD":
                return "CAUSE-R"
            return "NONE"
        return "NONE"
    if cluster == "CAUSE-AMBIGUOUS":
        if m.dep1 in _DEP1_BY_CLUSTER["CAUSE-AMBIGUOUS"]:
            if m.dep2 == "OPRD-IM":
                return "CAUSE"
            if m.text == "make" and m.dep2 == "OPRD-SUB-IM":
                return "CAUSE"
            return "NONE"
        return "NONE"
    if cluster == "PREVENT":
        if m.dep1 in _DEP1_BY_CLUSTER["PREVENT"]:
            if m.dep2 == "OBJ":
                return "PREVENT"
            if m.dep2 in ("OPRD-IM", "OPRD", "ADV-PMOD"):
                return "PREVENT"
            if m.dep2 == "LGS-PMOD":
                return "PREVENT-R"
            return "NONE"
        return "NONE"
    if cluster == "PREVENT-AMBIGUOUS":
        if m.dep1 in _DEP1_BY_CLUSTER["PREVENT-AMBIGUOUS"]:
            if m.dep2 in ("ADV-PMOD", "OPRD"):
                return "PREVENT"
            return "NONE"
        return "NONE"
    if cluster == "ENABLE":
        if m.dep1 in _DEP1_BY_CLUSTER["ENABLE"]:
            if m.dep2 == "OBJ" and m.text in ("ensure", "guarantee"):
                return "ENABLE"
            if m.dep2 in ("OPRD-IM", "OPRD", "OBJ-IM"):
                return "ENABLE"
            return "NONE"
        return "NONE"
    # clusters outside the decision table leave cVerb at "O" in the Java
    return "O"
