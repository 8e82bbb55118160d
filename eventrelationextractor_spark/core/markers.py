"""Signal / verb marker search (operators X6-X8, A1).

Semantics follow /root/reference/src/model/feature/PairFeatureVector.java:
* pair temporal signal: getTemporalSignal (1139-1231)
* per-entity temporal signal: getTemporalSignalPerEntity (1233-1289)
* pair causal signal (regex lexicon): getCausalSignal (1372-1508)
* causal verb marker: getCausalVerb (1636-1756)
* signal->entity dependency paths: getSignalMateDependencyPath{,2} (672-871)
* marker candidate argmin with context-priority offsets (A1).

Replicated quirks (all cited to the Java):
* ``contextBetween`` is built from e1's *before*-context token
  (``tidBefore2 = getTidEntityBeforeAfter(e1).get(0)`` at 1165) so it spans
  e1 itself.
* For BEFORE/BEGIN positions the pair marker's depRelE1 is computed from
  **e2** and depRelE2 from **e1** (getSignalMarker, 1043-1056).
* getTemporalSignalPerEntity's BEGIN candidate measures distance with the
  "BETWEEN" branch (1280) and leaves depRelE2 as the empty string (1110).
* The causal signal map is iterated in HashMap order of its numeric-string
  ids (1406; the reverse-sort is commented out in the reference), with the
  running ``i`` offset and collision bumping.
* The connective markers (X9) only feed features absent from every shipped
  liblinear featureList, so they are not required for pipeline parity.

The searches keep each lexicon's order but skip what cannot match: a
temporal key whose first word is not a word of its contexts, a causal
pattern whose leading literal word is not (``Lexicons.causal_plan``).
"""

from __future__ import annotations

from .deps import (first_dependency_path, is_mate_passive_verb,
                   is_same_sentence, mate_coord_verb, mate_head_verb,
                   mate_object_from_verb, mate_subject_from_verb,
                   mate_verb_from_adj, mate_verb_from_sbj_noun,
                   span_token_ids, token_attr)
from .docmodel import DocState, Mention


class Marker:
    __slots__ = ("text", "cluster", "position", "dep1", "dep2")

    def __init__(self, text="O", cluster="O", position="O", dep1="O", dep2="O"):
        self.text = text
        self.cluster = cluster
        self.position = position
        self.dep1 = dep1
        self.dep2 = dep2


_NO_MARKER = Marker()


def java_split_space(s: str) -> list:
    """java.lang.String#split(" "): trailing empty strings removed,
    leading/inner ones kept."""
    parts = s.split(" ")
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def _get_string(doc: DocState, start_tok: str, end_tok: str) -> str:
    """PairFeatureVector.getString (653-660): lowercased token text join,
    over the document's lowered token texts (memoized once per doc)."""
    lowered = doc.memo.get("lowered")
    if lowered is None:
        lowered = doc.memo["lowered"] = [doc.tokens[t].text.lower()
                                         for t in doc.token_arr]
    return " ".join(lowered[doc.tokens[start_tok].idx:
                            doc.tokens[end_tok].idx + 1])


def _tid_entity_before_after(doc: DocState, e: Mention):
    """getTidEntityBeforeAfter (918-937): neighbours in the sentence's
    entity completion array."""
    s = doc.sentences[e.sent_id]
    ent_arr = s.entity_arr
    eidx = ent_arr.index(e.mid)
    if eidx == 0:
        before = s.start_tok
    else:
        prev = doc.entities[ent_arr[eidx - 1]]
        before = doc.token_arr[doc.tokens[prev.end_tok].idx + 1]
    if eidx == len(ent_arr) - 1:
        after = s.end_tok
    else:
        nxt = doc.entities[ent_arr[eidx + 1]]
        after = doc.token_arr[doc.tokens[nxt.start_tok].idx - 1]
    return before, after


def _tid_before_after(doc: DocState, e: Mention):
    """getTidBeforeAfter (939-956)."""
    s = doc.sentences[e.sent_id]
    if e.start_tok == s.start_tok:
        before = s.start_tok
    else:
        before = doc.token_arr[doc.tokens[e.start_tok].idx - 1]
    if e.end_tok == s.end_tok:
        after = s.end_tok
    else:
        after = doc.token_arr[doc.tokens[e.end_tok].idx + 1]
    return before, after


def _tid_begin(doc: DocState, sent) -> str:
    """tokenArr[indexOf(sentence start) + 4] (1170 etc.); clamped at doc end
    where the Java would throw."""
    i = doc.tokens[sent.start_tok].idx + 4
    return doc.token_arr[min(i, len(doc.token_arr) - 1)]


def _signal_tid_arr(doc: DocState, signal: str, context: str,
                    tid_start_context: str, position: str) -> list:
    """getSignalTidArr (872-891): locate the matched signal's token ids by
    counting spaces before its occurrence in the context string."""
    if position in ("BEFORE", "BETWEEN"):
        cut = context.rfind(signal)
    else:
        cut = context.find(signal)
    res = context.strip()[:max(cut, 0)]
    start = res.count(" ")
    t0 = doc.tok_index[tid_start_context] + start
    n = len(signal.strip().split(" "))
    return [doc.token_arr[i] for i in range(t0, min(t0 + n, len(doc.token_arr)))]


def _signal_entity_distance(signal: str, context: str, position: str) -> int:
    """getSignalEntityDistance (893-908)."""
    if position in ("BEFORE", "BETWEEN"):
        rev_ctx = " ".join(reversed(java_split_space(context)))
        rev_sig = " ".join(reversed(java_split_space(signal)))
        idx = rev_ctx.find(rev_sig)
        res = rev_ctx.strip()[:max(idx, 0)]
        return res.count(" ")
    idx = context.find(signal)
    res = context.strip()[:max(idx, 0)]
    return res.count(" ")


def _simplify_path(path: str, with_appo: bool) -> str:
    """simplifiedDependencyPath (662-676) / ...Path2 (766-777)."""
    if path != "-VC-OBJ":
        path = path.replace("-VC", "")
    path = path.replace("-COORD", "").replace("-CONJ", "")
    if not path.endswith("-NMOD") and not path.startswith("-NMOD-"):
        path = path.replace("-NMOD", "")
    if with_appo:
        if not path.endswith("AMOD"):
            path = path.replace("-AMOD", "")
        if not path.startswith("-APPO-"):
            path = path.replace("-APPO-", "-")
    path = path.replace("-EXTR-", "-")
    path = path.replace("-PMOD-PMOD", "-PMOD")
    return path


def signal_dependency_path(doc: DocState, e: Mention, ent_arr, signal_arr,
                           with_appo: bool = True) -> str:
    """getSignalMateDependencyPath (678-765) / variant 2 (780-871)."""
    sig_set = frozenset(signal_arr)
    mp = token_attr(doc, e, "mainpos")

    def attempt(gov, targets):
        p = first_dependency_path(doc, gov, targets)
        if p is None:
            return None
        sp = _simplify_path(p, with_appo)
        return sp[1:] if sp != "" else None

    for tid in ent_arr:
        gov = tid
        if mp == "v":
            gov = mate_head_verb(doc, tid)
        elif mp == "adj":
            v = mate_verb_from_adj(doc, tid)
            if v is not None:
                gov = v
        r = attempt(gov, sig_set)
        if r is not None:
            return r
        c = mate_coord_verb(doc, gov)
        if c is not None:
            r = attempt(c, sig_set)
            if r is not None:
                return r
        if mp == "n":
            v = mate_verb_from_sbj_noun(doc, tid)
            if v is not None:
                r = attempt(v, sig_set)
                if r is not None:
                    return r

    for sig_tid in signal_arr:
        for ent_tid in ent_arr:
            if doc.tokens[sig_tid].main_pos == "v":
                gov = mate_head_verb(doc, sig_tid)
                if mate_subject_from_verb(doc, gov) == ent_tid:
                    return "SBJ"
                if mate_object_from_verb(doc, sig_tid) == ent_tid:
                    return "OBJ"
            dep = ent_tid
            if mp == "v":
                dep = mate_head_verb(doc, ent_tid)
            elif mp == "adj":
                v = mate_verb_from_adj(doc, ent_tid)
                if v is not None:
                    dep = v
            r = attempt(sig_tid, (dep,))
            if r is not None:
                return r
            c = mate_coord_verb(doc, dep)
            if c is not None:
                r = attempt(sig_tid, (c,))
                if r is not None:
                    return r
            if mp == "n":
                v = mate_verb_from_sbj_noun(doc, dep)
                if v is not None:
                    r = attempt(sig_tid, (v,))
                    if r is not None:
                        return r
    return "O"


def _pair_signal_marker(doc: DocState, e1: Mention, e2: Mention, signal_list,
                        text: str, position: str, context: str,
                        context_start_tid: str) -> Marker:
    """getSignalMarker 5-arg overload (1013-1060): note the e1/e2 swap for
    BEFORE/BEGIN positions."""
    m = Marker(text=text, cluster=signal_list.get(text), position=position)
    sig_tids = _signal_tid_arr(doc, text, context, context_start_tid, position)
    m.dep1, m.dep2 = _positioned_deps(doc, e1, e2, position, sig_tids)
    return m


def _positioned_deps(doc: DocState, e1: Mention, e2: Mention, position: str,
                     tids: list) -> tuple:
    """(dep1, dep2) of a marker at ``position``, shared by the pair signal
    and connective markers: both entities' paths BETWEEN/INSIDE, the
    e1/e2 swap for BEFORE/BEGIN, one side only for BEGIN-BEFORE (e1) and
    BEGIN-BETWEEN (e2), "O" otherwise."""
    def dep(e):
        return signal_dependency_path(
            doc, e, span_token_ids(doc, e.start_tok, e.end_tok), tids)

    if position in ("BETWEEN", "INSIDE"):
        return dep(e1), dep(e2)
    if position in ("BEFORE", "BEGIN"):
        return dep(e2), dep(e1)
    if position == "BEGIN-BEFORE":
        return dep(e1), "O"
    if position == "BEGIN-BETWEEN":
        return "O", dep(e2)
    return "O", "O"


def _keyed_signal_marker(doc: DocState, e1: Mention, e2: Mention, signal_list,
                         key: str, text: str, position: str, context: str,
                         context_start_tid: str) -> Marker:
    """getSignalMarker 6-arg overload (1062-1108): both dep paths computed,
    then containment reduction (used by the causal signal search)."""
    m = Marker(text=text, cluster=signal_list.get(key), position=position)
    sig_tids = _signal_tid_arr(doc, text, context, context_start_tid, position)
    d1 = signal_dependency_path(doc, e1,
                                span_token_ids(doc, e1.start_tok, e1.end_tok),
                                sig_tids)
    d2 = signal_dependency_path(doc, e2,
                                span_token_ids(doc, e2.start_tok, e2.end_tok),
                                sig_tids)
    if d2 in d1:
        d1 = d1.replace(d2, "O")
        if d1 == "":
            d1 = "O"
        d2 = "O"
    elif d1 in d2:
        d2 = d2.replace(d1, "O")
        if d2 == "":
            d2 = "O"
        d1 = "O"
    m.dep1, m.dep2 = d1, d2
    return m


def _words(*contexts) -> set:
    """Every word of the context strings: ``ctx.split(" ")`` joined."""
    out = set()
    for ctx in contexts:
        out.update(ctx.split(" "))
    return out


def _argmin_candidates(candidates: dict) -> Marker:
    if not candidates:
        return _NO_MARKER
    return candidates[min(candidates)]


def get_temporal_signal(doc: DocState, e1: Mention, e2: Mention,
                        lexicons) -> Marker:
    """getTemporalSignal (1139-1231)."""
    ev_list = lexicons.temporal_event
    tmx_list = lexicons.temporal_timex
    signal_list = tmx_list if e2.is_timex else ev_list
    which = "timex" if e2.is_timex else "event"
    candidates: dict = {}

    if is_same_sentence(doc, e1, e2):
        s = doc.sentences[e1.sent_id]
        tid_before1, _ = _tid_entity_before_after(doc, e1)
        tid_start1, _ = _tid_before_after(doc, e1)
        tid_before2 = tid_before1          # reference uses e1 here (1165)
        tid_start2, tid_end2 = _tid_before_after(doc, e2)
        tid_begin = _tid_begin(doc, s)

        ctx_before = _get_string(doc, tid_before1, tid_start1)
        ctx_between = _get_string(doc, tid_before2, tid_start2)
        ctx_begin = _get_string(doc, s.start_tok, tid_begin)
        ctx_entity = _get_string(doc, e2.start_tok, e2.end_tok)

        for key in lexicons.signal_keys_in(
                which, _words(ctx_entity, ctx_between)):
            pad = " " + key + " "
            if pad in ctx_entity:
                m = _pair_signal_marker(doc, e1, e2, signal_list, key,
                                        "INSIDE", ctx_entity, e2.start_tok)
                candidates[_signal_entity_distance(key, ctx_entity, "INSIDE")] = m
            elif pad in ctx_between:
                m = _pair_signal_marker(doc, e1, e2, signal_list, key,
                                        "BETWEEN", ctx_between, tid_before2)
                candidates[_signal_entity_distance(key, ctx_between, "BETWEEN") + 100] = m
        for key in lexicons.signal_keys_in(
                "event", _words(ctx_before, ctx_begin)):
            pad = " " + key + " "
            if pad in ctx_before:
                m = _pair_signal_marker(doc, e1, e2, ev_list, key,
                                        "BEFORE", ctx_before, tid_before1)
                candidates[_signal_entity_distance(key, ctx_before, "BEFORE") + 200] = m
            elif pad in ctx_begin:
                m = _pair_signal_marker(doc, e1, e2, ev_list, key,
                                        "BEGIN", ctx_begin, s.start_tok)
                candidates[_signal_entity_distance(key, ctx_begin, "BEGIN") + 400] = m
    elif not e2.is_timex:
        s2 = doc.sentences[e2.sent_id]
        tid_begin2 = _tid_begin(doc, s2)
        ctx_begin2 = _get_string(doc, s2.start_tok, tid_begin2)
        for key in lexicons.signal_keys_in("event", _words(ctx_begin2)):
            if " " + key + " " in ctx_begin2:
                m = _pair_signal_marker(doc, e1, e2, ev_list, key,
                                        "BEGIN-BETWEEN", ctx_begin2, s2.start_tok)
                candidates[_signal_entity_distance(key, ctx_begin2, "BEGIN-BETWEEN")] = m

    return _argmin_candidates(candidates)


def get_temporal_signal_per_entity(doc: DocState, ent: Mention,
                                   lexicons) -> Marker:
    """getTemporalSignalPerEntity (1233-1289). Memoized per entity."""
    key = ("temporal_signal_entity", ent.mid)
    m = doc.memo.get(key)
    if m is None:
        m = doc.memo[key] = _temporal_signal_per_entity(doc, ent, lexicons)
    return m


def _temporal_signal_per_entity(doc: DocState, ent: Mention,
                                lexicons) -> Marker:
    signal_list = (lexicons.temporal_timex if ent.is_timex
                   else lexicons.temporal_event)
    s = doc.sentences[ent.sent_id]
    tid_before1, _ = _tid_entity_before_after(doc, ent)
    tid_start1, tid_end1 = _tid_before_after(doc, ent)
    _, tid_after2 = _tid_entity_before_after(doc, ent)
    tid_begin = _tid_begin(doc, s)

    ctx_before = _get_string(doc, tid_before1, tid_start1)
    ctx_after = _get_string(doc, tid_end1, tid_after2)
    ctx_begin = _get_string(doc, s.start_tok, tid_begin)
    ctx_entity = _get_string(doc, ent.start_tok, ent.end_tok)

    span = span_token_ids(doc, ent.start_tok, ent.end_tok)
    candidates: dict = {}

    def per_entity_marker(key, position, context, start_tid):
        m = Marker(text=key, cluster=signal_list.get(key), position=position)
        sig_tids = _signal_tid_arr(doc, key, context, start_tid, position)
        m.dep1 = signal_dependency_path(doc, ent, span, sig_tids)
        m.dep2 = ""
        return m

    for key in lexicons.signal_keys_in(
            "timex" if ent.is_timex else "event",
            _words(ctx_entity, ctx_before, ctx_after, ctx_begin)):
        pad = " " + key + " "
        if pad in ctx_entity:
            m = per_entity_marker(key, "INSIDE", ctx_entity, ent.start_tok)
            candidates[_signal_entity_distance(key, ctx_entity, "INSIDE")] = m
        elif pad in ctx_before:
            m = per_entity_marker(key, "BEFORE", ctx_before, tid_before1)
            candidates[_signal_entity_distance(key, ctx_before, "BEFORE") + 100] = m
        elif pad in ctx_after:
            m = per_entity_marker(key, "AFTER", ctx_after, tid_end1)
            candidates[_signal_entity_distance(key, ctx_after, "AFTER") + 200] = m
        elif pad in ctx_begin:
            # distance measured with the "BETWEEN" branch in the reference
            m = per_entity_marker(key, "BEGIN", ctx_begin, s.start_tok)
            candidates[_signal_entity_distance(key, ctx_begin, "BETWEEN") + 300] = m

    return _argmin_candidates(candidates)


def get_causal_signal(doc: DocState, e1: Mention, e2: Mention,
                      lexicons) -> Marker:
    """getCausalSignal (1372-1508): regex lexicon, HashMap key order,
    running-offset collision bumping, TreeMap argmin. Memoized per
    ordered pair: the causal classifier gate and the causal features ask
    for the same pair unless the features reorder it."""
    key = ("causal_signal", e1.mid, e2.mid)
    m = doc.memo.get(key)
    if m is None:
        m = doc.memo[key] = _causal_signal(doc, e1, e2, lexicons)
    return m


def _causal_signal(doc: DocState, e1: Mention, e2: Mention,
                   lexicons) -> Marker:
    signal_list = lexicons.causal_cluster
    plan = lexicons.causal_plan()
    candidates: dict = {}

    def put(distance, m, i):
        if distance not in candidates:
            candidates[distance] = m
            return i
        while distance in candidates:
            distance += 1
            i += 1
        candidates[distance] = m
        return i

    if is_same_sentence(doc, e1, e2):
        s = doc.sentences[e1.sent_id]
        tid_before1, _ = _tid_entity_before_after(doc, e1)
        tid_start1, _ = _tid_before_after(doc, e1)
        tid_before2 = tid_before1
        tid_start2, tid_end2 = _tid_before_after(doc, e2)
        _, tid_after2 = _tid_entity_before_after(doc, e2)

        ctx_before = " " + _get_string(doc, tid_before1, tid_start1) + " "
        ctx_between = " " + _get_string(doc, tid_before2, tid_start2) + " "
        ctx_after = " " + _get_string(doc, tid_end2, tid_after2) + " "

        contexts = ((ctx_between, "BETWEEN", tid_before2,
                     _words(ctx_between)),
                    (ctx_before, "BEFORE", tid_before1, _words(ctx_before)),
                    (ctx_after, "AFTER", tid_end2, _words(ctx_after)))
        i = 0
        for key, pat, lead in plan:
            for ctx, pos, start_tid, words in contexts:
                if lead is not None and lead not in words:
                    continue
                mo = pat.search(ctx)
                if mo:
                    m = _keyed_signal_marker(doc, e1, e2, signal_list, key,
                                             mo.group().strip(), pos, ctx,
                                             start_tid)
                    d = _signal_entity_distance(mo.group(), ctx, pos) + i
                    i = put(d, m, i)
            i += 1
    else:
        s2 = doc.sentences[e2.sent_id]
        tid_begin2 = _tid_begin(doc, s2)
        ctx_begin2 = " " + _get_string(doc, s2.start_tok, tid_begin2) + " "
        words = _words(ctx_begin2)
        i = 0
        for key, pat, lead in plan:
            mo = ((lead is None or lead in words)
                  and pat.search(ctx_begin2))
            if mo:
                m = _keyed_signal_marker(doc, e1, e2, signal_list, key,
                                         mo.group().strip(), "BEGIN-BETWEEN",
                                         ctx_begin2, s2.start_tok)
                d = _signal_entity_distance(mo.group(), ctx_begin2,
                                            "BEGIN-BETWEEN") + i
                i = put(d, m, i)
            i += 1

    return _argmin_candidates(candidates)


_LINK_VERB_PREPS = {
    "link": ("to", "with"), "lead": ("to",), "depend": ("on",),
    "result": ("in", "from"), "rely": ("on",), "stem": ("from",),
    "relate": ("to",), "connect": ("with",), "associate": ("with",),
}


def get_causal_verb(doc: DocState, e1: Mention, e2: Mention,
                    lexicons) -> Marker:
    """getCausalVerb (1636-1756)."""
    verb_list = lexicons.causal_verb
    if not is_same_sentence(doc, e1, e2):
        return _NO_MARKER
    candidates: dict = {}

    def verb_marker(text, tid):
        m = Marker(text=text, cluster=verb_list.get(text), position="BETWEEN")
        m.dep1 = signal_dependency_path(
            doc, e1, span_token_ids(doc, e1.start_tok, e1.end_tok), (tid,),
            with_appo=False)
        m.dep2 = signal_dependency_path(
            doc, e2, span_token_ids(doc, e2.start_tok, e2.end_tok), (tid,),
            with_appo=False)
        return m

    lemma1 = doc.tokens[e1.start_tok].lemma
    if (verb_list.get(lemma1) == "ENABLE"
            and not is_mate_passive_verb(doc, e1.start_tok)):
        d = abs(doc.tok_index[e1.start_tok] - doc.tok_index[e2.start_tok])
        candidates[d] = verb_marker(lemma1, e1.start_tok)
    else:
        _, tid_end1 = _tid_before_after(doc, e1)
        tid_start2, _ = _tid_before_after(doc, e2)
        i0 = doc.tokens[tid_end1].idx
        i1 = doc.tokens[tid_start2].idx
        for tid in doc.token_arr[i0:i1 + 1]:
            tok = doc.tokens[tid]
            if "VP" not in tok.chunk:
                continue
            lemma = tok.lemma
            if lemma in _LINK_VERB_PREPS:
                nxt_i = tok.idx + 1
                if nxt_i < len(doc.token_arr):
                    lemma_next = doc.tokens[doc.token_arr[nxt_i]].lemma
                    if lemma_next in _LINK_VERB_PREPS[lemma]:
                        d = abs(tok.idx - doc.tok_index[e2.start_tok])
                        candidates[d] = verb_marker(lemma + "-" + lemma_next, tid)
            elif lemma == "have":
                has_vc = bool(tok.deps) and any(r == "VC" for r in tok.deps.values())
                if not has_vc:
                    d = abs(tok.idx - doc.tok_index[e2.start_tok])
                    candidates[d] = verb_marker(lemma, tid)
            elif lemma in verb_list:
                if not is_mate_passive_verb(doc, tid):
                    d = abs(tok.idx - doc.tok_index[e2.start_tok])
                    candidates[d] = verb_marker(lemma, tid)

    return _argmin_candidates(candidates)


def _connective_tid_arr(doc: DocState, conn: str, start_tid: str,
                        end_tid: str, position: str) -> list:
    """getConnectiveTidArr (952-984): first consecutive run of tokens whose
    discourse-connective tag equals ``conn`` inside the context range;
    scanned backwards for BEFORE/BETWEEN."""
    i0 = doc.tokens[start_tid].idx
    i1 = doc.tokens[end_tid].idx
    tids = doc.token_arr[i0:i1 + 1]
    if position in ("BEFORE", "BETWEEN"):
        tids = list(reversed(tids))
    run = []
    started = False
    for tid in tids:
        if doc.tokens[tid].conn == conn:
            run.append(tid)
            started = True
        elif started:
            break
    if position in ("BEFORE", "BETWEEN"):
        run.reverse()
    return run


def _connective_entity_distance(doc: DocState, e: Mention, tid_conn: list,
                                position: str) -> int:
    """getConnectiveEntityDistance (986-996)."""
    if position in ("BEFORE", "BETWEEN"):
        return abs(doc.tok_index[e.start_tok]
                   - doc.tok_index[tid_conn[-1]])
    return abs(doc.tok_index[e.end_tok] - doc.tok_index[tid_conn[0]])


def _connective_marker(doc: DocState, e1: Mention, e2: Mention, text: str,
                       position: str, conn_tids: list) -> Marker:
    """getConnectiveMarker (1113-1137): cluster = text; dep paths with the
    same BEFORE/BEGIN e1/e2 swap as the pair signal marker."""
    m = Marker(text=text, cluster=text, position=position)
    m.dep1, m.dep2 = _positioned_deps(doc, e1, e2, position, conn_tids)
    return m


def _get_connective(doc: DocState, e1: Mention, e2: Mention, conn: str,
                    with_inside: bool) -> Marker:
    """getTemporalConnective (1291-1370, conn='Temporal', with_inside=True)
    and getCausalConnective (1563-1634, conn='Contingency', no INSIDE).

    Replicated quirks: the INSIDE candidate passes the BEGIN tid array to
    the marker builder (1336) while measuring distance on the entity run;
    the cross-sentence Begin2 range starts at *sentence 1*'s first token
    (1355). Pairs whose Java path dereferences a DCT/empty mention crash in
    the reference; we return the empty marker there instead."""
    candidates: dict = {}
    for e in (e1, e2):
        if e.is_timex and (e.is_dct or e.is_empty):
            if not is_same_sentence(doc, e1, e2) and e is e2:
                return _NO_MARKER   # Java NPEs on sentences.get(null)
    if is_same_sentence(doc, e1, e2):
        s = doc.sentences[e1.sent_id]
        tid_before1, _ = _tid_entity_before_after(doc, e1)
        tid_start1, _ = _tid_before_after(doc, e1)
        tid_before2 = tid_before1
        tid_start2, tid_end2 = _tid_before_after(doc, e2)
        _, tid_after2 = _tid_entity_before_after(doc, e2)
        tid_begin = _tid_begin(doc, s)

        conn_before = _connective_tid_arr(doc, conn, tid_before1, tid_start1,
                                          "BEFORE")
        conn_between = _connective_tid_arr(doc, conn, tid_before2, tid_start2,
                                           "BETWEEN")
        conn_after = _connective_tid_arr(doc, conn, tid_end2, tid_after2,
                                         "AFTER")
        conn_begin = _connective_tid_arr(doc, conn, s.start_tok, tid_begin,
                                         "BEGIN")
        conn_entity = (_connective_tid_arr(doc, conn, e2.start_tok,
                                           e2.end_tok, "INSIDE")
                       if with_inside else [])

        if conn_between:
            text = _get_string(doc, conn_between[0], conn_between[-1])
            m = _connective_marker(doc, e1, e2, text, "BETWEEN", conn_between)
            candidates[_connective_entity_distance(doc, e2, conn_between,
                                                   "BETWEEN")] = m
        elif conn_before:
            text = _get_string(doc, conn_before[0], conn_before[-1])
            m = _connective_marker(doc, e1, e2, text, "BEFORE", conn_before)
            candidates[_connective_entity_distance(doc, e1, conn_before,
                                                   "BEFORE") + 100] = m
        elif conn_after:
            text = _get_string(doc, conn_after[0], conn_after[-1])
            m = _connective_marker(doc, e1, e2, text, "AFTER", conn_after)
            candidates[_connective_entity_distance(doc, e2, conn_after,
                                                   "AFTER") + 200] = m
        elif with_inside and conn_entity:
            text = _get_string(doc, conn_entity[0], conn_entity[-1])
            # reference passes the BEGIN tid array here (1336)
            m = _connective_marker(doc, e1, e2, text, "INSIDE", conn_begin)
            d = abs(doc.tok_index[e2.start_tok]
                    - doc.tok_index[conn_entity[0]])
            candidates[d + 300] = m
        elif conn_begin:
            text = _get_string(doc, conn_begin[0], conn_begin[-1])
            m = _connective_marker(doc, e1, e2, text, "BEGIN", conn_begin)
            d = abs(doc.tok_index[s.start_tok]
                    - doc.tok_index[conn_begin[0]])
            candidates[d + (400 if with_inside else 300)] = m
    else:
        s1 = doc.sentences[e1.sent_id]
        s2 = doc.sentences[e2.sent_id]
        tid_begin1 = _tid_begin(doc, s1)
        tid_begin2 = _tid_begin(doc, s2)
        # reference scans s1.start..tidBegin2 for the 'Begin2' run (1355)
        conn_begin1 = _connective_tid_arr(doc, conn, s1.start_tok, tid_begin1,
                                          "BEGIN")
        conn_begin2 = _connective_tid_arr(doc, conn, s1.start_tok, tid_begin2,
                                          "BEGIN")
        if conn_begin2:
            text = _get_string(doc, conn_begin2[0], conn_begin2[-1])
            m = _connective_marker(doc, e1, e2, text, "BEGIN-BETWEEN",
                                   conn_begin2)
            d = abs(doc.tok_index[s2.start_tok]
                    - doc.tok_index[conn_begin2[0]])
            candidates[d] = m
        elif conn_begin1:
            text = _get_string(doc, conn_begin1[0], conn_begin1[-1])
            m = _connective_marker(doc, e1, e2, text, "BEGIN-BEFORE",
                                   conn_begin1)
            d = abs(doc.tok_index[s1.start_tok]
                    - doc.tok_index[conn_begin1[0]])
            candidates[d + 100] = m
    return _argmin_candidates(candidates)


def get_temporal_connective(doc: DocState, e1: Mention, e2: Mention) -> Marker:
    return _get_connective(doc, e1, e2, "Temporal", with_inside=True)


def get_causal_connective(doc: DocState, e1: Mention, e2: Mention) -> Marker:
    return _get_connective(doc, e1, e2, "Contingency", with_inside=False)
