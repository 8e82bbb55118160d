"""Dependency-graph walks and attribute backoff (operators X3-X5).

Semantics follow /root/reference/src/model/feature/PairFeatureVector.java:
token-span attributes (261-282), entity attribute backoff through governing
verbs (433-456), modal/head/passive/coordination walks (458-567), and the
dependency-path DFS (615-670) plus the EE/ET path drivers
(EventEventFeatureVector.java:127-217, EventTimexFeatureVector.java:60-91).

The Java DFS iterates each token's dependent HashMap in HashMap order and
takes the first complete path; we reproduce that order via
``javacompat.dependency_order`` so tie-breaks match. The Java never marks
nodes visited (its ``visited`` list is never appended) - we guard only
against revisiting a node already on the current DFS stack, which diverges
solely where the Java would recurse forever.
"""

from __future__ import annotations

from .docmodel import DocState, Mention
from .javacompat import dependency_order

MODAL_VERBS = ("will", "can", "may", "shall", "should")


def span_token_ids(doc: DocState, start_tok: str, end_tok: str) -> list:
    """PairFeatureVector.getTokenIDArr (lines 252-259)."""
    i0 = doc.tokens[start_tok].idx
    i1 = doc.tokens[end_tok].idx
    return doc.token_arr[i0:i1 + 1]


_TOKEN_ATTRS = {"token": "text", "lemma": "lemma", "pos": "pos",
                "mainpos": "main_pos", "chunk": "chunk", "ner": "ner",
                "supersense": "supersense"}


def token_attr(doc: DocState, e: Mention, feature: str) -> str:
    """getTokenAttribute(Entity, FeatureName) (lines 261-282):
    per-token attribute over the span, consecutive duplicates removed,
    joined by ' ' for token/lemma else '_'; 'O' for DCT/empty timexes.
    Memoized per (mention, feature) - X1 notes the reference recomputes
    these constantly; we cache instead."""
    if e.is_timex and (e.is_dct or e.is_empty):
        return "O"
    key = ("token_attr", e.mid, feature)
    cached = doc.memo.get(key)
    if cached is not None:
        return cached
    attr = _TOKEN_ATTRS[feature]
    if e.start_tok == e.end_tok:           # the common single-token span
        out = getattr(doc.tokens[e.start_tok], attr)
    else:
        vals = []
        for tid in span_token_ids(doc, e.start_tok, e.end_tok):
            v = getattr(doc.tokens[tid], attr)
            if not vals or v != vals[-1]:
                vals.append(v)
        out = (" " if feature in ("token", "lemma") else "_").join(vals)
    doc.memo[key] = out
    return out


def _sentence_token_ids(doc: DocState, tid: str) -> list:
    sid = doc.tokens[tid].sent_id
    key = ("sent_toks", sid)
    out = doc.memo.get(key)
    if out is None:
        s = doc.sentences[sid]
        out = span_token_ids(doc, s.start_tok, s.end_tok)
        doc.memo[key] = out
    return out


def mate_head_verb(doc: DocState, tok_id: str) -> str:
    """getMateHeadVerb (478-491): walk VC chains to the leftmost governor.
    Memoized per document (X4 is re-entered by every pair and marker)."""
    key = ("head_verb", tok_id)
    cached = doc.memo.get(key)
    if cached is not None:
        return cached
    sent = _sentence_token_ids(doc, tok_id)
    pos_in_sent = {t: i for i, t in enumerate(sent)}
    cur = tok_id
    while True:
        nxt = None
        for t in sent:
            if t == cur:
                continue
            tok = doc.tokens[t]
            if (tok.deps and cur in tok.deps and tok.deps[cur] == "VC"
                    and pos_in_sent[t] < pos_in_sent.get(cur, 1 << 30)):
                nxt = t
                break
        if nxt is None:
            doc.memo[key] = cur
            return cur
        cur = nxt


def mate_modal_verb(doc: DocState, tok_id: str) -> str:
    """getMateModalVerb (458-476)."""
    sent = _sentence_token_ids(doc, tok_id)
    pos_in_sent = {t: i for i, t in enumerate(sent)}
    cur = tok_id
    while True:
        nxt = None
        for t in sent:
            if t == cur:
                continue
            tok = doc.tokens[t]
            if (tok.deps and cur in tok.deps and tok.deps[cur] == "VC"
                    and pos_in_sent[t] < pos_in_sent.get(cur, 1 << 30)):
                if tok.lemma in MODAL_VERBS:
                    return tok.lemma
                nxt = t
                break
        if nxt is None:
            return "O"
        cur = nxt


def is_mate_passive_verb(doc: DocState, tok_id: str) -> bool:
    """isMatePassiveVerb (493-506): a 'be' governs tok via VC."""
    for t in _sentence_token_ids(doc, tok_id):
        if t == tok_id:
            continue
        tok = doc.tokens[t]
        if tok.deps and tok.deps.get(tok_id) == "VC" and tok.lemma == "be":
            return True
    return False


def _verb_from(doc: DocState, tok_id: str, rel: str):
    """Shared body of getMateVerbFrom{SbjNoun,ObjNoun,Adj} (523-548)."""
    for t in _sentence_token_ids(doc, tok_id):
        if t == tok_id:
            continue
        tok = doc.tokens[t]
        if tok.deps and tok.deps.get(tok_id) == rel:
            return t
    return None


def mate_verb_from_sbj_noun(doc, tok_id):
    return _verb_from(doc, tok_id, "SBJ")


def mate_verb_from_obj_noun(doc, tok_id):
    return _verb_from(doc, tok_id, "OBJ")


def mate_verb_from_adj(doc, tok_id):
    return _verb_from(doc, tok_id, "PRD")


def mate_coord_verb(doc: DocState, tok_id: str, _depth: int = 0):
    """getMateCoordVerb (550-567). Memoized per document."""
    key = ("coord_verb", tok_id)
    if _depth == 0 and key in doc.memo:
        return doc.memo[key]
    out = _mate_coord_verb(doc, tok_id, _depth)
    if _depth == 0:
        doc.memo[key] = out
    return out


def _mate_coord_verb(doc: DocState, tok_id: str, _depth: int = 0):
    if _depth > 50:
        return None
    head = mate_head_verb(doc, tok_id)
    for t in _sentence_token_ids(doc, tok_id):
        if t == head:
            continue
        tok = doc.tokens[t]
        if tok.deps and head in tok.deps:
            if tok.deps[head] == "COORD":
                return t
            if tok.deps[head] == "CONJ":
                return mate_coord_verb(doc, t, _depth + 1)
    return None


def mate_subject_from_verb(doc: DocState, tok_id: str, _depth: int = 0):
    """getMateSubjectFromVerb (569-599). Guarded against the Java NPE when a
    token's dep map lacks the head id (only reachable where Java crashes)."""
    if _depth > 50:
        return None
    head = mate_head_verb(doc, tok_id)
    head_tok = doc.tokens[head]
    if head_tok.deps:
        for t in dependency_order(head_tok.dep_order):
            if (head_tok.deps[t] == "SBJ"
                    and doc.tokens[t].lemma not in ("that", "which", "``", "`", "''", "'")):
                return t
    for t in _sentence_token_ids(doc, tok_id):
        if t == head:
            continue
        tok = doc.tokens[t]
        if tok.deps and tok_id in tok.deps and tok.deps.get(head) in ("NMOD", "ADV"):
            return t
    coord = mate_coord_verb(doc, head)
    if coord is not None:
        return mate_subject_from_verb(doc, coord, _depth + 1)
    return None


def mate_object_from_verb(doc: DocState, tok_id: str):
    """getMateObjectFromVerb (601-613)."""
    sent = _sentence_token_ids(doc, tok_id)
    pos_in_sent = {t: i for i, t in enumerate(sent)}
    tok = doc.tokens[tok_id]
    if tok.deps:
        for t in dependency_order(tok.dep_order):
            rel = tok.deps[t]
            if rel == "OBJ" or (rel == "VC"
                                and pos_in_sent.get(t, -1) > pos_in_sent.get(tok_id, 1 << 30)):
                return t
    return None


def entity_attr(doc: DocState, e: Mention, feature: str) -> str:
    """getEntityAttribute (433-456): events with 'O' tense/aspect/polarity
    inherit from the governing verb found via SBJ/OBJ (nouns) or PRD (adj)."""
    if e.kind == "EVENT":
        val = {"eventClass": e.ev_class, "tense": e.tense,
               "aspect": e.aspect, "polarity": e.pol}[feature]
        if val == "O":
            start = doc.tokens[e.start_tok]
            related = None
            if start.main_pos == "n":
                related = mate_verb_from_sbj_noun(doc, e.start_tok)
                if related is None:
                    related = mate_verb_from_obj_noun(doc, e.start_tok)
            elif start.main_pos == "adj":
                related = mate_verb_from_adj(doc, e.start_tok)
            if related is not None:
                t = doc.tokens[related]
                if feature == "tense":
                    return t.tense
                if feature == "aspect":
                    return t.aspect
                if feature == "polarity":
                    return t.pol
            return "NONE"
        return val
    # Timex
    return {"timexType": e.tmx_type, "timexValue": e.tmx_value,
            "dct": "TRUE" if e.is_dct else "FALSE"}[feature]


def mate_main_verb(doc: DocState, e: Mention) -> str:
    """getMateMainVerb(Entity) (646-651)."""
    if token_attr(doc, e, "mainpos") == "v":
        return "MAIN" if doc.tokens[mate_head_verb(doc, e.start_tok)].main_verb else "O"
    return "O"


def first_dependency_path(doc: DocState, gov_id: str, targets) -> str | None:
    """First DFS path from gov_id to any token in ``targets`` (with the
    leading '-' still attached, as the Java accumulates it): the first
    (dependent, path) pair generateDependencyPath's (615-637) preorder DFS
    tests against the targets.

    Answered from a per-governor index memoized in ``doc.memo``: the
    preorder position and path at which the walk first reached each token,
    and the suspended walk itself. A query whose targets are indexed takes
    the earliest one; otherwise it resumes the walk only until a target
    comes up, so no query walks further than the DFS would have. Each
    governor's index is one list holding two str/int dicts and the flat
    DFS stack, so a document's indexes add few objects for the collector
    to scan."""
    if isinstance(targets, str):
        targets = (targets,)
    walks = doc.memo.get("dep_preorder")
    if walks is None:
        walks = doc.memo["dep_preorder"] = {}
    index = walks.get(gov_id)
    if index is None:
        # [position, paths] + the stack, 5 slots per node: id, deps,
        # dependent order, next dependent, path to it; deps None = the
        # node is reached but not yet visited
        index = walks[gov_id] = [{}, {}, gov_id, None, None, 0, ""]
    position, paths = index[0], index[1]
    best = None
    for t in targets:
        n = position.get(t)
        if n is not None and (best is None or n < position[best]):
            best = t
    if best is not None:
        return paths[best]
    tokens = doc.tokens
    while len(index) > 2:
        if index[-4] is None:
            node = index[-5]
            tok = tokens.get(node)
            if tok is None or not tok.deps or node in index[2:-5:5]:
                del index[-5:]
                continue
            index[-4] = tok.deps
            index[-3] = dependency_order(tok.dep_order)
        deps, keys, i, path = index[-4], index[-3], index[-2], index[-1]
        if i == len(keys):
            del index[-5:]
            continue
        index[-2] = i + 1
        dep = keys[i]
        p = path + "-" + deps[dep]
        index += (dep, None, None, 0, p)
        if dep not in position:
            position[dep] = len(position)
            paths[dep] = p
            if dep in targets:
                return p
    return None


def _reverse_path(path: str) -> str:
    """EventEventFeatureVector.reversePath (105-113)."""
    return "-".join(reversed(path.split("-")))


def is_same_sentence(doc: DocState, e1: Mention, e2: Mention) -> bool:
    """PairFeatureVector.isSameSentence (408-418)."""
    for e in (e1, e2):
        if e.is_timex and (e.is_dct or e.is_empty):
            return False
    return doc.sentences[e1.sent_id].idx == doc.sentences[e2.sent_id].idx


def pair_order(doc: DocState, e1: Mention, e2: Mention) -> str:
    """PairFeatureVector.getOrder (420-431) over doc-level entity ordinals."""
    for e in (e1, e2):
        if e.is_timex and (e.is_dct or e.is_empty):
            return "O"
    if e1.idx < e2.idx:
        return "BEFORE"
    if e1.idx > e2.idx:
        return "AFTER"
    return "O"


def _gov_substitute(doc: DocState, e: Mention, tok_id: str) -> str:
    """Head-verb / adjective-verb substitution used by both path drivers."""
    mp = token_attr(doc, e, "mainpos")
    if mp == "v":
        return mate_head_verb(doc, tok_id)
    if mp == "adj":
        v = mate_verb_from_adj(doc, tok_id)
        if v is not None:
            return v
    return tok_id


def ee_dependency_path(doc: DocState, e1: Mention, e2: Mention) -> str:
    """EventEventFeatureVector.getMateDependencyPath (127-217). Memoized
    per ordered pair: the EE rule sieve and the EE/causal features ask for
    the same pairs."""
    key = ("ee_path", e1.mid, e2.mid)
    path = doc.memo.get(key)
    if path is None:
        path = doc.memo[key] = _ee_dependency_path(doc, e1, e2)
    return path


def _ee_dependency_path(doc: DocState, e1: Mention, e2: Mention) -> str:
    if not is_same_sentence(doc, e1, e2):
        return "O"
    t1, t2 = e1.start_tok, e2.start_tok

    def try_pair(gov, tgt):
        p = first_dependency_path(doc, gov, tgt)
        if p is not None:
            return p[1:]
        c = mate_coord_verb(doc, gov)
        if c is not None:
            p = first_dependency_path(doc, c, tgt)
            if p is not None:
                return p[1:]
        return None

    p = try_pair(t1, t2)
    if p is not None:
        return p
    p = try_pair(t2, t1)
    if p is not None:
        return _reverse_path(p)

    g1 = _gov_substitute(doc, e1, t1)
    g2 = _gov_substitute(doc, e2, t2)
    p = try_pair(g1, g2)
    if p is not None:
        return p
    p = try_pair(g2, g1)
    if p is not None:
        return _reverse_path(p)
    return "O"


def et_dependency_path(doc: DocState, e1: Mention, e2: Mention) -> str:
    """EventTimexFeatureVector.getMateDependencyPath (60-91); pair assumed
    in event-timex order."""
    if e2.is_timex and (e2.is_dct or e2.is_empty):
        return "O"
    if not is_same_sentence(doc, e1, e2):
        return "O"
    arr1 = span_token_ids(doc, e1.start_tok, e1.end_tok)
    arr2 = frozenset(span_token_ids(doc, e2.start_tok, e2.end_tok))
    mp1 = token_attr(doc, e1, "mainpos")
    for gov in arr1:
        if mp1 == "v":
            gov = mate_head_verb(doc, gov)
        elif mp1 == "adj":
            v = mate_verb_from_adj(doc, gov)
            if v is not None:
                gov = v
        p = first_dependency_path(doc, gov, arr2)
        if p is not None:
            return p[1:]
        c = mate_coord_verb(doc, gov)
        if c is not None:
            p = first_dependency_path(doc, c, arr2)
            if p is not None:
                return p[1:]
    return "O"
