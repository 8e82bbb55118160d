"""Per-document data model + TXP parsing (operators S1-S7 of SURVEY.md §2.1).

Semantics follow /root/reference/src/parser/TXPParser.java:39-440 and the
entity classes under /root/reference/src/parser/entities/. This module is
pure Python: at the Spark layer one *document* is one page of a
``mapInArrow`` batch (``spark/stages._map_pages``), so all functions here
run partition-locally with no driver involvement.

Replicated reference quirks (deliberate, cited):
* An entity span is only closed when a *later token row* carries a different
  id; a span still open at end-of-input is silently dropped
  (TXPParser.java closes only the last sentence, lines 54-58).
* The sentence switch happens before entity closing within a token row, so a
  mention ending at the last token of sentence N is recorded with the sent_id
  of sentence N+1 and lands in N+1's entityArr (TXPParser.java:249-255 vs
  267-393).
* ``tlinks`` keeps the first relation per (src,tgt) pair while ``tlinkTypes``
  keeps the last (TXPParser.java:413-416) - operator A5's asymmetry.
* ``tsignal`` is only read when present; ``csignal`` is only read when
  tsignal is absent from the layout (TXPParser.java:261-265, else-if chain).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# The 16-column service layout (TempRelPro.java:659-662).
FIELDS_TEXT16 = (
    "token", "token_id", "sent_id", "pos", "lemma", "deps", "tmx_id",
    "tmx_type", "tmx_value", "ner", "ev_class", "ev_id", "chunk",
    "main_verb", "tense_aspect_pol", "tlink",
)
# 18-column causal service layout (CauseRelPro.java:438-441).
FIELDS_TEXT18 = FIELDS_TEXT16 + ("clink", "csignal")
# 24-column file layout (TempRelPro.java:671-676).
FIELDS_FILE24 = (
    "token", "token_id", "sent_id", "pos", "lemma", "deps", "tmx_id",
    "tmx_type", "tmx_value", "ner", "ev_class", "ev_id", "role1", "role2",
    "role3", "is_arg_pred", "has_semrole", "chunk", "main_verb",
    "connective", "morpho", "tense_aspect_pol", "coref_event", "tlink",
)
# 28-column causal file layout (CauseRelPro.java:450-456).
FIELDS_FILE28 = FIELDS_FILE24 + ("supersense", "ss_ner", "clink", "csignal")


@dataclass(slots=True)
class Token:
    tid: str
    sent_id: str
    text: str
    idx: int = -1
    lemma: str = "O"
    pos: str = "O"
    main_pos: str = "O"
    chunk: str = "O"
    tense: str = "O"
    aspect: str = "O"
    pol: str = "O"
    ner: str = "O"
    supersense: str = "O"
    conn: str = "O"
    main_verb: bool = False
    deps: dict | None = None          # dependent tok id -> relation label
    dep_order: tuple = ()             # insertion order of deps keys
    ev_id: str | None = None
    tmx_id: str | None = None


@dataclass(slots=True)
class Sentence:
    sid: str
    start_tok: str
    end_tok: str
    idx: int = -1
    entity_arr: list = field(default_factory=list)  # completion order


@dataclass(slots=True)
class Mention:
    """Entity span: EVENT or TIMEX (Event.java:7-14, Timex.java:5-11)."""
    mid: str
    kind: str                         # 'EVENT' | 'TIMEX'
    start_tok: str = "O"
    end_tok: str = "O"
    idx: int = -1                     # doc-level completion ordinal
    sent_id: str | None = None
    # event attrs
    ev_class: str = "O"
    tense: str = "O"
    aspect: str = "O"
    pol: str = "O"
    coref: list = field(default_factory=list)
    # timex attrs
    tmx_type: str = "O"
    tmx_value: str = "O"
    is_dct: bool = False
    is_empty: bool = False

    @property
    def is_timex(self) -> bool:
        return self.kind == "TIMEX"


@dataclass
class DocState:
    name: str = "TEXT"
    tokens: dict = field(default_factory=dict)
    token_arr: list = field(default_factory=list)
    tok_index: dict = field(default_factory=dict)   # tid -> doc position
    sentences: dict = field(default_factory=dict)
    sentence_arr: list = field(default_factory=list)
    entities: dict = field(default_factory=dict)    # insertion-ordered
    tlinks: list = field(default_factory=list)      # (src, tgt, rel) first-wins
    tlink_types: dict = field(default_factory=dict)  # "src,tgt" -> rel, last-wins
    clinks: list = field(default_factory=list)      # (src, tgt) first-wins
    dct: Mention | None = None
    _ent_idx: int = 0
    memo: dict = field(default_factory=dict, repr=False)  # per-doc caches


def _main_pos_uncached(pos: str) -> str:
    """TXPParser.getMainPosFromPos (TXPParser.java:104-121), BNC tagset."""
    if not pos:
        return "O"
    c0 = pos[0]
    c1 = pos[1] if len(pos) > 1 else ""
    c2 = pos[2] if len(pos) > 2 else ""
    if c0 == "V":
        return "v"
    if c0 == "N":
        return "n"
    if c0 == "A" and c1 == "T":
        return "art"
    if c0 == "D":
        return "det"
    if c0 == "A" and c1 == "J":
        return "adj"
    if c0 == "A" and c1 == "V":
        return "adv"
    if c0 == "C" and c1 == "J":
        return "conj"
    if c0 == "C" and c1 == "R" and c2 == "D":
        return "crd"
    if c0 == "O" and c1 == "R" and c2 == "D":
        return "ord"
    if c0 == "P" and c1 == "N":
        return "pron"
    if c0 == "P" and c1 == "O" and c2 == "S":
        return "pos"
    if c0 == "P" and c1 == "R":
        return "prep"
    if c0 == "T" and c1 == "O":
        return "to"
    if c0 == "P" and c1 == "U":
        return "punc"
    if c0 == "X":
        return "neg"
    return "O"


_MAIN_POS_CACHE: dict = {}


def main_pos_from_pos(pos: str) -> str:
    """Memoized over the (small) BNC tagset seen in the corpus."""
    mp = _MAIN_POS_CACHE.get(pos)
    if mp is None:
        mp = _MAIN_POS_CACHE[pos] = _main_pos_uncached(pos)
    return mp


def _parse_deps(cell: str):
    """deps cell 't71:NMOD||t74:PMOD' -> (dict, insertion order).

    TXPParser.parseDependency (TXPParser.java:132-144): builds a HashMap;
    we keep the insertion order alongside so javacompat can reproduce the
    HashMap iteration order used by the dep-path DFS.
    """
    if cell == "O":
        return None, ()
    deps, order = {}, []
    for d in cell.split("||"):
        parts = d.split(":")
        if len(parts) < 2:
            continue  # malformed entry: the Java throws; we skip the cell
        if parts[0] not in deps:
            order.append(parts[0])
        deps[parts[0]] = parts[1]
    return (deps, tuple(order)) if deps else (None, ())


def _parse_tap(cell: str):
    """tense_aspect_pol 'PAST+NONE+pos' (TXPParser.java:147-153)."""
    if cell in ("O", "_"):
        return "O", "O", "O"
    arr = cell.split("+")
    while len(arr) < 3:
        arr.append("O")
    return arr[0], arr[1], arr[2]


def parse_txp_lines(lines, fields=FIELDS_TEXT16, name: str = "TEXT") -> DocState:
    """TXPParser.parseLines (TXPParser.java:67-80) + parseLine (161-440).

    Hot path: this runs once per corpus row inside the extraction UDF, so
    field access is direct integer indexing (indices resolved once per
    call; short rows padded with the 'O' default once per row) instead of
    a per-cell helper - ~25%% of parse time was call overhead."""
    fidx = {f: i for i, f in enumerate(fields)}
    nf = len(fields)
    pad = ["O"] * nf
    # core fields are present in every layout; optional ones guarded by >= 0
    i_token_id = fidx["token_id"]
    i_sent_id = fidx["sent_id"]
    i_lemma = fidx["lemma"]
    i_pos = fidx["pos"]
    i_chunk = fidx["chunk"]
    i_tmx_id = fidx["tmx_id"]
    i_tmx_type = fidx["tmx_type"]
    i_tmx_value = fidx["tmx_value"]
    i_ev_id = fidx["ev_id"]
    i_ev_class = fidx["ev_class"]
    i_ner = fidx.get("ner", -1)
    i_supersense = fidx.get("supersense", -1)
    i_connective = fidx.get("connective", -1)
    i_main_verb = fidx.get("main_verb", -1)
    i_deps = fidx.get("deps", -1)
    i_tap = fidx.get("tense_aspect_pol", -1)
    i_tense = fidx.get("tense", -1)
    i_aspect = fidx.get("aspect", -1)
    i_pol = fidx.get("pol", -1)
    i_coref = fidx.get("coref_event", -1)
    i_tlink = fidx.get("tlink", -1)
    i_clink = fidx.get("clink", -1)

    doc = DocState(name=name)
    seen_tlinks: set = set()
    curr_sentence: Sentence | None = None
    curr_timex: Mention | None = None
    curr_event: Mention | None = None

    def close_entity(m: Mention):
        m.idx = doc._ent_idx
        doc._ent_idx += 1
        m.sent_id = curr_sentence.sid
        doc.entities[m.mid] = m
        curr_sentence.entity_arr.append(m.mid)

    for raw in lines:
        cols = raw.split("\t")
        if len(cols) < nf:
            cols = cols + pad[len(cols):]
        c0 = cols[0]
        if "DCT_" in c0:
            tmx_id = cols[i_tmx_id]
            typ = cols[i_tmx_type]
            if "B-" in typ or "I-" in typ:
                typ = typ[2:]
            dct = Mention(tmx_id, "TIMEX", "O", "O", tmx_type=typ,
                          tmx_value=cols[i_tmx_value], is_dct=True)
            dct.idx = doc._ent_idx
            doc._ent_idx += 1
            doc.entities[tmx_id] = dct
            doc.dct = dct
            continue
        if "ETX_" in c0:
            tmx_id = cols[i_tmx_id]
            typ = cols[i_tmx_type]
            if "B-" in typ or "I-" in typ:
                typ = typ[2:]
            etx = Mention(tmx_id, "TIMEX", "O", "O", tmx_type=typ,
                          tmx_value=cols[i_tmx_value], is_empty=True)
            etx.idx = doc._ent_idx
            doc._ent_idx += 1
            doc.entities[tmx_id] = etx
            continue
        if not c0:
            continue

        tid = cols[i_token_id]
        sent_id = cols[i_sent_id]
        pos = cols[i_pos]
        if i_tap >= 0:
            tense, aspect, pol = _parse_tap(cols[i_tap])
        else:
            tense = cols[i_tense] if i_tense >= 0 else "O"
            aspect = cols[i_aspect] if i_aspect >= 0 else "O"
            pol = cols[i_pol] if i_pol >= 0 else "O"
        idx = len(doc.token_arr)
        # hot fields via the constructor: one call instead of a dozen
        # attribute stores per token
        tok = Token(tid, sent_id, c0, idx, cols[i_lemma], pos,
                    main_pos_from_pos(pos), cols[i_chunk],
                    tense, aspect, pol)
        if i_ner >= 0:
            tok.ner = cols[i_ner]
        if i_supersense >= 0:
            tok.supersense = cols[i_supersense]
        if i_connective >= 0:
            tok.conn = cols[i_connective]
        if i_main_verb >= 0 and i_deps >= 0:
            tok.main_verb = cols[i_main_verb] == "mainVb"
            tok.deps, tok.dep_order = _parse_deps(cols[i_deps])

        doc.token_arr.append(tid)
        doc.tok_index[tid] = idx
        doc.tokens[tid] = tok

        if curr_sentence is None:
            curr_sentence = Sentence(sent_id, tid, tid)
        elif sent_id == curr_sentence.sid:
            curr_sentence.end_tok = tid
        else:
            curr_sentence.idx = len(doc.sentence_arr)
            doc.sentence_arr.append(curr_sentence.sid)
            doc.sentences[curr_sentence.sid] = curr_sentence
            curr_sentence = Sentence(sent_id, tid, tid)

        tmx_id = cols[i_tmx_id]
        ev_id = cols[i_ev_id]

        # Timex span assembly (TXPParser.java:267-305)
        if curr_timex is None and tmx_id != "O":
            tok.tmx_id = tmx_id
            typ = cols[i_tmx_type]
            if "B-" in typ or "I-" in typ:
                typ = typ[2:]
            curr_timex = Mention(tmx_id, "TIMEX", tid, tid, tmx_type=typ,
                                 tmx_value=cols[i_tmx_value])
        elif curr_timex is not None and tmx_id == curr_timex.mid:
            tok.tmx_id = tmx_id
            curr_timex.end_tok = tid
        elif curr_timex is not None and tmx_id == "O":
            close_entity(curr_timex)
            curr_timex = None
        elif curr_timex is not None and tmx_id != curr_timex.mid:
            close_entity(curr_timex)
            tok.tmx_id = tmx_id
            typ = cols[i_tmx_type]
            if "B-" in typ or "I-" in typ:
                typ = typ[2:]
            curr_timex = Mention(tmx_id, "TIMEX", tid, tid, tmx_type=typ,
                                 tmx_value=cols[i_tmx_value])

        coref = None
        if i_coref >= 0:
            cc = cols[i_coref]
            if cc not in ("O", "_"):
                coref = cc.split(":")

        # Event span assembly (TXPParser.java:313-352); note the guard
        # `tmx_id.equals("O")` on opening a new event.
        if curr_event is None and ev_id != "O" and tmx_id == "O":
            tok.ev_id = ev_id
            curr_event = Mention(ev_id, "EVENT", tid, tid,
                                 ev_class=cols[i_ev_class],
                                 tense=tense, aspect=aspect, pol=pol)
            if coref:
                curr_event.coref.extend(coref)
        elif curr_event is not None and ev_id == curr_event.mid:
            tok.ev_id = ev_id
            curr_event.end_tok = tid
        elif curr_event is not None and ev_id == "O":
            close_entity(curr_event)
            curr_event = None
        elif curr_event is not None and ev_id != curr_event.mid:
            close_entity(curr_event)
            tok.ev_id = ev_id
            curr_event = Mention(ev_id, "EVENT", tid, tid,
                                 ev_class=cols[i_ev_class],
                                 tense=tense, aspect=aspect, pol=pol)
            if coref:
                curr_event.coref.extend(coref)

        # Candidate links live only on entity-bearing rows
        # (TXPParser.java:395-437).
        if tmx_id != "O" or ev_id != "O":
            tcell = cols[i_tlink] if i_tlink >= 0 else None
            ccell = cols[i_clink] if i_clink >= 0 else None
            if tcell and tcell not in ("O", "_NULL_"):
                for t in tcell.split("||"):
                    p = t.split(":")
                    if len(p) == 3:
                        key = (p[0], p[1])
                        if key not in seen_tlinks:
                            seen_tlinks.add(key)
                            doc.tlinks.append((p[0], p[1], p[2]))
                        doc.tlink_types[p[0] + "," + p[1]] = p[2]
            if ccell and ccell not in ("O", "_NULL_"):
                for t in ccell.split("||"):
                    p = t.split(":")
                    if len(p) >= 2 and (p[0], p[1]) not in doc.clinks:
                        doc.clinks.append((p[0], p[1]))

    if curr_sentence is not None:
        curr_sentence.idx = len(doc.sentence_arr)
        doc.sentence_arr.append(curr_sentence.sid)
        doc.sentences[curr_sentence.sid] = curr_sentence

    return doc


def parse_txp_file_text(text: str, fields=FIELDS_FILE24) -> DocState:
    """TXPParser.parseDocument (TXPParser.java:39-65): 4 comment lines skipped."""
    return parse_txp_lines(text.split("\n")[4:], fields, "FILE")
