"""X11: one-hot feature vectorization in classifier featureList order.

Vocabularies are copied from /root/reference/src/model/feature/
PairFeatureVector.java:39-88; block semantics from the
addBinaryFeatureToVector switch (2615-3373). Three fixed layouts are
produced, matching the shipped liblinear featureLists (each matrix ends
with the label column):

* ET    (EventTimexRelationClassifier.java:83):    eventClass, tense,
  aspect, polarity                                           -> 19 cols;
  TempRelPro runs the E-DCT model on this list too (TempRelPro.java:511-512)
* EE    (EventEventRelationClassifier.java:61-86)            -> 269 cols
* CAUSAL(EventEventCausalClassifier.java:44-67) + the 14-wide tlink one-hot
  appended by CauseRelPro.java:213                           -> 377 cols

Replicated quirks:
* pos/chunk blocks use substring containment, not equality (2632-2641);
* tempSignalPos / tempSignal2Pos compare the marker position *vocabulary*
  against the marker CLUSTER (2947, 3003-3015) - faithful to the Java;
* wnSim is the discretized Lin similarity; ws4j is absent from the
  reference build we parity-test against, so it is the constant 0.0 bucket
  (EventEventFeatureVector.java:46-66).

How a matrix is built. ``et_vector``, ``ee_vector`` and ``causal_vector``
take one sieve group - every pair of a document that reaches that
classifier - and return its float64 matrix. The pipeline calls them only
after the rule sieves and the causal signal gate have run, so no row is
built for a pair that never reaches a model, and a document whose pairs
are all rule-decided builds nothing. The first call on a document starts
its mention encoding (``doc.memo['feature_codes']``): each mention that
reaches a classifier is encoded once, as one row of its pos/chunk
containment one-hots, eventClass/tense/aspect/polarity, mainVerb and
hasModal, plus integer codes of the attributes the same* and distance
features compare. A group's per-mention blocks are then numpy row
selections of that table. The per-pair blocks (dependency path, signal
markers, wnSim, tlink type, label) are one-hots of strings, cached per
(string, vocabulary); the markers and dependency paths themselves are
memoized per entity or per pair in ``doc.memo`` by core.markers and
core.deps, so the rule sieves, the causal gate and the features share
them. Blocks are joined with ``hstack`` in featureList column order.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from . import deps, markers
from .docmodel import DocState, Mention
from .liblinear import CAUS_LABELS, TEMP_LABELS

POS = ("AJ0", "AJC", "AJS", "AT0", "AV0", "AVP", "AVQ", "CJC", "CJS", "CJT",
       "CRD", "DPS", "DT0", "DTQ", "EX0", "ITJ", "NN0", "NN1", "NN2", "NP0",
       "ORD", "PNI", "PNP", "PNQ", "PNX", "POS", "PRF", "PRP", "PUL", "PUN",
       "PUQ", "PUR", "TO0", "UNC", "VBB", "VBD", "VBG", "VBI", "VBN", "VBZ",
       "VDB", "VDD", "VDG", "VDI", "VDN", "VDZ", "VHB", "VHD", "VHG", "VHI",
       "VHN", "VHZ", "VM0", "VVB", "VVD", "VVG", "VVI", "VVN", "VVZ", "XX0",
       "ZZ0")
CHUNK = ("B-VP", "I-VP", "B-NP", "I-NP", "B-ADJP", "I-ADJP", "B-ADVP",
         "I-ADVP", "B-PP", "I-PP", "B-SBAR", "I-SBAR")
EV_CLASS = ("REPORTING", "PERCEPTION", "ASPECTUAL", "I_ACTION", "I_STATE",
            "STATE", "OCCURRENCE")
EV_TENSE = ("PAST", "PRESENT", "FUTURE", "NONE", "INFINITIVE", "PRESPART",
            "PASTPART")
EV_ASPECT = ("PROGRESSIVE", "PERFECTIVE", "PERFECTIVE_PROGRESSIVE", "NONE")
MARKER_POSITION = ("BETWEEN", "BEFORE", "AFTER", "BEGIN", "BEGIN-BETWEEN",
                   "BEGIN-BEFORE")
TEMP_SIGNAL_EVENT = ("as soon as", "as long as", "at the same time",
                     "followed by", "prior to", "still", "during", "while",
                     "when", "immediately", "after", "until", "if",
                     "eventually", "then", "finally", "afterwards",
                     "initially", "next", "once", "since", "simultaneously",
                     "formerly", "former", "meanwhile", "later", "into",
                     "follow", "earlier", "previously", "before", "as",
                     "already")
TEMP_SIGNAL_TIMEX = ("at", "by", "in", "on", "for", "from", "to", "during",
                     "between", "after", "before", "up to", "within", "until",
                     "since", "still", "recently", "formerly", "former",
                     "early", "over", "next", "later", "lately",
                     "immediately", "earlier", "ago")
CAUS_SIGNAL = ("so that", "because of", "due to", "in consequence of",
               "in response to", "in exchange for", "in response",
               "in order to", "as a result of", "as a result", "for reason",
               "is why", "therefore", "because", "since", "as", "so", "by",
               "from")
DEP_EVENT_PATH = ("COORD-CONJ", "TMP-SUB", "OPRD", "OPRD-IM", "OBJ-SUB",
                  "ADV", "OBJ", "SBJ", "ADV-SUB", "VC", "LGS-PMOD",
                  "ADV-PMOD", "LOC-PMOD", "CONJ-COORD", "SUB-TMP", "IM-OPRD",
                  "SUB-OBJ", "SUB-ADV", "PMOD-LGS", "PMOD-ADV", "PMOD-LOC")
DEP_SIGNAL_PATH = ("SBJ", "OBJ", "OPRD", "IM", "ADV", "PRP", "SUB", "PRD",
                   "TMP", "PMOD", "LGS", "DEP", "LOC", "APPO")
TLINK_TYPES = TEMP_LABELS  # the 14 TLINK types, same order


@lru_cache(maxsize=8192)
def _onehot(value, vocab: tuple, contains: bool = False) -> tuple:
    """One block for one string: 1.0 where the vocabulary entry equals
    ``value`` (or, with ``contains``, is a substring of it)."""
    if contains:
        return tuple(1.0 if s in value else 0.0 for s in vocab)
    return tuple(1.0 if s == value else 0.0 for s in vocab)


def _rows(rows: list, width: int) -> np.ndarray:
    """Per-pair tuples -> an (n, width) float64 block."""
    return np.array(rows, dtype=np.float64).reshape(len(rows), width)


def _label_value(label: str, vocab) -> float:
    if label == "END":
        label = "ENDS"
    try:
        return float(vocab.index(label) + 1)
    except ValueError:
        return 0.0


_WORDNET = None
_WORDNET_CHECKED = False


def set_wordnet(db) -> None:
    """Enable real Lin similarity (X10) with a core.wordnet.WordNetDB, or
    disable with None. Default off: the golden-parity reference build
    stubs ws4j, so parity requires the constant 0.0 bucket."""
    global _WORDNET, _WORDNET_CHECKED
    _WORDNET = db
    _WORDNET_CHECKED = True


def _wordnet():
    global _WORDNET, _WORDNET_CHECKED
    if not _WORDNET_CHECKED:
        _WORDNET_CHECKED = True
        import os
        path = os.environ.get("ERE_SPARK_WNDB")
        if path:
            from .wordnet import WordNetDB
            ic = os.environ.get("ERE_SPARK_WNIC")
            _WORDNET = WordNetDB.load(path, ic)
    return _WORDNET


def wn_similarity_bucket(lemma1: str, lemma2: str) -> float:
    """Discretized Lin similarity (EventEventFeatureVector.java:60-66).

    The reference build we parity against stubs ws4j (the jar is not
    shipped), so the similarity is 0.0 -> bucket 0.0 for every pair.
    With a WordNet database configured (``set_wordnet`` /
    ``ERE_SPARK_WNDB``+``ERE_SPARK_WNIC`` env vars, picked up lazily in
    each Spark executor) the real Lin computation runs instead - see
    core.wordnet."""
    db = _wordnet()
    if db is None:
        return 0.0
    from .wordnet import discretize
    return discretize(db.lin(lemma1, lemma2))


def _wn_values(doc: DocState, pairs) -> list:
    if _wordnet() is None:
        return [0.0] * len(pairs)
    return [wn_similarity_bucket(deps.token_attr(doc, p[0], "lemma"),
                                 deps.token_attr(doc, p[1], "lemma"))
            for p in pairs]


# per-mention table columns: pos | chunk | eventClass tense aspect polarity
# | mainVerb | hasModal
_POS = slice(0, len(POS))
_CHUNK = slice(_POS.stop, _POS.stop + len(CHUNK))
_CLASS = slice(_CHUNK.stop, _CHUNK.stop + len(EV_CLASS))
_TENSE = slice(_CLASS.stop, _CLASS.stop + len(EV_TENSE))
_ASPECT = slice(_TENSE.stop, _TENSE.stop + len(EV_ASPECT))
_POLARITY = slice(_ASPECT.stop, _ASPECT.stop + 1)
_MAIN_VERB = slice(_POLARITY.stop, _POLARITY.stop + 1)
_HAS_MODAL = slice(_MAIN_VERB.stop, _MAIN_VERB.stop + 1)
_EVENT_ATTRS = slice(_CLASS.start, _POLARITY.stop)
_MENTION_WIDTH = _HAS_MODAL.stop
_NO_EVENT = (0.0,) * (_MENTION_WIDTH - _CLASS.start)
# per-mention key columns (integer codes)
_K_POS, _K_CLASS, _K_TENSE, _K_ASPECT, _K_POL, _K_SID, _K_SENT, _K_ENT = \
    range(8)


class _MentionCodes:
    """One document's mention encoding, grown as mentions reach a
    classifier: ``table`` rows are per-mention feature blocks, ``keys``
    rows the integer codes (strings interned per document) that the
    same*/distance features compare."""
    __slots__ = ("index", "rows", "keys", "strings", "table", "key_table")

    def __init__(self):
        self.index: dict = {}       # mention id -> row
        self.rows: list = []
        self.keys: list = []
        self.strings: dict = {}
        self.table = self.key_table = None

    def _code(self, s) -> int:
        return self.strings.setdefault(s, len(self.strings))

    def _add(self, doc: DocState, e: Mention) -> None:
        pos = deps.token_attr(doc, e, "pos")
        row = (_onehot(pos, POS, True)
               + _onehot(deps.token_attr(doc, e, "chunk"), CHUNK, True))
        attrs = (None,) * 4
        sent = doc.sentences.get(e.sent_id)
        if e.kind == "EVENT":
            attrs = tuple(deps.entity_attr(doc, e, f) for f in
                          ("eventClass", "tense", "aspect", "polarity"))
            cls, tense, aspect, pol = attrs
            row += (_onehot(cls, EV_CLASS) + _onehot(tense, EV_TENSE)
                    + _onehot(aspect, EV_ASPECT)
                    + (0.0 if pol == "neg" else 1.0,
                       1.0 if deps.mate_main_verb(doc, e) == "MAIN" else 0.0,
                       0.0 if deps.mate_modal_verb(doc, e.start_tok) == "O"
                       else 1.0))
        else:
            row += _NO_EVENT
        self.index[e.mid] = len(self.rows)
        self.rows.append(row)
        self.keys.append(tuple(self._code(s) for s in (pos,) + attrs)
                         + (self._code(sent.sid if sent else None),
                            sent.idx if sent else -1, e.idx))
        self.table = self.key_table = None

    def lookup(self, doc: DocState, mentions) -> np.ndarray:
        """Row indices of ``mentions``, encoding the ones not seen yet."""
        index = self.index
        for e in mentions:
            if e.mid not in index:
                self._add(doc, e)
        if self.table is None:
            self.table = _rows(self.rows, _MENTION_WIDTH)
            self.key_table = np.array(self.keys, dtype=np.int64).reshape(
                len(self.keys), _K_ENT + 1)
        return np.array([index[e.mid] for e in mentions], dtype=np.intp)


def _encoded(doc: DocState, mentions: list) -> tuple:
    """(table rows, key rows) of ``mentions`` from the document's mention
    encoding, started on first use."""
    codes = doc.memo.get("feature_codes")
    if codes is None:
        codes = doc.memo["feature_codes"] = _MentionCodes()
    idx = codes.lookup(doc, mentions)
    return codes.table[idx], codes.key_table[idx]


def et_vector(doc: DocState, pairs) -> np.ndarray:
    """Feature matrix for event-timex pairs ``[(event, timex, label)]`` in
    the ET featureList, which both event-timex models use."""
    ev, _ = _encoded(doc, [p[0] for p in pairs])
    label = _rows([(_label_value(p[2], TEMP_LABELS),) for p in pairs], 1)
    return np.hstack((ev[:, _EVENT_ATTRS], label))


_PAIR_SCALARS = 6   # samePos entDistance sentDistance sameEventClass
#                     sameTenseAspect samePolarity


def _ee_columns(tail_width: int) -> np.ndarray:
    """Column gather from hstack((mention-1 rows, mention-2 rows, pair
    scalars, per-pair strings)) into EE-family featureList order. The
    per-pair strings are the dependency-path one-hot followed by
    ``tail_width`` more columns."""
    t1, t2 = 0, _MENTION_WIDTH
    pair = 2 * _MENTION_WIDTH
    path = pair + _PAIR_SCALARS
    tail = path + len(DEP_EVENT_PATH)

    def cols(base, sl):
        return range(base + sl.start, base + sl.stop)
    order = [cols(t1, _POS), cols(t2, _POS), [pair],
             cols(t1, _CHUNK), cols(t2, _CHUNK), [pair + 1, pair + 2],
             cols(t1, _CLASS), cols(t2, _CLASS),
             cols(t1, _TENSE), cols(t2, _TENSE),
             cols(t1, _ASPECT), cols(t2, _ASPECT),
             cols(t1, _POLARITY), cols(t2, _POLARITY),
             [pair + 3, pair + 4, pair + 5], range(path, tail),
             cols(t1, _MAIN_VERB), cols(t2, _MAIN_VERB),
             cols(t1, _HAS_MODAL), cols(t2, _HAS_MODAL),
             range(tail, tail + tail_width)]
    return np.array([c for block in order for c in block], dtype=np.intp)


def _ee_matrix(doc: DocState, pairs, strings: list,
               columns: np.ndarray) -> np.ndarray:
    """An EE-family matrix: the per-mention blocks and pair scalars come
    from the mention encoding; ``strings`` holds each pair's one-hot row
    (dependency path first, label last)."""
    n = len(pairs)
    rows, keys = _encoded(doc, [p[0] for p in pairs] + [p[1] for p in pairs])
    t1, t2, k1, k2 = rows[:n], rows[n:], keys[:n], keys[n:]
    same = k1 == k2
    scalars = np.empty((n, _PAIR_SCALARS))
    scalars[:, 0] = same[:, _K_POS]
    scalars[:, 1] = np.sign(np.where(
        same[:, _K_SID], np.abs(k1[:, _K_ENT] - k2[:, _K_ENT]) - 1, -1))
    scalars[:, 2] = np.sign(np.abs(k1[:, _K_SENT] - k2[:, _K_SENT]))
    scalars[:, 3] = same[:, _K_CLASS]
    scalars[:, 4] = same[:, _K_TENSE] & same[:, _K_ASPECT]
    scalars[:, 5] = same[:, _K_POL]
    width = len(columns) - 2 * _MENTION_WIDTH - _PAIR_SCALARS
    return np.hstack((t1, t2, scalars, _rows(strings, width)))[:, columns]


_EE_TAIL = (len(TEMP_SIGNAL_EVENT) + len(MARKER_POSITION)
            + len(DEP_SIGNAL_PATH) + 2)                # ... wnSim, label
_EE_COLUMNS = _ee_columns(_EE_TAIL)


def ee_vector(doc: DocState, pairs, lexicons) -> np.ndarray:
    """Feature matrix for temporal event-event pairs ``[(e1, e2, label)]``
    (EE featureList)."""
    strings = []
    for (e1, e2, label), wn in zip(pairs, _wn_values(doc, pairs)):
        m = markers.get_temporal_signal_per_entity(doc, e2, lexicons)
        strings.append(
            _onehot(deps.ee_dependency_path(doc, e1, e2), DEP_EVENT_PATH)
            + _onehot(m.cluster, TEMP_SIGNAL_EVENT)     # tempSignal2ClusText
            + _onehot(m.cluster, MARKER_POSITION)       # tempSignal2Pos
            + _onehot(m.dep1 or "", DEP_SIGNAL_PATH, True)
            + (wn, _label_value(label, TEMP_LABELS)))
    return _ee_matrix(doc, pairs, strings, _EE_COLUMNS)


_NO_SIGNAL_DEPS = (0.0,) * (2 * len(DEP_SIGNAL_PATH))


def _signal_deps(m) -> tuple:
    """Dep1Dep2 block of a pair marker: empty without a signal cluster."""
    if m.cluster == "O" or m.cluster is None:
        return _NO_SIGNAL_DEPS
    return (_onehot(m.dep1 or "", DEP_SIGNAL_PATH, True)
            + _onehot(m.dep2 or "", DEP_SIGNAL_PATH, True))


_CAUSAL_TAIL = (len(TEMP_SIGNAL_TIMEX) + len(TEMP_SIGNAL_EVENT)
                + len(MARKER_POSITION) + len(CAUS_SIGNAL)
                + len(MARKER_POSITION) + 2 * len(_NO_SIGNAL_DEPS)
                + 1 + len(TLINK_TYPES) + 1)     # ... wnSim, tlink, label
_CAUSAL_COLUMNS = _ee_columns(_CAUSAL_TAIL)


def causal_vector(doc: DocState, pairs, lexicons) -> np.ndarray:
    """Feature matrix for causal event-event pairs
    ``[(e1, e2, label, tlink_type)]`` (causal liblinear featureList,
    EventEventCausalClassifier.java:70-106, + tlink one-hot + labelCaus;
    CauseRelPro.java:196-216)."""
    strings = []
    for (e1, e2, label, tlink_type), wn in zip(pairs, _wn_values(doc, pairs)):
        tm = markers.get_temporal_signal(doc, e1, e2, lexicons)
        cm = markers.get_causal_signal(doc, e1, e2, lexicons)
        # an 'O'/None cluster or 'O' position matches no vocabulary entry,
        # so the causSignal blocks are empty exactly as the Java leaves them
        strings.append(
            _onehot(deps.ee_dependency_path(doc, e1, e2), DEP_EVENT_PATH)
            + _onehot(tm.cluster, TEMP_SIGNAL_TIMEX)    # tempSignalClusText
            + _onehot(tm.cluster, TEMP_SIGNAL_EVENT)
            + _onehot(tm.cluster, MARKER_POSITION)      # tempSignalPos
            + _signal_deps(tm)                          # tempSignalDep1Dep2
            + _onehot(cm.cluster, CAUS_SIGNAL)          # causSignalClusText
            + _onehot(cm.position, MARKER_POSITION)     # causSignalPos
            + _signal_deps(cm)                          # causSignalDep1Dep2
            + (wn,) + _onehot(tlink_type, TLINK_TYPES)
            + (_label_value(label, CAUS_LABELS),))
    return _ee_matrix(doc, pairs, strings, _CAUSAL_COLUMNS)


def to_matrix(rows: list) -> np.ndarray:
    """Stack feature rows (label column included) into a float64 matrix."""
    if not rows:
        return np.empty((0, 0), dtype=np.float64)
    return np.asarray(rows, dtype=np.float64)


def _java_double(v: float) -> str:
    """java.lang.String.valueOf(double) for the value shapes we emit
    (integral and short decimal doubles): 1.0 -> '1.0', 0.25 -> '0.25'."""
    return repr(float(v))


def to_libsvm(vec) -> str:
    """printLibSVMVectors (PairFeatureVector.java:218-230): label first
    (the raw integer label column), then 1-based idx:value for values > 0."""
    parts = [str(int(vec[-1]))]
    for i, v in enumerate(vec[:-1]):
        if v > 0:
            parts.append(f"{i + 1}:{_java_double(v)}")
    return parts[0] + " " + " ".join(parts[1:]) if len(parts) > 1 else parts[0]
