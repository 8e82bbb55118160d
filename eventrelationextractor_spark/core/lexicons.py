"""S10: lexicon scan. Loads the signal/verb dictionaries shipped with the
reference (vendored verbatim under resources/lexicons; formats per
/root/reference/src/model/feature/TemporalSignalList.java:23-47 and
CausalSignalList.java:25-50). These are a few KB: at the Spark layer they are
broadcast once per job."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from ..respath import read_resource_text
from .javacompat import java_hashmap_order


def _read_lines(res_dir, name):
    if res_dir is not None:
        with open(os.path.join(res_dir, name), encoding="utf-8") as f:
            return f.read().split("\n")
    return read_resource_text("resources", "lexicons", name).split("\n")


def _read_pairs(lines) -> dict:
    out = {}
    for line in lines:
        line = line.rstrip("\n")
        if not line:
            continue
        cols = line.split("|||")
        out[cols[0].strip()] = cols[1].strip()
    return out


@dataclass
class Lexicons:
    temporal_event: dict = field(default_factory=dict)   # variant -> cluster
    temporal_timex: dict = field(default_factory=dict)
    causal_pattern: dict = field(default_factory=dict)   # id -> regex
    causal_cluster: dict = field(default_factory=dict)   # id -> cluster
    causal_verb: dict = field(default_factory=dict)      # lemma -> cluster
    # lazily-built caches (compiled once per process, shared by all docs)
    _compiled: dict = field(default_factory=dict, repr=False)

    def gate_signal_regex(self):
        """Single alternation for the sentence gate (CauseRelPro.java:61-77;
        the keys are the numeric ids - reference bug kept)."""
        import re
        if "gate_sig" not in self._compiled:
            alt = "|".join(re.escape(k) for k in self.causal_cluster)
            self._compiled["gate_sig"] = re.compile(" (?:" + alt + ") ")
        return self._compiled["gate_sig"]

    def gate_verb_regex(self):
        import re
        if "gate_verb" not in self._compiled:
            alt = "|".join(re.escape(k).replace("\\ ", " ")
                           for k in self.causal_verb)
            self._compiled["gate_verb"] = re.compile(" (?:" + alt + ") ")
        return self._compiled["gate_verb"]

    def sorted_signal_keys(self, which: str) -> list:
        """Reverse-sorted signal variants (A7), computed once."""
        if which not in self._compiled:
            src = {"event": self.temporal_event,
                   "timex": self.temporal_timex}[which]
            self._compiled[which] = sorted(src, reverse=True)
        return self._compiled[which]

    def signal_keys_in(self, which: str, words) -> list:
        """The ``sorted_signal_keys(which)`` whose first word is in the set
        ``words``, in that order. ``" " + key + " " in ctx`` implies that
        key's first word is one of ``ctx.split(" ")``, so a caller passing
        the words of every context it tests skips only keys that cannot
        match."""
        index = self._compiled.get(("first_word", which))
        if index is None:
            index = self._compiled[("first_word", which)] = {}
            for key in self.sorted_signal_keys(which):
                index.setdefault(key.split(" ")[0], []).append(key)
        hits = []
        for w in words:
            keys = index.get(w)
            if keys is not None:
                hits += keys
        hits.sort(reverse=True)
        return hits

    def causal_plan(self) -> list:
        """(id, compiled ' pattern ' regex, leading word) per causal signal
        (marker search, X7), in the HashMap order of the ids
        (PairFeatureVector.java:1406). The leading word is the pattern's
        literal ``[a-z]+`` prefix when a plain space follows it (or it is
        the whole pattern): every match then starts with ' word ', so a
        context whose words lack it cannot match. None - always search -
        for any other pattern (id 53 ``th[ai][st] ...``) and for any
        alternation."""
        import re
        if "plan" not in self._compiled:
            plan = []
            for key in java_hashmap_order(list(self.causal_cluster)):
                raw = self.causal_pattern[key]
                lead = re.match(r"([a-z]+)(?: (?![*+?{])|$)", raw)
                plan.append((key, re.compile(" " + raw + " "),
                             lead.group(1) if lead and "|" not in raw
                             else None))
            self._compiled["plan"] = plan
        return self._compiled["plan"]


_CACHE: Lexicons | None = None


def load_lexicons(res_dir: str | None = None) -> Lexicons:
    global _CACHE
    if _CACHE is not None and res_dir is None:
        return _CACHE
    lx = Lexicons()
    lx.temporal_event = _read_pairs(_read_lines(res_dir, "temporal_signal_event.list"))
    lx.temporal_timex = _read_pairs(_read_lines(res_dir, "temporal_signal_timex.list"))
    for line in _read_lines(res_dir, "causal_signal.list"):
        line = line.rstrip("\n")
        if not line:
            continue
        cols = line.split("|||")
        lx.causal_pattern[cols[0].strip()] = cols[1].strip()
        lx.causal_cluster[cols[0].strip()] = cols[2].strip()
    lx.causal_verb = _read_pairs(_read_lines(res_dir, "causal_verb.list"))
    if res_dir is None:
        _CACHE = lx
    return lx
