"""G1: per-document temporal-consistency filtering (point algebra).

A python-3 port of the *semantics* of the reference's Jython timegraph
post-filter (/root/reference/src/model/rule/TimeGraph.java:14-78 driving
tools/TempEval3-evaluation-tool/evaluation-relations/relation_to_timegraph.py):
build a point graph from weight-sorted relations, keep each relation that
is consistent with the ones accepted so far, report the violated rest.
DURING/DURING_INV are treated as SIMULTANEOUS, matching the TE3 scorer
(temporal_evaluation.py:62-75).

Interval -> point constraints (s_x < e_x implied for every interval):
BEFORE  e1 < s2      IBEFORE  e1 = s2     INCLUDES  s1 < s2, e2 < e1
BEGINS  s1 = s2, e1 < e2                  ENDS      s2 < s1, e1 = e2
SIMULTANEOUS/IDENTITY  s1 = s2, e1 = e2   (+ inverses)

``PointGraph`` keeps the point order as an explicitly closed relation.
Interval endpoints get integer ids; a union-find merges equal points, and
each class root holds two int bitmasks: its members, and every point
strictly after it (the transitive closure). So a consistency check or a
point query is O(1) mask tests; adding ``a < b`` ORs b's class and its
successors into the mask of every root at or before a, and merging two
classes ORs the merged masks into every root before either - O(classes)
big-int operations per constraint. A relation's constraints apply
atomically: writes made while a relation is being added go to an undo log,
and a relation whose second constraint fails restores only those writes.

Documents are small (<= hundreds of mentions), so the filter runs inside
the per-document UDF - no distributed graph is needed (SURVEY.md §2.8).
"""

from __future__ import annotations

# rel -> list of point constraints; each is (kind, p1, p2) with points
# ('s'|'e', which_entity) and kind '<' or '='
_CONSTRAINTS = {
    "BEFORE": (("<", ("e", 0), ("s", 1)),),
    "AFTER": (("<", ("e", 1), ("s", 0)),),
    "IBEFORE": (("=", ("e", 0), ("s", 1)),),
    "IAFTER": (("=", ("e", 1), ("s", 0)),),
    "INCLUDES": (("<", ("s", 0), ("s", 1)), ("<", ("e", 1), ("e", 0))),
    "IS_INCLUDED": (("<", ("s", 1), ("s", 0)), ("<", ("e", 0), ("e", 1))),
    "BEGINS": (("=", ("s", 0), ("s", 1)), ("<", ("e", 0), ("e", 1))),
    "BEGUN_BY": (("=", ("s", 0), ("s", 1)), ("<", ("e", 1), ("e", 0))),
    "ENDS": (("<", ("s", 1), ("s", 0)), ("=", ("e", 0), ("e", 1))),
    "ENDED_BY": (("<", ("s", 0), ("s", 1)), ("=", ("e", 0), ("e", 1))),
    "SIMULTANEOUS": (("=", ("s", 0), ("s", 1)), ("=", ("e", 0), ("e", 1))),
    "IDENTITY": (("=", ("s", 0), ("s", 1)), ("=", ("e", 0), ("e", 1))),
    "DURING": (("=", ("s", 0), ("s", 1)), ("=", ("e", 0), ("e", 1))),
    "DURING_INV": (("=", ("s", 0), ("s", 1)), ("=", ("e", 0), ("e", 1))),
}


class PointGraph:
    """Incremental strict partial order over interval endpoints, closed
    under transitivity and equality merging."""

    def __init__(self):
        self._ids: dict = {}        # ('s'|'e', entity) -> point id
        self._parent: list = []     # union-find over point ids
        self._members: list = []    # root -> bitmask of its class
        self._after: list = []      # root -> bitmask of points after it
        self._log = None            # undo log while a relation is applied

    def _set(self, arr: list, i: int, value) -> None:
        if self._log is not None:
            self._log.append((arr, i, arr[i]))
        arr[i] = value

    def _find(self, x: int) -> int:
        parent = self._parent
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            nxt = parent[x]
            self._set(parent, x, r)
            x = nxt
        return r

    def _ensure_interval(self, x) -> None:
        if ("s", x) in self._ids:
            return
        s = len(self._parent)
        e = s + 1
        self._ids[("s", x)] = s
        self._ids[("e", x)] = e
        self._parent += [s, e]
        self._members += [1 << s, 1 << e]
        self._after += [1 << e, 0]

    def _add_lt(self, a: int, b: int) -> bool:
        ra, rb = self._find(a), self._find(b)
        after = self._after
        if ra == rb or after[rb] >> a & 1:
            return False
        if after[ra] >> b & 1:      # already implied
            return True
        later = self._members[rb] | after[rb]
        bit = 1 << a
        for r in [r for r, p in enumerate(self._parent)
                  if p == r and after[r] & bit] + [ra]:
            if after[r] | later != after[r]:
                self._set(after, r, after[r] | later)
        return True

    def _add_eq(self, a: int, b: int) -> bool:
        ra, rb = self._find(a), self._find(b)
        if ra == rb:
            return True
        after = self._after
        if after[ra] >> b & 1 or after[rb] >> a & 1:
            return False
        members = self._members[ra] | self._members[rb]
        later = after[ra] | after[rb]
        self._set(self._parent, rb, ra)
        self._set(self._members, ra, members)
        self._set(after, ra, later)
        merged = members | later
        for r in [r for r, p in enumerate(self._parent)
                  if p == r and after[r] & members]:
            if after[r] | merged != after[r]:
                self._set(after, r, after[r] | merged)
        return True

    def add_relation(self, src, tgt, rel: str) -> bool:
        """Add the point constraints of ``src rel tgt`` (a ``_CONSTRAINTS``
        label) if they are consistent with the graph; return whether they
        were. Both intervals are created either way; on failure the
        constraints leave no trace."""
        self._ensure_interval(src)
        self._ensure_interval(tgt)
        ents = (src, tgt)
        self._log = []
        try:
            for kind, (p1, i1), (p2, i2) in _CONSTRAINTS[rel]:
                a = self._ids[(p1, ents[i1])]
                b = self._ids[(p2, ents[i2])]
                if not (self._add_lt(a, b) if kind == "<"
                        else self._add_eq(a, b)):
                    self._rollback()
                    return False
            return True
        finally:
            self._log = None

    def _rollback(self) -> None:
        for arr, i, old in reversed(self._log):
            arr[i] = old

    def point_rel(self, a, b) -> str:
        """Order of points ``a``, ``b`` (('s'|'e', entity) keys): '<', '=',
        '>' or 'UNKNOWN' when neither order is derivable."""
        if a == b:
            return "="
        ia, ib = self._ids.get(a), self._ids.get(b)
        if ia is None or ib is None:
            return "UNKNOWN"
        ra, rb = self._find(ia), self._find(ib)
        if ra == rb:
            return "="
        if self._after[ra] >> ib & 1:
            return "<"
        if self._after[rb] >> ia & 1:
            return ">"
        return "UNKNOWN"


def filter_consistent(relations) -> tuple:
    """relations: iterable of (src, tgt, rel) in priority order. Returns
    (kept, violated) lists; each relation is accepted only if compatible
    with everything accepted before it (first-wins, like the reference's
    weight-sorted insertion). Labels without point constraints (causal
    links, unknown labels) pass through as kept."""
    g = PointGraph()
    kept, violated = [], []
    for item in relations:
        ok = item[2] not in _CONSTRAINTS or g.add_relation(*item[:3])
        (kept if ok else violated).append(item)
    return kept, violated
