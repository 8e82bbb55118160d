"""M1: in-repo liblinear trainer - L2R_L2LOSS_SVC_DUAL dual coordinate
descent (Hsieh et al., "A Dual Coordinate Descent Method for Large-scale
Linear SVM", ICML 2008 - the public algorithm liblinear implements),
reproducing liblinear-java 1.95 step for step:

* ``Linear.train``: one-vs-rest over classes grouped by first occurrence,
  instances permuted class-contiguously (stable within class), one SHARED
  java.util.Random(0) stream across all per-class solves
  (``Linear.resetRandom`` semantics);
* ``solve_l2r_l1l2_svc``: shrinking heuristic with PGmax/PGmin window,
  per-outer-iteration Fisher-Yates permutation of the active set driven
  by ``random.nextInt``, D_ii = 0.5/C diagonal (L2 loss), unbounded
  alpha, eps = 0.01, max_iter = 1000;
* dot products and w updates accumulate over the sparse nonzeros in
  index order (python floats ARE IEEE doubles), so the trained weights
  match the liblinear-java golden bit-for-bit after its %.16g model
  serialization (tests/golden/trained_*.model,
  tests/test_lltrain.py).

The reference's exact training call is
EventEventRelationClassifier.java:148-167: SolverType.L2R_L2LOSS_SVC_DUAL,
C=1.0, eps=0.01, problem.bias=1.0: the constants below.
"""

from __future__ import annotations

import numpy as np

C = 1.0
EPS = 0.01
BIAS = 1.0
MAX_ITER = 1000

_MASK48 = (1 << 48) - 1
_MULT = 0x5DEECE66D
_ADD = 0xB


class JavaRandom:
    """java.util.Random LCG (public algorithm, JDK spec)."""

    def __init__(self, seed: int = 0):
        self.seed = (seed ^ _MULT) & _MASK48

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * _MULT + _ADD) & _MASK48
        return self.seed >> (48 - bits)

    def next_int(self, bound: int) -> int:
        if bound <= 0:
            raise ValueError("bound must be positive")
        if (bound & -bound) == bound:          # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < (1 << 31):
                return val


def parse_libsvm(lines, bias: float = 1.0):
    """libsvm text rows -> (y list, sparse rows [(idx0, val), ...], n).

    Mirrors Problem.readFromFile: n = max feature index (+1 when bias >=
    0, the appended bias feature); returns 0-based indices."""
    ys, rows, max_idx = [], [], 0
    for line in lines:
        parts = line.split()
        if not parts:
            continue
        ys.append(float(parts[0]))
        row = []
        for tok in parts[1:]:
            idx, val = tok.split(":")
            row.append((int(idx) - 1, float(val)))
            max_idx = max(max_idx, int(idx))
        rows.append(row)
    n = max_idx
    if bias >= 0:
        n += 1
        for row in rows:
            row.append((n - 1, bias))
    return ys, rows, n


def _solve_l2r_l2loss_svc_dual(rows, y_signs, n, rng):
    """One binary solve; returns w (python list, length n)."""
    l = len(rows)
    w = [0.0] * n
    alpha = [0.0] * l
    diag = 0.5 / C
    upper = float("inf")
    QD = []
    for i in range(l):
        qd = diag
        for _, v in rows[i]:
            qd += v * v
        QD.append(qd)
    index = list(range(l))
    active_size = l
    PGmax_old, PGmin_old = float("inf"), float("-inf")
    it = 0
    while it < MAX_ITER:
        PGmax_new, PGmin_new = float("-inf"), float("inf")
        for i in range(active_size):
            j = i + rng.next_int(active_size - i)
            index[i], index[j] = index[j], index[i]
        s = 0
        while s < active_size:
            i = index[s]
            yi = y_signs[i]
            G = 0.0
            for idx, v in rows[i]:
                G += w[idx] * v
            G = G * yi - 1.0 + alpha[i] * diag
            PG = 0.0
            if alpha[i] == 0.0:
                if G > PGmax_old:
                    active_size -= 1
                    index[s], index[active_size] = index[active_size], index[s]
                    continue
                if G < 0.0:
                    PG = G
            elif alpha[i] == upper:
                if G < PGmin_old:
                    active_size -= 1
                    index[s], index[active_size] = index[active_size], index[s]
                    continue
                if G > 0.0:
                    PG = G
            else:
                PG = G
            PGmax_new = max(PGmax_new, PG)
            PGmin_new = min(PGmin_new, PG)
            if abs(PG) > 1e-12:
                alpha_old = alpha[i]
                alpha[i] = min(max(alpha[i] - G / QD[i], 0.0), upper)
                d = (alpha[i] - alpha_old) * yi
                for idx, v in rows[i]:
                    w[idx] += d * v
            s += 1
        it += 1
        if PGmax_new - PGmin_new <= EPS:
            if active_size == l:
                break
            active_size = l
            PGmax_old, PGmin_old = float("inf"), float("-inf")
            continue
        PGmax_old = PGmax_new if PGmax_new > 0 else float("inf")
        PGmin_old = PGmin_new if PGmin_new < 0 else float("-inf")
    return w


def train(lines):
    """Full Linear.train for L2R_L2LOSS_SVC_DUAL: returns a
    liblinear.LinearModel equivalent to the model file liblinear-java
    would save (same label order, same weight layout)."""
    from .liblinear import LinearModel

    ys, rows, n = parse_libsvm(lines, BIAS)
    l = len(rows)
    # groupClasses: labels by first occurrence
    label_order: list[int] = []
    counts: dict[int, int] = {}
    for yv in ys:
        iv = int(yv)
        if iv not in counts:
            label_order.append(iv)
            counts[iv] = 0
        counts[iv] += 1
    nr_class = len(label_order)
    # liblinear-java groupClasses special case (Linear.java 1.95): for
    # binary data labeled -1/+1 with -1 first, the label columns swap so
    # +1 is the internal positive class. The repo's TEMP_LABELS never hit
    # this (1-indexed), but the helper is public.
    if nr_class == 2 and label_order == [-1, 1]:
        label_order = [1, -1]
    start = {}
    acc = 0
    for lab in label_order:
        start[lab] = acc
        acc += counts[lab]
    perm = [0] * l
    fill = dict(start)
    for i, yv in enumerate(ys):
        lab = int(yv)
        perm[fill[lab]] = i
        fill[lab] += 1
    sub_rows = [rows[perm[i]] for i in range(l)]

    rng = JavaRandom(0)          # Linear.resetRandom: one shared stream
    if nr_class == 2:
        si, ei = 0, counts[label_order[0]]
        y_signs = [1 if si <= k < ei else -1 for k in range(l)]
        w_cols = [_solve_l2r_l2loss_svc_dual(sub_rows, y_signs, n, rng)]
    else:
        w_cols = []
        for lab in label_order:
            si = start[lab]
            ei = si + counts[lab]
            y_signs = [1 if si <= k < ei else -1 for k in range(l)]
            w_cols.append(_solve_l2r_l2loss_svc_dual(sub_rows, y_signs, n,
                                                     rng))
    w = np.array(w_cols, dtype=np.float64).T       # (n, nr_w)
    return LinearModel("L2R_L2LOSS_SVC_DUAL", nr_class, label_order,
                       n - 1, BIAS, w)
