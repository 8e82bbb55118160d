"""S11/M2: liblinear text-model loading and dense multiclass prediction.

Replicates de.bwaldvogel.liblinear Linear.predict exactly as the reference
drives it (EventEventRelationClassifier.predict, lines 274-314):

* the model file stores ``nr_feature`` (+1 bias) rows of ``nr_class``
  weights, columns ordered by the header's ``label`` array;
* the reference does NOT append a bias feature node, so with bias >= 0 the
  feature at 1-based index nr_feature+1 is multiplied by the bias row and
  features beyond that are silently ignored - we reproduce that truncation;
* ties pick the first class in label-array order (strict '>' in liblinear);
* the predicted label value v maps to the pipeline's string label via
  ``label_names[v-1]`` (EventEventRelationClassifier.java:307).

Prediction is numpy over a dense feature matrix; at the Spark layer it runs
inside an Arrow-batched pandas UDF over the broadcast (W, labels) pair.
"""

from __future__ import annotations

import io

import numpy as np

from ..respath import read_resource_text

# string label vocabularies indexed by the 1-based numeric label value
TEMP_LABELS = ("BEFORE", "AFTER", "IBEFORE", "IAFTER", "IDENTITY",
               "SIMULTANEOUS", "INCLUDES", "IS_INCLUDED", "DURING",
               "DURING_INV", "BEGINS", "BEGUN_BY", "ENDS", "ENDED_BY")
CAUS_LABELS = ("CLINK", "CLINK-R", "NONE")


class LinearModel:
    __slots__ = ("solver", "nr_class", "labels", "nr_feature", "bias", "w")

    def __init__(self, solver, nr_class, labels, nr_feature, bias, w):
        self.solver = solver
        self.nr_class = nr_class
        self.labels = labels          # numeric label values, column order
        self.nr_feature = nr_feature
        self.bias = bias
        self.w = w                    # (nr_feature [+1 if bias>=0], nr_class)

    def predict_values(self, X: np.ndarray) -> np.ndarray:
        """Decision values, columns in model-label order.

        Each row's ``x[j] * w[j]`` is summed left to right in feature
        order, one rounded product and one rounded add per term, as
        liblinear-java does. A BLAS matmul would pick its summation order
        and FMA use by host CPU, and move the last ulp from host to
        host. Columns that are zero in every row are skipped; a zero
        term in one row adds a signed zero, which leaves its sum as is."""
        n = self.nr_feature + (1 if self.bias >= 0 else 0)
        X = X[:, :min(X.shape[1], n)]
        acc = np.zeros((X.shape[0], self.w.shape[1]))
        for j in np.flatnonzero(X.any(axis=0)):
            acc += X[:, j, None] * self.w[j]
        return acc

    def predict_label_values(self, X: np.ndarray) -> np.ndarray:
        """Numeric label values (ties -> first label column, as liblinear)."""
        if X.shape[0] == 0:
            return np.empty(0, dtype=np.int64)
        scores = self.predict_values(X)
        if len(self.labels) == 2 and scores.shape[1] == 1:
            # binary models store ONE weight column: label[0] iff dec > 0
            # (liblinear Linear.predict)
            idx = (scores[:, 0] <= 0).astype(int)
        else:
            idx = np.argmax(scores, axis=1)  # first max wins, as liblinear
        return np.asarray(self.labels)[idx]

    def predict_strings(self, X: np.ndarray, label_names) -> list:
        return [label_names[v - 1] for v in self.predict_label_values(X)]

    PROBABILITY_SOLVERS = ("L2R_LR", "L2R_LR_DUAL", "L1R_LR")

    def predict_probabilities(self, X: np.ndarray,
                              force: bool = False) -> np.ndarray:
        """M3 (EventEventRelationClassifier.predictProbs:358-403 calling
        liblinear-java 1.95 Linear.predictProbability): per-class logistic
        squash 1/(1+exp(-dec)) over the decision values, then for
        nr_class==2 prob[1]=1-prob[0], else normalize by the sum - NOT a
        softmax; columns in model-label order.

        Like Model.isProbabilityModel() in liblinear-java, this refuses
        non-logistic solvers (the shipped L2R_L2LOSS_SVC_DUAL models make
        the reference's predictProbs path throw
        IllegalArgumentException - it is experimental dead code there).
        ``force=True`` applies the same formula anyway for callers that
        want calibrated-ish scores from the SVC models."""
        if self.solver not in self.PROBABILITY_SOLVERS and not force:
            raise ValueError(
                f"probability output is only supported for logistic "
                f"regression (solver is {self.solver!r}); pass force=True "
                f"to apply the liblinear formula regardless")
        scores = self.predict_values(X)
        prob = 1.0 / (1.0 + np.exp(-scores))
        if self.nr_class == 2:
            # binary models store ONE weight column (nr_w == 1): the
            # second class's probability is the complement, no
            # normalization (Linear.predictProbability)
            prob = np.concatenate([prob[:, :1], 1.0 - prob[:, :1]], axis=1)
        else:
            prob = prob / prob.sum(axis=1, keepdims=True)
        return prob


def load_model(path: str) -> LinearModel:
    with open(path, encoding="utf-8") as f:
        return _parse_model(f)


def _parse_model(f) -> LinearModel:
    header = {}
    labels = []
    for line in f:
        parts = line.split()
        if not parts:
            continue
        if parts[0] == "w":
            break
        if parts[0] == "label":
            labels = [int(x) for x in parts[1:]]
        else:
            header[parts[0]] = parts[1]
    nr_class = int(header["nr_class"])
    nr_feature = int(header["nr_feature"])
    bias = float(header.get("bias", "-1"))
    rows = nr_feature + (1 if bias >= 0 else 0)
    w = np.empty((rows, nr_class), dtype=np.float64)
    r = 0
    for line in f:
        vals = line.split()
        if not vals:
            continue
        w[r] = [float(v) for v in vals[:nr_class]]
        r += 1
        if r == rows:
            break
    return LinearModel(header.get("solver_type", ""), nr_class, labels,
                       nr_feature, bias, w)


_MODEL_CACHE: dict = {}


def shipped_model(name: str) -> LinearModel:
    """Load one of the vendored reference models by short name:
    'dct' | 'et' | 'ee' | 'causal'."""
    if name not in _MODEL_CACHE:
        fname = {"dct": "temprelpro-dct.model", "et": "temprelpro-et.model",
                 "ee": "temprelpro-ee.model", "causal": "causerelpro.model"}[name]
        text = read_resource_text("resources", "models", fname)
        _MODEL_CACHE[name] = _parse_model(io.StringIO(text))
    return _MODEL_CACHE[name]
