"""M2: liblinear decision values are the same on every host.

liblinear-java computes each class's decision value as a plain
left-to-right sum of ``x[j] * w[j]`` over the instance's nonzero features,
in index order, with one rounded product and one rounded add per term.
``LinearModel.predict_values`` must give the bit-identical double, whatever
BLAS kernel (and FMA use) the host CPU selects."""

import numpy as np
import pytest

from eventrelationextractor_spark.core.liblinear import shipped_model


def _java_sum(row, w, used):
    out = []
    for c in range(w.shape[1]):
        acc = 0.0
        for j in range(used):
            if row[j] != 0.0:
                acc += float(row[j]) * float(w[j, c])
        out.append(acc)
    return out


@pytest.mark.parametrize("name", ["dct", "et", "ee", "causal"])
def test_predict_values_is_left_to_right_sum(name):
    model = shipped_model(name)
    used = model.w.shape[0]
    rng = np.random.default_rng(7)
    # a few columns past the weight rows: the reference ignores them
    X = (rng.random((64, used + 3)) < min(0.5, 40 / used)).astype(np.float64)
    got = model.predict_values(X)
    want = np.array([_java_sum(r, model.w, used) for r in X])
    assert got.shape == want.shape
    assert np.array_equal(got.view(np.uint64), want.view(np.uint64))
