"""Golden parity: our pure-Python core vs the reference engine's actual
outputs on its own bundled fixtures (see tests/golden/README.md).

These assert EXACT equality (P = R = 1.0), which is stronger than the
BASELINE.md target of P/R >= 0.95.
"""

import pytest

from eventrelationextractor_spark.core import features
from eventrelationextractor_spark.core.deps import (ee_dependency_path,
                                                    et_dependency_path,
                                                    pair_order)
from eventrelationextractor_spark.core.docmodel import (FIELDS_FILE24,
                                                        FIELDS_FILE28,
                                                        FIELDS_TEXT16,
                                                        FIELDS_TEXT18,
                                                        parse_txp_file_text,
                                                        parse_txp_lines)
from eventrelationextractor_spark.core.eventrules import event_causality_rule
from eventrelationextractor_spark.core.lexicons import load_lexicons
from eventrelationextractor_spark.core.markers import (get_causal_signal,
                                                       get_causal_verb)
from eventrelationextractor_spark.core.pipeline import (_candidate_groups,
                                                        causal_candidate_pairs,
                                                        causal_triples,
                                                        temporal_triples,
                                                        timex_timex_rule_links)
from eventrelationextractor_spark.core.timexrule import inverse_relation

from conftest import fixture_path, golden_rows


def _load_doc(name):
    if name == "sample_temporal":
        lines = open(fixture_path("sample_temporal.txp")).read().rstrip("\n").split("\n")
        return parse_txp_lines(lines, FIELDS_TEXT16)
    if name == "sample_causal":
        lines = open(fixture_path("sample_causal.txp")).read().rstrip("\n").split("\n")
        return parse_txp_lines(lines, FIELDS_TEXT18)
    layout = FIELDS_FILE28 if name.endswith("causal28") else FIELDS_FILE24
    fname = name.replace("causal28", "").rstrip("_") or name
    return parse_txp_file_text(open(fixture_path(fname + ".tml.txp")).read(), layout)


@pytest.mark.parametrize("doc_name,golden", [
    ("sample_temporal", "sample_temporal_predictions.tsv"),
    ("bbc_20130322_721", "bbc_20130322_721_temporal_predictions.tsv"),
    ("wsj_1014", "wsj_1014_temporal_predictions.tsv"),
])
def test_temporal_predictions_exact(doc_name, golden):
    doc = _load_doc(doc_name)
    mine = {(t.source, t.target, t.rel) for t in temporal_triples(doc)}
    gold = set(golden_rows(golden))
    assert mine == gold


@pytest.mark.parametrize("doc_name,golden", [
    ("bbc_20130322_721", "bbc_20130322_721_ttlinks.tsv"),
    ("wsj_1014", "wsj_1014_ttlinks.tsv"),
])
def test_ttlinks_exact(doc_name, golden):
    doc = _load_doc(doc_name)
    tt = timex_timex_rule_links(doc)
    mine = {(a + "\t" + b, rel) for (a, b), rel in tt.items()}
    gold = {(r[0] + "\t" + r[1], r[2]) for r in golden_rows(golden)}
    assert mine == gold


def test_causal_predictions_sample():
    doc = _load_doc("sample_causal")
    mine = {(t.source, t.target, t.rel)
            for t in causal_triples(doc, {"e39,e41": "BEFORE"})}
    assert mine == set(golden_rows("sample_causal_predictions.tsv"))


def test_causal_predictions_wsj():
    doc = _load_doc("wsj_1014_causal28")
    mine = {(t.source, t.target, t.rel) for t in causal_triples(doc)}
    assert mine == set(golden_rows("wsj_1014_causal_predictions.tsv"))


def test_causal_features_built_only_for_gated_pairs(monkeypatch):
    """Gate first: causal feature rows are built only for the candidates
    that pass the F6 signal gate - exactly the rows the causal model
    scores (29 of the 172 rule-undecided wsj_1014 candidates)."""
    import numpy as np

    from eventrelationextractor_spark.core.liblinear import LinearModel

    doc = _load_doc("wsj_1014_causal28")
    built, scored = [], []
    vector, predict = features.causal_vector, LinearModel.predict_strings

    def counted_vector(*args, **kwargs):
        out = vector(*args, **kwargs)
        built.append(np.atleast_2d(out).shape[0])
        return out

    def counted_predict(self, X, label_names):
        scored.append(len(X))
        return predict(self, X, label_names)

    monkeypatch.setattr(features, "causal_vector", counted_vector)
    monkeypatch.setattr(LinearModel, "predict_strings", counted_predict)
    causal_triples(doc)
    assert sum(scored) == 29
    assert sum(built) == sum(scored)


@pytest.mark.parametrize("doc_name,prefix", [
    ("sample_temporal", "sample"),
    ("bbc_20130322_721", "bbc_20130322_721"),
    ("wsj_1014", "wsj_1014"),
])
def test_feature_vectors_and_dep_paths_bitexact(doc_name, prefix):
    doc = _load_doc(doc_name)
    lx = load_lexicons()
    dct_pairs, et_pairs, ee_pairs = _candidate_groups(doc)
    groups = {
        "dct": (dct_pairs, lambda e1, e2, lb: features.et_vector(doc, [(e1, e2, lb)], False)[0],
                lambda e1, e2: et_dependency_path(doc, e1, e2)),
        "et": (et_pairs, lambda e1, e2, lb: features.et_vector(doc, [(e1, e2, lb)], False)[0],
               lambda e1, e2: et_dependency_path(doc, e1, e2)),
        "ee": (ee_pairs, lambda e1, e2, lb: features.ee_vector(doc, [(e1, e2, lb)], lx)[0],
               lambda e1, e2: ee_dependency_path(doc, e1, e2)),
    }
    for tag, (pairs, build, dep_fn) in groups.items():
        gold = {}
        for row in golden_rows(f"{prefix}_{tag}_vectors.tsv"):
            gold[(row[0], row[1])] = (row[3], [float(x) for x in row[4].split(",")])
        assert len(gold) == len(pairs)
        for e1, e2, label in pairs:
            gdep, gvec = gold[(e1.mid, e2.mid)]
            assert dep_fn(e1, e2) == gdep, (tag, e1.mid, e2.mid)
            mine = build(e1, e2, label)
            assert mine == pytest.approx(gvec), (tag, e1.mid, e2.mid)


def test_causal_vectors_bitexact():
    doc = _load_doc("wsj_1014_causal28")
    lx = load_lexicons()
    gold = {}
    for row in golden_rows("wsj_1014_causal_vectors.tsv"):
        gold[(row[0], row[1])] = [float(x) for x in row[3].split(",")]
    mine = {}
    for pair, gold_label in causal_candidate_pairs(doc, lx):
        src, tgt = pair.split(",")
        e1, e2 = doc.entities[src], doc.entities[tgt]
        o1, o2, ol = e1, e2, gold_label
        if pair_order(doc, e1, e2) == "AFTER":
            o1, o2, ol = e2, e1, inverse_relation(gold_label)
        m = get_causal_verb(doc, o1, o2, lx)
        if event_causality_rule(m, o1.sent_id == o2.sent_id) != "O":
            continue
        tl = "O"
        if src + "," + tgt in doc.tlink_types:
            tl = doc.tlink_types[src + "," + tgt]
        elif tgt + "," + src in doc.tlink_types:
            tl = inverse_relation(doc.tlink_types[tgt + "," + src])
        row = features.causal_vector(doc, [(o1, o2, ol, tl)], lx)[0]
        g = get_causal_signal(doc, e1, e2, lx)
        if (g.dep1 or "O") + "|" + (g.dep2 or "O") != "O|O":
            mine[(o1.mid, o2.mid)] = row
    assert set(mine) == set(gold)
    for k, v in mine.items():
        assert v == pytest.approx(gold[k]), k


def test_predict_probabilities_liblinear_semantics():
    """M3: the probability formula matches liblinear-java 1.95
    Linear.predictProbability (per-class sigmoid then normalize - NOT a
    softmax; nr_class==2 uses prob[1] = 1 - prob[0]) and refuses
    non-logistic solvers exactly like Model.isProbabilityModel()."""
    import numpy as np

    from eventrelationextractor_spark.core.liblinear import (LinearModel,
                                                             shipped_model)

    # shipped models are L2R_L2LOSS_SVC_DUAL -> must raise without force
    m = shipped_model("ee")
    X = np.zeros((1, m.nr_feature))
    with pytest.raises(ValueError):
        m.predict_probabilities(X)

    # 3-class formula check against hand-computed sigmoid normalization
    w = np.array([[1.0, -1.0, 0.5]])
    lm = LinearModel("L2R_LR", 3, [1, 2, 3], 1, -1.0, w)
    x = np.array([[2.0]])
    dec = (x @ w)[0]
    sig = 1.0 / (1.0 + np.exp(-dec))
    want = sig / sig.sum()
    got = lm.predict_probabilities(x)[0]
    assert np.allclose(got, want, atol=0, rtol=0)
    softmax = np.exp(dec) / np.exp(dec).sum()
    assert not np.allclose(got, softmax)  # the formulas genuinely differ

    # binary special case: prob[1] is the complement, not a normalization
    w2 = np.array([[0.7]])  # nr_class==2 stores one weight column
    lm2 = LinearModel("L2R_LR", 2, [1, 2], 1, -1.0, w2)
    p = lm2.predict_probabilities(np.array([[1.0]]))[0]
    assert p[0] == 1.0 / (1.0 + np.exp(-0.7)) and p[1] == 1.0 - p[0]


def test_ee_probability_oracle_constants():
    """Anti-drift: the decision-value constants embedded in the
    kg_ee_probabilities SQL oracle (__spark_entry__._EE_PROB_CONSTS) must
    equal the golden-verified predict path's output on the synthetic
    corpus - full float64 precision, all 3 residue classes, all 10
    model classes."""
    import os
    import sys

    import numpy as np

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from eventrelationextractor_spark.core.liblinear import (TEMP_LABELS,
                                                             shipped_model)
    from eventrelationextractor_spark.datagen import synth_page
    from eventrelationextractor_spark.spark.stages import parse_page

    consts = {}
    for ln in entry._EE_PROB_CONSTS.strip().split("\n"):
        m3, label, dec = ln.strip().strip("(),").split(", ")
        consts[(int(m3), label.strip("'"))] = float(dec)
    assert len(consts) == 30

    lx = load_lexicons()
    model = shipped_model("ee")
    names = [TEMP_LABELS[v - 1] for v in model.labels]
    for d in (0, 1, 2, 3, 4, 5):  # two full periods
        doc = parse_page(synth_page(d)["text"], f"s{d}")
        X = features.ee_vector(
            doc, [(doc.entities["e8"], doc.entities["e9"], "NONE")], lx)[:, :-1]
        dec = model.predict_values(X)[0]
        for j, name in enumerate(names):
            assert consts[(d % 3, name)] == dec[j], (d, name)
