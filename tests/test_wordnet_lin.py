"""X10: real Lin similarity engine on a self-authored WNDB-format mini
taxonomy (tests/fixtures/mini_wn - entity > {event > {happening >
{arrival, departure}, statement}, object > dog}, with an
information-content file in WordNet::Similarity format).

Golden parity stays untouched: the flag defaults OFF and
test_core_parity asserts bit-exact vectors with the constant 0.0 bucket.
"""

import math
import os

import pytest

from eventrelationextractor_spark.core import features
from eventrelationextractor_spark.core.wordnet import WordNetDB, discretize

HERE = os.path.join(os.path.dirname(__file__), "fixtures", "mini_wn")


@pytest.fixture(scope="module")
def db():
    return WordNetDB.load(HERE, os.path.join(HERE, "mini.ic"))


def test_lin_values_match_hand_computation(db):
    ic = lambda c: -math.log(c / 1000.0)  # noqa: E731
    # siblings under 'happening': lcs IC = IC(happening)
    want = 2 * ic(200 / 1000 * 1000) / (ic(50) + ic(50))
    want = 2 * (-math.log(0.2)) / (2 * -math.log(0.05))
    assert abs(db.lin("arrival", "departure") - want) < 1e-12
    # cousins: lcs = event
    want2 = 2 * (-math.log(0.5)) / (-math.log(0.05) + -math.log(0.1))
    assert abs(db.lin("arrival", "statement") - want2) < 1e-12
    # only common subsumer is the root (IC 0) -> similarity 0
    assert db.lin("arrival", "dog") == 0.0
    # same synset -> Lin = 1 exactly
    assert db.lin("happening", "occurrence") == 1.0
    # unknown lemma -> 0
    assert db.lin("arrival", "xyzzy") == 0.0


def test_discretization_matches_reference_branches():
    """EventEventFeatureVector.java:60-66 - note the quirks kept: Lin of
    identical words is exactly 1.0 which lands in the 0.75 bucket (only
    >1 gives 1.0), and <=0 gives 0.0."""
    assert discretize(1.5) == 1.0
    assert discretize(1.0) == 0.75
    assert discretize(0.51) == 0.75
    assert discretize(0.5) == 0.25
    assert discretize(0.001) == 0.25
    assert discretize(0.0) == 0.0
    assert discretize(-1.0) == 0.0


def test_flagged_bucket_non_constant_and_default_stub(db):
    # default: stubbed-build parity - constant 0.0
    features.set_wordnet(None)
    assert features.wn_similarity_bucket("arrival", "departure") == 0.0
    # flagged: real non-constant buckets
    features.set_wordnet(db)
    try:
        got = {
            ("arrival", "departure"):
                features.wn_similarity_bucket("arrival", "departure"),
            ("arrival", "statement"):
                features.wn_similarity_bucket("arrival", "statement"),
            ("arrival", "dog"):
                features.wn_similarity_bucket("arrival", "dog"),
            ("happening", "occurrence"):
                features.wn_similarity_bucket("happening", "occurrence"),
        }
    finally:
        features.set_wordnet(None)
    assert got[("arrival", "departure")] == 0.75
    assert got[("arrival", "statement")] == 0.25
    assert got[("arrival", "dog")] == 0.0
    assert got[("happening", "occurrence")] == 0.75
    assert len(set(got.values())) == 3  # genuinely non-constant


def test_flagged_ee_vector_changes_only_wnsim_slot(db, request):
    """With the flag on, the EE feature vector differs from the stubbed
    vector in exactly the wnSim slot (the rest of the layout is
    untouched), and turning the flag off restores bit-exact parity."""
    from eventrelationextractor_spark import fixtures as fx
    from eventrelationextractor_spark.core.lexicons import load_lexicons
    from eventrelationextractor_spark.core.pipeline import _candidate_groups
    from eventrelationextractor_spark.spark.stages import parse_page

    lx = load_lexicons()
    page = fx.fixture_pages(("bbc_20130322_721",))[0]
    doc = parse_page(page["text"], "bbc")
    _, _, ee = _candidate_groups(doc)
    e1, e2, lb = ee[0]
    base = features.ee_vector(doc, [(e1, e2, lb)], lx)[0].tolist()
    features.set_wordnet(db)
    try:
        flagged = features.ee_vector(doc, [(e1, e2, lb)], lx)[0].tolist()
    finally:
        features.set_wordnet(None)
    again = features.ee_vector(doc, [(e1, e2, lb)], lx)[0].tolist()
    assert again == base                       # flag off -> exact parity
    assert len(flagged) == len(base)
    diffs = [i for i, (a, b) in enumerate(zip(base, flagged)) if a != b]
    assert len(diffs) <= 1                     # only the wnSim slot moves
