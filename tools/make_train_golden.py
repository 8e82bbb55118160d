"""Regenerate tests/golden/trained_{dct,et,ee}.model by training with
liblinear-java 1.95 ITSELF (the exact library the reference uses -
EventEventRelationClassifier.java:148-167) on the repo's fixture
training rows. Only the library's output model files are vendored.

Recipe: write per-group libsvm files (export_training_features rows,
label-0/NONE dropped per F4), compile a 6-line TrainGolden.java against
/root/reference/lib/liblinear-java-1.95.jar in a scratch dir
(Linear.resetRandom + L2R_L2LOSS_SVC_DUAL, C=1.0, eps=0.01, bias=1.0),
run it per group, copy the models into tests/golden/.

Run: python tools/make_train_golden.py
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

JAR = "/root/reference/lib/liblinear-java-1.95.jar"

JAVA_SRC = """
import de.bwaldvogel.liblinear.*;
import java.io.File;

public class TrainGolden {
    public static void main(String[] args) throws Exception {
        Linear.resetRandom();
        Linear.disableDebugOutput();
        Problem prob = Problem.readFromFile(new File(args[0]), 1.0);
        Parameter param = new Parameter(
            SolverType.L2R_L2LOSS_SVC_DUAL, 1.0, 0.01);
        Model model = Linear.train(prob, param);
        model.save(new File(args[1]));
    }
}
"""


def training_lines() -> dict:
    from eventrelationextractor_spark import fixtures as fx
    from eventrelationextractor_spark.core import features
    from eventrelationextractor_spark.core.lexicons import load_lexicons
    from eventrelationextractor_spark.core.pipeline import _candidate_groups
    from eventrelationextractor_spark.spark.stages import parse_page

    lx = load_lexicons()
    out = {"dct": [], "et": [], "ee": []}
    for name, page in zip(fx.TEMPORAL_FIXTURES,
                          fx.fixture_pages(fx.TEMPORAL_FIXTURES)):
        doc = parse_page(page["text"], name)
        d, e, ee = _candidate_groups(doc)
        for g, pairs, build in (
                ("dct", d, lambda ps: features.et_vector(doc, ps, False)),
                ("et", e, lambda ps: features.et_vector(doc, ps, False)),
                ("ee", ee, lambda ps: features.ee_vector(doc, ps, lx))):
            for v in build(pairs):
                if int(v[-1]) != 0:
                    out[g].append(features.to_libsvm(v))
    return out


def main() -> None:
    scratch = tempfile.mkdtemp(prefix="lltrain_")
    with open(os.path.join(scratch, "TrainGolden.java"), "w") as f:
        f.write(JAVA_SRC)
    subprocess.run(["javac", "-cp", JAR, "TrainGolden.java"],
                   cwd=scratch, check=True)
    for g, lines in training_lines().items():
        data = os.path.join(scratch, f"train_{g}.libsvm")
        with open(data, "w") as f:
            f.write("\n".join(lines) + "\n")
        model = os.path.join(scratch, f"trained_{g}.model")
        subprocess.run(["java", "-cp", f".:{JAR}", "TrainGolden",
                        data, model], cwd=scratch, check=True)
        dst = os.path.join(REPO, "tests", "golden", f"trained_{g}.model")
        shutil.copy(model, dst)
        print(f"wrote {dst} ({len(lines)} training rows)")


if __name__ == "__main__":
    main()
