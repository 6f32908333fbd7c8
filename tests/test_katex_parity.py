"""T11 KaTeX-normalizer parity: our pure-Python parser+renderer vs the
reference's vendored-KaTeX node pipeline, replayed live with node over
the full fixture corpus, targeted probes, and a random fuzz sweep.

The replay needs the reference checkout's ``preprocess_latex.js``
(``REF_JS``); without it the three parity sweeps are skipped, and the
whole module is skipped where node is missing."""

import os
import random
import shutil
import subprocess
import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

import pytest

from latex_ocr_spark.datagen.transcripts import gen_transcripts
from latex_ocr_spark.textkernel.katex import katex_normalize
from latex_ocr_spark.textkernel.normalize import canonicalize_envs, normalize_formula_katex
from latex_ocr_spark.textkernel.pipeline import extract_turn

REF_JS = "/root/reference/pix2tex/dataset/preprocessing/preprocess_latex.js"

pytestmark = pytest.mark.skipif(
    shutil.which("node") is None, reason="node unavailable — parity frozen elsewhere"
)
needs_ref_js = pytest.mark.skipif(
    not os.path.isfile(REF_JS), reason=f"reference script {REF_JS} absent"
)


def ref_normalize_lines(lines):
    out = subprocess.run(
        ["node", REF_JS, "normalize"],
        input="\n".join(lines) + "\n",
        capture_output=True,
        text=True,
        timeout=300,
    )
    return out.stdout.splitlines()


def corpus_lines():
    seen, lines = set(), []
    for row in gen_transcripts(120):
        for sp in extract_turn(row[3]):
            s = canonicalize_envs(sp.raw_match)
            if s not in seen and "\n" not in s:
                seen.add(s)
                lines.append(s)
    return lines


PROBES = [
    r"\frac{1}{2}", r"\frac12", r"x^2+y_i", r"x^{2a}", r"\sqrt[3]{x}",
    r"\left( \frac{a}{b} \right)", r"\mathbf {F} = m \, a", r"\text {speed } v",
    r"{\rm kg}", r"\operatorname{sin}(x)", r"\operatorname {liminf}_{n} a_n",
    r"\sin x + \cos y", r"\int_0^7 x\,dx", r"\sum_{k=0}^{i} k",
    r"a ~ b \quad c \; d", r"\displaystyle x^2",
    r"\begin{aligned}a&=b\\c&=d\end{aligned}",
    r"\begin{matrix}a&b\\c&d\end{matrix}", r"\begin{array}{cc}a&b\end{array}",
    r"\begin{pmatrix}x\\y\end{pmatrix}", r"\begin{cases}a&b\\c&d\end{cases}",
    r"\binom{n}{k}", r"\hat x \tilde{y} \bar{z}", r"\overline{ab} \underline{c}",
    r"x \in \{1,2\}", r"|x| \| y \|", r"\lim_{x\to 0} f", r"\max_i x_i",
    r"e^{i\pi}+1=0", r"\not= x", r"f'(x)", r"a'' + b'", r"\Big( x \Big)",
    r"\bigl[ y \bigr]", r"\phantom{x} y", r"50\%", r"\mbox{if } x",
    r"\vec{v}", r"\widetilde{abc} \widehat{de}", r"a \over b",
    r"{x+1 \over y} z", r"c \choose d", r"{a \choose b}^2", r"\over",
    r"\unknowncmd x", r"{\rm \alpha \infty \Gamma}", r"\mathrm{\alpha b}",
    r"\rm xy a \over b", r"\displaystyle \|w\| c \choose d", "", "$x$+1",
    r"x \label{eq:1} + y", r"\stackrel{a}{b}", r"{a \atop b}",
]


def assert_parity(lines):
    ref = ref_normalize_lines(lines)
    assert len(ref) == len(lines)
    for line, expected in zip(lines, ref):
        assert katex_normalize(line) == expected, repr(line)


@needs_ref_js
def test_fixture_corpus_parity():
    assert_parity(corpus_lines())


@needs_ref_js
def test_probe_parity():
    assert_parity(PROBES)


@needs_ref_js
def test_fuzz_parity():
    random.seed(20260816)
    frags = PROBES[:40] + ["x", "+", "(", ")", "~", "'", r"\alpha", "3"]
    lines = [
        " ".join(random.choices(frags, k=random.randint(1, 6))).replace("\n", " ")
        for _ in range(300)
    ]
    assert_parity(lines)


def test_full_corpus_normalization_chain():
    """normalize_formula_katex == env-rewrite → node → gate → collapse."""
    import re

    ops_names = (
        "arccos arcsin arctan arg cos cosh cot coth csc deg det dim exp gcd "
        "hom inf injlim ker lg lim liminf limsup ln log max min Pr projlim "
        "sec sin sinh sup tan tanh"
    ).split()
    ops = re.compile(r"\\operatorname {(%s)}" % r"\s?".join("|".join(ops_names)))

    raw = []
    for row in gen_transcripts(80):
        for sp in extract_turn(row[3]):
            if "\n" not in sp.raw_match:
                raw.append(sp.raw_match)
    ref_lines = ref_normalize_lines([canonicalize_envs(r) for r in raw])
    for r, ref_out in zip(raw, ref_lines):
        toks = ref_out.strip().split()
        if len(toks) > 5:
            post = " ".join(toks)
            names = ["\\" + x.replace(" ", "") for x in ops.findall(post)]
            post = ops.sub(lambda _m: str(names.pop(0)), post)
            expected = post.replace(r"\\ \end{array}", r"\end{array}")
        else:
            expected = None
        assert normalize_formula_katex(r) == expected, repr(r)
