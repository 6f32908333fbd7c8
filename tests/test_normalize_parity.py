"""post_process / normalization parity with the reference."""

import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

from hypothesis import given, settings
from hypothesis import strategies as st

from latex_ocr_spark.datagen.templates import ALL_TEMPLATE_GROUPS, render_template
from latex_ocr_spark.textkernel.mathfind import find_math
from latex_ocr_spark.textkernel.normalize import (
    canonicalize_envs,
    collapse_operatorname,
    normalize_formula,
    post_process,
)
from ref_oracle import HAVE_REFERENCE, needs_reference, ref_post_process

REF_PP = ref_post_process() if HAVE_REFERENCE else None

SAMPLES = [
    r"x ^ { 2 } + y _ { i }",
    r"\operatorname {sin} ( x )",
    r"\mathrm {kg} \cdot 3 , 4",
    r"\text {speed  of light} c",
    r"\mathbf {F} = m \, a",
    r"a  b  c   d",
    r"\alpha \beta \gamma",
    r"\frac { 1 } { 2 }",
    r"\\ x \\  y",
    "",
    "   ",
    r"\operatorname* {lim} x",
]


@needs_reference
def test_post_process_matches_reference_on_samples():
    for s in SAMPLES:
        assert post_process(s) == REF_PP(s), repr(s)


@needs_reference
def test_post_process_matches_reference_on_extracted_spans():
    for group, templates in ALL_TEMPLATE_GROUPS.items():
        for i in range(len(templates)):
            text = render_template(group, i, 11)
            for m in find_math(text):
                assert post_process(m) == REF_PP(m), repr(m)


@needs_reference
@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="\\{}_^ abxyz01()+-,.*$ \tmathrmoperatorname", max_size=200))
def test_post_process_fuzz(s):
    assert post_process(s) == REF_PP(s)


def test_post_process_idempotent_on_samples():
    for s in SAMPLES:
        once = post_process(s)
        assert post_process(once) == once


def test_canonicalize_envs():
    assert (
        canonicalize_envs(r"\begin{split}a\\b\end{split}")
        == r"\begin{aligned}a\\b\end{aligned}"
    )
    assert (
        canonicalize_envs(r"\begin{align*}x\end{align*}")
        == r"\begin{aligned}x\end{aligned}"
    )
    assert (
        canonicalize_envs(r"\begin{smallmatrix}a&b\end{smallmatrix}")
        == r"\begin{matrix}a&b\end{matrix}"
    )
    assert canonicalize_envs("a\rb") == "a b"


def test_collapse_operatorname():
    assert collapse_operatorname(r"\operatorname {sin} x") == r"\sin x"
    assert collapse_operatorname(r"\operatorname {s in} x") == r"\sin x"
    assert (
        collapse_operatorname(r"\operatorname{cos} y", spaced=False) == r"\cos y"
    )
    # non-whitelisted names survive
    assert (
        collapse_operatorname(r"\operatorname {foo} x") == r"\operatorname {foo} x"
    )


def test_normalize_formula_gate():
    assert normalize_formula("x + y") is None  # ≤5 tokens
    out = normalize_formula(r"\begin{split} a & = b \\ c & = d \end{split}")
    assert out is not None and out.startswith(r"\begin{aligned}")
