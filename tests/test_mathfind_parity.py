"""Kernel == reference parity for math-region location + scrubbing."""

import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from latex_ocr_spark.datagen.templates import ALL_TEMPLATE_GROUPS, render_template
from latex_ocr_spark.textkernel import mathfind
from ref_oracle import HAVE_REFERENCE, needs_reference, ref_extract_latex

REF = ref_extract_latex() if HAVE_REFERENCE else None


def corpus():
    texts = []
    for group, templates in ALL_TEMPLATE_GROUPS.items():
        for i in range(len(templates)):
            for salt in (0, 7, 4242):
                texts.append(render_template(group, i, salt))
    # pathological extras
    texts += [
        "$",
        "$$",
        "$$$$",
        r"\( \)",
        r"\[x\]",
        "$a$$b$",
        "$$a$$ $b$",
        r"\begin{align}\end{align}",
        r"\begin{equation}x\end{equation*}",
        "$x\n\n y$",
        r"$\label{only}$",
        "text $ \\, $ end",
        r"$\hspace{12pt}x$",
        "\\begin{gather}a\\\\b\\end{gather}",
        r"nested $a + \text{dollar \$ inside}$ out",
    ]
    return texts


@needs_reference
@pytest.mark.parametrize("wiki", [False, True])
def test_find_math_matches_reference_on_corpus(wiki):
    for text in corpus():
        ours = mathfind.find_math(text, wiki=wiki)
        theirs = set(REF.find_math(text, wiki=wiki))
        assert ours == theirs, f"mismatch on {text!r} (wiki={wiki})"


@needs_reference
@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet="$\\{}()[]^_ \nabxyz123~,;:!%&<>\"='begindmath" + "é",
        max_size=400,
    ),
    st.booleans(),
)
def test_find_math_matches_reference_fuzz(text, wiki):
    assert mathfind.find_math(text, wiki=wiki) == set(REF.find_math(text, wiki=wiki))


def test_scrub_branches():
    assert mathfind.scrub_match(r"\tikz{x}") is None
    assert mathfind.scrub_match("") is None
    assert mathfind.scrub_match("bad\\") is None
    assert mathfind.scrub_match(r"\quad x \quad") == "x"
    assert mathfind.scrub_match("a\nb") == "ab"
    assert mathfind.scrub_match(r"x \label{eq} y") == "x  y"
