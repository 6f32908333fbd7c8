"""Long-document stress parity: a realistic arXiv-shaped LaTeX paper
(preamble, macro block, sections, dozens of equations, comments)
through the full kernel vs the reference chain."""

import random

from latex_ocr_spark.textkernel.demacro import expand_macros
from latex_ocr_spark.textkernel.mathfind import find_math
from ref_oracle import HAVE_REFERENCE, needs_reference, ref_demacro, ref_extract_latex

REF_E = ref_extract_latex() if HAVE_REFERENCE else None
REF_D = ref_demacro() if HAVE_REFERENCE else None


def synth_paper(rng: random.Random, n_sections: int = 8) -> str:
    parts = [
        r"\documentclass[11pt]{article}",
        r"\usepackage{amsmath, amssymb} % packages",
        r"\newcommand{\R}{\mathbb{R}}",
        r"\newcommand{\norm}[1]{\left\| #1 \right\|}",
        r"\newcommand{\ip}[2]{\langle #1, #2 \rangle}",
        r"\def\eps{\varepsilon}",
        r"\let\ga\alpha",
        r"\begin{document}",
        r"\title{On the convergence of $\eps$-approximations in \R^d}",
    ]
    eq_forms = [
        r"\norm{x_%d - y} \leq \eps \cdot \ip{u}{v}",
        r"\frac{\partial f_%d}{\partial t} = \Delta f + \ga f",
        r"\sum_{k=1}^{%d} a_k^2 \leq C \norm{a}^2",
        r"e^{i\theta_%d} = \cos\theta + i\sin\theta",
        r"\int_\Omega \norm{\nabla u_%d}^2 \, dx < \infty",
    ]
    env_forms = [
        ("\\begin{equation}\n%s\n\\end{equation}", True),
        ("\\begin{align}\n%s &\\leq %s \\\\ &= z_{%d}\n\\end{align}", False),
        ("$$%s$$", True),
        ("$%s$", True),
    ]
    for s in range(n_sections):
        parts.append(rf"\section{{Results {s}}} % section {s}")
        parts.append(
            f"We consider the problem where $x_{s} \\in \\R$ and the bound"
        )
        for e in range(rng.randint(2, 5)):
            eq = rng.choice(eq_forms) % (s * 10 + e)
            env, single = rng.choice(env_forms)
            if single:
                parts.append(env % eq)
            else:
                parts.append(env % (eq, f"b_{s}", s))
            parts.append("as shown in prior work. % inline comment")
    parts.append(r"\end{document}")
    return "\n".join(parts)


@needs_reference
def test_arxiv_shaped_documents():
    rng = random.Random(424242)
    for i in range(12):
        doc = synth_paper(rng)
        assert len(doc) > 1500
        try:
            ref_expanded = REF_D.pydemacro(doc)
            ref_failed = False
        except Exception:
            ref_failed = True
        if ref_failed:
            continue
        assert expand_macros(doc) == ref_expanded, f"doc {i}: demacro diverged"
        ours = find_math(expand_macros(doc))
        theirs = set(REF_E.find_math(ref_expanded))
        assert ours == theirs, f"doc {i}: spans diverged"
        assert len(ours) > 10  # the macros actually expanded into math
