r"""LaTeX output normalization.

Two distinct normalizations exist in the reference and both are kept
distinct here:

- :func:`post_process` — the *equality invariant*: whitespace
  canonicalization applied identically to predictions and ground truth
  before comparison (parity with
  /root/reference/pix2tex/utils/utils.py:138-160, the function the eval
  harness runs on both sides at eval.py:59-61).  ``latex_norm`` in the
  extraction pipeline is ``post_process(raw_match)``.
- :func:`normalize_formula` — the corpus-preparation rewrite
  (environment canonicalization + ``\operatorname{sin}``→``\sin``
  collapse + short-formula gate), matching
  /root/reference/pix2tex/dataset/preprocessing/preprocess_formulas.py:57-88.
  The vendored-KaTeX AST re-render step that sits between those two in
  the reference (preprocess_latex.js) is intentionally *not* part of the
  v0 invariant — see SURVEY.md §7 "What's hard".
"""

from __future__ import annotations

import re
from typing import Optional

# ---------------------------------------------------------------------------
# post_process — the eval-equality whitespace canonicalizer
# ---------------------------------------------------------------------------

_RE_TEXT_GROUP = re.compile(r"(\\(operatorname|mathrm|text|mathbf)\s?\*? {.*?})")
_LETTER = "[a-zA-Z]"
_NOLETTER = "[\\W_^\\d]"
_RE_NN = re.compile(r"(?!\\ )(%s)\s+?(%s)" % (_NOLETTER, _NOLETTER))
_RE_NL = re.compile(r"(?!\\ )(%s)\s+?(%s)" % (_NOLETTER, _LETTER))
_RE_LN = re.compile(r"(%s)\s+?(%s)" % (_LETTER, _NOLETTER))


_RE_ANY_WS = re.compile(r"\s")


def post_process(s: str) -> str:
    """Canonicalize whitespace in a LaTeX string.

    First collapses spaces *inside* ``\\operatorname/\\mathrm/\\text/
    \\mathbf { .. }`` groups, then repeatedly deletes whitespace between
    letter/non-letter character pairs until a fixpoint.

    Fast path: with no whitespace anywhere, neither phase can change
    the string (the group pattern needs a literal space, the fixpoint
    deletions need ``\\s``) — exact, and makes re-normalization of
    already-normalized text (the eval path) nearly free.
    """
    if not _RE_ANY_WS.search(s):
        return s
    if "\\" in s:  # the group pattern needs a literal backslash macro
        collapsed = [m[0].replace(" ", "") for m in _RE_TEXT_GROUP.findall(s)]
        s = _RE_TEXT_GROUP.sub(lambda _m: str(collapsed.pop(0)), s)
    while True:
        squeezed = _RE_NN.sub(r"\1\2", s)
        squeezed = _RE_NL.sub(r"\1\2", squeezed)
        squeezed = _RE_LN.sub(r"\1\2", squeezed)
        if squeezed == s:
            return s
        if not _RE_ANY_WS.search(squeezed):
            return squeezed  # whitespace-free is already a fixpoint
        s = squeezed


# ---------------------------------------------------------------------------
# corpus normalization — environment rewrite + operatorname collapse
# ---------------------------------------------------------------------------

_OPERATOR_NAMES = [
    "arccos", "arcsin", "arctan", "arg", "cos", "cosh", "cot", "coth", "csc",
    "deg", "det", "dim", "exp", "gcd", "hom", "inf", "injlim", "ker", "lg",
    "lim", "liminf", "limsup", "ln", "log", "max", "min", "Pr", "projlim",
    "sec", "sin", "sinh", "sup", "tan", "tanh",
]
# The reference interleaves \s? between every character of the joined
# alternation (preprocess_formulas.py:57-59) — a quirk kept verbatim
# because it defines which spaced spellings collapse.
_RE_SPACED_OPNAME = re.compile(
    r"\\operatorname {(%s)}" % r"\s?".join("|".join(_OPERATOR_NAMES))
)
# The tight-spelling variant used by the eval utilities (utils.py:12-14).
_RE_TIGHT_OPNAME = re.compile(r"\\operatorname{(%s)}" % "|".join(_OPERATOR_NAMES))

_RE_ALIGNED_FAMILY = re.compile(
    r"\\begin{(split|align|alignedat|alignat|eqnarray)\*?}(.+?)\\end{\1\*?}", re.S
)
_RE_SMALLMATRIX = re.compile(r"\\begin{(smallmatrix)\*?}(.+?)\\end{\1\*?}", re.S)

MIN_FORMULA_TOKENS = 5


def canonicalize_envs(s: str) -> str:
    r"""``split/align/alignedat/alignat/eqnarray`` → ``aligned``;
    ``smallmatrix`` → ``matrix``; CR removal."""
    s = s.replace("\r", " ")
    s = _RE_ALIGNED_FAMILY.sub(r"\\begin{aligned}\2\\end{aligned}", s)
    return _RE_SMALLMATRIX.sub(r"\\begin{matrix}\2\\end{matrix}", s)


def collapse_operatorname(s: str, spaced: bool = True) -> str:
    r"""``\operatorname {sin}`` → ``\sin`` for the 33-name whitelist."""
    pat = _RE_SPACED_OPNAME if spaced else _RE_TIGHT_OPNAME
    names = ["\\" + m.replace(" ", "") for m in pat.findall(s)]
    return pat.sub(lambda _m: str(names.pop(0)), s)


def normalize_formula(s: str) -> Optional[str]:
    """Corpus-prep rewrite of one formula line; None when the formula is
    too short to keep (≤ MIN_FORMULA_TOKENS whitespace tokens)."""
    s = canonicalize_envs(s)
    tokens = s.strip().split()
    if len(tokens) <= MIN_FORMULA_TOKENS:
        return None
    joined = " ".join(tokens)
    joined = collapse_operatorname(joined, spaced=True)
    return joined.replace(r"\\ \end{array}", r"\end{array}")


def normalize_formula_katex(s: str) -> Optional[str]:
    """The reference's *complete* corpus normalization of one formula:
    env canonicalization → KaTeX parse + AST re-render (T11) →
    >5-token gate → operatorname collapse → array-tail fix — the exact
    preprocess_formulas.py:62-89 flow.  None = dropped (too short or
    unparseable)."""
    from latex_ocr_spark.textkernel.katex import katex_normalize

    s = canonicalize_envs(s)
    s = katex_normalize(s)
    tokens = s.strip().split()
    if len(tokens) <= MIN_FORMULA_TOKENS:
        return None
    joined = " ".join(tokens)
    joined = collapse_operatorname(joined, spaced=True)
    return joined.replace(r"\\ \end{array}", r"\end{array}")
