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

The reference states ``post_process`` as three ``re.sub`` passes run
until nothing changes.  Each pass only deletes whitespace, and what it
may delete in one maximal whitespace run depends only on that run and
the two characters around it, so here the result is computed run by
run, as the string the rounds leave of it (see :func:`post_process`).  The few runs whose outcome depends on the order
of the deletions take the reference's passes.  Every caller (the
extraction kernel, the ``latex_post_process`` SQL function, the eval
metrics) uses this one function.
"""

from __future__ import annotations

import re
import string
from typing import Optional

# ---------------------------------------------------------------------------
# post_process — the eval-equality whitespace canonicalizer
# ---------------------------------------------------------------------------

_RE_TEXT_GROUP = re.compile(r"(\\(operatorname|mathrm|text|mathbf)\s?\*? {.*?})")
_RE_ANY_WS = re.compile(r"\s")
#: ``[a-zA-Z]``, the letter class of the three deletions
_LETTERS = frozenset(string.ascii_letters)
_ASCII_NONLETTERS = frozenset(map(chr, range(128))) - _LETTERS


def _nonletter(c: str) -> bool:
    """``c`` is in ``[\\W_^\\d]``, as ``re`` reads that class for ``str``:
    a non-word character (``\\w`` is ``str.isalnum()`` or ``_``), ``_``,
    ``^`` or a decimal digit (``str.isdecimal()``).  In ASCII that is
    every character but a letter."""
    return c in _ASCII_NONLETTERS or (c >= "\x80" and (c.isdecimal() or not c.isalnum()))


_LETTER = "[a-zA-Z]"
_NOLETTER = "[\\W_^\\d]"
_RE_NN = re.compile(r"(?!\\ )(%s)\s+?(%s)" % (_NOLETTER, _NOLETTER))
_RE_NL = re.compile(r"(?!\\ )(%s)\s+?(%s)" % (_NOLETTER, _LETTER))
_RE_LN = re.compile(r"(%s)\s+?(%s)" % (_LETTER, _NOLETTER))
_RE_WS_RUN = re.compile(r"\s+")


def _kind(c: str) -> str:
    """``"L"`` for ``[a-zA-Z]``, ``"N"`` for ``[\\W_^\\d]``, ``"X"`` for
    a character in neither class (``é``, ``²``) or no character."""
    if c in _LETTERS:
        return "L"
    return "N" if c and _nonletter(c) else "X"


class _OrderDependent(Exception):
    """A whitespace run whose outcome depends on the order of deletions."""


def _run_kept(m: "re.Match") -> str:
    """What the deletions leave of the whitespace run ``m``."""
    s, (i, j), run = m.string, m.span(), m[0]
    before, b = s[i - 1] if i else "", _kind(s[j] if j < len(s) else "")
    if before != "\\":
        a = _kind(before)
    elif run.strip(" "):
        raise _OrderDependent
    else:
        a = "X"  # the guard blocks every deletion that starts at the backslash
    if a == "N":
        return "" if b != "X" else run[-1]
    if a == "L":
        if b == "L":
            return run[0]
        return "" if b == "N" else run[-1]
    if b != "X" or len(run) == 1:
        return run[0]
    return run[0] + run[-1]


def _rounds(s: str) -> str:
    """The deletions as the reference runs them: NN, NL and LN as
    ``re.sub`` passes, round after round, until a round changes nothing
    or leaves no whitespace."""
    while True:
        squeezed = _RE_NN.sub(r"\1\2", s)
        squeezed = _RE_NL.sub(r"\1\2", squeezed)
        squeezed = _RE_LN.sub(r"\1\2", squeezed)
        if squeezed == s:
            return s
        if not _RE_ANY_WS.search(squeezed):
            return squeezed
        s = squeezed


def post_process(s: str) -> str:
    """Canonicalize whitespace in a LaTeX string.

    First collapses spaces *inside* ``\\operatorname/\\mathrm/\\text/
    \\mathbf { .. }`` groups, then repeats rounds of three deletions
    until a round changes nothing or leaves no whitespace:

    - NN ``(?!\\\\ )([\\W_^\\d])\\s+?([\\W_^\\d])`` → ``\\1\\2``,
    - NL ``(?!\\\\ )([\\W_^\\d])\\s+?([a-zA-Z])`` → ``\\1\\2``,
    - LN ``([a-zA-Z])\\s+?([\\W_^\\d])`` → ``\\1\\2``,

    each one ``re.sub`` pass over the previous one's output.  Call the
    classes L (``[a-zA-Z]``), N (``[\\W_^\\d]``, which holds every
    whitespace character) and X (neither, as ``é`` or ``²``, or no
    character at an end of the string).  Lazy ``\\s+?`` fixes what a
    match deletes: NN and LN one whitespace character followed by an N,
    NL all of a whitespace run that a letter ends.  So a deletion lies
    in one maximal whitespace run, its groups are characters of that
    run or the two around it, ``a`` before and ``b`` after, and those two
    are never deleted: what can go in a run depends on the run, ``a``
    and ``b`` alone.  The rounds stop only where no deletion matches.
    In a run the last character can go only if ``b`` is L or N; the
    first only if ``a`` is N and the character after it is L or N, or
    ``a`` is L and the character after it is N; any other character
    always can.  What the rounds leave of a run is therefore:

    ==========  ==============  ==============  ===================
    ``a``       ``b`` N         ``b`` L         ``b`` X
    ==========  ==============  ==============  ===================
    N           nothing         nothing         the last character
    L           nothing         the first       the last character
    X           the first       the first       the first and last
    ==========  ==============  ==============  ===================

    Each entry but one is the only string the deletions can end in.
    Between two letters any one character of the run could be the one
    left; the rounds keep the first, because NN cannot delete it and
    the first NL pass, starting at it, deletes the rest of the run.  A
    backslash ``a`` before a run of spaces counts as X: the guard
    ``(?!\\\\ )`` blocks every deletion that starts at it.  Before a run
    that is not all spaces the outcome depends on the order of the
    deletions (deleting the run's first character can bring a space
    next to the backslash and switch the guard on), and for a string
    holding such a run :func:`_rounds` runs the reference's passes.

    The classes are the ones ``re`` uses for ``str`` patterns (see
    :func:`_nonletter`).  The tests check the class predicates on every
    code point and the whole function against the regex implementation
    it replaced.

    Fast path: with no whitespace anywhere, neither phase can change
    the string (the group pattern needs a literal space, the deletions
    need ``\\s``).  One ``_RE_ANY_WS.search`` finds that out and returns
    the string as it is: about half the spans of a transcript corpus,
    and re-normalization of already-normalized text (the eval path),
    take only that search.  The group collapse runs only on a string
    holding a backslash and `` {``, which every group match contains.
    """
    if not _RE_ANY_WS.search(s):
        return s
    if "\\" in s and " {" in s:  # the group pattern needs both
        s = _RE_TEXT_GROUP.sub(lambda m: m[0].replace(" ", ""), s)
    try:
        return _RE_WS_RUN.sub(_run_kept, s)
    except _OrderDependent:
        return _rounds(s)


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
