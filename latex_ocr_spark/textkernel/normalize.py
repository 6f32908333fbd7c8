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
until nothing changes.  Here each pass is an exact scan of the string's
whitespace positions instead (``_squeeze_nn``/``_nl``/``_ln``): a match
of any of the three patterns starts one character before a whitespace
character, so the scans look only there, keep the regex scan's
non-overlapping left-to-right order and its Unicode character classes,
and never expand a ``\1\2`` template per match.  The rounds, their
order and the stopping rules are unchanged.  Every caller (the
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


def _whitespace(s: str) -> list:
    return [m.start() for m in _RE_ANY_WS.finditer(s)]


# Each squeeze is one left-to-right ``re.sub`` pass of one deletion
# rule.  ``ws`` holds the whitespace positions of ``s``; a squeeze
# returns the new string with the whitespace positions of that string
# (``s`` and ``ws`` themselves when nothing was deleted).  ``resume`` is
# where the regex scan goes on after a match: a match may start there
# or later, never inside the previous one.


def _squeeze_nn(s: str, ws: list):
    """``(?!\\\\ )([\\W_^\\d])\\s+?([\\W_^\\d])`` → ``\\1\\2``."""
    out, kept, last, resume, n = [], [], 0, 0, len(s)
    for p in ws:
        if p > resume and p + 1 < n:
            a = s[p - 1]
            if _nonletter(a) and _nonletter(s[p + 1]) and not (a == "\\" and s[p] == " "):
                out.append(s[last:p])
                last, resume = p + 1, p + 2
                continue
        kept.append(p - len(out))
    if not out:
        return s, ws
    out.append(s[last:])
    return "".join(out), kept


def _squeeze_nl(s: str, ws: list):
    """``(?!\\\\ )([\\W_^\\d])\\s+?([a-zA-Z])`` → ``\\1\\2``."""
    out, kept, last, resume, n, gone = [], [], 0, 0, len(s), 0
    k, m = 0, len(ws)
    while k < m:
        p = ws[k]
        if p > resume:
            a = s[p - 1]
            if _nonletter(a) and not (a == "\\" and s[p] == " "):
                e = k + 1  # ws[k:e] is the whitespace run that starts at p
                while e < m and ws[e] == ws[e - 1] + 1:
                    e += 1
                j = ws[e - 1] + 1
                if j < n and s[j] in _LETTERS:
                    out.append(s[last:p])
                    last, resume = j, j + 1
                    gone += j - p
                else:
                    # a start inside the run meets the same s[j]: none matches
                    kept.extend(q - gone for q in ws[k:e])
                k = e
                continue
        kept.append(p - gone)
        k += 1
    if not out:
        return s, ws
    out.append(s[last:])
    return "".join(out), kept


def _squeeze_ln(s: str, ws: list):
    """``([a-zA-Z])\\s+?([\\W_^\\d])`` → ``\\1\\2``."""
    out, kept, last, resume, n = [], [], 0, 0, len(s)
    for p in ws:
        if p > resume and p + 1 < n and s[p - 1] in _LETTERS and _nonletter(s[p + 1]):
            out.append(s[last:p])
            last, resume = p + 1, p + 2
            continue
        kept.append(p - len(out))
    if not out:
        return s, ws
    out.append(s[last:])
    return "".join(out), kept


def post_process(s: str) -> str:
    """Canonicalize whitespace in a LaTeX string.

    First collapses spaces *inside* ``\\operatorname/\\mathrm/\\text/
    \\mathbf { .. }`` groups, then repeats rounds of three deletions
    until a round changes nothing or leaves no whitespace:

    - NN ``(?!\\\\ )([\\W_^\\d])\\s+?([\\W_^\\d])`` → ``\\1\\2``,
    - NL ``(?!\\\\ )([\\W_^\\d])\\s+?([a-zA-Z])`` → ``\\1\\2``,
    - LN ``([a-zA-Z])\\s+?([\\W_^\\d])`` → ``\\1\\2``,

    each one ``re.sub`` pass over the previous one's output.  The passes
    are not run as regexes: each squeeze visits only the whitespace
    positions ``p`` of its input, since every match starts at ``p - 1``
    for the first whitespace ``p`` it spans.  Lazy ``\\s+?`` then fixes
    what a match holds.  Whitespace is itself in ``[\\W_^\\d]``, so in NN
    and LN the second group already matches after one whitespace
    character: a match is ``s[p-1:p+2]``, deletes ``s[p]`` and the scan
    resumes at ``p + 2``.  In NL the second group needs a letter, which
    is never whitespace, so a match spans the whole whitespace run from
    ``p`` and deletes it if the character after the run is an ASCII
    letter; the scan resumes after that letter.  A start that fails
    moves the scan on by one, as ``re`` does.  The guard ``(?!\\\\ )``
    fails exactly when ``s[p-1]`` is a backslash and ``s[p]`` a space.

    The classes are the ones ``re`` uses for ``str`` patterns (see
    :func:`_nonletter`): ``é`` and ``²`` are word characters that are
    neither letters nor in ``[\\W_^\\d]``, ``٣`` is a decimal digit and so
    a non-letter, and ``\\xa0`` and ``\\x1c`` are whitespace.  The tests
    check these predicates on every code point and the whole function
    against the regex implementation it replaces.

    Fast path: with no whitespace anywhere, neither phase can change
    the string (the group pattern needs a literal space, the deletions
    need ``\\s``), which makes re-normalization of already-normalized
    text (the eval path) nearly free.
    """
    ws = _whitespace(s)
    if not ws:
        return s
    if "\\" in s and " {" in s:  # the group pattern needs both
        s = _RE_TEXT_GROUP.sub(lambda m: m[0].replace(" ", ""), s)
        ws = _whitespace(s)
    while True:
        squeezed, ws = _squeeze_nn(s, ws)
        squeezed, ws = _squeeze_nl(squeezed, ws)
        squeezed, ws = _squeeze_ln(squeezed, ws)
        if len(squeezed) == len(s):  # every squeeze only deletes
            return s
        if not ws:
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
