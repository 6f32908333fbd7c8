"""Math-region location + match scrubbing.

Semantics match the reference extractor exactly (parity-tested against
/root/reference/pix2tex/dataset/extract_latex.py:8-100): five regex
families locate candidate math regions in LaTeX-like text, then a
scrub pass removes labels/edge spacing, drops tikz / too-short /
trailing-backslash candidates, and dedups.

The regex *patterns* are the observable semantics and are therefore
byte-identical to the reference's; everything around them is our own
structure.  Note two faithfully-kept reference quirks:

- ``'newcommand' in m[-1]`` tests a single character, so it is always
  False (the real guard is the trailing-backslash test);
- edge-spacing removal is a single (non-fixpoint) substitution pass,
  so ``\\,\\,x\\,`` keeps the inner leading ``\\,``.
"""

from __future__ import annotations

import re
from typing import Iterable, List, Optional, Set

MIN_MATCH_CHARS = 1
MAX_MATCH_CHARS = 3000

# --- region patterns (extract_latex.py:10-17) -------------------------------
_LEN = (MIN_MATCH_CHARS, MAX_MATCH_CHARS)

#: $...$ / $$...$$ — group 2 is the content; backreference keeps the
#: delimiter symmetric, lookarounds forbid $$$ runs and escaped \$.
RE_DOLLAR = re.compile(
    r"((?<!\$)\${1,2}(?!\$))(.{%i,%i}?)(?<!\\)(?<!\$)\1(?!\$)" % _LEN
)
#: \( ... \) | \[ ... \] — content is group 2 or group 4.
RE_INLINE = re.compile(r"(\\\((.*?)(?<!\\)\\\))|(\\\[(.{%i,%i}?)(?<!\\)\\\])" % _LEN)
#: \begin{equation|math|displaymath}[*] ... \end{same}
RE_EQUATION = re.compile(
    r"\\begin\{(equation|math|displaymath)\*?\}(.{%i,%i}?)\\end\{\1\*?\}" % _LEN, re.S
)
#: align-family environments; group 1 is the *whole* environment.
RE_ALIGN = re.compile(
    r"(\\begin\{(align|alignedat|alignat|flalign|eqnarray|aligned|split|gather)\*?\}"
    r"(.{%i,%i}?)\\end\{\2\*?\})" % _LEN,
    re.S,
)
#: wiki page source: \displaystyle ... up to an unescaped " or <.
RE_DISPLAYSTYLE = re.compile(
    r"(?:\\displaystyle)(.{%i,%i}?)((?<!\\)\}?(?:\"|<))" % _LEN, re.S
)

#: \ref{..} \cite{..} \label{..} \eqref{..} removal (extract_latex.py:17).
#: (marker, pattern) pairs — the marker is the pattern's mandatory
#: literal prefix, so a substring miss exactly implies a regex miss
#: (profiling: strip_labels was 60% of all kernel re.sub calls, nearly
#: all of them no-ops)
RE_LABELS = [
    ("\\" + name, re.compile(r"\\%s\s?\{(.*?)\}" % name))
    for name in ("ref", "cite", "label", "eqref")
]

#: leading/trailing spacing macros (extract_latex.py:15-16).
RE_EDGE_SPACING = re.compile(
    r"^\\,|\\,$|^~|~$|^\\ |\\ $|^\\thinspace|\\thinspace$|^\\!|\\!$|^\\:|\\:$"
    r"|^\\;|\\;$|^\\enspace|\\enspace$|^\\quad|\\quad$|^\\qquad|\\qquad$"
    r"|^\\hspace{[a-zA-Z0-9]+}|\\hspace{[a-zA-Z0-9]+}$|^\\hfill|\\hfill$"
)
#: every alternative of RE_EDGE_SPACING is anchored at one end, and
#: without a newline ``$`` is only the string's end: a match needs a
#: candidate that starts with one of these macros or ``\hspace{``, or
#: ends with one of them or with ``}`` after a ``\hspace{``
_EDGE_MACROS = ("\\,", "~", "\\ ", "\\thinspace", "\\!", "\\:", "\\;",
                "\\enspace", "\\quad", "\\qquad", "\\hfill")
_EDGE_HEADS = _EDGE_MACROS + ("\\hspace{",)


def strip_labels(s: str) -> str:
    """Drop cross-referencing macros from a candidate region."""
    for marker, pat in RE_LABELS:
        if marker in s:
            s = pat.sub("", s)
    return s


def locate_math(text: str, wiki: bool = False) -> List[str]:
    """Raw candidate regions, in the reference's pattern order.

    ``wiki`` switches to the ``\\displaystyle``-anchored pattern used on
    wikipedia page source; otherwise the dollar/equation/align families
    apply.  The ``\\( .. \\)`` / ``\\[ .. \\]`` family applies in both
    modes.
    """
    found: List[str] = []
    # substring pre-gates: each pattern requires a fixed marker byte
    # sequence, so skipping the regex engine when it is absent is exact
    if "\\(" in text or "\\[" in text:
        for groups in RE_INLINE.findall(text):
            found.append(groups[1] if groups[1] != "" else groups[-1])
    if wiki:
        plan = [(RE_DISPLAYSTYLE, 0)] if "\\displaystyle" in text else []
    else:
        plan = []
        if "$" in text:
            plan.append((RE_DOLLAR, 1))
        if "\\begin" in text:
            plan.append((RE_EQUATION, 1))
            plan.append((RE_ALIGN, 0))
    for pattern, group in plan:
        for groups in pattern.findall(text):
            found.append(groups[group])
    return found


def scrub_match(candidate: str, min_chars: int = MIN_MATCH_CHARS) -> Optional[str]:
    """Clean one candidate; return None when it must be dropped."""
    if "tikz" in candidate:  # tikz pictures are not supported
        return None
    if "\\" in candidate:  # every label marker starts with a backslash
        candidate = strip_labels(candidate)
    candidate = (
        candidate.replace("\n", "").replace(r"\notag", "").replace(r"\nonumber", "")
    )
    # the newlines are gone, so the anchored pattern can match only a
    # candidate with an edge-spacing head or tail: a miss on both
    # exactly implies a regex miss, and most candidates skip the engine
    if (
        candidate.startswith(_EDGE_HEADS)
        or candidate.endswith(_EDGE_MACROS)
        or (candidate.endswith("}") and "\\hspace{" in candidate)
    ):
        candidate = RE_EDGE_SPACING.sub("", candidate)
    if len(candidate) < min_chars:
        return None
    # last-char guard: drop dangling-backslash fragments.  The second
    # clause is the reference's no-op quirk, kept for parity.
    if candidate[-1] == "\\" or "newcommand" in candidate[-1]:
        return None
    return candidate.strip()


def scrub_all(candidates: Iterable[str], min_chars: int = MIN_MATCH_CHARS) -> Set[str]:
    """Scrub every candidate and dedup the survivors."""
    out = set()
    for c in candidates:
        kept = scrub_match(c, min_chars)
        if kept is not None:
            out.add(kept)
    return out


def find_math(text: str, wiki: bool = False) -> Set[str]:
    """All distinct cleaned math regions of ``text`` (unordered).

    The engine orders spans downstream with ``sorted()`` — the
    reference's corpus writer does the same before persisting.
    """
    return scrub_all(locate_math(text, wiki))
