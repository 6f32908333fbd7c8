r"""The text kernel as of commit 03ce79b, before its whitespace-scan,
edge-spacing and brace-masking rewrites, kept verbatim as a
differential oracle.

This is the engine's own earlier program, not the pix2tex reference:
agreement with it shows that a rewrite left behaviour unchanged, not
that the engine matches the reference (``ref_oracle.py`` and the
``@needs_reference`` tests do that where the checkout exists).

Only the functions the rewrites touch, and their callers up to
``extract_turn_checked``, are copied; every other stage is the
package's.  Do not edit the copies: their point is that they are the
old code.
"""

from __future__ import annotations

import re
import time
from typing import Iterable, List, Optional, Set

from latex_ocr_spark.textkernel.demacro import (
    _CLOSE,
    _NL,
    _OPEN,
    _RE_BLANKLINES,
    _RE_COMMENT,
    MATCH_BAILOUT,
    MAX_ROUNDS,
    TIME_BUDGET_S,
    MacroExpansionError,
    _collect_definitions,
    _substitute_round,
    _unmask,
    rewrite_primitive_defs,
)
from latex_ocr_spark.textkernel.htmlclean import (
    MODE_LATEX,
    MODE_WIKI,
    classify_mode,
    strip_html_noise,
)
from latex_ocr_spark.textkernel.mathfind import (
    MIN_MATCH_CHARS,
    RE_EDGE_SPACING,
    locate_math,
    strip_labels,
)
from latex_ocr_spark.textkernel.pipeline import TurnSpan

# --- textkernel/normalize.py -------------------------------------------------

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


# --- textkernel/mathfind.py --------------------------------------------------


def scrub_match(candidate: str, min_chars: int = MIN_MATCH_CHARS) -> Optional[str]:
    """Clean one candidate; return None when it must be dropped."""
    if "tikz" in candidate:  # tikz pictures are not supported
        return None
    candidate = strip_labels(candidate)
    candidate = (
        candidate.replace("\n", "").replace(r"\notag", "").replace(r"\nonumber", "")
    )
    # every edge-spacing alternative contains '\' or '~' — a substring
    # miss exactly implies a regex miss, and plain candidates (a_1+b)
    # skip the engine entirely
    if "\\" in candidate or "~" in candidate:
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


# --- textkernel/demacro.py ---------------------------------------------------


def _mask_nested(s: str) -> str:
    """Replace braces nested below the top level with sentinels."""
    depth = 0
    chars = list(s)
    for i, c in enumerate(chars):
        if c == "{":
            if depth > 0:
                chars[i] = _OPEN
            depth += 1
        elif c == "}":
            depth -= 1
            if depth > 0:
                chars[i] = _CLOSE
    return "".join(chars)


def expand_document(text: str) -> str:
    """Expand every usable definition in ``text`` (newline-real form)."""
    t = text.replace("\n", _NL)
    t = _mask_nested(t)
    t, cmds = _collect_definitions(t)
    deadline = time.time() + TIME_BUDGET_S
    try:
        for round_no in range(MAX_ROUNDS):
            if round_no > 0:
                t = _mask_nested(t)
            t, hits = _substitute_round(t, cmds)
            if time.time() > deadline:
                # straggler guard — same as the reference; note the
                # masked sentinels deliberately survive on this path.
                raise TimeoutError
            t = _unmask(t)
            if hits == 0 or round_no == MAX_ROUNDS - 1:
                break
            if hits > MATCH_BAILOUT:
                raise ValueError("too many expansion sites; giving up")
    except (ValueError, TimeoutError):
        pass
    except re.error as exc:
        raise MacroExpansionError(exc)
    return strip_labels(t.replace(_NL, "\n"))


def expand_macros(text: str) -> str:
    r"""Full chain: comment strip → blank-line squeeze → \def/\let
    conversion → iterative expansion.  Pure; safe to call per row inside
    an Arrow batch.

    Fast path: when the stripped text contains no definition marker at
    all, the full machinery provably reduces to label removal (masking
    round-trips to identity, the sweep loop sees zero commands), so we
    skip the two O(n) masking passes and five regex sweeps per turn —
    the common case on real transcript corpora.
    """
    # substring gates are exact: the patterns need these bytes to match
    if "%" in text:
        text = _RE_COMMENT.sub("\n", text)
    if "\n\n" in text:
        text = _RE_BLANKLINES.sub("\n", text)
    if (
        "newcommand" not in text
        and "\\def" not in text
        and "\\let" not in text
    ):
        return strip_labels(text)
    return expand_document(rewrite_primitive_defs(text))


# --- textkernel/pipeline.py ---------------------------------------------------


def extract_turn_checked(
    text: str, mode: str = "auto", demacro: bool = True
) -> "tuple[List[TurnSpan], bool]":
    """Like :func:`extract_turn` but also reports expansion failure."""
    if mode == "auto":
        mode = classify_mode(text)
    if mode == MODE_LATEX:
        if demacro:
            try:
                text = expand_macros(text)
            except MacroExpansionError:
                return [], True
        wiki = False
    else:
        text = strip_html_noise(text)
        wiki = mode == MODE_WIKI
    spans = [
        TurnSpan(i, raw, post_process(raw))
        for i, raw in enumerate(sorted(find_math(text, wiki)))
    ]
    return spans, False
