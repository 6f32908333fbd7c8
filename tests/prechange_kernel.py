r"""The text kernel as of commit 03ce79b, before the rewrites of
``post_process``, ``scrub_match``, the brace masking, the macro
expansion rounds and the substring gates, kept verbatim as a
differential oracle.

This is the engine's own earlier program, not the pix2tex reference:
agreement with it shows that a rewrite left behaviour unchanged, not
that the engine matches the reference (``ref_oracle.py`` and the
``@needs_reference`` tests do that where the checkout exists).

Every function a rewrite touched, and their callers up to
``extract_turn_checked``, are copied; the package supplies only the
compiled patterns, constants and the stages no rewrite has touched.  Do
not edit the copies: their point is that they are the old code.
"""

from __future__ import annotations

import html
import re
import time
from collections import Counter
from typing import Iterable, List, Optional, Set, Tuple

from latex_ocr_spark.textkernel.demacro import (
    _CLOSE,
    _NL,
    _OPEN,
    _RE_BLANKLINES,
    _RE_COMMENT,
    _RE_NEWCOMMAND,
    _RE_NEWCOMMAND_UNESCAPED,
    _RE_TEX_DEF,
    _RE_TEX_LET,
    MATCH_BAILOUT,
    MAX_ROUNDS,
    TIME_BUDGET_S,
    Cmd,
    MacroExpansionError,
    _def_replacement,
    _unmask,
)
from latex_ocr_spark.textkernel.htmlclean import (
    MODE_LATEX,
    MODE_WIKI,
    RE_SCRIPT_BLOCKS,
    classify_mode,
)
from latex_ocr_spark.textkernel.mathfind import (
    MIN_MATCH_CHARS,
    RE_ALIGN,
    RE_DISPLAYSTYLE,
    RE_DOLLAR,
    RE_EDGE_SPACING,
    RE_EQUATION,
    RE_INLINE,
    RE_LABELS,
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


def rewrite_primitive_defs(text: str) -> str:
    r"""Turn ``\def`` and ``\let`` into ``\newcommand`` where possible."""
    text = _RE_TEX_DEF.sub(_def_replacement, text)
    return _RE_TEX_LET.sub(r"\\newcommand*{\1}{\2}\n", text)


def _collect_definitions(masked: str) -> Tuple[str, List[Cmd]]:
    """Pull every usable definition out; blank the definition sites."""
    cmds: List[Cmd] = _RE_NEWCOMMAND.findall(masked)
    masked = _RE_NEWCOMMAND_UNESCAPED.sub(_NL, masked)
    cmds.sort(key=lambda c: len(c[0]))
    tally = Counter(c[0] for c in cmds)
    # multiply-defined names are ambiguous → drop all of them; a body
    # that still contains \newcommand means the head regex misfired.
    usable = [c for c in cmds if tally[c[0]] == 1 and "\\newcommand" not in c[-1]]
    return masked, usable


def _substitute_round(masked: str, cmds: List[Cmd]) -> Tuple[str, int]:
    """One sweep: expand each command's call sites once. Returns hits."""
    hits = 0
    for name, argspec, default, body in cmds:
        nargs = int(argspec[1]) if argspec != "" else 0
        has_default = default != ""
        if nargs == 0:
            site = r"\\%s([\W_^\dĊ])" % name
            hits += len(re.findall(site, masked))
            if hits > 0:
                masked = re.sub(site, r"%s\1" % body.replace("\\", r"\\"), masked)
        else:
            site = (
                r"(\\%s(?:\[(.+?)\])?" % name
                + r"{(.+?)}" * (nargs - (1 if has_default else 0))
                + r")"
            )
            found = re.findall(site, masked)
            hits += len(found)
            for groups in found:
                expansion = body
                if groups[1] == "":
                    groups = (groups[0], default[1:-1], *groups[2:])
                for j in range(1, nargs + 1):
                    expansion = expansion.replace(
                        "#%i" % j, groups[j + int(not has_default)]
                    )
                masked = masked.replace(groups[0], expansion)
    return masked, hits


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


# --- textkernel/htmlclean.py -------------------------------------------------


def strip_html_noise(text: str) -> str:
    """Remove script blocks and resolve HTML entities."""
    return html.unescape(RE_SCRIPT_BLOCKS.sub("", text))


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
