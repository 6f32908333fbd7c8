r"""User-macro expansion for LaTeX-like documents.

Expands ``\newcommand`` / ``\def`` / ``\let`` definitions at their call
sites before math-region location, matching the reference implementation
(parity-tested against /root/reference/pix2tex/dataset/demacro.py:37-167,
itself derived from a public tex.stackexchange answer).  The regexes and
the guard constants (10 nesting rounds, 5 s budget, 4000-match bailout)
are the observable semantics and mirror the reference byte-for-byte; the
code structure is our own.

Three sentinel codepoints temporarily stand in for structure the
regexes must not see: nested ``{``/``}`` become Ḋ/Ḍ while matching a
definition body, and newlines become Ċ so multi-line definitions match.
"""

from __future__ import annotations

import re
import time
from collections import Counter
from typing import List, Tuple

from latex_ocr_spark.textkernel.mathfind import strip_labels


class MacroExpansionError(Exception):
    """Raised when a malformed definition produces an invalid regex.

    Policy (matches the reference driver, arxiv.py:153-156): the caller
    drops the whole document — it contributes no spans — and records the
    failure in the metrics/quarantine table.
    """


_OPEN = "Ḋ"
_CLOSE = "Ḍ"
_NL = "Ċ"

MAX_ROUNDS = 10
TIME_BUDGET_S = 5.0
MATCH_BAILOUT = 4000

#: \newcommand{\name}[n][default]{body}, tolerant of Ċ-newlines between parts.
_DEF_SRC = r"\\(?:re)?newcommand\*?{\\(.+?)}[\sĊ]*(\[\d\])?[\sĊ]*(\[.+?\])?[\sĊ]*{(.*?)}"
_RE_NEWCOMMAND = re.compile(_DEF_SRC)
_RE_NEWCOMMAND_UNESCAPED = re.compile(r"(?<!\\)" + _DEF_SRC)

_RE_TEX_DEF = re.compile(
    r"((?:\\(?:expandafter|global|long|outer|protected)(?:\s+|\r?\n\s*)?)*)?"
    r"\\def\s*(\\[a-zA-Z]+)\s*(?:#+([0-9]))*\{"
)
_RE_TEX_LET = re.compile(r"\\let[\sĊ]*(\\[a-zA-Z]+)\s*=?[\sĊ]*(\\?\w+)*")

_RE_BRACE = re.compile("[{}]")
_RE_COMMENT = re.compile(r"(?<!\\)%.*\n")
_RE_BLANKLINES = re.compile("\n+")

Cmd = Tuple[str, str, str, str]  # (name, '[n]' or '', '[default]' or '', body)


def _mask_nested(s: str) -> str:
    """Replace braces nested below the top level with sentinels."""
    out, last, depth = [], 0, 0
    for m in _RE_BRACE.finditer(s):
        i = m.start()
        if s[i] == "{":
            depth += 1
            nested = depth > 1
        else:
            depth -= 1
            nested = depth > 0
        if nested:
            out.append(s[last:i])
            out.append(_OPEN if s[i] == "{" else _CLOSE)
            last = i + 1
    if not out:
        return s
    out.append(s[last:])
    return "".join(out)


def _unmask(s: str) -> str:
    return s.replace(_OPEN, "{").replace(_CLOSE, "}")


def _def_replacement(match: "re.Match") -> str:
    """Rewrite one ``\\def`` head as a ``\\newcommand`` head."""
    prefixes = match.group(1)
    if prefixes is not None and any(
        kw in prefixes for kw in ("expandafter", "global", "outer", "protected")
    ):
        return match.group(0)  # semantics we cannot reproduce: leave as-is
    head = r"\newcommand"
    if prefixes is None or "long" not in prefixes:
        head += "*"
    head += "{" + match.group(2) + "}"
    if match.lastindex == 3:
        head += "[" + match.group(3) + "]"
    return head + "{"


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
