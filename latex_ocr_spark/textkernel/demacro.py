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

Every regex pass is skipped only where it provably cannot change the
text, so the output is the one the ungated chain gives: a pass whose
pattern needs a literal (``%``, ``\n\n``, ``\def``, ``\let``, a definition
marker, a plain command name) does not run on a text without it, and
the round that would only confirm that no call site is left is not
run once none can match.  Each function states its gate.
"""

from __future__ import annotations

import re
import time
from typing import List, Optional, Tuple

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

_RE_BRACE_SPLIT = re.compile("([{}])")
_RE_TWO_OPENS = re.compile("{[^{}]*{")
_RE_COMMENT = re.compile(r"(?<!\\)%.*\n")
_RE_BLANKLINES = re.compile("\n+")

Cmd = Tuple[str, str, str, str]  # (name, '[n]' or '', '[default]' or '', body)
#: (compiled call site, plain literal or None, zero-argument template,
#: nargs, has_default, '[default]' or '', body)
Site = Tuple["re.Pattern", Optional[str], Optional[str], int, bool, str, str]


def _mask_nested(s: str) -> str:
    """Replace braces nested below the top level with sentinels.

    A brace is masked where the depth reaches 2, and the first brace
    that takes it there is a ``{`` whose previous brace is a ``{`` too
    (a ``}`` would have left it from 2).  A text where no ``{`` follows
    another with no brace between holds nothing to mask.
    """
    if _RE_TWO_OPENS.search(s) is None:
        return s
    parts = _RE_BRACE_SPLIT.split(s)  # text, brace, text, brace, ...
    depth = 0
    for k in range(1, len(parts), 2):
        if parts[k] == "{":
            depth += 1
            if depth > 1:
                parts[k] = _OPEN
        else:
            depth -= 1
            if depth > 0:
                parts[k] = _CLOSE
    return "".join(parts)


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
    r"""Turn ``\def`` and ``\let`` into ``\newcommand`` where possible.

    Each substitution runs only when its pattern's mandatory literal,
    ``\def`` or ``\let``, is in the text it would scan: without it the
    pattern has no match and the substitution returns its input.
    """
    if "\\def" in text:
        text = _RE_TEX_DEF.sub(_def_replacement, text)
    if "\\let" in text:
        text = _RE_TEX_LET.sub(r"\\newcommand*{\1}{\2}\n", text)
    return text


def _collect_definitions(masked: str) -> Tuple[str, List[Cmd]]:
    """Pull every usable definition out; blank the definition sites."""
    cmds: List[Cmd] = _RE_NEWCOMMAND.findall(masked)
    masked = _RE_NEWCOMMAND_UNESCAPED.sub(_NL, masked)
    cmds.sort(key=lambda c: len(c[0]))
    seen, ambiguous = set(), set()
    for c in cmds:
        (ambiguous if c[0] in seen else seen).add(c[0])
    # multiply-defined names are ambiguous → drop all of them; a body
    # that still contains \newcommand means the head regex misfired.
    usable = [c for c in cmds if c[0] not in ambiguous and "\\newcommand" not in c[-1]]
    return masked, usable


def _call_sites(cmds: List[Cmd]) -> List[Site]:
    """Compile each command's call-site pattern once per document.

    A name that is not a valid pattern raises ``re.error`` here, before
    the first round and inside :func:`expand_document`'s handler, so its
    document fails with :class:`MacroExpansionError`.  ``literal`` is
    ``"\\" + name`` when the name is plain ``[A-Za-z0-9]+``: the pattern
    then needs that literal to match, so a text without it has no call
    site.  Other names (``a.b`` also matches ``\\axb``) get ``None`` and
    are always searched.
    """
    sites = []
    for name, argspec, default, body in cmds:
        nargs = int(argspec[1]) if argspec != "" else 0
        has_default = default != ""
        if nargs == 0:
            site = re.compile(r"\\%s([\W_^\dĊ])" % name)
            template = r"%s\1" % body.replace("\\", r"\\")
        else:
            site = re.compile(
                r"(\\%s(?:\[(.+?)\])?" % name
                + r"{(.+?)}" * (nargs - (1 if has_default else 0))
                + r")"
            )
            template = None
        literal = "\\" + name if name.isascii() and name.isalnum() else None
        sites.append((site, literal, template, nargs, has_default, default, body))
    return sites


def _substitute_round(masked: str, sites: List[Site]) -> Tuple[str, int]:
    """One sweep: expand each command's call sites once. Returns hits."""
    hits = 0
    for site, literal, template, nargs, has_default, default, body in sites:
        if literal is not None and literal not in masked:
            continue  # no call site: the sweep below would change nothing
        if nargs == 0:
            hits += len(site.findall(masked))
            if hits > 0:
                masked = site.sub(template, masked)
        else:
            found = site.findall(masked)
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


def _settled(t: str, sites: List[Site]) -> bool:
    """No call site can match in ``_mask_nested(t)``.

    Holds when every name is plain and its site pattern has no match in
    ``t``.  Masking only turns braces into the sentinels Ḋ/Ḍ.  Such a
    pattern spells no sentinel, its ``.`` matches any character (``t``
    holds no newline), and neither its braces nor the class after a
    zero-argument name match a sentinel, so a match in the masked text
    uses characters that are the same in ``t`` and is a match there.
    """
    for site, literal, *_rest in sites:
        if literal is None or (literal in t and site.search(t)):
            return False
    return True


def expand_document(text: str) -> str:
    """Expand every usable definition in ``text`` (newline-real form).

    Rounds repeat until one expands nothing.  The round that would only
    confirm this is skipped when :func:`_settled` holds after a round
    that expanded something: it would mask, find no site and unmask,
    and ``_unmask(_mask_nested(t))`` is ``t`` there, because the
    preceding ``_unmask`` left no sentinel in ``t``, so every sentinel
    the masking makes is one of its own and maps back to the brace it
    replaced.  The deadline is still read where that round would end,
    and on expiry the masked text is returned, as the round would.
    """
    t = text.replace("\n", _NL)
    t = _mask_nested(t)
    t, cmds = _collect_definitions(t)
    deadline = time.time() + TIME_BUDGET_S
    try:
        sites = _call_sites(cmds)
        for round_no in range(MAX_ROUNDS):
            if round_no > 0:
                t = _mask_nested(t)
            t, hits = _substitute_round(t, sites)
            if time.time() > deadline:
                # straggler guard — same as the reference; note the
                # masked sentinels deliberately survive on this path.
                raise TimeoutError
            t = _unmask(t)
            if hits == 0 or round_no == MAX_ROUNDS - 1:
                break
            if hits > MATCH_BAILOUT:
                raise ValueError("too many expansion sites; giving up")
            if _settled(t, sites):
                if time.time() > deadline:
                    t = _mask_nested(t)
                break
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
