r"""T18: LaTeX → sympy conversion (gui.py:27-30 ``to_sympy``).

The reference feeds predictions through ``latex2sympy`` after one
pre-normalization (``operatorname*{f}`` → ``f``, gui.py:28).  That
package (and both sympy LaTeX parser backends, antlr4/lark) is absent
in this container, so the kernel:

1. applies the reference's pre-normalization verbatim;
2. uses ``latex2sympy2``/sympy's ``parse_latex`` when importable
   (the full-grammar path a real deploy gets for free);
3. otherwise converts a well-defined LaTeX subset itself —
   ``\frac``, ``\sqrt``, ``\cdot``/``\times``, ``^``/``_`` scripts,
   ``\left``/``\right`` fences, greek letters — by rewriting to a
   sympy-parsable string and ``sympify``-ing it.  Input outside the
   subset (any surviving backslash command) quarantines with a
   ``convert_error`` instead of failing the task — same policy as the
   media codec boundary (operators/multimodal.py).

All per-row work runs in one Arrow-batched stage.
"""

from __future__ import annotations

import re
from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from latex_ocr_spark.functions.arrowcols import map_rows

#: gui.py:28 — exact reference pre-normalization
_RE_OPNAME = re.compile(r"operatorname\*{(\w+)}")

#: \lambda/\Lambda map to lamda/Lamda (sympy.abc's own convention):
#: 'lambda' is a Python keyword, so it can never appear as an
#: identifier in sympify source
_GREEK = {
    g: g
    for g in (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu "
        "xi pi rho sigma tau upsilon phi chi psi omega Gamma Delta Theta "
        "Xi Pi Sigma Upsilon Phi Psi Omega varepsilon vartheta varphi"
    ).split()
}
_GREEK["lambda"] = "lamda"
_GREEK["Lambda"] = "Lamda"

_RE_FRAC = re.compile(r"\\[dt]?frac\{([^{}]*)\}\{([^{}]*)\}")
_RE_SQRT = re.compile(r"\\sqrt\{([^{}]*)\}")
_RE_POW_BRACE = re.compile(r"\^\{([^{}]*)\}")
_RE_SUB_BRACE = re.compile(r"_\{([a-zA-Z0-9]+)\}")


def _resolve_parser():
    """Full-grammar LaTeX parser if one is installed; None otherwise."""
    try:  # pragma: no cover — absent in this container
        from latex2sympy2 import latex2sympy

        return lambda s: latex2sympy(f"${s}$")
    except ImportError:
        pass
    try:  # pragma: no cover — needs antlr4/lark runtime
        from sympy.parsing.latex import parse_latex

        parse_latex("x")  # probe the backend import
        return parse_latex
    except Exception:
        return None


_FULL_PARSER = _resolve_parser()


#: names resolved as sympy functions; every other identifier becomes a
#: plain Symbol (so ``beta``/``gamma``/``E`` don't silently bind to
#: sympy built-ins)
_FUNC_WHITELIST = {"sqrt", "sin", "cos", "tan", "log", "exp", "Abs"}


def _subset_to_sympy_source(latex: str) -> str:
    """Rewrite the supported LaTeX subset to a sympify-parsable string;
    raise NotImplementedError on anything outside it.

    Order matters: structural rewrites (scripts, fracs, sqrt, fences,
    operator commands) run first; juxtaposition-multiplication rules
    run on the *rewritten* string, so they see '(' where the LaTeX had
    ``\\frac``/``\\left``.  Anything that still reaches sympify
    malformed fails there and quarantines — never silently mis-parse.
    """
    s = latex
    # unbraced scripts bind ONE character in LaTeX: x^2y = x^2 * y,
    # x_12 = x_1 * 2 — honor that instead of swallowing the tail.
    # (braced forms start with '{', outside these character classes,
    # and are handled below)
    s = re.sub(r"\^([A-Za-z0-9])(?=[A-Za-z0-9])", r"**(\1)*", s)
    s = re.sub(r"\^([A-Za-z0-9])", r"**(\1)", s)
    s = re.sub(r"_([A-Za-z0-9])(?=[A-Za-z0-9])", r"_\1*", s)
    for _ in range(20):  # innermost-out for nested braces
        # the \x00 sentinel marks the end of a braced subscript so a
        # following identifier char becomes multiplication (a_{12}b =
        # a_12 * b) instead of gluing into the symbol name
        s2 = _RE_SUB_BRACE.sub("_\\1\x00", s)
        s2 = _RE_POW_BRACE.sub(r"**(\1)", s2)
        s2 = _RE_FRAC.sub(r"((\1)/(\2))", s2)
        s2 = _RE_SQRT.sub(r"sqrt(\1)", s2)
        if s2 == s:
            break
        s = s2
    s = re.sub("\x00(?=[A-Za-z0-9])", "*", s).replace("\x00", "")
    s = s.replace(r"\cdot", "*").replace(r"\times", "*")
    s = s.replace(r"\left", "").replace(r"\right", "")
    # a remaining backslash command after a value is an operand
    # (greek): insert the multiplication LaTeX leaves implicit
    s = re.sub(r"([A-Za-z0-9\)\}])\s*\\", r"\1*\\", s)  # x\alpha, 2\pi
    for g, name in _GREEK.items():
        s = re.sub(r"\\%s\b" % g, name, s)
    s = s.replace("^", "**")  # leftovers like x^\alpha (now x^alpha)
    s = s.replace("{", "(").replace("}", ")")
    # juxtaposition over the rewritten string: digits/closing parens
    # followed by a value are multiplication — these rules see '('
    # where the LaTeX had \frac or \left (letter-before-paren is left
    # alone: function application for whitelisted names, a
    # quarantining TypeError otherwise)
    s = re.sub(r"(\d)\s*([A-Za-z\(])", r"\1*\2", s)  # 2x, 3(a+b)
    s = re.sub(r"\)\s*([A-Za-z0-9\(])", r")*\1", s)  # (a)(b), (a)x
    if "\\" in s:
        raise NotImplementedError(f"LaTeX outside the supported subset: {latex!r}")
    return s


def latex_to_sympy_str(latex: str, use_full_parser: bool = True) -> str:
    """str(sympy expression) for a LaTeX string — the pure kernel
    (golden generation imports this Spark-free).

    ``use_full_parser=False`` pins the subset converter even when
    latex2sympy2/antlr4 happens to be installed — the registry's
    golden-checked query uses this so oracle parity never depends on
    optional packages (the committed golden was generated with the
    subset converter)."""
    import sympy

    normalized = _RE_OPNAME.sub(r"\g<1>", latex)  # gui.py:28
    if use_full_parser and _FULL_PARSER is not None:  # pragma: no cover
        return str(_FULL_PARSER(normalized))
    src = _subset_to_sympy_source(normalized)
    # every identifier is a plain Symbol unless whitelisted as a
    # function — sympify's default namespace would bind beta/gamma/E/I
    # to special objects and change semantics underfoot
    names = set(re.findall(r"[A-Za-z_][A-Za-z_0-9]*", src))
    local_syms = {
        n: sympy.Symbol(n) for n in names if n not in _FUNC_WHITELIST
    }
    return str(sympy.sympify(src, locals=local_syms, evaluate=True))


#: exception classes that can only come from a coding bug, never from
#: adversarial input — the quarantine must NOT swallow these (a bug
#: that nulls every row looks like a clean run; round-2 verdict #2)
BUG_ERRORS = (NameError, UnboundLocalError, ImportError)


def convert_checked(
    latex: Optional[str], use_full_parser: bool = True
) -> Tuple[Optional[str], Optional[str]]:
    """(sympy_str, convert_error) — never raises *on input*: malformed
    LaTeX of any shape quarantines (sympify's failure surface is
    unboundedly typed, so the catch is broad by design), but coding
    bugs in the kernel itself (:data:`BUG_ERRORS`) propagate and fail
    the task."""
    if latex is None:
        return None, "null input"
    try:
        return latex_to_sympy_str(latex, use_full_parser=use_full_parser), None
    except BUG_ERRORS:
        raise
    except Exception as exc:
        return None, f"{type(exc).__name__}: {exc}"


def with_sympy(
    df: DataFrame, latex_col: str = "latex_norm", use_full_parser: bool = True
) -> DataFrame:
    """Append ``sympy_str``/``convert_error`` columns."""
    return map_rows(
        df,
        lambda: lambda s: [convert_checked(s, use_full_parser=use_full_parser)],
        [latex_col],
        [
            T.StructField("sympy_str", T.StringType()),
            T.StructField("convert_error", T.StringType()),
        ],
    )
