"""T18 LaTeX→sympy kernel: subset conversion, the reference's
operatorname* pre-normalization, symbol-vs-builtin hygiene, and the
quarantine boundary for out-of-subset input."""

import pytest

from latex_ocr_spark.operators.symbolic import convert_checked, with_sympy


@pytest.mark.parametrize(
    "latex,expected",
    [
        (r"x^2 + \frac{1}{2}", "x**2 + 1/2"),
        (r"\frac{\frac{a}{b}}{c}", "a/(b*c)"),  # nested fracs
        (r"\sqrt{x_{10} + 1}", "sqrt(x_10 + 1)"),
        (r"operatorname*{sin}(x)", "sin(x)"),  # gui.py:28 pre-normalization
        (r"\left( a + b \right)^{n}", "(a + b)**n"),
        (r"b \cdot y", "b*y"),
        (r"2x + 3(y+1)", "2*x + 3*y + 3"),  # juxtaposition = multiplication
        (r"(a+b)(c-d)", "(a + b)*(c - d)"),
        (r"e^{i\pi}", "e**(i*pi)"),
        # review-round regressions: braced subscript followed by an
        # identifier multiplies instead of gluing; juxtaposition rules
        # see the rewritten string (post-\frac/\left); unbraced scripts
        # bind exactly one character (LaTeX semantics)
        (r"a_{12}b", "a_12*b"),
        (r"2\left(x + 1\right)", "2*x + 2"),
        (r"\frac{1}{2} x", "x/2"),
        (r"x_12", "2*x_1"),
        (r"x^2y", "x**2*y"),
    ],
)
def test_subset_conversion(latex, expected):
    got, err = convert_checked(latex)
    assert err is None and got == expected


def test_builtin_names_stay_symbols():
    # beta/gamma/E/I are sympy built-ins; as LaTeX identifiers they
    # must remain plain symbols, not special functions/constants
    got, err = convert_checked(r"\frac{\alpha}{\beta} + E + I")
    assert err is None
    assert "beta" in got and "E + I" in got


def test_lambda_keyword():
    # \lambda maps to sympy.abc's 'lamda' spelling — 'lambda' is a
    # Python keyword and can never appear in sympify source
    got, err = convert_checked(r"\lambda + \Lambda")
    assert err is None and got == "Lamda + lamda"


def test_out_of_subset_quarantines_not_raises():
    for latex in (r"\int_0^1 f(x) dx", r"\sum_k a_k", r"x(y)", None):
        got, err = convert_checked(latex)
        assert got is None and err is not None


def test_with_sympy_spark(spark):
    df = spark.createDataFrame(
        [(0, r"x^2"), (1, r"\oint f"), (2, None)], "i long, latex_norm string"
    )
    rows = {r.i: r for r in with_sympy(df).collect()}
    assert rows[0].sympy_str == "x**2" and rows[0].convert_error is None
    assert rows[1].sympy_str is None and "NotImplementedError" in rows[1].convert_error
    assert rows[2].sympy_str is None


def test_convert_checked_raises_on_kernel_bugs(monkeypatch):
    """Quarantine is for adversarial input, not for our bugs: an
    injected NameError/ImportError in the kernel must propagate
    (round-2 verdict #2)."""
    import pytest

    from latex_ocr_spark.operators import symbolic as S

    def buggy(latex, use_full_parser=True):
        raise NameError("typo_in_kernel")

    monkeypatch.setattr(S, "latex_to_sympy_str", buggy)
    with pytest.raises(NameError):
        S.convert_checked("x^2")


def test_registry_x12_pins_subset_converter(monkeypatch):
    """Even with a full-grammar parser installed, the golden-checked
    query must keep using the subset converter (round-2 advice #4)."""
    from latex_ocr_spark.operators import symbolic as S

    sentinel = lambda s: (_ for _ in ()).throw(AssertionError("full parser used"))
    monkeypatch.setattr(S, "_FULL_PARSER", sentinel)
    # pinned path ignores the installed parser
    assert S.latex_to_sympy_str("x^2", use_full_parser=False) == "x**2"
    got, err = S.convert_checked("x^2", use_full_parser=False)
    assert got == "x**2" and err is None
