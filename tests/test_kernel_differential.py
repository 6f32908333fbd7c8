"""The rewritten text kernel against the kernel it replaced.

``prechange_kernel`` is a verbatim copy of every kernel function a
rewrite touched (``post_process``, ``scrub_match``, ``strip_labels``,
``locate_math``, the ``demacro`` chain and ``strip_html_noise``) and
their callers, as they stood before the rewrites.  Every check here is
byte equality with that copy: it shows the rewrites left behaviour
unchanged, not that the kernel matches the pix2tex reference (the
``@needs_reference`` tests do that).
"""

import itertools
import random
import re
import string

import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

import prechange_kernel as before
from latex_ocr_spark.datagen.transcripts import conv_length, make_turn
from latex_ocr_spark.paths import GOLDEN_DIR
from latex_ocr_spark.textkernel import demacro, htmlclean, normalize
from latex_ocr_spark.textkernel.mathfind import scrub_match
from latex_ocr_spark.textkernel.normalize import post_process
from latex_ocr_spark.textkernel.pipeline import extract_turn_checked
from test_demacro_structured_fuzz import gen_doc

#: ``é``/``ß`` are letters outside ``[a-zA-Z]``, ``²`` a word character
#: outside both classes, ``٣`` a non-ASCII digit, ``\xa0`` non-ASCII space
_TOKENS = (
    list(string.ascii_letters + string.digits)
    + list("\\{}_^~$&")
    + ["\\ "] + list("\t\n\r\x0b\x0c\xa0 ") * 4
    + ["é", "ß", "²", "٣"]
    + [p + name + s for name in ("mathrm", "operatorname", "text", "mathbf")
       for p in ("\\", "\\", "") for s in (" {", "{", " * {", "}", " ")]
)


@settings(max_examples=3000, deadline=None)
@given(st.lists(st.sampled_from(_TOKENS), max_size=60).map("".join))
def test_post_process_fuzz_equals_prechange(s):
    assert post_process(s) == before.post_process(s)


def test_post_process_seeded_sweep_equals_prechange():
    """Many short strings from the same tokens: rare interleavings of
    the guard with other whitespace need volume more than shrinking."""
    rng = random.Random(13)
    for _ in range(150_000):
        s = "".join(rng.choices(_TOKENS, k=rng.randint(0, 24)))
        assert post_process(s) == before.post_process(s), repr(s)


def test_post_process_every_short_string_equals_prechange():
    """Every string of up to six characters over letters, a non-letter,
    a backslash, three kinds of whitespace and characters in neither
    class: each class of the two characters around a whitespace run,
    the backslash guard and runs of mixed whitespace."""
    for n in range(7):
        for chars in itertools.product("a(\\ \t\xa0é1²{", repeat=n):
            s = "".join(chars)
            assert post_process(s) == before.post_process(s), repr(s)


_SCRUB_TOKENS = list("ab1+{} ~\\\n") + [
    "\\,", "\\ ", "\\thinspace", "\\!", "\\:", "\\;", "\\enspace", "\\quad",
    "\\qquad", "\\hspace{", "3em", "\\hfill", "\\label{x}", "\\notag", "tikz",
]


def test_scrub_match_seeded_sweep_equals_prechange():
    rng = random.Random(17)
    for _ in range(60_000):
        s = "".join(rng.choices(_SCRUB_TOKENS, k=rng.randint(0, 8)))
        assert scrub_match(s) == before.scrub_match(s), repr(s)


def test_scrub_match_label_sweep_equals_prechange():
    """Candidates built around each cross-reference macro, with and
    without the optional space, so a label gate that misses one of
    them shows."""
    tokens = ["\\ref{a}", "\\ref {b}", "\\cite{c}", "\\label{d}", "\\eqref{e}",
              "\\eqref", "ref{f}", "x", " ", "\\", "{", "}", "\\,"]
    rng = random.Random(31)
    for _ in range(30_000):
        s = "".join(rng.choices(tokens, k=rng.randint(0, 6)))
        assert scrub_match(s) == before.scrub_match(s), repr(s)


def test_mask_nested_seeded_sweep_equals_prechange():
    rng = random.Random(19)
    for _ in range(60_000):
        s = "".join(rng.choices("{{}}ab\\Ḋ", k=rng.randint(0, 16)))
        assert demacro._mask_nested(s) == before._mask_nested(s), repr(s)


#: ``a(`` is not a valid pattern, ``a.b`` also matches ``\axb``, ``x+``
#: also ``\xx``; ``a``/``ab``/``abc`` are prefixes of one another
_MACRO_NAMES = ["a", "ab", "abc", "a(", "a.b", "x+", "1", "12", "a1", "B", "zz"]
_CALLED = _MACRO_NAMES + ["axb", "xx", "xxx", "ab1", "alpha"]
_MACRO_BODIES = ["x+1", "#1", "(#1,#2)", r"\frac{#1}{2}", "{n{e}}", r"\ab",
                 r"\a", r"\label{q}", "Ḋ#1Ḍ", "", r"\def\q{1}"]
_MACRO_SEPS = [" ", "\n", "$", "_", "^", "1", "x", "{", "}", "Ċ", "Ḋ", "Ḍ", "", "\\", "%"]


def _definition(rng, kinds):
    kind = rng.choice(kinds)
    letters = [n for n in _MACRO_NAMES if n.isalpha()]
    if kind == "let":
        return "\\let\\%s%s\\%s" % (rng.choice(letters), rng.choice(["=", " = ", "", "\n"]),
                                    rng.choice(_CALLED))
    nargs = rng.randint(0, 3)
    body = rng.choice(_MACRO_BODIES)
    if kind == "def":
        head = "".join(rng.choice(["\\long", "\\global", ""]) for _ in range(rng.randint(0, 1)))
        return "%s\\def%s\\%s%s{%s}" % (head, rng.choice(["", " "]), rng.choice(letters),
                                     "".join("#%d" % i for i in range(1, nargs + 1)), body)
    spec = "[%d]" % nargs if nargs else ""
    default = "[%s]" % rng.choice(["d", "Ḋ", "x y"]) if nargs and rng.random() < 0.3 else ""
    return "\\%s{\\%s}%s%s{%s}" % (kind, rng.choice(_MACRO_NAMES), spec, default, body)


def _macro_doc(rng):
    """One document for the ``expand_macros`` sweep: definitions of
    metacharacter, prefix and digit names, call sites of defined and
    undefined names, sentinel code points in the text."""
    kinds = rng.choice([["newcommand", "renewcommand", "newcommand*", "def", "let"],
                        ["def"], ["let"], ["def", "let"]])
    parts = [_definition(rng, kinds) for _ in range(rng.randint(1, 4))]
    for _ in range(rng.randint(0, 6)):
        args = "".join("{%s}" % rng.choice(["p", "q+1", "\\a", "{r}", "Ċ"])
                       for _ in range(rng.randint(0, 3)))
        opt = rng.choice(["", "", "[o]"])
        parts.append("\\%s%s%s%s" % (rng.choice(_CALLED), opt, args, rng.choice(_MACRO_SEPS)))
    if rng.random() < 0.2:
        parts.append(rng.choice(["% note\n", "\n\n", "\\%", "$x$", "\\ref{e}"]))
    rng.shuffle(parts)
    return rng.choice([" ", "\n", "", "Ċ"]).join(parts)


def _expand_or_error(expand, doc):
    try:
        return expand(doc)
    except demacro.MacroExpansionError:
        return demacro.MacroExpansionError


def test_expand_macros_seeded_sweep_equals_prechange():
    """Output, or that ``MacroExpansionError`` was raised, equals the
    copy's on the structured-fuzz documents and on documents built to
    hit each gate: ``\\def``-only and ``\\let``-only texts, names that
    are not plain (a skipped call site there would differ), prefixes of
    other names, digit names and the masking sentinels."""
    rng = random.Random(23)
    docs = [gen_doc(rng) for _ in range(4_000)] + [_macro_doc(rng) for _ in range(40_000)]
    errors = changed = 0
    for doc in docs:
        got = _expand_or_error(demacro.expand_macros, doc)
        assert got == _expand_or_error(before.expand_macros, doc), repr(doc)
        errors += got is demacro.MacroExpansionError
        changed += got is not demacro.MacroExpansionError and got != doc
    assert errors > 500 and changed > 30_000, (errors, changed)


_HTML_TOKENS = ["<script>", "</script>", "<noscript>", "</noscript>", "script>", "<",
                ">", "/", "x", " ", "\n", "&amp;", "&lt;", "&#36;", "$a$"]


def test_strip_html_noise_seeded_sweep_equals_prechange():
    rng = random.Random(29)
    for _ in range(40_000):
        s = "".join(rng.choices(_HTML_TOKENS, k=rng.randint(0, 10)))
        assert htmlclean.strip_html_noise(s) == before.strip_html_noise(s), repr(s)


def test_character_classes_equal_the_regex_classes_on_every_code_point():
    """``post_process`` tests classes with ``str`` methods; ``re``
    defines them.  Whitespace must be a non-letter, or NN and LN could
    match more than one whitespace character and a run's outcome would
    not follow from the classes of its two neighbours."""
    nonletter, letter = re.compile(before._NOLETTER), re.compile(before._LETTER)
    space = re.compile(r"\s")
    for cp in range(0x110000):
        c = chr(cp)
        assert normalize._nonletter(c) == bool(nonletter.fullmatch(c)), hex(cp)
        assert (c in normalize._LETTERS) == bool(letter.fullmatch(c)), hex(cp)
        assert not space.fullmatch(c) or normalize._nonletter(c), hex(cp)


def test_extract_golden_spans_equal_prechange():
    golden = pq.read_table(
        f"{GOLDEN_DIR}/extract_transcripts.parquet",
        columns=["raw_match", "latex_norm"],
    ).to_pydict()
    assert len(golden["raw_match"]) == 3322
    for raw, norm in zip(golden["raw_match"], golden["latex_norm"]):
        assert post_process(raw) == norm == before.post_process(raw), repr(raw)


def _turns(first_conv, n_turns):
    conv, texts = first_conv, []
    while len(texts) < n_turns:
        texts.extend(make_turn(conv, t)[3] for t in range(conv_length(conv)))
        conv += 1
    return texts[:n_turns]


def test_extract_turn_checked_equals_prechange_chain():
    texts = [t for off in (0, 40_000, 3_000_000) for t in _turns(off, 7_000)]
    n_spans = 0
    for text in texts:
        got = extract_turn_checked(text)
        assert got == before.extract_turn_checked(text), repr(text)
        n_spans += len(got[0])
    assert n_spans > 20_000
