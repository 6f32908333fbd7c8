"""The rewritten text kernel against the kernel it replaced.

``prechange_kernel`` is a verbatim copy of ``post_process``,
``scrub_match`` and ``_mask_nested`` (and their callers) as they stood
before the rewrites.  Every check here is byte equality with that copy:
it shows the rewrites left behaviour unchanged, not that the kernel
matches the pix2tex reference (the ``@needs_reference`` tests do that).
"""

import random
import re
import string

import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

import prechange_kernel as before
from latex_ocr_spark.datagen.transcripts import conv_length, make_turn
from latex_ocr_spark.paths import GOLDEN_DIR
from latex_ocr_spark.textkernel import demacro, normalize
from latex_ocr_spark.textkernel.mathfind import scrub_match
from latex_ocr_spark.textkernel.normalize import post_process
from latex_ocr_spark.textkernel.pipeline import extract_turn_checked

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


_SCRUB_TOKENS = list("ab1+{} ~\\\n") + [
    "\\,", "\\ ", "\\thinspace", "\\!", "\\:", "\\;", "\\enspace", "\\quad",
    "\\qquad", "\\hspace{", "3em", "\\hfill", "\\label{x}", "\\notag", "tikz",
]


def test_scrub_match_seeded_sweep_equals_prechange():
    rng = random.Random(17)
    for _ in range(60_000):
        s = "".join(rng.choices(_SCRUB_TOKENS, k=rng.randint(0, 8)))
        assert scrub_match(s) == before.scrub_match(s), repr(s)


def test_mask_nested_seeded_sweep_equals_prechange():
    rng = random.Random(19)
    for _ in range(60_000):
        s = "".join(rng.choices("{{}}ab\\Ḋ", k=rng.randint(0, 16)))
        assert demacro._mask_nested(s) == before._mask_nested(s), repr(s)


def test_character_classes_equal_the_regex_classes_on_every_code_point():
    """The squeezes test classes with ``str`` methods; ``re`` defines
    them.  Whitespace must be a non-letter, or NN and LN could match
    more than one whitespace character."""
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
