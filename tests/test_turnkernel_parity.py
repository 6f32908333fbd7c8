"""Full per-turn kernel parity: extract_turn == the reference chain
(scraping.py strip/unescape → demacro → find_math → post_process),
over every generator template and a fuzz sweep."""

import html
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from latex_ocr_spark.datagen.templates import ALL_TEMPLATE_GROUPS, render_template
from latex_ocr_spark.datagen.transcripts import gen_transcripts
from latex_ocr_spark.textkernel.htmlclean import classify_mode
from latex_ocr_spark.textkernel.pipeline import extract_turn
from ref_oracle import (
    HAVE_REFERENCE,
    needs_reference,
    ref_demacro,
    ref_extract_latex,
    ref_post_process,
)

REF_E = ref_extract_latex() if HAVE_REFERENCE else None
REF_D = ref_demacro() if HAVE_REFERENCE else None
REF_PP = ref_post_process() if HAVE_REFERENCE else None

# the reference's script-strip regex, scraping.py:13 (inlined: that
# module imports `requests` which this container lacks)
REF_HTMLTAGS = re.compile(r"<(noscript|script)>.*?<\/\1>", re.S)


def reference_chain(text: str):
    """What the reference pipeline would extract from this turn."""
    mode = classify_mode(text)  # mode routing is engine-defined, shared
    if mode == "latex":
        try:
            expanded = REF_D.pydemacro(text)
        except Exception:
            return []
        found = REF_E.find_math(expanded, wiki=False)
    else:
        cleaned = html.unescape(REF_HTMLTAGS.sub("", text))
        found = REF_E.find_math(cleaned, wiki=(mode == "wiki"))
    return sorted(set(found))


def assert_turn_matches(text: str):
    ours = extract_turn(text)
    theirs = reference_chain(text)
    assert [s.raw_match for s in ours] == theirs, repr(text)
    for span in ours:
        assert span.latex_norm == REF_PP(span.raw_match)
    assert [s.span_idx for s in ours] == list(range(len(ours)))


@needs_reference
def test_templates_parity():
    for group, templates in ALL_TEMPLATE_GROUPS.items():
        for i in range(len(templates)):
            for salt in (0, 5, 123456):
                assert_turn_matches(render_template(group, i, salt))


@needs_reference
def test_generated_transcripts_parity():
    for row in gen_transcripts(60):
        assert_turn_matches(row[3])


def test_generator_yields_spans():
    rows = gen_transcripts(60)
    total = sum(len(extract_turn(r[3])) for r in rows)
    assert total > 100  # the fixture mix must actually produce spans


@needs_reference
@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="$\\{}()[]^_ \n<>&;abxyz12=\"newcomd%#", max_size=300))
def test_fuzz_parity(text):
    assert_turn_matches(text)
