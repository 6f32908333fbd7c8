"""The driver verifies queries() in iteration order and (observed in
round 2) caps at the first 50 — 16 queries including the flagship got
no driver row.  These invariants keep the whole registry inside the
verification window and the highest-value signals at the front, so a
regression here is a red test instead of a silently unverified
flagship."""

from latex_ocr_spark.paths import REPO_ROOT

DRIVER_WINDOW = 50


def test_registry_fits_driver_window():
    from latex_ocr_spark.plans.registry import ORACLES, QUERIES

    assert len(QUERIES) <= DRIVER_WINDOW, (
        f"{len(QUERIES)} queries exceed the driver's {DRIVER_WINDOW}-row "
        "verification window — merge or retire a slot (see round-2 VERDICT #1)"
    )
    # every query carries a hard oracle (no rows-only slots left)
    assert set(ORACLES) == set(QUERIES)


def test_priority_queries_registered_first():
    from latex_ocr_spark.plans.registry import _PRIORITY, QUERIES

    names = list(QUERIES)
    assert names[: len(_PRIORITY)] == _PRIORITY
    assert names[0] == "extract_transcripts"  # the flagship leads


def test_entry_module_exposes_same_window():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    os = entrymod.oracle_sql()
    assert len(qs) <= DRIVER_WINDOW
    assert list(qs)[0] == "extract_transcripts"
    assert set(os) == set(qs)


def test_survey_tally_matches_registry():
    """SURVEY.md §9 documents the registry size; keep it honest
    (round-2 verdict housekeeping item)."""
    import re

    from latex_ocr_spark.plans.registry import QUERIES

    with open(f"{REPO_ROOT}/SURVEY.md") as f:
        text = f.read()
    m = re.search(r"<!-- registry-count:(\d+) -->", text)
    assert m, "SURVEY.md must carry a '<!-- registry-count:N -->' marker in §9"
    assert int(m.group(1)) == len(QUERIES), (
        f"SURVEY.md says {m.group(1)} registry queries; registry has {len(QUERIES)}"
    )
