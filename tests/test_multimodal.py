"""Multimodal plumbing: typed media schema, batched feature extraction
with quarantined codec gaps, and the frame-sampling plan arithmetic."""

import numpy as np

from latex_ocr_spark.operators.images import encode_png_gray
from latex_ocr_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_media_features,
    frame_sample_plan,
)


def _media_rows():
    img = np.zeros((32, 64), dtype=np.uint8)
    img[:, 32:] = 255  # half black half white → known histogram
    return [
        (0, "image", "image/png", bytearray(encode_png_gray(img)),
         {"width": 64, "height": 32, "duration_ms": None, "sample_rate": None, "n_frames": None}),
        (1, "audio", "audio/wav", bytearray(b"RIFF....WAVE"),
         {"width": None, "height": None, "duration_ms": 4000, "sample_rate": 16000, "n_frames": None}),
        (2, "video", "video/mp4", bytearray(b"\x00\x00\x00\x18ftyp"),
         {"width": 640, "height": 360, "duration_ms": 10000, "sample_rate": None, "n_frames": 251}),
        (3, "video", "video/mp4", bytearray(b""),
         {"width": 64, "height": 36, "duration_ms": 2000, "sample_rate": None, "n_frames": 5}),
    ]


def test_feature_extraction_and_quarantine(spark):
    df = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    rows = {r.media_id: r for r in extract_media_features(df, feature_dim=4).collect()}
    # decodable PNG: histogram halves in first and last bins
    img = rows[0]
    assert img.decode_error is None
    assert img.feature[0] == 0.5 and img.feature[3] == 0.5
    assert img.n_bytes > 50  # tiny uniform PNG compresses hard
    # undecodable kinds quarantine with a reason, never crash the task
    for mid in (1, 2):
        assert rows[mid].feature is None
        assert "no codec" in rows[mid].decode_error


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    plan = {r.media_id: [] for r in df.filter("kind = 'video'").collect()}
    for r in frame_sample_plan(df, every_ms=1000).collect():
        plan[r.media_id].append((r.frame_idx, r.ts_ms))
    # 251 frames over 10 s → 40 ms/frame → step 25 → 11 samples
    idx2 = [f for f, _ in sorted(plan[2])]
    assert idx2 == list(range(0, 251, 25))
    assert sorted(plan[2])[1][1] == 1000  # second sample at ~1 s
    # 5 frames over 2 s → 500 ms/frame → step 2
    assert [f for f, _ in sorted(plan[3])] == [0, 2, 4]


def test_frame_sample_plan_gates_unframeable_rows(spark):
    # n_frames = 0 / None rows must be dropped, not throw on
    # sequence(0, -1, step) — one malformed row must not fail the job
    rows = _media_rows() + [
        (4, "video", "video/mp4", bytearray(b""),
         {"width": 1, "height": 1, "duration_ms": 1000, "sample_rate": None, "n_frames": 0}),
        (5, "video", "video/mp4", bytearray(b""),
         {"width": 1, "height": 1, "duration_ms": 1000, "sample_rate": None, "n_frames": None}),
        (6, "video", "video/mp4", bytearray(b""),
         {"width": 1, "height": 1, "duration_ms": 1000, "sample_rate": None, "n_frames": 1}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    plan_rows = frame_sample_plan(df, every_ms=1000).collect()
    got = {r.media_id for r in plan_rows}
    assert 4 not in got and 5 not in got
    # single-frame video yields exactly frame 0 at ts 0 — kept rows
    # must never carry a NULL ts_ms (downstream decode keys on it)
    single = [r for r in plan_rows if r.media_id == 6]
    assert [(r.frame_idx, r.ts_ms) for r in single] == [(0, 0)]
    assert all(r.ts_ms is not None for r in plan_rows)


def test_fetch_frames_decodes_only_sampled(spark):
    """The fetch stage touches exactly the plan's rows — payloads
    travel per sampled frame — and codec gaps quarantine per frame."""
    from latex_ocr_spark.operators.multimodal import fetch_frames

    df = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    plan = frame_sample_plan(df, every_ms=1000)
    n_plan = plan.count()
    got = fetch_frames(df, plan).collect()
    assert len(got) == n_plan  # one output row per planned frame
    for r in got:
        assert r.feature is None and "no frame codec" in r.decode_error
        assert r.ts_ms is not None


def test_featurize_quarantines_decode_errors_but_raises_bugs():
    """Round-2 verdict #2: only data-dependent decode failures
    (DECODE_ERRORS) quarantine; a coding bug in the decode path must
    fail the task, not null the row."""
    import pytest

    from latex_ocr_spark.operators.multimodal import _featurize_checked

    feat, err = _featurize_checked(
        lambda: (_ for _ in ()).throw(NotImplementedError("no codec")), 8
    )
    assert feat is None and "no codec" in err

    feat, err = _featurize_checked(
        lambda: (_ for _ in ()).throw(ValueError("bad stream")), 8
    )
    assert feat is None and "bad stream" in err

    with pytest.raises(AttributeError):
        _featurize_checked(lambda: (_ for _ in ()).throw(AttributeError("typo")), 8)
    with pytest.raises(TypeError):
        _featurize_checked(lambda: (_ for _ in ()).throw(TypeError("bug")), 8)


def test_frame_plan_gates_multiframe_video_with_missing_duration(spark):
    """A multi-frame video whose duration_ms is NULL (or 0) has no
    derivable frame timestamps — it must be excluded from the plan,
    never emitted with ts_ms=0 on every frame (round-2 advice #2).
    Single-frame videos stay, at the unambiguous t=0."""
    rows = [
        (1, "video", "video/mp4", None, (640, 360, None, None, 100)),   # NULL dur, multi
        (2, "video", "video/mp4", None, (640, 360, 0, None, 100)),      # zero dur, multi
        (3, "video", "video/mp4", None, (640, 360, None, None, 1)),     # 1-frame, NULL dur
        (4, "video", "video/mp4", None, (640, 360, 4000, None, 5)),     # healthy
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = frame_sample_plan(df, every_ms=1000).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append((r.frame_idx, r.ts_ms))
    assert 1 not in by_id and 2 not in by_id
    assert by_id[3] == [(0, 0)]
    assert by_id[4][0] == (0, 0) and len(by_id[4]) > 1
    assert all(ts is not None for frames in by_id.values() for _i, ts in frames)
