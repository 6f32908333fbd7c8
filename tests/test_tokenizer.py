"""BPE tokenizer: round-trip contract over every extracted span
(FIXTURES.md §5) plus Spark column operators."""

from latex_ocr_spark.datagen.transcripts import gen_transcripts
from latex_ocr_spark.textkernel.bpe import BOS_ID, EOS_ID, default_tokenizer
from latex_ocr_spark.textkernel.pipeline import extract_turn


def test_roundtrip_all_fixture_spans():
    tk = default_tokenizer()
    n = 0
    for row in gen_transcripts(80):
        for span in extract_turn(row[3]):
            ids = tk.encode(span.latex_norm)
            assert ids[0] == BOS_ID and ids[-1] == EOS_ID
            assert tk.decode(ids) == span.latex_norm
            n += 1
    assert n > 500


def test_specials_and_edges():
    tk = default_tokenizer()
    assert tk.encode("") == [BOS_ID, EOS_ID]
    assert tk.decode([BOS_ID, EOS_ID]) == ""
    assert tk.decode(tk.encode(r"\frac{1}{2}")) == r"\frac{1}{2}"
    # Ġ sentinel decodes to a space between pretokens
    ids = tk.encode("a b")
    assert tk.decode(ids) == "a b"


def test_known_vocab_ids():
    tk = default_tokenizer()
    # frozen single-token spot checks from resources/tokenizer.json
    assert tk.vocab["[PAD]"] == 0
    assert tk.vocab["[BOS]"] == 1
    assert tk.vocab["[EOS]"] == 2
    assert tk.encode("!", add_specials=False) == [tk.vocab["!"]]


def test_spark_tokenize_roundtrip(spark):
    import pandas as pd

    from latex_ocr_spark.operators.tokenize import (
        filter_max_seq_len,
        with_detokenized,
        with_tokens,
    )

    pdf = pd.DataFrame(
        {"latex_norm": [r"\frac{1}{2}", r"x^{2}+y_{i}", r"\alpha\beta", ""]}
    )
    df = spark.createDataFrame(pdf)
    toked = with_tokens(df)
    back = with_detokenized(toked)
    rows = {r.latex_norm: (r.tokens, r.decoded) for r in back.collect()}
    for s, (ids, decoded) in rows.items():
        assert decoded == s
        assert ids[0] == BOS_ID and ids[-1] == EOS_ID
    assert filter_max_seq_len(toked, max_len=3).count() == 1  # only ""


def test_spark_tokenize_passes_other_columns_through(spark):
    """Arrow pass-through contract of the tokenize operators: a NULL
    text gives NULL tokens (and NULL decoded), ``""`` gives
    [BOS, EOS], every row equals ``default_tokenizer().encode``, and
    nested and timestamp columns come back unchanged."""
    import datetime as dt

    from latex_ocr_spark.operators.tokenize import with_detokenized, with_tokens

    rows = [
        (0, r"\frac{1}{2}", ["a", None], dt.datetime(2024, 1, 2, 3, 4, 5, 6)),
        (1, None, None, None),
        (2, "", [], dt.datetime(1999, 12, 31, 23, 59, 59)),
        (3, r"x^{2}+y_{i} \alpha", ["b"], dt.datetime(2030, 6, 1)),
    ]
    df = spark.createDataFrame(
        rows, "id long, latex_norm string, tags array<string>, ts timestamp"
    )
    out = with_detokenized(with_tokens(df))
    assert out.columns == ["id", "latex_norm", "tags", "ts", "tokens", "decoded"]
    want = {r.id: r for r in df.collect()}
    got = {r.id: r for r in out.collect()}
    assert set(got) == set(want)
    tk = default_tokenizer()
    for i, r in got.items():
        assert tuple(r)[:4] == tuple(want[i])
        if r.latex_norm is None:
            assert r.tokens is None and r.decoded is None
        else:
            assert r.tokens == tk.encode(r.latex_norm)
            assert r.decoded == r.latex_norm
    assert got[2].tokens == [BOS_ID, EOS_ID]


def test_pretoken_memo_skips_long_pretokens(monkeypatch):
    """A 1 MB pretoken encodes as it does when memoized, and is not
    kept: the memo is bounded in bytes, not only in entries."""
    from latex_ocr_spark.textkernel import bpe

    big = "~" * (1 << 20)  # one pretoken: a symbol run
    tok = bpe.BpeTokenizer()
    ids = tok.encode(big, add_specials=False)
    assert big not in tok._pretoken_cache and len(ids) == len(big)
    assert tok.encode("~~", add_specials=False) == ids[:2]
    assert "~~" in tok._pretoken_cache

    monkeypatch.setattr(bpe, "_PRETOKEN_KEY_BYTES", len(big))
    unbounded = bpe.BpeTokenizer()
    assert unbounded.encode(big, add_specials=False) == ids
    assert big in unbounded._pretoken_cache
