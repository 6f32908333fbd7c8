"""M7 trainer: train on the extracted-span corpus, round-trip with the
trained tokenizer, confirm compression beats the byte baseline."""

import tempfile

from latex_ocr_spark.datagen.transcripts import gen_transcripts
from latex_ocr_spark.textkernel.bpe import BpeTokenizer
from latex_ocr_spark.textkernel.bpe_train import save_tokenizer, train_bpe
from latex_ocr_spark.textkernel.pipeline import extract_turn


def corpus():
    out = []
    for row in gen_transcripts(60):
        out.extend(s.latex_norm for s in extract_turn(row[3]))
    return out


def test_train_roundtrip_and_compression():
    texts = corpus()
    spec = train_bpe(texts, vocab_size=600, min_frequency=2)
    assert spec["model"]["vocab"]["[PAD]"] == 0
    assert len(spec["model"]["merges"]) > 50

    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        save_tokenizer(spec, f.name)
        tk = BpeTokenizer(f.name)

    total_ids, total_bytes = 0, 0
    for t in texts:
        ids = tk.encode(t, add_specials=False)
        assert tk.decode(ids) == t
        total_ids += len(ids)
        total_bytes += len(t.encode("utf-8"))
    assert total_ids < 0.6 * total_bytes  # merges actually compress


def test_training_is_deterministic():
    texts = corpus()[:200]
    a = train_bpe(texts, vocab_size=300)
    b = train_bpe(texts, vocab_size=300)
    assert a["model"]["merges"] == b["model"]["merges"]
    assert a["model"]["vocab"] == b["model"]["vocab"]
