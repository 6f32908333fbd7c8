"""Seeded input generators for the three workloads.

Every input is a pure function of ``(seed, pass_idx)``: the same pair
always gives the same rows, and two pairs never share conversation ids
or vocabulary, so a timed pass can never be served from a per-worker
memo filled by an earlier pass.

- transcripts: conversations ``offset .. offset + n`` built with
  ``datagen.transcripts.make_turn`` (skewed lengths with 200-turn
  whales; 10 math / 3 macro / 4 html / 3 plain turns per 20).
- documents: random word documents over a vocabulary salted per input,
  with planted exact copies, near copies and quality-gate failures.
- stream backlog: small parquet files of documents in arrival order,
  some of which near-duplicate a document of an earlier file or of
  their own file.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer the a matrix sum limit proof lemma basis "
    "kernel field ring norm space map"
).split()


#: pass indices an input can take (warm-up, timed, traced and probe passes)
PASS_SLOTS = 1009
#: seeds are hashed into this many input families
SEED_SLOTS = 10**6


def input_salt(seed: int, pass_idx: int) -> int:
    """The salt of the input of ``(seed, pass_idx)``.  Any seed is hashed
    into ``SEED_SLOTS`` families offset by ``SEED_SLOTS``, so every salt
    has the same number of digits: the ids, conversation numbers and
    vocabulary tags derived from it then have the same width (and the
    same per-row work) whatever the seed's size, and doc ids stay within
    int64."""
    if seed < 0 or not 0 <= pass_idx < PASS_SLOTS:
        raise ValueError(f"seed must be non-negative, pass index in [0, {PASS_SLOTS})")
    h = hashlib.blake2b(str(seed).encode(), digest_size=8).digest()
    family = SEED_SLOTS + int.from_bytes(h, "little") % SEED_SLOTS
    return family * PASS_SLOTS + pass_idx


# ---------------------------------------------------------------- transcripts


def conv_offset(seed: int, pass_idx: int, n_convs: int) -> int:
    return input_salt(seed, pass_idx) * max(n_convs, 1)


def write_transcripts(path: str, seed: int, pass_idx: int, n_convs: int,
                      files: int) -> int:
    """Write the pass's transcripts table as ``files`` parquet files in
    the engine's input schema; returns its turn count."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from latex_ocr_spark.datagen.transcripts import conv_length, make_turn
    from latex_ocr_spark.sources.tables import TRANSCRIPTS_SCHEMA

    schema = to_arrow_schema(TRANSCRIPTS_SCHEMA)
    start = conv_offset(seed, pass_idx, n_convs)
    os.makedirs(path, exist_ok=True)
    step = -(-n_convs // files)
    turns = 0
    for f in range(files):
        convs = range(start + f * step, start + min((f + 1) * step, n_convs))
        rows = [make_turn(c, t) for c in convs for t in range(conv_length(c))]
        turns += len(rows)
        cols = list(zip(*rows))
        pq.write_table(
            pa.table([pa.array(c, type=fld.type) for c, fld in zip(cols, schema)],
                     schema=schema),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )
    return turns


def sample_convs(seed: int, pass_idx: int, n_convs: int, k: int) -> list:
    """``k`` seeded conversation numbers of the pass's input."""
    start = conv_offset(seed, pass_idx, n_convs)
    rng = random.Random(input_salt(seed, pass_idx) * 7 + 1)
    return sorted(start + i for i in rng.sample(range(n_convs), min(k, n_convs)))


# ------------------------------------------------------------------ documents


def _vocab(rng: random.Random, salt: int, size: int) -> list:
    tag = format(salt, "x")
    return [f"{rng.choice(_WORDS)}{i}q{tag}" for i in range(size)]


def _doc(rng: random.Random, vocab: list, lo: int = 20, hi: int = 80) -> list:
    # a heavy head and a long tail, like real word frequencies.  The
    # head is spread over ~50 ranks (the top word is ~1% of draws): with
    # one word at ~27%, its 3-gram sat in most documents, and whether
    # that shingle's MinHash came out small depended on the salt, so the
    # LSH candidate count (and the pass wall) varied ~10x across seeds
    n = rng.randint(lo, hi)
    top = len(vocab) - 1
    return [vocab[min(int((rng.paretovariate(1.1) - 1) * 50), top)] if rng.random() < 0.5
            else vocab[rng.randint(0, top)] for _ in range(n)]


@dataclass
class Corpus:
    """A documents table with its planted structure."""

    ids: list
    texts: list
    bad: int = 0          # docs below the quality gate
    exact: int = 0        # byte-identical copies of a base doc
    near: int = 0         # base doc plus one appended word

    def table(self) -> pa.Table:
        return pa.table({"doc_id": pa.array(self.ids, pa.int64()),
                         "text": pa.array(self.texts, pa.string())})


def _near_pair(rng: random.Random, vocab: list) -> tuple:
    """A base document and its near copy.  The base ends with its own
    first two words, and the copy appends the base's third word, so the
    copy's one new 3-gram already occurs in the base: the two texts
    differ (exact dedup keeps both) but have the same shingle set and
    hence the same MinHash signature, which LSH cannot miss.  (A copy
    that adds a new shingle to a 20-word doc has Jaccard 18/19, which
    the default 8 hashes in 4 bands of 2 miss with probability ~1e-4.)"""
    words = _doc(rng, vocab)
    words[-2:] = words[:2]
    base = " ".join(words)
    return base, f"{base} {words[2]}"


def make_corpus(seed: int, pass_idx: int, n_base: int, exact_frac: float = 0.05,
                near_frac: float = 0.05, bad_frac: float = 0.01) -> Corpus:
    """``n_base`` distinct documents plus planted copies.  Each planted
    copy derives from a different base document, so every duplicate
    family has exactly two members and the funnel's expected drop
    counts are exact: quality gates drop ``bad``, exact dedup drops
    ``exact``, near-dup clustering drops ``near`` (see
    :func:`_near_pair`)."""
    salt = input_salt(seed, pass_idx)
    rng = random.Random(salt)
    vocab = _vocab(rng, salt, 20_000)
    base_id = salt * 10_000_000
    n_exact = int(n_base * exact_frac)
    chosen = rng.sample(range(n_base), n_exact + int(n_base * near_frac))
    near = {b: _near_pair(rng, vocab) for b in chosen[n_exact:]}
    texts = [near[i][0] if i in near else " ".join(_doc(rng, vocab))
             for i in range(n_base)]
    if len(set(texts)) != len(texts):  # astronomically unlikely; keep exact
        raise RuntimeError("generator produced a repeated base document")
    ids = [base_id + i for i in range(n_base)]
    corpus = Corpus(ids=ids, texts=texts)
    next_id = base_id + n_base
    for b in chosen:
        if b in near:
            corpus.texts.append(near[b][1])
            corpus.near += 1
        else:
            corpus.texts.append(texts[b])
            corpus.exact += 1
        corpus.ids.append(next_id)
        next_id += 1
    for _ in range(int(n_base * bad_frac)):
        corpus.texts.append(" ".join(rng.sample(vocab, 2)))
        corpus.ids.append(next_id)
        corpus.bad += 1
        next_id += 1
    return corpus


def write_corpus(corpus: Corpus, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = corpus.table()
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"))


# -------------------------------------------------------------- stream backlog


@dataclass
class Backlog:
    files: list                  # per file: (ids, texts)
    copies: int = 0
    near_pairs: list = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return sum(len(ids) for ids, _ in self.files)


def make_backlog(seed: int, pass_idx: int, n_files: int, docs_per_file: int,
                 copy_frac: float = 0.1) -> Backlog:
    """Arrival-ordered files with monotonically increasing ids.  In
    each file a ``copy_frac`` share of the documents are near copies of
    a fresh document — half of an earlier file's (the history check
    must drop them), half of the same file's (the in-batch check must).
    No copy is ever copied again, so exactly one member of every pair
    is accepted."""
    salt = input_salt(seed, pass_idx)
    rng = random.Random(salt * 3 + 2)
    vocab = _vocab(rng, salt, 20_000)
    next_id = salt * 10_000_000
    fresh: list = []  # (id, text) of every earlier original
    backlog = Backlog(files=[])
    n_copy = int(docs_per_file * copy_frac)
    for f in range(n_files):
        ids, texts, own = [], [], []
        for _ in range(docs_per_file - n_copy):
            text = " ".join(_doc(rng, vocab))
            ids.append(next_id)
            texts.append(text)
            own.append((next_id, text))
            next_id += 1
        for k in range(n_copy):
            pool = fresh if (k % 2 == 0 and fresh) else own
            orig_id, orig_text = pool.pop(rng.randrange(len(pool)))
            ids.append(next_id)
            texts.append(orig_text + " " + rng.choice(vocab))
            backlog.near_pairs.append((orig_id, next_id))
            backlog.copies += 1
            next_id += 1
        fresh.extend(own)
        backlog.files.append((ids, texts))
    return backlog


def write_backlog(backlog: Backlog, path: str) -> None:
    """One parquet file per arrival, modification times one second
    apart so the file source lists them in arrival order."""
    os.makedirs(path, exist_ok=True)
    t0 = 1_700_000_000
    for f, (ids, texts) in enumerate(backlog.files):
        p = os.path.join(path, f"arrival-{f:04d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), p)
        os.utime(p, (t0 + f, t0 + f))
