"""Pure-Python byte-level BPE tokenizer (encode + decode).

Loads the corpus tokenizer fixture (resources/tokenizer.json — the
reference's trained vocab: ByteLevel BPE, 1,175 entries, specials
[PAD]=0 [BOS]=1 [EOS]=2; dataset.py:124-127 / config.yaml:10,42,43).
The ``tokenizers`` wheel is not available in this container, so the
three pieces are implemented directly:

- GPT-2 byte→unicode mapping (the printable-codepoint bijection);
- ByteLevel pre-tokenization (GPT-2 split regex; ``\\p{L}``/``\\p{N}``
  approximated with stdlib-``re`` unicode classes — exact on the ASCII
  LaTeX domain this vocab was trained on);
- greedy lowest-rank pair merging over the merges table.

``decode`` inverts the byte map and reproduces the reference's
``token2str`` semantics (utils/utils.py:94-98): spaces between tokens
dropped, ``Ġ`` → space, specials stripped.  Round-trip
``decode(encode(x)) == x`` holds for any text whose only whitespace is
single spaces (the post-normalization invariant).
"""

from __future__ import annotations

import json
import os
import re
from functools import lru_cache
from typing import Dict, Iterable, List, Tuple

DEFAULT_TOKENIZER_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "tokenizer.json",
)

PAD_ID, BOS_ID, EOS_ID = 0, 1, 2

#: the per-tokenizer pretoken memo holds at most this many entries, and
#: only pretokens of at most ``_PRETOKEN_KEY_BYTES`` UTF-8 bytes: an
#: entry is then at most ~0.75 KB (key, id tuple, dict slot), so a full
#: memo stays under ~50 MB in a long-lived worker however long the
#: inputs' whitespace or punctuation runs are.  Corpus pretokens are
#: words, numbers and short symbol runs (at most 9 bytes on the
#: benchmark corpus), so the byte limit costs no hits there.
_PRETOKEN_CACHE_CAP = 65536
_PRETOKEN_KEY_BYTES = 64

# GPT-2 pre-tokenizer pattern; \p{L}→[^\W\d_], \p{N}→\d under re.UNICODE
_PRETOK = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|[^\S\n]+(?!\S)|\s+"
)


@lru_cache(maxsize=1)
def _byte_unicode_map() -> Dict[int, str]:
    """GPT-2's bijection from bytes to printable unicode codepoints."""
    keep = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    mapped = keep[:]
    bump = 0
    for b in range(256):
        if b not in keep:
            keep.append(b)
            mapped.append(256 + bump)
            bump += 1
    return dict(zip(keep, (chr(c) for c in mapped)))


class BpeTokenizer:
    """Immutable tokenizer state; cheap to broadcast to executors."""

    def __init__(self, path: str = DEFAULT_TOKENIZER_PATH, spec: dict | None = None):
        if spec is None:
            with open(path) as f:
                spec = json.load(f)
        self.vocab: Dict[str, int] = spec["model"]["vocab"]
        self.inv_vocab: Dict[int, str] = {v: k for k, v in self.vocab.items()}
        merges = spec["model"]["merges"]
        self.ranks: Dict[Tuple[str, str], int] = {
            tuple(m.split(" ") if isinstance(m, str) else m): i
            for i, m in enumerate(merges)
        }
        self.specials = {"[PAD]": PAD_ID, "[BOS]": BOS_ID, "[EOS]": EOS_ID}
        b2u = _byte_unicode_map()
        self._b2u = b2u
        self._u2b = {u: b for b, u in b2u.items()}
        # per-instance memo (an lru_cache on the method would key on
        # self and pin dead tokenizer instances in a class-level cache)
        self._pretoken_cache: Dict[str, Tuple[int, ...]] = {}

    # -- encode ---------------------------------------------------------

    def _merge_word(self, word: Tuple[str, ...]) -> Tuple[str, ...]:
        while len(word) > 1:
            best_rank, best_idx = None, None
            for i in range(len(word) - 1):
                rank = self.ranks.get((word[i], word[i + 1]))
                if rank is not None and (best_rank is None or rank < best_rank):
                    best_rank, best_idx = rank, i
            if best_idx is None:
                break
            word = (
                word[:best_idx]
                + (word[best_idx] + word[best_idx + 1],)
                + word[best_idx + 2:]
            )
        return word

    def _encode_pretoken(self, chunk: str) -> Tuple[int, ...]:
        hit = self._pretoken_cache.get(chunk)
        if hit is not None:
            return hit
        raw = chunk.encode("utf-8")
        units = tuple(self._b2u[b] for b in raw)
        pieces = self._merge_word(units)
        # unknown pieces fall back to single-byte tokens; bytes missing
        # from the vocab are skipped (this vocab covers all LaTeX bytes)
        out: List[int] = []
        for p in pieces:
            if p in self.vocab:
                out.append(self.vocab[p])
            else:
                out.extend(self.vocab[c] for c in p if c in self.vocab)
        ids = tuple(out)
        if len(raw) <= _PRETOKEN_KEY_BYTES and len(self._pretoken_cache) < _PRETOKEN_CACHE_CAP:
            self._pretoken_cache[chunk] = ids
        return ids

    def encode(self, text: str, add_specials: bool = True) -> List[int]:
        ids: List[int] = []
        for chunk in _PRETOK.findall(text):
            ids.extend(self._encode_pretoken(chunk))
        if add_specials:
            return [BOS_ID] + ids + [EOS_ID]
        return ids

    # -- decode (token2str semantics) -------------------------------------

    def decode(self, ids: Iterable[int]) -> str:
        toks = [self.inv_vocab.get(int(i), "") for i in ids]
        joined = "".join(toks)  # == ''.join(' '.join(toks).split(' '))
        text = bytes(self._u2b[c] for c in joined if c in self._u2b).decode(
            "utf-8", errors="replace"
        )
        for s in ("[EOS]", "[BOS]", "[PAD]"):
            text = text.replace(s, "")
        return text.strip()


    def detok_tokens(self, text: str) -> List[str]:
        """BPE-token strings for BLEU scoring — the reference's
        ``detokenize`` semantics (eval.py:18-27): one string per BPE
        token, Ġ→space then strip, specials removed, empties kept."""
        out = []
        for i in self.encode(text, add_specials=False):
            tok = self.inv_vocab.get(int(i), "")
            tok = tok.replace("Ġ", " ").strip()
            if tok in ("[BOS]", "[EOS]", "[PAD]"):
                continue
            out.append(tok)
        return out


@lru_cache(maxsize=1)
def default_tokenizer() -> BpeTokenizer:
    return BpeTokenizer()
