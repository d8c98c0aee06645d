"""The batched HashingEmbedder kernel (each distinct token hashed once per
batch, one ``bincount`` for the count matrix) must return exactly the
bytes of the plain per-row loop it replaced: same tokenizer, same md5
bucket, same float64 normalization, same float32 cast."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest

from emails_to_vector_db_spark.pipeline.embedder import _hash_embed_batch


def _per_row_oracle(texts: pd.Series, dim: int) -> pd.Series:
    out = []
    for t in texts:
        vec = np.zeros(dim, dtype=np.float64)
        if t:
            for tok in t.split():
                h = int.from_bytes(
                    hashlib.md5(tok.encode()).digest()[:8], "big"
                )
                vec[h % dim] += 1.0
        n = math.sqrt(float(vec @ vec))
        if n > 0:
            vec /= n
        out.append(vec.astype(np.float32))
    return pd.Series(out)


_RNG = np.random.default_rng(7)
_WORDS = [f"w{i}" for i in range(300)]

TEXTS = [
    None,
    "",
    "   ",
    "\t\n \r\n",
    "alpha",
    "alpha alpha alpha beta",  # repeated tokens
    "beta gamma alpha",  # tokens shared with earlier rows
    "tab\tsep\nnewline\rcr",
    # str.split() separators that regex \s does not treat alike
    "file\x1csep\x1dgroup\x1erecord\x1funit",
    "em\u2003space\xa0nbsp\u2028line\u3000ideo",
    "zero\u200bwidth stays one token",  # not a separator
    "unicode na\xefve caf\xe9 \u6771\u4eac \U0001f600",
    " ".join(_RNG.choice(_WORDS, 20_000)),  # one very long document
    *(" ".join(_RNG.choice(_WORDS, int(k))) for k in _RNG.integers(0, 40, 50)),
]


@pytest.mark.parametrize("dim", [16, 64])
def test_batched_kernel_is_bit_identical_to_per_row_loop(dim):
    texts = pd.Series(TEXTS, dtype=object)
    got = _hash_embed_batch(texts, dim)
    want = _per_row_oracle(texts, dim)
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g.dtype == np.float32 and g.shape == (dim,), i
        assert g.tobytes() == w.tobytes(), f"row {i}: {TEXTS[i]!r:.60}"


@pytest.mark.parametrize("dim", [16, 64])
def test_batched_kernel_row_independent_of_batch(dim):
    """A row's vector does not depend on what else is in its batch."""
    texts = pd.Series(TEXTS, dtype=object)
    whole = _hash_embed_batch(texts, dim)
    for i in range(len(TEXTS)):
        one = texts.iloc[i : i + 1].reset_index(drop=True)
        alone = _hash_embed_batch(one, dim)
        assert alone[0].tobytes() == whole[i].tobytes()


def test_empty_batch():
    assert len(_hash_embed_batch(pd.Series([], dtype=object), 64)) == 0
