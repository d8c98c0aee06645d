"""Seeded inputs for every workload.

The same seed gives byte-identical inputs; each generator reports a
SHA-256 digest over everything it made, so two runs can show that.

Corpus shape: a Zipf(s=1.1) vocabulary of 50,000 word types and a
70/25/5 mix of short, medium and long documents. Word types are ``v``
followed by hex digits, so no word contains one of the intent keywords
and a turn's intent is fixed by the keywords the generator puts in it.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

VOCAB = 50_000
ZIPF_S = 1.1
DIM = 64
# (share, min tokens, max tokens) for short, medium and long documents
DOC_LENGTHS = ((0.70, 8, 24), (0.25, 60, 160), (0.05, 400, 900))
ADVICE_WORDS = ("advice", "recommend", "suggest", "best", "should", "help")
PRODUCT_WORDS = ("price", "buy", "product", "color", "category", "image", "cost")
# rag_serve turn mix: retrieval-only, retrieval+advice, advice-only
TURN_MIX = (("product_search", 0.60), ("mixed", 0.25), ("niche_advice", 0.15))

RAG_DOCS = 20_000
RAG_TURNS = 3_000  # more than any run sends
INGEST_BATCH = 5_000
INGEST_RESEND = 0.20
INGEST_DELETE = 0.01
INGEST_COMPACT_EVERY = 3
INGEST_PROBES = 4

_WORKLOAD_STREAM = {"rag_serve": 1, "ingest_append": 2, "curation_batch": 3}

WORDS = np.array([f"v{r:x}" for r in range(1, VOCAB + 1)], dtype=object)
_P = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
_P /= _P.sum()


def _md5_bucket(word: str) -> int:
    return int.from_bytes(hashlib.md5(word.encode()).digest()[:8], "big") % DIM


WORD_BUCKET = np.array([_md5_bucket(w) for w in WORDS], dtype=np.int64)


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, _WORKLOAD_STREAM[workload]])


class _Digest:
    def __init__(self):
        self._h = hashlib.sha256()

    def add(self, *parts) -> None:
        for p in parts:
            if isinstance(p, np.ndarray):
                self._h.update(np.ascontiguousarray(p).tobytes())
            elif isinstance(p, str):
                self._h.update(p.encode())
            else:
                self._h.update("\x00".join(map(str, p)).encode())
            self._h.update(b"\x1f")

    def hexdigest(self) -> str:
        return self._h.hexdigest()


@dataclass
class Corpus:
    ids: np.ndarray  # int64
    texts: list[str]
    embeddings: np.ndarray  # float32 (n, DIM): the HashingEmbedder contract


def make_corpus(rng: np.random.Generator, ids: np.ndarray) -> Corpus:
    n = len(ids)
    cls = rng.choice(len(DOC_LENGTHS), size=n, p=[c[0] for c in DOC_LENGTHS])
    lo = np.array([c[1] for c in DOC_LENGTHS])[cls]
    hi = np.array([c[2] for c in DOC_LENGTHS])[cls]
    lengths = rng.integers(lo, hi + 1)
    toks = rng.choice(VOCAB, size=int(lengths.sum()), p=_P)
    offs = np.concatenate([[0], np.cumsum(lengths)])
    words = WORDS[toks]
    texts = [" ".join(words[offs[i] : offs[i + 1]]) for i in range(n)]
    doc_of_tok = np.repeat(np.arange(n), lengths)
    counts = np.bincount(
        doc_of_tok * DIM + WORD_BUCKET[toks], minlength=n * DIM
    ).astype(np.float64).reshape(n, DIM)
    return Corpus(ids=ids.astype(np.int64), texts=texts, embeddings=_normalize(counts))


def _normalize(counts: np.ndarray) -> np.ndarray:
    # row by row with the same operations as the embedder (v @ v, sqrt,
    # divide, cast), so the reference vectors match it bit for bit
    out = np.empty(counts.shape, dtype=np.float32)
    for i, v in enumerate(counts):
        norm = float(np.sqrt(float(v @ v)))
        out[i] = (v / norm if norm > 0 else v).astype(np.float32)
    return out


def embed_text(text: str) -> np.ndarray:
    """Reference hashed bag-of-words embedding of one text (float32)."""
    counts = np.zeros((1, DIM), dtype=np.float64)
    for tok in text.split():
        counts[0, _md5_bucket(tok)] += 1.0
    return _normalize(counts)[0]


def _query_text(rng: np.random.Generator, intent: str) -> str:
    words = list(WORDS[rng.choice(VOCAB, size=int(rng.integers(3, 9)), p=_P)])
    if intent in ("product_search", "mixed"):
        words.insert(0, PRODUCT_WORDS[rng.integers(len(PRODUCT_WORDS))])
    if intent in ("niche_advice", "mixed"):
        words.insert(0, ADVICE_WORDS[rng.integers(len(ADVICE_WORDS))])
    return " ".join(words)


@dataclass
class RagInputs:
    corpus: Corpus
    turns: list[tuple[str, str]]  # (query text, expected intent)
    digest: str


def rag_inputs(seed: int) -> RagInputs:
    rng = rng_for("rag_serve", seed)
    corpus = make_corpus(rng, np.arange(1, RAG_DOCS + 1))
    intents = rng.choice(len(TURN_MIX), size=RAG_TURNS, p=[m[1] for m in TURN_MIX])
    turns = [(_query_text(rng, TURN_MIX[i][0]), TURN_MIX[i][0]) for i in intents]
    d = _Digest()
    d.add(corpus.ids, corpus.texts, corpus.embeddings, [t for t, _ in turns])
    return RagInputs(corpus, turns, d.hexdigest())


@dataclass
class IngestStep:
    batch: Corpus  # ids and texts sent to embed_and_store
    expected_written: int
    deletes: list[int]  # tombstoned after the append (empty on most steps)
    compact: bool
    probes: list[np.ndarray]


@dataclass
class IngestInputs:
    steps: list[IngestStep]
    live_after: list[np.ndarray]  # live ids after each step's delete
    texts: dict[int, str]  # every id ever sent
    embeddings: np.ndarray  # reference vectors, row = id
    digest: str


def ingest_inputs(seed: int, n_steps: int) -> IngestInputs:
    """Batches of INGEST_BATCH docs; INGEST_RESEND of each batch after the
    first re-sends ids (with their original text) sent by earlier batches.
    Every INGEST_COMPACT_EVERY-th step deletes INGEST_DELETE of the live
    ids after its append and compacts after its probes. ``live_after[i]``
    is the id set the store must hold after step i's delete."""
    rng = rng_for("ingest_append", seed)
    sent: dict[int, tuple[str, np.ndarray]] = {}
    live: set[int] = set()
    next_id = 1
    steps, lives = [], []
    d = _Digest()
    for i in range(n_steps):
        n_resend = int(round(INGEST_BATCH * INGEST_RESEND)) if sent else 0
        fresh = make_corpus(
            rng, np.arange(next_id, next_id + INGEST_BATCH - n_resend)
        )
        next_id += INGEST_BATCH - n_resend
        old = sorted(sent)
        resend = rng.choice(old, size=n_resend, replace=False) if n_resend else []
        ids = np.concatenate([fresh.ids, np.asarray(resend, dtype=np.int64)])
        texts = fresh.texts + [sent[int(r)][0] for r in resend]
        emb = np.concatenate(
            [fresh.embeddings]
            + ([np.stack([sent[int(r)][1] for r in resend])] if n_resend else [])
        )
        order = rng.permutation(len(ids))
        batch = Corpus(ids[order], [texts[j] for j in order], emb[order])
        for j, t, e in zip(fresh.ids, fresh.texts, fresh.embeddings):
            sent[int(j)] = (t, e)
        written = sum(1 for j in batch.ids if int(j) not in live)
        live.update(int(j) for j in batch.ids)
        compact = (i + 1) % INGEST_COMPACT_EVERY == 0
        deletes: list[int] = []
        if compact:
            pool = sorted(live)
            k = max(1, int(round(len(pool) * INGEST_DELETE)))
            deletes = sorted(int(j) for j in rng.choice(pool, size=k, replace=False))
            live.difference_update(deletes)
        probes = [
            embed_text(_query_text(rng, "product_search"))
            for _ in range(INGEST_PROBES)
        ]
        steps.append(IngestStep(batch, written, deletes, compact, probes))
        lives.append(np.array(sorted(live), dtype=np.int64))
        d.add(batch.ids, batch.texts, np.array(deletes, dtype=np.int64), *probes)
    table = np.zeros((next_id, DIM), dtype=np.float32)
    for j, (_, e) in sent.items():
        table[j] = e
    texts = {j: t for j, (t, _) in sent.items()}
    return IngestInputs(steps, lives, texts, table, d.hexdigest())


def curation_order(seed: int, names: list[str], passes: int) -> tuple[list[list[str]], str]:
    rng = rng_for("curation_batch", seed)
    orders = [[names[j] for j in rng.permutation(len(names))] for _ in range(passes)]
    d = _Digest()
    for o in orders:
        d.add(o)
    return orders, d.hexdigest()
