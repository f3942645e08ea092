"""Seeded input generators for the benchmark's three workloads.

Everything here is pure numpy/Python: the same seed gives byte-identical
inputs, and :func:`digest` folds them into one hex string that every
result records, so two results can be shown to have measured the same
inputs.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

DIM = 64
N_CENTRES = 64
N_LABELS = 8
WORDS_PER_TOPIC = 24
# the facade's default embedder (functions.embedding.hashed_embedding_udf)
EMBED_SEED = 42

STOPWORDS = (
    "the of and to a in is that for it as with was on be by at this are "
    "from or an which but not have has had were they their its"
).split()


def digest(*parts) -> str:
    """Short sha256 over the repr/bytes of generated inputs."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]


def hashed_embedding(text: str, dim: int = DIM, seed: int = EMBED_SEED) -> np.ndarray:
    """numpy twin of the facade's default embedder, used by the answer
    model to know the embedding of a chunk added as text only. Returns
    float32, the stored column type."""
    d = hashlib.sha256(f"{seed}:{text}".encode()).digest()
    v = np.random.default_rng(int.from_bytes(d[:8], "little")).standard_normal(dim)
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32)


# ---------------------------------------------------------------- chunks


@dataclass
class Corpus:
    """Chunk corpus: ids, unit float32 embeddings around seeded cluster
    centres, short topic text, and a `label` metadata value."""

    ids: list[str]
    emb: np.ndarray  # (n, DIM) float32
    text: list[str]
    label: list[str]
    doc_of: list[str]
    doc_ids: list[str]
    centres: np.ndarray
    topics: list[list[str]]

    def digest(self) -> str:
        return digest(self.ids, self.emb, self.text, self.label, self.doc_of)


def _unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def make_corpus(seed: int, n: int, chunks_per_doc: int = 50) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    centres = _unit_rows(rng.standard_normal((N_CENTRES, DIM)))
    topics = [
        [f"t{c}w{j}" for j in range(WORDS_PER_TOPIC)] for c in range(N_CENTRES)
    ]
    cl = rng.integers(0, N_CENTRES, n)
    emb = _unit_rows(centres[cl] + 0.35 * rng.standard_normal((n, DIM)))
    word_pick = rng.integers(0, WORDS_PER_TOPIC, (n, 6))
    stop_pick = rng.integers(0, len(STOPWORDS), (n, 3))
    text = [
        " ".join(
            [topics[c][w] for w in word_pick[i]]
            + [STOPWORDS[s] for s in stop_pick[i]]
        )
        for i, c in enumerate(cl)
    ]
    n_docs = max(1, -(-n // chunks_per_doc))
    doc_ids = [f"d{seed}-{j:06d}" for j in range(n_docs)]
    return Corpus(
        ids=[f"c{seed}-{i:07d}" for i in range(n)],
        emb=emb.astype(np.float32),
        text=text,
        label=[f"l{c % N_LABELS}" for c in cl],
        doc_of=[doc_ids[i // chunks_per_doc] for i in range(n)],
        doc_ids=doc_ids,
        centres=centres,
        topics=topics,
    )


def make_queries(corpus: Corpus, seed: int, n: int):
    """(vectors float64 (n, DIM), text, label) drawn like the corpus."""
    rng = np.random.default_rng([seed, 2])
    cl = rng.integers(0, N_CENTRES, n)
    vecs = _unit_rows(corpus.centres[cl] + 0.35 * rng.standard_normal((n, DIM)))
    words = rng.integers(0, WORDS_PER_TOPIC, (n, 3))
    text = [" ".join(corpus.topics[c][w] for w in words[i]) for i, c in enumerate(cl)]
    return vecs, text, [f"l{c % N_LABELS}" for c in cl]


# ---------------------------------------------------------------- churn


@dataclass
class Cycle:
    """One ingest_churn cycle: rows added as text only, (id, new text)
    content updates, and ids deleted."""

    adds: list[tuple[str, str, str, str]]  # (id, text, label, doc_id)
    updates: list[tuple[str, str]]
    deletes: list[str]
    query: np.ndarray  # the cycle's first-after-write search


def make_churn(
    corpus: Corpus, seed: int, n_cycles: int, n_add: int, n_update: int,
    n_delete: int,
) -> list[Cycle]:
    """The operation stream. Updates and deletes name ids live at that
    point of the stream, so no operation is refused."""
    rng = np.random.default_rng([seed, 3])
    live = list(corpus.ids)
    out = []
    next_id = 0
    for c in range(n_cycles):
        adds = []
        for _ in range(n_add):
            t = int(rng.integers(0, N_CENTRES))
            words = rng.integers(0, WORDS_PER_TOPIC, 6)
            adds.append(
                (
                    f"a{seed}-{next_id:07d}",
                    " ".join(corpus.topics[t][w] for w in words) + f" new{next_id}",
                    f"l{t % N_LABELS}",
                    corpus.doc_ids[int(rng.integers(0, len(corpus.doc_ids)))],
                )
            )
            next_id += 1
        live.extend(a[0] for a in adds)
        pick = rng.choice(len(live), n_update + n_delete, replace=False)
        upd = [
            (live[i], f"revised c{c} {live[i]} " + " ".join(
                corpus.topics[int(rng.integers(0, N_CENTRES))][:4]))
            for i in pick[:n_update]
        ]
        dels = [live[i] for i in pick[n_update:]]
        dead = set(dels)
        live = [x for x in live if x not in dead]
        q = _unit_rows(
            corpus.centres[rng.integers(0, N_CENTRES, 1)]
            + 0.35 * rng.standard_normal((1, DIM))
        )[0]
        out.append(Cycle(adds, upd, dels, q))
    return out


# ---------------------------------------------------------------- documents


@dataclass
class Docs:
    """Curation corpus with planted duplicate families."""

    ids: list[str]
    text: list[str]
    lang: list[str]
    source: list[str]
    dup_of: dict[str, str]  # planted duplicate id -> its base document id
    exact: set[str]  # planted ids that are exact copies

    def digest(self) -> str:
        return digest(self.ids, self.text, self.lang, self.source, sorted(self.dup_of.items()))


LANGS = ("en", "de", "fr")
SOURCES = ("web", "books", "code", "news")


# the stopwords the engine's quality score counts, and a few it does not
DOC_STOPWORDS = ("the", "a", "of", "and", "is", "in", "to", "it", "that", "for", "with", "as", "on")


def make_docs(seed: int, n: int, vocab: int = 5000, dup_frac: float = 0.2) -> Docs:
    """`n` documents of 40-120 tokens from a Zipf vocabulary, with
    15-35% of the tokens replaced by stopwords (so the quality filter
    keeps about 80%); `dup_frac` of them are planted copies of a base
    document, half exact and half with one token replaced."""
    rng = np.random.default_rng([seed, 4])
    words = np.array([f"w{i}" for i in range(vocab)])
    ranks = np.arange(1, vocab + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    n_dup = int(n * dup_frac)
    n_base = n - n_dup
    lengths = rng.integers(40, 121, n_base)
    stop_rate = rng.uniform(0.15, 0.35, n_base)
    texts = []
    for ln, rate in zip(lengths, stop_rate):
        toks = words[rng.choice(vocab, ln, p=p)].tolist()
        for pos in rng.integers(0, ln, int(ln * rate)):
            toks[pos] = DOC_STOPWORDS[int(rng.integers(0, len(DOC_STOPWORDS)))]
        texts.append(toks)
    ids = [f"doc{seed}-{i:07d}" for i in range(n)]
    out_text = [" ".join(t) for t in texts]
    dup_of, exact = {}, set()
    bases = rng.choice(n_base, n_dup, replace=False)
    for j, b in enumerate(bases):
        i = n_base + j
        toks = list(texts[b])
        if j % 2:
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = f"edit{seed}x{j}"
        else:
            exact.add(ids[i])
        out_text.append(" ".join(toks))
        dup_of[ids[i]] = ids[b]
    # shuffle so planted copies are not a contiguous id range
    order = rng.permutation(n)
    ids_s = [ids[i] for i in order]
    text_s = [out_text[i] for i in order]
    lang = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)]
    source = [SOURCES[int(x)] for x in rng.integers(0, len(SOURCES), n)]
    return Docs(ids_s, text_s, lang, source, dup_of, exact)
