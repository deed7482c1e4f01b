"""Seeded input generators. The program under test only ever sees what
these produce: the documents and embeddings ``corpus`` writes as parquet,
and the event rows ``cep_stream`` publishes as files. Same seed, same
inputs."""

from __future__ import annotations

import numpy as np

EVENT_TYPES = ("signup", "view", "purchase", "click")
#: share of each event type on the live stream
EVENT_WEIGHTS = (0.15, 0.45, 0.15, 0.25)
#: Zipf exponent of the live stream's user keys
ZIPF_S = 1.1

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per input kind, so adding rows to one kind
    leaves the others unchanged."""
    return np.random.default_rng([int(seed), int(stream)])


# -- live event stream (cep_stream) -------------------------------------

class EventSource:
    """Deterministic event payloads: user keys Zipf-skewed over ``users``
    (ranks shuffled by the seed, so the hot keys differ per seed), event
    types by EVENT_WEIGHTS, values exponential. Timestamps are not part of
    the payload: the writer stamps each event when it is due."""

    def __init__(self, seed: int, users: int = 5000):
        self._rng = _rng(seed, 1)
        ranks = np.arange(1, users + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self._p = p / p.sum()
        self._ids = self._rng.permutation(users)
        self._next_id = 0

    def take(self, n: int) -> list[dict]:
        r = self._rng
        users = self._ids[r.choice(len(self._p), size=n, p=self._p)]
        kinds = r.choice(len(EVENT_TYPES), size=n, p=EVENT_WEIGHTS)
        values = np.round(r.exponential(50.0, size=n), 2)
        out = []
        for u, k, v in zip(users.tolist(), kinds.tolist(), values.tolist()):
            out.append({"event_id": self._next_id, "user_id": f"u{u}",
                        "event_type": EVENT_TYPES[k], "value": v})
            self._next_id += 1
        return out


# -- document corpus (corpus) -------------------------------------------

#: doc_id offset between replicas of the same base document
REPLICA_STRIDE = 10_000_000


def base_documents(seed: int, n: int) -> dict[str, list]:
    """n documents over a 30-word vocabulary; 5% are a copy of an earlier
    document with one word appended (near duplicates)."""
    r = _rng(seed, 3)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            k = int(r.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in r.integers(0, len(_WORDS), k)))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": r.choice(_LANGS, n, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def base_embeddings(seed: int, n: int, dim: int = 64) -> np.ndarray:
    """n random unit vectors (float32)."""
    r = _rng(seed, 4)
    v = r.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def corpus_epochs(seed: int, n_base: int, replicas: int, epochs: int) -> list[list[int]]:
    """Every replica of every base document, as doc ids, dealt to epochs
    at random. Replica r of base document b has doc id b + r*REPLICA_STRIDE
    and the same text, so a replica dealt to a later epoch than another is
    an exact duplicate of it."""
    r = _rng(seed, 5)
    ids = np.array([b + k * REPLICA_STRIDE for k in range(replicas) for b in range(n_base)])
    which = r.integers(0, epochs, len(ids))
    return [sorted(ids[which == e].tolist()) for e in range(epochs)]


def search_terms(seed: int, n_searches: int, terms_per_query: int = 3) -> list[list[str]]:
    """Keyword sets for the BM25-store searches."""
    r = _rng(seed, 6)
    return [[_WORDS[j] for j in r.choice(len(_WORDS), terms_per_query, replace=False)]
            for _ in range(n_searches)]
