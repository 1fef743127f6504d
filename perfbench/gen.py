"""Seeded input generation: the corpus parquet and the request dicts.

Everything here is a pure function of the seed and the sizes, so the same
seed always yields byte-identical inputs. The program under test only ever
sees the parquet file and the request dicts built here.
"""

from __future__ import annotations

import numpy as np

LANGS = ("en", "de", "fr", "es", "it", "nl", "pt", "sv")
DIM = 64
SHAPES = ("text", "vector", "filter_vector", "text_vector", "filter_text", "tree")
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def term(i: int) -> str:
    """Vocabulary word ``i``: ``k`` + base-26 letters. The ``k`` prefix keeps
    every word out of the analyser's stopword list, and letters only keep
    each word one token."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = _LETTERS[r] + s
    return "k" + s


class Corpus:
    """``rows`` generated points: Zipf token soup over ``vocab`` terms
    (~``doc_len`` tokens a doc), 8 languages, ``n`` in 0..999 and a
    ``DIM``-d clustered euclidean vector. Many more clusters than IVF cells
    keep the cells' sizes, and so the read cost, alike from seed to seed."""

    def __init__(self, seed: int, rows: int, vocab: int = 50_000,
                 doc_len: int = 24, clusters: int = 1024, zipf_a: float = 1.1):
        self.seed = int(seed)
        self.rows = int(rows)
        self.vocab = int(vocab)
        self.doc_len = int(doc_len)
        rng = np.random.default_rng([self.seed, 1])
        self.words = [term(i) for i in range(self.vocab)]
        self.centers = rng.normal(0.0, 1.0, size=(clusters, DIM)).astype(np.float32)
        # bounded Zipf over the vocabulary: term rank r drawn with
        # probability ~ r^-a, so head terms carry long posting lists and
        # tail terms short ones
        w = 1.0 / np.arange(1, self.vocab + 1) ** zipf_a
        self.term_p = w / w.sum()
        lens = rng.integers(doc_len // 2, doc_len * 3 // 2 + 1, size=self.rows)
        toks = rng.choice(self.vocab, size=int(lens.sum()), p=self.term_p)
        cuts = np.cumsum(lens)[:-1]
        self.doc_terms = np.split(toks, cuts)
        self.lang = rng.integers(0, len(LANGS), size=self.rows)
        self.n = rng.integers(0, 1000, size=self.rows)
        assign = rng.integers(0, clusters, size=self.rows)
        noise = rng.normal(0.0, 0.35, size=(self.rows, DIM)).astype(np.float32)
        self.vectors = self.centers[assign] + noise
        self.ids = np.array([f"p{i:07d}" for i in range(self.rows)])

    def body(self, i: int) -> str:
        return " ".join(self.words[t] for t in self.doc_terms[i])

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table({
            "_id": pa.array(self.ids.tolist(), pa.string()),
            "body": pa.array([self.body(i) for i in range(self.rows)], pa.string()),
            "lang": pa.array([LANGS[k] for k in self.lang], pa.string()),
            "n": pa.array(self.n.astype(np.int64)),
            "v": pa.array(self.vectors.astype(np.float64).tolist(),
                          pa.list_(pa.float64())),
        })
        pq.write_table(table, path)


def index_schema(search_size: int = 75, degree_bound: int = 32) -> dict:
    return {
        "body": {"type": "text", "text": {"analyser": "standard"}},
        "lang": {"type": "string", "string": {"caseSensitive": True}},
        "n": {"type": "integer", "integer": {}},
        "v": {"type": "vectorVamana", "vectorVamana": {
            "vectorSize": DIM, "distanceMetric": "euclidean",
            "searchSize": search_size, "degreeBound": degree_bound,
            "alpha": 1.2}},
    }


class Requests:
    """Unique requests in the six serving shapes, in equal shares and a
    seeded order. Each request draws fresh query terms — alternately from
    the head and the tail of the Zipf vocabulary, so posting list lengths
    vary — a fresh query vector near a random cluster, and a fresh filter
    range whose width varies from narrow to most of the domain."""

    def __init__(self, corpus: Corpus, stream: int):
        self.c = corpus
        self.rng = np.random.default_rng([corpus.seed, 2, int(stream)])
        self.count = 0

    def _terms(self) -> str:
        k = int(self.rng.integers(1, 3))
        if self.rng.random() < 0.5:  # head: the 500 most frequent terms
            picks = self.rng.integers(0, min(500, self.c.vocab), size=k)
        else:  # body and tail, weighted to match the corpus
            picks = self.rng.choice(self.c.vocab, size=k, p=self.c.term_p)
            picks = np.maximum(picks, self.rng.integers(500, self.c.vocab, size=k))
        return " ".join(self.c.words[int(t)] for t in picks)

    def vector(self) -> list[float]:
        center = self.c.centers[int(self.rng.integers(0, len(self.c.centers)))]
        q = center + self.rng.normal(0.0, 0.35, size=DIM).astype(np.float32)
        return [float(x) for x in q]

    def _range(self) -> dict:
        width = int(self.rng.choice((20, 100, 300, 700)))
        lo = int(self.rng.integers(0, 1000 - width))
        return {"property": "n", "integer": {
            "operator": "inRange", "value": lo, "endValue": lo + width}}

    def _lang(self) -> dict:
        return {"property": "lang", "string": {
            "operator": "equals", "value": LANGS[int(self.rng.integers(0, len(LANGS)))]}}

    def _text(self, weight: float | None = None) -> dict:
        leg = {"operator": "containsAny", "value": self._terms(), "limit": 10}
        if weight is not None:
            leg["weight"] = weight
        return {"property": "body", "text": leg}

    def _vec(self, weight: float | None = None, vector=None) -> dict:
        leg = {"vector": self.vector() if vector is None else vector, "limit": 10}
        if weight is not None:
            leg["weight"] = weight
        return {"property": "v", "vectorVamana": leg}

    def make(self, shape: str) -> dict:
        if shape == "text":
            q = self._text()
        elif shape == "vector":
            q = self._vec()
        elif shape == "filter_vector":
            q = {"property": "_and", "_and": [self._range(), self._vec()]}
        elif shape == "text_vector":
            w = round(float(self.rng.uniform(0.2, 0.8)), 3)
            q = {"property": "_or", "_or": [self._text(w), self._vec(1.0 - w)]}
        elif shape == "filter_text":
            q = {"property": "_and", "_and": [self._range(), self._text()]}
        elif shape == "tree":
            q = {"property": "_and", "_and": [
                self._lang(),
                {"property": "_or", "_or": [self._text(0.5), self._vec(0.5)]},
            ]}
        else:
            raise ValueError(f"unknown shape {shape}")
        self.count += 1
        return {"query": q, "limit": 10}

    def mixed(self, count: int) -> list[tuple[str, dict]]:
        """``count`` requests in rounds of six: each round holds every shape
        once, in a shuffled order. Any whole number of rounds therefore has
        the shapes in exactly equal shares; with a free shuffle the share of
        each shape drifts from run to run, and so does the median of the
        multi-modal latency mix."""
        out = []
        while len(out) < count:
            order = list(SHAPES)
            self.rng.shuffle(order)
            out.extend((s, self.make(s)) for s in order)
        return out[:count]


def exact_top10(vectors: np.ndarray, ids: np.ndarray, q) -> list[str]:
    """NumPy exact euclidean top-10 ids (ties by id), the recall truth."""
    d = ((vectors - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1)
    part = np.argpartition(d, 10)[:10]
    order = sorted(part, key=lambda i: (float(d[i]), ids[i]))
    return [str(ids[i]) for i in order]
