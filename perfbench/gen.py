"""Seeded input generators. Everything the program reads is made here.

The same seed gives byte-identical inputs. Nothing under the shared
test-data directories is read: the generators here are the only source.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
DIM = 64
QUERY_ID_BASE = 10**9


def write_customer(out_dir: str, n: int, seed: int) -> str:
    """``customer`` with the only two columns ``survey_pipeline`` and its
    oracle read: distinct seeded ``c_custkey`` values (their residues
    drive every silver branch) and a seeded ``c_mktsegment``."""
    rng = np.random.default_rng([seed, 1])
    keys = rng.choice(50 * n, n, replace=False) + 1
    seg = np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "customer.parquet")
    pq.write_table(
        pa.table({
            "c_custkey": pa.array(keys, pa.int64()),
            "c_mktsegment": pa.array(seg),
        }),
        path,
    )
    return path


@dataclass
class DocStream:
    """Documents in arrival batches with recorded planted duplicates.

    ``dups`` maps each planted duplicate's id to the id of the original
    it copies; originals are never duplicates themselves, and always
    arrive first (an earlier batch, or a smaller id in the same batch),
    so a correct dedup keeps every original and drops every planted doc.
    Exact duplicates copy the text; near duplicates append a short
    suffix, which keeps their shingle Jaccard above 0.99.
    """

    seed: int
    dup_share: float = 0.1
    _rng: np.random.Generator = field(init=False, repr=False)
    _vocab: np.ndarray = field(init=False, repr=False)
    _next_id: int = field(default=0, init=False)
    texts: dict[int, str] = field(default_factory=dict, init=False)
    dups: dict[int, int] = field(default_factory=dict, init=False)
    _exact: set = field(default_factory=set, init=False, repr=False)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng([self.seed, 2])
        lens = self._rng.integers(3, 9, 20_000)
        self._vocab = np.array(
            ["".join(self._rng.choice(_LETTERS, k)) for k in lens]
        )

    def batch(self, n: int) -> list[dict]:
        rng = self._rng
        ids = list(range(self._next_id, self._next_id + n))
        self._next_id += n
        n_dup = int(round(n * self.dup_share))
        dup_pos = set(rng.choice(np.arange(n // 4, n), n_dup, replace=False).tolist())
        rows = []
        for pos, doc_id in enumerate(ids):
            originals = [i for i in self.texts if i not in self.dups] if pos in dup_pos else None
            if originals:
                src = originals[int(rng.integers(0, len(originals)))]
                text = self.texts[src]
                if rng.random() < 0.5:
                    text = text + " " + str(self._vocab[int(rng.integers(0, len(self._vocab)))])[:2]
                else:
                    self._exact.add(doc_id)
                self.dups[doc_id] = src
            else:
                text = " ".join(self._vocab[rng.integers(0, len(self._vocab), rng.integers(40, 80))])
            self.texts[doc_id] = text
            rows.append({"doc_id": doc_id, "text": text})
        return rows

    def originals(self) -> set[int]:
        return set(self.texts) - set(self.dups)

    def exact_dups(self) -> set[int]:
        return set(self._exact)


@dataclass
class VecStream:
    """Unit vectors around seeded cluster centres, in arrival batches,
    plus one held-out query batch drawn from the same mixture."""

    seed: int
    n_clusters: int = 20
    noise: float = 0.2
    _rng: np.random.Generator = field(init=False, repr=False)
    _centres: np.ndarray = field(init=False, repr=False)
    _next_id: int = field(default=0, init=False)
    stored: list[np.ndarray] = field(default_factory=list, init=False)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng([self.seed, 3])
        c = self._rng.normal(0, 1, (self.n_clusters, DIM))
        self._centres = c / np.linalg.norm(c, axis=1, keepdims=True)

    def _draw(self, n: int, rng: np.random.Generator) -> np.ndarray:
        labels = rng.integers(0, self.n_clusters, n)
        v = self._centres[labels] + rng.normal(0, self.noise, (n, DIM))
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    def batch(self, n: int) -> list[dict]:
        v = self._draw(n, self._rng)
        ids = range(self._next_id, self._next_id + n)
        self._next_id += n
        self.stored.append(v)
        return [{"vec_id": i, "embedding": row.tolist()} for i, row in zip(ids, v)]

    def queries(self, n: int) -> np.ndarray:
        """Held out: drawn from their own generator, so landing batches
        never shifts them. Query ``i`` has id ``QUERY_ID_BASE + i``."""
        return self._draw(n, np.random.default_rng([self.seed, 4]))

    def exact_top(self, q: np.ndarray, k: int = 10) -> np.ndarray:
        """Exact top-k ids by cosine over every vector landed so far."""
        x = np.vstack(self.stored)
        return np.argsort(-(q @ x.T), axis=1, kind="stable")[:, :k]


def write_queries(path: str, q: np.ndarray) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(QUERY_ID_BASE + np.arange(len(q)), pa.int64()),
            "embedding": pa.array(q.tolist(), pa.list_(pa.float64())),
        }),
        path,
    )


def write_json_lines(path: str, rows: list[dict]) -> int:
    """Land one micro-batch file; returns its size in bytes."""
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return os.path.getsize(path)
