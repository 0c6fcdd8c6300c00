"""Seeded input generation. Everything here depends only on numpy and the
seed, never on the package, so a package change cannot change a workload."""

from __future__ import annotations

import hashlib
import re

import numpy as np


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so adding a draw to
    one input never shifts another."""
    return np.random.default_rng([seed, *stream])


class Vocabulary:
    """``size`` word tokens drawn with Zipfian (s=1.1) frequencies, so a
    few words are common and most are rare, as in real text."""

    def __init__(self, size: int):
        self.words = np.array([f"t{i}" for i in range(size)])
        p = 1.0 / np.arange(1, size + 1) ** 1.1
        self.p = p / p.sum()

    def draw(self, rng: np.random.Generator, shape) -> np.ndarray:
        return rng.choice(len(self.words), size=shape, p=self.p)

    def text(self, idx) -> str:
        return " ".join(self.words[idx])


def unit_rows(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def perturb(rng: np.random.Generator, v: np.ndarray, sigma: float) -> np.ndarray:
    """``v`` plus gaussian noise, renormalized: a query whose true nearest
    neighbour is ``v``'s row."""
    w = v.astype(np.float64) + rng.normal(0.0, sigma, v.shape)
    return (w / np.linalg.norm(w, axis=-1, keepdims=True)).astype(np.float32)


class HashEmbedder:
    """The oracle for the package's ``DeterministicEmbedder``, written from
    its contract: lowercase, split on non-alphanumerics, sum one gaussian
    vector per token (seeded by the first 8 hex digits of the token's md5)
    in float64, normalize, cast to float32. An empty text embeds to e0."""

    def __init__(self, dim: int):
        self.dim = dim
        self._tok: dict[str, np.ndarray] = {}

    def _token(self, t: str) -> np.ndarray:
        v = self._tok.get(t)
        if v is None:
            seed = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
            v = np.random.RandomState(seed).standard_normal(self.dim)
            self._tok[t] = v
        return v

    def embed(self, text: str) -> np.ndarray:
        toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).split()
        acc = np.zeros(self.dim)
        for t in toks:
            acc += self._token(t)
        n = float(np.linalg.norm(acc))
        if not toks or n == 0.0:
            acc = np.zeros(self.dim)
            acc[0] = n = 1.0
        return (acc / n).astype(np.float32)

    def embed_many(self, texts) -> np.ndarray:
        return np.vstack([self.embed(t) for t in texts]) if len(texts) else np.zeros((0, self.dim), np.float32)
