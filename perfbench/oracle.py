"""Answers the benchmark computes itself, with numpy, to check the package."""

from __future__ import annotations

import hashlib

import numpy as np

SCORE_TOL = 1e-5


class TopK:
    """Brute-force top-k over a fixed matrix of stored vectors."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray, k: int = 10):
        self.ids = np.asarray(ids)
        self.vecs = np.asarray(vecs, dtype=np.float64)
        self.k = k
        self._pos = {int(i): p for p, i in enumerate(self.ids)}

    def scores(self, q) -> np.ndarray:
        return self.vecs @ np.asarray(q, dtype=np.float64)

    def kth(self, s: np.ndarray) -> float:
        k = min(self.k, len(s))
        return float(np.partition(s, len(s) - k)[len(s) - k])

    def _check_rows(self, s: np.ndarray, got_ids, got_scores):
        """(error, the oracle's scores of ``got_ids``): the rows must be real
        and distinct, their scores exact and best first."""
        if len(set(got_ids)) != len(got_ids):
            return f"duplicate ids in {list(got_ids)}", None
        missing = [i for i in got_ids if int(i) not in self._pos]
        if missing:
            return f"ids {missing} are not in the table", None
        got = np.array([s[self._pos[int(i)]] for i in got_ids])
        if got_scores is not None and len(got):
            err = np.max(np.abs(np.asarray(got_scores, dtype=np.float64) - got))
            if err > SCORE_TOL:
                return f"scores differ from numpy by {err:.2e}", None
        if np.any(np.diff(got) > SCORE_TOL):
            return "results are not ordered by score", None
        return None, got

    def verify(self, q, got_ids, got_scores=None) -> str | None:
        """None when ``got_ids`` (best first) is a correct exact top-k;
        otherwise what is wrong. Ties within SCORE_TOL of the k-th score
        may resolve either way."""
        s = self.scores(q)
        k = min(self.k, len(s))
        if len(got_ids) != k:
            return f"returned {len(got_ids)} rows, expected {k}"
        err, got = self._check_rows(s, got_ids, got_scores)
        if err is None and np.min(got) < self.kth(s) - SCORE_TOL:
            err = f"an id scoring {np.min(got):.6f} is below the true k-th score {self.kth(s):.6f}"
        return err

    def verify_approx(self, q, got_ids, got_scores) -> str | None:
        """An approximate top-k must still return real rows, exact scores,
        no duplicates and best-first order."""
        return self._check_rows(self.scores(q), got_ids, got_scores)[0]

    def recall(self, q, got_ids) -> float:
        """Share of the true top-k found; an id tied with the k-th score
        counts as found."""
        s = self.scores(q)
        kth = self.kth(s)
        hits = sum(
            1 for i in set(got_ids)
            if int(i) in self._pos and s[self._pos[int(i)]] >= kth - SCORE_TOL
        )
        return hits / min(self.k, len(s))


def table_checksum(ids, vecs) -> str:
    """Order-insensitive checksum of (id, vector) rows: the XOR of each
    row's blake2b digest."""
    acc = 0
    for i, v in zip(ids, vecs):
        h = hashlib.blake2b(int(i).to_bytes(8, "little", signed=True), digest_size=16)
        h.update(np.asarray(v, dtype=np.float32).tobytes())
        acc ^= int.from_bytes(h.digest(), "little")
    return f"{acc:032x}"


class UnionFind:
    def __init__(self, ids):
        self.parent = {int(i): int(i) for i in ids}

    def find(self, x: int) -> int:
        p = self.parent
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(int(a)), self.find(int(b))
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def labels(self) -> dict[int, int]:
        """id -> smallest id of its component."""
        return {i: self.find(i) for i in self.parent}


def same_cluster_pairs(labels: dict[int, int]) -> set[tuple[int, int]]:
    groups: dict[int, list[int]] = {}
    for i, c in labels.items():
        groups.setdefault(c, []).append(i)
    out = set()
    for members in groups.values():
        members.sort()
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                out.add((members[a], members[b]))
    return out


def pair_f1(found: set, truth: set) -> float:
    if not found and not truth:
        return 1.0
    tp = len(found & truth)
    prec = tp / len(found) if found else 0.0
    rec = tp / len(truth) if truth else 0.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def levenshtein(a: str, b: str) -> int:
    """Character edit distance, one numpy row per character of ``a``."""
    if len(a) < len(b):
        a, b = b, a
    bb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    prev = np.arange(len(b) + 1)
    for i, ca in enumerate(a, 1):
        cost = (bb != ord(ca)).astype(np.int64)
        sub = prev[:-1] + cost
        cur = np.empty_like(prev)
        cur[0] = i
        cur[1:] = np.minimum(prev[1:] + 1, sub)
        # insertion is a running min along the row: cur[j] = min(cur[j], cur[j-1] + 1)
        cur = np.minimum.accumulate(cur - np.arange(len(cur))) + np.arange(len(cur))
        prev = cur
    return int(prev[-1])
