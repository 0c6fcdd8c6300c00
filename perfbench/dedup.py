"""``dedup``: the batch near-duplicate pipeline over a text corpus.

Set-up writes a seeded corpus as a Parquet snapshot partitioned by
source: Zipfian text with planted
near-duplicate clusters (copies with a few token edits) and exact
duplicates (spacing variants). Each loop cycle is one pass:
``exact_dedup`` → ``minhash_lsh_pairs`` → ``edit_distance_verify`` →
``connected_components`` → ``golden_records``, then
``chunk_documents`` → ``embed_incremental`` (cold, then warm against its
own cache) → ``embedding_neardup_pairs`` with hyperplanes. Each stage's
output is collected, checked against the benchmark's own oracle, and
written to Parquet as the next stage's input.
"""

from __future__ import annotations

import hashlib
import math
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import median
from perfbench.oracle import UnionFind, levenshtein, pair_f1, same_cluster_pairs

SIZES = {
    "bench": {"singles": 200, "clusters": 20, "copies": 2, "exact": 10, "tokens": 40, "dim": 64},
    "smoke": {"singles": 60, "clusters": 6, "copies": 2, "exact": 4, "tokens": 40, "dim": 64},
}
NUM_HASHES, BANDS, SHINGLE = 16, 8, 3
MAX_EDIT_RATIO = 0.2
CHUNK_TOKENS, OVERLAP = 16, 4
PLANES, COS_THRESHOLD = 10, 0.9
VERIFY_SAMPLE = 24


def _tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.lower().strip(" "))


def _fingerprint(text: str) -> str:
    return hashlib.md5(re.sub(r"\s+", " ", text.lower().strip(" ")).encode()).hexdigest()


def _band_keys(text: str) -> list[tuple]:
    """Per band, the tuple of MinHash minima the package hashes into its
    band key: md5 of ``mh<j>:<shingle>``, 8 hex digits per hash."""
    toks = _tokens(text)
    k = max(len(toks) - SHINGLE + 1, 1)
    shingles = set(" ".join(toks[i:i + SHINGLE]) for i in range(k))
    mins = [None] * NUM_HASHES
    for j in range((NUM_HASHES + 3) // 4):
        vals = np.array(
            [[int(h[8 * c:8 * c + 8], 16) for c in range(4)]
             for h in (hashlib.md5(f"mh{j}:{s}".encode()).hexdigest() for s in shingles)]
        ).min(axis=0)
        for c in range(4):
            if 4 * j + c < NUM_HASHES:
                mins[4 * j + c] = int(vals[c])
    rows = NUM_HASHES // BANDS
    return [(b, tuple(mins[b * rows:(b + 1) * rows])) for b in range(BANDS)]


def _write(path: str, df: pd.DataFrame, schema: pa.Schema) -> str:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
    return path


EMB = pa.list_(pa.float32())


class Dedup:
    name = "dedup"
    # a warm set-up takes well under a second, so five cost little and
    # steady the median more than three
    setup_reps = 5
    # the set-up only writes Parquet: the first pass starts every Python
    # worker and compiles every stage, and runs about 2.5 times slower
    warmup_cycles = 1

    def __init__(self, bench, size: dict):
        self.b = bench
        self.size = size
        self.dim = size["dim"]
        self.f1: list[float] = []
        self.hit_ratio: list[float] = []
        self.verified_ratio: list[float] = []
        self.candidates: list[int] = []

    def generate(self, root: str) -> None:
        s = self.size
        vocab = gen.Vocabulary(20000)
        rng = gen.rng_for(self.b.seed, 1)
        texts, truth = [], []
        for i in range(s["singles"] + s["clusters"]):
            texts.append(vocab.text(vocab.draw(rng, s["tokens"])))
            truth.append(i)
        for c in range(s["clusters"]):
            base = s["singles"] + c
            for _ in range(s["copies"]):
                toks = texts[base].split()
                for pos in rng.choice(len(toks), 2, replace=False):
                    toks[pos] = vocab.words[rng.integers(len(vocab.words))]
                texts.append(" ".join(toks))
                truth.append(base)
        for src in rng.choice(len(texts), s["exact"], replace=False):
            texts.append("  " + texts[src].replace(" ", "  ", 1) + " ")
            truth.append(truth[src])
        # shuffle so planted copies sit anywhere in id order; truth[j] is
        # the new id of the document j was copied from
        order = rng.permutation(len(texts))
        new_id = np.argsort(order)
        self.texts = [texts[i] for i in order]
        self.truth = [int(new_id[truth[i]]) for i in order]
        n = len(self.texts)
        self.corpus = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": self.texts,
            "score": rng.integers(0, 100, n).astype(np.int64),
            "source": rng.choice(["web", "books", "code", "news"], n),
        })
        self.corpus_df = self.b.spark.createDataFrame(self.corpus)

    def build(self, root: str) -> None:
        from semantic_index_spark.sources import io

        self.root = root
        self.corpus_path = os.path.join(root, "corpus")
        self.b.call("io.write_parquet_snapshot", "sources.io.write_parquet_snapshot",
                    lambda: io.write_parquet_snapshot(self.corpus_df, self.corpus_path,
                                                      partition_by=["source"]))

    def prepare(self) -> None:
        n = len(self.texts)
        fps = [_fingerprint(t) for t in self.texts]
        first: dict[str, int] = {}
        for i, f in enumerate(fps):
            first.setdefault(f, i)
        self.fp = fps
        self.rep_of = np.array([first[f] for f in fps])
        self.reps = sorted(set(first.values()))
        buckets: dict = {}
        for i in self.reps:
            for key in _band_keys(self.texts[i]):
                buckets.setdefault(key, []).append(i)
        self.cand = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
        uf = UnionFind(range(n))
        for i, t in enumerate(self.truth):
            uf.union(i, t)
        self.truth_pairs = same_cluster_pairs(uf.labels())
        self.embedder = gen.HashEmbedder(self.dim)
        rng = gen.rng_for(self.b.seed, 3)
        self.planes = rng.standard_normal((PLANES, self.dim))
        self.sample_rng = gen.rng_for(self.b.seed, 4)

    # ---------------------------------------------------------------- pass

    def cycle(self, i: int) -> None:
        from semantic_index_spark import DeterministicEmbedder
        from semantic_index_spark.operators import dedup, text_analysis

        b, spark = self.b, self.b.spark
        d = os.path.join(self.root, f"pass{i}")
        os.makedirs(d, exist_ok=True)
        corpus = spark.read.parquet(self.corpus_path)

        got = b.call("exact_dedup", "operators.dedup.exact_dedup",
                     lambda: dedup.exact_dedup(corpus), "pandas")
        with b.oracle("exact_dedup"):
            want = {(r, self.fp[r]) for r in self.reps}
            b.check(set(zip(got["doc_id"].tolist(), got["fingerprint"])) == want,
                    f"exact_dedup pass {i}: representatives differ from md5 of normalized text")
        reps_path = _write(
            os.path.join(d, "reps.parquet"),
            self.corpus[self.corpus["doc_id"].isin(got["doc_id"])],
            pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                       ("score", pa.int64()), ("source", pa.string())]),
        )
        reps = spark.read.parquet(reps_path)

        pairs = b.call("minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs",
                       lambda: dedup.minhash_lsh_pairs(reps, num_hashes=NUM_HASHES, bands=BANDS),
                       "pandas")
        with b.oracle("minhash_lsh_pairs"):
            got_pairs = set(zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()))
            b.check(len(got_pairs) == len(pairs) and got_pairs == self.cand,
                    f"minhash_lsh_pairs pass {i}: {len(got_pairs)} pairs, oracle "
                    f"{len(self.cand)}, {len(got_pairs ^ self.cand)} differ")
        pairs_path = _write(os.path.join(d, "pairs.parquet"), pairs,
                            pa.schema([("id_a", pa.int64()), ("id_b", pa.int64())]))

        ver = b.call("edit_distance_verify", "operators.dedup.edit_distance_verify",
                     lambda: dedup.edit_distance_verify(
                         reps, spark.read.parquet(pairs_path), max_ratio=MAX_EDIT_RATIO),
                     "pandas")
        with b.oracle("edit_distance_verify"):
            kept = {(a, c): r for a, c, r in zip(ver["id_a"], ver["id_b"], ver["edit_ratio"])}
            cand = sorted(got_pairs)
            pick = self.sample_rng.choice(len(cand), min(VERIFY_SAMPLE, len(cand)), replace=False)
            for a, c in (cand[p] for p in pick):
                ta, tc = self.texts[a], self.texts[c]
                longest = max(len(ta), len(tc), 1)
                dist = levenshtein(ta, tc)
                want_kept = dist <= math.floor(MAX_EDIT_RATIO * longest)
                ok = want_kept == ((a, c) in kept) and (
                    not want_kept or abs(kept[(a, c)] - dist / longest) <= 1e-6)
                b.check(ok, f"edit_distance_verify pass {i}: pair {(a, c)} distance {dist}")
            self.candidates.append(len(cand))
            self.verified_ratio.append(len(kept) / max(len(cand), 1))
        ver_path = _write(os.path.join(d, "verified.parquet"), ver[["id_a", "id_b"]],
                          pa.schema([("id_a", pa.int64()), ("id_b", pa.int64())]))

        labels = b.call("connected_components", "operators.dedup.connected_components",
                        lambda: dedup.connected_components(
                            reps.select("doc_id"), spark.read.parquet(ver_path)),
                        "pandas")
        with b.oracle("connected_components"):
            uf = UnionFind(self.reps)
            for a, c in kept:
                uf.union(a, c)
            want = uf.labels()
            got_l = dict(zip(labels["doc_id"].tolist(), labels["component"].tolist()))
            b.check(got_l == want, f"connected_components pass {i}: labels differ from union-find")
            final = {j: want[int(self.rep_of[j])] for j in range(len(self.texts))}
            self.f1.append(pair_f1(same_cluster_pairs(final), self.truth_pairs))
        labels_path = _write(os.path.join(d, "labels.parquet"), labels,
                             pa.schema([("doc_id", pa.int64()), ("component", pa.int64())]))

        gold = b.call("golden_records", "operators.dedup.golden_records",
                      lambda: dedup.golden_records(reps, spark.read.parquet(labels_path),
                                                   mode_cols=["source"], max_cols=["score"]),
                      "pandas")
        with b.oracle("golden_records"):
            r = self.corpus.set_index("doc_id").loc[self.reps].copy()
            r["c"] = [want[j] for j in self.reps]
            src = (r.groupby(["c", "source"]).size().rename("n").reset_index()
                   .sort_values(["c", "n", "source"], ascending=[True, False, True])
                   .drop_duplicates("c").set_index("c")["source"])
            exp = {c: (int(g.index.min()), len(g), src[c], int(g["score"].max()))
                   for c, g in r.groupby("c")}
            got_g = {int(x.cluster): (int(x.canonical_id), int(x.n_members), x.source, int(x.score))
                     for x in gold.itertuples()}
            b.check(got_g == exp, f"golden_records pass {i}: clusters differ from pandas")

        chunks = b.call("chunk_documents", "operators.text_analysis.chunk_documents",
                        lambda: text_analysis.chunk_documents(
                            reps, chunk_tokens=CHUNK_TOKENS, overlap=OVERLAP),
                        "pandas")
        with b.oracle("chunk_documents"):
            step = CHUNK_TOKENS - OVERLAP
            want_c = set()
            for j in self.reps:
                toks = _tokens(self.texts[j])
                for c in range(max(math.ceil((len(toks) - OVERLAP) / step), 1)):
                    part = toks[c * step:c * step + CHUNK_TOKENS]
                    want_c.add((j, c, " ".join(part), len(part)))
            got_c = set(zip(chunks["doc_id"].tolist(), chunks["chunk_idx"].tolist(),
                            chunks["chunk_text"], chunks["n_tokens"].tolist()))
            b.check(got_c == want_c and len(got_c) == len(chunks),
                    f"chunk_documents pass {i}: chunks differ from the token windows")
        chunk_df = pd.DataFrame({"doc_id": chunks["doc_id"] * 1000 + chunks["chunk_idx"],
                                 "text": chunks["chunk_text"]})
        chunks_path = _write(os.path.join(d, "chunks.parquet"), chunk_df,
                             pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))
        want_emb = self.embedder.embed_many(chunk_df["text"].tolist())
        want_at = dict(zip(chunk_df["doc_id"].tolist(), range(len(chunk_df))))
        embedder = DeterministicEmbedder(self.dim)
        empty = spark.createDataFrame([], "fingerprint string, embedding array<float>")

        cold = self._embed("embed_incremental_cold", i, chunks_path, empty, embedder,
                           want_emb, want_at, cached=False)
        cache_path = _write(
            os.path.join(d, "cache.parquet"),
            cold[["fingerprint", "embedding"]].drop_duplicates("fingerprint"),
            pa.schema([("fingerprint", pa.string()), ("embedding", EMB)]),
        )
        warm = self._embed("embed_incremental_warm", i, chunks_path,
                           spark.read.parquet(cache_path), embedder, want_emb, want_at,
                           cached=True)
        self.hit_ratio.append(float(warm["was_cached"].mean()))

        emb_path = _write(os.path.join(d, "emb.parquet"),
                          warm[["doc_id", "embedding"]].rename(columns={"doc_id": "vec_id"}),
                          pa.schema([("vec_id", pa.int64()), ("embedding", EMB)]))
        nd = b.call("embedding_neardup_pairs", "operators.dedup.embedding_neardup_pairs",
                    lambda: dedup.embedding_neardup_pairs(
                        spark.read.parquet(emb_path), threshold=COS_THRESHOLD,
                        planes=self.planes.tolist()),
                    "pandas")
        with b.oracle("embedding_neardup_pairs"):
            ids = chunk_df["doc_id"].to_numpy()
            e = want_emb.astype(np.float64)
            sig = (e @ self.planes.T > 0) @ (1 << np.arange(PLANES))
            e /= np.linalg.norm(e, axis=1, keepdims=True)
            want_p, edge = set(), set()
            for s in np.unique(sig):
                m = np.flatnonzero(sig == s)
                cos = np.round(e[m] @ e[m].T, 6)
                for x, y in zip(*np.nonzero(cos >= COS_THRESHOLD - 1e-6)):
                    a, c = ids[m[x]], ids[m[y]]
                    if a < c:
                        (edge if abs(cos[x, y] - COS_THRESHOLD) <= 1e-6 else want_p).add((a, c))
            got_p = set(zip(nd["id_a"].tolist(), nd["id_b"].tolist()))
            b.check(want_p <= got_p <= want_p | edge,
                    f"embedding_neardup_pairs pass {i}: {len(got_p)} pairs, oracle {len(want_p)}")

    def _embed(self, kind, i, chunks_path, cache, embedder, want_emb, want_at, cached):
        from semantic_index_spark.operators import pipeline

        b, spark = self.b, self.b.spark
        out = b.call(kind, "operators.pipeline.embed_incremental",
                     lambda: pipeline.embed_incremental(
                         spark.read.parquet(chunks_path), cache, embedder),
                     "pandas")
        with b.oracle(kind):
            b.check(len(out) == len(want_at) and set(out["doc_id"]) == set(want_at),
                    f"{kind} pass {i}: {len(out)} rows for {len(want_at)} chunks")
            got = np.vstack(out["embedding"].to_numpy()) if len(out) else want_emb[:0]
            want = want_emb[[want_at[j] for j in out["doc_id"]]]
            worst = float(np.max(np.abs(got - want))) if len(out) else 0.0
            b.check(worst <= 1e-6, f"{kind} pass {i}: embeddings differ by {worst:.2e}")
            b.check(bool((out["was_cached"] == cached).all()),
                    f"{kind} pass {i}: was_cached is not {cached} for every chunk")
        return out

    # ---------------------------------------------------------------- end

    def finish(self) -> tuple[float, float]:
        """Corpus documents per second of a pass's call time (median pass),
        and the pair F1 of the final clusters against the planted ones."""
        b = self.b
        passes = b.info["loop.cycles"][0]
        docs_per_s = len(self.texts) / b.cycle_call_s()
        b.note("dedup_docs_per_s", docs_per_s, "docs/s", passes)
        b.note("dedup_pair_f1", float(np.mean(self.f1)), "fraction", len(self.f1))
        b.note("dedup.candidate_pairs", median(self.candidates), "count", len(self.candidates))
        b.note("dedup.verified_ratio", median(self.verified_ratio), "fraction",
               len(self.verified_ratio))
        b.note("pipeline.embed_cache_hit_ratio", median(self.hit_ratio), "fraction",
               len(self.hit_ratio))
        return docs_per_s, float(np.mean(self.f1))
