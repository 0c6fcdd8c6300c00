"""``index``: a ``SemanticIndex`` and a bucketed table carrying IVF-SQ8 and
HNSW indexes, under searches and commits.

Set-up embeds a seeded text corpus into a ``SemanticIndex`` (the embed
pandas UDF), saves and reloads it, and puts the same vectors into a
bucketed table (16 buckets) with both indexes attached. Each loop cycle:

1. an exact ``search_df`` (a perturbed corpus vector) and a
   ``search_text`` (fresh text) on the ``SemanticIndex``;
2. ``merge_into_bucketed`` of a small batch (half updates, half new ids),
   then an exact ``similarity.topk`` over ``read_bucketed`` for the vector
   just written (read-your-writes), then ``indexed_ivfsq_topk``;
3. ``delete_bucketed``, then an exact search for a deleted vector (it
   must not come back), then ``indexed_hnsw_topk``;
4. ``optimize_bucketed`` and ``expire_bucketed``, timed as one call.

The benchmark replays its own mutation log, so at the end the table must
hold exactly the rows the replay holds.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from perfbench import gen
from perfbench.common import dir_files, median, now
from perfbench.oracle import TopK, table_checksum

SIZES = {
    "bench": {"items": 1000, "buckets": 16, "cells": 4, "batch": 4, "deletes": 2,
              "queries": 64, "dim": 64},
    "smoke": {"items": 200, "buckets": 16, "cells": 4, "batch": 2, "deletes": 1,
              "queries": 8, "dim": 64},
}
K = 10
SEARCHES = ("exact_search", "exact_search_text", "topk_search")
ANN = ("ivfsq_search", "hnsw_search")
COMMITS = ("merge", "delete", "optimize")


def _item_id(item: str) -> int:
    return int(item.split(" ", 1)[0][1:])


def _write_parquet(path: str, ids, vecs=None) -> int:
    cols = {"id": pa.array(np.asarray(ids, dtype=np.int64))}
    if vecs is not None:
        cols["embedding"] = pa.array(list(np.asarray(vecs, dtype=np.float32)),
                                     type=pa.list_(pa.float32()))
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


class Index:
    name = "index"
    # the first set-up pays the cold JVM; the median of three is a warm one
    setup_reps = 3
    # the three set-ups warm the JVM and the Python workers: a first cycle
    # measured within about 15 % of later ones, and the per-kind medians
    # pass over it, so no cycle is spent untimed
    warmup_cycles = 0

    def __init__(self, bench, size: dict):
        self.b = bench
        self.n = size["items"]
        self.n_buckets = size["buckets"]
        self.n_cells = size["cells"]
        self.batch = size["batch"]
        self.n_del = size["deletes"]
        self.nq = size["queries"]
        self.dim = size["dim"]
        self.recall: dict[str, list[float]] = {k: [] for k in ANN}
        self.embed_ms: list[float] = []
        self.rows_committed = 0
        self.source_bytes = 0
        self.created_bytes = 0
        self.created_files = 0
        self.commits = 0

    # ---------------------------------------------------------------- set-up

    def generate(self, root: str) -> None:
        vocab = gen.Vocabulary(5000)
        rng = gen.rng_for(self.b.seed, 1)
        toks = vocab.draw(rng, (self.n, 8))
        # the leading id word makes every item unique
        self.items = [f"d{i} {vocab.text(row)}" for i, row in enumerate(toks)]
        self.text_queries = [vocab.text(row) for row in vocab.draw(rng, (self.nq, 4))]

    def build(self, root: str) -> None:
        from semantic_index_spark import DeterministicEmbedder, SemanticIndex
        from semantic_index_spark.sources import indexed, versioned

        b, spark = self.b, self.b.spark
        self.root = root
        idx = SemanticIndex(spark, embedder=DeterministicEmbedder(self.dim))
        b.call("index.add_range", "index.SemanticIndex.add_range",
               lambda: idx.add_range(self.items))
        self.index_path = os.path.join(root, "index")
        b.call("index.save", "index.SemanticIndex.save", lambda: idx.save(self.index_path))
        self.idx = b.call(
            "index.load", "index.SemanticIndex.from_file",
            lambda: SemanticIndex.from_file(
                spark, self.index_path, embedder=DeterministicEmbedder(self.dim)),
        )
        rows = self.idx.records.select(
            F.regexp_extract("item", r'^"d([0-9]+) ', 1).cast("long").alias("id"), "embedding"
        )
        self.table = os.path.join(root, "table")
        b.call("versioned.create_bucketed", "sources.versioned.create_bucketed",
               lambda: versioned.create_bucketed(rows, self.table, ["id"],
                                                 n_buckets=self.n_buckets))
        b.call("indexed.attach_ivfsq", "sources.indexed.attach_ivfsq_index",
               lambda: indexed.attach_ivfsq_index(spark, self.table, n_cells=self.n_cells))
        b.call("indexed.attach_hnsw", "sources.indexed.attach_hnsw_index",
               lambda: indexed.attach_hnsw_index(spark, self.table))

    def prepare(self) -> None:
        """Check the saved index against the oracle embedder, then start
        the replay of the table from the same vectors."""
        b = self.b
        with b.oracle("index.stored_vectors"):
            self.embedder = gen.HashEmbedder(self.dim)
            self.vecs = self.embedder.embed_many(self.items)
            t = pq.read_table(self.index_path)
            stored = dict(zip(t.column("item").to_pylist(), t.column("embedding").to_pylist()))
            b.check(len(stored) == self.n == t.num_rows,
                    f"saved index holds {t.num_rows} rows, expected {self.n}")
            worst = 0.0
            for i, item in enumerate(self.items):
                v = stored.get(json.dumps(item))
                if v is None:
                    b.check(False, f"item {item!r} missing from the saved index")
                    break
                worst = max(worst, float(np.max(np.abs(np.asarray(v) - self.vecs[i]))))
            b.check(worst <= 1e-6, f"stored embeddings differ from the oracle by {worst:.2e}")
        self.corpus = TopK(np.arange(self.n), self.vecs, K)
        self.rng = gen.rng_for(self.b.seed, 2)
        self.vector_queries = gen.perturb(
            self.rng, self.vecs[self.rng.integers(0, self.n, self.nq)], 0.03)
        self.live = {i: self.vecs[i] for i in range(self.n)}
        self.next_id = self.n
        self.files = dir_files(self.table)
        os.makedirs(os.path.join(self.root, "batches"), exist_ok=True)

    # ---------------------------------------------------------------- loop

    def cycle(self, i: int) -> None:
        from semantic_index_spark.sources import versioned

        spark = self.b.spark
        self._search(i)
        v = self._merge()
        self._topk(v, self.next_id - 1, None, "merge")
        self._ann("ivfsq_search")
        gone_id, gone_vec = self._delete()
        self._topk(gone_vec, None, gone_id, "delete")
        self._ann("hnsw_search")
        # one maintenance call: expiry alone takes a few ms of file
        # deletes, too short to time steadily on its own
        self._commit("optimize", "sources.versioned.optimize_bucketed+expire_bucketed",
                     lambda: (versioned.optimize_bucketed(spark, self.table),
                              versioned.expire_bucketed(self.table, keep_manifests=2)))

    def _search(self, j: int) -> None:
        """Exact search on the (unchanging) SemanticIndex, by vector and by
        text, with the ``j``-th query of each."""
        b = self.b
        qv = self.vector_queries[j % self.nq]
        qt = self.text_queries[j % self.nq]
        rows = b.call("exact_search", "index.SemanticIndex.search_df",
                      lambda: self.idx.search_df(qv, K), "collect")
        with b.oracle("exact_search"):
            err = self.corpus.verify(qv, [_item_id(json.loads(r["item"])) for r in rows],
                                     [r["score"] for r in rows])
            b.check(err is None, f"exact search, query {j}: {err}")
        items = b.call("exact_search_text", "index.SemanticIndex.search_text",
                       lambda: self.idx.search_text(qt, K))
        t0 = now()
        with b.tracer.span("embedder.DeterministicEmbedder.embed_batch"):
            self.idx.embedder.embed_batch([qt])
        self.embed_ms.append((now() - t0) * 1e3)
        with b.oracle("exact_search_text"):
            err = self.corpus.verify(self.embedder.embed(qt), [_item_id(it) for it in items])
            b.check(err is None, f"text search {qt!r}: {err}")

    def _oracle(self) -> TopK:
        ids = np.fromiter(self.live, dtype=np.int64)
        return TopK(ids, np.vstack([self.live[i] for i in ids]), K)

    def _commit(self, kind: str, name: str, build) -> None:
        self.b.call(kind, name, build)
        now_files = dir_files(self.table)
        new = [p for p in now_files if p not in self.files]
        self.created_files += len(new)
        self.created_bytes += sum(now_files[p] for p in new)
        self.files = now_files
        self.commits += 1

    def _batch_path(self, tag: str) -> str:
        return os.path.join(self.root, "batches", f"{tag}-{self.commits}.parquet")

    def _merge(self) -> np.ndarray:
        from semantic_index_spark.sources import versioned

        spark = self.b.spark
        live = np.fromiter(self.live, dtype=np.int64)
        n_upd = self.batch // 2
        upd = self.rng.choice(live, n_upd, replace=False)
        new = np.arange(self.next_id, self.next_id + self.batch - n_upd)
        ids = np.concatenate([upd, new])
        vecs = gen.unit_rows(self.rng, len(ids), self.dim)
        path = self._batch_path("merge")
        self.source_bytes += _write_parquet(path, ids, vecs)
        self._commit("merge", "sources.versioned.merge_into_bucketed",
                     lambda: versioned.merge_into_bucketed(spark, self.table,
                                                           spark.read.parquet(path)))
        self.next_id += len(new)
        self.rows_committed += len(ids)
        for i, v in zip(ids, vecs):
            self.live[int(i)] = v
        return vecs[-1]

    def _delete(self) -> tuple[int, np.ndarray]:
        from semantic_index_spark.sources import versioned

        spark = self.b.spark
        live = np.fromiter(self.live, dtype=np.int64)
        ids = self.rng.choice(live, self.n_del, replace=False)
        path = self._batch_path("delete")
        self.source_bytes += _write_parquet(path, ids)
        self._commit("delete", "sources.versioned.delete_bucketed",
                     lambda: versioned.delete_bucketed(spark, self.table,
                                                       spark.read.parquet(path)))
        self.rows_committed += len(ids)
        gone = int(ids[0]), self.live[int(ids[0])]
        for i in ids:
            del self.live[int(i)]
        return gone

    def _topk(self, q, must_hit: int | None, must_miss: int | None, what: str) -> None:
        """Exact top-10 on the table's latest version; ``must_hit`` is an id
        just written with ``q`` as its vector, ``must_miss`` one just
        deleted."""
        from semantic_index_spark.operators import similarity
        from semantic_index_spark.sources import versioned

        b, spark = self.b, self.b.spark
        rows = b.call(
            "topk_search", "operators.similarity.topk",
            lambda: similarity.topk(
                versioned.read_bucketed(spark, self.table).withColumnRenamed("id", "vec_id"),
                q.tolist(), k=K),
            "collect",
        )
        with b.oracle("topk_search"):
            ids = [r["vec_id"] for r in rows]
            err = self._oracle().verify(q, ids, [r["score"] for r in rows])
            b.check(err is None, f"exact search after {what}: {err}")
            if must_hit is not None:
                b.check(bool(ids) and ids[0] == must_hit,
                        f"read-your-writes: id {must_hit} just written is not first in {ids}")
            if must_miss is not None:
                b.check(must_miss not in ids,
                        f"read-your-writes: deleted id {must_miss} still served")

    def _ann(self, kind: str) -> None:
        from semantic_index_spark.sources import indexed

        b, spark = self.b, self.b.spark
        fn = indexed.indexed_ivfsq_topk if kind == "ivfsq_search" else indexed.indexed_hnsw_topk
        live = np.fromiter(self.live, dtype=np.int64)
        q = gen.perturb(self.rng, self.live[int(self.rng.choice(live))], 0.03).tolist()
        rows = b.call(kind, f"sources.indexed.{fn.__name__}",
                      lambda: fn(spark, self.table, q, k=K), "collect")
        with b.oracle(kind):
            oracle = self._oracle()
            ids = [r["vec_id"] for r in rows]
            err = oracle.verify_approx(q, ids, [r["score"] for r in rows])
            b.check(err is None, f"{kind} after {self.commits} commits: {err}")
            self.recall[kind].append(oracle.recall(q, ids))

    # ---------------------------------------------------------------- end

    def finish(self) -> tuple[float, float]:
        """Checks the table against the replay; returns the source rows one
        cycle commits per second of a cycle's call time (median cycle), and
        the mean HNSW recall@10 over every HNSW answer of the run. IVF-SQ8
        recall is only printed: its probes pick cells by fixed random
        centroids, so a handful of queries per run scatters it by a fifth
        from seed to seed."""
        from semantic_index_spark.sources import versioned

        b, spark = self.b, self.b.spark
        pdf = b.call("read_bucketed", "sources.versioned.read_bucketed",
                     lambda: versioned.read_bucketed(spark, self.table), "pandas")
        with b.oracle("index.replay"):
            want_ids = np.fromiter(self.live, dtype=np.int64)
            got_sum = table_checksum(pdf["id"].to_numpy(), pdf["embedding"])
            want_sum = table_checksum(want_ids, [self.live[int(i)] for i in want_ids])
            b.check(len(pdf) == len(want_ids),
                    f"table holds {len(pdf)} rows, the replay {len(want_ids)}")
            b.check(got_sum == want_sum,
                    f"table checksum {got_sum} differs from the replay's {want_sum}")
        loop = b.loop_calls()
        rows_per_s = (self.batch + self.n_del) / b.cycle_call_s()
        searches = [c.wall for c in loop if c.kind in SEARCHES]
        ann = [c.wall for c in loop if c.kind in ANN]
        commits = [c.wall for c in loop if c.kind in COMMITS]
        b.note("table_checksum", int(got_sum[:12], 16), "hex48")
        b.note("exact_search_ms_p50", median(searches) * 1e3, "ms", len(searches))
        b.note("ann_search_ms_p50", median(ann) * 1e3, "ms", len(ann))
        b.note("search_qps", (len(searches) + len(ann)) / sum(searches + ann), "1/s",
               len(searches) + len(ann))
        b.note("commit_ms_p50", median(commits) * 1e3, "ms", len(commits))
        b.note("ingest_rows_per_s", rows_per_s, "rows/s", self.rows_committed)
        b.note("write_amp", self.created_bytes / self.source_bytes, "ratio", self.commits)
        b.note("versioned.bytes_written_per_commit", self.created_bytes / self.commits,
               "bytes", self.commits)
        b.note("versioned.files_per_commit", self.created_files / self.commits,
               "count", self.commits)
        recall = [r for k in ANN for r in self.recall[k]]
        b.note("recall_at_10", float(np.mean(recall)), "fraction", len(recall))
        for k in ANN:
            b.note(f"{k}.recall_at_10", float(np.mean(self.recall[k])), "fraction",
                   len(self.recall[k]))
        b.note("embedder.embed_batch_ms_p50", median(self.embed_ms), "ms", len(self.embed_ms))
        # add_range is lazy: the embed UDF runs when save writes the rows
        embed_s = b.info["index.add_range_s"][0] + b.info["index.save_s"][0]
        b.note("embedder.rows_per_s", self.n / embed_s, "rows/s")
        return rows_per_s, float(np.mean(self.recall["hnsw_search"]))
