"""Spark-FREE co-committed index shard builders. Every commit that
rewrites buckets of an indexed table — ``merge_into_bucketed``,
``optimize_bucketed`` and the SQL front door's ``INSERT INTO`` — builds
the rewritten buckets' shards here, from the exact bucket files it has
just staged: :func:`stage_bucket_shards` reads ONE bucket's staged files
(physical column names, mapped back to logical ones) one record batch at
a time and writes every index's shard for it into the same staged
directory. ``indexed._stage_merge_index`` runs it as one Spark task per
rewritten bucket; the SQL door's commit worker, which has no
SparkSession, runs it in a loop. Only ``attach_*_index`` still builds
shards with the Spark encoders (the full-table path, and the reference
these builders are tested against). Every encoder here replicates its
Spark expression BIT-FOR-BIT:

- dots and squared distances are SEQUENTIAL per-dimension folds
  (``acc = (acc + x_d * y_d)``), matching ``functions.vector.dot``'s
  ``F.aggregate`` left fold — a BLAS ``matmul`` would reassociate the
  sum and could flip a near-tie cell assignment;
- IVF cell assignment mirrors ``ivf_assign``'s ``method="auto"`` split
  exactly: k ≤ 16 → fold dots + first-max argmax (the ``expr`` path's
  ``array_position(dots, array_max(dots))``), k > 16 → float64
  ``matmul`` + argmax (the ``arrow`` path's own formula);
- SQ8 codes run the identical clamped ``floor((v - lo)/step + 0.5)``
  double arithmetic; PQ codes take the first-minimum (= smallest code,
  ``min_by`` struct tie-break) over sequentially-folded subspace
  distances;
- HNSW shards call the SAME pure-Python ``_build_shard`` the Spark
  path's ``applyInPandas`` task calls — one implementation, zero drift
  (the graph is a function of the id set, not insertion order).

Equivalence is pytest-locked: OPTIMIZE over every bucket of a freshly
attached table reproduces each Spark-built shard row for row
(``test_numpy_shard_builders_match_spark_attach``).
"""

from __future__ import annotations

import os


def _fold_dot(mat, vec):
    """Sequential per-dim fold of mat @ vec — bit-exact with
    ``functions.vector.dot``'s aggregate left fold (NOT a BLAS dot)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc = acc + mat[:, d] * vec[d]
    return acc


def _fold_sqdist(mat, vec):
    """Sequential fold of sum((x-y)^2) — ``similarity._sq_dist``."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        diff = mat[:, d] - vec[d]
        acc = acc + diff * diff
    return acc


def ivf_cells_np(mat, centroids):
    """``ivf_assign(method="auto")`` in numpy: k ≤ 16 mirrors the expr
    path (per-centroid fold dots, first-max argmax == array_position of
    array_max), k > 16 mirrors the arrow path (float64 matmul + argmax
    — that path's OWN formula, so parity holds per k regime)."""
    import numpy as np

    k = len(centroids)
    C = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    if k <= 16:
        dots = np.stack([_fold_dot(mat, C[i]) for i in range(k)], axis=1)
    else:
        dots = mat @ C.T
    return np.argmax(dots, axis=1).astype(np.int32)


def sq_codes_np(mat, model):
    """``similarity.sq_encode`` in numpy: code = clamp(floor((v - lo) /
    step + 0.5), 0..255) - 128 as int8; step == 0 dims encode to 0
    (stored -128) — the identical double expression."""
    import numpy as np

    lo = np.asarray(model["lo"], dtype=np.float64)
    step = np.asarray(model["step"], dtype=np.float64)
    safe = np.where(step == 0.0, 1.0, step)
    code = np.floor((mat - lo) / safe + 0.5)
    code = np.clip(code, 0.0, 255.0)
    code = np.where(step == 0.0, 0.0, code)
    return (code - 128.0).astype(np.int8)


def pq_codes_np(mat, codebooks):
    """``similarity.pq_encode`` in numpy: per subspace, the argmin over
    codebook entries of the sequentially-folded squared distance;
    ``np.argmin`` takes the FIRST minimum = the smallest code, the
    ``min_by(struct(d, code))`` tie-break. Returns (n, m_sub) int32."""
    import numpy as np

    m_sub = len(codebooks)
    subdim = len(codebooks[0][0])
    n = mat.shape[0]
    out = np.empty((n, m_sub), dtype=np.int32)
    for s in range(m_sub):
        sub = mat[:, s * subdim : (s + 1) * subdim]
        d = np.stack(
            [
                _fold_sqdist(sub, np.asarray(c, dtype=np.float64))
                for c in codebooks[s]
            ],
            axis=1,
        )
        out[:, s] = np.argmin(d, axis=1)
    return out


def _emb_matrix(col):
    """(n, d) float64 matrix from an arrow list array — float32 values
    widen exactly, matching Spark's ``cast("array<double>")``."""
    import numpy as np
    import pyarrow.compute as pc

    lens = pc.list_value_length(col)
    bounds = pc.min_max(lens).as_py()
    if col.null_count or bounds["min"] != bounds["max"]:
        raise ValueError(
            "co-committed index: every embedding must be a non-null "
            "vector of one length"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(col), bounds["max"])


def _list_array(mat, value_type):
    """Row-per-list arrow array of a 2-d numpy matrix."""
    import numpy as np
    import pyarrow as pa

    n, d = mat.shape
    offsets = np.arange(n + 1, dtype=np.int32) * d
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(mat.reshape(-1), value_type)
    )


def _ivf_tables(ids, mat, params):
    """(cell, arrow table) for each IVF cell one batch's rows fall in, in
    the file schema the Spark-side ``partitionBy`` writer produces."""
    import numpy as np
    import pyarrow as pa

    kind = params.get("kind", "hnsw")
    if kind not in ("ivfsq", "ivfpq"):
        raise ValueError(f"unknown co-committed index kind {kind!r}")
    cells = ivf_cells_np(mat, params["centroids"])
    if kind == "ivfsq":
        codes = sq_codes_np(mat, params["model"])
    else:
        codes = pq_codes_np(mat, params["codebooks"])
    for c in np.unique(cells):
        m = cells == c
        sel = ids.filter(pa.array(m))
        if kind == "ivfsq":
            out = {"vec_id": sel, "codes": _list_array(codes[m], pa.int8())}
        else:  # long-form (vec_id, sub, code) rows, subspace-major
            n, m_sub = len(sel), codes.shape[1]
            out = {
                "vec_id": sel.take(pa.array(np.tile(np.arange(n), m_sub))),
                "sub": pa.array(np.repeat(np.arange(m_sub, dtype=np.int32), n)),
                "code": pa.array(codes[m].T.reshape(-1)),
            }
        yield int(c), pa.table(out)


def _hnsw_table(held, params):
    """One HNSW shard as an arrow table, built from its (ids, matrix)
    batches by the SAME ``_build_shard`` the Spark path's task calls."""
    import numpy as np
    import pyarrow as pa

    from semantic_index_spark.operators.hnsw import _build_shard

    id64 = np.concatenate(
        [ids.to_numpy(zero_copy_only=False) for ids, _ in held]
    ).astype("int64")
    mat = np.concatenate([m for _, m in held])
    adj, levels = _build_shard(
        id64, mat, params["m"], params["ef_construction"], params["seed"]
    )
    order = sorted(adj)
    pos = {int(i): k for k, i in enumerate(id64)}
    return pa.table(
        {
            "id": pa.array(order, pa.int64()),
            "embedding": _list_array(mat[[pos[i] for i in order]], pa.float64()),
            "max_level": pa.array([levels[i] for i in order], pa.int32()),
            "neighbors": pa.array(
                [adj[i] for i in order], pa.list_(pa.list_(pa.int64()))
            ),
        }
    )


def _staged_batches(bdir: str, cols: list):
    """The non-empty record batches of one staged bucket's data files."""
    import pyarrow.parquet as pq

    for f in sorted(os.listdir(bdir)):
        if f.startswith((".", "_")):
            continue  # checksum / marker files
        with pq.ParquetFile(os.path.join(bdir, f)) as pf:
            for batch in pf.iter_batches(columns=cols):
                if batch.num_rows:
                    yield batch


def stage_bucket_shards(staged: str, man: dict, bucket: int) -> None:
    """Build every co-committed index's shard for ONE rewritten bucket
    from the data files the commit staged for it (``__bucket=<b>``,
    PHYSICAL column names), and write them into the same staged
    directory in the layout the Spark-side writers produce — readers
    cannot tell which engine built a shard. The bucket is read one record
    batch at a time: the IVF kinds encode each batch and append it to one
    parquet file per cell, so memory holds one batch; HNSW holds its
    shard until the graph builds (as ``build_hnsw``'s ``applyInPandas``
    task does). File names are fixed (``part-00000.parquet``), so a
    retried task overwrites its failed attempt's files. A bucket the
    commit left empty stages no file and gets no shard."""
    import pyarrow.parquet as pq

    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources.indexed import _idx_dir

    cm = VER._colmap(man)
    key = man["key_cols"][0]
    phys_key = cm.get(key, key)
    specs = [  # (shard dir, params, physical embedding column)
        (
            os.path.join(staged, _idx_dir(n, s["params"]), f"shard={int(bucket)}"),
            s["params"],
            cm.get(s["params"]["emb_col"], s["params"]["emb_col"]),
        )
        for n, s in VER._indexes(man).items()
    ]
    held = {d: [] for d, p, _ in specs if p.get("kind", "hnsw") == "hnsw"}
    writers: dict = {}  # cell file path → open ParquetWriter
    cols = sorted({phys_key} | {emb for _, _, emb in specs})
    bdir = os.path.join(staged, f"__bucket={int(bucket)}")
    try:
        for batch in _staged_batches(bdir, cols):
            ids, mats = batch.column(phys_key), {}
            for d, p, emb in specs:
                if emb not in mats:
                    mats[emb] = _emb_matrix(batch.column(emb))
                if d in held:
                    held[d].append((ids, mats[emb]))
                    continue
                for c, out in _ivf_tables(ids, mats[emb], p):
                    path = os.path.join(d, f"_cell={c}", "part-00000.parquet")
                    if path not in writers:
                        os.makedirs(os.path.dirname(path), exist_ok=True)
                        writers[path] = pq.ParquetWriter(path, out.schema)
                    writers[path].write_table(out)
    finally:
        for w in writers.values():
            w.close()
    for d, p, _ in specs:
        if held.get(d):
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                _hnsw_table(held[d], p), os.path.join(d, "part-00000.parquet")
            )
