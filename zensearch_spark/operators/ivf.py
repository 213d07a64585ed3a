"""IVF (inverted-file) ANN index over an embedding column — the
coarse-quantizer alternative to the sign-sketch LSH index in
operators/similarity.py (the round brief names both: "an IVF or
LSH-bucketed variant as the scale path").

Shape: a small deterministic k-means (driver-side NumPy over a
bounded sample — centroids are MODEL parameters, like the LSH planes)
partitions vectors into n_centroids cells; the index is the
embeddings table written sorted on centroid_id in a few parquet files
(similarity.write_sorted_index); a probe ranks centroids against the
query driver-side and reads the index root with a pushed-down
``centroid_id IN (...)`` filter over the top ``nprobe`` cells, so
row-group statistics skip the other cells (same plan shape as the LSH
sketch probe). Exact cosine re-rank inside the probed cells.

Scale: assignment is one scan with an Arrow-batched matmul+argmax
(batch_rows × n_centroids GEMM — no per-row Python); the write is
one range shuffle by centroid_id; a probe reads the row groups of
its nprobe cells. Recall is data-dependent (gated on clustered
fixtures like the LSH tests; i.i.d. gaussian data defeats any
sub-linear ANN — same honest floor the LSH tests document).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zensearch_spark.operators.similarity import cosine_topk, write_sorted_index

# read with its schema given, as similarity.ANN_INDEX_SCHEMA is
IVF_INDEX_SCHEMA = "vec_id bigint, embedding array<double>, centroid_id int"


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 64,
    sample_every: int = 1,
    max_sample: int = 20_000,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means on a bounded driver sample.

    The sample is id-keyed (vec_id % sample_every == 0, capped at
    max_sample by an ordered limit — a distributed top-n on the id,
    NOT a bare ``limit()`` whose row choice follows partition
    enumeration order), so the same table always yields the same
    centroids regardless of file layout or partitioning — training is
    a one-time model fit, the analog of the LSH planes' fixed seed
    (round-4 ADVICE: bare limit broke the determinism claim once the
    modulus-filtered sample exceeded max_sample). Returns
    (n_centroids, dim) L2-normalized float64."""
    s = emb.filter((F.col(id_col) % sample_every) == 0).select(id_col, vec_col)
    pdf = s.orderBy(id_col).limit(max_sample).toPandas().sort_values(id_col)
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    n = len(mat)
    k = min(n_centroids, n)
    rng = np.random.default_rng([seed, k, mat.shape[1]])
    cent = mat[rng.permutation(n)[:k]].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    cent[c] = v / nv
    return cent


def modular_mean_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Data-derived centroids an external SQL engine can reproduce
    exactly: centroid c = elementwise MEAN of vectors with
    vec_id % n_cells == c (random-partition means, the classic k-means
    init — unnormalized, since argmax assignment is scale-invariant in
    the row only). Feeds the driver-visible ivf_recall correctness
    entry, where the whole IVF mechanism (assignment, cell pruning,
    exact re-rank, recall accounting) is mirrored in DuckDB; the
    k-means fit (train_ivf_centroids) remains the production model
    path. One distributed posexplode+avg pass; the collect is
    model-sized (n_cells × dim rows), never data-sized."""
    rows = (
        emb.select(
            (F.col(id_col) % n_cells).alias("cell"),
            F.posexplode(vec_col).alias("dim", "x"),
        )
        .groupBy("cell", "dim")
        .agg(F.avg(F.col("x").cast("double")).alias("cx"))
        .collect()
    )
    dim = 1 + max(r["dim"] for r in rows)
    seen = {r["cell"] for r in rows}
    if len(seen) != n_cells:
        # ADVICE r5: the DuckDB mirror (_ivf_recall_sql centv CTE)
        # has no row for an empty cell, while a zero-vector centroid
        # here would still participate in assignment/probing — the
        # two engines would diverge spuriously. Dense ids guarantee
        # every residue class is populated whenever n_rows >= n_cells;
        # enforce that precondition instead of silently diverging.
        missing = sorted(set(range(n_cells)) - seen)
        raise ValueError(
            f"modular_mean_centroids: cells {missing} have no members "
            f"(n_cells={n_cells}) — id space must cover every residue "
            "class mod n_cells for oracle parity"
        )
    cent = np.zeros((n_cells, dim))
    for r in rows:
        cent[r["cell"], r["dim"]] = r["cx"]
    return cent


def assign_centroids(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, centroid_id): nearest centroid by cosine,
    computed as an Arrow-batched matmul+argmax (rows are normalized
    inside the worker; centroids ship in the closure — model-sized,
    not data-sized)."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", emb.schema[vec_col].dataType, False),
            T.StructField("centroid_id", T.IntegerType(), False),
        ]
    )

    def assign(batches):
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cid = np.argmax(mat @ cent.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "embedding": pdf[vec_col],
                    "centroid_id": cid,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(assign, schema)


def build_ivf_index(
    emb: DataFrame,
    out_path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF cells: one scan + one range shuffle by
    centroid_id, written sorted on centroid_id (write_sorted_index) so
    a probe's cell filter skips the other cells' row groups."""
    write_sorted_index(
        assign_centroids(emb, centroids, id_col, vec_col), out_path,
        ["centroid_id"],
    )


def probe_cells(
    centroids: np.ndarray, query_vec: list[float], nprobe: int
) -> list[int]:
    """Driver-side centroid ranking: the nprobe nearest cells."""
    q = np.asarray(query_vec, dtype=np.float64)
    q /= max(float(np.linalg.norm(q)), 1e-12)
    sims = centroids @ q
    # stable sort: exact dot ties resolve to the LOWEST cell id, the
    # same tiebreak the SQL oracle's (dot DESC, cell ASC) window uses
    return sorted(int(c) for c in np.argsort(-sims, kind="stable")[:nprobe])


def ivf_topk(
    spark,
    index_path: str,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 8,
) -> DataFrame:
    """Approximate top-k over an index written by build_ivf_index:
    scan only the nprobe nearest cells, through a
    ``centroid_id IN (...)`` filter pushed down to the parquet
    reader."""
    cells = probe_cells(centroids, query_vec, nprobe)
    cand = (
        spark.read.schema(IVF_INDEX_SCHEMA).parquet(index_path)
        .filter(F.col("centroid_id").isin(cells))
    )
    return cosine_topk(cand, query_vec, k=k, id_col="vec_id",
                       vec_col="embedding")
