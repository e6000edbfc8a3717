"""Similarity search over an embedding column (array<float>).

Two paths:

- ``cosine_topk``: exact brute-force top-k for a (small, broadcast) query
  set — dot products as native F.aggregate/zip_with expressions, ranks
  via a window. The baseline and the verifier for the ANN path.
- ``lsh_topk``: random-hyperplane LSH buckets (sign of dot product with
  deterministic pseudo-random planes) so each query only scores its own
  bucket's rows — the scale path: candidate generation is a bucket join,
  not a cross join. Recall is tested against the exact path.

All float math is done in double with left-to-right accumulation and
rounded before ranking so results are reproducible across engines and
partitionings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .dedup import capped_bucket_pairs

__all__ = [
    "cosine_topk",
    "lsh_topk",
    "ivf_train",
    "ivf_train_local",
    "ivf_assign",
    "ivf_topk",
    "embedding_near_dups",
]


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    queries is expected to be small (it is broadcast); the corpus side
    streams — one narrow pass, no shuffle until the final per-query
    window over k*|queries| rows.

    Output: (query_id, neighbor_id, cos_sim, rank), self-matches excluded.
    """
    # Norms are computed ONCE per side before the pair join (round 7):
    # inlining them into the per-pair expression re-evaluated each
    # O(dim) norm fold |queries| resp. |corpus| times over — identical
    # doubles (same fold over the same row), a third of the per-pair
    # expression work.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    sim = F.round(
        _dot(F.col("q_vec"), F.col("c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        round_digits,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _plane(dim: int, plane_idx: int) -> list:
    """Deterministic pseudo-random hyperplane via splitmix64 -> [-1, 1)."""
    out = []
    x = (plane_idx + 1) * 0x9E3779B97F4A7C15 & (2**64 - 1)
    for _ in range(dim):
        x = (x + 0x9E3779B97F4A7C15) & (2**64 - 1)
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
        z = z ^ (z >> 31)
        out.append((z / 2**63) - 1.0)
    return out


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket join, then exact
    cosine within buckets. 2^n_planes buckets; queries multi-probe their
    own bucket plus every bucket at Hamming distance <= ``multiprobe``
    (bit flips), trading a small candidate-set increase for much better
    recall. Still a bucket join — never a cross join.

    Sizing: expected bucket occupancy is ~N/2^n_planes, and each query
    scores (1 + n_planes) buckets at multiprobe=1 — so candidates/query
    ~= N * (1+n_planes) / 2^n_planes. The default n_planes=12 keeps that
    to ~0.3% of the corpus; for 10^9 vectors use n_planes≈20 (or switch
    to ``ivf_topk``, which gives direct control over the probe budget).
    The query side is broadcast (F.broadcast(q)): this path assumes a
    small query set; for query sets beyond broadcast size, drop the
    explicit broadcast hint so the planner picks a shuffle join on
    ``bucket``."""
    planes = [_plane(dim, p) for p in range(n_planes)]

    def bucket_of(vec):
        bits = []
        for p_i, plane in enumerate(planes):
            d = _dot(vec, F.array(*[F.lit(v) for v in plane]))
            bits.append(F.when(d >= 0, F.lit(1 << p_i)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
        bucket_of(F.col(vec_col)).alias("bucket"),
    )
    own = bucket_of(F.col(vec_col))
    probes = [own]
    if multiprobe >= 1:
        probes += [own.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    # norms precomputed per side, not per pair (round 7, same move as
    # cosine_topk — identical doubles, a third of the pair expression)
    sim = F.round(
        _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-Flat: k-means coarse quantizer + probed-cell exact search
# ---------------------------------------------------------------------------


def _cell_distances(V, C, c_sq):
    """Shared assignment kernel: squared-L2 distance surrogate
    ``||c||^2 - 2 v.c`` (||v||^2 is constant per row, so argmin is
    unchanged). The Spark UDFs, the local reference trainer, and the
    DuckDB oracle's literal replay all derive from THIS arithmetic —
    keep them in lockstep."""
    return c_sq - 2.0 * (V @ C.T)  # (batch, n_cells)


def _assign_udf(centroids):
    """Pandas UDF: vector -> nearest centroid id (squared-L2 argmin).

    One numpy matmul per Arrow batch (see _cell_distances). Centroids
    ride the closure (they are n_cells x dim doubles — small), so no
    join and no shuffle on the corpus side.
    """
    C = centroids  # (n_cells, dim)
    c_sq = (C * C).sum(axis=1)  # (n_cells,)

    @F.pandas_udf(T.IntegerType())
    def assign(vec: pd.Series) -> pd.Series:
        V = np.vstack(vec.to_numpy())  # (batch, dim)
        d = _cell_distances(V, C, c_sq)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return assign


def _probe_udf(centroids, n_probes: int):
    """Pandas UDF: vector -> the n_probes nearest centroid ids."""
    C = centroids
    c_sq = (C * C).sum(axis=1)
    p = min(n_probes, len(C))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vec: pd.Series) -> pd.Series:
        V = np.vstack(vec.to_numpy())
        d = _cell_distances(V, C, c_sq)
        # argsort for determinism (argpartition ties are order-unstable)
        idx = np.argsort(d, kind="stable", axis=1)[:, :p].astype("int32")
        return pd.Series(list(idx))

    return probe


def ivf_train_local(
    parquet_path: str,
    n_cells: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Single-process reference trainer: deterministic Lloyd's k-means
    over one parquet file, sharing ``_cell_distances`` with the Spark
    UDFs bit-for-bit.

    This exists for the driver-oracle contract: centroids trained here
    are passed to the Spark SERVING path (``ivf_topk(centroids=...)``)
    AND embedded as literals in the DuckDB oracle, so the hash compare
    pins assignment + probe + ranked search end to end. ``ivf_train``
    remains the distributed trainer for corpora that don't fit one
    process; serving is identical either way.

    Seeds are the ``n_cells`` rows with the smallest md5-derived hash of
    the id (reproducible without Spark's xxhash64); empty cells keep
    their previous centroid — same policy as ``ivf_train``.
    """
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_numpy()
    V = np.array(t.column(vec_col).to_pylist(), dtype=np.float64)
    h = np.array(
        [
            int(hashlib.md5(str(int(i)).encode()).hexdigest()[:15], 16)
            for i in ids
        ]
    )
    order = np.argsort(h, kind="stable")
    C = V[order[:n_cells]].copy()
    c_sq = (C * C).sum(axis=1)
    for _ in range(n_iters):
        cells = np.argmin(_cell_distances(V, C, c_sq), axis=1)
        C2 = C.copy()
        for c in range(len(C)):
            mask = cells == c
            if mask.any():
                C2[c] = V[mask].mean(axis=0)
        C = C2
        c_sq = (C * C).sum(axis=1)
    return C


def ivf_train(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the coarse quantizer (Lloyd's k-means) — returns a numpy
    (n_cells, dim) centroid matrix.

    Deterministic: seeds are the n_cells rows with the smallest
    xxhash64(id) (a pseudo-random but reproducible sample); each
    iteration assigns via one narrow pandas-UDF pass and re-averages via
    a (cell, dim_pos) aggregate — the only driver-side data is the
    centroid matrix itself (n_cells x dim doubles), which IVF needs on
    the driver anyway. Empty cells keep their previous centroid.
    """
    seeds = (
        embeddings.select(vec_col, F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    C = np.array([[float(x) for x in r[0]] for r in seeds], dtype=np.float64)
    vecs = embeddings.select(F.col(vec_col).alias("_v"))
    for _ in range(n_iters):
        assign = _assign_udf(C)
        assigned = vecs.withColumn("_cell", assign(F.col("_v")))
        means = (
            assigned.select("_cell", F.posexplode("_v").alias("_pos", "_val"))
            .groupBy("_cell", "_pos")
            .agg(F.avg(F.col("_val").cast("double")).alias("_m"))
            .collect()
        )
        C2 = C.copy()
        for r in means:
            C2[r["_cell"], r["_pos"]] = r["_m"]
        C = C2
    return C


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Attach the nearest-centroid cell id (the IVF index column).

    At scale this column is what you PARTITION the stored index by
    (write.partitionBy(cell)), so probing reads only the probed cells'
    files — partition pruning does the candidate filtering."""
    return embeddings.withColumn(cell_col, _assign_udf(centroids)(F.col(vec_col)))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids=None,
    k: int = 5,
    n_cells: int = 16,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k cosine via IVF: score only the rows whose cell
    is among each query's ``n_probes`` nearest cells.

    Candidates/query ~= N * n_probes / n_cells — a direct budget knob
    (vs the hyperplane LSH where recall depends on bucket geometry).
    Cell join, never a cross join; the query side is small/broadcast.
    ``centroids`` can be passed in (pre-trained index) or trained here.
    """
    if centroids is None:
        centroids = ivf_train(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    c = ivf_assign(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_norm"),
        ),
        centroids,
        vec_col="c_vec",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(_probe_udf(centroids, n_probes)(F.col(vec_col))).alias("cell"),
    )
    sim = F.round(
        _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
        round_digits,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    n_cells: int = 16,
    centroids=None,
    max_bucket_size=None,
    on_oversize: str = "drop",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) with
    id_a < id_b and cos_sim >= threshold — the dedup family that catches
    semantic duplicates exact/MinHash/SimHash text sketches miss.

    method:
    - 'exact': brute-force self-join — O(n^2), the VERIFIER (use on
      samples / as the oracle path, never at corpus scale).
    - 'lsh': candidates = pairs sharing a hyperplane bucket, then exact
      cosine >= threshold within. Bucket join, never a cross join; at
      threshold t the collision probability per plane is
      1 - arccos(t)/pi, so recall ~ (1-arccos(t)/pi)^n_planes per bucket
      — size n_planes to the threshold (high thresholds tolerate more
      planes).
    - 'ivf': candidates = pairs sharing a coarse k-means cell (tighter
      candidate sets when the corpus is clustered; pass pre-trained
      ``centroids`` or they are trained here).

    ``max_bucket_size`` (lsh/ivf only) is the hot-bucket safety valve
    (operators/dedup.py:capped_bucket_pairs — VERDICT r5 #1): an
    un-capped bucket self-join emits ~m^2/2 candidates from a bucket
    with m members, and templated/zero embeddings saturate hyperplane
    buckets at web scale. Default ``on_oversize='drop'`` here (unlike
    the text sketches' 'collapse'): a saturated hyperplane/IVF bucket
    is LOW-INFORMATION — membership barely narrows cosine — so recall
    for its members is better served by their other tables than by
    rep-centric edges; 'collapse' is still available, and every
    surviving edge is exact-cosine verified either way. Capped output
    gains a ``via_representative`` column."""
    # per-row norm computed once here; every branch carries it to the
    # verify as na/nb instead of re-folding it per candidate pair
    e = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
    )
    if method == "exact":
        a = e.select(
            F.col("_id").alias("id_a"),
            F.col("_v").alias("va"),
            F.col("_n").alias("na"),
        )
        b = e.select(
            F.col("_id").alias("id_b"),
            F.col("_v").alias("vb"),
            F.col("_n").alias("nb"),
        )
        pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        # multi-table LSH (candidate union over n_tables independent
        # plane sets): per-bucket collision prob for a pair at cosine t
        # is p^k with p = 1 - arccos(t)/pi, so recall = 1 - (1-p^k)^L —
        # tables buy recall multiplicatively where more planes per table
        # would destroy it
        def bucket_of(vec, table):
            bits = []
            for p_i in range(n_planes):
                plane = _plane(dim, table * n_planes + p_i)
                d = _dot(vec, F.array(*[F.lit(v) for v in plane]))
                bits.append(F.when(d >= 0, F.lit(1 << p_i)).otherwise(F.lit(0)))
            out = bits[0]
            for bcol in bits[1:]:
                out = out + bcol
            return out

        # bucket keys only — the vectors do NOT ride the bucket join or
        # the dedup shuffle (a pair found in several of the n_tables
        # tables would otherwise drag 2 x dim x 8B through distinct() up
        # to n_tables times); embeddings re-join on the narrow deduped
        # (id_a, id_b) pairs for the cosine verify
        keyed = e.select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            bucket_of(F.col("_v"), t).alias("b"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("_tb"),
        ).select("_id", "_tb.t", "_tb.b")
        cand = capped_bucket_pairs(
            keyed,
            "_id",
            ["t", "b"],
            max_bucket_size=max_bucket_size,
            on_oversize=on_oversize,
        )
        pairs = cand.join(
            e.select(
                F.col("_id").alias("id_a"),
                F.col("_v").alias("va"),
                F.col("_n").alias("na"),
            ),
            "id_a",
        ).join(
            e.select(
                F.col("_id").alias("id_b"),
                F.col("_v").alias("vb"),
                F.col("_n").alias("nb"),
            ),
            "id_b",
        )
    elif method == "ivf":
        if centroids is None:
            centroids = ivf_train(
                embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
            )
        keyed = ivf_assign(e, centroids, vec_col="_v", cell_col="_c")
        if max_bucket_size is not None:
            # narrow (id, cell) keys through the capped join; vectors
            # re-join on the deduped pairs (same rationale as lsh)
            cand = capped_bucket_pairs(
                keyed.select("_id", "_c"),
                "_id",
                ["_c"],
                max_bucket_size=max_bucket_size,
                on_oversize=on_oversize,
            )
            pairs = cand.join(
                e.select(
                    F.col("_id").alias("id_a"),
                    F.col("_v").alias("va"),
                    F.col("_n").alias("na"),
                ),
                "id_a",
            ).join(
                e.select(
                    F.col("_id").alias("id_b"),
                    F.col("_v").alias("vb"),
                    F.col("_n").alias("nb"),
                ),
                "id_b",
            )
        else:
            a = keyed.select(
                F.col("_id").alias("id_a"),
                F.col("_v").alias("va"),
                F.col("_n").alias("na"),
                "_c",
            )
            b = keyed.select(
                F.col("_id").alias("id_b"),
                F.col("_v").alias("vb"),
                F.col("_n").alias("nb"),
                "_c",
            )
            pairs = a.join(b, "_c").where(F.col("id_a") < F.col("id_b"))
    else:
        raise ValueError(f"unknown method: {method!r}")
    sim = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        round_digits,
    )
    out_cols = ["id_a", "id_b", "cos_sim"]
    if max_bucket_size is not None and method in ("lsh", "ivf"):
        out_cols.append("via_representative")
    return (
        pairs.withColumn("cos_sim", sim)
        .where(F.col("cos_sim") >= F.lit(float(threshold)))
        .select(*out_cols)
    )
