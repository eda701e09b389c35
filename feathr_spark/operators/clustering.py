"""Distributed k-means over embedding columns + SemDeDup-style semantic
deduplication (cluster, then pair only within clusters).

The reference's expression DSL delegates scalar work to Spark SQL
(`/root/reference/feathr-rs/src/model.rs:248-253`); embedding clustering
is an engine extension a training-data pipeline needs (SemDeDup, Abbas et
al. 2023: k-means the corpus embeddings, then search for near-duplicates
only inside each cluster — turning an O(n²) all-pairs problem into
Σ O(|cluster|²) with k as the knob).

Design for scale (Lloyd's algorithm, Spark-first — the MLlib shape):
  * ONE KERNEL, ``lloyd``, trains k-means centroids (one block) and the
    PQ codebooks (one block per subspace, ``pq.pq_fit``);
  * each round is ONE Arrow-batched ``mapInPandas`` pass over the
    persisted vectors, zero shuffle: per batch it assigns every vector
    to its nearest centroid (a single (batch × k) squared-distance
    matmul + row argmin per block) and emits per-(block, centroid)
    partial sums and counts — at most blocks×k rows per batch, the
    grouped partial-aggregate pattern ``silhouette_labels`` also uses;
  * the driver collects those rows, folds them and quantizes the means —
    the ONE documented driver action per round (MLlib does the same):
    bounded state (blocks×k×width doubles per batch), never corpus rows;
    the new centroids ship back inside the next round's closure;
  * per-round cost = one corpus scan, one job; n_iter is a small
    constant (default 5) and the loop stops at the fixpoint.

Determinism: centroid components are quantized to 6 decimals after every
update (well above double noise, well below embedding resolution), a
centroid's id is its position in the code-sorted centroid matrix, and
ties break to the lowest position via stable argmin/argsort — assignment
is therefore a pure per-row function, bit-stable across partitionings
and runs.
"""

from __future__ import annotations

import math
from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _planes


def _stack(col: pd.Series) -> np.ndarray:
    """(rows × dim) float64 matrix from one Arrow batch of vectors."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in col.to_numpy()])


def _sq_dists(x: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """(rows × k) squared L2 distances to the centroid rows of ``mat`` —
    one matmul, clamped at 0 against cancellation."""
    d = ((x * x).sum(axis=1)[:, None] - 2.0 * (x @ mat.T)
         + (mat * mat).sum(axis=1)[None, :])
    return np.maximum(d, 0.0, out=d)


def _block_codes(x: np.ndarray, mats: List[np.ndarray]) -> np.ndarray:
    """(rows × blocks) nearest-centroid positions: block b of each row
    (the b-th ``mats[b].shape[1]``-wide slice) against ``mats[b]``. Ties
    break to the first (lowest) position."""
    w = mats[0].shape[1]
    return np.stack([_sq_dists(x[:, b * w:(b + 1) * w], mat).argmin(axis=1)
                     for b, mat in enumerate(mats)], axis=1)


def lloyd(vecs: DataFrame, blocks: int, k: int, n_iter: int,
          dim: int) -> List[np.ndarray]:
    """Lloyd's loop over the ``__v`` array<double> column of the
    (persisted) ``vecs``, run independently in each of ``blocks``
    ``dim/blocks``-wide subspaces: k-means is ``blocks=1``, PQ codebook
    training is ``blocks=m``. Returns one centroid matrix per block; a
    centroid's id is its row position.

    Round 0 assigns by hyperplane sign bits (``_planes(p_bits, dim/blocks,
    seed=block)``, the planes of ``lsh_bucket``) — data-dependent,
    seedless, reproducible. Each later round assigns to the nearest
    current centroid. A round's new centroids are the 6-dp-quantized
    means of its assignment, so exact equality with the previous round
    IS the fixpoint test: the loop stops there instead of spending the
    remaining rounds on a no-op. Empty clusters drop out (k is an upper
    bound; neither SemDeDup nor PQ cares)."""
    w = dim // blocks
    p_bits = max(1, int(math.ceil(math.log2(max(2, k)))))
    planes = [np.array(_planes(p_bits, w, seed=b)) for b in range(blocks)]
    bit = 1 << np.arange(p_bits)

    def _round(mats):
        def _partials(it):
            for pdf in it:
                if pdf.empty:
                    continue
                x = _stack(pdf["__v"])
                codes = (_block_codes(x, mats) if mats is not None else
                         np.stack([(x[:, b * w:(b + 1) * w] @ p.T >= 0) @ bit
                                   for b, p in enumerate(planes)], axis=1))
                out = []
                for b in range(blocks):
                    c, inv = np.unique(codes[:, b], return_inverse=True)
                    s = np.zeros((len(c), w))
                    np.add.at(s, inv, x[:, b * w:(b + 1) * w])
                    out.append(pd.DataFrame({
                        "b": np.full(len(c), b, dtype=np.int32), "c": c,
                        "n": np.bincount(inv), "s": list(s)}))
                yield pd.concat(out)

        acc = {}
        for r in (vecs.select("__v")
                  .mapInPandas(_partials,
                               "b int, c bigint, n bigint, s array<double>")
                  .collect()):
            n, s = acc.get((r.b, r.c), (0, 0.0))
            acc[(r.b, r.c)] = (n + r.n, s + np.asarray(r.s))
        return [np.array([np.round(acc[key][1] / acc[key][0], 6)
                          for key in sorted(acc) if key[0] == b])
                for b in range(blocks)]

    mats = _round(None)
    for _ in range(n_iter):
        new = _round(mats)
        if all(a.shape == b.shape and (a == b).all()
               for a, b in zip(new, mats)):
            break
        mats = new
    return mats


def _nearest_expr(mat: np.ndarray, n: int):
    """Arrow-batched top-``n`` nearest centroids for an array<double>
    column: returns struct<clusters: array<bigint>, sq_dist: double>
    (sq_dist = distance to the nearest). Ties break to the lowest
    cluster id (stable sort over the id-sorted matrix)."""
    from pyspark.sql.functions import pandas_udf

    n = min(n, len(mat))

    @pandas_udf("clusters array<bigint>, sq_dist double")
    def _nearest(col: pd.Series) -> pd.DataFrame:
        if col.empty:
            return pd.DataFrame({"clusters": [], "sq_dist": []})
        d = _sq_dists(_stack(col), mat)
        if n == 1:
            idx = d.argmin(axis=1)[:, None]      # first min = lowest cid
        else:
            idx = np.argsort(d, axis=1, kind="stable")[:, :n]
        return pd.DataFrame({"clusters": list(idx),
                             "sq_dist": d[np.arange(len(d)), idx[:, 0]]})

    return _nearest


def _assign(vecs: DataFrame, mat: np.ndarray) -> DataFrame:
    return (vecs.select("__id", "__v", _nearest_expr(mat, 1)("__v")
                        .alias("__a"))
            .select("__id", "__v", F.col("__a.clusters")[0].alias("cluster"),
                    F.col("__a.sq_dist").alias("sq_dist")))


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    n_iter: int = 5,
) -> DataFrame:
    """Lloyd's k-means; returns (``id_col``, cluster, sq_dist)."""
    vecs = (df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__v"))
            .persist())
    mat = lloyd(vecs, 1, k, n_iter, dim=64)[0]
    out = _assign(vecs, mat).select(
        F.col("__id").alias(id_col), "cluster",
        F.round("sq_dist", 6).alias("sq_dist"))
    vecs.unpersist()
    return out


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    k: int = 16,
    n_iter: int = 5,
    n_assign: int = 2,
) -> DataFrame:
    """SemDeDup: cosine near-duplicate pairs searched ONLY within k-means
    clusters. Approximate by design (pairs whose members share none of
    their probed clusters are unseen) — recall against the exact
    all-pairs result is gated in the driver's ``semantic_dedup_recall``
    query, the ANN-recall pattern.

    ``n_assign`` is the multi-probe knob: each vector participates in its
    ``n_assign`` nearest clusters, which recovers the boundary pairs
    top-1 SemDeDup misses on weakly-clustered embeddings (measured here:
    recall 0.57 top-1 -> 0.93 top-2 -> 1.00 top-3 at k=16, sf0.01) for
    ~n_assign× join volume.

    Scale: Σ|cluster|² replaces n²; pick k so the expected cluster is
    10³-10⁴ docs (k ≈ n_assign·n / 4000). The intra-cluster join carries
    (id, vector) only and shuffles on the cluster id; a pathological hot
    cluster is bounded by raising k, the documented SemDeDup trade-off.
    Output: (id_a, id_b, cos_sim), id_a < id_b.
    """
    vecs = (df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__v"))
            .persist())
    mat = lloyd(vecs, 1, k, n_iter, dim=64)[0]
    nearest = _nearest_expr(mat, max(1, n_assign))
    side = (vecs.select("__id", "__v",
                        F.explode(nearest("__v")["clusters"])
                        .alias("cluster")))

    thr = float(threshold)

    def _score_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        # per-cluster cosine matmul: X_norm @ X_norm.T beats per-pair
        # expression evaluation by ~100×; rows are id-sorted so emitted
        # pairs are canonical (id_a < id_b). Memory is O(chunk·|cluster|)
        # scores — the row-chunked loop bounds it for the 10⁴-doc
        # clusters the k knob targets.
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        x = _stack(pdf["__v"])
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0                 # zero vec -> cos 0
        xn = x / norms[:, None]
        out_a, out_b, out_s = [], [], []
        chunk = 2048
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            s = xn[lo:hi] @ xn.T                  # (chunk, n)
            s = np.round(s, 4)
            for i in range(lo, hi):
                cols = np.nonzero(s[i - lo, i + 1:] >= thr)[0] + i + 1
                if cols.size:
                    out_a.extend([ids[i]] * cols.size)
                    out_b.extend(ids[cols])
                    out_s.extend(s[i - lo, cols])
        return pd.DataFrame({"id_a": pd.Series(out_a, dtype="int64"),
                             "id_b": pd.Series(out_b, dtype="int64"),
                             "cos_sim": pd.Series(out_s, dtype="float64")})

    out = (side.groupBy("cluster")
           .applyInPandas(_score_cluster,
                          "id_a long, id_b long, cos_sim double")
           .dropDuplicates(["id_a", "id_b"]))
    vecs.unpersist()
    return out


def silhouette_labels(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    quantize_dp: int = 4,
    round_dp: int = 4,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster label — the
    cluster-quality readout for SemDeDup/IVF partitions (Hruschka et
    al.'s simplified silhouette: a(i) = distance to OWN centroid,
    b(i) = distance to the nearest OTHER centroid, s = (b−a)/max(a,b);
    O(n·k) instead of the classic O(n²) pairwise form — the only
    variant that survives a 100 TB corpus).

    Cross-engine determinism contract: vector components quantize to
    ``quantize_dp``-dp integers q (exact on both engines); centroid
    components are the ONE division float(Σq)/float(n) of exact
    integers; the per-(row, label) distance folds (q − c)² strictly
    LEFT-TO-RIGHT in float64 — the same sequential order a DuckDB
    ``list_reduce`` mirror uses — so every intermediate double is
    bit-identical on any engine and any partitioning (the diffs are
    vector-scale-bounded: no magnitude ever grows with corpus size).
    Per-row silhouettes quantize to integer micro-units
    (half-away-from-zero, the gram_matrix rounding) and aggregate as
    exact BIGINT sums.

    Plan: ONE k×d-bounded centroid aggregate (map-side combined,
    collected — the documented bounded driver action, same as the
    k-means loop), then one Arrow-batched ``mapInPandas`` scoring pass
    that emits k-row PARTIAL sums per batch (the numpy matà-la
    gram_matrix — the interpreted HOF form of the same fold measured
    ~50× slower), and a k-row final aggregate. Rows with NULL vector or
    NULL label are dropped. Singleton-cluster rows score a = 0 (the
    simplified-variant convention). Output: (label, n_vecs, mean_sil),
    one row per label.
    """
    scale = 10 ** quantize_dp
    lab = F.col(label_col)
    base = (df.where(F.col(vec_col).isNotNull() & lab.isNotNull())
            .select(lab.alias("__lab"),
                    F.transform(
                        F.col(vec_col),
                        lambda x: F.round(x.cast("double") * scale, 0)
                        .cast("bigint")).alias("__q")))
    ex = base.select("__lab", F.posexplode("__q").alias("__p", "__x"))
    cent = (ex.groupBy("__lab", "__p")
            .agg(F.sum("__x").alias("__s"), F.count("*").alias("__n"))
            .collect())                      # k×d rows, bounded
    sums: dict = {}
    ns: dict = {}
    for r in cent:
        sums.setdefault(r["__lab"], {})[r["__p"]] = int(r["__s"])
        ns[r["__lab"]] = int(r["__n"])
    labels = sorted(sums)
    if len(labels) < 2:
        raise ValueError("silhouette_labels: need >= 2 labels "
                         f"(got {len(labels)})")
    dim = max(len(v) for v in sums.values())
    # centroid components in q-units: float(Σq)/float(n) — the same
    # two-step double rounding as SQL CAST(s AS DOUBLE)/CAST(n AS
    # DOUBLE) (exact-int true division would differ past 2^53)
    cmat = np.array([[float(sums[lv].get(p, 0)) / float(ns[lv])
                      for p in range(dim)] for lv in labels],
                    dtype=np.float64)
    lab_index = {lv: i for i, lv in enumerate(labels)}
    lab_field = base.schema["__lab"]
    from pyspark.sql.types import LongType, StructField, StructType
    out_schema = StructType([
        StructField("label", lab_field.dataType),
        StructField("__n", LongType()),
        StructField("__sm", LongType()),
    ])
    k = len(labels)
    fscale = float(scale)

    def _score(it):
        for pdf in it:
            if pdf.empty:
                continue
            Q = _stack(pdf["__q"])
            n_rows = Q.shape[0]
            dists = np.empty((n_rows, k), dtype=np.float64)
            for j in range(k):
                acc = np.zeros(n_rows, dtype=np.float64)
                for p in range(dim):
                    t = Q[:, p] - cmat[j, p]
                    acc = acc + t * t       # strict left-to-right fold
                dists[:, j] = np.sqrt(acc) / fscale
            own = np.array([lab_index[lv] for lv in pdf["__lab"]],
                           dtype=np.int64)
            rows = np.arange(n_rows)
            a = dists[rows, own]
            masked = dists.copy()
            masked[rows, own] = np.inf
            b = masked.min(axis=1)
            mx = np.maximum(a, b)
            s = np.where(mx > 0, (b - a) / np.where(mx > 0, mx, 1.0), 0.0)
            x = s * 1_000_000.0
            micro = (np.floor(np.abs(x) + 0.5)
                     * np.sign(x)).astype(np.int64)  # half-away (gram)
            g = pd.DataFrame({"label": pdf["__lab"].to_numpy(),
                              "__m": micro})
            agg = g.groupby("label", sort=False)["__m"] \
                .agg(["count", "sum"]).reset_index()
            yield pd.DataFrame({"label": agg["label"],
                                "__n": agg["count"].astype("int64"),
                                "__sm": agg["sum"].astype("int64")})

    partials = base.mapInPandas(_score, schema=out_schema)
    out = (partials.groupBy("label")
           .agg(F.sum("__n").cast("bigint").alias("n_vecs"),
                F.sum("__sm").alias("__sm")))
    from .lm import _nudged_round
    mean = _nudged_round(
        F.col("__sm") / F.lit(1_000_000.0) / F.col("n_vecs"), round_dp)
    return out.select("label", "n_vecs",
                      mean.cast("double").alias("mean_sil"))
