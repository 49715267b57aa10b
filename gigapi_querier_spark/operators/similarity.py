"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one pass over the table with the
query vector folded into the plan as a literal (no join, no shuffle until
the final top-k, which plans as TakeOrderedAndProject).

Scale path: sign-random-projection LSH — b hyperplanes → 2^b buckets;
candidates only within the probe's bucket, turning a full scan into a
bucket-pruned scan. Hyperplanes are passed in (deterministic), so results
are reproducible and oracle-checkable.

Vector math comes in two forms:

- JVM column expressions built from zip_with + aggregate (small-corpus
  ``cosine_topk``) — no Python worker round
  trip, but **interpreted** (higher-order functions are CodegenFallback);
- Arrow-batched pandas UDFs (``_cosine_udf``/``_bucket_udf``/
  ``_nearest_cid_udf``) that do the same math as one BLAS matrix op per
  batch — the hot-path form at scale. Measured ~10-30× faster than the
  interpreted fold at 64-dim; rounding stays JVM-side (``F.round``) so
  oracle parity is unaffected.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from gigapi_querier_spark.session import file_status


def _mat(vecs: pd.Series) -> np.ndarray:
    """Stack an Arrow list<float> series into an (n, d) float64 matrix."""
    return np.array([np.asarray(v, dtype=np.float64) for v in vecs])


#: below this input size the JVM expression path beats the Arrow round
#: trip. Spark's higher-order array functions evaluate INTERPRETED (no
#: whole-stage codegen): a 64-dim zip_with+aggregate fold costs ~20 µs/
#: row, vs ~120-150 ms FIXED for a Python-worker round trip whose BLAS
#: body is ~0.1 µs/row — crossover ≈ 4k vectors (~2 MB of float32[64]).
_VECTORIZE_BYTES = 2 * 1024 * 1024


def _input_bytes(df: DataFrame) -> int | None:
    """Total size of the frame's input files, None when unknown. Object-
    store inputs (s3a/hdfs/…) are sized through the Hadoop FileSystem API
    (``session.file_status``), so small object-store corpora also get the
    JVM kernel."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        return sum(file_status(df.sparkSession, f)[0] for f in files)
    except Exception:
        return None


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    The query vector is a plan literal → scan + per-row arithmetic +
    TakeOrderedAndProject; at 100 TB this is embarrassingly parallel with
    k rows per partition surviving to the driver.

    Two physical bodies, same result: corpora under ``_VECTORIZE_BYTES``
    compute the dot product as JVM ``zip_with``/``aggregate`` inside
    whole-stage codegen (no Python worker round trip — measured 2.7×
    faster at 2 k vectors); larger corpora use the Arrow-batched
    numpy/BLAS kernel, whose per-row cost is ~10× lower once the fixed
    worker cost amortizes.
    """
    qv = np.asarray([float(x) for x in query], dtype=np.float64)
    qn = float(np.sqrt(qv @ qv))

    nbytes = _input_bytes(df)
    if nbytes is not None and nbytes < _VECTORIZE_BYTES:
        v = F.col(vec_col).cast("array<double>")
        qlit = F.array(*[F.lit(float(x)) for x in qv])
        d = F.aggregate(
            F.zip_with(v, qlit, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        nrm = F.sqrt(
            F.aggregate(
                F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
            )
        )
        sim = F.round(d / (nrm * qn), decimals).alias("cosine_sim")
    else:

        @pandas_udf("double")
        def _cosine_udf(vecs: pd.Series) -> pd.Series:
            m = _mat(vecs)
            if m.size == 0:
                return pd.Series(np.zeros(0))
            norms = np.sqrt((m * m).sum(axis=1))
            return pd.Series((m @ qv) / (norms * qn))

        sim = F.round(_cosine_udf(F.col(vec_col)), decimals).alias("cosine_sim")
    return (
        df.select(F.col(id_col), sim)
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    decimals: int = 6,
) -> DataFrame:
    """Batch ANN: exact cosine top-k for EVERY query vector in one pass —
    the retrieval-evaluation workload (N probes against the corpus), not N
    sequential single-query scans.

    Plan: the (small) query set broadcasts to every partition inside a
    ``mapInPandas`` closure; each Arrow batch of corpus vectors computes
    sims for ALL queries as ONE (batch × dim) @ (dim × nq) BLAS multiply
    and emits only its per-query top-k candidates (k·nq rows per batch —
    a partial top-k, the map-side combine of retrieval). A final
    per-query window over the surviving candidates picks the global
    top-k. Shuffle volume is O(partitions · nq · k), never O(corpus).

    At 100 TB: corpus partitions stream, the only exchange is the tiny
    candidate set — same shape as a distributed IVF/HNSW serving tier's
    scatter-gather. ``queries`` must be collectable (it is the probe set).
    """
    from pyspark.sql import Window

    qrows = queries.select(query_id_col, query_vec_col).collect()
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    qmat = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])  # (nq, d)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    nq = len(qids)

    out_schema = f"{query_id_col} long, {id_col} long, cosine_sim double"

    def _partial_topk(batches):
        for pdf in batches:
            m = _mat(pdf[vec_col])
            if m.size == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            norms = np.sqrt((m * m).sum(axis=1))
            sims = (m @ qmat.T) / (norms[:, None] * qnorm[None, :])  # (n, nq)
            # per query: the batch's 2k best rows (margin so rounding-ties
            # at the k boundary can still resolve to the lowest id
            # globally, matching the oracle's deterministic order)
            kk = min(2 * k, sims.shape[0])
            part = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(qids, kk),
                    id_col: ids[part].T.reshape(-1),
                    "cosine_sim": np.take_along_axis(sims, part, axis=0).T.reshape(-1),
                }
            )

    candidates = df.select(id_col, vec_col).mapInPandas(_partial_topk, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(F.round(F.col("cosine_sim"), decimals)), F.col(id_col)
    )
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(F.col("cosine_sim"), decimals).alias("cosine_sim"),
        )
    )


def lsh_bucket(vec: Column, hyperplanes: Sequence[Sequence[float]]) -> Column:
    """Sign-random-projection bucket id: bit j = sign(vec · hyperplane_j).

    One Arrow batch → one (n, d) × (d, b) matrix multiply; sign bits fold
    into the integer bucket id with a power-of-two dot.
    """
    hmat = np.array([[float(x) for x in h] for h in hyperplanes], dtype=np.float64).T
    powers = np.array([1 << j for j in range(hmat.shape[1])], dtype=np.int64)

    @pandas_udf("int")
    def _bucket_udf(vecs: pd.Series) -> pd.Series:
        m = _mat(vecs)
        if m.size == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        bits = (m @ hmat) >= 0
        return pd.Series((bits @ powers).astype(np.int32))

    return _bucket_udf(vec)


def lsh_bucket_counts(
    df: DataFrame,
    hyperplanes: Sequence[Sequence[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Histogram of LSH buckets — the partition layout an ANN index would
    use (bucket == partition key at scale)."""
    return (
        df.select(lsh_bucket(F.col(vec_col), hyperplanes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    hyperplanes: Sequence[Sequence[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket (approximate: recall
    trades against the 2^b-fold scan reduction)."""
    qbucket = 0
    for j, h in enumerate(hyperplanes):
        if sum(float(x) * float(y) for x, y in zip(query, h)) >= 0:
            qbucket |= 1 << j
    bucketed = df.where(lsh_bucket(F.col(vec_col), hyperplanes) == F.lit(qbucket))
    return cosine_topk(bucketed, query, k=k, id_col=id_col, vec_col=vec_col, decimals=decimals)


def ivf_assign_expr(
    centroids: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
) -> Column:
    """Nearest-centroid id (squared-L2) as a pure column expression.

    Centroids arrive as literals → broadcast-free: the assignment is a
    deterministic function of the row (one map, no join, no shuffle). At
    100 TB the cluster id becomes the partition/bucket key for the index
    layout.
    """
    cids = np.array([int(cid) for cid, _ in centroids], dtype=np.int64)
    order = np.argsort(cids, kind="stable")  # ties in distance → lowest cid
    cids = cids[order]
    cmat = np.array(
        [[float(x) for x in vec] for _, vec in centroids], dtype=np.float64
    )[order]
    @pandas_udf("int")
    def _nearest_cid_udf(vecs: pd.Series) -> pd.Series:
        m = _mat(vecs)
        if m.size == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        # Full (v-c)^2 expansion (not the ||c||^2 - 2 v·c identity): same
        # float behavior as the elementwise oracle, so near-tie argmins
        # agree. n×k×d flops, vectorized — negligible per Arrow batch.
        d = ((m[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(cids[np.argmin(d, axis=1)].astype(np.int32))

    return _nearest_cid_udf(F.col(vec_col))


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    centroids: Sequence[tuple[int, Sequence[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """IVF-flat ANN: probe the ``n_probe`` clusters nearest the query and
    run exact cosine top-k only inside them — the classic recall/cost
    dial. Scan cost drops by ~len(centroids)/n_probe versus brute force.
    """

    def _l2sq(a: Sequence[float], b: Sequence[float]) -> float:
        return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))

    probes = [
        cid for cid, _ in sorted(centroids, key=lambda c: (_l2sq(query, c[1]), c[0]))
    ][:n_probe]
    # Nearest-centroid assignment is a deterministic function of the row,
    # so probe membership is an inline filter — ONE scan, zero joins/
    # shuffles before the final TakeOrderedAndProject. (Round 1 used a
    # left-semi join against a per-row assignment: two scans + a shuffle for a
    # value derivable in place — 16x the oracle's latency.) The Arrow
    # kernel stays even for small inputs: K centroids need K per-row L2
    # folds, and Spark's higher-order array functions evaluate
    # INTERPRETED (no codegen) — measured 2x slower than the Python
    # round trip already at K=8, unlike the 2-fold cosine case.
    candidates = df.where(
        ivf_assign_expr(centroids, vec_col=vec_col).isin([int(p) for p in probes])
    )
    return cosine_topk(
        candidates, query, k=k, id_col=id_col, vec_col=vec_col, decimals=decimals
    )


def neardup_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
    tile: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    Implemented as ``applyInPandas`` per block: each block's vectors form
    a matrix, pairwise cosine is one BLAS gram-matrix multiply — orders of
    magnitude faster than per-pair interpreted array expressions. Cost is
    sum(block²) FLOPs but only O(block) rows cross the shuffle. At 100 TB
    scale, block on an LSH bucket (lsh_bucket) instead of a label and the
    same plan holds: one shuffle on the bucket, numpy inside.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    blk_type = df.schema[block_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("blk", blk_type),
            StructField("cosine_sim", DoubleType()),
        ]
    )

    # Row-tile width for the gram multiply. A 20k-row block's FULL gram
    # is ~3.8 GB float64 and its triu index pair another ~7.6 GB —
    # allocating those per block thrashed memory so badly that sf10 ran
    # 359 s. Tiling bounds peak memory at tile×block (~170 MB) while the
    # FLOPs and the per-element arithmetic (dot / (norm·norm), rounded)
    # stay identical, so results are bit-for-bit unchanged.
    _TILE = max(1, tile)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        m = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt((m * m).sum(axis=1))
        n = len(ids)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        for s in range(0, n, _TILE):
            e = min(s + _TILE, n)
            # rows [s:e) vs columns [s:) — strictly-upper pairs only
            g = (m[s:e] @ m[s:].T) / np.outer(norms[s:e], norms[s:])
            sim = np.round(g, decimals)
            local_j = np.arange(n - s)
            local_i = np.arange(e - s)
            keep = (sim >= threshold) & (local_j[None, :] > local_i[:, None])
            ii, jj = np.nonzero(keep)
            # enforce id_a < id_b regardless of row order within the block
            ia, ib = ids[s + ii], ids[s + jj]
            swap = ia > ib
            ia[swap], ib[swap] = ib[swap], ia[swap]
            out_a.append(ia)
            out_b.append(ib)
            out_s.append(sim[keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], np.int64),
                "blk": pdf[block_col].iloc[0] if n else None,
                "cosine_sim": (
                    np.concatenate(out_s) if out_s else np.array([], np.float64)
                ),
            }
        )

    return (
        df.select(F.col(id_col), F.col(block_col), F.col(vec_col))
        .groupBy(block_col)
        .applyInPandas(per_block, out_schema)
    )
