"""Scalar quantization (SQ8): compress each vector dimension to one uint8
code against per-dimension global min/max, search on dequantized codes, and
refine the top candidates exactly.

Not in the reference (HNSW is its only index, hnsw.cc:94-285) — SQ8 is the
simplest member of the compressed-index family and the usual first step
before PQ: 64 float32 dims (256 B) become 64 bytes with NO training beyond
a one-pass min/max, reconstruction error bounded by scale/2 per dimension,
and the codes stay directly usable for distance math (dequantize + GEMM).

Scale shape: the "codebook" is 2 arrays of ``dim`` doubles computed by ONE
map-side-combinable aggregation over the corpus (no driver sample, no
training iterations — exact global extents in a single scan); encoding is a
pure codegen projection (transform over the array, no Python); search
mirrors the PQ path — per-partition Arrow GEMM local top-k, window merge,
broadcast-candidate exact refine. Recall-gated against the exact path, and
the quantization transform itself is deterministic, so the per-dimension
error audit IS hash-checked against DuckDB (unlike the trained families).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from vectordb_explorations_spark.functions.rounding import r6, round6
from vectordb_explorations_spark.operators import ann as ANN
from vectordb_explorations_spark.operators.ann import collect_query_batch

SQ_LEVELS = 255  # codes 0..255


def sq_train(vectors: DataFrame, dim: int,
             vec_col: str = "embedding") -> tuple[np.ndarray, np.ndarray]:
    """Exact per-dimension (min, max) over the corpus in ONE combinable
    aggregation: posexplode fans out to (pos, value) and the grouped
    min/max reduces to ``dim`` rows per partition map-side before the
    shuffle (a 2*dim-column single-row agg compiles a giant codegen
    expression instead — measurably slower at fixture scale for the same
    scan). Unlike the k-means families there is no sample and no seed:
    the quantizer is a pure function of the corpus extents."""
    rows = (vectors.select(F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("pos")
            .agg(F.min(F.col("v").cast("double")).alias("mn"),
                 F.max(F.col("v").cast("double")).alias("mx"))
            .collect())
    assert len(rows) == dim, (len(rows), dim)
    mins = np.empty(dim, dtype=np.float64)
    maxs = np.empty(dim, dtype=np.float64)
    for r in rows:
        mins[r["pos"]] = r["mn"]
        maxs[r["pos"]] = r["mx"]
    return mins, maxs


def _scales(mins: np.ndarray, maxs: np.ndarray) -> np.ndarray:
    span = maxs - mins
    # degenerate (constant) dimensions quantize to code 0 with scale 0
    return np.where(span > 0, span / SQ_LEVELS, 0.0)


def sq_encode(vectors: DataFrame, mins: np.ndarray, maxs: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding",
              keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Quantize to ARRAY<INT> codes entirely JVM-side: two zip_with passes
    against literal min/scale arrays — whole-stage codegen, no Python in
    the encode path (the PQ encoder needs an argmin GEMM; SQ8 does not).
    zip_with references each literal array once per row; the
    transform-with-index formulation re-evaluated the 64-literal
    CreateArray per ELEMENT and compiled 2x slower cold.
    code = clip(floor((v - min)/scale + 0.5), 0, 255) — the binary
    half-up round both engines compute identically."""
    scales = _scales(mins, maxs)
    mins_lit = F.array(*[F.lit(float(v)) for v in mins])
    scales_lit = F.array(*[F.lit(float(v)) for v in scales])
    delta = F.zip_with(F.col(vec_col), mins_lit,
                       lambda x, mn: x.cast("double") - mn)
    codes = F.zip_with(
        delta, scales_lit,
        lambda d, sc: (F.when(sc > 0,
                              F.least(F.lit(SQ_LEVELS).cast("long"),
                                      F.greatest(F.lit(0).cast("long"),
                                                 F.floor(d / sc + F.lit(0.5)))))
                       .otherwise(F.lit(0).cast("long")).cast("int")))
    return vectors.select(id_col, *keep_cols, codes.alias("codes"))


def sq_search(codes_df: DataFrame, mins: np.ndarray, maxs: np.ndarray,
              queries: DataFrame, k: int,
              refine_with: DataFrame | None = None, refine_factor: int = 5,
              id_col: str = "vec_id", vec_col: str = "embedding",
              qid_col: str = "query_id", qvec_col: str = "query_vec") -> DataFrame:
    """Approximate search on the dequantized codes: each Arrow batch
    dequantizes (codes * scale + min) and scores all queries in one GEMM;
    the per-partition pools, window merge and optional exact refine are
    ann._flat_search's (same shape as pq_search)."""
    scales = _scales(mins, maxs)
    qrows = collect_query_batch(queries, qid_col, qvec_col)
    qids = [int(r[0]) for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)  # (Q, dim)
    qsq = (qmat ** 2).sum(-1)  # (Q,)

    def sq_d2(pdf):
        deq = np.asarray(list(pdf["codes"]), dtype=np.float64) * scales + mins
        # (Q, N) squared distances via ||q||^2 - 2 q.deq + ||deq||^2
        return qsq[:, None] - 2.0 * qmat @ deq.T + (deq ** 2).sum(-1)

    return ANN._flat_search(codes_df, qids, qmat, k, sq_d2, refine_with,
                            refine_factor, id_col=id_col, vec_col=vec_col,
                            qid_col=qid_col, qvec_col=qvec_col)


def sq_quantization_audit(vectors: DataFrame,
                          vec_col: str = "embedding") -> DataFrame:
    """Declared (hash-checked) per-dimension quantization audit: extents,
    scale, mean code, and mean absolute reconstruction error — the
    deterministic face of the SQ8 family (recall is gated in pytest; this
    transform has no randomness so it IS oracle-comparable).

    Scale shape: one explode (fan-out = dim), then a single hash exchange
    on dim_id shared by the extent window and the final aggregation (AQE
    reuses the partitioning); everything is codegen — no Python, no
    driver pass, no second corpus scan."""
    e = vectors.select(F.posexplode(vec_col).alias("pos", "v0"))
    e = e.select((F.col("pos") + 1).alias("dim_id"),
                 F.col("v0").cast("double").alias("v"))
    w = Window.partitionBy("dim_id")
    dmin = F.min("v").over(w)
    dmax = F.max("v").over(w)
    sc = (dmax - dmin) / F.lit(float(SQ_LEVELS))
    code = F.least(F.lit(SQ_LEVELS).cast("long"),
                   F.greatest(F.lit(0).cast("long"),
                              F.floor((F.col("v") - dmin) / sc + F.lit(0.5))))
    code = F.when(dmax > dmin, code).otherwise(F.lit(0).cast("long"))
    err = F.abs(dmin + code.cast("double") * sc - F.col("v"))
    c = e.select("dim_id", "v", dmin.alias("dmin"), dmax.alias("dmax"),
                 sc.alias("sc"), code.alias("code"), err.alias("err"))
    return (c.groupBy("dim_id")
            .agg(round6(F.min("v")).alias("d_min"),
                 round6(F.max("v")).alias("d_max"),
                 round6(F.first("sc")).alias("scale"),
                 round6(F.avg("code")).alias("avg_code"),
                 round6(F.avg("err")).alias("avg_abs_err"))
            .orderBy("dim_id"))


def sq_quantization_audit_oracle() -> str:
    return f"""
WITH e AS (
  SELECT generate_subscripts(embedding, 1) AS dim_id,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), s AS (
  SELECT dim_id, v,
         min(v) OVER (PARTITION BY dim_id) AS dmin,
         max(v) OVER (PARTITION BY dim_id) AS dmax
  FROM e
), c AS (
  SELECT dim_id, v, dmin, dmax,
         (dmax - dmin) / {SQ_LEVELS}.0 AS sc,
         CASE WHEN dmax > dmin
              THEN least({SQ_LEVELS}, greatest(0,
                   CAST(floor((v - dmin) / ((dmax - dmin) / {SQ_LEVELS}.0)
                              + 0.5) AS BIGINT)))
              ELSE 0 END AS code
  FROM s
)
SELECT CAST(dim_id AS INT) AS dim_id,
       {r6('min(v)')} AS d_min,
       {r6('max(v)')} AS d_max,
       {r6('any_value(sc)')} AS scale,
       {r6('avg(code)')} AS avg_code,
       {r6('avg(abs(dmin + code * sc - v))')} AS avg_abs_err
FROM c GROUP BY dim_id ORDER BY dim_id
"""

# ---- IVF-SQ8: coarse k-means routing over scalar-quantized lists ----
# FAISS's IVF<n>,SQ8 composite; its refine anchor is every IVF code's.
IVFSQ_REFINE_FRACTION = ANN.IVF_REFINE_FRACTION


def ivfsq_build(vectors: DataFrame, num_centroids: int = 16, seed: int = 42,
                dim: int = 64, id_col: str = "vec_id",
                vec_col: str = "embedding"
                ) -> tuple[DataFrame, np.ndarray, np.ndarray, np.ndarray]:
    """IVF routing over SQ8 codes: k-means cells prune which lists a query
    scans (like HNSW's upper layers route the walk, hnsw.cc:150-156), and
    within a probed list the scan reads 1-byte codes, not float vectors.
    Returns (codes_df[id, list_id, codes], centroids, mins, maxs).

    Unlike IVF-PQ there is no residual encoding: SQ8's per-dimension
    extents are GLOBAL (one combinable min/max agg over the raw table —
    computing them from the assignment would scan the assign_n-replicated
    rows for the same answer), so the quantizer is shared across lists and
    a vector replicated into two lists stores the same codes. Build =
    ivf_build's sampled k-means + distributed GEMM assignment, one extents
    agg, one codegen encode projection — no extra corpus pass vs IVF.
    """
    assigned, centroids = ANN.ivf_build(vectors, num_centroids=num_centroids,
                                        seed=seed, vec_col=vec_col,
                                        id_col=id_col)
    mins, maxs = sq_train(vectors, dim, vec_col)
    codes = sq_encode(assigned, mins, maxs, id_col=id_col, vec_col=vec_col,
                      keep_cols=("list_id",))
    return codes, centroids, mins, maxs


def _sq_code(mins: np.ndarray, maxs: np.ndarray) -> ANN.IVFCode:
    """The IVF-SQ8 code: rows store SQ8 codes against GLOBAL extents, so
    a vector's replicas carry identical codes and tie exactly. Each Arrow
    batch dequantizes once (codes * scale + min) and keeps its row norms;
    a list scores ||q||^2 - 2 q.deq + ||deq||^2 per probing query."""
    scales = _scales(mins, maxs)

    def bind(qmat, probe):
        qsq = (qmat ** 2).sum(-1)

        def decode(col):
            deq = np.asarray(list(col), dtype=np.float64) * scales + mins
            return deq, (deq ** 2).sum(-1)

        def kernel(blk, qis, pairs):
            deq, rsq = blk
            out = np.empty((len(qis), len(deq)))
            for r, qi in enumerate(qis):
                # identical per-row arithmetic to the joined shape
                # (einsum row-dot against a stride-0 query view):
                # bit-equal distances
                q = np.broadcast_to(qmat[qi], deq.shape)
                d2 = qsq[qi] - 2.0 * np.einsum("ij,ij->i", q, deq) + rsq
                out[r] = np.sqrt(np.maximum(d2, 0.0))
            return out
        return decode, kernel

    def encode(assigned, id_col, vec_col):
        return sq_encode(assigned, mins, maxs, id_col=id_col,
                         vec_col=vec_col, keep_cols=("list_id",))
    return ANN.IVFCode("codes", "ivfsq", encode, bind)


def ivfsq_search(codes_df: DataFrame, centroids: np.ndarray,
                 mins: np.ndarray, maxs: np.ndarray,
                 queries: DataFrame, k: int, nprobe: int = 8,
                 refine_with: DataFrame | None = None,
                 refine_factor: int | str = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id",
                 qvec_col: str = "query_vec",
                 corpus_n: int | None = None) -> DataFrame:
    """Probe the ``nprobe`` nearest centroid lists, score DEQUANTIZED codes
    within them, merge, optionally exact-refine — the SQ8 binding of the
    shared IVF path (``ann._ivf_search``)."""
    return ANN._ivf_search(
        codes_df, *ANN._ivf_batch(queries, centroids, nprobe, qid_col,
                                  qvec_col),
        k, _sq_code(mins, maxs), refine_with, refine_factor, corpus_n,
        id_col, vec_col, qid_col, qvec_col)


def ivfsq_persist_partitioned(codes_df: DataFrame, path: str,
                              id_col: str = "vec_id") -> None:
    """Persist IVF-SQ8 codes as the shared IVF layout — the 1-byte twin
    of ivfpq_persist_partitioned: what a probe reads is nprobe/C of a
    table already 4x narrower than the float32 vectors."""
    ANN._ivf_persist(codes_df, path, "codes", id_col)


def ivfsq_append_partitioned(path: str, centroids: np.ndarray,
                             mins: np.ndarray, maxs: np.ndarray,
                             new_vectors: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> None:
    """Append a new batch to the IVF-SQ8 layout against the FROZEN
    centroids and global extents (``ann._ivf_append``). Extent drift (a
    batch outside the trained min/max clips to the range edge) is the
    documented SQ8 trade — re-train + rewrite when the quantization
    audit says so."""
    ANN._ivf_append(path, centroids, new_vectors, _sq_code(mins, maxs),
                    id_col=id_col, vec_col=vec_col)


def ivfsq_probe_partitioned(spark, path: str, centroids: np.ndarray,
                            mins: np.ndarray, maxs: np.ndarray,
                            queries: DataFrame, k: int, nprobe: int = 8,
                            refine_with: DataFrame | None = None,
                            refine_factor: int | str = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            qid_col: str = "query_id",
                            qvec_col: str = "query_vec") -> DataFrame:
    """Serve IVF-SQ8 from the hive layout: the shared pruned probe
    (``ann._ivf_probe``) over dequantized-code distances."""
    return ANN._ivf_probe(spark, path, centroids, queries, k, nprobe,
                          _sq_code(mins, maxs), refine_with, refine_factor,
                          id_col, vec_col, qid_col, qvec_col)
