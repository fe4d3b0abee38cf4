"""Product quantization (PQ): compress vectors to per-subspace code ids and
search with asymmetric distance computation (ADC) + exact refine.

Not in the reference (HNSW is its only index, hnsw.cc:94-285) — PQ is the
standard memory-side companion at scale: 64 float32 dims (256 B) become
``m`` one-byte codes, so a 100 TB embedding corpus's index fits in a few
hundred GB and the ADC scan is table lookups, not float math.

Scale shape: codebooks are tiny ((m, k, dsub) ≈ KBs) and train on a driver
sample (standard practice — quality depends on distribution, not corpus
size); encoding is an Arrow-batched GEMM per partition; search broadcasts
per-query lookup tables and does local top-k before the global merge, like
the other ANN paths. Recall-gated against the exact path, never
hash-matched (SURVEY §0).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.operators import ann as ANN
from vectordb_explorations_spark.operators.ann import collect_query_batch


# ---- corpus-adaptive exact-refine shortlist (round 8) ----
# The 1M probe caught PQ's fixed refine_factor in the same decay family
# as the LSH bucket_cap and the BQ cascade shortlist: rf*k exact-refine
# candidates are a CONSTANT count, so their corpus fraction shrinks as N
# grows and code collisions push true neighbors past the cutoff —
# measured PQ 0.958@200k(rf=30) -> 0.812@1M(rf=30) -> 0.957@1M(rf=100);
# IVF-PQ 0.878@1M(rf=10) -> 0.961@1M(rf=50). Candidate-fraction math:
# hold rf*k/N at the 200k-calibrated anchor. refine_factor='auto'
# resolves from the code-table size; a fixed rf below the fraction
# warns loudly instead of silently degrading (the LSH/BQ pattern).
PQ_REFINE_FRACTION = 300 / 200_000     # rf=30 * k=10 at the 200k anchor
IVFPQ_REFINE_FRACTION = ANN.IVF_REFINE_FRACTION  # shared by every IVF code


def adaptive_refine_factor(n: int, k: int, fraction: float,
                           floor: int = 10) -> int:
    """refine_factor holding rf*k/N at the calibrated fraction."""
    return max(floor, int(np.ceil(fraction * n / max(1, k))))


# Corpus sizes memoized per code-table DataFrame object: the steady-state
# serving pattern calls search repeatedly on ONE cached index table, and a
# count() job per call is a job-scheduling round-trip in the hot path
# (measured as the r8 bench regression: ann_pq_refined_batch100 0.843 ->
# 0.995 s). Weak keys so a dropped index frees its entry.
import weakref

_CORPUS_N_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def invalidate_corpus_n(codes_df: DataFrame | None = None) -> None:
    """Drop the memoized corpus count for ``codes_df`` (or ALL entries
    when called with no argument) — for sources whose listing CAN
    refresh under one object (catalog tables after REFRESH TABLE,
    in-memory unions rebound to the same name); the staleness contract
    is :func:`_corpus_rows`'s. The engine's own append and delete
    helpers call it automatically."""
    if codes_df is None:
        _CORPUS_N_CACHE.clear()
    else:
        _CORPUS_N_CACHE.pop(codes_df, None)


def _corpus_rows(codes_df: DataFrame, replication: int) -> int:
    """Corpus row count of a code table, ONE count per DataFrame lifetime.

    STALENESS CONTRACT: the memo lives as long as the DataFrame object —
    which is also exactly how long the object's FILE LISTING lives (a
    parquet DataFrame snapshots its file index at creation), so the memo
    can only disagree with what its DataFrame would count for sources
    whose listing refreshes in place (catalog tables after REFRESH
    TABLE). Growing-path serving must re-read the path per probe (the
    ``*_probe_partitioned`` helpers do) or pass ``corpus_n=``; appends
    made through the engine's own helpers (``*_append_partitioned``)
    clear this cache themselves, and :func:`invalidate_corpus_n` does it
    manually. Even after invalidation, a long-lived object over a growing
    path reports the old N (and old rows!).

    ``replication`` is the known per-vector row multiplicity (IVF-family
    code tables carry assign_n rows per vector — counting raw rows would
    double N, resolving 'auto' to twice the calibrated shortlist and
    firing the fixed-rf warning spuriously)."""
    n = _CORPUS_N_CACHE.get(codes_df)
    if n is None:
        n = codes_df.count() // max(1, int(replication))
        _CORPUS_N_CACHE[codes_df] = n
    return n


def _resolve_refine_factor(refine_factor, codes_df: DataFrame, k: int,
                           fraction: float, family: str,
                           corpus_n: int | None = None,
                           replication: int = 1) -> int:
    """Resolve ``refine_factor`` ('auto' or fixed int) against the corpus
    size. ``corpus_n`` — when the caller carries it as index metadata —
    makes resolution job-free; otherwise one memoized count per code
    table (never one per search call)."""
    import warnings
    n = corpus_n if corpus_n is not None else _corpus_rows(
        codes_df, replication)
    if refine_factor == "auto":
        return adaptive_refine_factor(n, k, fraction)
    rf = int(refine_factor)
    if rf * k < fraction * n:
        warnings.warn(
            f"{family} refine_factor={rf} gives {rf * k} exact-refine "
            f"candidates = {rf * k / n:.3%} of the corpus (N={n:,}) — "
            f"below the calibrated {fraction:.3%}; recall decays with N "
            f"at a fixed shortlist (PQ measured 0.958->0.812 from 200k "
            f"to 1M). Pass refine_factor='auto' (resolves to "
            f"{adaptive_refine_factor(n, k, fraction)}) or accept "
            f"degraded recall.", RuntimeWarning, stacklevel=3)
    return rf


def _kmeans_1d(data: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Tiny deterministic Lloyd's k-means for one subspace: (n, dsub) → (k, dsub).
    k-means++-style seeding from a seeded RNG; empty clusters respawn on the
    farthest point so all k codes stay live."""
    rng = np.random.RandomState(seed)
    cents = data[rng.choice(len(data), size=1)]
    # incremental k-means++: track the running min-distance to the chosen
    # set; each new centroid costs one (n, d) pass instead of re-scoring
    # against every centroid so far.
    d2 = ((data - cents[0]) ** 2).sum(-1)
    while len(cents) < k:
        p = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = data[rng.choice(len(data), p=p)]
        cents = np.vstack([cents, nxt])
        d2 = np.minimum(d2, ((data - nxt) ** 2).sum(-1))
    for _ in range(iters):
        # argmin ||x-c||² = argmin(-2xc + ||c||²) — GEMM, no (n,k,d) temp
        assign = np.argmin(
            -2.0 * data @ cents.T + (cents ** 2).sum(-1), axis=1)
        # vectorized centroid update: per-cluster boolean masks cost
        # O(k·n) passes (the round-2 bench hot spot at m=16, k=64);
        # scatter-add + bincount is two passes total
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, data)
        live = counts > 0
        cents[live] = sums[live] / counts[live, None]
        if not live.all():
            far = np.argmax(((data - cents[assign]) ** 2).sum(-1))
            cents[~live] = data[far]
    return cents


def pq_train(vectors: DataFrame, m_subspaces: int = 8, k_codes: int = 32,
             seed: int = 42, sample_n: int = 4096,
             vec_col: str = "embedding",
             id_col: str = "vec_id") -> np.ndarray:
    """Train per-subspace codebooks on a bounded driver-side sample.
    Returns (m, k, dsub) float64.

    The fit sample is xxhash64(id)-ordered before the limit: an unordered
    LIMIT is partition-layout-dependent, which made codebooks (and bench
    recalls) non-reproducible across runs (round-1 ADVICE); hash order is
    deterministic AND unbiased (an id-prefix sample correlates with the
    data when ids encode e.g. labels). orderBy+limit plans as
    TakeOrderedAndProject — no global sort materializes."""
    sample = [r[0] for r in
              vectors.select(id_col, vec_col)
              .orderBy(F.xxhash64(F.col(id_col)), id_col)
              .limit(sample_n).select(vec_col).collect()]
    return _pq_fit(np.asarray(sample, dtype=np.float64), m_subspaces,
                   k_codes, seed)


def _pq_fit(mat: np.ndarray, m: int, k_codes: int,
            seed: int) -> np.ndarray:
    """(m, k, dsub) codebooks: one seeded k-means per subspace of the
    (n, dim) training sample (raw vectors or IVF residuals)."""
    assert mat.shape[1] % m == 0, (mat.shape[1], m)
    dsub = mat.shape[1] // m
    return np.stack([
        _kmeans_1d(mat[:, s * dsub:(s + 1) * dsub], k_codes, seed + s)
        for s in range(m)])


def _pq_assign(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(N, m) nearest-code ids per subspace — the argmin GEMM shared by
    pq_encode and _ivfpq_encode."""
    m, _, dsub = codebooks.shape
    codes = np.empty((len(mat), m), dtype=np.int32)
    for s in range(m):
        sub = mat[:, s * dsub:(s + 1) * dsub]
        # ||x - c||² argmin via -2xc + ||c||² (||x||² constant in argmin)
        d = -2.0 * sub @ codebooks[s].T + (codebooks[s] ** 2).sum(-1)
        codes[:, s] = np.argmin(d, axis=1)
    return codes


def pq_encode(vectors: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Encode every vector to its m nearest-code ids (Arrow-batched argmin
    GEMM per subspace). Output is (id, codes ARRAY<INT>) — the narrow
    representation that replaces the vectors in the scan."""
    import pandas as pd

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])

    def enc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = _pq_assign(
                np.asarray(list(pdf[vec_col]), dtype=np.float64), codebooks)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "codes": list(codes.tolist())})

    return vectors.select(id_col, vec_col).mapInPandas(enc, schema=schema)


def pq_search(codes_df: DataFrame, codebooks: np.ndarray, queries: DataFrame,
              k: int, refine_with: DataFrame | None = None,
              refine_factor: int | str = 5,
              id_col: str = "vec_id", vec_col: str = "embedding",
              qid_col: str = "query_id", qvec_col: str = "query_vec",
              corpus_n: int | None = None) -> DataFrame:
    """ADC search: per query, the (m, k) lookup table of exact
    query-subvector→code distances broadcasts in the UDF closure; scoring a
    vector is m table lookups (scan, merge and refine: ann._flat_search).

    With ``refine_with`` (the original vectors), the top candidates×
    ``refine_factor`` are re-scored exactly and re-ranked — the standard
    ADC-then-refine pipeline. ``refine_factor='auto'`` holds the
    candidate fraction rf*k/N at the 200k-calibrated anchor (the 1M
    probe measured the fixed-rf decay: 0.958 -> 0.812 at rf=30); a
    fixed rf below the fraction warns (see adaptive_refine_factor).
    """
    if refine_with is not None:
        refine_factor = _resolve_refine_factor(
            refine_factor, codes_df, k, PQ_REFINE_FRACTION, "pq",
            corpus_n=corpus_n)
    m, kc, dsub = codebooks.shape
    qrows = collect_query_batch(queries, qid_col, qvec_col)
    qids = [int(r[0]) for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    # (Q, m, kc) squared-distance LUTs
    luts = np.stack([
        ((qmat[:, s * dsub:(s + 1) * dsub][:, None, :]
          - codebooks[s][None, :, :]) ** 2).sum(-1)
        for s in range(m)], axis=1)

    def adc(pdf):
        codes = np.asarray(list(pdf["codes"]), dtype=np.int64)  # (N, m)
        # (Q, N): sum over subspaces of LUT[q, s, codes[n, s]]
        d2 = np.zeros((len(qids), len(codes)))
        for s in range(m):
            d2 += luts[:, s, :][:, codes[:, s]]
        return d2

    return ANN._flat_search(codes_df, qids, qmat, k, adc, refine_with,
                            refine_factor, id_col=id_col, vec_col=vec_col,
                            qid_col=qid_col, qvec_col=qvec_col)


# ---------------- IVF-PQ composite (route coarse, ADC-scan residuals) ---

def ivfpq_build(vectors: DataFrame, num_centroids: int = 16,
                m_subspaces: int = 16, k_codes: int = 64, seed: int = 42,
                sample_n: int = 4096,
                id_col: str = "vec_id", vec_col: str = "embedding"):
    """IVF-PQ: the serving-index composite — a coarse k-means router over
    PQ-compressed RESIDUALS (vec - its list centroid), one shared codebook
    set across lists (standard FAISS IVFPQ layout). At 100 TB this is the
    shape that actually serves: a probe touches nprobe lists' codes (a
    bounded fraction of a 64-byte-per-vector index), never the corpus.

    Build: ivf_build's driver-sample coarse fit + distributed GEMM
    assignment; residual codebooks train on a bounded hash-ordered driver
    sample of residuals; encode is one Arrow pass over the assigned rows.
    Returns (codes_df(vec_id, list_id, codes), centroids, codebooks)."""
    assigned, centroids = ANN.ivf_build(vectors, num_centroids, seed=seed,
                                        vec_col=vec_col, id_col=id_col)
    # residual fit sample: draw hash-ordered RAW vectors (plans as
    # TakeOrderedAndProject on the narrow scan) and assign the sample
    # driver-side against the already-fitted centroids — sampling from
    # `assigned` instead would execute the full-corpus assignment pass
    # just to keep 4096 rows (measured as most of the build's wall time;
    # at 100 TB it is a whole extra corpus pass). Both replicas of each
    # sampled vector contribute a residual, matching ivf_build's
    # assign_n=2 replication in the encoded population.
    an = ANN.IVF_ASSIGN_N  # the replication ivf_build encodes with
    svecs = (vectors.orderBy(F.xxhash64(F.col(id_col)), id_col)
             .limit(max(1, sample_n // an)).select(vec_col).collect())
    smat = np.asarray([r[0] for r in svecs], dtype=np.float64)
    d_s = -2.0 * smat @ centroids.T + (centroids ** 2).sum(-1)
    near = np.argsort(d_s, axis=1)[:, :an]  # nearest-first, as ivf_assign
    resid = np.concatenate([smat - centroids[near[:, j]]
                            for j in range(an)])
    codebooks = _pq_fit(resid, m_subspaces, k_codes, seed)

    codes_df = _ivfpq_encode(assigned, centroids, codebooks,
                             id_col, vec_col)
    return codes_df, centroids, codebooks


def _ivfpq_encode(assigned: DataFrame, centroids: np.ndarray,
                  codebooks: np.ndarray,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """One Arrow pass: residual (vec - list centroid) -> per-subspace
    argmin codes. Shared by the full build AND incremental append, so
    appended codes are bit-identical to what a rebuild with the same
    centroids/codebooks would produce."""
    import pandas as pd

    bc_cent = assigned.sparkSession.sparkContext.broadcast(centroids)
    bc_books = assigned.sparkSession.sparkContext.broadcast(codebooks)
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("list_id", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])

    def enc(batches):
        C, B = bc_cent.value, bc_books.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            L = pdf["list_id"].to_numpy(dtype=np.int64)
            codes = _pq_assign(X - C[L], B)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "list_id": pdf["list_id"],
                                "codes": list(codes.tolist())})

    return (assigned.select(id_col, vec_col, "list_id")
            .mapInPandas(enc, schema=schema))


def _pq_code(centroids: np.ndarray, codebooks: np.ndarray) -> ANN.IVFCode:
    """IVF-PQ rows store residual (vec - list centroid) PQ codes; a
    (query, probed list) pair scores against the LUT of the residual
    query (q - centroid). The LUT block is Q x nprobe x (m, k) doubles —
    megabytes for a 100-query batch — and ships in the UDF closure;
    probed code rows never carry vectors."""
    m, kc, dsub = codebooks.shape
    marange = np.arange(m)

    def bind(qmat, probe):
        luts = np.stack([
            np.stack([((r[s * dsub:(s + 1) * dsub][None, :]
                        - codebooks[s]) ** 2).sum(-1)
                      for s in range(m)])  # (m, kc)
            for r in (qmat[qi] - centroids[li]
                      for qi in range(len(qmat)) for li in probe[qi])])

        def decode(col):
            return (np.asarray(list(col), dtype=np.int64),)  # (N, m)

        def kernel(blk, qis, pairs):
            # d2[q, n] = sum_s LUT[pair[q], s, c[n, s]] — same gather +
            # length-m reduce as the joined shape: bit-equal distances
            d2 = luts[pairs][:, marange[None, :], blk[0]].sum(-1)
            return np.sqrt(np.maximum(d2, 0.0))
        return decode, kernel

    def encode(assigned, id_col, vec_col):
        return _ivfpq_encode(assigned, centroids, codebooks, id_col, vec_col)
    return ANN.IVFCode("codes", "ivfpq", encode, bind)


def ivfpq_search(codes_df: DataFrame, centroids: np.ndarray,
                 codebooks: np.ndarray, queries: DataFrame, k: int,
                 nprobe: int = 8, refine_with: DataFrame | None = None,
                 refine_factor: int | str = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id",
                 qvec_col: str = "query_vec",
                 corpus_n: int | None = None) -> DataFrame:
    """Probe the nprobe nearest lists per query, ADC-score their residual
    codes, merge, optionally exact-refine — the PQ binding of the shared
    IVF path (``ann._ivf_search``, which also documents the refine
    policy)."""
    return ANN._ivf_search(
        codes_df, *ANN._ivf_batch(queries, centroids, nprobe, qid_col,
                                  qvec_col),
        k, _pq_code(centroids, codebooks), refine_with, refine_factor,
        corpus_n, id_col, vec_col, qid_col, qvec_col)


# ---- partitioned serving for the compressed composite (round 9) ----
# At 100 TB this is the configuration you'd serve: probe-pruned file
# listing over 16-byte codes instead of 256-byte vectors, so the scan
# that survives is nprobe/C of the INDEX bytes, already 16x smaller than
# the corpus. Layout, sidecar and probe are the shared IVF ones (ann.py).

def _read_corpus_meta(path: str) -> int | None:
    """The corpus count of a persisted IVF layout's sidecar (None when
    absent), read through the active session's Hadoop FS."""
    from pyspark.sql import SparkSession
    meta = ANN._ivf_meta(SparkSession.active(), path)
    return None if meta is None else int(meta["corpus_n"])


def ivfpq_persist_partitioned(codes_df: DataFrame, path: str,
                              id_col: str = "vec_id") -> None:
    """Persist IVF-PQ codes as the shared IVF layout: each inverted list
    of m-byte codes is its own directory, plus the sidecar."""
    ANN._ivf_persist(codes_df, path, "codes", id_col)


def ivfpq_append_partitioned(path: str, centroids: np.ndarray,
                             codebooks: np.ndarray,
                             new_vectors: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> None:
    """Append a new batch to the IVF-PQ layout against the FROZEN
    centroids and residual codebooks (``ann._ivf_append``)."""
    ANN._ivf_append(path, centroids, new_vectors,
                    _pq_code(centroids, codebooks), id_col=id_col,
                    vec_col=vec_col)


def ivfpq_probe_partitioned(spark, path: str, centroids: np.ndarray,
                            codebooks: np.ndarray, queries: DataFrame,
                            k: int, nprobe: int = 8,
                            refine_with: DataFrame | None = None,
                            refine_factor: int | str = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            qid_col: str = "query_id",
                            qvec_col: str = "query_vec") -> DataFrame:
    """Serve IVF-PQ from the hive layout: the shared pruned probe
    (``ann._ivf_probe``) over ADC distances."""
    return ANN._ivf_probe(spark, path, centroids, queries, k, nprobe,
                          _pq_code(centroids, codebooks), refine_with,
                          refine_factor, id_col, vec_col, qid_col,
                          qvec_col)
