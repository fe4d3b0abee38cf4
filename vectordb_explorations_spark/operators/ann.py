"""Approximate nearest-neighbor search — the Spark-native re-expression of
the reference's HNSW index (hnsw.cc:94-285).

The reference serves online point inserts into a single in-process graph;
Spark is batch, so the design is **bulk build + partition-routed search**
(SURVEY §7 M3, BASELINE.json "DataFrame bulk indexing"):

1. ``random_hyperplane_lsh`` — signed projections onto deterministic
   hyperplanes → bucket id. Build is a narrow map (no shuffle); search
   probes only matching buckets (the relational analog of HNSW's layer
   descent: both prune the search space before scoring).
2. ``ivf_*`` — k-means coarse quantizer (MLlib), nprobe-limited search.
3. ``hnsw_*`` (operators/hnsw.py) — faithful per-partition graphs.

ANN results are stochastic-by-construction in the reference (seeded random
levels, hnsw.cc:140-145); here the accelerators are deterministic given the
seed, but they are still *approximate* — validated by recall@k against the
exact path (operators/knn.py), never by value hash (SURVEY §0, §5).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.functions.vectors import l2_distance_sql
from vectordb_explorations_spark.schemas import EMBEDDING_DIM


# ---------------- scale-adaptive candidate policy (r7 verdict item 3) --
#
# The 200k/1M probes (SCALE_NOTES) measured WHY a fixed bucket_cap decays
# recall: hot-bucket refinement bounds candidates per probe at ~cap, so
# the inspected corpus FRACTION shrinks as N grows — 0.93 at fixture
# scale, 0.86 at 200k, 0.796 at 1M, all at cap=1024. Candidate-fraction
# math: a query probing a hot bucket inspects ~nprobe_sub*cap rows of it;
# holding the fraction nprobe_sub*cap/N constant holds the geometry the
# calibration measured. The anchor is the 100k operating point — cap
# 1024 ≈ 1% of N at recall 0.93, the fraction the 1M validation row in
# SCALE_NOTES was measured AT (auto cap 10240 -> recall 0.988 with the
# 2-bit probe ring). At 200k the same fixed cap is 0.5% of N and recall
# has already decayed to 0.86 — that is the decay curve, not the
# calibration point, so a fixed cap=1024 at 200k correctly warns and
# 'auto' correctly resolves to 2048 there.
LSH_DEFAULT_BUCKET_CAP = 1024
LSH_CAP_FRACTION = 1024 / 100_000  # ≈1% — cap/N at the 100k anchor
# Past this corpus size, 1-bit multiprobe leaves recall on the table even
# at the fraction-held cap: the 1M calibration measured 0.889 at
# cap='auto'/mpb=1 (cap saturates — doubling it bought +0.004) vs 0.988
# at mpb=2 for ~2x search cost. The misses are neighbors ≥2 hash bits
# away in every table, which no cap can recover — only probing recovers
# them (Lv et al. multiprobe).
LSH_MULTIPROBE_THRESHOLD = 500_000
# Past this corpus size LSH's candidate-pair EXCHANGE, not its probe
# count, is the serving bottleneck (10M measured: ring 188 s / ranked-24
# 127 s per batch-100 vs IVF 9.1 s, SQ8 3.7 s — SCALE_NOTES r10); serving
# without an explicit probe_budget warns and points at the partitioned
# IVF families.
LSH_EXCHANGE_WARN_N = 5_000_000


def adaptive_bucket_cap(n: int, floor: int = LSH_DEFAULT_BUCKET_CAP,
                        fraction: float = LSH_CAP_FRACTION) -> int:
    """Corpus-size-aware bucket cap: never below the calibrated floor,
    growing linearly with N past floor/fraction rows so the inspected
    candidate fraction stays at the recall-validated operating point."""
    return max(int(floor), int(np.ceil(n * fraction)))


def adaptive_multiprobe_bits(n: int) -> int:
    """Corpus-size-aware multiprobe depth: 1-bit flips suffice below
    LSH_MULTIPROBE_THRESHOLD (calibrated 0.87-0.93 recall); past it the
    2-bit ring is what holds recall ≥0.9 (1M: 0.889 → 0.988)."""
    return 2 if n >= LSH_MULTIPROBE_THRESHOLD else 1


def _warn_recall_risk(cap: int, n: int) -> None:
    import warnings
    if n > 0 and cap < n * LSH_CAP_FRACTION:
        warnings.warn(
            f"lsh bucket_cap={cap} is {cap / n:.2%} of the corpus "
            f"(N={n:,}) — below the calibrated {LSH_CAP_FRACTION:.2%} "
            f"candidate fraction; recall decays with N at a fixed cap "
            f"(measured 0.93→0.80 from 100k→1M in SCALE_NOTES). Pass "
            f"bucket_cap='auto' (resolves to "
            f"{adaptive_bucket_cap(n)}) or accept degraded recall.",
            RuntimeWarning, stacklevel=3)


# Serving contract: every search kernel collects the QUERY batch to the
# driver (the probe map / query matrix ride the UDF closure — KB-to-MB
# for real serving batches of 10^2-10^5). Nothing in the plan bounds a
# caller passing a corpus-sized "batch", so the collect itself must: past
# the cap the closure broadcast and the O(Q x dim) driver matrix stop
# being serving-shaped. Chunk the queries and union the results, or use
# the distributed knn_join / knn_join_blockwise for corpus x corpus
# scoring.
QUERY_BATCH_CAP = 100_000


def collect_query_batch(queries: DataFrame, qid_col: str, qvec_col: str,
                        cap: int = QUERY_BATCH_CAP) -> list:
    """Driver-side query-batch collect, capped (LIMIT cap+1 bounds the
    transfer BEFORE the overflow check, so an oversized frame can never
    flood the driver)."""
    rows = queries.select(qid_col, qvec_col).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"query batch exceeds the driver-resident serving cap "
            f"({cap:,} rows): search kernels ship the batch in the UDF "
            f"closure, which is serving-shaped, not corpus-shaped — "
            f"chunk the queries and union results, or use knn_join for "
            f"corpus-scale scoring (knn_join_blockwise also routes its "
            f"query side through this cap)")
    return rows


def _hyperplanes(num_tables: int, num_planes: int, dim: int, seed: int) -> np.ndarray:
    """(num_tables, num_planes, dim) deterministic Gaussian hyperplanes."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_tables, num_planes, dim))


def _buckets_np(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(N, T) bucket ids: bit b of table t set iff dot(vec, plane_tb) >= 0.
    One GEMM per call — the whole signature family in a single Arrow batch."""
    t, p, d = planes.shape
    proj = mat @ planes.reshape(t * p, d).T  # (N, T*P)
    bits = (proj >= 0).astype(np.int64).reshape(-1, t, p)
    weights = (1 << np.arange(p, dtype=np.int64))
    return (bits * weights).sum(axis=2)  # (N, T)


def random_hyperplane_lsh(vectors: DataFrame, num_tables: int = 8,
                          num_planes: int = 6, seed: int = 42,
                          dim: int = EMBEDDING_DIM,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Build the narrow LSH index: one (id, table_id, bucket) row per table.

    Scale shape: the index is id+two-ints wide regardless of vector dim —
    at 100 TB the vectors stay in place and only this slim index shuffles.
    Bucket computation is an Arrow-batched NumPy GEMM (a native expression
    tree for T×P×D multiply-adds would exceed codegen limits).
    Persist bucketed by (table_id, bucket) for partition-pruned probes."""
    import pandas as pd

    planes = _hyperplanes(num_tables, num_planes, dim, seed)
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("table_id", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
    ])

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            bk = _buckets_np(mat, planes)  # (N, T)
            n, t = bk.shape
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), t),
                "table_id": np.tile(np.arange(t, dtype=np.int32), n),
                "bucket": bk.ravel().astype(np.int32),
            })

    return vectors.select(id_col, vec_col).mapInPandas(assign, schema=out_schema)


def lsh_refine_hot_buckets(index: DataFrame, vectors: DataFrame,
                           bucket_cap: int | str = LSH_DEFAULT_BUCKET_CAP,
                           seed: int = 42,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           materialize: bool = False
                           ) -> tuple[DataFrame, DataFrame]:
    """Split oversized LSH buckets with an in-bucket coarse quantizer.

    ``bucket_cap='auto'`` resolves the cap from the corpus size measured
    on the same CACHED histogram the hot-bucket scan reads (one stats
    row + the hot rows — driver transfer bounded by hot buckets, never
    the key space): cap = max(floor, N * LSH_CAP_FRACTION), holding the
    inspected candidate fraction — and therefore recall — constant as N
    grows (r7 verdict item 3; the 1M probe measured the decay of a fixed
    cap). A fixed int cap below the calibrated fraction emits a loud
    RuntimeWarning instead of silently degrading.

    ``materialize=True`` returns the refined index already cached and
    counted, overlapping the no-hot-buckets result's materialization with
    the bucket histogram job (two small jobs whose fixed overhead
    otherwise serializes — the LSH build's wall-time floor at fixture
    scale). Opt-in because auto-caching the full index is the CALLER's
    memory decision at 100 TB; the default stays lazy.

    On clustered corpora hyperplane signs are dominated by the cluster
    offset, so whole clusters land in one (table, bucket) and the candidate
    set degenerates to a large corpus fraction (round-1 SCALE_NOTES measured
    ~60% at 200k; VERDICT item 5). Extra *hyperplanes* can't fix that — the
    offset dominates their signs too — so hot buckets are refined with a
    small seeded k-means (k = ceil(size/cap)) fit on the bucket's own
    members: data-adaptive sub-buckets that split the cluster where random
    projections cannot. Queries probing a hot bucket rank its sub-centroids
    and descend into only the nearest few, bounding candidates per probe at
    ~cap instead of the full bucket.

    Returns ``(refined_index, sub_centroids)``:
    - refined_index: DataFrame (vec_id, table_id, bucket, sub) — cold
      buckets keep sub=0;
    - sub_centroids: a LIST of Rows (table_id, bucket, sub, centroid) —
      bounded by construction at total_hot_members / cap rows, so it is
      collected here rather than returned lazily: a lazy DF re-ran the
      whole k-means stage once per downstream action (round-2 profiling),
      and search-side collect cost one Spark job per query batch.

    Scale shape: one narrow agg for sizes, one join that moves only HOT
    members' vectors (each at most num_tables times), per-bucket k-means
    inside applyInPandas (a hot bucket's vectors fit one task: cap*k rows).
    Deterministic: members sorted by id, k-means++ seeded by
    (seed, table_id, bucket), fixed iteration count.
    """
    import pandas as pd

    spark = index.sparkSession
    # Id-partitioned (see the hot-path return below) so a cached refined
    # index feeds lsh_search's per-vector groupBy shuffle-free.
    fast = index.withColumn("sub", F.lit(0)).repartition(F.col(id_col))
    executor = fast_future = None
    if materialize:
        # Speculatively materialize the no-hot-buckets result CONCURRENTLY
        # with the histogram job: the branch needs the histogram's values,
        # but the fast path's PLAN doesn't, and no-hot is the common case.
        # Two overlapped 2-stage jobs beat one fused 3-stage job here
        # (A/B-measured ~0.5s vs ~0.9s at sf0.1 — the fused job serializes
        # its repartition and agg shuffles; concurrent jobs hide each
        # other's fixed overhead). On clustered corpora the wasted count
        # is one narrow cached scan — noise next to the k-means stage that
        # path pays anyway.
        from concurrent.futures import ThreadPoolExecutor
        fast = fast.cache()
        executor = ThreadPoolExecutor(1)
        fast_future = executor.submit(fast.count)
    # The driver must see (a) the corpus size — to resolve 'auto' /
    # price the fixed-cap recall-risk check — and (b) the HOT bucket
    # list. Collecting the full histogram for both would be driver
    # transfer bounded only by min(2^num_planes, N) * num_tables rows —
    # O(N * num_tables) once the plane count outgrows the corpus (the
    # r8 ADVICE regression vs the old Spark-side sz > cap filter).
    # With a FIXED cap the stats ride the hot-row collect itself via an
    # Observation (one job, no cache — the r9 cache + stats-agg + collect
    # triple cost ~0.6-1.8 s of extra cold stages/codegen at sf0.1); only
    # 'auto' pays a stats job first, because the cap the filter needs IS
    # the thing being resolved, and there the cached histogram keeps it
    # at one computation for both jobs. Observation forbids distinct
    # aggregates, so the table count rides as a bit mask (table ids are
    # small ints — bounded by the 64-bit word far above any real table
    # count) and popcounts driver-side; this stays correct on a FILTERED
    # index (e.g. a caller passing only some tables), where max+1 would
    # over-divide.
    hist = (index.groupBy("table_id", "bucket")
            .agg(F.count("*").alias("sz")))
    tmask_expr = F.bit_or(
        F.expr("shiftleft(CAST(1 AS BIGINT), table_id)")).alias("tmask")
    if bucket_cap == "auto":
        hist = hist.cache()
        stats = hist.agg(
            F.sum("sz").alias("rows"),
            F.countDistinct("table_id").alias("tables")).collect()[0]
        n_tables = int(stats["tables"] or 1)
        n_corpus = int(stats["rows"] or 0) // max(1, n_tables)
        bucket_cap = adaptive_bucket_cap(n_corpus)
        hot_rows = hist.where(F.col("sz") > F.lit(int(bucket_cap))).collect()
        hist.unpersist()
    else:
        from pyspark.sql import Observation
        bucket_cap = int(bucket_cap)
        obs = Observation()
        hot_rows = (hist.observe(obs, F.sum("sz").alias("rows"), tmask_expr,
                                 F.max("table_id").alias("tmax"))
                    .where(F.col("sz") > F.lit(bucket_cap)).collect())
        if int(obs.get.get("tmax") or 0) >= 64:
            # shiftleft wraps mod 64 — the popcount would undercount
            # tables and inflate n_corpus. Fall back to the exact
            # countDistinct stats job (rare: >=64 hash tables).
            n_tables = int(hist.agg(
                F.countDistinct("table_id")).collect()[0][0] or 1)
        else:
            n_tables = bin(int(obs.get.get("tmask") or 0)).count("1") or 1
        n_corpus = int(obs.get.get("rows") or 0) // n_tables
        _warn_recall_risk(bucket_cap, n_corpus)
    if fast_future is not None:
        fast_future.result()
        executor.shutdown()
    if not hot_rows:
        # nothing to refine (near-uniform corpus): skip the anti-join and
        # the applyInPandas stage entirely — the common fast path
        return fast, []
    if materialize:
        fast.unpersist()
    hot = spark.createDataFrame(
        [(int(r["table_id"]), int(r["bucket"])) for r in hot_rows],
        "table_id int, bucket int")
    cold = (index.join(F.broadcast(hot), ["table_id", "bucket"], "left_anti")
            .withColumn("sub", F.lit(0)))
    members = (index.join(F.broadcast(hot), ["table_id", "bucket"])
               .join(vectors.select(id_col, vec_col), id_col))

    out_schema = T.StructType([
        T.StructField("table_id", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField(id_col, T.LongType()),     # NULL on centroid rows
        T.StructField("sub", T.IntegerType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),  # NULL on members
    ])

    def split(key, pdf):
        t, b = int(key[0]), int(key[1])
        pdf = pdf.sort_values(id_col)  # group input order is not deterministic
        X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        n = len(X)
        kk = min(int(np.ceil(n / bucket_cap)), 256)
        rng = np.random.RandomState((seed * 1_000_003 + t * 4099 + b) % (2**31))
        # k-means++ init, fixed 8 Lloyd iterations (GEMM distances — an
        # (n, k, d) broadcast temporary would be GBs for a hot bucket)
        cents = [X[int(rng.randint(n))]]
        d2 = ((X - cents[0]) ** 2).sum(1)
        for _ in range(kk - 1):
            probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
            cents.append(X[int(rng.choice(n, p=probs))])
            d2 = np.minimum(d2, ((X - cents[-1]) ** 2).sum(1))
        C = np.asarray(cents)
        xn = (X * X).sum(1)[:, None]
        for _ in range(8):
            d = xn - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
            assign = d.argmin(1)
            for j in range(kk):
                sel = assign == j
                if sel.any():
                    C[j] = X[sel].mean(0)
        mem = pd.DataFrame({
            "table_id": t, "bucket": b,
            id_col: pdf[id_col].to_numpy(),
            "sub": assign.astype(np.int32),
            "centroid": None,
        })
        cen = pd.DataFrame({
            "table_id": t, "bucket": b,
            id_col: None,
            "sub": np.arange(kk, dtype=np.int32),
            "centroid": [list(map(float, c)) for c in C],
        })
        return pd.concat([mem, cen], ignore_index=True)

    # cache the combined output: members and centroids both derive from
    # the same applyInPandas stage, and without the cache each downstream
    # action would re-run every in-bucket k-means fit
    refined = members.groupBy("table_id", "bucket").applyInPandas(
        split, schema=out_schema).cache()
    hot_members = (refined.where(F.col(id_col).isNotNull())
                   .select(id_col, "table_id", "bucket", "sub"))
    cent_rows = (refined.where(F.col(id_col).isNull())
                 .select("table_id", "bucket", "sub", "centroid").collect())
    # Hash-partition the refined index on the vector id at BUILD time (a
    # one-time shuffle of narrow rows): lsh_search's candidates-per-vector
    # groupBy clusters on id, so a cached id-partitioned index satisfies
    # that distribution and the search-side exchange is elided — the
    # partitioning moves from every probe batch into the index build.
    out = (cold.select(id_col, "table_id", "bucket", "sub")
           .unionByName(hot_members)
           .repartition(F.col(id_col)))
    if materialize:
        out = out.cache()
        out.count()
    return out, cent_rows


def lsh_search(vectors: DataFrame, queries: DataFrame, k: int,
               num_tables: int = 8, num_planes: int = 6, seed: int = 42,
               dim: int = EMBEDDING_DIM,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id", qvec_col: str = "query_vec",
               multiprobe_bits: int | str = 1,
               index: DataFrame | None = None,
               bucket_cap: int | str | None = LSH_DEFAULT_BUCKET_CAP,
               nprobe_sub: int = 2,
               refined: tuple[DataFrame, "DataFrame | list"] | None = None,
               corpus_n: int | None = None,
               probe_budget: int | None = None) -> DataFrame:
    """Multi-table multiprobe LSH ANN search with hot-bucket refinement.

    Candidates = vectors sharing a bucket with the query in ANY table
    (queries additionally probe all buckets within ``multiprobe_bits`` bit
    flips). Buckets larger than ``bucket_cap`` are refined by
    ``lsh_refine_hot_buckets``; a query entering a hot bucket descends into
    only its ``nprobe_sub`` nearest sub-buckets, so per-probe candidates are
    ~bucket_cap even when the corpus is clustered (pass ``bucket_cap=None``
    to disable and probe raw buckets; pass ``'auto'`` to scale the cap
    with corpus size and hold the recall-calibrated candidate fraction —
    a fixed cap below that fraction warns, see adaptive_bucket_cap). Only candidate ids shuffle; full
    vectors are joined back just for the surviving candidate set, then
    exact-scored and top-k'd.

    ``refined`` takes a prebuilt ``lsh_refine_hot_buckets`` result (the
    refinement is an index-build artifact — pass it so repeated searches
    don't re-fit the sub-quantizers). The centroid half is the builder's
    pre-collected row list (a DataFrame is also accepted and collected) —
    rows make a repeated-search loop cost zero extra Spark jobs per call.

    ``probe_budget`` switches from the exhaustive bit-flip RING to
    query-directed RANKED probing (Lv et al., VLDB'07): perturbations are
    scored by their boundary distance (|projection| of each flipped
    plane — a bit is likeliest wrong when the query sits near that
    hyperplane), and only the ``probe_budget`` best-ranked buckets per
    (query, table) are probed out of the <=2-bit family. A budget >=
    1 + P + C(P,2) probes the whole family and equals the mpb=2 ring bit
    for bit (pytest-pinned); smaller budgets buy a near-proportional
    candidate reduction because the dropped probes are exactly the ones
    least likely to hold neighbors. ``multiprobe_bits`` is ignored when
    a budget is set.
    """
    if index is None:
        index = random_hyperplane_lsh(vectors, num_tables, num_planes, seed,
                                      dim, id_col, vec_col)
    planes = _hyperplanes(num_tables, num_planes, dim, seed)
    qrows = collect_query_batch(queries, qid_col, qvec_col)
    qids = [int(r[0]) for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    # one GEMM yields both the base buckets and (for ranked probing) the
    # per-plane boundary distances; the bucket formula is _buckets_np's,
    # so qb is bit-identical to the build side's bucketing
    tt, pp, dd = planes.shape
    qproj = (qmat @ planes.reshape(tt * pp, dd).T).reshape(-1, tt, pp)
    qbits = (qproj >= 0).astype(np.int64)
    qb = (qbits * (1 << np.arange(pp, dtype=np.int64))).sum(axis=2)  # (Q, T)
    spark = vectors.sparkSession
    if multiprobe_bits == "auto":
        # The probe depth that holds recall is a function of corpus size
        # (policy block above). ``corpus_n`` (build-time metadata the
        # caller already holds) makes the resolution job-free; the count
        # fallback is paid only by callers that never measured N.
        multiprobe_bits = adaptive_multiprobe_bits(
            corpus_n if corpus_n is not None else vectors.count())
    if (corpus_n is not None and corpus_n >= LSH_EXCHANGE_WARN_N
            and probe_budget is None):
        import warnings
        warnings.warn(
            f"LSH serving at N={corpus_n:,}: the candidate-pair exchange "
            f"dominates past ~{LSH_EXCHANGE_WARN_N:,} rows (10M measured: "
            f"ring 188 s/batch100 vs IVF 9 s, SQ8 3.7 s — SCALE_NOTES "
            f"r10). Pass probe_budget~=24 (ranked probing, ~recall-0.02) "
            f"or serve a partition-pruned IVF/IVF-PQ layout instead.",
            RuntimeWarning, stacklevel=2)

    sub_meta: dict = {}
    if bucket_cap is not None:
        if refined is None:
            refined = lsh_refine_hot_buckets(
                index, vectors, bucket_cap, seed, id_col, vec_col)
        index, sub_centroids = refined
        cent_rows = (sub_centroids.collect()
                     if isinstance(sub_centroids, DataFrame)
                     else list(sub_centroids or []))
        for r in cent_rows:
            key = (int(r["table_id"]), int(r["bucket"]))
            sub_meta.setdefault(key, {})[int(r["sub"])] = np.asarray(
                r["centroid"], dtype=np.float64)
        sub_meta = {key: np.asarray([v[j] for j in sorted(v)])
                    for key, v in sub_meta.items()}
    # No hot buckets → every sub is 0 and the sub machinery is pure
    # overhead; probe and join on the raw (table, bucket) keys instead.
    use_subs = bool(sub_meta)

    def probe_subs(qi: int, t: int, bucket: int) -> list[int]:
        cents = sub_meta.get((t, bucket))
        if cents is None:
            return [0]
        d = ((cents - qmat[qi]) ** 2).sum(1)
        order = np.lexsort((np.arange(len(d)), d))[:nprobe_sub]
        return [int(j) for j in order]

    # Ranked probing: enumerate the <=2-bit flip-mask family once, score
    # each mask per (query, table) as the sum of flipped planes'
    # boundary distances, keep the budget best (base mask scores 0 —
    # always first). Deterministic: float scores from a deterministic
    # GEMM, mask value as the tie-break.
    flip_masks = None
    if probe_budget is not None:
        flip_masks = np.asarray(
            [0] + [1 << b for b in range(num_planes)]
            + [(1 << b1) | (1 << b2) for b1 in range(num_planes)
               for b2 in range(b1 + 1, num_planes)], dtype=np.int64)
        mask_bits = ((flip_masks[:, None]
                      >> np.arange(num_planes)[None, :]) & 1)  # (M, P)

    # Dedupe driver-side (a set over the tiny probe list) instead of a
    # Spark .distinct(): the probe set is O(Q·T·planes·subs) rows, and the
    # distinct cost a full extra shuffle + stage per search call.
    probe_rows = set()
    for qi, qid in enumerate(qids):
        for t in range(qb.shape[1]):
            base = int(qb[qi, t])
            if flip_masks is not None:
                scores = mask_bits @ np.abs(qproj[qi, t])  # (M,)
                order = np.lexsort((flip_masks, scores))[:probe_budget]
                cands = [base ^ int(flip_masks[m]) for m in order]
            else:
                cands = [base]
                if multiprobe_bits >= 1:
                    cands.extend(base ^ (1 << b) for b in range(num_planes))
                if multiprobe_bits >= 2:
                    # 2-bit flips: C(P,2) extra probes per table. Most land
                    # in cold buckets, so candidates grow far slower than
                    # probes — the classic multiprobe trade (Lv et al.,
                    # VLDB'07).
                    cands.extend(base ^ (1 << b1) ^ (1 << b2)
                                 for b1 in range(num_planes)
                                 for b2 in range(b1 + 1, num_planes))
            for bk in cands:
                if use_subs:
                    for sub in probe_subs(qi, t, bk):
                        probe_rows.add((qid, t, bk, sub))
                else:
                    probe_rows.add((qid, t, bk))
    sub_field = ", sub int" if use_subs else ""
    probes = spark.createDataFrame(
        sorted(probe_rows),
        f"{qid_col} long, table_id int, bucket int{sub_field}")
    join_keys = ["table_id", "bucket"] + (["sub"] if use_subs else [])
    cand = index.join(F.broadcast(probes), join_keys).select(qid_col, id_col)
    # Scoring shape: group candidates per vector FIRST — (vec_id, [qids])
    # is ~num_candidate_vectors rows instead of num_(query,vector)_pairs,
    # so the join against the vector table shuffles each candidate vector
    # once, not once per probing query. collect_set both dedupes the
    # (query, vector) pairs AND groups them in ONE keyed shuffle with
    # map-side partials (a separate .distinct() before the groupBy cost a
    # second full shuffle of the pair set). The Arrow stage scores every
    # (vector, probing-query) pair via NumPy against the broadcast query
    # matrix and emits only per-batch top-k per query; the global window
    # then ranks <= batches*Q*k narrow rows.
    import pandas as pd

    cand_by_vec = cand.groupBy(id_col).agg(F.collect_set(qid_col).alias("qids"))
    joined = cand_by_vec.join(vectors.select(id_col, vec_col), id_col)
    qindex = {qid: i for i, qid in enumerate(qids)}
    out_schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("dist", T.DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            # vectorized ragged expansion (a Python per-pair loop here costs
            # more than the distance math itself)
            lens = np.fromiter((len(x) for x in pdf["qids"]), dtype=np.int64,
                               count=len(pdf))
            ri = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            flat_q = np.concatenate([np.asarray(x, dtype=np.int64)
                                     for x in pdf["qids"]]) if lens.sum() else \
                np.empty(0, dtype=np.int64)
            qi = pd.Series(flat_q).map(qindex).to_numpy(dtype=np.int64)
            d = mat[ri] - qmat[qi]
            dist = np.sqrt(np.einsum("ij,ij->i", d, d))
            flat = pd.DataFrame({qid_col: np.asarray(qids, dtype=np.int64)[qi],
                                 id_col: ids[ri], "dist": dist})
            # per-batch local top-k per query bounds the shuffle
            flat = (flat.sort_values([qid_col, "dist", id_col])
                    .groupby(qid_col, sort=False).head(k))
            yield flat

    local = joined.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid_col, id_col, F.round("dist", 6).alias("dist"), "rank"))


# ---------------- IVF (inverted-file / coarse k-means) ----------------

# Default boundary replication for IVF assignment. Shared constant (r7
# ADVICE): ivfpq_build samples its residual-fit population at this same
# replication so the fitted residuals match the encoded population — a
# drift between the two would silently skew the codebooks with no error.
IVF_ASSIGN_N = 2


def ivf_build(vectors: DataFrame, num_centroids: int = 16, seed: int = 42,
              vec_col: str = "embedding",
              max_iter: int = 10,
              fit_sample: int = 50_000,
              assign_n: int = IVF_ASSIGN_N,
              id_col: str = "vec_id") -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: seeded k-means centroids, each vector assigned
    to its ``assign_n`` nearest centroids' lists. Returns
    (assigned_df, centroids).

    Scale: the fit runs DRIVER-SIDE on a bounded sample (centroid quality
    depends on the distribution, not the corpus size — fitting on 100 TB
    would iterate the whole corpus max_iter times; an MLlib fit on the
    same bounded sample still costs ~2 Spark jobs per Lloyd iteration,
    which round-2 profiling measured as most of the build wall time).
    ASSIGNMENT is the distributed half: one Arrow-batched GEMM pass over
    the full table. Persist the assignment bucketed by list_id for pruned
    probes.

    ``assign_n=2`` is spill-style replication: boundary vectors (whose
    true neighbors straddle two cells) land in both lists, which measured
    +0.15-0.2 recall@10 at fixed nprobe on the fixture corpus for a 2x
    index footprint — the classic IVF replication trade. Search must
    dedupe candidates (ivf_search does).
    """
    import pandas as pd

    from vectordb_explorations_spark.operators.pq import _kmeans_1d

    # Hash-ordered fit sample: an unordered LIMIT is partition-layout-
    # dependent, so centroids would differ run to run (round-1 ADVICE);
    # ordering by xxhash64(id) is deterministic AND unbiased (an id-prefix
    # sample correlates with the data when ids encode e.g. labels), and
    # orderBy+limit plans as TakeOrderedAndProject — no global sort.
    sample = [r[0] for r in
              vectors.orderBy(F.xxhash64(F.col(id_col)), id_col)
              .limit(fit_sample).select(vec_col).collect()]
    mat = np.asarray(sample, dtype=np.float64)
    # best-of-3 restarts by inertia: a single k-means++ init lands in a
    # worse local minimum than MLlib's k-means|| often enough to cost
    # measurable recall; restarts on the driver sample are microseconds
    # next to one Spark job
    best, best_inertia = None, np.inf
    for r in range(3):
        cand = _kmeans_1d(mat, num_centroids, seed + 7919 * r, iters=max_iter)
        d2 = (-2.0 * mat @ cand.T + (cand ** 2).sum(-1)).min(axis=1) \
            + (mat * mat).sum(-1)
        inertia = float(d2.sum())
        if inertia < best_inertia:
            best, best_inertia = cand, inertia
    centroids = best

    assigned = ivf_assign(vectors, centroids, assign_n=assign_n,
                          vec_col=vec_col)
    return assigned, centroids


def ivf_assign(vectors: DataFrame, centroids: np.ndarray,
               assign_n: int = 2,
               vec_col: str = "embedding") -> DataFrame:
    """The distributed half of ivf_build, standalone: assign every row to
    its ``assign_n`` nearest FROZEN centroids — one Arrow-batched GEMM
    pass, no fit. This is the primitive incremental maintenance reuses:
    a new ingest batch is assigned against the index's existing
    centroids, so appends never re-train or re-assign the corpus."""
    out_fields = [T.StructField(f.name, f.dataType, f.nullable)
                  for f in vectors.schema.fields]
    out_schema = T.StructType(out_fields + [T.StructField("list_id",
                                                          T.IntegerType())])
    cnorm = (centroids ** 2).sum(-1)
    bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    an = max(1, min(assign_n, centroids.shape[0]))

    def assign(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            # argmin ||x-c||² = argmin(-2xc + ||c||²) — GEMM, no (n,k,d) temp
            d = -2.0 * X @ C.T + cnorm
            # kind='stable' so exactly-equal distances break toward the
            # SMALLER centroid index — the (dist, seed_id) tie-break the
            # join-path twin documents; the default introsort gives no
            # such guarantee on equal keys (r8 ADVICE).
            near = np.argsort(d, axis=1, kind="stable")[:, :an]  # (n, an)
            out = pdf.loc[pdf.index.repeat(an)].copy()
            out["list_id"] = near.reshape(-1).astype(np.int32)
            yield out

    return vectors.mapInPandas(assign, schema=out_schema)


# ---------------- one IVF layout, pluggable per-row code ----------------
#
# IVF, IVF-PQ and IVF-SQ8 differ only in the code stored per row: the raw
# vector, PQ residual codes or SQ8 codes (the IVFADC split of Jégou,
# Douze & Schmid, TPAMI 2011: one inverted-list structure, the per-entry
# code is the only variable). Probe selection, the Arrow scoring stage,
# the replica merge, the exact refine and the hive list_id persist /
# append / probe exist once, below; each family binds an ``IVFCode``.

# Exact-refine shortlist anchor of every IVF code: rf=10 * k=10 at the
# 200k calibration corpus, within the probed lists (the corpus-adaptive
# refine_factor policy lives in pq.py).
IVF_REFINE_FRACTION = 100 / 200_000

# Sidecar of every persisted IVF layout: the corpus size the refine
# policy resolves from (serving never schedules a count job, and never
# mis-counts the assign_n-replicated rows) and the read-back schema the
# pruned probe reads with (no per-call footer inference).
IVF_META = "_corpus_meta.json"


class IVFCode(NamedTuple):
    """What varies between the IVF families: the stored ``col``, the
    ``family`` name for refine-policy warnings, ``encode(assigned,
    id_col, vec_col)`` from ivf_assign rows to (id, list_id, col) rows,
    and ``bind(qmat, probe)``, which builds the per-query state once per
    batch and returns ``(decode, kernel)``: ``decode(series)`` makes an
    Arrow batch's ``col`` into row-aligned arrays, ``kernel(blk, qis,
    pairs)`` scores one list's rows against probing queries ``qis``
    (their (query, probe-rank) slots ``qi * nprobe + j`` in ``pairs``)
    as an (nq, n) distance block."""
    col: str
    family: str
    encode: Callable
    bind: Callable


def _raw_code(vec_col: str) -> IVFCode:
    """Rows store the vector itself; distances are exact, so the
    assign_n replicas of one vector tie exactly."""
    def bind(qmat, probe):
        def decode(col):
            return (np.asarray(list(col), dtype=np.float64),)

        def kernel(blk, qis, pairs):
            out = np.empty((len(qis), len(blk[0])))
            for r, qi in enumerate(qis):
                # identical per-row arithmetic to the joined shape
                # (row - query, einsum self-dot): bit-equal distances
                d = blk[0] - qmat[qi]
                out[r] = np.sqrt(np.einsum("ij,ij->i", d, d))
            return out
        return decode, kernel
    return IVFCode(vec_col, "ivf", lambda assigned, *_: assigned, bind)


def _ivf_batch(queries: DataFrame, centroids: np.ndarray, nprobe: int,
               qid_col: str, qvec_col: str):
    """Collect the query batch once and route it: ``(qids, qmat,
    probe)``, ``probe`` the (Q, nprobe) probed list ids per query,
    nearest first. Routing is a (Q, C) distance sort over
    driver-resident centroids — pure NumPy, no crossJoin/window stage;
    the cluster only ever sees the probed-list isin filter. The stable
    sort breaks exactly-equal distances toward the smaller list id."""
    qrows = collect_query_batch(queries, qid_col, qvec_col)
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    cd = qmat[:, None, :] - centroids[None, :, :]
    probe = np.argsort((cd * cd).sum(-1), axis=1, kind="stable")
    return ([int(r[0]) for r in qrows], qmat,
            probe[:, :min(nprobe, centroids.shape[0])])


def _ivf_search(codes_df: DataFrame, qids: list, qmat: np.ndarray,
                probe: np.ndarray, k: int, code: IVFCode,
                refine_with: DataFrame | None = None,
                refine_factor: int | str = 10,
                corpus_n: int | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "query_id",
                qvec_col: str = "query_vec") -> DataFrame:
    """Score each probed list's rows against the queries probing it,
    merge, optionally exact-refine. The probe map (list -> probing
    queries) and the code's per-query state ride the UDF closure, so
    probed rows stream through Arrow ONCE — the earlier probe-frame
    broadcast JOIN replicated every probed row per probing query
    (measured 12.6x at 1M; 6.9 s raw / 8.4 s PQ / 10.1 s SQ8 per
    batch100 -> this shape). Per-(list, query) top-n pools emit once per
    partition (per-batch emission multiplied the merge input by the
    batch count — the round-4 ADC hot spot). assign_n replicas collapse
    to their MIN distance within the partition (duplicates eating top-n
    slots measured recall 0.96 -> 0.66) and again in the merge: raw and
    SQ8 replicas tie exactly, PQ's closer-list estimate wins. hash(qid)
    satisfies the (qid, id) agg AND the window: one exchange.
    ``refine_factor='auto'`` holds rf*k at IVF_REFINE_FRACTION of N (1M
    probe: IVF-PQ 0.878 at rf=10 -> 0.961 at rf=50)."""
    import pandas as pd

    if refine_with is not None:
        from vectordb_explorations_spark.operators.pq import (
            _resolve_refine_factor)
        refine_factor = _resolve_refine_factor(
            refine_factor, codes_df, k, IVF_REFINE_FRACTION, code.family,
            corpus_n=corpus_n, replication=IVF_ASSIGN_N)
    n_local = k * refine_factor if refine_with is not None else k
    by_list: dict[int, list] = {}
    for qi, lists in enumerate(probe):
        for j, li in enumerate(lists):
            by_list.setdefault(int(li), []).append((qi, qi * len(lists) + j))
    list_q = {li: np.asarray(v, dtype=np.int64) for li, v in by_list.items()}
    qid_arr = np.asarray(qids, dtype=np.int64)
    decode, kernel = code.bind(qmat, probe)
    col = code.col
    out_schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("dist", T.DoubleType()),
    ])

    def score(batches):
        accs = []
        for pdf in batches:
            if pdf.empty:
                continue
            arrs = decode(pdf[col])
            lists = pdf["list_id"].to_numpy(dtype=np.int64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            for li in np.unique(lists):
                sel = lists == li
                blk, sids = tuple(a[sel] for a in arrs), ids[sel]
                qp = list_q[int(li)]
                # chunk the query axis so per-query temps (PQ's (nq, n,
                # m) LUT gather) stay bounded even when every query
                # probes the same hot list
                for q0 in range(0, len(qp), 32):
                    qis = qp[q0:q0 + 32, 0]
                    dist = kernel(blk, qis, qp[q0:q0 + 32, 1])
                    for row, qi in enumerate(qis):
                        top = np.lexsort((sids, dist[row]))[:n_local]
                        accs.append((qid_arr[qi], sids[top],
                                     dist[row][top]))
        if not accs:
            return
        flat = pd.DataFrame({
            qid_col: np.concatenate(
                [np.full(len(i), q, dtype=np.int64) for q, i, _ in accs]),
            id_col: np.concatenate([i for _, i, _ in accs]),
            "dist": np.concatenate([d for _, _, d in accs]),
        })
        yield (flat.sort_values([qid_col, "dist", id_col])
               .drop_duplicates([qid_col, id_col])
               .groupby(qid_col, sort=False).head(n_local))

    local = (codes_df.where(F.col("list_id").isin(sorted(by_list)))
             .select("list_id", id_col, col)
             .mapInPandas(score, schema=out_schema)
             .repartition(F.col(qid_col))
             .groupBy(qid_col, id_col).agg(F.min("dist").alias("dist")))
    return _top_k(local, k, n_local, qids, qmat, refine_with,
                  id_col=id_col, vec_col=vec_col, qid_col=qid_col,
                  qvec_col=qvec_col)


def _top_k(local: DataFrame, k: int, n: int, qids, qmat: np.ndarray,
           refine_with: DataFrame | None = None, dist_col: str = "dist",
           rounded: bool = True,
           id_col: str = "vec_id", vec_col: str = "embedding",
           qid_col: str = "query_id",
           qvec_col: str = "query_vec") -> DataFrame:
    """Per-query top-k of the scored rows ``local`` by (``dist_col``,
    id). With ``refine_with`` (the original vectors) the top ``n``
    candidates are first re-scored exactly — the shared exact-refine
    tail of every compressed-index search (PQ, SQ8, BQ and the IVF
    codes). Broadcast the CANDIDATE side (bounded at Q * n rows by
    construction) so the vector corpus never shuffles for the re-score —
    without the hint this planned as a sort-merge join (2 extra
    exchanges + sorts, the round-4 PQ latency gap), and at 100 TB AQE
    would try to broadcast the corpus statistics-blind. The dimension is
    statically known from the queries, so the distance unrolls into
    codegen."""
    def top(df, col, limit):
        w = Window.partitionBy(qid_col).orderBy(F.col(col).asc(),
                                                F.col(id_col).asc())
        return (df.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= limit))

    if refine_with is None:
        dist = (F.round(dist_col, 6).alias("dist") if rounded
                else F.col(dist_col))
        return top(local, dist_col, k).select(qid_col, id_col, dist, "rank")
    cand = top(local, dist_col, n).select(qid_col, id_col)
    qdf = refine_with.sparkSession.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in zip(qids, qmat)],
        f"{qid_col} long, {qvec_col} array<double>")
    scored = (refine_with.select(id_col, vec_col)
              .join(F.broadcast(cand), id_col)
              .join(F.broadcast(qdf), qid_col)
              .withColumn("dist", F.round(F.expr(l2_distance_sql(
                  vec_col, qvec_col, qmat.shape[1])), 6)))
    return top(scored, "dist", k).select(qid_col, id_col, "dist", "rank")


def _flat_search(codes_df: DataFrame, qids, qmat: np.ndarray, k: int,
                 score_batch: Callable,
                 refine_with: DataFrame | None = None,
                 refine_factor: int = 5, dist_col: str = "dist",
                 squared: bool = True,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id",
                 qvec_col: str = "query_vec") -> DataFrame:
    """The unrouted code scan shared by pq_search, sq_search and
    bq_search: ``score_batch(pdf)`` scores every query against one Arrow
    batch as a (Q, N) block; each batch keeps its per-query top-n and
    the partition emits one top-n pool at close — emitting per batch
    multiplied the window prefilter's shuffle input by the batch count
    (10x at sf0.1 with 10k-row batches, the round-4 PQ latency hot
    spot). ``squared`` scores become L2 distances rounded to 6 dp;
    other scores are reported as-is in ``dist_col``. A window merge
    ranks globally; with ``refine_with`` the top k * refine_factor
    re-score exactly."""
    import pandas as pd

    qids = np.asarray(qids, dtype=np.int64)
    n_local = k * refine_factor if refine_with is not None else k
    schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField(dist_col, T.DoubleType()),
    ])

    def score(batches):
        acc_i, acc_d = [], []  # per-batch (top, ids) candidate pools
        for pdf in batches:
            if pdf.empty:
                continue
            d = score_batch(pdf)
            top = min(n_local, d.shape[1])
            part = np.argpartition(d, top - 1, axis=1)[:, :top]  # (Q, top)
            acc_i.append(pdf[id_col].to_numpy()[part])
            acc_d.append(np.take_along_axis(d, part, axis=1))
        if not acc_i:
            return
        ii = np.concatenate(acc_i, axis=1)  # (Q, sum_tops)
        dd = np.concatenate(acc_d, axis=1)
        top = min(n_local, ii.shape[1])
        part = np.argpartition(dd, top - 1, axis=1)[:, :top]
        dd = np.take_along_axis(dd, part, axis=1)
        yield pd.DataFrame({
            qid_col: np.repeat(qids, top),
            id_col: np.take_along_axis(ii, part, axis=1).ravel(),
            dist_col: (np.sqrt(np.maximum(dd, 0.0)) if squared
                       else dd).ravel(),
        })

    return _top_k(codes_df.mapInPandas(score, schema=schema), k, n_local,
                  qids, qmat, refine_with, dist_col, squared, id_col,
                  vec_col, qid_col, qvec_col)


def _ivf_meta(spark, path: str) -> dict | None:
    from vectordb_explorations_spark.sources.sinks import read_json_sidecar
    return read_json_sidecar(spark, f"{path}/{IVF_META}")


def _ivf_write_meta(spark, path: str, corpus_n: int,
                    schema: str | None = None) -> None:
    """Write the sidecar through the Hadoop FS API, AFTER the data it
    describes; without a carried ``schema`` the read-back schema is
    captured from one leaf directory."""
    from vectordb_explorations_spark.sources.sinks import (
        hive_leaf_schema, write_json_sidecar)
    if schema is None:
        leaf = hive_leaf_schema(spark, path, 1)
        schema = leaf.json() if leaf is not None else None
    write_json_sidecar(spark, f"{path}/{IVF_META}",
                       {"corpus_n": int(corpus_n),
                        **({"schema": schema} if schema else {})})


def _layout_corpus_n(spark, path: str, replication: int) -> int:
    """Corpus N for a persisted layout: the sidecar when present
    (job-free), else ONE count over the UNPRUNED layout. The fallback
    must never count a probe-pruned frame — that badly underestimates N
    and resolves ``refine_factor='auto'`` too small (silently degraded
    recall) while pricing the fixed-rf warning against the wrong N."""
    meta = _ivf_meta(spark, path)
    if meta is not None:
        return int(meta["corpus_n"])
    import warnings
    warnings.warn(
        f"layout at {path} has no {IVF_META} sidecar — resolving "
        f"auto policies with a one-off count over the full layout; "
        f"persist via the engine's build/append helpers to make probe "
        f"policy resolution job-free.", RuntimeWarning, stacklevel=3)
    return spark.read.parquet(path).count() // max(1, int(replication))


def _ivf_persist(frame: DataFrame, path: str, col: str,
                 id_col: str = "vec_id") -> None:
    """Persist an IVF layout hive-partitioned by list_id: each inverted
    list is its own directory, so a probe's ``list_id IN (...)`` prunes
    unprobed lists at the FILE LISTING (PartitionFilters in the scan),
    before any byte is read — per-probe I/O is nprobe/num_centroids of
    the index regardless of corpus size. The sidecar carries the
    distinct-id count (the replication-corrected N)."""
    (frame.select(id_col, col, "list_id")
     .write.mode("overwrite").partitionBy("list_id").parquet(path))
    _ivf_write_meta(frame.sparkSession, path,
                    frame.select(id_col).distinct().count())


def _ivf_append(path: str, centroids: np.ndarray, new_vectors: DataFrame,
                code: IVFCode, assign_n: int = IVF_ASSIGN_N,
                id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Assign + encode ONLY the new batch against the FROZEN centroids
    (and codebooks / extents) and hive-append it: O(batch), new files
    only in the lists the batch touches, rows bit-identical to a
    rebuild's (shared ivf_assign and encode), v1 committer pinned
    (sinks.V1_COMMITTER). The sidecar increment is an observed row
    count on the SAME write job — ivf_assign emits exactly assign_n
    rows per vector, so no second scan, no distinct shuffle. Drift is
    handled by periodic re-train + full rewrite (the standard IVF
    maintenance split). Contract: batch ids are NEW and unique (re-
    ingested ids inflate N — corrections go through a rebuild); a crash
    between the data and sidecar writes undercounts N until the next
    append or rebuild (streaming epoch markers make replays no-ops)."""
    from pyspark.sql import Observation

    from vectordb_explorations_spark.operators.pq import invalidate_corpus_n
    from vectordb_explorations_spark.sources.sinks import V1_COMMITTER

    an = max(1, min(assign_n, centroids.shape[0]))
    rows = code.encode(ivf_assign(new_vectors.select(id_col, vec_col),
                                  centroids, assign_n=an, vec_col=vec_col),
                       id_col, vec_col)
    obs = Observation()
    (rows.observe(obs, F.count(F.lit(1)).alias("rows"))
     .select(id_col, code.col, "list_id")
     .write.mode("append").options(**V1_COMMITTER)
     .partitionBy("list_id").parquet(path))
    spark = new_vectors.sparkSession
    meta = _ivf_meta(spark, path) or {}
    _ivf_write_meta(spark, path, meta.get("corpus_n", 0)
                    + int(obs.get.get("rows") or 0) // an,
                    meta.get("schema"))
    # The layout just grew: any memoized count over a pre-existing
    # DataFrame of it is stale. Appends are rare next to searches, so
    # clearing the whole memo (one re-count per live index, worst case)
    # beats a silently wrong auto policy.
    invalidate_corpus_n()


def _ivf_probe(spark, path: str, centroids: np.ndarray,
               queries: DataFrame, k: int, nprobe: int, code: IVFCode,
               refine_with: DataFrame | None = None,
               refine_factor: int | str = 10,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Serve a persisted IVF layout with one query collect: read ONLY
    the probed list directories (sinks.read_hive_pruned with the
    sidecar's schema — no full-tree listing, no footer inference), keep
    a literal ``list_id IN (...)`` for the plan's PartitionFilters, and
    resolve the refine policy from the sidecar corpus count."""
    import json

    from vectordb_explorations_spark.sources.sinks import read_hive_pruned

    qids, qmat, probe = _ivf_batch(queries, centroids, nprobe, qid_col,
                                   qvec_col)
    probed = sorted({int(li) for li in probe.ravel()})
    meta = _ivf_meta(spark, path) or {}
    schema = (T.StructType.fromJson(json.loads(meta["schema"]))
              if "schema" in meta else None)
    codes = read_hive_pruned(spark, path, ["list_id"],
                             [(li,) for li in probed], schema=schema)
    if codes is None:  # no probed list has rows
        codes = (spark.createDataFrame([], schema) if schema is not None
                 else spark.read.parquet(path).limit(0))
    corpus_n = (_layout_corpus_n(spark, path, IVF_ASSIGN_N)
                if refine_with is not None else None)
    return _ivf_search(codes.where(F.col("list_id").isin(probed)), qids,
                       qmat, probe, k, code, refine_with, refine_factor,
                       corpus_n, id_col, vec_col, qid_col, qvec_col)


def ivf_search(assigned: DataFrame, centroids: np.ndarray, queries: DataFrame,
               k: int, nprobe: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id", qvec_col: str = "query_vec") -> DataFrame:
    """Probe the ``nprobe`` nearest centroid lists per query, exact-score
    within them, global top-k — the raw-vector binding of ``_ivf_search``.
    Equivalent role to HNSW's upper-layer routing (hnsw.cc:150-156):
    coarse structure prunes, fine search scores.

    When to use which (10M in-memory measurement, SCALE_NOTES r10): on a
    CACHED corpus the blockwise exact GEMM is competitive past what
    intuition suggests (10M x batch-100: exact 4.0 s vs IVF 9.1 s —
    sequential cache-friendly FLOPs beat list-gather overhead), so this
    in-memory path earns its keep on recall-tolerant latency, not
    throughput. Where IVF wins — and the reason this family exists — is
    the PERSISTED hive layout (ivf_probe_partitioned): there the probe
    reads ~nprobe/C of the corpus BYTES off storage, and bytes-scanned,
    not FLOPs, is the 100 TB bottleneck.
    """
    return _ivf_search(assigned, *_ivf_batch(queries, centroids, nprobe,
                                             qid_col, qvec_col),
                       k, _raw_code(vec_col), id_col=id_col,
                       vec_col=vec_col, qid_col=qid_col, qvec_col=qvec_col)


def lsh_bucket_skew(index: DataFrame, bucket_cap: int = 1024) -> float:
    """Fraction of index rows in buckets larger than ``bucket_cap`` — the
    routing statistic for ``ann_search``. One narrow two-level agg."""
    sizes = index.groupBy("table_id", "bucket").agg(F.count("*").alias("sz"))
    row = sizes.agg(
        F.sum("sz").alias("total"),
        F.sum(F.when(F.col("sz") > bucket_cap, F.col("sz"))
              .otherwise(F.lit(0))).alias("hot")).collect()[0]
    return (row["hot"] or 0) / max(row["total"], 1)


def ann_search(vectors: DataFrame, queries: DataFrame, k: int,
               method: str = "auto",
               num_tables: int = 8, num_planes: int = 6, seed: int = 42,
               dim: int = EMBEDDING_DIM,
               bucket_cap: int | str = LSH_DEFAULT_BUCKET_CAP,
               hot_frac_threshold: float = 0.2,
               num_centroids: int = 64, nprobe: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Routed ANN entry point — picks the index family from measured data
    shape, because the two have opposite failure modes:

    - **hyperplane LSH** wins on near-uniform corpora (tiny candidate sets,
      build is a narrow map), but on clustered corpora whole clusters share
      hyperplane signs and buckets degenerate. Hot-bucket refinement
      (``lsh_refine_hot_buckets``) bounds the damage (round 1 measured
      candidates at ~60% of a 200k clustered corpus unbounded; ~25% with
      refinement at recall 0.86) but cannot make LSH *good* there;
    - **IVF** fits centroids to the data, so clusters are exactly what it
      partitions well; on the same 200k corpus it holds recall 0.9 probing
      <15% of the corpus.

    ``method='auto'`` builds the (cheap, narrow) LSH index, measures
    ``lsh_bucket_skew`` — the fraction of index rows in over-cap buckets —
    and routes to IVF when it exceeds ``hot_frac_threshold``, else serves
    refined LSH. The decision statistic is one narrow agg over (table_id,
    bucket) counts: no vectors move. (Round-1 VERDICT item 5: LSH demoted
    to near-uniform corpora, IVF the routed default elsewhere.)
    """
    if method not in ("auto", "lsh", "ivf"):
        raise ValueError(f"unknown ANN method {method!r}")
    index = None
    if method in ("auto", "lsh"):
        index = random_hyperplane_lsh(vectors, num_tables, num_planes, seed,
                                      dim, id_col, vec_col)
    if method == "auto":
        skew_cap = (bucket_cap if isinstance(bucket_cap, int)
                    else LSH_DEFAULT_BUCKET_CAP)
        skew = lsh_bucket_skew(index, skew_cap)
        method = "ivf" if skew > hot_frac_threshold else "lsh"
    if method == "ivf":
        assigned, centroids = ivf_build(vectors, num_centroids, seed, vec_col,
                                        id_col=id_col)
        return ivf_search(assigned, centroids, queries, k, nprobe,
                          id_col, vec_col, qid_col, qvec_col)
    return lsh_search(vectors, queries, k, num_tables, num_planes, seed, dim,
                      id_col, vec_col, qid_col, qvec_col,
                      index=index, bucket_cap=bucket_cap)


# ---------------- recall harness ----------------

def recall_at_k(approx: DataFrame, exact: DataFrame, k: int,
                qid_col: str = "query_id", id_col: str = "vec_id") -> float:
    """recall@k = |approx ∩ exact| / |exact| per query, averaged. The gate
    for every ANN path (SURVEY §5: never hash-match a stochastic search)."""
    a = approx.where(F.col("rank") <= k).select(qid_col, id_col)
    e = exact.where(F.col("rank") <= k).select(qid_col, id_col)
    hits = a.join(e, [qid_col, id_col], "inner").groupBy(qid_col).count()
    denom = e.groupBy(qid_col).count().withColumnRenamed("count", "total")
    per_q = (denom.join(hits, qid_col, "left")
             .select((F.coalesce(F.col("count"), F.lit(0)) / F.col("total")).alias("r")))
    row = per_q.agg(F.avg("r").alias("recall")).collect()[0]
    return float(row["recall"])


def lsh_persist_bucketed(index: DataFrame, table_name: str, path: str,
                         num_buckets: int = 64) -> None:
    """Persist the LSH index hash-bucketed on the `bucket` column (SURVEY
    §7 M6): probe queries then read only the file buckets their target
    bucket ids hash into — at 100 TB the probe touches a constant fraction
    of the index instead of scanning it.

    Lifecycle note: a bucketBy table has no hive partitions, so the
    bounded-touch erasure the partitioned faces support
    (ivf/hnsw/minhash/perceptual/maxsim `*_delete_*`) does not apply —
    deleting rows here means rewriting the table. Deletion-heavy
    serving should use the hive-partitioned IVF layout instead; this
    face trades erasure granularity for shuffle-free co-located
    probes."""
    (index.write.mode("overwrite")
     .bucketBy(num_buckets, "bucket").sortBy("bucket")
     .option("path", path).saveAsTable(table_name))


def lsh_probe_bucketed(spark, table_name: str,
                       probes: list[tuple[int, int]]) -> DataFrame:
    """Read only the index buckets matching the probe list. Requires
    autoBucketedScan=false so the scan keeps the bucketed layout (otherwise
    Spark 4 rewrites joinless bucketed scans as plain scans and the
    SelectedBucketsCount pruning is lost). The bucket-id IN filter does the
    pruning; the exact (table_id, bucket) pair filter tightens on top.

    The conf is toggled only while the returned DataFrame's physical plan
    is forced (QueryExecution is memoized per Dataset, so later actions
    reuse the bucket-pruned plan), then restored — no session-wide side
    effect (round-1 ADVICE)."""
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        bucket_ids = sorted({b for _, b in probes})
        pair_cond = F.struct("table_id", "bucket").isin(
            [F.struct(F.lit(t), F.lit(b)) for t, b in probes])
        df = (spark.table(table_name)
              .where(F.col("bucket").isin(bucket_ids))
              .where(pair_cond))
        df._jdf.queryExecution().executedPlan()  # plan now, under the toggle
        return df
    finally:
        spark.conf.set(conf_key, prev)


def ivf_persist_partitioned(assigned: DataFrame, path: str,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> None:
    """Persist the IVF assignment as the raw-vector IVF layout."""
    _ivf_persist(assigned, path, vec_col, id_col)


def ivf_append_partitioned(path: str, centroids: np.ndarray,
                           new_vectors: DataFrame,
                           assign_n: int = 2,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> None:
    """Append a new batch to the raw-vector IVF layout (``_ivf_append``:
    assigned against the FROZEN centroids, O(batch), partition-local)."""
    _ivf_append(path, centroids, new_vectors, _raw_code(vec_col), assign_n,
                id_col, vec_col)


def ivf_delete_partitioned(spark, path: str,
                           delete_ids: "list[int] | DataFrame",
                           centroids: np.ndarray | None = None,
                           assign_n: int = 2,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           delete_vectors: DataFrame | None = None,
                           verify_residuals: bool = True) -> int:
    """Delete vectors by id from the persisted IVF layout, rewriting
    ONLY the list directories that contain them — the missing third of
    the index lifecycle (persist / append / probe / DELETE; GDPR
    erasure and recrawl-replacement both need it). Returns the number
    of index rows removed (assign_n replicas of one id count once
    each).

    Locating the victims: with ``delete_vectors`` (an (id, vector)
    frame) their lists come from routing against the FROZEN centroids
    exactly as the build/append did (``ivf_assign`` — same code path,
    same assign_n, so ALL replicas are found): O(batch), zero index
    reads. With ids only, ONE narrow scan of (vec_id, list_id) locates
    them — column pruning means the embedding bytes are never read,
    so even this path reads a few percent of the index's footprint.

    The touched lists are rewritten by sinks._rewrite_survivors (the
    bounded-touch discipline every substrate delete shares): untouched
    list directories keep their exact bytes (pinned by tests) and
    emptied ones are removed. The sidecar's corpus_n then drops by the
    ids actually erased.

    Residual guard (r13 ADVICE): the routing path finds replicas only
    if the caller's ``assign_n`` matches the build's — a mismatch
    would silently leave replicas behind, still serving erased ids.
    With ``verify_residuals`` (default), the routing path re-scans the
    rewritten index's narrow (id, list_id) columns for surviving
    victim rows and raises if any exist (the ids-only path needs no
    guard — its locate IS that scan). The verification costs one
    column-pruned two-column pass; erasure-at-scale callers who
    persist assign_n with the index may disable it."""
    idx = spark.read.parquet(path)
    if delete_vectors is not None:
        if centroids is None:
            raise ValueError("delete_vectors routing needs the index's "
                             "frozen centroids")
        routed = ivf_assign(delete_vectors, centroids, assign_n=assign_n,
                            vec_col=vec_col)
        touched = sorted({int(r["list_id"]) for r in
                          routed.select("list_id").distinct().collect()})
        ids = sorted({r[0] for r in
                      delete_vectors.select(id_col).distinct().collect()})
    else:
        if isinstance(delete_ids, DataFrame):
            ids = sorted({r[0] for r in
                          delete_ids.select(id_col).distinct().collect()})
        else:
            ids = sorted(set(int(i) for i in delete_ids))
        if not ids:
            return 0
        touched = sorted({int(r["list_id"]) for r in
                          idx.where(F.col(id_col).isin(ids))
                          .select("list_id").distinct().collect()})
    if not touched:
        return 0
    from vectordb_explorations_spark.sources.sinks import _rewrite_survivors

    touched_rows = (idx.where(F.col("list_id").isin(touched))
                    .select(id_col, vec_col, "list_id"))
    victim = F.col(id_col).isin(ids)
    # one aggregate job: the rows removed AND the distinct ids they
    # erase (the sidecar's corpus_n counts ids, not replicas)
    gone = (touched_rows.where(victim)
            .agg(F.count(F.lit(1)), F.count_distinct(id_col)).first())
    n_removed, n_erased = int(gone[0]), int(gone[1])
    _rewrite_survivors(spark, path, touched_rows, ["list_id"],
                       {(li,) for li in touched}, victim)
    residual = residual_ids = 0
    if delete_vectors is not None and verify_residuals:
        # a delete that emptied EVERY list leaves no parquet to read
        # (schema inference would throw on the bare _SUCCESS dir) —
        # and trivially no residuals (r14 continuation review)
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            spark._jsc.hadoopConfiguration())
        if any(st.isDirectory()
               and st.getPath().getName().startswith("list_id=")
               for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path))):
            left = (spark.read.parquet(path)
                    .select(id_col, "list_id")
                    .where(F.col(id_col).isin(ids))
                    .agg(F.count(F.lit(1)), F.count_distinct(id_col))
                    .first())
            residual, residual_ids = int(left[0]), int(left[1])
    # the sidecar follows the data; ids whose replicas survive a
    # mismatched assign_n are still served, so they stay counted
    meta = _ivf_meta(spark, path)
    if meta is not None:
        _ivf_write_meta(spark, path,
                        meta["corpus_n"] - n_erased + residual_ids,
                        meta.get("schema"))
        from vectordb_explorations_spark.operators.pq import (
            invalidate_corpus_n)
        invalidate_corpus_n()
    if residual:
        raise RuntimeError(
            f"ivf_delete_partitioned: {residual} replica row(s) of "
            f"the victim ids survive outside the routed lists — "
            f"the caller's assign_n={assign_n} does not match the "
            f"build's. Re-run with the build's assign_n or the "
            f"ids-only path (delete_ids=...) to finish the erasure.")
    return n_removed


def ivf_probe_partitioned(spark, path: str, centroids: np.ndarray,
                          queries: DataFrame, k: int, nprobe: int = 8,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          qid_col: str = "query_id",
                          qvec_col: str = "query_vec") -> DataFrame:
    """Serve the raw-vector IVF layout: the shared pruned probe
    (``_ivf_probe``) over exact distances."""
    return _ivf_probe(spark, path, centroids, queries, k, nprobe,
                      _raw_code(vec_col), id_col=id_col, vec_col=vec_col,
                      qid_col=qid_col, qvec_col=qvec_col)
