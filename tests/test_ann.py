"""Recall gates for the approximate paths (SURVEY §0/§5: ANN is stochastic
by construction — validated by recall against the exact path, never hashed).
"""

import pytest

from pyspark.sql import functions as F

from vectordb_explorations_spark.operators.ann import (
    ann_search, ivf_build, ivf_search, lsh_bucket_skew,
    lsh_refine_hot_buckets, lsh_search, random_hyperplane_lsh, recall_at_k)
from vectordb_explorations_spark.operators.hnsw import (
    HnswGraph, hnsw_build, hnsw_search)
from vectordb_explorations_spark.operators.knn import knn_join, sample_queries
from vectordb_explorations_spark.sources import load_table

K = 10
NUM_Q = 10


@pytest.fixture(scope="module")
def exact(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir).cache()
    qs = sample_queries(emb, NUM_Q).cache()
    ex = knn_join(emb, qs, K).cache()
    ex.count()
    return emb, qs, ex


def test_lsh_recall(spark, sf_dir, exact):
    emb, qs, ex = exact
    approx = lsh_search(emb, qs, K)
    assert recall_at_k(approx, ex, K) >= 0.7


def test_lsh_index_is_narrow(spark, sf_dir, exact):
    emb, qs, ex = exact
    idx = random_hyperplane_lsh(emb, num_tables=4, num_planes=6)
    assert idx.columns == ["vec_id", "table_id", "bucket"]
    assert idx.count() == emb.count() * 4


def test_ivf_recall(spark, sf_dir, exact):
    emb, qs, ex = exact
    assigned, cents = ivf_build(emb, num_centroids=8)
    approx = ivf_search(assigned, cents, qs, K, nprobe=4)
    assert recall_at_k(approx, ex, K) >= 0.85


def test_hnsw_recall(spark, sf_dir, exact):
    emb, qs, ex = exact
    idx = hnsw_build(emb, num_shards=4)
    approx = hnsw_search(idx, qs, K, ef_search=64)
    assert recall_at_k(approx, ex, K) >= 0.9


def test_hnsw_routed_kmeans_shards(spark, sf_dir, exact):
    """Routing gate (round-4 VERDICT item 6): kmeans shards + boundary
    replication hold recall probing only HALF the shards; hash shards
    refuse routing (uniform samples — centroids coincide)."""
    emb, qs, ex = exact
    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans")
    routed = hnsw_search(idx, qs, K, ef_search=64, probe_shards=2)
    assert recall_at_k(routed, ex, K) >= 0.8
    with pytest.raises(ValueError, match="kmeans"):
        hnsw_search(hnsw_build(emb, num_shards=4), qs, K, probe_shards=2)


def test_hnsw_shard_cap_balance(spark, sf_dir, exact):
    """shard_cap splits over-loaded kmeans cells into mixed-hash
    sub-shards: no shard exceeds ~cap (sampling slack), and routing still
    probes whole cells (sub-shards share the cell centroid)."""
    emb, qs, ex = exact
    cap = 150  # 500 vectors x assign_n=2 across 4 cells forces splits
    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans", shard_cap=cap)
    rows = idx.select("shard", "n_vectors").collect()
    assert len(rows) > 4  # at least one cell split
    assert max(int(r["n_vectors"]) for r in rows) <= int(cap * 1.5)
    routed = hnsw_search(idx, qs, K, ef_search=64, probe_shards=2)
    assert recall_at_k(routed, ex, K) >= 0.8


def test_hnsw_persist_reload_roundtrip(spark, sf_dir, exact, tmp_path):
    """Serving path: the index DataFrame (blobs + centroids) round-trips
    through parquet and the reloaded index answers identically — including
    centroid-routed probes."""
    emb, qs, ex = exact
    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans")
    p = str(tmp_path / "hnsw_idx")
    idx.write.parquet(p)
    reloaded = spark.read.parquet(p)
    a = hnsw_search(idx, qs, K, ef_search=64, probe_shards=2).collect()
    b = hnsw_search(reloaded, qs, K, ef_search=64, probe_shards=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hnsw_graph_local():
    """Pure-graph sanity without Spark: the perturbation oracle
    (hnsw.cc:326-368 restated) on one in-process graph."""
    import numpy as np
    rng = np.random.RandomState(3)
    mat = rng.randint(0, 256, size=(200, 3)).astype(np.float64)
    g = HnswGraph(dim=3, m=8, ef_construction=64, seed=3)
    g.bulk_add(np.arange(200), mat)
    misses = 0
    for probe_i in range(50):
        probe = mat[probe_i] + np.array([0.0, 1.0, -1.0])
        got = g.search(probe, 1, ef_search=128)[0][0]
        exact_id = int(np.argmin(((mat - probe) ** 2).sum(axis=1)))
        misses += got != exact_id
    # approximate index: allow a small miss budget over 50 probes
    assert misses <= 2


def test_hnsw_reference_level_mult():
    """The compat flag reproduces the reference's 1/m falloff
    (hnsw.cc:140-145) vs the canonical 1/ln(m)."""
    import math
    g_ref = HnswGraph(dim=2, m=8, reference_level_mult=True)
    g_can = HnswGraph(dim=2, m=8, reference_level_mult=False)
    assert g_ref.level_mult == pytest.approx(1.0 / 8)
    assert g_can.level_mult == pytest.approx(1.0 / math.log(8))


def test_hnsw_reference_walk_compat():
    """The reference_walk compat mode pins hnsw.cc:247-259's
    stop-at-local-minimum semantics: deterministic, distances exact and
    ascending, candidate pool limited to the strictly-improving chain (so
    it can return fewer than k), while the ef-bounded default always fills
    k with at least as good a worst-case distance."""
    import numpy as np
    rng = np.random.RandomState(7)
    mat = rng.standard_normal((300, 4)) * 10.0
    g = HnswGraph(dim=4, m=4, ef_construction=16, seed=7)
    g.bulk_add(np.arange(300), mat)
    k = 10
    shorter, worse = 0, 0
    for qi in range(40):
        probe = mat[qi] + rng.standard_normal(4) * 0.1
        walk = g.search(probe, k, reference_walk=True)
        full = g.search(probe, k, ef_search=64)
        assert walk == g.search(probe, k, reference_walk=True)  # deterministic
        assert len(walk) <= k and len(full) == k
        dists = [d for _, d in walk]
        assert dists == sorted(dists)
        for vid, d in walk:  # surfaced distances are true L2 to the probe
            assert d == pytest.approx(
                float(np.sqrt(((mat[vid] - probe) ** 2).sum())))
        shorter += len(walk) < k
        if walk and len(full) == k:
            worse += walk[-1][1] > full[len(walk) - 1][1]
    # The documented deviation must be observable: the walk's chain pool
    # starves it of results (or gives worse tails) on a meaningful share
    # of probes, which is exactly why the default is ef-bounded.
    assert shorter + worse > 0


def test_lsh_refined_hot_buckets(spark, sf_dir, exact):
    """A tiny bucket_cap forces every bucket through the in-bucket k-means
    refinement; recall must hold and sub-bucket sizes must be bounded."""
    emb, qs, ex = exact
    idx = random_hyperplane_lsh(emb)
    refined, cents = lsh_refine_hot_buckets(idx, emb, bucket_cap=16)
    sizes = refined.groupBy("table_id", "bucket", "sub").count()
    # k-means splits aren't perfectly balanced; 4x cap is the sanity bound
    assert sizes.agg(F.max("count")).collect()[0][0] <= 64
    approx = lsh_search(emb, qs, K, index=idx, bucket_cap=16,
                        nprobe_sub=4, refined=(refined, cents))
    assert recall_at_k(approx, ex, K) >= 0.7


def test_ann_router(spark, sf_dir, exact):
    """ann_search measures bucket skew and routes: near-uniform → LSH,
    clustered/hot → IVF; both routes must clear the recall gate."""
    emb, qs, ex = exact
    idx = random_hyperplane_lsh(emb)
    assert lsh_bucket_skew(idx, bucket_cap=10**9) == 0.0
    assert lsh_bucket_skew(idx, bucket_cap=0) == 1.0
    # default cap at this sf: nothing hot -> LSH route
    routed_lsh = ann_search(emb, qs, K, method="auto")
    assert recall_at_k(routed_lsh, ex, K) >= 0.7
    # force the hot route: every bucket over-cap -> IVF (centroid count
    # sized to the 2k-vector fixture; the router's 64-centroid default is
    # tuned for the 200k scale probe)
    routed_ivf = ann_search(emb, qs, K, method="auto", bucket_cap=1,
                            hot_frac_threshold=0.0,
                            num_centroids=8, nprobe=4)
    assert recall_at_k(routed_ivf, ex, K) >= 0.85


def test_lsh_bucketed_probe_prunes(spark, sf_dir, tmp_path):
    import re
    from vectordb_explorations_spark.operators.ann import (
        lsh_persist_bucketed, lsh_probe_bucketed)
    emb = load_table(spark, "embeddings", sf_dir)
    idx = random_hyperplane_lsh(emb)
    spark.sql("DROP TABLE IF EXISTS lsh_idx_bucketed")
    lsh_persist_bucketed(idx, "lsh_idx_bucketed",
                         str(tmp_path / "lshb"), num_buckets=16)
    probes = [(0, 3), (1, 7), (2, 3)]
    pruned = lsh_probe_bucketed(spark, "lsh_idx_bucketed", probes)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < int(m.group(2))
    expected = idx.where(
        F.struct("table_id", "bucket").isin(
            [F.struct(F.lit(t), F.lit(b)) for t, b in probes]))
    assert (sorted(map(tuple, pruned.collect()))
            == sorted(map(tuple, expected.collect())))
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                   "true")
    spark.sql("DROP TABLE IF EXISTS lsh_idx_bucketed")


def test_ivf_partitioned_probe_prunes_and_matches(spark, sf_dir, tmp_path):
    """The persisted-IVF serving layout: the probe's scan must show
    PartitionFilters on list_id (unprobed list directories never read),
    and its results must equal the in-memory ivf_search bit for bit."""
    from vectordb_explorations_spark.operators.ann import (
        ivf_build, ivf_persist_partitioned, ivf_probe_partitioned,
        ivf_search)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    assigned, cents = ivf_build(emb, num_centroids=8)
    path = str(tmp_path / "ivf_idx")
    ivf_persist_partitioned(assigned, path)
    queries = sample_queries(emb, 5).cache()

    served = ivf_probe_partitioned(spark, path, cents, queries, 5, nprobe=2)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert pf.strip(), plan[:1500]

    mem = ivf_search(assigned, cents, queries, 5, nprobe=2)
    a = sorted(map(tuple, served.collect()))
    b = sorted(map(tuple, mem.collect()))
    assert a == b


def test_hnsw_partitioned_probe_prunes_and_matches(spark, sf_dir, tmp_path):
    """The persisted-HNSW serving layout (the routed twin of the IVF
    one): the probe's scan must show PartitionFilters on shard (unrouted
    shard directories never read), and results must equal the in-memory
    hnsw_search bit for bit."""
    import re

    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_build, hnsw_persist_partitioned, hnsw_probe_partitioned,
        hnsw_search)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans").cache()
    idx.count()
    path = str(tmp_path / "hnsw_idx")
    hnsw_persist_partitioned(idx, path)
    queries = sample_queries(emb, 5).cache()

    served = hnsw_probe_partitioned(spark, path, queries, 5, probe_shards=2)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert pf.strip(), plan[:1500]

    mem = hnsw_search(idx, queries, 5, probe_shards=2)
    a = sorted(map(tuple, served.collect()))
    b = sorted(map(tuple, mem.collect()))
    assert a == b and a
    idx.unpersist()


def test_ivf_append_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental IVF ingest: append a new batch against frozen
    centroids, then (a) probes over the appended layout must equal
    ivf_search over the logical union, and (b) the append must write
    files ONLY into the list directories the batch touches."""
    import os as _os

    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators.ann import (
        ivf_append_partitioned, ivf_assign, ivf_build,
        ivf_persist_partitioned, ivf_probe_partitioned, ivf_search)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    old = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    assigned, cents = ivf_build(old, num_centroids=8)
    path = str(tmp_path / "ivf_inc")
    ivf_persist_partitioned(assigned, path)

    files_before = {d: len(_os.listdir(_os.path.join(path, d)))
                    for d in _os.listdir(path) if d.startswith("list_id=")}
    batch = new.limit(20)
    ivf_append_partitioned(path, cents, batch)
    files_after = {d: len(_os.listdir(_os.path.join(path, d)))
                   for d in _os.listdir(path) if d.startswith("list_id=")}
    touched = {f"list_id={r['list_id']}" for r in
               ivf_assign(batch, cents).select("list_id").distinct()
               .collect()}
    for d in files_before:
        if d not in touched:
            assert files_after[d] == files_before[d], d  # untouched list

    queries = sample_queries(emb, 5).cache()
    served = ivf_probe_partitioned(spark, path, cents, queries, 5, nprobe=3)
    union = assigned.unionByName(ivf_assign(batch, cents)
                                 .select(*assigned.columns))
    mem = ivf_search(union, cents, queries, 5, nprobe=3)
    a = sorted(map(tuple, served.collect()))
    b = sorted(map(tuple, mem.collect()))
    assert a == b and a


def test_ivf_probe_partitioned_runs_one_job(spark, sf_dir, tmp_path):
    """An unforced probe of any persisted IVF code (raw, PQ, SQ8) runs
    exactly ONE Spark job: the query collect. Routing is driver-side,
    the pruned list read takes the sidecar's read-back schema (no
    footer-inference job, no second collect), and the refine policy
    resolves from the sidecar's corpus_n (no count job)."""
    import uuid

    from vectordb_explorations_spark.operators.ann import (
        ivf_persist_partitioned, ivf_probe_partitioned)
    from vectordb_explorations_spark.operators.pq import (
        ivfpq_build, ivfpq_persist_partitioned, ivfpq_probe_partitioned)
    from vectordb_explorations_spark.operators.sq import (
        ivfsq_build, ivfsq_persist_partitioned, ivfsq_probe_partitioned)

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, 5)
    assigned, cents = ivf_build(emb, num_centroids=8)
    pq_codes, pq_cents, books = ivfpq_build(emb, num_centroids=8,
                                            m_subspaces=8, k_codes=16)
    sq_codes, sq_cents, mins, maxs = ivfsq_build(emb, num_centroids=8)
    paths = {f: str(tmp_path / f) for f in ("ivf", "ivfpq", "ivfsq")}
    ivf_persist_partitioned(assigned, paths["ivf"])
    ivfpq_persist_partitioned(pq_codes, paths["ivfpq"])
    ivfsq_persist_partitioned(sq_codes, paths["ivfsq"])
    probes = {
        "ivf": lambda: ivf_probe_partitioned(
            spark, paths["ivf"], cents, qs, K, nprobe=4),
        "ivfpq": lambda: ivfpq_probe_partitioned(
            spark, paths["ivfpq"], pq_cents, books, qs, K, nprobe=4,
            refine_with=emb, refine_factor=5),
        "ivfsq": lambda: ivfsq_probe_partitioned(
            spark, paths["ivfsq"], sq_cents, mins, maxs, qs, K, nprobe=4,
            refine_with=emb, refine_factor=5),
    }
    sc = spark.sparkContext
    jobs = {}
    for family, probe in probes.items():
        group = f"ivf-probe-{family}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, family)
        try:
            probe()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[family] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {"ivf": 1, "ivfpq": 1, "ivfsq": 1}, jobs


def test_hnsw_append_rebuilds_only_touched_shards(spark, sf_dir, tmp_path):
    """Incremental HNSW ingest: after appending a batch, (a) untouched
    shard directories keep their exact files, (b) every appended vector
    is found at rank 1 by a routed probe over the layout, (c) shard
    n_vectors totals equal old + assigned replicas."""
    import os as _os

    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_append_partitioned, hnsw_build, hnsw_persist_partitioned,
        hnsw_probe_partitioned)
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    old = emb.where(F.col("vec_id") % 7 != 0)
    new = emb.where(F.col("vec_id") % 7 == 0).limit(12)
    idx = hnsw_build(old, num_shards=4, shard_by="kmeans").cache()
    idx.count()
    path = str(tmp_path / "hnsw_inc")
    hnsw_persist_partitioned(idx, path)
    n_old = sum(r["n_vectors"] for r in
                spark.read.parquet(path).select("n_vectors").collect())

    def files(p):
        return {d: sorted(_os.listdir(_os.path.join(p, d)))
                for d in _os.listdir(p) if d.startswith("shard=")}

    before = files(path)
    hnsw_append_partitioned(spark, path, new)
    after = files(path)
    reread = spark.read.parquet(path)
    per_shard_after = {int(r["shard"]): r["n_vectors"]
                       for r in reread.select("shard", "n_vectors").collect()}
    per_shard_before = {int(r["shard"]): r["n_vectors"]
                        for r in idx.select("shard", "n_vectors").collect()}
    touched = {s for s in per_shard_after
               if per_shard_after[s] != per_shard_before.get(s)}
    assert touched  # the batch landed somewhere
    for d, fl in before.items():
        if int(d.split("=")[1]) not in touched:
            assert after[d] == fl, f"untouched {d} rewritten"

    added = sum(per_shard_after.values()) - n_old
    n_new = new.count()
    assert n_new <= added <= 2 * n_new  # assign_n=2 replication

    # every appended vector is its own nearest neighbor via routed probe
    qs = new.select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"))
    res = hnsw_probe_partitioned(spark, path, qs, 1, probe_shards=2)
    top1 = {r["query_id"]: r["vec_id"] for r in res.collect()}
    assert all(top1[q] == q for q in top1) and len(top1) == n_new
    idx.unpersist()


def test_ivf_filtered_search_within_facet(spark, sf_dir):
    """Filtered ANN by composition (the tenant/facet-scoped search every
    vector store exposes): because ivf_build's assignment preserves the
    source columns, scoping the assigned frame to one facet BEFORE
    ivf_search yields ANN-within-facet with no new operator. Results
    must stay inside the facet and hold recall against the exact
    within-facet ranking."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators.ann import (
        ivf_build, ivf_search, recall_at_k)
    from vectordb_explorations_spark.operators.knn import (
        knn_join, sample_queries)
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    label = emb.orderBy("vec_id").first()["label"]
    facet = emb.where(F.col("label") == label).cache()
    assigned, cents = ivf_build(emb, num_centroids=8)
    queries = sample_queries(facet, 5).cache()

    got = ivf_search(assigned.where(F.col("label") == label), cents,
                     queries, 5, nprobe=4)
    ids_in_facet = {r["vec_id"] for r in facet.select("vec_id").collect()}
    assert {r["vec_id"] for r in got.collect()} <= ids_in_facet

    exact = knn_join(facet, queries, 5, dim=64)
    assert recall_at_k(got, exact, 5) >= 0.8
    facet.unpersist()


def test_adaptive_bucket_cap_policy(spark, sf_dir):
    """r7 verdict item 3: bucket_cap='auto' scales with corpus size at
    the calibrated candidate fraction, floors at the default at small N
    (so fixture-scale hash evidence is unchanged), and a fixed cap below
    the fraction emits a loud recall-risk warning."""
    import warnings

    from vectordb_explorations_spark.operators.ann import (
        LSH_CAP_FRACTION, LSH_DEFAULT_BUCKET_CAP, adaptive_bucket_cap)
    from vectordb_explorations_spark.sources.catalog import load_table

    # policy math
    assert adaptive_bucket_cap(2_000) == LSH_DEFAULT_BUCKET_CAP
    assert adaptive_bucket_cap(100_000) == LSH_DEFAULT_BUCKET_CAP
    assert adaptive_bucket_cap(1_000_000) == int(
        1_000_000 * LSH_CAP_FRACTION + 0.999999)
    assert adaptive_bucket_cap(1_000_000) > LSH_DEFAULT_BUCKET_CAP

    # 'auto' at fixture scale resolves to the floor -> identical refined
    # index to the fixed default (the hash-stability guarantee for
    # ann_bucketed_probe / ann_recall_report)
    emb = load_table(spark, "embeddings", sf_dir)
    idx = random_hyperplane_lsh(emb).cache()
    try:
        fixed, cf = lsh_refine_hot_buckets(idx, emb, bucket_cap=1024)
        auto, ca = lsh_refine_hot_buckets(idx, emb, bucket_cap="auto")
        a = sorted(map(tuple, fixed.collect()))
        b = sorted(map(tuple, auto.collect()))
        assert a == b
        assert [tuple(r) for r in cf] == [tuple(r) for r in ca]
    finally:
        idx.unpersist()

    # a fixed cap far below the calibrated fraction warns
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lsh_refine_hot_buckets(idx, emb, bucket_cap=2)
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert any("recall decays" in m and "auto" in m for m in msgs), msgs


def test_adaptive_multiprobe_and_auto_search(spark, sf_dir, exact):
    """The 'auto' probe policy: depth 1 below the threshold (fixture
    scale unchanged), 2 past it; lsh_search('auto'...) at fixture scale
    equals the fixed-default search row for row."""
    from vectordb_explorations_spark.operators.ann import (
        LSH_MULTIPROBE_THRESHOLD, adaptive_multiprobe_bits)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources.catalog import load_table

    assert adaptive_multiprobe_bits(2_000) == 1
    assert adaptive_multiprobe_bits(LSH_MULTIPROBE_THRESHOLD) == 2
    assert adaptive_multiprobe_bits(10_000_000) == 2

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, 5)
    fixed = lsh_search(emb, qs, 5).collect()
    auto = lsh_search(emb, qs, 5, multiprobe_bits="auto",
                      bucket_cap="auto").collect()
    assert sorted(map(tuple, fixed)) == sorted(map(tuple, auto))
    # the job-free resolution path: a caller that holds N from build time
    # must get the identical result without the count fallback
    metadata = lsh_search(emb, qs, 5, multiprobe_bits="auto",
                          bucket_cap="auto",
                          corpus_n=emb.count()).collect()
    assert sorted(map(tuple, metadata)) == sorted(map(tuple, auto))


def test_ivf_search_partitioning_invariant(spark, sf_dir):
    """ivf_search's closure probe-map kernel must be partitioning-blind:
    exact distances make assign_n replicas tie, and every global top-k
    row survives its own (partition, list, query) pool head. Pin it with
    a 7-way reshuffle of the assignment."""
    from vectordb_explorations_spark.operators.ann import (ivf_build,
                                                           ivf_search)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    assigned, cents = ivf_build(emb, num_centroids=8)
    assigned = assigned.cache()
    queries = sample_queries(emb, 10).cache()
    a = sorted(map(tuple, ivf_search(assigned, cents, queries, 5,
                                     nprobe=3).collect()))
    b = sorted(map(tuple, ivf_search(assigned.repartition(7), cents,
                                     queries, 5, nprobe=3).collect()))
    assert a == b and a
    assigned.unpersist()


def test_ranked_probing_full_budget_equals_ring(spark, sf_dir):
    """Query-directed probing contract: a budget covering the whole
    <=2-bit flip family probes exactly the ring's buckets, so results
    equal multiprobe_bits=2 bit for bit, and the ranking is
    deterministic (same call twice, identical output)."""
    from vectordb_explorations_spark.operators.ann import (
        lsh_refine_hot_buckets, lsh_search, random_hyperplane_lsh)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    P = 6
    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, 10).cache()
    idx = random_hyperplane_lsh(emb, 4, P).cache()
    idx.count()
    ref = lsh_refine_hot_buckets(idx, emb, 256)
    full = 1 + P + P * (P - 1) // 2

    def run(**kw):
        return lsh_search(emb, qs, 5, 4, P, index=idx, bucket_cap=256,
                          refined=ref, **kw)

    ring = sorted(map(tuple, run(multiprobe_bits=2).collect()))
    ranked_full = sorted(map(tuple, run(probe_budget=full).collect()))
    assert ring == ranked_full and ring

    a = sorted(map(tuple, run(probe_budget=8).collect()))
    b = sorted(map(tuple, run(probe_budget=8).collect()))
    assert a == b and a
    idx.unpersist()


def test_query_batch_cap_guard(spark):
    """The serving contract is explicit: search kernels collect the query
    batch driver-side (closure probe maps), so an oversized batch raises
    instead of flooding the driver — and the LIMIT bounds the transfer
    BEFORE the check."""
    import pytest as _pytest

    from vectordb_explorations_spark.operators.ann import (
        collect_query_batch)

    qs = spark.range(10).selectExpr(
        "id AS query_id", "array(CAST(id AS FLOAT)) AS query_vec")
    assert len(collect_query_batch(qs, "query_id", "query_vec", cap=10)) == 10
    with _pytest.raises(ValueError, match="serving cap"):
        collect_query_batch(qs, "query_id", "query_vec", cap=9)


def test_lsh_exchange_warning_at_scale(spark, sf_dir):
    """Serving LSH past the measured exchange knee (10M: ring 188 s vs
    IVF 9 s) without a probe_budget warns and points at the partitioned
    families; a budgeted call stays silent."""
    import warnings

    from vectordb_explorations_spark.operators.ann import (
        LSH_EXCHANGE_WARN_N, lsh_search)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, 2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lsh_search(emb, qs, 3, corpus_n=LSH_EXCHANGE_WARN_N).collect()
    assert any("candidate-pair exchange" in str(w.message) for w in caught)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lsh_search(emb, qs, 3, corpus_n=LSH_EXCHANGE_WARN_N,
                   probe_budget=24).collect()
    assert not any("candidate-pair exchange" in str(w.message)
                   for w in caught)


def test_hnsw_probe_shards_auto_policy(spark, sf_dir, exact):
    """probe_shards='auto' (r10 verdict item 4, the LSH-cap discipline):
    (1) at the fixture floor the resolution probes EVERY cell, so auto is
    bit-equal to the explicit full fan-out; (2) the resolver holds the
    calibrated probed fraction as cells grow; (3) a fixed int below the
    fraction warns loudly, auto stays silent."""
    import warnings

    from vectordb_explorations_spark.operators.hnsw import (
        HNSW_PROBE_FRACTION, adaptive_probe_shards)

    emb, qs, ex = exact
    # resolver geometry: floor at tiny layouts, fraction past it
    assert adaptive_probe_shards(2) == 2
    assert adaptive_probe_shards(4) == 4
    assert adaptive_probe_shards(32) == 12          # the calibrated anchor
    assert adaptive_probe_shards(320) == 120        # fraction held at 10x
    assert adaptive_probe_shards(320) / 320 >= HNSW_PROBE_FRACTION

    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans").cache()
    idx.count()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # auto never warns
        a = hnsw_search(idx, qs, K, ef_search=64,
                        probe_shards="auto").collect()
    b = hnsw_search(idx, qs, K, ef_search=64, probe_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # floor == full


def test_hnsw_probe_shards_low_int_warns(spark, sf_dir, exact):
    import warnings

    emb, qs, ex = exact
    idx = hnsw_build(emb, num_shards=12, shard_by="kmeans").cache()
    idx.count()
    with pytest.warns(RuntimeWarning, match="probe_shards='auto'"):
        hnsw_search(idx, qs, K, ef_search=64, probe_shards=2).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        hnsw_search(idx, qs, K, ef_search=64, probe_shards="auto").collect()


def test_hnsw_partitioned_auto_matches_in_memory(spark, sf_dir, exact,
                                                 tmp_path):
    """The partitioned serving path resolves 'auto' from the SAME cell
    population, so it stays bit-equal to the in-memory auto search."""
    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_persist_partitioned, hnsw_probe_partitioned)

    emb, qs, ex = exact
    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans")
    path = str(tmp_path / "hnsw_auto_part")
    hnsw_persist_partitioned(idx, path)
    served = hnsw_probe_partitioned(spark, path, qs, K, ef_search=64,
                                    probe_shards="auto").collect()
    mem = hnsw_search(idx, qs, K, ef_search=64,
                      probe_shards="auto").collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, mem))


def test_hnsw_partitioned_fixed_low_probe_warns(spark, sf_dir, tmp_path):
    """The partitioned serving path must emit the same recall-risk
    warning as the in-memory search for a risky fixed probe count: the
    inner hnsw_search only sees the PRUNED cell union (probe == its
    whole world), so the outer router is the only place the full cell
    population is known (review finding)."""
    import pytest as _pytest

    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_build, hnsw_persist_partitioned, hnsw_probe_partitioned)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    idx = hnsw_build(emb, num_shards=12, shard_by="kmeans").cache()
    idx.count()
    path = str(tmp_path / "hnsw_idx_warn")
    hnsw_persist_partitioned(idx, path)
    queries = sample_queries(emb, 2).cache()
    with _pytest.warns(RuntimeWarning, match="probe_shards=2"):
        hnsw_probe_partitioned(spark, path, queries, 5,
                               probe_shards=2).collect()
    idx.unpersist()


def _exact_cosine_topk(emb, qs, k):
    """Independent cosine baseline: rank by cosine on the RAW vectors
    (scale-invariant), id tie-break — no normalization involved, so the
    contract tests below can't be circular."""
    from pyspark.sql import Window

    from vectordb_explorations_spark.functions.vectors import (
        cosine_similarity)

    scored = (emb.crossJoin(F.broadcast(qs))
              .select("query_id", "vec_id",
                      cosine_similarity(F.col("query_vec"),
                                        F.col("embedding")).alias("cs")))
    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(),
                                               F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def test_cosine_serving_contract_exact(spark, sf_dir):
    """The l2_normalize serving contract (r12 verdict item 4), exact
    half: L2 top-k over unit-normalized corpus+queries must return the
    SAME per-query neighbor sets as raw-vector cosine ranking
    (|a-b|^2 = 2 - 2cos on unit vectors)."""
    from vectordb_explorations_spark.functions.vectors import l2_normalize

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, NUM_Q)
    via_l2 = knn_join(l2_normalize(emb), l2_normalize(qs, "query_vec"), K)
    assert recall_at_k(via_l2, _exact_cosine_topk(emb, qs, K), K) == 1.0


def test_cosine_serving_contract_ivf(spark, sf_dir):
    """Approximate half: an IVF index BUILT on the normalized corpus and
    probed with normalized queries serves cosine top-k at the family's
    own L2 recall gate — the metric-completeness path for every L2
    index family."""
    from vectordb_explorations_spark.functions.vectors import l2_normalize

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, NUM_Q)
    n_emb = l2_normalize(emb).cache()
    n_emb.count()
    assigned, cents = ivf_build(n_emb, num_centroids=8)
    approx = ivf_search(assigned, cents, l2_normalize(qs, "query_vec"),
                        K, nprobe=4)
    assert recall_at_k(approx, _exact_cosine_topk(emb, qs, K), K) >= 0.85
    n_emb.unpersist()


def test_cosine_serving_contract_hnsw(spark, sf_dir):
    """The contract on the flagship family: an HNSW graph built over
    the normalized corpus serves cosine top-k at its own L2 recall
    gate (the reference's greedy walk needs no metric change — only
    the ingest/query normalization the contract documents)."""
    from vectordb_explorations_spark.functions.vectors import l2_normalize

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, NUM_Q)
    n_emb = l2_normalize(emb).cache()
    n_emb.count()
    idx = hnsw_build(n_emb, num_shards=4)
    approx = hnsw_search(idx, l2_normalize(qs, "query_vec"), K,
                         ef_search=64)
    assert recall_at_k(approx, _exact_cosine_topk(emb, qs, K), K) >= 0.9
    n_emb.unpersist()


def _exact_ip_topk(emb, qs, k):
    """Independent inner-product baseline on the RAW vectors."""
    from pyspark.sql import Window

    from vectordb_explorations_spark.functions.vectors import dot_product

    scored = (emb.crossJoin(F.broadcast(qs))
              .select("query_id", "vec_id",
                      dot_product(F.col("query_vec"),
                                  F.col("embedding")).alias("ip")))
    w = Window.partitionBy("query_id").orderBy(F.col("ip").desc(),
                                               F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def test_mips_serving_contract_exact(spark, sf_dir):
    """The mips_augment reduction, exact half: L2 top-k in the
    augmented dim+1 space (corpus padded with sqrt(M^2-|x|^2), queries
    with 0) must return the SAME per-query neighbor sets as raw
    inner-product ranking."""
    from vectordb_explorations_spark.functions.vectors import (
        mips_augment, mips_pad_query)

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, NUM_Q)
    via_l2 = knn_join(mips_augment(emb), mips_pad_query(qs), K)
    assert recall_at_k(via_l2, _exact_ip_topk(emb, qs, K), K) == 1.0


def test_mips_serving_contract_ivf(spark, sf_dir):
    """Approximate half: IVF built on the augmented corpus and probed
    with padded queries serves MIPS top-k at the family's recall
    gate."""
    from vectordb_explorations_spark.functions.vectors import (
        mips_augment, mips_pad_query)

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, NUM_Q)
    a_emb = mips_augment(emb).cache()
    a_emb.count()
    assigned, cents = ivf_build(a_emb, num_centroids=8)
    approx = ivf_search(assigned, cents, mips_pad_query(qs), K, nprobe=4)
    assert recall_at_k(approx, _exact_ip_topk(emb, qs, K), K) >= 0.85
    a_emb.unpersist()


def test_mips_augment_semantics(spark):
    """Augmented norms all equal the corpus max norm; the max-norm row
    pads with exactly 0; query pad appends one 0.0; dtype stays
    float."""
    import math

    from vectordb_explorations_spark.functions.vectors import (
        mips_augment, mips_pad_query)

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>")
    rows = {r.vec_id: list(r.embedding)
            for r in mips_augment(df).collect()}
    assert all(len(v) == 3 for v in rows.values())
    for v in rows.values():
        assert math.sqrt(sum(x * x for x in v)) == pytest.approx(5.0,
                                                                 abs=1e-5)
    assert rows[1][2] == 0.0
    out = mips_augment(df)
    assert dict(out.dtypes)["embedding"] == "array<float>"
    q = spark.createDataFrame([(0, [1.0, 2.0])],
                              "query_id long, query_vec array<float>")
    qr = mips_pad_query(q).collect()[0]
    assert list(qr.query_vec) == [1.0, 2.0, 0.0]


def test_l2_normalize_semantics(spark):
    """Unit norms, zero-vector passthrough, float element type, and the
    staged-projection shape (no per-element norm re-inline)."""
    import math

    from vectordb_explorations_spark.functions.vectors import l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [0.0, -2.0])],
        "vec_id long, embedding array<float>")
    rows = {r.vec_id: list(r.embedding)
            for r in l2_normalize(df).collect()}
    assert rows[1] == [pytest.approx(0.6), pytest.approx(0.8)]
    assert rows[2] == [0.0, 0.0]
    assert rows[3][1] == pytest.approx(-1.0)
    norm = math.sqrt(sum(x * x for x in rows[1]))
    assert norm == pytest.approx(1.0, abs=1e-6)
    out = l2_normalize(df)
    assert dict(out.dtypes)["embedding"] == "array<float>"


def test_ivf_delete_partitioned_lifecycle(spark, sf_dir, tmp_path):
    """The lifecycle's missing third (persist/append/probe/DELETE):
    deleting ids rewrites ONLY their lists (untouched directories keep
    their exact files), removes every assign_n replica, empties a
    fully-deleted list's directory, and both locating paths (ids-only
    narrow scan vs frozen-centroid routing of the vectors) remove the
    same rows."""
    import os

    from vectordb_explorations_spark.operators.ann import (
        ivf_delete_partitioned, ivf_persist_partitioned,
        ivf_probe_partitioned)
    from vectordb_explorations_spark.operators.pq import _read_corpus_meta

    emb = load_table(spark, "embeddings", sf_dir)
    assigned, cents = ivf_build(emb, num_centroids=8)
    path = str(tmp_path / "ivf_idx")
    ivf_persist_partitioned(assigned, path)

    def dir_state(p):
        out = {}
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(root, f)
                    out[fp] = os.path.getsize(fp)
        return out

    before = dir_state(path)
    idx = spark.read.parquet(path)
    # victims: every id in one list (empties it up to replicas) plus
    # one id from another list
    lists = [r["list_id"] for r in
             idx.groupBy("list_id").count().orderBy("count").collect()]
    small = lists[0]
    small_ids = {r["vec_id"] for r in
                 idx.where(F.col("list_id") == small).collect()}
    other_id = idx.where(~F.col("vec_id").isin(list(small_ids))) \
        .select("vec_id").first()[0]
    victims = sorted(small_ids | {other_id})

    before_rows = idx.count()
    expected_rows = idx.where(F.col("vec_id").isin(victims)).count()
    # collected BEFORE the delete — the lazy idx frame's files are
    # rewritten by it
    survivors_before = sorted(
        tuple(r) for r in idx.where(~F.col("vec_id").isin(victims))
        .select("vec_id", "list_id").collect())
    touched = {r["list_id"] for r in
               idx.where(F.col("vec_id").isin(victims))
               .select("list_id").distinct().collect()}

    n = ivf_delete_partitioned(spark, path, victims)
    assert n == expected_rows
    # the sidecar's corpus count drops by the erased ids, not replicas
    assert _read_corpus_meta(path) == emb.count() - len(victims)

    after_idx = spark.read.parquet(path)
    assert after_idx.where(F.col("vec_id").isin(victims)).count() == 0
    # survivors-complete: exactly the victims' replica rows are gone —
    # the rewritten lists must not drop (or duplicate) non-victim rows
    assert after_idx.count() == before_rows - expected_rows
    survivors_after = sorted(
        tuple(r) for r in after_idx.select("vec_id", "list_id").collect())
    assert survivors_after == survivors_before
    after = dir_state(path)
    for fp, sz in before.items():
        li = int(fp.split("list_id=")[1].split(os.sep)[0])
        if li not in touched:
            assert fp in after and after[fp] == sz, fp
    # probes never return the deleted ids, still return survivors
    qs = sample_queries(emb, 5)
    got = ivf_probe_partitioned(spark, path, cents, qs, K, nprobe=8)
    got_ids = {r["vec_id"] for r in got.collect()}
    assert not (got_ids & set(victims))
    assert got_ids

    # routing path on a fresh copy removes the same rows
    path2 = str(tmp_path / "ivf_idx2")
    ivf_persist_partitioned(assigned, path2)
    vict_vecs = emb.where(F.col("vec_id").isin(victims))
    n2 = ivf_delete_partitioned(spark, path2, [], centroids=cents,
                                delete_vectors=vict_vecs)
    assert n2 == expected_rows
    assert _read_corpus_meta(path2) == emb.count() - len(victims)
    a1 = sorted(tuple(r) for r in spark.read.parquet(path)
                .select("vec_id", "list_id").collect())
    a2 = sorted(tuple(r) for r in spark.read.parquet(path2)
                .select("vec_id", "list_id").collect())
    assert a1 == a2


def test_ivf_delete_routing_assign_n_mismatch_raises(spark, sf_dir,
                                                     tmp_path):
    """The routing locate path finds replicas only under the build's
    assign_n; a smaller caller value would silently leave replicas
    serving the erased ids (r13 ADVICE) — the residual guard must
    catch it, and the matching value must pass the same guard."""
    from vectordb_explorations_spark.operators.ann import (
        ivf_delete_partitioned, ivf_persist_partitioned)

    emb = load_table(spark, "embeddings", sf_dir)
    assigned, cents = ivf_build(emb, num_centroids=8, assign_n=2)
    idx_rows = assigned.groupBy("vec_id").count()
    # need a victim that actually HAS two distinct lists, else
    # assign_n=1 routing would coincidentally find everything
    vid = idx_rows.where(F.col("count") >= 2).select("vec_id").first()[0]
    vict = emb.where(F.col("vec_id") == vid)

    path = str(tmp_path / "ivf_mismatch")
    ivf_persist_partitioned(assigned, path)
    with pytest.raises(RuntimeError, match="assign_n"):
        ivf_delete_partitioned(spark, path, [], centroids=cents,
                               assign_n=1, delete_vectors=vict)

    # correct assign_n erases every replica and the guard stays silent
    path2 = str(tmp_path / "ivf_match")
    ivf_persist_partitioned(assigned, path2)
    n = ivf_delete_partitioned(spark, path2, [], centroids=cents,
                               assign_n=2, delete_vectors=vict)
    assert n == 2
    assert spark.read.parquet(path2) \
        .where(F.col("vec_id") == vid).count() == 0


def test_hnsw_delete_partitioned_lifecycle(spark, sf_dir, tmp_path):
    """Erasure on the shard-partitioned HNSW layout: victims leave the
    graphs (probes never return them), untouched shard directories
    keep their exact files, a fully-emptied shard's directory
    disappears, and the count returned equals the replica-aware
    membership removed."""
    import os
    import pickle

    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_delete_partitioned, hnsw_persist_partitioned,
        hnsw_probe_partitioned)

    emb = load_table(spark, "embeddings", sf_dir)
    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans")
    path = str(tmp_path / "hnsw_del_idx")
    hnsw_persist_partitioned(idx, path)

    members = {}
    for r in spark.read.parquet(path).select("shard", "blob").collect():
        members[int(r["shard"])] = set(
            int(i) for i in pickle.loads(r["blob"]).ids)
    smallest = min(members, key=lambda s: len(members[s]))
    other = next(s for s in members if s != smallest)
    extra = sorted(members[other] - members[smallest])[0]
    victims = sorted(members[smallest] | {extra})
    expected = sum(len(members[s] & set(victims)) for s in members)
    untouched = [s for s in members
                 if not (members[s] & set(victims))]

    def dir_state(p):
        return {os.path.join(r, f): os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(p) for f in fs
                if f.endswith(".parquet")}

    before = dir_state(path)
    n = hnsw_delete_partitioned(spark, path, victims)
    assert n == expected

    after = dir_state(path)
    for fp, sz in before.items():
        sh = int(fp.split("shard=")[1].split(os.sep)[0])
        if sh in untouched:
            assert fp in after and after[fp] == sz, fp
    assert not os.path.isdir(os.path.join(path, f"shard={smallest}"))

    remaining = set()
    for r in spark.read.parquet(path).select("blob").collect():
        remaining |= {int(i) for i in pickle.loads(r["blob"]).ids}
    assert not (remaining & set(victims))
    # survivors-complete: the rebuilt shards keep EVERY non-victim id —
    # over-deletion inside a rewritten shard would pass victims-absent
    all_before = set().union(*members.values())
    assert remaining == all_before - set(victims)

    qs = sample_queries(emb, 5)
    got = hnsw_probe_partitioned(spark, path, qs, K, probe_shards=3)
    got_ids = {r["vec_id"] for r in got.collect()}
    assert not (got_ids & set(victims))
    assert got_ids


def _hnsw_members_rows(spark, path):
    from vectordb_explorations_spark.operators.hnsw import _blob_members
    return sorted(tuple(r) for r in
                  _blob_members(spark.read.parquet(path)).collect())


def test_hnsw_members_sidecar_bounds_locate(spark, sf_dir, tmp_path):
    """The (vec_id -> shard) erasure sidecar (r13 verdict item 6):
    (1) locate reads ONLY the sidecar + the victims' shards — proven
    by corrupting an untouched shard's pickled blob on disk and
    deleting victims from OTHER shards (the legacy blob-pass locate
    would unpickle it and crash); (2) the sidecar stays bit-consistent
    with blob-derived membership across persist, append, and delete;
    (3) removing the sidecar falls back to the legacy locate."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectordb_explorations_spark.operators.hnsw import (
        _members_path, hnsw_append_partitioned, hnsw_delete_partitioned,
        hnsw_persist_partitioned)

    emb = load_table(spark, "embeddings", sf_dir)
    lower = emb.where(F.col("vec_id") % 10 != 0)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    idx = hnsw_build(lower, num_shards=4, shard_by="kmeans")
    path = str(tmp_path / "hnsw_sidecar_idx")
    hnsw_persist_partitioned(idx, path)
    mp = _members_path(path)

    # (2a) sidecar == blob membership after persist
    side = sorted((int(r["shard"]), int(r["vec_id"])) for r in
                  spark.read.parquet(mp).collect())
    assert side == _hnsw_members_rows(spark, path)

    # (2b) ... and after append
    hnsw_append_partitioned(spark, path, batch)
    side = sorted((int(r["shard"]), int(r["vec_id"])) for r in
                  spark.read.parquet(mp).collect())
    assert side == _hnsw_members_rows(spark, path)

    # (1) corrupt one shard's blob; victims live ONLY in other shards
    by_shard = {}
    for sh, vid in side:
        by_shard.setdefault(sh, set()).add(vid)
    shards = sorted(by_shard)
    corrupt_shard = shards[0]
    only_elsewhere = [
        vid for sh in shards[1:] for vid in by_shard[sh]
        if vid not in by_shard[corrupt_shard]]
    victims = sorted(set(only_elsewhere))[:3]
    assert victims
    import os
    for f in glob.glob(f"{path}/shard={corrupt_shard}/*.parquet"):
        tbl = pq.read_table(f)
        i = tbl.column_names.index("blob")
        bad = pa.array([b"not a pickle"] * tbl.num_rows,
                       type=tbl.schema.field("blob").type)
        pq.write_table(tbl.set_column(i, tbl.schema.field("blob"), bad),
                       f)
        # hadoop's local FS keeps .crc sidecars; the rewrite invalidates
        # them and the checksum error would mask the unpickle signal
        crc = os.path.join(os.path.dirname(f),
                           f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    expected = sum(len(set(victims) & by_shard[sh]) for sh in shards)
    n = hnsw_delete_partitioned(spark, path, victims)
    assert n == expected  # sidecar locate never unpickled the bad blob

    # (2c) sidecar consistent after the delete: for every readable
    # shard the sidecar rows equal the blob-derived membership
    from vectordb_explorations_spark.operators.hnsw import _blob_members
    side_after = sorted(
        (int(r["shard"]), int(r["vec_id"])) for r in
        spark.read.parquet(mp).collect()
        if int(r["shard"]) != corrupt_shard)
    blob_after = sorted(
        tuple(r) for r in _blob_members(
            spark.read.parquet(path)
            .where(F.col("shard") != corrupt_shard)).collect())
    assert side_after == blob_after
    assert not {vid for _, vid in side_after} & set(victims)

    # (3) legacy fallback: removing the sidecar re-enables the blob
    # pass — deleting a victim from a READABLE shard still works
    shutil.rmtree(mp)
    survivor = next(vid for sh in shards[1:]
                    for vid in sorted(by_shard[sh])
                    if vid not in victims
                    and vid not in by_shard[corrupt_shard])
    with pytest.raises(Exception):
        # the legacy locate must unpickle EVERY blob — the corrupted
        # shard now bites, which is exactly the cost the sidecar
        # removes
        hnsw_delete_partitioned(spark, path, [survivor])


def test_hnsw_delete_stale_sidecar_never_drops_survivors(
        spark, sf_dir, tmp_path):
    """Review regression (r14 continuation): 'emptied' is decided by
    the REBUILD OUTPUT, not sidecar arithmetic. A sidecar missing one
    membership row (the crash-between-writes shape) made the old code
    believe a shard was fully emptied and delete its directory —
    erasing the unrecorded survivor. Now the blob rebuild is the
    ground truth: the survivor's shard stays and still serves."""
    import pickle

    from vectordb_explorations_spark.operators.hnsw import (
        _members_path, hnsw_delete_partitioned,
        hnsw_persist_partitioned, hnsw_probe_partitioned)
    from vectordb_explorations_spark.sources.sinks import (
        delete_rows_partitioned)

    emb = load_table(spark, "embeddings", sf_dir)
    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans")
    path = str(tmp_path / "hnsw_stale_sidecar")
    hnsw_persist_partitioned(idx, path)

    members = {}
    for r in spark.read.parquet(path).select("shard", "blob").collect():
        members[int(r["shard"])] = sorted(
            int(i) for i in pickle.loads(r["blob"]).ids)
    shard = min(members, key=lambda s: len(members[s]))
    survivor = members[shard][0]
    victims = [v for v in members[shard] if v != survivor]
    assert victims
    # replica-aware expectation: kmeans routing may place an id in
    # several shards; the count returned is memberships removed
    expected = sum(len(set(victims) & set(ids))
                   for ids in members.values())

    # simulate the stale sidecar: the survivor's membership row is
    # missing (as if a crash preceded the sidecar append)
    delete_rows_partitioned(spark, _members_path(path), ["shard"],
                            "vec_id", [survivor])

    n = hnsw_delete_partitioned(spark, path, victims)
    assert n == expected

    remaining = set()
    for r in spark.read.parquet(path).select("blob").collect():
        remaining |= {int(i) for i in pickle.loads(r["blob"]).ids}
    assert survivor in remaining
    assert not (remaining & set(victims))
    sv = emb.where(F.col("vec_id") == survivor)
    got = hnsw_probe_partitioned(
        spark, path,
        sv.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")),
        1, probe_shards=4)
    assert [r["vec_id"] for r in got.collect()] == [survivor]


def test_ivf_delete_full_erasure_with_verify(spark, sf_dir, tmp_path):
    """Review regression (r14 continuation): deleting EVERY vector via
    the routing path with verify_residuals=True must return the full
    count, not crash — the post-rewrite verification read has no
    parquet left to infer a schema from once all list directories are
    gone."""
    import os

    from vectordb_explorations_spark.operators.ann import (
        ivf_delete_partitioned, ivf_persist_partitioned)

    emb = load_table(spark, "embeddings", sf_dir).limit(200)
    assigned, cents = ivf_build(emb, num_centroids=4)
    path = str(tmp_path / "ivf_full_erasure")
    ivf_persist_partitioned(assigned, path)
    total = spark.read.parquet(path).count()

    n = ivf_delete_partitioned(
        spark, path, None, delete_vectors=emb, centroids=cents,
        verify_residuals=True)
    assert n == total
    assert not [d for d in os.listdir(path) if d.startswith("list_id=")]
