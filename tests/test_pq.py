"""PQ: compression contract, determinism, and recall gates (ADC-only and
ADC+exact-refine) against the exact k-NN path."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectordb_explorations_spark.operators import pq as PQ  # noqa: E402
from vectordb_explorations_spark.operators.ann import recall_at_k  # noqa: E402
from vectordb_explorations_spark.operators.knn import (  # noqa: E402
    knn_join, sample_queries)
from vectordb_explorations_spark.sources.catalog import load_table  # noqa: E402

K = 10


@pytest.fixture(scope="module")
def setup(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    books = PQ.pq_train(emb, m_subspaces=8, k_codes=64)
    codes = PQ.pq_encode(emb, books).cache()
    codes.count()
    queries = sample_queries(emb, 30).cache()
    exact = knn_join(emb, queries, K).cache()
    exact.count()
    return emb, books, codes, queries, exact


def test_codes_shape_and_range(setup):
    emb, books, codes, _, _ = setup
    assert books.shape == (8, 64, 8)
    rows = codes.limit(50).collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 64 for r in rows for c in r["codes"])
    assert codes.count() == emb.count()


def test_encode_deterministic(setup):
    emb, books, codes, _, _ = setup
    again = {r["vec_id"]: r["codes"] for r in PQ.pq_encode(emb, books).collect()}
    assert {r["vec_id"]: r["codes"] for r in codes.collect()} == again


def test_adc_recall(setup):
    _, books, codes, queries, exact = setup
    adc = PQ.pq_search(codes, books, queries, K)
    r = recall_at_k(adc, exact, K)
    assert r >= 0.4, r  # 8-byte codes, no refine: coarse but useful


def test_refined_recall(setup):
    emb, books, codes, queries, exact = setup
    refined = PQ.pq_search(codes, books, queries, K,
                           refine_with=emb, refine_factor=10)
    r = recall_at_k(refined, exact, K)
    assert r >= 0.9, r


def test_adaptive_refine_factor_policy(spark, sf_dir):
    """Round-8 policy: refine_factor='auto' holds the rf*k/N candidate
    fraction (the 1M probe measured the fixed-rf decay: PQ 0.958->0.812,
    restored at the resolved rf); at fixture scale 'auto' floors at the
    default so results are unchanged; a fixed rf below the fraction
    warns loudly."""
    import warnings

    from vectordb_explorations_spark.operators.pq import (
        IVFPQ_REFINE_FRACTION, PQ_REFINE_FRACTION, adaptive_refine_factor,
        pq_encode, pq_search, pq_train)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources.catalog import load_table

    # policy math: the 200k anchors resolve to the calibrated points
    assert adaptive_refine_factor(200_000, 10, PQ_REFINE_FRACTION) == 30
    assert adaptive_refine_factor(1_000_000, 10, PQ_REFINE_FRACTION) == 150
    assert adaptive_refine_factor(1_000_000, 10, IVFPQ_REFINE_FRACTION) == 50
    assert adaptive_refine_factor(2_000, 10, PQ_REFINE_FRACTION) == 10

    emb = load_table(spark, "embeddings", sf_dir)
    books = pq_train(emb, m_subspaces=8, k_codes=16)
    codes = pq_encode(emb, books)
    qs = sample_queries(emb, 3)
    fixed = pq_search(codes, books, qs, 5, refine_with=emb,
                      refine_factor=10).collect()
    auto = pq_search(codes, books, qs, 5, refine_with=emb,
                     refine_factor="auto").collect()
    assert sorted(map(tuple, fixed)) == sorted(map(tuple, auto))

    # at the 500-doc fixture any rf >= 1 satisfies the fraction, so the
    # warning branch needs a below-floor rf; the search still runs (its
    # shortlist just clamps empty and the refine returns no rows)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pq_search(codes, books, qs, 5, refine_with=emb,
                  refine_factor=-1000000).collect()
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert any("recall decays" in m and "auto" in m for m in msgs), msgs


def test_corpus_n_cache_staleness_contract(spark, tmp_path):
    """The documented staleness contract, both layers of it: (1) a
    parquet DataFrame SNAPSHOTS its file listing at creation, so a
    long-lived object over a growing path reports the old N even on a
    fresh count — growing-path serving must re-read the path (the
    probe_partitioned helpers do) or pass corpus_n=; (2) _corpus_rows
    memoizes per DataFrame lifetime (proven via a cache sentinel) and
    invalidate_corpus_n() drops the memo."""
    from vectordb_explorations_spark.operators.pq import (
        _CORPUS_N_CACHE, _corpus_rows, invalidate_corpus_n)

    path = str(tmp_path / "grow")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)
    assert _corpus_rows(df, 1) == 100
    spark.range(50).write.mode("append").parquet(path)
    # layer 1 — the DataFrame's file index is a creation-time snapshot:
    # the old object cannot see the appended files at all
    assert df.count() == 100
    assert _corpus_rows(df, 1) == 100
    # a fresh read (what the probe_partitioned helpers do per call)
    # sees the grown layout
    assert _corpus_rows(spark.read.parquet(path), 1) == 150
    # layer 2 — memoization is real (sentinel read back, no count job)
    # and invalidation drops it
    _CORPUS_N_CACHE[df] = 999
    assert _corpus_rows(df, 1) == 999
    invalidate_corpus_n(df)
    assert _corpus_rows(df, 1) == 100
    _CORPUS_N_CACHE[df] = 999
    invalidate_corpus_n()  # no-arg clears everything
    assert _corpus_rows(df, 1) == 100


def test_append_clears_corpus_memo(spark, sf_dir, tmp_path):
    """Appending through ivfpq_append_partitioned advances the sidecar
    AND invalidates the memo; a probe that re-reads the path (the
    partitioned-serving contract) resolves auto policies against the
    grown N (the ADVICE staleness edge)."""
    from vectordb_explorations_spark.operators.pq import (
        _corpus_rows, _read_corpus_meta, ivfpq_build,
        ivfpq_append_partitioned, ivfpq_persist_partitioned)
    from vectordb_explorations_spark.operators.ann import IVF_ASSIGN_N
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = ivfpq_build(emb, num_centroids=8, m_subspaces=8,
                                      k_codes=16)
    path = str(tmp_path / "ivfpq_grow")
    ivfpq_persist_partitioned(codes, path)
    n0 = _read_corpus_meta(path)
    df = spark.read.parquet(path)
    rep = IVF_ASSIGN_N
    assert _corpus_rows(df, rep) == n0
    batch = emb.limit(20).selectExpr("vec_id + 1000000 AS vec_id",
                                     "embedding", "label")
    ivfpq_append_partitioned(path, cents, books, batch)
    assert _read_corpus_meta(path) == n0 + 20
    # the append cleared the memo (no stale entry survives), and a
    # fresh read of the layout — what probe_partitioned does per call —
    # resolves against the grown N; the old snapshot object honestly
    # reports its own (old) listing rather than a cached number
    assert _corpus_rows(spark.read.parquet(path), rep) == n0 + 20
    assert _corpus_rows(df, rep) == n0  # snapshot semantics, recounted


def test_layout_corpus_n_fallback_counts_unpruned(spark, tmp_path):
    """When the sidecar is missing, _layout_corpus_n counts the FULL
    layout (never a probe-pruned frame) and warns; with the sidecar it
    is job-free and silent."""
    import warnings

    from vectordb_explorations_spark.operators.ann import (
        _ivf_write_meta, _layout_corpus_n)

    path = str(tmp_path / "nosidecar")
    (spark.range(200).selectExpr("id AS vec_id", "id % 4 AS list_id")
     .write.partitionBy("list_id").parquet(path))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n = _layout_corpus_n(spark, path, 2)
    assert n == 100  # 200 rows / replication 2 — the UNPRUNED count
    assert any("_corpus_meta.json" in str(w.message) for w in caught)

    _ivf_write_meta(spark, path, 100)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _layout_corpus_n(spark, path, 2) == 100
    assert not [w for w in caught if "corpus" in str(w.message)]
