"""The benchmark's own tests: generator determinism, output checks that
catch wrong results, and span self-time arithmetic. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, oracle  # noqa: E402
from perfbench.spans import (Span, Tracer, covered, parse_metric,  # noqa: E402
                             self_time)


# ---------------------------------------------------------------- generator


def _write_inputs(root: str, seed: int) -> list[str]:
    x, _ = gen.clustered_vectors(seed, 500, 8, 1.0)
    vec = gen.cached(os.path.join(root, "vec"),
                     lambda: gen.vectors_table(np.arange(500), x, "vec_id",
                                               "embedding"), parts=3)
    out = [os.path.join(vec, f) for f in sorted(os.listdir(vec))]
    assert len(out) == 3
    for i, (kind, q) in enumerate(gen.query_batches(seed, 4, 10, 8, 1.0)):
        out.append(gen.cached(
            os.path.join(root, f"q{i}_{kind}.parquet"),
            lambda q=q: gen.vectors_table(np.arange(10), q, "query_id",
                                          "query_vec")))
    vocab = gen.vocabulary(seed)
    corpus = gen.corpus_tokens(seed, 300)
    out.append(gen.cached(os.path.join(root, "docs.parquet"),
                          lambda: gen.docs_table(
                              np.arange(300),
                              gen.render_texts(vocab, *corpus))))
    days, planted = gen.crawl_days(seed, corpus, 3)
    for i, (ids, tok, lens) in enumerate(days):
        out.append(gen.cached(
            os.path.join(root, f"day{i}.parquet"),
            lambda ids=ids, tok=tok, lens=lens: gen.docs_table(
                ids, gen.render_texts(vocab, tok, lens))))
    gen.cached_json(os.path.join(root, "planted.json"), lambda: planted)
    return out + [os.path.join(root, "planted.json")]


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = _write_inputs(str(tmp_path / "a"), 7)
    b = _write_inputs(str(tmp_path / "b"), 7)
    for fa, fb in zip(a, b):
        assert filecmp.cmp(fa, fb, shallow=False), fa


def test_other_seed_gives_other_files(tmp_path):
    a = _write_inputs(str(tmp_path / "a"), 7)
    b = _write_inputs(str(tmp_path / "b"), 8)
    for fa, fb in zip(a, b):
        assert not filecmp.cmp(fa, fb, shallow=False), fa


def test_render_texts_matches_a_plain_join():
    vocab = gen.vocabulary(3)
    tok, lens = gen.corpus_tokens(3, 50)
    letters, offs = vocab
    words = [letters[offs[i]:offs[i + 1]].tobytes().decode()
             for i in range(len(offs) - 1)]
    starts = np.concatenate([[0], np.cumsum(lens)])
    got = gen.render_texts(vocab, tok, lens, chunk_docs=7).to_pylist()
    assert got == [" ".join(words[t] for t in tok[starts[i]:starts[i + 1]])
                   for i in range(len(lens))]


def test_planted_relations_are_what_they_claim():
    seed = 5
    vocab = gen.vocabulary(seed)
    corpus = gen.corpus_tokens(seed, 200)
    days, planted = gen.crawl_days(seed, corpus, 3)
    ids = np.concatenate([np.arange(200)] + [d[0] for d in days])
    tok = np.concatenate([corpus[0]] + [d[1] for d in days])
    lens = np.concatenate([corpus[1]] + [d[2] for d in days])
    text = dict(zip(ids.tolist(),
                    gen.render_texts(vocab, tok, lens).to_pylist()))
    assert len(planted["exact"]) == 3 * gen.DAY_EXACT
    assert len(planted["near"]) == 3 * gen.DAY_NEAR
    for new, src in planted["exact"]:
        assert text[new] == text[src] and new > src
    for new, src in planted["near"]:
        a, b = text[new].split(" "), text[src].split(" ")
        diff = [i for i in range(len(a)) if a[i] != b[i]]
        assert len(a) == len(b) and new > src
        assert not diff or diff[-1] - diff[0] < max(1, round(0.05 * len(a)))


# ---------------------------------------------------------------- checks


def _exact_rows(x, q, k):
    ids, dist = oracle.brute_force_topk(x, q, k)
    return ids, [(qi, int(v), float(d)) for qi in range(len(q))
                 for v, d in zip(ids[qi], dist[qi])]


def test_exact_answer_has_full_recall_and_no_problems():
    x, _ = gen.clustered_vectors(1, 400, 4, 1.0)
    q = gen.query_batches(1, 1, 20, 4, 1.0)[0][1]
    truth, rows = _exact_rows(x, q, 10)
    recall, problems = oracle.grade_ann(rows, x, q, truth, 10)
    assert recall == 1.0 and problems == []


def test_wrong_neighbour_lowers_recall():
    x, _ = gen.clustered_vectors(1, 400, 4, 1.0)
    q = gen.query_batches(1, 1, 20, 4, 1.0)[0][1]
    truth, rows = _exact_rows(x, q, 10)
    far = int(np.argmax(((x - q[0]) ** 2).sum(1)))
    qi, _, _ = rows[0]
    d = float(np.sqrt(((x[far].astype(np.float64) - q[0]) ** 2).sum()))
    rows[0] = (qi, far, d)          # a wrong id, honestly reported
    recall, problems = oracle.grade_ann(rows, x, q, truth, 10)
    assert recall == pytest.approx(1 - 1 / 200) and problems == []


def test_wrong_distance_or_missing_row_is_a_problem():
    x, _ = gen.clustered_vectors(1, 400, 4, 1.0)
    q = gen.query_batches(1, 1, 20, 4, 1.0)[0][1]
    truth, rows = _exact_rows(x, q, 10)
    bad = list(rows)
    bad[3] = (bad[3][0], bad[3][1], bad[3][2] + 0.01)
    assert oracle.grade_ann(bad, x, q, truth, 10)[1]
    assert oracle.grade_ann(rows[1:], x, q, truth, 10)[1]
    dup = list(rows)
    dup[1] = dup[0]
    assert oracle.grade_ann(dup, x, q, truth, 10)[1]


def test_minhash_check_rejects_unjustified_rejection():
    a = " ".join(f"w{i}" for i in range(60))
    near = a.replace("w30 w31", "x y")
    other = " ".join(f"v{i}" for i in range(60))
    texts = {1: a, 2: near, 3: other}
    ok = [(2, False, 1), (3, True, None)]
    assert oracle.check_minhash_verdicts(ok, [2, 3], texts, {1}) == []
    wrong = [(2, False, 1), (3, False, 1)]       # 3 shares nothing with 1
    assert oracle.check_minhash_verdicts(wrong, [2, 3], texts, {1})
    unknown = [(2, False, 99), (3, True, None)]  # 99 is not in the substrate
    texts[99] = a
    assert oracle.check_minhash_verdicts(unknown, [2, 3], texts, {1})
    missing = [(2, False, 1)]
    assert oracle.check_minhash_verdicts(missing, [2, 3], texts, {1})


def test_jaccard_matches_three_word_shingles():
    assert oracle.shingles("a b c d") == {"a b c", "b c d"}
    assert oracle.shingles("a b") == set()
    assert oracle.jaccard("a b c d", "a b c e") == pytest.approx(1 / 3)


# ---------------------------------------------------------------- spans


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3)]) == 3
    assert covered([(0, 5), (1, 2), (3, 4)]) == 5
    assert covered([(3, 4), (0, 1), (0.5, 2)]) == 3


def test_self_time_subtracts_only_the_children_covered_part():
    spans = [Span("op", 0, 0.0, 10.0),
             Span("call", 0, 1.0, 4.0, parent=0),
             Span("collect", 0, 3.0, 6.0, parent=0),   # overlaps call
             Span("inner", 0, 1.5, 2.0, parent=1),     # grandchild
             Span("late", 0, 9.0, 12.0, parent=0)]     # runs past the op
    assert self_time(spans[0], spans, 0) == pytest.approx(10 - 5 - 1)
    assert self_time(spans[1], spans, 1) == pytest.approx(3 - 0.5)
    assert self_time(spans[3], spans, 3) == pytest.approx(0.5)


def test_tracer_without_spark_records_the_span_tree():
    t = Tracer()
    with t.span("op", 1, "step1"):
        with t.span("call", 1):
            pass
        with t.span("collect", 1):
            pass
    with t.span("op", 2, "step1"):
        pass
    assert [s.parent for s in t.spans] == [None, 0, 0, None]
    assert [s.slot for s in t.spans] == ["step1", "", "", "step1"]
    assert all(s.end >= s.start for s in t.spans)


def test_parse_metric_reads_counts_sizes_and_timings():
    assert parse_metric("100,000") == 100_000
    assert parse_metric("22 ms") == pytest.approx(0.022)
    assert parse_metric("1.3 s") == pytest.approx(1.3)
    assert parse_metric("3.0 KiB") == 3072
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1544.0 B (386.0 B, 386.0 B, 386.0 B (stage 0.0: "
                        "task 3))") == 1544
