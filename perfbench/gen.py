"""Seeded input generator for the benchmark.

Everything the engine receives is made here, from ``--seed`` alone, and
written as Parquet under a per-seed cache directory. The same seed gives
byte-identical files; generation is not counted in ``setup_s``.

Vectors: float32 points around Gaussian cluster centres. Query batches come
in two forms: *focused* (every query from at most two clusters, so the union
of probed IVF lists is small) and *spread* (clusters drawn uniformly, so the
union covers most lists).

Docs: Zipf-distributed vocabulary, 40-120 words each. A crawl "day" is a
batch of near-copies (one contiguous span of ~5% of the words replaced),
exact copies of an earlier day's fresh docs, and fresh docs. Every planted
relation is recorded next to the Parquet files.

All of it is vectorised with NumPy/Arrow: a per-doc Python loop over 100k
docs took minutes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
INTRINSIC_DIM = 8
NOISE = 0.05
CENTRE_SCALE = 0.5     # clusters overlap at their edges
VOCAB = 20_000
ZIPF_S = 1.1
DOC_WORDS = (40, 120)
NEAR_EDIT_FRAC = 0.05
DAY_DOCS = 128
DAY_NEAR = 38      # ~30% of a day
DAY_EXACT = 6      # ~5% of a day

# Stream tags keep every generated quantity on its own child stream, so
# changing one input's size never shifts another input's values.
_STREAMS = {"centres": 1, "vectors": 2, "queries": 3, "vocab": 4,
            "corpus": 5, "days": 6}


def rng_for(seed: int, stream: str, *extra: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[stream], *extra])


# ---------------------------------------------------------------- vectors


def cluster_shapes(seed: int, n_clusters: int
                   ) -> tuple[np.ndarray, np.ndarray]:
    """(centres (C, DIM), orthonormal bases (C, DIM, INTRINSIC_DIM)).

    Each cluster spreads along its own low-dimensional subspace, as real
    embeddings do: with isotropic noise in all 64 dimensions every
    within-cluster distance is nearly the same, and no approximate index
    can rank such neighbours."""
    rng = rng_for(seed, "centres", n_clusters)
    centres = rng.normal(0.0, CENTRE_SCALE, (n_clusters, DIM))
    bases = np.linalg.qr(rng.normal(0.0, 1.0,
                                    (n_clusters, DIM, INTRINSIC_DIM)))[0]
    return centres, bases


def _around(rng, centres, bases, labels, spread) -> np.ndarray:
    z = rng.normal(0.0, spread, (len(labels), INTRINSIC_DIM))
    x = centres[labels] + np.einsum("ndk,nk->nd", bases[labels], z)
    x += rng.normal(0.0, NOISE, x.shape)
    return x.astype(np.float32)


def clustered_vectors(seed: int, n: int, n_clusters: int,
                      spread: float) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 (n, DIM), cluster label per row)."""
    rng = rng_for(seed, "vectors", n, n_clusters)
    centres, bases = cluster_shapes(seed, n_clusters)
    labels = rng.integers(0, n_clusters, n)
    return _around(rng, centres, bases, labels, spread), labels


def query_batches(seed: int, n_batches: int, batch: int, n_clusters: int,
                  spread: float) -> list[tuple[str, np.ndarray]]:
    """Alternating focused / spread batches of float32 queries."""
    rng = rng_for(seed, "queries", n_batches, batch, n_clusters)
    centres, bases = cluster_shapes(seed, n_clusters)
    out = []
    for b in range(n_batches):
        if b % 2 == 0:
            pool = rng.choice(n_clusters, size=int(rng.integers(1, 3)),
                              replace=False)
            kind = "focused"
        else:
            pool = np.arange(n_clusters)
            kind = "spread"
        labels = rng.choice(pool, size=batch)
        out.append((kind, _around(rng, centres, bases, labels, spread)))
    return out


def vectors_table(ids: np.ndarray, x: np.ndarray, id_col: str,
                  vec_col: str) -> pa.Table:
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.table({id_col: pa.array(ids.astype(np.int64)),
                     vec_col: pa.ListArray.from_arrays(offsets, flat)})


# ---------------------------------------------------------------- docs


def vocabulary(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(flat ASCII bytes of all words, start offsets incl. the end).

    Word length grows with frequency rank (3 letters for the most common
    word, 10 from rank 128 on), so the mean text length, and with it the
    bytes-per-doc ratios, is the same for every seed; only the letters
    are drawn from the seed."""
    rng = rng_for(seed, "vocab")
    lens = np.minimum(3 + np.floor(np.log2(np.arange(1, VOCAB + 1))),
                      10).astype(np.int64)
    letters = rng.integers(ord("a"), ord("z") + 1, int(lens.sum()),
                           dtype=np.uint8)
    return letters, np.concatenate([[0], np.cumsum(lens)])


def zipf_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB - 1)


def doc_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)


def render_texts(vocab: tuple[np.ndarray, np.ndarray], tokens: np.ndarray,
                 lengths: np.ndarray, chunk_docs: int = 8192) -> pa.Array:
    """Join each doc's word ids with single spaces into an Arrow string
    array, without a per-doc Python loop (chunked to bound memory)."""
    letters, offs = vocab
    wlen = offs[1:] - offs[:-1]
    doc_start = np.concatenate([[0], np.cumsum(lengths)])
    parts, text_offs, base = [], [np.zeros(1, np.int64)], 0
    for d0 in range(0, len(lengths), chunk_docs):
        d1 = min(d0 + chunk_docs, len(lengths))
        toks = tokens[doc_start[d0]:doc_start[d1]]
        lens = lengths[d0:d1]
        wb = wlen[toks]
        tok_len = wb + 1                            # word + separator
        tok_len[np.cumsum(lens) - 1] -= 1           # no trailing space
        out_start = np.concatenate([[0], np.cumsum(tok_len)])
        buf = np.full(int(out_start[-1]), ord(" "), dtype=np.uint8)
        # every letter byte: its token k and offset j inside the word
        k = np.repeat(np.arange(len(toks)), wb)
        j = np.arange(len(k)) - np.repeat(np.cumsum(wb) - wb, wb)
        buf[out_start[k] + j] = letters[offs[toks][k] + j]
        parts.append(buf)
        ends = out_start[np.cumsum(lens)]
        text_offs.append(base + ends)
        base += int(out_start[-1])
    text_offs = np.concatenate(text_offs).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(lengths), pa.py_buffer(text_offs.tobytes()),
        pa.py_buffer(np.concatenate(parts).tobytes()))


def docs_table(ids: np.ndarray, texts: pa.Array) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids.astype(np.int64)),
                     "text": texts,
                     "lang": pa.array(["en"] * len(ids))})


def corpus_tokens(seed: int, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """(flat token ids, words per doc) of the base corpus."""
    rng = rng_for(seed, "corpus", n_docs)
    lengths = doc_lengths(rng, n_docs)
    return zipf_tokens(rng, int(lengths.sum())), lengths


def crawl_days(seed: int, corpus: tuple[np.ndarray, np.ndarray],
               n_days: int) -> tuple[list[tuple[np.ndarray, np.ndarray,
                                                np.ndarray]], dict]:
    """Per day: (doc ids, flat tokens, lengths) plus the planted relations
    {"near": [[new, src], ...], "exact": [[new, src], ...]}.

    Near-copies copy a base-corpus doc or an earlier day's fresh doc and
    replace one contiguous span of ~5% of its words. Exact copies copy an
    earlier day's fresh doc (a base-corpus doc on day 0)."""
    rng = rng_for(seed, "days", n_days)
    c_tok, c_len = corpus
    n_base = len(c_len)
    # token lists of every doc that can be a copy source, by doc id
    c_start = np.concatenate([[0], np.cumsum(c_len)])
    fresh_pool: list[tuple[int, np.ndarray]] = []

    def base_doc(i):
        return c_tok[c_start[i]:c_start[i + 1]]

    days, near, exact = [], [], []
    next_id = n_base
    for _ in range(n_days):
        kinds = np.array(["near"] * DAY_NEAR + ["exact"] * DAY_EXACT
                         + ["fresh"] * (DAY_DOCS - DAY_NEAR - DAY_EXACT))
        rng.shuffle(kinds)
        ids = np.arange(next_id, next_id + DAY_DOCS)
        next_id += DAY_DOCS
        n_fresh = int((kinds == "fresh").sum())
        f_len = doc_lengths(rng, n_fresh)
        f_tok = zipf_tokens(rng, int(f_len.sum()))
        f_start = np.concatenate([[0], np.cumsum(f_len)])
        docs, fresh_today = [], []
        fi = 0
        for j, kind in enumerate(kinds):
            if kind == "fresh":
                toks = f_tok[f_start[fi]:f_start[fi + 1]]
                fi += 1
                fresh_today.append((int(ids[j]), toks))
            elif kind == "exact":
                if fresh_pool:
                    src, toks = fresh_pool[int(rng.integers(len(fresh_pool)))]
                else:
                    src = int(rng.integers(n_base))
                    toks = base_doc(src)
                exact.append([int(ids[j]), src])
            else:
                pick = int(rng.integers(n_base + len(fresh_pool)))
                if pick < n_base:
                    src, toks = pick, base_doc(pick)
                else:
                    src, toks = fresh_pool[pick - n_base]
                span = max(1, int(round(NEAR_EDIT_FRAC * len(toks))))
                at = int(rng.integers(0, len(toks) - span + 1))
                toks = toks.copy()
                toks[at:at + span] = zipf_tokens(rng, span)
                near.append([int(ids[j]), src])
            docs.append(toks)
        fresh_pool.extend(fresh_today)
        lengths = np.array([len(t) for t in docs])
        days.append((ids, np.concatenate(docs), lengths))
    return days, {"near": near, "exact": exact}


# ---------------------------------------------------------------- cache


def cached(path: str, make, parts: int = 1) -> str:
    """Write ``make()`` (an Arrow table) to ``path`` once and reuse it
    after. With ``parts > 1`` the path is a directory of that many
    Parquet files, the layout a Spark job writes, so the engine reads the
    table as that many partitions."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    table = make()
    if parts == 1:
        pq.write_table(table, tmp, compression="snappy")
    else:
        os.makedirs(tmp)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tmp, f"part-{i:05d}.parquet"),
                           compression="snappy")
    os.replace(tmp, path)
    return path


def cached_json(path: str, make) -> dict:
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(make(), f, sort_keys=True)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)
