"""The benchmark's workloads.

Both are a closed loop with one client: this process calls the engine with
one operation in flight, as a Spark batch pipeline does, and checks every
output outside the timed window.

- ``ann_serve``: batched kNN serving from persisted hive layouts. Set-up
  builds and persists IVF-PQ and k-means-routed HNSW; the timed loop sends
  100-query batches to three families, on focused and spread batches.
  Read-only; bound by the Spark control plane and the pruned scan.
- ``crawl_admit``: daily-crawl near-dup admission. Set-up builds the
  MinHash substrate; each timed day sends a 128-doc batch through admit ->
  append, so each day probes the earlier days' appends. Uses the storage
  layer in both directions; no vector kernels.

The set-up builds of both workloads are the bulk-build half of the engine:
their wall time and layer counters are reported too.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import warnings

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.spans import Tracer, self_time

K = 10
# corpora are written as this many Parquet files, as a Spark job would
# write them, so set-up builds run as that many parallel tasks
INPUT_FILES = 8

# ann_serve sizes (README: they are sized to the per-run time budget)
ANN_VECTORS = 6000
ANN_CLUSTERS = 64
ANN_SPREAD = 1.0
ANN_BATCH = 100
ANN_POOL = 8              # query batches per seed, alternating kinds
IVF_LISTS = 64
PQ_M, PQ_K = 16, 64
HNSW_SHARDS = 32          # bench.py's routed-HNSW shard count
NPROBE = 8
PASS_SECONDS = 5          # one timed pass = every family once
# recall@10 floors below which a batch counts as a failed operation.
# HNSW has none: its per-shard graph search misses whole clusters on some
# seeds (README), which the recall metric reports instead.
RECALL_FLOOR = {"ivfpq": 0.9, "knn": 1.0}

# crawl_admit sizes
CRAWL_DOCS = 4096
DAY_SECONDS = 5

SLOTS = ("build1", "build2", "step1", "step2", "step3")
LAYER_COUNTERS = (
    "spark.jobs", "spark.tasks", "spark.driver_self_s", "spark.planning_s",
    "executor.run_s", "executor.cpu_s", "executor.shuffle_bytes",
    "sinks.scan_files", "sinks.scan_partitions", "sinks.scan_listing_s",
    "sinks.write_files", "sinks.write_bytes", "sinks.job_commit_s")


class Run:
    """Everything one workload run records."""

    def __init__(self, spark, tracer: Tracer, work: str, cache: str,
                 seed: int, seconds: int, slots: int):
        self.spark, self.tracer = spark, tracer
        self.work, self.cache = work, cache
        self.seed, self.seconds, self.slots = seed, seconds, slots
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.ops: list[tuple[str, str, float]] = []   # (slot, name, wall)
        self.rows_per_build = 0
        self.setup_s = 0.0
        self.layers: dict[str, float] = {}

    def op(self, slot: str, name: str, fn) -> tuple[bool, object]:
        """Time one operation; an exception makes it a failed one."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, len(self.ops), slot):
                out = fn()
        except Exception as e:  # the run goes on; the op counts as failed
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {e}")
            return False, None
        self.ops.append((slot, name, time.perf_counter() - t0))
        return True, out

    def call(self, fn_name: str, fn):
        """One call into an engine function, as a child span."""
        with self.tracer.span(fn_name, len(self.ops)):
            return fn()

    def force(self, df):
        """Collect a result inside a child span; keep the DataFrame for
        its planning phases."""
        with self.tracer.span("collect", len(self.ops)):
            return df, df.collect()

    def fail(self, name: str, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems[:5])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(d, f)).num_rows
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _files_per_dir(paths: list[str]) -> float:
    dirs = files = 0
    for root in paths:
        for d, _, fs in os.walk(root):
            n = sum(f.endswith(".parquet") for f in fs)
            if n:
                dirs, files = dirs + 1, files + n
    return files / dirs if dirs else 0.0


# ------------------------------------------------------------- ann_serve


def ann_inputs(cache: str, seed: int) -> dict:
    d = os.path.join(cache, f"seed-{seed}")
    x, _ = gen.clustered_vectors(seed, ANN_VECTORS, ANN_CLUSTERS, ANN_SPREAD)
    vec_path = gen.cached(
        os.path.join(d, f"ann_vectors_{ANN_VECTORS}"),
        lambda: gen.vectors_table(np.arange(len(x)), x, "vec_id",
                                  "embedding"), parts=INPUT_FILES)
    batches = gen.query_batches(seed, ANN_POOL, ANN_BATCH, ANN_CLUSTERS,
                                ANN_SPREAD)
    paths = []
    for i, (kind, q) in enumerate(batches):
        paths.append(gen.cached(
            os.path.join(d, f"ann_queries_{i:02d}_{kind}.parquet"),
            lambda q=q: gen.vectors_table(np.arange(len(q)), q, "query_id",
                                          "query_vec")))
    truth = [oracle.brute_force_topk(x, q, K)[0] for _, q in batches]
    return {"x": x, "vec_path": vec_path, "batches": batches,
            "query_paths": paths, "truth": truth}


def ann_serve(run: Run, session_s: float) -> dict:
    from vectordb_explorations_spark.operators import hnsw, knn
    from vectordb_explorations_spark.operators import pq as PQ

    i0 = time.perf_counter()
    inp = ann_inputs(run.cache, run.seed)
    inputs_s = time.perf_counter() - i0
    spark, x = run.spark, inp["x"]
    n = len(x)
    t0 = time.perf_counter()
    vec = spark.read.parquet(inp["vec_path"])
    paths = {f: os.path.join(run.work, f) for f in ("ivfpq", "hnsw")}
    state = {}

    def build_ivfpq():
        codes, cents, books = run.call(
            "pq.ivfpq_build", lambda: PQ.ivfpq_build(
                vec, IVF_LISTS, PQ_M, PQ_K, seed=run.seed))
        run.call("pq.ivfpq_persist_partitioned",
                 lambda: PQ.ivfpq_persist_partitioned(codes, paths["ivfpq"]))
        state["ivfpq"] = (cents, books)

    def build_hnsw():
        idx = run.call("hnsw.hnsw_build", lambda: hnsw.hnsw_build(
            vec, num_shards=HNSW_SHARDS, shard_by="kmeans", shard_cap=8192,
            seed=run.seed))
        run.call("hnsw.hnsw_persist_partitioned",
                 lambda: hnsw.hnsw_persist_partitioned(idx, paths["hnsw"]))

    run.rows_per_build = n
    run.op("build1", "build.ivfpq", build_ivfpq)
    run.op("build2", "build.hnsw", build_hnsw)

    # row checks: the IVF-PQ layout holds every vector in its 2 nearest
    # lists; HNSW membership rows cover every vector in its 2 nearest cells
    for name, path in (("ivfpq", paths["ivfpq"]),
                       ("hnsw", paths["hnsw"] + "_members")):
        rows = _parquet_rows(path) if os.path.isdir(path) else 0
        if rows != 2 * n:
            run.fail(f"build.{name}", [f"{rows} rows, expected {2 * n}"])

    def call(family, q):
        if family == "ivfpq":
            cents, books = state["ivfpq"]
            return run.call("pq.ivfpq_probe_partitioned",
                            lambda: PQ.ivfpq_probe_partitioned(
                                spark, paths["ivfpq"], cents, books, q, K,
                                nprobe=NPROBE, refine_with=vec,
                                refine_factor=10))
        if family == "hnsw":
            return run.call("hnsw.hnsw_probe_partitioned",
                            lambda: hnsw.hnsw_probe_partitioned(
                                spark, paths["hnsw"], q, K,
                                probe_shards="auto"))
        return run.call("knn.knn_join_blockwise",
                        lambda: knn.knn_join_blockwise(vec, q, K))

    families = ("ivfpq", "hnsw", "knn")
    schema = "query_id long, query_vec array<float>"
    rng = np.random.default_rng([run.seed, 7])
    recalls: dict[str, list[float]] = {f: [] for f in families}
    pool = {kind: [i for i, (k, _) in enumerate(inp["batches"]) if k == kind]
            for kind in ("focused", "spread")}
    used = {kind: 0 for kind in pool}

    def serve(slot, fam, kind):
        bi = pool[kind][used[kind] % len(pool[kind])]
        used[kind] += 1
        q = spark.read.schema(schema).parquet(inp["query_paths"][bi])
        ok, out = run.op(slot, fam, lambda: run.force(call(fam, q)))
        if not ok:
            return
        df, rows = out
        _note_planning(run, df)
        recall, problems = oracle.grade_ann(
            [(r["query_id"], r["vec_id"], r["dist"]) for r in rows],
            x, inp["batches"][bi][1], inp["truth"][bi], K)
        recalls[fam].append(recall)
        if recall < RECALL_FLOOR.get(fam, 0.0):
            problems.append(f"recall@10 {recall:.3f} below "
                            f"{RECALL_FLOOR[fam]}")
        run.fail(fam, problems)

    # Warm-up pass, part of set-up: each family once. Each timed pass then
    # gives every family the other batch kind than the pass before, so a
    # family's first (cold) call is never timed and every family serves
    # both kinds.
    kinds = dict(zip(families, ("focused", "spread", "focused")))
    flip = {"focused": "spread", "spread": "focused"}
    for fam in map(str, rng.permutation(families)):
        serve("warmup", fam, kinds[fam])
    run.setup_s = session_s + time.perf_counter() - t0

    passes = max(1, round(run.seconds / PASS_SECONDS))
    for _ in range(passes):
        kinds = {f: flip[k] for f, k in kinds.items()}
        for fam in map(str, rng.permutation(families)):
            serve(f"step{families.index(fam) + 1}", fam, kinds[fam])
    timed = [w for s, _, w in run.ops if s.startswith("step")]

    per_family = {f: statistics.mean(v) for f, v in recalls.items() if v}
    input_bytes = n * (8 + 4 * gen.DIM)
    disk = sum(_dir_bytes(p) for p in paths.values()) + _dir_bytes(
        paths["hnsw"] + "_members")
    run.layers["sinks.layout_files_per_dir"] = _files_per_dir(
        list(paths.values()))
    for i, fam in enumerate(families):
        slot = f"step{i + 1}"
        run.layers[f"{slot}.ann.rows_scored_per_result"] = _mean_counter(
            run, slot, "scan_rows") / (ANN_BATCH * K)
    return {
        "items_per_s": ANN_BATCH * len(timed) / sum(timed) if timed else 0.0,
        "op_p50_s": statistics.median(timed) if timed else 0.0,
        "recall": statistics.mean(per_family.values()) if per_family
        else 0.0,
        "index_bytes_per_input_byte": disk / input_bytes,
        "_detail": {"recall_per_family": per_family, "passes": passes,
                    "inputs_s": round(inputs_s, 3),
                    "loop_s": round(sum(timed), 3)},
    }


# ------------------------------------------------------------- crawl_admit


def crawl_inputs(cache: str, seed: int, n_days: int) -> dict:
    d = os.path.join(cache, f"seed-{seed}")
    vocab = gen.vocabulary(seed)
    c_tok, c_len = gen.corpus_tokens(seed, CRAWL_DOCS)
    corpus_path = gen.cached(
        os.path.join(d, f"crawl_corpus_{CRAWL_DOCS}"),
        lambda: gen.docs_table(np.arange(CRAWL_DOCS),
                               gen.render_texts(vocab, c_tok, c_len)),
        parts=INPUT_FILES)
    days, planted = gen.crawl_days(seed, (c_tok, c_len), n_days)
    day_paths = []
    for i, (ids, tok, lens) in enumerate(days):
        day_paths.append(gen.cached(
            os.path.join(d, f"crawl_{CRAWL_DOCS}_day{i:02d}of{n_days}"
                            ".parquet"),
            lambda ids=ids, tok=tok, lens=lens: gen.docs_table(
                ids, gen.render_texts(vocab, tok, lens))))
    planted = gen.cached_json(
        os.path.join(d, f"crawl_{CRAWL_DOCS}_planted_{n_days}.json"),
        lambda: planted)
    texts = {}
    for p in [corpus_path] + day_paths:
        t = pq.read_table(p, columns=["doc_id", "text"])  # file or dir
        texts.update(zip(t.column("doc_id").to_pylist(),
                         t.column("text").to_pylist()))
    return {"corpus_path": corpus_path, "day_paths": day_paths,
            "day_ids": [ids.tolist() for ids, _, _ in days],
            "near": {a: b for a, b in planted["near"]},
            "exact": {a: b for a, b in planted["exact"]}, "texts": texts}


def crawl_admit(run: Run, session_s: float) -> dict:
    from pyspark.sql import functions as F
    from vectordb_explorations_spark.operators import dedup

    n_days = max(2, math.ceil(run.seconds / DAY_SECONDS))
    i0 = time.perf_counter()
    inp = crawl_inputs(run.cache, run.seed, n_days)
    inputs_s = time.perf_counter() - i0
    spark, texts = run.spark, inp["texts"]
    mh = os.path.join(run.work, "minhash")
    # the substrate is below MINHASH_ADMIT_MIN_CORPUS: silence that advice
    warnings.filterwarnings("ignore", category=RuntimeWarning)

    t0 = time.perf_counter()
    corpus = spark.read.parquet(inp["corpus_path"])
    run.rows_per_build = CRAWL_DOCS
    run.op("build1", "build.minhash", lambda: run.call(
        "dedup.minhash_persist", lambda: dedup.minhash_persist(corpus, mh)))
    # one shingle set and NUM_BANDS band rows per doc
    for path, rows in ((mh + "/sh", CRAWL_DOCS),
                       (mh + "/bands", CRAWL_DOCS * dedup.NUM_BANDS)):
        got = _parquet_rows(path) if os.path.isdir(path) else 0
        if got != rows:
            run.fail("build.minhash", [f"{path}: {got} rows, expected {rows}"])
    run.setup_s = session_s + time.perf_counter() - t0

    substrate = set(range(CRAWL_DOCS))
    near_planted = near_caught = 0
    docs_in = 0
    day_walls = []
    for day, path in enumerate(inp["day_paths"]):
        batch = spark.read.parquet(path)
        ids = inp["day_ids"][day]
        n_ops = len(run.ops)
        ok, out = run.op("step1", "mh_admit", lambda: run.force(run.call(
            "dedup.minhash_admit_persisted",
            lambda: dedup.minhash_admit_persisted(spark, mh, batch))))
        if not ok:
            continue
        _note_planning(run, out[0])
        rows = [(r["doc_id"], r["admitted"], r["matched_old"])
                for r in out[1]]
        problems = oracle.check_minhash_verdicts(rows, ids, texts, substrate)
        admitted = [d for d, a, _ in rows if a]
        run.op("step2", "mh_append", lambda: run.call(
            "dedup.minhash_append_persisted",
            lambda: dedup.minhash_append_persisted(
                batch.where(F.col("doc_id").isin(admitted)), mh)))
        substrate.update(admitted)
        day_walls.append(sum(w for _, _, w in run.ops[n_ops:]))
        docs_in += len(ids)
        rejected = set(ids) - set(admitted)
        for d in ids:
            if d in inp["exact"] and d not in rejected:
                problems.append(f"exact copy {d} of {inp['exact'][d]} "
                                f"admitted")
            if d in inp["near"]:
                near_planted += 1
                near_caught += d in rejected
        run.fail("mh_admit", problems)

    input_bytes = sum(8 + len(t) for t in texts.values())
    run.layers["sinks.layout_files_per_dir"] = _files_per_dir(
        [mh + "/bands", mh + "/sh"])
    run.layers["step1.dedup.candidate_rows_per_doc"] = _mean_counter(
        run, "step1", "scan_rows") / gen.DAY_DOCS
    return {
        "items_per_s": docs_in / sum(day_walls) if day_walls else 0.0,
        "op_p50_s": statistics.median(day_walls) if day_walls else 0.0,
        "recall": near_caught / near_planted if near_planted else 0.0,
        "index_bytes_per_input_byte": _dir_bytes(mh) / input_bytes,
        "_detail": {"days": n_days, "day_s": [round(w, 3) for w in day_walls],
                    "inputs_s": round(inputs_s, 3),
                    "near_planted": near_planted,
                    "near_caught": near_caught},
    }


WORKLOADS = {"ann_serve": ann_serve, "crawl_admit": crawl_admit}


# ------------------------------------------------------------- layers


def _note_planning(run: Run, df) -> None:
    """Planning phases of the op's final query, onto the op's root span."""
    if run.tracer.spark is None or not run.tracer.spans:
        return
    span = next(s for s in reversed(run.tracer.spans) if s.parent is None)
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs() / 1e3
    span.counters["spark.planning_s"] = total


def _root_spans(run: Run, slot: str):
    return [s for s in run.tracer.spans
            if s.parent is None and s.slot == slot]


def _mean_counter(run: Run, slot: str, key: str) -> float:
    vals = [s.counters.get(key, 0.0) for s in _root_spans(run, slot)]
    return statistics.mean(vals) if vals else 0.0


def layer_metrics(run: Run) -> dict[str, float]:
    """Per-layer numbers of a traced run: per op type (slot), the mean
    over its operations of each counter."""
    out = {}
    for slot in SLOTS:
        spans = _root_spans(run, slot)
        for key in LAYER_COUNTERS:
            out[f"{slot}.{key}"] = _mean_counter(run, slot, key)
        out[f"{slot}.wall_s"] = (statistics.median(
            s.end - s.start for s in spans) if spans else 0.0)
        if slot.startswith("build"):
            run_s = _mean_counter(run, slot, "executor.run_s")
            wall = _mean_counter(run, slot, "spark.stage_wall_s")
            out[f"{slot}.executor.slot_idle_frac"] = (
                1.0 - run_s / (run.slots * wall) if wall else 0.0)
        # engine-call and collect child spans, by self time
        for child, key in (("collect", "force_s"), (None, "call_s")):
            vals = [sum(self_time(c, run.tracer.spans, i)
                        for i, c in enumerate(run.tracer.spans)
                        if c.parent == run.tracer.spans.index(s)
                        and (c.name == child if child else
                             c.name != "collect"))
                    for s in spans]
            out[f"{slot}.{key}"] = statistics.median(vals) if vals else 0.0
    for key in ("step1.ann.rows_scored_per_result",
                "step2.ann.rows_scored_per_result",
                "step3.ann.rows_scored_per_result",
                "step1.dedup.candidate_rows_per_doc",
                "sinks.layout_files_per_dir"):
        out[key] = run.layers.get(key, 0.0)
    return out
