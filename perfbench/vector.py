"""Workload ``vector``: the similarity operators.

One run, one Spark session, one client waiting for each answer:

- set-up: generate seeded clustered embeddings, and documents of
  which every 20th is an edited copy of an earlier one; warm up with
  one build of the ANN sign-sketch index (``build_ann_index``) and the
  IVF index (``train_ivf_centroids`` + ``build_ivf_index``), the
  process's first, and one probe of each kind on them;
- measured: warm IVF builds into empty directories, single-vector
  ``ivf_topk`` probes and 4-vector ``ann_topk_batch`` calls,
  interleaved, until the run's seconds are used and each kind has its
  minimum number of samples;
- traced runs only: one near-duplicate sweep (``ngram_jaccard_pairs``
  and ``minhash_lsh_pairs``).

The index-building functions are called directly:
``__spark_entry__.ensure_ann_index`` would reuse an index cached across
processes. Probe answers are checked against exact NumPy cosine
(recall@k and the cosine of every returned vector); near-duplicate
pairs against the DuckDB oracle SQL of ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import Recorder, closed_loop, dir_bytes, duration, layer_metrics, mean, metric

N_VEC = 2000
DIM = 64
N_CLUSTERS = 10
N_DOCS = 600
VOCAB = 1000
DUP_EVERY = 20  # every 20th document is an edited copy of an earlier one
BATCH = 4
K = 10
IVF_PER_BATCH = 2  # IVF probes sent per ANN batch
# see README.md for why no more fit a run
MIN_SAMPLES = {"ivf_build": 3, "ivf_probe": 6, "ann_batch": 2}
RECALL_FLOOR = 0.9  # the recall gate the repository's own tests use


def make_embeddings(seed: int) -> np.ndarray:
    """Tight clusters (within-cluster cosine ~0.9), the shape on which
    the repository's recall tests gate ANN and IVF."""
    rng = np.random.default_rng([seed, 64])
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, N_VEC)
    return centers[labels] + 0.25 * rng.standard_normal((N_VEC, DIM)) / np.sqrt(DIM)


def make_documents(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 5])
    words = np.array([f"w{i}" for i in range(VOCAB)])
    texts = []
    for i in range(N_DOCS):
        if i % DUP_EVERY == DUP_EVERY - 1:
            toks = texts[int(rng.integers(0, i))].split()
            toks = toks + list(rng.choice(words, int(rng.integers(1, 3))))
        else:
            toks = list(rng.choice(words, int(rng.integers(20, 80))))
        texts.append(" ".join(toks))
    return pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts})


def _exact_topk(vecs: np.ndarray, q: np.ndarray, k: int) -> tuple[list[int], np.ndarray]:
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ (q / np.linalg.norm(q))
    order = np.lexsort((np.arange(len(cos)), -cos))
    return [int(i) for i in order[:k]], cos


def _check_probe(vecs, q, k, hits) -> tuple[float, str | None]:
    """Recall@k of ``hits`` [(vec_id, cosine)] against exact cosine,
    and an error when a returned cosine is not the exact one."""
    exact, cos = _exact_topk(vecs, q, k)
    for vid, c in hits:
        if not math.isclose(c, float(cos[vid]), abs_tol=1e-5):
            return 0.0, f"vec {vid}: cosine {c}, exact {cos[vid]}"
    recall = len(set(exact) & {v for v, _ in hits}) / k
    if recall < RECALL_FLOOR:
        return recall, f"recall@{k} {recall} < {RECALL_FLOOR}"
    return recall, None


def _oracle_pairs(docs: pd.DataFrame) -> dict[str, list[tuple]]:
    import duckdb

    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        return {name: sorted(tuple(r) for r in con.execute(sql[name]).fetchall())
                for name in ("ngram_jaccard", "minhash_lsh")}
    finally:
        con.close()


def _rows(df) -> list[tuple]:
    return sorted((int(r[0]), int(r[1]), round(float(r[2]), 6)) for r in df.collect())


def run(spark, seed: int, seconds: float, work: str, tracer, t_process: float) -> dict:
    from __spark_entry__ import MAX_GRAM_DF
    from zensearch_spark.operators import dedup, ivf, similarity

    vecs = make_embeddings(seed)
    docs = make_documents(seed)
    emb_path = os.path.join(work, "embeddings.parquet")
    docs_path = os.path.join(work, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(pd.DataFrame({
        "vec_id": np.arange(N_VEC, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
    }), preserve_index=False), emb_path)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), docs_path)
    rng = np.random.default_rng([seed, 99])

    def read_docs():
        # one file, one split: spread the rows over the cores first, as
        # __spark_entry__ does for its compute-heavy document queries
        df = spark.read.parquet(docs_path)
        return df.repartition(spark.sparkContext.defaultParallelism)

    def ann_build_op(emb, out):
        similarity.build_ann_index(emb, os.path.join(out, "ann_index"), dim=DIM)
        return True

    def ivf_build_op(emb, out):
        cent = ivf.train_ivf_centroids(emb, n_centroids=64, sample_every=4, seed=42)
        ivf.build_ivf_index(emb, os.path.join(out, "ivf_index"), cent)
        return cent

    def span(name):
        return tracer.span(name) if tracer is not None else nullcontext()

    def neardup_op(src):
        with span("dedup.ngram_jaccard"):
            ng = _rows(dedup.ngram_jaccard_pairs(src, n=5, threshold=0.8,
                                                 max_gram_df=MAX_GRAM_DF))
        with span("dedup.minhash_lsh"):
            mh = _rows(dedup.minhash_lsh_pairs(src, n=5, num_hashes=32, bands=8,
                                               threshold=0.8))
        return {"ngram_jaccard": ng, "minhash_lsh": mh}

    def ann_op(root, ids):
        with span("similarity.ann_collect"):
            rows = similarity.ann_topk_batch(
                spark, os.path.join(root, "ann_index"),
                [(j, vecs[i].tolist(), K) for j, i in enumerate(ids)]).collect()
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
        return out

    def ivf_op(root, cent, i):
        with span("ivf.collect"):
            rows = ivf.ivf_topk(spark, os.path.join(root, "ivf_index"), cent,
                                vecs[i].tolist(), k=K).collect()
        return [(r["vec_id"], r["cosine"]) for r in rows]

    inputs_s = time.monotonic() - t_process
    # oracle preparation is not part of set-up
    oracle = _oracle_pairs(docs) if tracer is not None else {}

    # ---- checks ------------------------------------------------------------
    recalls: dict[str, list[float]] = {"ann": [], "ivf": []}

    def check_ann(ids):
        def check(out):
            errs = []
            for j, i in enumerate(ids):
                r, err = _check_probe(vecs, vecs[i], K, out.get(j, []))
                recalls["ann"].append(r)
                if err:
                    errs.append(f"query {j}: {err}")
            return "; ".join(errs) or None
        return check

    def check_ivf(i):
        def check(hits):
            r, err = _check_probe(vecs, vecs[i], K, hits)
            recalls["ivf"].append(r)
            return err
        return check

    def check_pairs(got):
        for name, want in oracle.items():
            if got[name] != want:
                return f"{name}: {len(got[name])} pairs, oracle {len(want)}"
        return None

    rec = Recorder(tracer)
    if tracer is not None:
        _install(tracer)
        tracer.start()

    def timed_ivf_build():
        out = os.path.join(work, "ivf_build")
        started = time.time()
        rec.op("ivf_build", lambda: ivf_build_op(spark.read.parquet(emb_path), out),
               lambda _: _check_fresh(out, started, ("ivf_index",)))
        shutil.rmtree(out, ignore_errors=True)

    # ---- warm-up (part of set-up) ------------------------------------------
    # The first builds in a process pay the JVM's and the Python
    # workers' first-use costs; their indexes are the ones probed below.
    root = os.path.join(work, "index")
    started = time.time()
    cent = None
    if rec.op("warmup.ann_build", lambda: ann_build_op(spark.read.parquet(emb_path), root),
              lambda _: _check_fresh(root, started, ("ann_index",))):
        cent = rec.op("warmup.ivf_build", lambda: ivf_build_op(spark.read.parquet(emb_path), root),
                      lambda _: _check_fresh(root, started, ("ivf_index",)))
    if cent is not None:
        # one vector compiles the same plan as a full batch, sooner
        ids = [int(rng.integers(0, N_VEC))]
        rec.op("warmup.ann_batch", lambda: ann_op(root, ids), check_ann(ids))
        i = int(rng.integers(0, N_VEC))
        rec.op("warmup.ivf_probe", lambda: ivf_op(root, cent, i), check_ivf(i))
    setup_s = inputs_s + rec.warmup_s()

    # ---- measured ----------------------------------------------------------
    # Warm IVF builds (training and index) into empty directories,
    # single-vector IVF probes and 4-vector ANN batches, interleaved,
    # until the run's seconds are used and each kind has its minimum
    # number of samples. The ANN index is built once, in set-up: a warm
    # build (~8 s, one file per occupied bucket) does not fit a run, so
    # setup_s is what guards it.
    t_measure = time.monotonic()
    n_ivf = 0
    if cent is not None:
        plan = ["ivf_build"] + ["ivf_probe"] * IVF_PER_BATCH + ["ann_batch"]
        for kind in closed_loop(t_measure, seconds, plan, MIN_SAMPLES):
            if kind == "ivf_build":
                timed_ivf_build()
            elif kind == "ivf_probe":
                i = int(rng.integers(0, N_VEC))
                for traced in rec.tracing_modes(n_ivf):
                    rec.op("ivf_probe", lambda i=i: ivf_op(root, cent, i), check_ivf(i),
                           traced=traced)
                n_ivf += 1
            else:
                ids = [int(x) for x in rng.choice(N_VEC, BATCH, replace=False)]
                rec.op("ann_batch", lambda ids=ids: ann_op(root, ids), check_ann(ids))
    if tracer is not None and cent is not None:
        # only traced runs sweep for near-duplicates: the sweep does not
        # fit the untraced runs' time budget (see README.md)
        rec.op("neardup", lambda: neardup_op(read_docs()), check_pairs)

    # ---- results -----------------------------------------------------------
    report = [
        f"workload vector: {N_VEC} vectors x {DIM}, {N_DOCS} documents, "
        f"setup {setup_s:.2f} s, measured {time.monotonic() - t_measure:.2f} s",
        *rec.report(),
        f"vector_recall: ann {mean(recalls['ann'])}, ivf {mean(recalls['ivf'])}",
        *(f"near-duplicate pairs (oracle): {k} {len(v)}" for k, v in oracle.items()),
    ]
    if tracer is None:
        build_s, probe_s, batch_s = (
            rec.median(k) for k in ("ivf_build", "ivf_probe", "ann_batch"))
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "build_items_per_s": metric(N_VEC / build_s if build_s else 0.0, "items/s"),
            "index_bytes_per_item": metric(
                (dir_bytes(os.path.join(root, "ann_index"))
                 + dir_bytes(os.path.join(root, "ivf_index"))) / N_VEC,
                "B"),
            "probe_p50_s": metric(probe_s or 0.0, "s"),
            "batch_qps": metric(BATCH / batch_s if batch_s else 0.0, "q/s"),
        }
    else:
        tracer.unwrap_all()
        tracer.collect_executor_metrics()
        metrics = _layer_metrics(tracer, rec, recalls)
    return {"metrics": metrics, "outcomes": rec.outcomes, "report": report}


def _check_fresh(root: str, started: float, names: tuple[str, ...]) -> str | None:
    """The indexes were written by this build into empty directories."""
    for name in names:
        path = os.path.join(root, name)
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
        if not files:
            return f"{name}: no files written"
        if min(os.path.getmtime(f) for f in files) < started:
            return f"{name}: holds files older than this build"
    return None


def _install(tracer) -> None:
    from zensearch_spark.operators import dedup, ivf, similarity

    tracer.wrap(similarity, "build_ann_index", "similarity.ann_build")
    tracer.wrap(ivf, "train_ivf_centroids", "ivf.train")
    tracer.wrap(ivf, "build_ivf_index", "ivf.build")
    tracer.wrap(similarity, "ann_topk_batch", "similarity.ann_plan")
    tracer.wrap(ivf, "ivf_topk", "ivf.plan")
    tracer.wrap(dedup, "ngram_jaccard_pairs", "dedup.ngram_plan")
    tracer.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_plan")


def _layer_metrics(tracer, rec, recalls) -> dict:
    kids = tracer.children()
    # the ANN index is built once, in set-up, as the process's first build
    ann_builds = tracer.under("similarity.ann_build", "warmup.ann_build")
    n_ivf = max(len(tracer.named("request.ivf_build")), 1)
    anns = tracer.named("request.ann_batch")
    ivfs = tracer.named("request.ivf_probe")
    m = {
        "similarity.ann_build_s": mean(map(duration, ann_builds)),
        "similarity.ann_files_written": mean(
            tracer.subtree_exec(s, "number of written files", kids) for s in ann_builds),
        "ivf.build_s": sum(map(duration, tracer.under("ivf.train", "ivf_build")
                               + tracer.under("ivf.build", "ivf_build"))) / n_ivf,
        "similarity.ann_probe_s": mean(map(duration, anns)),
        "similarity.ann_files_read": mean(
            tracer.subtree_exec(r, "number of files read:ann_index", kids) for r in anns),
        "similarity.recall": mean(recalls["ann"]),
        "ivf.probe_s": mean(map(duration, ivfs)),
        "ivf.files_read": mean(
            tracer.subtree_exec(r, "number of files read:ivf_index", kids) for r in ivfs),
        "ivf.recall": mean(recalls["ivf"]),
        "dedup.ngram_jaccard_s": mean(map(duration, tracer.named("dedup.ngram_jaccard"))),
        "dedup.minhash_lsh_s": mean(map(duration, tracer.named("dedup.minhash_lsh"))),
    }
    return layer_metrics(tracer, rec, m)
