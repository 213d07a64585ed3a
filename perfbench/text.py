"""Workload ``text``: the BM25 inverted index through its life cycle.

One run, one Spark session, one client waiting for each answer:

- set-up: generate the seeded transcripts (the program's own
  generator) and the seeded reference query set; warm up with one
  ``build_index`` (the process's first, which pays the first-use
  costs), a ``BM25Index(cache_blocks=True)`` handle on it, and one
  single query and one batch on that handle;
- measured: warm ``build_index`` calls into an empty root, single
  queries (the ``jobs/serve.py`` REPL shape), cycling through the
  reference query kinds, and 50-query batches (the ``--selftest``
  shape) on the warm handle, interleaved, until the run's seconds are
  used and each kind has its minimum number of samples;
- traced runs only: one append made searchable on a copy of the
  index: streaming ingest, compaction, fold, and a fresh handle
  answering a query (the one-shot ``jobs/query.py`` shape, on the
  grown index).

Every answer is compared with ``tests/oracle_bm25.OracleIndex`` over
exactly the turns indexed at that moment, by (conv_id, turn_idx) and
score.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from common import Recorder, closed_loop, dir_bytes, duration, layer_metrics, mean, metric

N_BASE = 500  # conversations in the indexed corpus (~4.6k turns)
APPEND = 40  # conversations in the append
QUERY_KINDS = 6  # reference queries cycle through 6 kinds of terms
# one cycle of the measured plan: a warm build, then nine single
# queries and three batches; a run makes at least two cycles, which
# send each kind of reference query three times (the query drawn for
# a kind moves its cost by up to ~50% between seeds; see README.md for
# why no more fit a run)
PLAN = ["build"] + (["query"] * (QUERY_KINDS // 2) + ["batch"]) * 3
MIN_SAMPLES = {"build": 2, "query": 3 * QUERY_KINDS, "batch": 6}
STAGES = ("doc_map", "postings", "term_dict", "blocks", "doc_lens")


def _write(pdf, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")


def _keys(pdf) -> list[tuple[str, int]]:
    return list(zip(pdf["conv_id"], pdf["turn_idx"].astype(int)))


class _Oracle:
    """OracleIndex over the first ``n`` turns of the key-ordered
    corpus; its doc ids are key ranks, which is also the order the
    index assigns doc ids in (appended conversations sort after the
    base ones), so ties break the same way on both sides."""

    def __init__(self, pdf, n: int):
        from tests.oracle_bm25 import OracleIndex

        self.keys = _keys(pdf.iloc[:n])
        self.index = OracleIndex(list(range(n)), list(pdf["text"].iloc[:n]))
        self._answers: dict[tuple[str, int], list] = {}

    def answer(self, query: str, k: int) -> list[tuple[tuple[str, int], float]]:
        if (query, k) not in self._answers:
            self._answers[query, k] = [
                (self.keys[d], s) for d, s in self.index.score_query(query, k)]
        return self._answers[query, k]


def _doc_keys(spark, root: str) -> dict[int, tuple[str, int]]:
    from zensearch_spark.plans.index_build import IndexPaths

    pdf = (
        spark.read.parquet(*IndexPaths.load(root).doc_map_paths())
        .select("doc_id", "conv_id", "turn_idx").toPandas()
    )
    return dict(zip(pdf["doc_id"].astype(int),
                    zip(pdf["conv_id"], pdf["turn_idx"].astype(int))))


def _compare(got, want) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} hits, oracle {len(want)}"
    for rank, ((gk, gs), (wk, ws)) in enumerate(zip(got, want)):
        if gk != wk or not math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12):
            return f"rank {rank}: got {gk} {gs!r}, oracle {wk} {ws!r}"
    return None


def _check_build(root: str, started: float, n_turns: int):
    """The build wrote into an empty root: every stage manifest left
    behind was committed by this call, so no stage was skipped."""

    def check(paths) -> str | None:
        found = sorted(glob.glob(os.path.join(root, "_manifests", "*.json")))
        names = [os.path.basename(p)[:-5] for p in found]
        if sorted(names) != sorted(STAGES):
            return f"manifests {names}"
        for p in found:
            with open(p) as f:
                m = json.load(f)
            if m.get("status") != "committed" or os.path.getmtime(p) < started:
                return f"stage {m.get('stage')} not committed by this build"
        if int(paths.stats["n_docs"]) != n_turns:
            return f"n_docs {paths.stats['n_docs']}, corpus has {n_turns} turns"
        return None

    return check


def run(spark, seed: int, seconds: float, work: str, tracer, t_process: float) -> dict:
    from tests.oracle_bm25 import reference_query_set
    from zensearch_spark.plans import compaction, index_build
    from zensearch_spark.plans.query_plan import BM25Index
    from zensearch_spark.sources.corpus import generate_transcripts_pandas
    from zensearch_spark.streaming import ingest

    # ---- set-up: inputs and their oracle ---------------------------------
    pdf = generate_transcripts_pandas(N_BASE + APPEND, seed)
    conv = pdf["conv_id"].str[1:].astype(int)
    base = pdf[conv < N_BASE]
    n_base = len(base)
    corpus = os.path.join(work, "corpus")
    os.makedirs(corpus)
    _write(base, os.path.join(corpus, "part-0.parquet"))
    queries = [(q["query_text"], q["k"]) for q in reference_query_set(seed, 50)]
    corpus_id = f"perfbench-text-{seed}"
    inputs_s = time.monotonic() - t_process
    # oracle preparation is not part of set-up
    serve_oracle = _Oracle(pdf, n_base)
    ingest_oracle = _Oracle(pdf, len(pdf)) if tracer is not None else None

    # ---- operations ------------------------------------------------------
    root = os.path.join(work, "index")
    ingest_root = os.path.join(work, "ingest_index")
    landing = os.path.join(work, "landing")
    ingest_out = os.path.join(work, "ingest")
    batch_counters: list[dict] = []
    fresh_counters: list[dict] = []
    index = None

    def build_op(out):
        return index_build.build_index(spark, spark.read.parquet(corpus), out, corpus_id)

    def traced_collect(df):
        if tracer is None:
            return df.collect()
        with tracer.span("wand.collect"):
            return df.collect()

    def query_op(handle, query, k, counters=None):
        df = handle.topk_batch([(0, query, k)], counters=counters)
        return [(r["doc_id"], r["score"]) for r in traced_collect(df)]

    def batch_op(counters=None):
        rows = traced_collect(index.topk_batch(
            [(i, q, k) for i, (q, k) in enumerate(queries)], counters=counters))
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return out

    def append_op():
        os.makedirs(landing)
        _write(pdf[conv >= N_BASE], os.path.join(landing, "part-0.parquet"))
        ingest.stream_ingest_postings(spark, landing, ingest_out)
        compaction.compact_index(spark, ingest_root, landing,
                                 os.path.join(ingest_out, "postings_delta"))
        compaction.fold_deltas(spark, ingest_root)
        counters = _counters(spark) if tracer is not None else None
        if counters is not None:
            fresh_counters.append(counters)
        query, k = queries[0]
        return query, k, query_op(BM25Index(spark, ingest_root), query, k, counters)

    # ---- checks ----------------------------------------------------------
    keys: dict[str, dict] = {}

    def doc_keys(at: str) -> dict:
        if at not in keys:
            keys[at] = _doc_keys(spark, at)
        return keys[at]

    def check_serve(query, k):
        def check(hits):
            return _compare([(doc_keys(root)[d], s) for d, s in hits],
                            serve_oracle.answer(query, k))
        return check

    def check_batch(out):
        for i, (q, k) in enumerate(queries):
            err = _compare([(doc_keys(root)[d], s) for d, s in out.get(i, [])],
                           serve_oracle.answer(q, k))
            if err:
                return f"query {i}: {err}"
        return None

    def check_append(res):
        query, k, hits = res
        return _compare([(doc_keys(ingest_root)[d], s) for d, s in hits],
                        ingest_oracle.answer(query, k))

    def timed_build():
        out = os.path.join(work, "build")
        started = time.time()
        rec.op("build", lambda: build_op(out), _check_build(out, started, n_base))
        shutil.rmtree(out, ignore_errors=True)

    # ---- warm-up (part of set-up) ----------------------------------------
    # The first build in a process pays the JVM's and the Python
    # workers' first-use costs; its index is the one served below.
    rec = Recorder(tracer)
    if tracer is not None:
        _install(tracer)
        tracer.start()
    started = time.time()
    built = rec.op("warmup.build", lambda: build_op(root), _check_build(root, started, n_base))
    if built is not None:
        index = rec.op("warmup.open", lambda: BM25Index(spark, root, cache_blocks=True))
    if index is not None:
        rec.op("warmup.query", lambda: query_op(index, *queries[0]), check_serve(*queries[0]))
        rec.op("warmup.batch", batch_op, check_batch)
    setup_s = inputs_s + rec.warmup_s()

    # ---- measured --------------------------------------------------------
    # Warm builds into an empty root, single queries (the jobs/serve.py
    # REPL shape), cycling through the reference query kinds, and
    # 50-query batches (its --selftest shape) on the warm handle,
    # interleaved, until the run's seconds are used and each kind has
    # its minimum number of samples.
    t_measure = time.monotonic()
    i = 0
    if index is not None:
        for kind in closed_loop(t_measure, seconds, PLAN, MIN_SAMPLES):
            if kind == "build":
                timed_build()
            elif kind == "query":
                q, k = queries[i % len(queries)]
                for traced in rec.tracing_modes(i):
                    rec.op("query", lambda q=q, k=k: query_op(index, q, k),
                           check_serve(q, k), traced=traced)
                i += 1
            else:
                counters = _counters(spark) if tracer is not None else None
                if counters is not None:
                    batch_counters.append(counters)
                rec.op("batch", lambda c=counters: batch_op(c), check_batch)
    if tracer is not None and index is not None:
        # only traced runs append: a second one-shot job does not fit
        # the untraced runs' time budget (see README.md)
        shutil.copytree(root, ingest_root)
        rec.op("append", append_op, check_append)

    # ---- results ---------------------------------------------------------
    n_appended = len(pdf) - n_base
    env = {}
    if built is not None:
        with open(os.path.join(root, "_manifests", "blocks.json")) as f:
            chosen = json.load(f)["metrics"]
        env = {k: chosen.get(k) for k in ("n_salt_ranges", "stride")}
    report = [
        f"workload text: {n_base} base turns, {len(queries)} queries, "
        f"{n_appended} turns per append, setup {setup_s:.2f} s, "
        f"measured {time.monotonic() - t_measure:.2f} s",
        *rec.report(),
    ]
    if tracer is None:
        build_s, query_s, batch_s = (rec.median(k) for k in ("build", "query", "batch"))
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "build_items_per_s": metric(n_base / build_s if build_s else 0.0, "items/s"),
            "index_bytes_per_item": metric(dir_bytes(root) / n_base, "B"),
            "probe_p50_s": metric(query_s or 0.0, "s"),
            "batch_qps": metric(len(queries) / batch_s if batch_s else 0.0, "q/s"),
        }
    else:
        if "append" in rec.walls:
            wall = rec.walls["append"][0]
            report.append(f"freshness_s: {wall}, ingest_turns_per_s: {n_appended / wall}")
        tracer.unwrap_all()
        tracer.collect_executor_metrics()
        metrics = _layer_metrics(tracer, rec, root, ingest_root, ingest_out,
                                 batch_counters, fresh_counters)
    return {"metrics": metrics, "outcomes": rec.outcomes, "report": report, "env": env}


def _counters(spark) -> dict:
    sc = spark.sparkContext
    return {"blocks_total": sc.accumulator(0), "blocks_decoded": sc.accumulator(0)}


def _install(tracer) -> None:
    from zensearch_spark.operators import docmap
    from zensearch_spark.plans import checkpoint, compaction, index_build, query_plan
    from zensearch_spark.streaming import ingest

    tracer.wrap(index_build, "build_index", "index_build.build_index")
    for stage in STAGES:
        tracer.wrap(index_build, f"stage_{stage}", f"index_build.{stage}")
    tracer.wrap(docmap, "assign_doc_ids", "docmap.assign_doc_ids")
    tracer.wrap(checkpoint.StageRunner, "run", "checkpoint.run")
    tracer.wrap(query_plan.BM25Index, "__init__", "query_plan.open")
    tracer.wrap(query_plan.BM25Index, "term_rows", "query_plan.term_rows")
    tracer.wrap(query_plan.BM25Index, "topk_batch", "wand.plan")
    tracer.wrap(ingest, "stream_ingest_postings", "ingest.stream")
    tracer.wrap(compaction, "compact_index", "compaction.compact")
    tracer.wrap(compaction, "fold_deltas", "compaction.fold")


def _layer_metrics(tracer, rec, root, ingest_root, ingest_out,
                   batch_counters, fresh_counters) -> dict:
    m = {}
    kids = tracer.children()

    under = tracer.under
    builds = under("index_build.build_index", "build")
    n_b = max(len(builds), 1)
    for stage in STAGES:
        m[f"index_build.{stage}_s"] = sum(map(duration, under(f"index_build.{stage}", "build"))) / n_b
    m["docmap.assign_doc_ids_s"] = sum(map(duration, under("docmap.assign_doc_ids", "build"))) / n_b
    runs = under("checkpoint.run", "build")
    m["checkpoint.commit_s"] = sum(
        duration(r) - sum(duration(c) for c in kids.get(r["id"], ())) for r in runs) / n_b
    m["index_build.runner_share"] = (
        sum(map(duration, runs)) / sum(map(duration, builds)) if builds else 0.0)
    for key, name in (("shuffle bytes written", "shuffle_write_bytes"),
                      ("spill size", "spill_bytes"),
                      ("time to run Python workers", "python_run_s"),
                      ("number of written files", "files_written")):
        m[f"index_build.{name}"] = sum(tracer.subtree_exec(b, key, kids) for b in builds) / n_b
    if os.path.isdir(root):
        for table in STAGES:
            m[f"index.{table}_bytes"] = dir_bytes(os.path.join(root, table))
        with open(os.path.join(root, "_manifests", "blocks.json")) as f:
            m["wand.salt_groups"] = json.load(f)["metrics"].get("n_salt_ranges", 0)

    m["query_plan.open_s"] = mean(map(duration, under("query_plan.open", "append")))
    m["query_plan.term_rows_s"] = mean(map(duration, under("query_plan.term_rows", "query")))
    singles = tracer.named("request.query")
    m["wand.plan_s"] = mean(map(duration, under("wand.plan", "query")))
    m["wand.collect_s"] = mean(map(duration, under("wand.collect", "query")))
    m["wand.jobs_per_request"] = mean(tracer.subtree_count(r, "jobs", kids) for r in singles)
    m["wand.tasks_per_request"] = mean(tracer.subtree_count(r, "tasks", kids) for r in singles)
    m["wand.doc_lens_bytes_read"] = mean(
        tracer.subtree_exec(r, "size of files read:doc_lens", kids) for r in singles)
    # the warm handle caches blocks in memory; the fresh handle of the
    # append is the one request that reads them from files
    m["wand.blocks_bytes_read"] = mean(
        tracer.subtree_exec(s, "size of files read:blocks", kids)
        for s in under("wand.collect", "append"))
    batches = tracer.named("request.batch")
    m["wand.python_run_s"] = mean(
        tracer.subtree_exec(r, "time to run Python workers", kids) for r in batches)
    scanned = sum(c["blocks_total"].value for c in batch_counters)
    decoded = sum(c["blocks_decoded"].value for c in batch_counters)
    n_c = max(len(batch_counters), 1)
    m["wand.blocks_scanned"] = scanned / n_c
    m["wand.blocks_decoded"] = decoded / n_c
    m["wand.decode_frac"] = decoded / scanned if scanned else 0.0

    n_a = max(len(tracer.named("request.append")), 1)
    m["ingest.stream_s"] = sum(map(duration, under("ingest.stream", "append"))) / n_a
    m["compaction.compact_s"] = sum(map(duration, under("compaction.compact", "append"))) / n_a
    m["compaction.fold_s"] = sum(map(duration, under("compaction.fold", "append"))) / n_a
    m["compaction.bytes_written"] = sum(
        tracer.subtree_exec(s, "written output", kids)
        for name in ("compaction.compact", "compaction.fold")
        for s in under(name, "append")) / n_a
    delta = os.path.join(ingest_out, "postings_delta")
    m["ingest.delta_bytes"] = dir_bytes(delta) if os.path.isdir(delta) else 0
    if os.path.isdir(ingest_root):
        with open(os.path.join(ingest_root, "stats.json")) as f:
            segs = json.load(f).get("segments", {}).get("blocks", [])
        m["compaction.segments"] = len(segs) or 1
    f_scanned = sum(c["blocks_total"].value for c in fresh_counters)
    f_decoded = sum(c["blocks_decoded"].value for c in fresh_counters)
    m["ingest.decode_frac"] = f_decoded / f_scanned if f_scanned else 0.0
    return layer_metrics(tracer, rec, m)
