"""The benchmark's workloads. Each one times calls into the program's public
functions and nothing else: the program itself carries no tracing.

A workload has three parts:

- ``iterate(ctx)``: one timed operation. Its result is materialised inside
  the call (collected or counted), so the timer covers the work.
- ``check(ctx, result)``: an order-independent fingerprint of the result
  and whether it is correct. Runs after the timer stops.
- ``after(ctx)``: releases pins and clears caches so iterations are
  independent. Runs after the timer stops.

``ctx.tr`` is the span recorder; in an untraced run its spans cost nothing.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from harness import fingerprint, norm_rows

CORPUS_QUERIES = (
    "corpus_clean_stats",
    "doc_minhash_lsh_pairs",
    "doc_ngram_jaccard_pairs",
    "doc_simhash_pairs",
    "doc_winnow_pairs",
    "emb_near_dup_pairs",
    "emb_ivf_topk",
    "emb_lsh_topk",
)
LANDING_FILES = 4
DOC_SCHEMA = "doc_id long, text string"


class Ctx:
    """Everything a workload needs for one run."""

    def __init__(self, spark, data_dir: str, tmp_root: str, seed: int, tracer,
                 clusters: list[list[int]]) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.tmp_root = tmp_root
        self.seed = seed
        self.tr = tracer
        self.clusters = clusters
        self.state: dict = {}


def _group(ctx: Ctx, name: str) -> None:
    ctx.spark.sparkContext.setJobGroup(name, name, False)


def _rows(df) -> tuple[list[str], list[tuple]]:
    pdf = df.toPandas()
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]


# --------------------------------------------------------------------------- #
# daily_dag: the reference's own job
# --------------------------------------------------------------------------- #


def daily_iterate(ctx: Ctx):
    from switchback_test_dag_spark import dag

    tr = ctx.tr
    if not tr.enabled:
        return dag.run_daily(ctx.spark, ctx.data_dir)

    def traced(task):
        def fn():
            _group(ctx, task.name)
            with tr.span(f"task.{task.name}", group=task.name):
                return task.fn()
        return dag.Task(task.name, fn, task.depends_on, task.retries,
                        task.retry_delay_sec)

    tasks = [traced(t) for t in dag.daily_tasks(ctx.spark, ctx.data_dir)]
    with tr.span("dag.run_dag"):
        return dag.run_dag(tasks)


def daily_check(ctx: Ctx, result) -> str:
    return fingerprint({"succeeded": result.succeeded, "outputs": result.outputs})


# --------------------------------------------------------------------------- #
# media_decode and corpus_dedup: registry queries
# --------------------------------------------------------------------------- #


def _run_query(ctx: Ctx, name: str):
    from switchback_test_dag_spark.queries import QUERIES

    tr = ctx.tr
    if not tr.enabled:
        return _rows(QUERIES[name](ctx.spark, ctx.data_dir))
    _group(ctx, name)
    with tr.span(f"query.{name}", group=name):
        with tr.span(f"{name}.build"):
            df = QUERIES[name](ctx.spark, ctx.data_dir)
            # analysis and optimisation; execution reuses the optimised plan
            df._jdf.queryExecution().optimizedPlan()
        with tr.span(f"{name}.exec"):
            return _rows(df)


def media_iterate(ctx: Ctx):
    return {"media_decode_suite": _run_query(ctx, "media_decode_suite")}


def corpus_iterate(ctx: Ctx):
    return {name: _run_query(ctx, name) for name in CORPUS_QUERIES}


def queries_check(ctx: Ctx, result) -> str:
    return fingerprint({k: norm_rows(*v) for k, v in result.items()})


# --------------------------------------------------------------------------- #
# corpus_ingest: the README daily-ops recipe
# --------------------------------------------------------------------------- #


def ingest_setup(ctx: Ctx) -> None:
    import pyarrow.parquet as pq

    import datagen

    docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"),
                         columns=["doc_id", "text"])
    landing = os.path.join(ctx.tmp_root, "landing")
    paths = datagen.write_landing(docs, landing, ctx.seed, LANDING_FILES)
    ctx.state["landing"] = landing
    ctx.state["landing_bytes"] = sum(os.path.getsize(p) for p in paths)
    ctx.state["iter_dir"] = tempfile.mkdtemp(prefix="iter-", dir=ctx.tmp_root)


def _dir_usage(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def ingest_iterate(ctx: Ctx):
    from switchback_test_dag_spark import io as sio
    from switchback_test_dag_spark.streaming.windows import (
        stream_corpus_dedup,
        stream_corpus_near_dedup,
    )

    spark, tr, d = ctx.spark, ctx.tr, ctx.state["iter_dir"]
    p = {k: os.path.join(d, k) for k in
         ("fp_index", "exact_clean", "sig_index", "near_clean", "ckpt", "ckpt2")}
    _group(ctx, "ingest")
    with tr.span("ingest.exact", group="ingest"):
        stream = (spark.readStream.schema(DOC_SCHEMA)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(ctx.state["landing"]))
        stream_corpus_dedup(stream, "doc_id", "text", index_path=p["fp_index"],
                            out_path=p["exact_clean"], checkpoint_dir=p["ckpt"])
    with tr.span("ingest.near", group="ingest"):
        stream2 = (spark.readStream.schema(DOC_SCHEMA)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(os.path.join(p["exact_clean"], "batch=*")))
        stream_corpus_near_dedup(stream2, "doc_id", "text",
                                 sig_index_path=p["sig_index"],
                                 out_path=p["near_clean"],
                                 checkpoint_dir=p["ckpt2"], exact_verify=True)
    logs = ("fp_index", "exact_clean", "sig_index", "near_clean")
    if tr.enabled:
        ctx.state["io_streams"] = [_dir_usage(p[k]) for k in logs]
    with tr.span("ingest.compact", group="ingest"):
        for k in logs:
            sio.compact_batches(spark, p[k])
    if tr.enabled:
        ctx.state["io_compacted"] = [
            _dir_usage(os.path.join(p[k], "_compacted")) for k in logs
        ]
    with tr.span("ingest.read", group="ingest"):
        ids = [r[0] for r in sio.read_batch_state(spark, p["near_clean"])
               .select("doc_id").collect()]
    return sorted(ids)


def cluster_roots(clusters: list[list[int]]) -> dict[int, int]:
    """doc_id -> smallest doc_id of its planted duplicate cluster."""
    return {d: min(c) for c in clusters for d in c}


def ingest_check(ctx: Ctx, result) -> str:
    """Fingerprint of the survivors mapped to their cluster roots. Which
    member of a cluster survives depends on arrival order (the landing
    split), so the comparable fact is that each cluster and each
    unduplicated document survives exactly once."""
    roots = cluster_roots(ctx.clusters)
    return fingerprint(sorted(roots.get(d, d) for d in result))


def ingest_after(ctx: Ctx) -> None:
    shutil.rmtree(ctx.state["iter_dir"], ignore_errors=True)
    ctx.state["iter_dir"] = tempfile.mkdtemp(prefix="iter-", dir=ctx.tmp_root)


# --------------------------------------------------------------------------- #


class Workload:
    def __init__(self, name, iterate, check, setup=None, after=None):
        self.name, self.iterate, self.check = name, iterate, check
        self.setup, self.after = setup, after


WORKLOADS = {
    w.name: w
    for w in (
        Workload("daily_dag", daily_iterate, daily_check),
        Workload("media_decode", media_iterate, queries_check),
        Workload("corpus_dedup", corpus_iterate, queries_check),
        Workload("corpus_ingest", ingest_iterate, ingest_check,
                 setup=ingest_setup, after=ingest_after),
    )
}


def release(spark) -> int:
    """Drop every pin and cached table; return the persisted-RDD count left."""
    from switchback_test_dag_spark.caching import release_all

    release_all(blocking=True)
    spark.catalog.clearCache()
    return spark.sparkContext._jsc.getPersistentRDDs().size()

