"""Per-layer measurement for a traced run.

Spans come from ``harness.Tracer`` (recorded around calls in
``workloads.py``). Spark work is attributed to a span through the job group
the workload sets around the call; stage and Python-worker metrics are read
from Spark's REST status store after the iteration, outside the timed span.
Streaming micro-batches are counted with a ``StreamingQueryListener``.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

from harness import StatusStore, self_times
from workloads import CORPUS_QUERIES

_Q_FIELDS = (("build_s", "s"), ("exec_s", "s"), ("jvm_cpu_s", "s"),
             ("jobs", "count"), ("shuffle_mb", "MB"))

# The per-layer metrics of BENCHMARK.json, with their units. A traced run
# reports every one; a metric whose layer does no work on the running
# workload reads 0.
PER_LAYER = {
    "session.start_s": "s", "session.cold_iter_s": "s",
    "dag.self_s": "s",
    "elt.wall_s": "s", "elt.jvm_cpu_s": "s", "elt.stages": "count",
    "elt.shuffle_mb": "MB",
    "analysis.wall_s": "s", "analysis.jvm_cpu_s": "s", "analysis.stages": "count",
    "analysis.shuffle_mb": "MB", "analysis.spill_mb": "MB",
    "media.build_s": "s", "media.exec_s": "s", "media.jvm_cpu_s": "s",
    "media.py_run_s": "s", "media.py_boot_s": "s", "media.py_sent_mb": "MB",
    "cache.rdd_left": "count", "cache.recompute_warnings": "count",
    "host.calib_s": "s", "jvm.rss_peak_mb": "MB", "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}

# Metrics of the workloads that BENCHMARK.json does not list (corpus_dedup,
# corpus_ingest); a traced run of one of them reports these as well.
EXTRA = {
    **{f"{q}.{f}": u for q in CORPUS_QUERIES for f, u in _Q_FIELDS},
    "ingest.exact_s": "s", "ingest.near_s": "s", "ingest.compact_s": "s",
    "ingest.read_s": "s", "ingest.jvm_cpu_s": "s",
    "stream.batches": "count", "stream.add_batch_s": "s",
    "stream.overhead_s": "s",
    "io.bytes_written_mb": "MB", "io.files_written": "count",
    "io.write_amp": "ratio",
}

_RECOMPUTE = "already exists on this machine; not re-adding it"


class _Listener(StreamingQueryListener):
    """Collects streaming progress events (batch count and durations) and the
    run ids of streaming queries, whose jobs carry the run id as job group."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict] = []
        self.run_ids: set[str] = set()
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({"rows": p.numInputRows, "ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.runId))


class Probe:
    def __init__(self, spark, ctx, log_path: str) -> None:
        self.spark, self.ctx, self.log_path = spark, ctx, log_path
        sc = spark.sparkContext
        self.store = StatusStore(sc.uiWebUrl, sc.applicationId)
        self.sink = _Listener()
        spark.streams.addListener(self.sink)
        self.samples: list[dict] = []
        self.spans_seen = 0

    def close(self) -> None:
        self.spark.streams.removeListener(self.sink)

    def _log_size(self) -> int:
        with open(self.log_path, "rb") as fh:
            return fh.seek(0, 2)

    def before(self) -> None:
        self.sink.progress.clear()
        self.sink.run_ids.clear()
        self.sink.terminated.clear()
        self.log_off = self._log_size()
        self.job_floor = max((j["jobId"] for j in self.store.get("jobs")), default=-1)

    def _recompute_warnings(self) -> int:
        with open(self.log_path, "rb") as fh:
            fh.seek(self.log_off)
            text = fh.read().decode(errors="replace")
        return text.count(_RECOMPUTE)

    def _jobs(self, groups) -> list[dict]:
        return [j for j in self.new_jobs if j.get("jobGroup") in set(groups)]

    def after(self, rdd_left: int) -> None:
        """Collect this traced iteration's per-layer sample."""
        deadline = time.time() + 10
        while self.sink.run_ids - self.sink.terminated and time.time() < deadline:
            time.sleep(0.05)
        self.store.settle()
        self.new_jobs = [j for j in self.store.get("jobs") if j["jobId"] > self.job_floor]
        base = self.spans_seen
        spans = self.ctx.tr.spans[base:]
        self.spans_seen = len(self.ctx.tr.spans)
        selfs = self_times(self.ctx.tr.spans)[base:]
        dur = {}
        for s in spans:
            dur[s.name] = dur.get(s.name, 0.0) + s.dur
        m = {"cache.rdd_left": rdd_left,
             "cache.recompute_warnings": self._recompute_warnings()}
        if "dag.run_dag" in dur:
            m["dag.self_s"] = sum(st for s, st in zip(spans, selfs)
                                  if s.name == "dag.run_dag")
            for key, group in (("elt", "run_queries"),
                               ("analysis", "run_analysis_script")):
                tot = self.store.stage_totals(self._jobs([group]))
                m[f"{key}.wall_s"] = dur.get(f"task.{group}", 0.0)
                m[f"{key}.jvm_cpu_s"] = tot["jvm_cpu_s"]
                m[f"{key}.stages"] = tot["stages"]
                m[f"{key}.shuffle_mb"] = tot["shuffle_mb"]
                if key == "analysis":
                    m["analysis.spill_mb"] = tot["spill_mb"]
        for q, key in [("media_decode_suite", "media")] + [(q, q) for q in CORPUS_QUERIES]:
            if f"query.{q}" not in dur:
                continue
            jobs = self._jobs([q])
            tot = self.store.stage_totals(jobs)
            m[f"{key}.build_s"] = dur[f"{q}.build"]
            m[f"{key}.exec_s"] = dur[f"{q}.exec"]
            m[f"{key}.jvm_cpu_s"] = tot["jvm_cpu_s"]
            if key == "media":
                m.update({f"media.{k}": v for k, v in self.store.python_totals(jobs).items()})
            else:
                m[f"{q}.jobs"] = len(jobs)
                m[f"{q}.shuffle_mb"] = tot["shuffle_mb"]
        if "ingest.exact" in dur:
            for k in ("exact", "near", "compact", "read"):
                m[f"ingest.{k}_s"] = dur[f"ingest.{k}"]
            groups = {"ingest"} | self.sink.run_ids
            m["ingest.jvm_cpu_s"] = self.store.stage_totals(self._jobs(groups))["jvm_cpu_s"]
            batches = [p for p in self.sink.progress if p["rows"] > 0]
            m["stream.batches"] = len(batches)
            add = sum(p["ms"].get("addBatch", 0) for p in batches) / 1e3
            trig = sum(p["ms"].get("triggerExecution", 0) for p in batches) / 1e3
            m["stream.add_batch_s"] = add
            m["stream.overhead_s"] = trig - add
            st = self.ctx.state
            files = sum(n for n, _ in st["io_streams"] + st["io_compacted"])
            size = sum(b for _, b in st["io_streams"] + st["io_compacted"])
            m["io.files_written"] = files
            m["io.bytes_written_mb"] = size / 1e6
            m["io.write_amp"] = size / st["landing_bytes"]
        m["spark.failed_tasks"] = self.store.stage_totals(self.new_jobs)["failed_tasks"]
        self.samples.append(m)

    def metrics(self, start_s: float, cold_s: float, calib: list[float],
                rss_peak_mb: float) -> dict:
        seen = {k for s in self.samples for k in s}
        names = {**PER_LAYER, **{k: u for k, u in EXTRA.items() if k in seen}}
        out = {}
        for name, unit in names.items():
            vals = [s[name] for s in self.samples if name in s]
            out[name] = (statistics.median(vals) if vals else 0.0, unit)
        out["session.start_s"] = (start_s, "s")
        out["session.cold_iter_s"] = (cold_s, "s")
        out["host.calib_s"] = (statistics.mean(calib), "s")
        out["jvm.rss_peak_mb"] = (rss_peak_mb, "MB")
        return out

    def self_time_summary(self) -> dict:
        """Median self time per span name, over the traced iterations."""
        per: dict[str, list[float]] = {}
        for s, st in zip(self.ctx.tr.spans, self_times(self.ctx.tr.spans)):
            per.setdefault(s.name, []).append(st)
        return {k: statistics.median(v) for k, v in per.items()}
