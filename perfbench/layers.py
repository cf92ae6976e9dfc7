"""Per-layer figures of a traced run.

Tracing is switched on only in set-up 0's session: Spark's event log
(jobs, stages, tasks, the Python nodes' SQL metrics), the UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``, in-UDF function times), a
StreamingQueryListener (micro-batch phases) and the driver log (codegen
fallbacks). Figures cover the timed phase only and are given per pass; for
``token_stream`` the pass is the whole timed phase.
"""

from __future__ import annotations

import glob
import json
import os
import pstats

from pyspark.sql.streaming import StreamingQueryListener

from . import stats, tracing
from .workloads import WORKLOADS

#: micro-batch phases of StreamingQueryProgress.durationMs, in the order
#: MicroBatchExecution runs them
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


class ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def attach(spark, run) -> ProgressListener:
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


def detach(spark, run, listener: ProgressListener) -> dict[str, float]:
    """Stop collecting; returns the profiler's in-UDF times (seconds)."""
    spark.streams.removeListener(listener)
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    d = os.path.join(run.work, "profile")
    spark.profile.dump(d, type="perf")
    return tracing.udf_profile_times(
        {p: pstats.Stats(p) for p in glob.glob(os.path.join(d, "*.pstats"))})


def per_layer(run, wl, raw: dict, driver_log: str) -> dict:
    tr, m = run.tracer, raw["measured"]
    timed = next(s for s in tr.named("phase.timed") if s.attrs.get("traced"))
    passes = [s for s in tr.children(timed) if s.name == "pass"] or [timed]
    n = len(passes)

    # --- spans: job group -> query or stream phase ---------------------
    by_group = {}
    queries: dict[str, list] = {}
    for p in passes:
        for q in tr.children(p):
            if q.name.startswith("query."):
                by_group[f"span-{q.id}"] = (q, p)
                queries.setdefault(q.name[len("query."):], []).append(q)
    phases = {}
    for ph in getattr(wl, "phases", []):
        if ph["span"].parent == timed.id:
            by_group[ph["run_id"]] = (ph["span"], timed)
            phases[ph["run_id"]] = ph
            key = "drain" if ph["tag"].startswith("drain") else "open_loop"
            queries.setdefault(key, []).append(ph["span"])

    # micro-batch spans from the listener, laid out phase after phase
    batch_span = {}
    for p in (raw["listener"].progress if raw["listener"] else []):
        if p["runId"] not in phases:
            continue
        start = stats.progress_end(p) - p["durationMs"].get("triggerExecution", 0) / 1000
        bs = tr.add(f"batch.{p['batchId']}", start, stats.progress_end(p),
                    phases[p["runId"]]["span"].id, rows=p["numInputRows"])
        batch_span[(p["runId"], str(p["batchId"]))] = bs
        t = start
        for phase in BATCH_PHASES:
            d = p["durationMs"].get(phase, 0) / 1000
            tr.add(f"batch.{phase}", t, t + d, bs.id)
            t += d

    # --- event log: jobs -> stages, attributed to the spans above ----------
    log = tracing.parse_event_log(raw["event_log"])
    owner = {}  # stage id -> the first job that lists it (later ones skip it)
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    jobs = {jid: j for jid, j in log.jobs.items() if j["group"] in by_group}
    job_count: dict[int, int] = {}
    stages_by_pass: dict[int, list] = {p.id: [] for p in passes}
    for jid, j in sorted(jobs.items()):
        span, p = by_group[j["group"]]
        job_count[span.id] = job_count.get(span.id, 0) + 1
        parent = batch_span.get((j["group"], j["batch"]), span)
        js = tr.add("job", j["start"], j.get("end", j["start"]), parent.id, job=jid)
        for (sid, att), st in log.stages.items():
            if owner.get(sid) == jid and st["end"]:
                tr.add("stage", st["start"], st["end"], js.id, stage=sid,
                       attempt=att)
                stages_by_pass[p.id].append(st)
    stages = [st for sts in stages_by_pass.values() for st in sts]
    gap = sum(p.duration - tracing.covered(
        [(st["start"], st["end"]) for st in stages_by_pass[p.id]], p.start, p.end)
        for p in passes)
    py: dict = {}
    for st in stages:
        for k, v in st["py"].items():
            py[k] = py.get(k, 0) + v
    prof = raw["profile"]
    ms = 1e3  # the Python nodes' timing metrics are in milliseconds
    py_s = {kind: py.get((kind, "total"), 0) / ms
            for kind in ("arrow_eval", "map_in_arrow")}
    in_udf = sum(prof.get(k, 0.0) for k in tracing.PROFILED)

    out: dict[str, tuple[float, str]] = {
        "setup.session_s": (stats.median(s["session_s"] for s in raw["setups"]), "s"),
        "setup.warm_s": (stats.median(s["warm_s"] for s in raw["setups"]), "s"),
    }
    for cls in WORKLOADS.values():
        for q in cls.QUERIES:
            spans = queries.get(q, [])
            out[f"query.{q}.wall_s"] = (stats.median(s.duration for s in spans), "s")
            out[f"query.{q}.jobs"] = (stats.median(job_count.get(s.id, 0) for s in spans),
                                      "count")
    out.update({
        "spark.jobs": (len(jobs) / n, "count"),
        "spark.stages": (len(stages) / n, "count"),
        "spark.driver_gap_s": (gap / n, "s"),
        "spark.executor_run_s": (sum(st["run_s"] for st in stages) / n, "s"),
        "spark.executor_cpu_s": (sum(st["cpu_s"] for st in stages) / n, "s"),
        "spark.task_skew": (tracing.task_skew(stages), "ratio"),
        "shuffle.read_bytes": (sum(st["shuffle_read"] for st in stages) / n, "bytes"),
        "shuffle.write_bytes": (sum(st["shuffle_write"] for st in stages) / n, "bytes"),
        "shuffle.spill_bytes": (sum(st["spill"] for st in stages) / n, "bytes"),
        "codegen.fallbacks": (tracing.count_codegen_fallbacks(driver_log), "count"),
        "udf.arrow_eval.python_s": (py_s["arrow_eval"] / n, "s"),
        "udf.map_in_arrow.python_s": (py_s["map_in_arrow"] / n, "s"),
        "udf.bytes_sent": (sum(v for (_, k), v in py.items() if k == "bytes_sent") / n,
                           "bytes"),
        "udf.bytes_received": (sum(v for (_, k), v in py.items()
                                   if k == "bytes_received") / n, "bytes"),
        "udf.boot_s": (sum(v for (_, k), v in py.items() if k in ("boot", "init"))
                       / ms / n, "s"),
        "udf.overhead_s": ((sum(py_s.values()) - in_udf) / n, "s"),
        "udf.profiled_s": (prof.get("udf", 0.0) / n, "s"),
        "kernels.spa.s": (prof.get("kernels.spa", 0.0) / n, "s"),
        "kernels.grena3.s": (prof.get("kernels.grena3", 0.0) / n, "s"),
        "kernels.sunrise.s": (prof.get("kernels.sunrise", 0.0) / n, "s"),
        "codec.decode_s": (prof.get("codec.decode", 0.0) / n, "s"),
    })
    rpt = getattr(wl, "rows_per_ts", {})
    for k in ("kernels.spa.rows_per_ts", "kernels.spa.rows_per_ts_tokens",
              "kernels.spa.rows_per_ts_sweep"):
        out[k] = (rpt.get(k, 0.0), "rows")
    out.update(_stream_layers(m, phases))
    lat = m.latencies_ms
    untraced = raw["untraced_rows_per_s"]
    out.update({
        "mem.jvm_rss_mb": (run.sampler.peak_jvm / 2**20, "MB"),
        "mem.python_rss_mb": (run.sampler.peak_python / 2**20, "MB"),
        "latency.samples": (len(lat), "count"),
        "latency.tail_pct": (stats.tail_percentile(len(lat)) or 0.0, "%"),
        "trace.rows_per_s": (m.rows_per_s, "rows/s"),
        "trace.untraced_rows_per_s": (untraced, "rows/s"),
        "trace.overhead_pct": ((untraced - m.rows_per_s) / untraced * 100.0, "%"),
    })
    return out


def _stream_layers(m, phases: dict) -> dict:
    """Open-loop micro-batches: progress phases, join state, sink output."""
    opened = next((p for p in phases.values() if p["tag"].startswith("open")), None)
    prog = [p for p in (opened["progress"] if opened else []) if p["numInputRows"] > 0]
    every = [p for ph in phases.values() for p in ph["progress"]]

    def d(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    def state(p, key):
        return sum(s.get(key, 0) for s in p.get("stateOperators", []))

    files, size = {}, {}
    if opened:
        for path in glob.glob(os.path.join(opened["out"], "batch_id=*", "*.parquet")):
            b = os.path.basename(os.path.dirname(path))
            files[b] = files.get(b, 0) + 1
            size[b] = size.get(b, 0) + os.path.getsize(path)
    return {
        "stream.batches": (len(prog), "count"),
        "stream.rows_per_batch": (m.extra.get("rows_per_batch", 0), "rows"),
        "stream.batch_p50_ms": (stats.median(d(p, "triggerExecution") for p in prog), "ms"),
        "stream.plan_ms": (stats.median(d(p, "queryPlanning") for p in prog), "ms"),
        "stream.offsets_ms": (stats.median(d(p, "latestOffset", "getBatch") for p in prog),
                              "ms"),
        "stream.add_batch_ms": (stats.median(d(p, "addBatch") for p in prog), "ms"),
        "stream.wal_ms": (stats.median(d(p, "walCommit", "commitOffsets") for p in prog),
                          "ms"),
        "state.rows": (state(prog[-1], "numRowsTotal") if prog else 0, "rows"),
        "state.memory_bytes": (max((state(p, "memoryUsedBytes") for p in prog),
                                   default=0), "bytes"),
        "state.commit_ms": (stats.median(state(p, "commitTimeMs") for p in prog), "ms"),
        "state.late_rows": (sum(state(p, "numRowsDroppedByWatermark") for p in every),
                            "rows"),
        "source.backlog_max_files": (m.extra.get("backlog_max", 0), "count"),
        "generator.lag_ms": (m.extra.get("generator_lag_ms", 0.0), "ms"),
        "sink.files_written": (stats.median(files.values()), "count"),
        "sink.bytes_written": (stats.median(size.values()), "bytes"),
    }
