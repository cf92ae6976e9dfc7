"""Benchmark entry point.

    python3 perfbench/run.py --workload position_batch --seed 1 \
        --seconds 10 --trace 0

Runs one workload of BENCHMARK.json on local[nproc], checks its outputs and
prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the run's noise record (load average, uptime, CPU steal). Traced runs
also write their spans to perfbench/_out/. Exits 2 without a result when
the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness, layers, stats  # noqa: E402
from perfbench.tracing import ProcSampler, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: a host up for less than this is still warming
FRESH_HOST_S = 30 * 60


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def setup(run: harness.Run, wl, k: int, *, traced: bool):
    """Set-up number ``k``: build a session, then one untimed pass. Set-up 0
    also starts the JVM and writes the run's inputs; the writing is not
    counted."""
    tr = run.tracer
    with tr.span("setup", index=k) as su:
        with tr.span("setup.session") as ss:
            spark = run.session(traced=traced, quiet=k > 0)
        gen = 0.0
        if k == 0:
            with tr.span("inputs") as sp:
                wl.generate(run, spark)
            gen = sp.duration
        with tr.span("setup.warm") as sw:
            wl.warm(run, spark, k)
    return spark, {"setup_s": su.duration - gen, "session_s": ss.duration,
                   "warm_s": sw.duration}


def execute(run: harness.Run, wl) -> dict:
    """Set-up 0, the checks and the timed phase in one session; then the
    further set-ups, each in a new session of the same JVM. Set-up 0 is the
    measured one because pyspark binds a scalar UDF to the session it first
    ran in: in later sessions the engine's pandas UDFs report to a closed
    accumulator, on which the UDF profiler relies. Returns the raw
    figures."""
    spark, rec = setup(run, wl, 0, traced=run.traced)
    setups = [rec]
    app_id = spark.sparkContext.applicationId
    with run.tracer.span("check"):
        wl.check(run, spark)
    listener = layers.attach(spark, run) if run.traced else None
    run.sampler.recording = True
    m = wl.measure(run, spark, run.seconds, traced=run.traced)
    run.sampler.sample()
    run.sampler.recording = False
    profile = layers.detach(spark, run, listener) if run.traced else {}
    with run.tracer.span("post_check"):
        wl.post_check(run, spark)
    spark.stop()

    untraced = None
    for k in range(1, harness.SETUPS):
        spark, rec = setup(run, wl, k, traced=False)
        setups.append(rec)
        if run.traced and k == harness.SETUPS - 1:
            # the same timed phase without tracing, for the overhead figure
            untraced = wl.measure(run, spark, run.seconds, traced=False).rows_per_s
        spark.stop()
    return {"setups": setups, "measured": m, "profile": profile,
            "listener": listener, "untraced_rows_per_s": untraced,
            "event_log": os.path.join(run.event_dir, app_id)}


def end_to_end(raw: dict, sampler: ProcSampler) -> dict:
    m = raw["measured"]
    lat = m.latencies_ms
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in raw["setups"]), "s"),
        "rows_per_s": (m.rows_per_s, "rows/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_p90_ms": (stats.percentile(lat, 90.0), "ms"),
        "peak_rss_mb": (sampler.peak_total / 2**20, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, "perfbench", "_work", f"{tag}-{os.getpid()}")
    try:
        import __spark_entry__  # noqa: F401
        import solarpos_spark.plans.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, "perfbench", "_out")
    os.makedirs(out_dir, exist_ok=True)
    harness.configure_env(ROOT, work)

    noise = {"start": harness.noise_record()}
    log_path = os.path.join(work, "driver.log")
    if args.trace:
        # the JVM inherits fd 2: its log4j output is where codegen
        # fallbacks show
        saved_err = os.dup(2)
        fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
        os.dup2(fd, 2)
        os.close(fd)
    run = harness.Run(root=ROOT, work=work, seed=args.seed,
                      seconds=args.seconds, traced=bool(args.trace),
                      cores=harness.host_cores(), tracer=Tracer(),
                      ops=harness.Ops(), sampler=None,
                      event_dir=os.path.join(work, "events"))
    error = ""
    try:
        with ProcSampler() as sampler:
            run.sampler = sampler
            wl.locate(run)
            try:
                raw = execute(run, wl)
            finally:
                harness.stop_jvm()
        harness.reap(sampler.seen)
        if args.trace:
            metrics = layers.per_layer(run, wl, raw, log_path)
            run.tracer.dump(os.path.join(out_dir, f"trace-{tag}.json"))
        else:
            metrics = end_to_end(raw, sampler)
    except Exception:
        error = traceback.format_exc()
    finally:
        if args.trace:
            os.dup2(saved_err, 2)
            os.close(saved_err)
        shutil.rmtree(work, ignore_errors=True)
    if error:
        print(error, file=sys.stderr)
        return 1

    noise["end"] = harness.noise_record()
    ticks = noise["end"]["cpu_ticks"] - noise["start"]["cpu_ticks"]
    noise["steal_pct"] = 100.0 * (noise["end"]["steal_ticks"]
                                  - noise["start"]["steal_ticks"]) / max(ticks, 1)
    noise["fresh_host"] = noise["start"]["uptime_s"] < FRESH_HOST_S
    if noise["fresh_host"]:
        print(f"perfbench: host up {noise['start']['uptime_s'] / 60:.0f} min;"
              " a fresh host is still warming, figures are not comparable",
              file=sys.stderr)
    result = {
        "correct": run.ops.failed == 0,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    for f in run.ops.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    top = [s for s in run.tracer.spans if s.parent is None]
    shown = top + [c for s in top for c in run.tracer.children(s)]
    print("perfbench: " + ", ".join(f"{s.name} {s.duration:.1f}s" for s in shown),
          file=sys.stderr)
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as fh:
        json.dump({"noise": noise, "failures": run.ops.failures,
                   "time": time.time(), **result}, fh, indent=1)
    print(json.dumps({"noise": noise}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
