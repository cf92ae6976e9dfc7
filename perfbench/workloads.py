"""The workloads. Each drives the engine only through its public functions.

A workload provides:
  locate(run)           paths and parameters of the run's inputs
  generate(run, spark)  writes the seeded inputs, once per run (not timed)
  warm(run, spark, k)   one untimed pass; with the session build before it,
                        set-up number k
  check(run, spark)     output checks before the timed phase
  measure(run, spark, seconds, traced) -> Measured
  post_check(run, spark) output checks after the timed phase
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from . import inputs, stats


@dataclass
class Measured:
    rows_per_s: float = 0.0
    latencies_ms: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def round5(x) -> np.ndarray:
    return np.round(np.asarray(x, dtype=np.float64), 5)


class PositionBatch:
    """Closed loop, one client: token rows (one timestamp each) through the
    fused and two-stage SPA paths and two-stage Grena3, plus a grid x time
    sweep through ``position`` (225 rows a timestamp).

    Warm and timed passes fold each query's output (a hash of every
    column); every timed pass must fold equal to the warm pass. check()
    runs each query once more and compares the outputs it brings to the
    driver.

    The timed phase runs a fixed number of passes, ``seconds / PASS_S``
    (at least one), so every run does the same work; PASS_S is about one
    pass on a 4-core host. A pass is the client's request: latency is the
    pass's wall time, and rows_per_s the median over passes of the pass's
    rows over its wall time."""

    name = "position_batch"
    QUERIES = ("fused_spa", "two_stage_spa", "grena3", "sweep_spa")
    PASS_S = 3.0
    N_DOCS = 8_000
    RECORDS = 8
    CHECK_EVERY = 8
    GRID_ROWS = 15 * 15

    def __init__(self) -> None:
        self.ref: dict[str, tuple[int, int]] = {}

    def locate(self, run) -> None:
        self.tok_path = os.path.join(run.work, "tokens")
        self.sweep = inputs.sweep_params(run.seed)

    def generate(self, run, spark) -> None:
        from solarpos_spark.sources import tokens as tok

        tok.generate_token_sequences(
            spark, self.N_DOCS, records_per_doc=self.RECORDS,
            seed=inputs.sub_seed(run.seed, "tokens"),
            partitions=run.cores).write.parquet(self.tok_path)

    def _tokens(self, spark):
        from solarpos_spark.sources import tokens as tok

        return tok.read_token_table(spark, self.tok_path)

    def _two_stage(self, spark, algorithm: str):
        from pyspark.sql import functions as F

        from solarpos_spark.operators.position import position
        from solarpos_spark.sources import tokens as tok

        dec = tok.decode_tokens(self._tokens(spark))
        return position(dec.withColumn("ts", F.col("unix_sec")),
                        algorithm=algorithm, ts_col="ts", time_is_unix=True)

    def _sweep(self, spark):
        from solarpos_spark.operators.position import position
        from solarpos_spark.sources import inputs as src

        s = self.sweep
        grid = src.grid_df(spark, s["lat"], s["lon"])
        times = src.time_series_df(spark, s["year"], s["month"],
                                   step_sec=s["step_sec"])
        return position(src.grid_times_df(grid, times), algorithm="spa")

    def builders(self) -> dict:
        from solarpos_spark.sources import tokens as tok

        return {
            "fused_spa": lambda spark: tok.decode_position_arrow(self._tokens(spark)),
            "two_stage_spa": lambda spark: self._two_stage(spark, "spa"),
            "grena3": lambda spark: self._two_stage(spark, "grena3"),
            "sweep_spa": self._sweep,
        }

    def warm(self, run, spark, k: int) -> None:
        self.ref = {name: run.fold(build(spark))
                    for name, build in self.builders().items()}

    def measure(self, run, spark, seconds: float, traced: bool) -> Measured:
        m = Measured()
        rates = []
        with run.tracer.span("phase.timed", traced=traced):
            for _ in range(max(1, round(seconds / self.PASS_S))):
                with run.tracer.span("pass") as p:
                    folds = {}
                    for name, build in self.builders().items():
                        folds[name] = run.query(spark, name,
                                                lambda b=build: b(spark))
                        run.ops.record(f"{name} fold == warm pass",
                                       folds[name] == self.ref[name],
                                       f"{folds[name]} != {self.ref[name]}")
                m.latencies_ms.append(p.duration * 1000.0)
                rates.append(sum(n for n, _ in folds.values()) / p.duration)
        m.rows_per_s = statistics.median(rates)
        return m

    def check(self, run, spark) -> None:
        """Token arrays re-encode equal; fused == two-stage SPA at 5 decimals
        on every row; fused SPA and Grena3 equal the kernels called directly
        on the decoded inputs of every CHECK_EVERY-th doc, and the sweep on
        every row, at 5 decimals."""
        from pyspark.sql import functions as F

        from solarpos_spark import codec
        from solarpos_spark.kernels import grena3 as grena3_kernel
        from solarpos_spark.kernels import spa as spa_kernel
        from solarpos_spark.sources import tokens as tok

        ops = run.ops
        key = ["doc_id", "seq_index"]
        t = self._tokens(spark)
        dec = tok.decode_tokens(t).toPandas().sort_values(key, ignore_index=True)
        docs = t.select("doc_id", "tokens").toPandas().sort_values(
            "doc_id", ignore_index=True)
        build = self.builders()
        out = {name: build[name](spark).select(*key, "azimuth", "zenith")
               .toPandas().sort_values(key, ignore_index=True)
               for name in ("fused_spa", "two_stage_spa", "grena3")}
        sw = build["sweep_spa"](spark).select(
            "latitude", "longitude", F.unix_timestamp("dateTime").alias("t"),
            "azimuth", "zenith").toPandas()

        col = {c: dec[c].to_numpy() for c in dec.columns if c != "doc_id"}
        again = codec.encode_records(
            lat=col["lat"], lon=col["lon"], unix_sec=col["unix_sec"],
            offset_sec=col["offset_sec"], delta_t=col["delta_t"],
            elevation=col["elevation"], pressure=col["pressure"],
            temperature=col["temperature"], flags=col["flags"])
        orig = np.concatenate(docs.tokens.to_numpy()).reshape(
            -1, codec.TOKENS_PER_RECORD)
        same = orig.shape == again.shape
        ops.record("tokens re-encode equal",
                   same and bool(np.array_equal(orig, again)),
                   f"{int((orig != again).any(axis=1).sum()) if same else 'shape'}"
                   " rows differ")

        def equal5(a, b) -> bool:
            """azimuth and zenith equal at 5 decimals, row by row"""
            return all(np.array_equal(round5(a[c]), round5(b[c]))
                       for c in ("azimuth", "zenith"))

        f, two = out["fused_spa"], out["two_stage_spa"]
        ops.record("fused == two-stage SPA (5 decimals)",
                   equal5(f, two) and f[key].equals(two[key]))

        pick = (dec.doc_id.str.slice(len("doc-")).astype(np.int64)
                % self.CHECK_EVERY == 0).to_numpy()
        ts = col["unix_sec"][pick].astype(np.float64)
        c = {k: v[pick] for k, v in col.items()}
        az, zen = spa_kernel.solar_position(
            ts, c["lat"], c["lon"], c["elevation"], c["delta_t"],
            c["pressure"], c["temperature"])
        ops.record("fused SPA == kernel (5 decimals)",
                   f[key].equals(dec[key])
                   and equal5(f[pick], {"azimuth": az, "zenith": zen}))
        az, zen = grena3_kernel.solar_position(
            ts, c["lat"], c["lon"], c["delta_t"], c["pressure"], c["temperature"])
        g = out["grena3"]
        ops.record("Grena3 == kernel (5 decimals)",
                   g[key].equals(dec[key])
                   and equal5(g[pick], {"azimuth": az, "zenith": zen}))

        az, zen = spa_kernel.solar_position(
            sw.t.to_numpy(np.float64), sw.latitude.to_numpy(),
            sw.longitude.to_numpy(), 0.0, 0.0, 1013.0, 15.0)
        ops.record("sweep == kernel (5 decimals)",
                   len(sw) == self.GRID_ROWS * sw.t.nunique()
                   and equal5(sw, {"azimuth": az, "zenith": zen}))

        # exact rows per unique (timestamp, deltaT): what SPA's per-timestamp
        # hoisting can share, on the token rows and on the sweep
        tok_ts = len(dec) / len(dec[["unix_sec", "delta_t"]].drop_duplicates())
        sweep_ts = len(sw) / sw.t.nunique()
        self.rows_per_ts = {
            "kernels.spa.rows_per_ts":
                (2 * len(dec) + len(sw)) / (2 * len(dec) / tok_ts + sw.t.nunique()),
            "kernels.spa.rows_per_ts_tokens": tok_ts,
            "kernels.spa.rows_per_ts_sweep": sweep_ts,
        }

    def post_check(self, run, spark) -> None:
        pass


# --------------------------------------------------------------------------
# token stream: drain a backlog, then an open loop at a fixed rate
# --------------------------------------------------------------------------

class TokenStream:
    """read_token_stream -> decoded_stream -> position_sunrise_join ->
    exactly_once_parquet_sink, over seeded token files whose event time
    moves forward file by file.

    Sizes come from measured figures on a 4-core host (perfbench/NOTES.md):
    a drain trigger of 32 files x 1,000 records commits in about 2.7-3.0 s,
    so the drain capacity is about 10,000 records/s, and the open loop
    offers half of that. Files hold 1,000 records, not the 8,000 of a
    larger file, so the 100 files that p90 needs are released in 20 s."""

    name = "token_stream"
    QUERIES = ("drain", "open_loop")
    DOCS_PER_FILE = 125
    RECORDS = 8
    #: drain: two triggers of 32 files (32,000 records each)
    DRAIN_FILES = 64
    MAX_FILES_PER_TRIGGER = 32
    #: open-loop release rate (5,000 records/s), fixed in absolute terms so
    #: that a faster engine shows as lower latency rather than as a higher
    #: offered rate
    OPEN_FILES_PER_S = 5.0
    OPEN_MAX_FILES_PER_TRIGGER = 1000
    #: the open loop releases at least this many files: p90 needs 100
    #: samples to have ten beyond it
    OPEN_FILES_MIN = stats.min_samples_for(90.0)
    #: the set-up pass: one query that reads a 16-file backlog, then 5 files
    #: released at the open-loop rate
    WARM_BACKLOG_FILES = 16
    WARM_OPEN_FILES = 5
    TIMEOUT_S = 120

    def __init__(self) -> None:
        self.phases: list[dict] = []

    def locate(self, run) -> None:
        n_open = max(self.OPEN_FILES_MIN,
                     round(self.OPEN_FILES_PER_S * run.seconds))
        self.plan = inputs.stream_files(self.DRAIN_FILES + n_open)
        self.stage = os.path.join(run.work, "stage")
        self.drain_files = [f["name"] for f in self.plan[:self.DRAIN_FILES]]
        self.open_files = [f["name"] for f in self.plan[self.DRAIN_FILES:]]

    def generate(self, run, spark) -> None:
        """Stage every file of the run as parquet; phases link them into
        their watched directories."""
        import pyarrow.parquet as pq

        os.makedirs(self.stage)
        for f in self.plan:
            pq.write_table(
                inputs.token_file(run.seed, f, self.DOCS_PER_FILE, self.RECORDS),
                os.path.join(self.stage, f["name"]))

    # -- pipeline ---------------------------------------------------------

    def _start(self, run, spark, tag: str, *, available_now: bool,
               max_files: int) -> dict:
        from solarpos_spark.sinks.exactly_once import exactly_once_parquet_sink
        from solarpos_spark.sources import tokens as tok
        from solarpos_spark.streaming.pipeline import (decoded_stream,
                                                       position_sunrise_join)

        d = os.path.join(run.work, tag)
        ph = {"tag": tag, "src": f"{d}/src", "out": f"{d}/out",
              "ckpt": f"{d}/ckpt", "released": {}, "due": {}}
        os.makedirs(ph["src"])
        stream = tok.read_token_stream(spark, ph["src"],
                                       max_files_per_trigger=max_files)
        ph["joined"] = position_sunrise_join(decoded_stream(stream))
        ph["start_query"] = lambda: exactly_once_parquet_sink(
            ph["joined"], ph["out"], ph["ckpt"],
            trigger_available_now=available_now)
        return ph

    def _release(self, ph: dict, name: str, due: float) -> None:
        """Link a staged file into the watched directory with an mtime
        strictly after every earlier release, so the file source reads files
        in release (= event-time) order."""
        dst = os.path.join(ph["src"], name)
        os.link(os.path.join(self.stage, name), dst)
        ns = int(due * 1e9)
        os.utime(dst, ns=(ns, ns))
        ph["released"][name] = time.time()
        ph["due"][name] = due

    @staticmethod
    def _committed(ph: dict, files: list[str]) -> bool:
        """Every file read by a micro-batch whose commit is logged."""
        try:
            batch_of = stats.file_batches(ph["ckpt"])
        except FileNotFoundError:
            return False
        if any(f not in batch_of for f in files):
            return False
        last = max(batch_of[f] for f in files)
        return os.path.exists(os.path.join(ph["ckpt"], "commits", str(last)))

    def _backlog(self, ph: dict, files: list[str]) -> None:
        """Files already present when the query starts, 1 s apart in mtime."""
        base = time.time() - len(files)
        for i, name in enumerate(files):
            self._release(ph, name, base + i)

    def _drain(self, run, spark, tag: str, files: list[str]) -> dict:
        ph = self._start(run, spark, tag, available_now=True,
                         max_files=self.MAX_FILES_PER_TRIGGER)
        self._backlog(ph, files)
        with run.tracer.span(f"phase.{tag}") as s:
            q = ph["start_query"]()
            q.awaitTermination(self.TIMEOUT_S)
            if q.isActive:
                q.stop()
                raise TimeoutError(f"{tag} did not drain in {self.TIMEOUT_S} s")
        ph.update(span=s, run_id=str(q.runId), elapsed=s.duration,
                  progress=[_progress(p) for p in q.recentProgress])
        self.phases.append(ph)
        return ph

    def _open_loop(self, run, spark, tag: str, files: list[str],
                   backlog: list[str] | None = None) -> dict:
        """Release ``files`` at the fixed rate once the query has read its
        ``backlog`` and waits for data."""
        ph = self._start(run, spark, tag, available_now=False,
                         max_files=self.OPEN_MAX_FILES_PER_TRIGGER)
        self._backlog(ph, backlog or [])
        with run.tracer.span(f"phase.{tag}") as s:
            q = ph["start_query"]()
            deadline = time.time() + self.TIMEOUT_S
            while "Waiting for data" not in q.status["message"]:
                if time.time() > deadline or not q.isActive:
                    raise TimeoutError(f"{tag}: stream did not start")
                time.sleep(0.05)
            t0 = time.time() + 0.1
            errors: list[BaseException] = []

            def generate() -> None:
                try:
                    for i, name in enumerate(files):
                        due = t0 + i / self.OPEN_FILES_PER_S
                        time.sleep(max(0.0, due - time.time()))
                        self._release(ph, name, due)
                except BaseException as e:  # surfaced by the main thread
                    errors.append(e)

            gen = threading.Thread(target=generate, name="load-generator")
            gen.start()
            gen.join(timeout=self.TIMEOUT_S)
            if gen.is_alive() or errors:
                q.stop()
                raise RuntimeError(f"{tag}: load generator failed: {errors}")
            while not self._committed(ph, files):
                if time.time() > deadline or not q.isActive:
                    q.stop()
                    raise TimeoutError(f"{tag}: released files not committed")
                time.sleep(0.05)
            last = max(stats.file_batches(ph["ckpt"]).values())
            while not any(p.batchId == last for p in q.recentProgress):
                if time.time() > deadline:
                    q.stop()
                    raise TimeoutError(f"{tag}: no progress for batch {last}")
                time.sleep(0.02)
            progress = [_progress(p) for p in q.recentProgress]
            q.stop()
        ph.update(span=s, run_id=str(q.runId), progress=progress,
                  elapsed=s.duration)
        self.phases.append(ph)
        return ph

    # -- workload interface ------------------------------------------------

    def warm(self, run, spark, k: int) -> None:
        # backlog and released files in one query: every operator, state
        # carried across micro-batches, and one query start and stop, not two
        self._open_loop(run, spark, f"warm{k}",
                        self.open_files[:self.WARM_OPEN_FILES],
                        backlog=self.drain_files[:self.WARM_BACKLOG_FILES])

    def check(self, run, spark) -> None:
        pass

    def measure(self, run, spark, seconds: float, traced: bool) -> Measured:
        """Drain phase, then the open loop. ``seconds`` sized the open loop
        in locate(): it releases files for ``seconds``, or for as long as
        OPEN_FILES_MIN files take at the fixed rate if that is longer."""
        tag = "t" if traced else "u"
        with run.tracer.span("phase.timed", traced=traced):
            drain = self._drain(run, spark, f"drain_{tag}", self.drain_files)
            opened = self._open_loop(run, spark, f"open_{tag}", self.open_files)
        # token rows; a progress's numInputRows counts the source once per
        # branch of the self-join
        m = Measured(rows_per_s=len(self.drain_files)
                     * self.DOCS_PER_FILE / drain["elapsed"])
        commit_at = {p["batchId"]: stats.progress_end(p)
                     for p in opened["progress"] if p["numInputRows"] > 0}
        batch_of = stats.file_batches(opened["ckpt"])
        lat = stats.file_latencies(opened["due"], batch_of, commit_at)
        m.latencies_ms = [v * 1000.0 for v in lat.values()]
        files_in = {}
        for name, b in batch_of.items():
            files_in[b] = files_in.get(b, 0) + 1
        m.extra = {
            "rows_per_batch": statistics.median(files_in.values()) * self.DOCS_PER_FILE,
            "backlog_max": stats.backlog_max(
                list(opened["released"].values()),
                [(commit_at[b], n) for b, n in files_in.items() if b in commit_at]),
            "generator_lag_ms": max(
                (opened["released"][f] - opened["due"][f]) * 1000.0
                for f in opened["released"]),
        }
        for ph in (drain, opened):
            for p in ph["progress"]:
                if p["numInputRows"] > 0:
                    late = sum(s.get("numRowsDroppedByWatermark", 0)
                               for s in p.get("stateOperators", []))
                    run.ops.record(f"{ph['tag']} batch {p['batchId']}",
                                   late == 0, f"{late} rows dropped as late")
        return m

    def post_check(self, run, spark) -> None:
        """Committed rows == released rows, and the committed output ==
        a batch position ⋈ sunrise over the same files (5 decimals)."""
        import pandas as pd

        from solarpos_spark.sources import tokens as tok
        from solarpos_spark.streaming.pipeline import (decoded_stream,
                                                       position_sunrise_join)

        key = ["doc_id", "seq_index"]

        def rows(df):
            out = df.toPandas().sort_values(key, ignore_index=True)
            for c in ("azimuth", "zenith"):
                out[c] = round5(out[c])
            return out

        phases = [ph for ph in self.phases if ph["tag"] in
                  ("drain_t", "open_t", "drain_u", "open_u")]
        got = []
        for ph in phases:
            got.append(rows(spark.read.parquet(ph["out"]).drop("batch_id")))
            released = len(ph["released"]) * self.DOCS_PER_FILE * self.RECORDS
            run.ops.record(f"{ph['tag']} committed rows == released rows",
                           len(got[-1]) == released,
                           f"{len(got[-1])} != {released}")
        want = rows(position_sunrise_join(decoded_stream(
            spark.read.schema(tok.TOKEN_SCHEMA).parquet(*[ph["src"] for ph in phases]))))
        got = pd.concat(got).sort_values(key, ignore_index=True)[list(want.columns)]
        run.ops.record("stream == batch (5 decimals)", got.equals(want))


def _progress(p) -> dict:
    return json.loads(p.json)


WORKLOADS = {w.name: w for w in (PositionBatch, TokenStream)}
