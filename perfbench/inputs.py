"""Seeded workload inputs. Pure numpy/pyarrow: no Spark, no clock.

Every generator is a function of its arguments only, so one seed gives
byte-identical inputs on every host and in every run.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa


def sub_seed(seed: int, label: str) -> int:
    """Independent 63-bit seed for one named input of a run."""
    h = hashlib.sha256(f"{seed}:{label}".encode()).digest()
    return int.from_bytes(h[:8], "little") >> 1


def sweep_params(seed: int) -> dict:
    """Grid x time sweep, shifted by the seed: a 15 x 15 grid at 0.25
    degree steps over one month at an hourly step, 225 rows per timestamp
    and 744 timestamps (only 31-day months are drawn, so every seed does
    the same work)."""
    rng = np.random.default_rng(sub_seed(seed, "sweep"))
    lat0 = float(rng.integers(-60, 56))
    lon0 = float(rng.integers(-170, 166))
    return {
        "lat": (lat0, lat0 + 3.5, 0.25),
        "lon": (lon0, lon0 + 3.5, 0.25),
        "year": int(rng.integers(2020, 2031)),
        "month": int(rng.choice([1, 3, 5, 7, 8, 10, 12])),
        "step_sec": 3600,
    }


def stream_files(n_files: int, *, t0: int = 1735689600,
                 span_sec: int = 600) -> list[dict]:
    """Plan for the token stream: file ``i`` holds records whose timestamps
    all lie in ``[t0 + i * span_sec, t0 + (i + 1) * span_sec)``, so event
    time moves forward file by file and never falls behind the pipeline's
    1-hour watermark when files are read in order."""
    return [{"index": i, "name": f"part-{i:05d}.parquet",
             "ts_lo": t0 + i * span_sec, "ts_hi": t0 + (i + 1) * span_sec}
            for i in range(n_files)]


def token_file(seed: int, f: dict, n_docs: int, records: int) -> pa.Table:
    """One stream file in the token-table schema, drawn like
    ``sources.tokens.generate_token_sequences`` draws its rows (lat, lon and
    time uniform, deltaT 69 s, standard atmosphere) and encoded with the
    engine's codec."""
    from solarpos_spark import codec

    rng = np.random.default_rng(sub_seed(seed, f"stream:{f['index']}"))
    n = n_docs * records
    recs = codec.encode_records(
        lat=rng.uniform(-90.0, 90.0, n), lon=rng.uniform(-180.0, 180.0, n),
        unix_sec=rng.integers(f["ts_lo"], f["ts_hi"], n), offset_sec=0,
        delta_t=69.0, elevation=0.0, pressure=1013.0, temperature=15.0,
        flags=0)
    ntok = records * codec.TOKENS_PER_RECORD
    ids = np.arange(f["index"] * n_docs, (f["index"] + 1) * n_docs)
    return pa.table({
        "doc_id": pa.array([f"doc-{i}" for i in ids], type=pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(np.arange(n_docs + 1, dtype=np.int32) * ntok),
            pa.array(recs.reshape(-1), type=pa.int32())),
        "n_tok": pa.array(np.full(n_docs, ntok, dtype=np.int32)),
        "source": pa.array(["synthetic:stream"] * n_docs, type=pa.string()),
    })
