"""Seeded input generators. Pure Python/numpy/pyarrow: no Spark session.

Every generator is a function of its seed and of the files in
``data/``, so the same seed gives byte-identical inputs. The engine only
ever sees the files these functions write.

- ``copy_tables``: the ten tables of the engine's scale-0.01 test data
  (TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``), for the query mix.
- ``write_document_batches``: the scale-0.1 test documents, split into
  a seed corpus of seeded sources and ingest batches of the rest.
- ``write_settlement_stream``: JSON-lines files of the wide, all-nullable
  ProductionConsumptionSettlement contract, written one after another
  in event-time order, with exact duplicates and one replayed day.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# the engine's test tables at scale factor 0.01 (the query mix) and the
# 5,000 documents of scale factor 0.1 (20 sources of 250 documents; the
# incremental corpus)
TABLES_DIR = os.path.join(DATA, "sf0.01")
CORPUS = os.path.join(DATA, "sf0.1", "documents.parquet")
N_SOURCES = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding an input never
    shifts the draws of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


# ------------------------------------------------------------ stream input

SETTLEMENT_FLOATS = (
    "CentralPowerMWh LocalPowerMWh CommercialPowerMWh LocalPowerSelfConMWh "
    "OffshoreWindLt100MW_MWh OffshoreWindGe100MW_MWh OnshoreWindLt50kW_MWh "
    "OnshoreWindGe50kW_MWh HydroPowerMWh SolarPowerLt10kW_MWh "
    "SolarPowerGe10Lt40kW_MWh SolarPowerGe40kW_MWh SolarPowerSelfConMWh "
    "UnknownProdMWh ExchangeNO_MWh ExchangeSE_MWh ExchangeGE_MWh ExchangeNL_MWh "
    "ExchangeGB_MWh ExchangeGreatBelt_MWh GrossConsumptionMWh "
    "GridLossTransmissionMWh GridLossInterconnectorsMWh GridLossDistributionMWh "
    "PowerToHeatMWh"
).split()
SETTLEMENT_FIELDS = ("HourUTC", "HourDK", "PriceArea", *SETTLEMENT_FLOATS)
AREAS = ("DK1", "DK2", None)


def row_key(row: dict) -> tuple:
    """Canonical, order-independent identity of one contract row, shared
    by the generator and the sink read-back."""
    return tuple(row[f] for f in SETTLEMENT_FIELDS)


def fingerprint(keys) -> tuple[int, int]:
    """(row count, sum of 64-bit row digests mod 2^64): equal for equal
    multisets of rows in any order."""
    total, n = 0, 0
    for k in keys:
        digest = hashlib.blake2b(repr(k).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) & (2**64 - 1)
        n += 1
    return n, total


def write_settlement_stream(
    seed: int, out_dir: str, n_files: int, rows_per_file: int, replay_file: int
) -> list[tuple[int, int]]:
    """Write ``n_files`` JSON-lines files and return, per file, the
    fingerprint of the distinct rows that first appear in it.

    Rows advance one event hour per ``len(AREAS)`` rows. About 10% of
    rows are exact copies of an earlier row: half drawn from the previous
    file, half from the rows of the same file before it. File
    ``replay_file`` starts by replaying the last 24 event hours of the
    file before it. A file spans under 13 event days, so no copy is more
    than 26 days older than the newest row before it, which keeps every
    row inside the workload's 30-day watermark. Files get strictly
    increasing modification times in write order, the order the file
    source lists them in. Float values are multiples of 0.25, exact in
    the contract's 32-bit floats."""
    rng = _rng(seed, "settlement")
    os.makedirs(out_dir, exist_ok=True)
    t0 = datetime(2020, 1, 1)
    mtime = int(time.time()) - n_files
    hour = 0
    prev: list[dict] = []
    seen: set = set()
    per_file = []
    n_floats = len(SETTLEMENT_FLOATS)
    for f in range(n_files):
        rows: list[dict] = []
        if f == replay_file and prev:
            last_day = prev[-1]["__hour"] - 23
            rows.extend(r for r in prev if r["__hour"] >= last_day)
        dup = rng.random(rows_per_file) < 0.10
        from_prev = rng.random(rows_per_file) < 0.5
        pick = rng.random(rows_per_file)
        vals = (rng.integers(-40000, 40000, (rows_per_file, n_floats)) / 4.0).tolist()
        nulls = (rng.random((rows_per_file, n_floats)) < 0.2).tolist()
        fresh: list[dict] = []
        i = 0
        while len(rows) < rows_per_file:
            pool = prev if from_prev[i] else fresh
            if dup[i] and pool:
                rows.append(pool[int(pick[i] * len(pool))])
                i += 1
                continue
            ts = t0 + timedelta(hours=hour // len(AREAS))
            row = {
                "__hour": hour // len(AREAS),
                "HourUTC": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                "HourDK": (ts + timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%S"),
                "PriceArea": AREAS[hour % len(AREAS)],
            }
            for name, v, is_null in zip(SETTLEMENT_FLOATS, vals[i], nulls[i]):
                row[name] = None if is_null else v
            hour += 1
            i += 1
            rows.append(row)
            fresh.append(row)
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        new = []
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps({k: r[k] for k in SETTLEMENT_FIELDS}) + "\n")
                key = row_key(r)
                if key not in seen:
                    seen.add(key)
                    new.append(key)
        os.utime(path, (mtime + f, mtime + f))
        per_file.append(fingerprint(new))
        prev = fresh
    return per_file


def write_document_batches(
    seed: int, out_dir: str, seed_sources: int, batch_docs: int
) -> list[int]:
    """The incremental curation inputs, as parquet tables in ``out_dir``,
    all cut from the engine's test documents:

    - ``seed``: every document of ``seed_sources`` sources of the
      scale-0.1 corpus, chosen by ``seed``;
    - ``batch-NNNN``: the other documents in a seeded order,
      ``batch_docs`` at a time.

    Returns each batch file's size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "documents")
    docs = pq.read_table(CORPUS)
    sources = np.array(docs.column("source").to_pylist())
    chosen = {f"src{i}" for i in rng.choice(N_SOURCES, seed_sources, replace=False)}
    in_seed = np.isin(sources, sorted(chosen))
    pq.write_table(docs.filter(pa.array(in_seed)), os.path.join(out_dir, "seed.parquet"))
    rest = rng.permutation(np.flatnonzero(~in_seed))
    sizes = []
    for b in range(len(rest) // batch_docs):
        path = os.path.join(out_dir, f"batch-{b + 1:04d}.parquet")
        pq.write_table(docs.take(np.sort(rest[b * batch_docs:(b + 1) * batch_docs])), path)
        sizes.append(os.path.getsize(path))
    return sizes


def copy_tables(out_dir: str) -> None:
    """The query-mix tables, copied so the engine reads only the run's
    own directory."""
    os.makedirs(out_dir)
    for name in sorted(os.listdir(TABLES_DIR)):
        shutil.copyfile(os.path.join(TABLES_DIR, name), os.path.join(out_dir, name))


def generate(kind: str, seed: int, out_dir: str, kw: dict) -> dict:
    """Entry point used by the workloads (run in a child process)."""
    if kind == "stream":
        return {"per_file": write_settlement_stream(seed + kw.pop("salt", 0), out_dir, **kw)}
    if kind == "curation":
        copy_tables(os.path.join(out_dir, "tables"))
        return {"batch_bytes": write_document_batches(seed, os.path.join(out_dir, "docs"), **kw)}
    raise ValueError(f"unknown input kind {kind!r}")
