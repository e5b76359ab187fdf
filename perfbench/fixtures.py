"""Inputs of the benchmark's workloads.

- The catalog tables are the ten sf 0.01 parquet tables under
  ``data/sf0.01`` (the TPC-H-style star schema plus ``events``,
  ``documents`` and ``embeddings``, generator seed 42): the same tables
  the engine's DuckDB-oracle tests run on, shipped with the benchmark
  so a run reads nothing outside its checkout. The run's ``--seed``
  only permutes the query order of warm passes.
- ``write_ingest`` builds the ``ingest_serve`` input from the run's
  seed: a web-visit CSV with a Zipf-skewed key column and one planted
  malformed line per ``REJECT_EVERY`` rows, a copy of the catalog's
  ``events`` table as the source of ``streaming.incremental_pipeline``,
  and the seeded lookup keys. It returns the generator's own tally,
  which the run checks every output against.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

REJECT_EVERY = 997
VISITS_SCHEMA = "visit_id:INTEGER,host:STRING,country:STRING,bytes:INTEGER,duration_s:FLOAT"
LOOKUP_DEFAULTS = {"n_visits": 0, "total_bytes": 0}


def write_ingest(out_dir: str, seed: int, rows: int, n_keys: int, n_lookups: int) -> dict:
    """Write ``visits.csv`` and ``events/events.parquet`` under
    ``out_dir``; return the expected answers: planted rejects, good
    rows, per-host aggregates, event rows and the lookup probes (90%
    present hosts, 10% absent ones) with their expected results."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "events"), exist_ok=True)
    # Zipf-skewed key column over n_keys hosts; mixed case so the
    # case-insensitive lookup path is exercised
    rank = np.minimum(rng.zipf(1.3, rows), n_keys) - 1
    perm = rng.permutation(n_keys)
    host_names = np.array([f"Host-{i:05d}.Example" for i in range(n_keys)])
    host = host_names[perm[rank]]
    nbytes = rng.integers(100, 100_000, rows)
    bad = np.zeros(rows, dtype=bool)
    bad[REJECT_EVERY - 1 :: REJECT_EVERY] = True
    visit_id = np.arange(rows).astype(str).astype(object)
    visit_id[bad] = np.char.add("id-", visit_id[bad].astype(str))
    pd.DataFrame(
        {
            "visit_id": visit_id,
            "host": host,
            "country": rng.choice(np.array(["US", "DE", "FR", "IN", "BR", "JP"]), rows),
            "bytes": nbytes,
            "duration_s": np.round(rng.uniform(0.5, 900.0, rows), 3),
        }
    ).to_csv(os.path.join(out_dir, "visits.csv"), index=False)

    good = ~bad
    agg = (
        pd.DataFrame({"host": host[good], "bytes": nbytes[good]})
        .groupby("host")["bytes"]
        .agg(["count", "sum"])
    )
    present = agg.index.to_numpy()
    n_miss = n_lookups // 10
    probes = list(rng.choice(present, n_lookups - n_miss))
    probes += [f"Host-{n_keys + i:05d}.Example" for i in range(n_miss)]
    probes = [p.upper() if i % 3 == 0 else p for i, p in enumerate(rng.permutation(probes))]
    tally = {
        h.lower(): {"n_visits": int(c), "total_bytes": int(b)}
        for h, c, b in zip(agg.index, agg["count"], agg["sum"])
    }
    expected = [tally.get(p.lower(), dict(LOOKUP_DEFAULTS)) for p in probes]

    events = os.path.join(CATALOG_DIR, "events.parquet")
    shutil.copyfile(events, os.path.join(out_dir, "events", "events.parquet"))
    return {
        "rows": rows,
        "rejects": int(bad.sum()),
        "good_rows": int(good.sum()),
        "hosts": int(len(agg)),
        "events": pq.read_metadata(events).num_rows,
        "probes": probes,
        "expected": expected,
    }
