"""Seeded input generators, one per workload.

Both kept workloads read one table, ``embeddings``, written as ONE
parquet file with the fixture's name, column names and Arrow types
(``vec_id bigint, embedding list<float>, label int``), so
``sources.load_table`` and a DuckDB oracle view read it unchanged. The
points follow the fixture's geometry: unit-norm 64-d vectors from a
10-component mixture whose components overlap as much as the fixture's.

Row groups are sized so the file holds ``2 * nproc`` of them: a scan can
split ``nproc`` ways as soon as Spark's split size allows it. The layout
(rows, bytes, row groups) is returned and recorded with every result.

The same seed gives byte-identical files; a different seed gives
different rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Per-workload inputs: table -> rows. ``lloyd`` is 2x the largest
#: fixture's embeddings (sf0.1, 2000 rows); ``vectors`` is at that size.
WORKLOAD_INPUTS = {
    "lloyd": {"embeddings": 4000},
    "vectors": {"embeddings": 2000},
}

DIM = 64
N_COMPONENTS = 10
#: Fixture geometry: component centres of norm 0.06, isotropic spread
#: 0.125 per dimension. At this overlap Lloyd's loop runs to its
#: iteration cap on every seed, so a sweep does the same work each run.
CENTRE_NORM = 0.06
SPREAD = 0.125


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d points from a 10-component mixture, labels =
    component."""
    centres = rng.normal(0.0, 1.0, (N_COMPONENTS, DIM))
    centres *= CENTRE_NORM / np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, N_COMPONENTS, n)
    x = centres[label] + rng.normal(0.0, SPREAD, (n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, pa.int32()),
        }
    )


GENERATORS = {"embeddings": embeddings}


def _rng(seed: int, workload: str, table: str) -> np.random.Generator:
    # one independent stream per (seed, workload, table)
    h = hashlib.sha256(f"{seed}:{workload}:{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def write_inputs(workload: str, seed: int, out_dir: str, nproc: int) -> dict:
    """Write the workload's tables under ``out_dir`` and return the
    layout: per table rows, bytes and row groups."""
    os.makedirs(out_dir, exist_ok=True)
    layout = {}
    for name, rows in WORKLOAD_INPUTS[workload].items():
        tbl = GENERATORS[name](_rng(seed, workload, name), rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        tmp = path + ".tmp"
        rg = -(-rows // (2 * nproc))
        pq.write_table(tbl, tmp, row_group_size=rg, compression="snappy")
        os.replace(tmp, path)
        layout[name] = {
            "rows": rows,
            "bytes": os.path.getsize(path),
            "row_groups": pq.ParquetFile(path).metadata.num_row_groups,
        }
    return layout
