"""Deterministic benchmark input: unit vectors with the embeddings-fixture schema.

`ensure(data_root, n, seed)` returns the directory holding
`embeddings.parquet` (`vec_id: int64`, `embedding: list<float>` of 64 float32,
`label: int32 = vec_id % 10`) and the points as an (n, 64) float32 array.
The same (n, seed) always gives the same file. The file is generated once and
validated on every later use; the engine only ever reads it.
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LABELS = 10
NORM_TOL = 1e-5
# Generated inputs kept in the data directory; older ones are removed.
KEEP = 4

SCHEMA = pa.schema([
    ("vec_id", pa.int64()),
    ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def points(n, seed):
    """n points drawn uniformly from the unit sphere in R^64."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def _write(path, x):
    n = x.shape[0]
    ids = np.arange(n, dtype=np.int64)
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1)))
    table = pa.Table.from_arrays(
        [pa.array(ids), emb, pa.array((ids % LABELS).astype(np.int32))], schema=SCHEMA)
    pq.write_table(table, path)


def _read_checked(path, n):
    """Load the file and check row count, schema, ids, labels and norms."""
    table = pq.read_table(path)
    if table.num_rows != n:
        raise ValueError(f"{path}: {table.num_rows} rows, expected {n}")
    if not table.schema.remove_metadata().equals(SCHEMA):
        raise ValueError(f"{path}: schema {table.schema} is not {SCHEMA}")
    ids = table.column("vec_id").to_numpy()
    if not np.array_equal(ids, np.arange(n)):
        raise ValueError(f"{path}: vec_id is not 0..{n - 1}")
    if not np.array_equal(table.column("label").to_numpy(), ids % LABELS):
        raise ValueError(f"{path}: label is not vec_id % {LABELS}")
    emb = table.column("embedding").combine_chunks()
    x = emb.flatten().to_numpy().reshape(n, DIM)
    norms = np.linalg.norm(x.astype(np.float64), axis=1)
    if np.abs(norms - 1.0).max() > NORM_TOL:
        raise ValueError(f"{path}: a vector norm is off 1 by more than {NORM_TOL}")
    return x


def ensure(data_root, n, seed):
    d = os.path.join(data_root, f"n{n}-seed{seed}")
    path = os.path.join(d, "embeddings.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        tmp = path + ".tmp"
        _write(tmp, points(n, seed))
        os.replace(tmp, path)
    _prune(data_root, keep=d)
    return d, _read_checked(path, n)


def _prune(data_root, keep):
    dirs = [os.path.join(data_root, e) for e in os.listdir(data_root)]
    dirs = sorted((p for p in dirs if p != keep), key=os.path.getmtime)
    for p in dirs[:max(0, len(dirs) - (KEEP - 1))]:
        shutil.rmtree(p, ignore_errors=True)
