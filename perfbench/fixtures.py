"""Seeded input generator for the benchmark workloads.

The inputs are built from the base fixture in ``perfbench/base`` (the
sf0.01 star schema plus events, documents and embeddings).  The rows of
every fact and corpus table are permuted with the seed; the dimension
tables are copied unchanged.  The same seed always yields the same bytes,
and a finished directory is reused.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parent / "base"

DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
PERMUTED = ("lineitem", "orders", "events", "documents", "embeddings")
_DONE = "_COMPLETE"


def generate(out: Path, seed: int, base_dir: Path = BASE_DIR) -> None:
    """Write every table for ``seed`` into ``out`` (must not exist)."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True)
    for t in DIMENSIONS:
        shutil.copyfile(base_dir / f"{t}.parquet", out / f"{t}.parquet")
    for t in PERMUTED:
        table = pq.read_table(base_dir / f"{t}.parquet")
        pq.write_table(table.take(pa.array(rng.permutation(table.num_rows))), out / f"{t}.parquet")


def prepare(root: Path, seed: int, base_dir: Path = BASE_DIR) -> Path:
    """Return the input directory for ``seed``, generating it once.

    A directory is only used once its completion marker exists, so a run
    killed mid-generation leaves nothing a later run would read.
    """
    out = root / f"seed{seed}"
    if (out / _DONE).exists():
        return out
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / f".{out.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, seed, base_dir)
    (tmp / _DONE).touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
