"""Seeded benchmark inputs.

The tables come from ``tools/gen_testdata.py`` (same star schema, value
domains and skew), imported as-is.  That generator hard-codes its root
seed and copies ``region``/``nation`` from a fixed directory, so this
module hands it a numpy proxy whose ``random.default_rng`` takes the
benchmark seed, and writes the two fixed dimension tables itself.

Generated tables are cached per (seed, size) under ``.perfbench_cache/``
in the checkout, so repeated runs of one seed generate once.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import os
import shutil
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _load_generator(root: str, seed: int, dims_dir: str):
    spec = importlib.util.spec_from_file_location(
        f"_gen_testdata_{seed}", os.path.join(root, "tools", "gen_testdata.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    seeded_random = types.SimpleNamespace(
        default_rng=lambda _fixed: np.random.default_rng(seed))
    gen.np = types.SimpleNamespace(**{k: getattr(np, k) for k in dir(np)
                                      if not k.startswith("__")})
    gen.np.random = seeded_random
    gen.SRC = dims_dir
    return gen


def _write_dimensions(out: str) -> None:
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(out, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))


def ensure_inputs(root: str, cache_dir: str, seed: int, sf: float) -> str:
    """Directory holding every table for (seed, sf), generated on first use."""
    out = os.path.join(cache_dir, f"seed{seed}_sf{sf:g}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    dims = os.path.join(tmp, "_dims")
    os.makedirs(dims)
    _write_dimensions(dims)
    gen = _load_generator(root, seed, dims)
    with contextlib.redirect_stdout(io.StringIO()):
        gen.generate(tmp, sf)
    shutil.rmtree(dims)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def fingerprint(sf_dir: str) -> dict:
    """Per-table row count and a content hash of the whole file."""
    fp = {}
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        fp[t] = {"rows": pq.ParquetFile(path).metadata.num_rows, "sha256": digest}
    return fp
