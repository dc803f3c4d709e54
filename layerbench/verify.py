"""Expected outputs from the repository's pure-numpy oracles, cached per
input key, and the checks each timed unit's written outputs must pass.

The oracles live in ``tests/oracles.py`` and the transcripts twin in
``halvesting_geometric_spark.datagen.generate_transcripts_pandas``; neither
uses Spark. Integer outputs must match exactly and ranks to L-inf <= 1e-9.
Dense vertex ids are the rank of ``conv_id`` in ascending order, so the
oracle graph numbers vertices the same way the engine does.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

RANK_TOL = 1e-9
# the files the expected outputs depend on, relative to the repository root
ORACLE_SOURCES = (
    ("tests", "oracles.py"),
    ("halvesting_geometric_spark", "datagen.py"),
    ("layerbench", "verify.py"),
    ("layerbench", "workloads.py"),
)


def load_oracles(root: str):
    """``tests/oracles.py`` of the checkout at ``root``, as a module."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "layerbench_oracles", os.path.join(root, "tests", "oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sources_digest(root: str) -> str:
    """A short hash of the code the expected outputs come from, for the
    cache key: a change to any of it is a new key, not a stale hit."""
    h = hashlib.sha256()
    for parts in ORACLE_SOURCES:
        with open(os.path.join(root, *parts), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def cached(path: str, compute) -> dict[str, np.ndarray]:
    """``compute()`` once per key: an ``.npz`` at ``path``, written atomically."""
    if os.path.exists(path):
        with np.load(path) as z:
            return dict(z)
    out = compute()
    tmp = f"{path}.tmp-{os.getpid()}.npz"
    np.savez(tmp, **out)
    os.replace(tmp, path)
    return out


def transcripts_graph(oracles, n_convs: int, seed: int):
    """(conv names in id order, int edges [E, 2]) of the seeded transcripts,
    from the pandas twin of the generator and the extraction oracle."""
    from halvesting_geometric_spark.datagen import generate_transcripts_pandas

    tr = generate_transcripts_pandas(n_convs, seed)
    conv_edges = oracles.extract_edges_oracle(tr)
    names = np.unique(np.concatenate([
        conv_edges["src_conv"].to_numpy(str),
        conv_edges["dst_conv"].to_numpy(str),
        tr["conv_id"].to_numpy(str),
    ]))
    edges = np.stack([
        np.searchsorted(names, conv_edges["src_conv"].to_numpy(str)),
        np.searchsorted(names, conv_edges["dst_conv"].to_numpy(str)),
    ], axis=1).astype(np.int64)
    return names, edges


def read_column(path: str, key: str, value: str, n: int) -> np.ndarray:
    """``value`` of a written result indexed by ``key`` over ``0..n-1``;
    raises if the keys are not exactly ``0..n-1``."""
    t = pq.read_table(path, columns=[key, value])
    ids = t.column(key).to_numpy()
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        raise AssertionError(f"{path}: {len(ids)} rows, keys are not 0..{n - 1}")
    out = np.empty(n, dtype=t.schema.field(value).type.to_pandas_dtype())
    out[ids] = t.column(value).to_numpy()
    return out


def check_ranks(path: str, expected: np.ndarray) -> str | None:
    got = read_column(path, "vertex_id", "rank", len(expected))
    err = float(np.max(np.abs(got - expected)))
    return None if err <= RANK_TOL else f"{path}: ranks L-inf {err:.3g} > {RANK_TOL}"


def check_exact(path: str, value: str, expected: np.ndarray) -> str | None:
    got = read_column(path, "vertex_id", value, len(expected))
    bad = int(np.count_nonzero(got != expected))
    return None if bad == 0 else f"{path}: {bad} {value} values differ"


def check_graph(edges_path: str, vertices_path: str, exp: dict) -> str | None:
    names = exp["names"]
    got_names = pq.read_table(vertices_path).sort_by("vertex_id")
    if got_names.num_rows != len(names) or not np.array_equal(
        got_names.column("conv_id").to_numpy(False).astype(str), names
    ):
        return f"{vertices_path}: vertex table differs from the oracle's"
    e = pq.read_table(edges_path, columns=["src", "dst"])
    got = np.stack([e.column("src").to_numpy(), e.column("dst").to_numpy()], 1)
    want = exp["edges"]
    if len(got) != len(want) or not np.array_equal(
        np.unique(got, axis=0), np.unique(want, axis=0)
    ):
        return f"{edges_path}: {len(got)} edges, oracle has {len(want)}"
    return None
