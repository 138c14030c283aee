"""l_pca_project must match a numpy deflated-power-iteration reference:
v1 from the shared top-direction run, v2 from power iteration over the
row-deflated matrix, projections sign-canonicalized the same way."""

from __future__ import annotations

import numpy as np
import pytest

from bristle_spark.queries.similarity import POWER_ITERS
from bristle_spark.registry import all_specs


def _sign(v: np.ndarray) -> float:
    first_nz = v[v != 0][0]
    return -1.0 if first_nz < 0 else 1.0


def _reference(x: np.ndarray):
    dim = x.shape[1]
    v = np.full(dim, 1.0 / dim**0.5)
    for _ in range(POWER_ITERS):
        w = x.T @ (x @ v)
        v = w / np.sqrt((w * w).sum())
    w = np.array([((-1.0) ** i) / dim**0.5 for i in range(dim)])
    for _ in range(POWER_ITERS):
        r = x - np.outer(x @ v, v)
        u = r.T @ (r @ w)
        w = u / np.sqrt((u * u).sum())
    pc1 = (x @ v) * _sign(v)
    pc2 = (x - np.outer(x @ v, v)) @ w * _sign(w)
    return pc1, pc2


def test_matches_numpy_deflated_power(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r["vec_id"] for r in rows]
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pc1_ref, pc2_ref = _reference(x)
    ref = {i: (p1, p2) for i, p1, p2 in zip(ids, pc1_ref, pc2_ref)}

    got = all_specs()["l_pca_project"].fn(spark, sf_dir).collect()
    assert len(got) == len(ids)
    for r in got:
        p1, p2 = ref[r["vec_id"]]
        assert r["pc1"] == pytest.approx(round(p1, 6), abs=2e-6), r["vec_id"]
        assert r["pc2"] == pytest.approx(round(p2, 6), abs=2e-6), r["vec_id"]


def test_pc2_orthogonal_to_pc1_direction(spark, sf_dir):
    """The two directions must be (numerically) orthogonal after the
    deflated iteration — the defining PCA property."""
    from bristle_spark.queries import similarity as S

    top = S._top_direction(spark, sf_dir)
    v1 = top.collect()[0]["v"]
    v2 = S._deflated_direction(spark, sf_dir, top).collect()[0]["v2"]
    dot = sum(a * b for a, b in zip(v1, v2))
    assert abs(dot) < 1e-6
