"""l_embedding_top_component must match a numpy power-iteration
reference bit-for-bit in direction (to 6 decimals after the shared
sign canonicalization) and in the Rayleigh-quotient eigenvalue."""

from __future__ import annotations

import numpy as np
import pytest

from bristle_spark.queries.similarity import POWER_ITERS
from bristle_spark.registry import all_specs


def _reference(x: np.ndarray, iters: int) -> tuple[np.ndarray, float]:
    dim = x.shape[1]
    v = np.full(dim, 1.0 / dim**0.5)
    for _ in range(iters):
        w = x.T @ (x @ v)
        v = w / np.sqrt((w * w).sum())
    lam = float(((x @ v) ** 2).sum())
    if v[0] < 0:
        v = -v
    return v, lam


def test_matches_numpy_power_iteration(spark, sf_dir):
    x = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    want_v, want_lam = _reference(x, POWER_ITERS)
    rows = all_specs()["l_embedding_top_component"].fn(spark, sf_dir).collect()
    got = {r["pos"]: r["component"] for r in rows}
    assert len(got) == x.shape[1]
    for i, w in enumerate(want_v, start=1):
        assert got[i] == pytest.approx(round(w, 6), abs=2e-6), f"pos {i}"
    assert rows[0]["eigenvalue"] == pytest.approx(round(want_lam, 4), abs=2e-4)


def test_component_is_unit_and_sign_canonical(spark, sf_dir):
    rows = all_specs()["l_embedding_top_component"].fn(spark, sf_dir).collect()
    comps = [r["component"] for r in sorted(rows, key=lambda r: r["pos"])]
    assert sum(c * c for c in comps) == pytest.approx(1.0, abs=1e-4)
    first_nonzero = next(c for c in comps if c != 0)
    assert first_nonzero > 0


def test_abtt_residual_matches_numpy(spark, sf_dir):
    """Residual norms must match the numpy ABTT computation against the
    same converged direction."""
    x = np.array(
        [
            (r["vec_id"], *r["embedding"])
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    ids, mat = x[:, 0].astype(int), x[:, 1:]
    v, _ = _reference(mat, POWER_ITERS)
    # note: _reference sign-flips; projection magnitude is sign-invariant
    proj = mat @ v
    nb = np.sqrt((mat * mat).sum(axis=1))
    na = np.sqrt(nb * nb - proj * proj)
    rows = {r["vec_id"]: r for r in all_specs()["l_abtt_residual"].fn(spark, sf_dir).collect()}
    for i, vid in enumerate(ids):
        r = rows[int(vid)]
        assert abs(r["top_projection"]) == pytest.approx(abs(proj[i]), abs=2e-6)
        assert r["norm_before"] == pytest.approx(nb[i], abs=2e-6)
        assert r["norm_after"] == pytest.approx(na[i], abs=2e-6)
