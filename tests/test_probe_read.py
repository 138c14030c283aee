"""Scale safety of the ANN probe kernel: ``_probe_scores_arrow`` reads
only the row groups of ``embeddings.parquet`` that can hold probe rows
(the vec_id bounds are pushed into the parquet reader), and its output
is bit-identical to scoring against the unfiltered read."""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bristle_spark.functions.vectors import _seq_dot
from bristle_spark.queries.similarity import _probe_scores_arrow

ROW_GROUP = 64
N_PROBES, LO = 17, 1


@pytest.fixture(scope="module")
def probe_dirs(sf_dir, tmp_path_factory):
    """Two copies of the fixture embeddings in descending vec_id order,
    in row groups of ROW_GROUP rows, so the probe rows sit in the last
    group. In the second copy every page of every group that holds no
    probe row is overwritten with garbage (the footer statistics stay),
    so only a reader that skips those groups can read it."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    t = t.take(pc.sort_indices(t, [("vec_id", "descending")]))
    good, bad = tmp_path_factory.mktemp("emb"), tmp_path_factory.mktemp("emb_bad")
    pq.write_table(t, good / "embeddings.parquet", row_group_size=ROW_GROUP)

    md = pq.ParquetFile(good / "embeddings.parquet").metadata
    data = bytearray((good / "embeddings.parquet").read_bytes())
    spoiled = 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        cols = [rg.column(j) for j in range(rg.num_columns)]
        vec_id = next(c for c in cols if c.path_in_schema == "vec_id")
        if vec_id.statistics.min < N_PROBES:
            continue
        spoiled += 1
        for c in cols:
            start = c.dictionary_page_offset if c.has_dictionary_page else c.data_page_offset
            data[start : start + c.total_compressed_size] = b"\xff" * c.total_compressed_size
    (bad / "embeddings.parquet").write_bytes(bytes(data))

    assert spoiled >= 4 and spoiled == md.num_row_groups - 1
    with pytest.raises(OSError):
        pq.read_table(bad / "embeddings.parquet", columns=["vec_id", "embedding"])
    return str(good), str(bad)


def test_kernel_skips_non_probe_row_groups_and_matches_unfiltered_scoring(
    spark, probe_dirs
):
    good, bad = probe_dirs
    e = spark.read.parquet(f"{good}/embeddings.parquet").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # the kernel reads its probes from the spoiled copy: it succeeds only
    # if the groups without probe rows are never read
    got = {
        (r["vec_id"], r["probe_id"]): r["cos_raw"]
        for r in _probe_scores_arrow(e, bad, N_PROBES, lo=LO).collect()
    }

    full = pq.read_table(f"{good}/embeddings.parquet", columns=["vec_id", "embedding"])
    vec_ids = full["vec_id"].to_numpy()
    V = np.array(full["embedding"].to_pylist(), dtype=np.float64)
    keep = pc.and_(pc.less(full["vec_id"], N_PROBES), pc.greater_equal(full["vec_id"], LO))
    probes = full.filter(keep)
    P = np.array(probes["embedding"].to_pylist(), dtype=np.float64)
    want = {}
    for pid, p in zip(probes["vec_id"].to_pylist(), P):
        B = np.broadcast_to(p, V.shape)
        cos = _seq_dot(V, B) / (np.sqrt(_seq_dot(V, V)) * np.sqrt(_seq_dot(B, B)))
        want.update({(int(v), pid): c for v, c in zip(vec_ids, cos)})
    assert got.keys() == want.keys()
    assert all(got[k] == want[k] for k in want)
