"""Group L — similarity search over the ``embeddings`` table.

- l_similarity_cosine: brute-force cosine top-k against a probe vector
  (the exact baseline).
- l_ann_lsh: sign-bit LSH bucketing — candidates share the probe's
  8-bit hyperplane-sign bucket; the scale path prunes the scan to
  ~1/256 of the corpus before exact scoring.
- l_ann_ivf: IVF-style coarse quantization — every vector is assigned
  to its nearest of 16 fixed centroids; search visits only the probe's
  cell (nprobe=1).
- l_ann_ivf_nprobe: the multi-probe recall knob (nprobe=2 cells).
- l_ann_knn_join: per-vector top-3 neighbors over banded hyperplane
  LSH candidates (the all-pairs retrieval primitive).
- l_knn_label: majority label among the k nearest neighbors.
- l_knn_eval: leave-one-out kNN accuracy over a bounded probe set.
- l_ann_recall_eval: recall@k of the IVF(nprobe) index vs exact.
- l_ann_int8_rerank: int8 scalar-quantized scan with exact re-rank.
- l_centroid_by_label: per-label centroid in (label, pos) long form.

All similarity values are computed in float64 with a deterministic
accumulation order and rounded to 6 decimals *before* ranking, so Spark
and the DuckDB oracle rank identically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bristle_spark.catalog import load_table
from bristle_spark.functions.rounding import r6, r6_sql, rN, rN_sql
from bristle_spark.functions.vectors import cosine, cosine_sql, dot, dot_sql
from bristle_spark.registry import register

TOPK = 10
KNN_K = 25
LSH_BITS = 8
IVF_CENTROIDS = 16

_COS_PROBE = cosine_sql("e.v", "p.pv")

_SCORED_CTE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.label, round({_COS_PROBE}, 6) AS cos_sim
        FROM e, p
        WHERE e.vec_id <> 0
    )
"""


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )


def _assign_nearest_cell(
    e: DataFrame, cent: DataFrame, cid: str = "cid", extra: tuple = ()
) -> DataFrame:
    """Max-cosine coarse-cell assignment (round-6dp cosine DESC, ties ->
    lowest centroid id) as ONE map-side-combinable aggregation instead
    of the crossJoin + per-vector rank window (r15, guide §2.3/§2.4):
    the window form shuffled all {IVF_CENTROIDS} scored copies of every
    vector — payload columns included — through a sort; here the
    candidate rows a task generates for each vector collapse to one row
    in the partial HashAggregate BEFORE the exchange, so the exchange
    carries one narrow row per vector and no sort runs.  ``max`` over
    ``struct(cos_sim, -cid, ...)`` replays exactly the window's
    (cos_sim DESC, cid ASC) tie rule — the negated id is a unique
    tiebreak, so the ``extra`` payload fields ride along untouched and
    no new arithmetic enters the plan (the cosine UDF + round(…, 6)
    expressions are byte-for-byte the window form's)."""
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.struct(
            F.round(cosine(F.col("v"), F.col("cv")), 6).alias("cs"),
            (-F.col(cid)).alias("ncid"),
            *[F.col(c).alias(c) for c in extra],
        ).alias("_cand"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max("_cand").alias("_best"))
        .select(
            "vec_id",
            (-F.col("_best.ncid")).alias(cid),
            *[F.col(f"_best.{c}").alias(c) for c in extra],
        )
    )


def _probe_scores_arrow(
    e: DataFrame,
    sf_dir: str,
    n_probes: int,
    with_label: bool = False,
    lo: int = 0,
    trunc_dim: int | None = None,
) -> DataFrame:
    """Raw (unrounded) cosine of every corpus vector against EVERY
    bounded probe (lo <= vec_id < n_probes), as one mapInArrow kernel
    (r16, guide §4.1/§8).  lo=1, n_probes=IVF_CENTROIDS+1 selects the
    pinned IVF donor centroids.

    The old shape — crossJoin(broadcast(probes)) + the pairwise pandas
    UDF — shipped BOTH 64-dim arrays across the Python boundary once
    per (vector, probe) PAIR: n_probes+1 copies of every corpus row's
    payload.  Here each corpus row crosses ONCE; the kernel holds the
    probe matrix (rows with vec_id < n_probes, a pure function of the
    input table, read per task straight from the parquet — the guide §8
    'task reads its own slice of the plan from storage' attach) and
    emits the narrow (vec_id[, label], probe_id, cos_raw) long form.

    Bit parity: the accumulation is ``acc += V[:, i] * P[:, i]`` in
    dimension order — elementwise the SAME IEEE sequence as the
    per-pair sequential fold in functions/vectors.py — and the
    norm-product denominator keeps the (corpus, probe) operand order,
    so every cos_raw is bit-identical to the pairwise UDF (verified: 0
    mismatches over all pairs at sf0.1/0.01/0.001).  Rounding stays in
    the JVM (F.round on an identical double), so downstream ranking is
    unchanged."""
    path = f"{sf_dir}/embeddings.parquet"
    out_schema = "vec_id long" + (", label int" if with_label else "") + \
        ", probe_id long, cos_raw double" + \
        (", cos_trunc_raw double" if trunc_dim else "")

    def kern(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        # bounds go to the reader, so row groups outside them are skipped
        filters = [("vec_id", "<", n_probes)]
        if lo:
            filters.append(("vec_id", ">=", lo))
        t = pq.read_table(path, columns=["vec_id", "embedding"], filters=filters)
        pids = t["vec_id"].to_numpy()
        order = np.argsort(pids, kind="stable")
        pids = pids[order]
        P = np.array(
            [list(x) for x in t["embedding"].to_pylist()], dtype=np.float64
        )[order]
        npb, dim = P.shape if len(P) else (0, 0)
        accp = np.zeros(npb)
        pnorm_t = None
        for i in range(dim):
            accp += P[:, i] * P[:, i]
            if trunc_dim and i == trunc_dim - 1:
                pnorm_t = np.sqrt(accp.copy())
        pnorm = np.sqrt(accp)
        fields = [pa.field("vec_id", pa.int64())]
        if with_label:
            fields.append(pa.field("label", pa.int32()))
        fields += [pa.field("probe_id", pa.int64()),
                   pa.field("cos_raw", pa.float64())]
        if trunc_dim:
            fields.append(pa.field("cos_trunc_raw", pa.float64()))
        schema = pa.schema(fields)
        for batch in it:
            n = batch.num_rows
            if n == 0 or npb == 0:
                continue
            varr = batch.column("v")
            V = np.asarray(varr.flatten(), dtype=np.float64).reshape(n, dim)
            dot_m = np.zeros((n, npb))
            accv = np.zeros(n)
            cos_t = None
            for i in range(dim):
                vi = V[:, i]
                dot_m += np.multiply.outer(vi, P[:, i])
                accv += vi * vi
                if trunc_dim and i == trunc_dim - 1:
                    # prefix snapshot: the first trunc_dim terms in the
                    # same order == the fold over the sliced arrays
                    cos_t = dot_m.copy() / (
                        np.sqrt(accv.copy())[:, None] * pnorm_t[None, :]
                    )
            cos = dot_m / (np.sqrt(accv)[:, None] * pnorm[None, :])
            vid = batch.column("vec_id").to_numpy()
            cols = [pa.array(np.repeat(vid, npb), pa.int64())]
            if with_label:
                lab = batch.column("label").to_numpy()
                cols.append(pa.array(np.repeat(lab, npb), pa.int32()))
            cols += [pa.array(np.tile(pids, n), pa.int64()),
                     pa.array(cos.ravel(), pa.float64())]
            if trunc_dim:
                cols.append(pa.array(cos_t.ravel(), pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, schema=schema)

    cols = ["vec_id"] + (["label"] if with_label else []) + ["v"]
    return e.select(*cols).mapInArrow(kern, out_schema)


def _scored_vs_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vectors scored against the probe (vec_id = 0), cos rounded to 6."""
    e = _embeddings(spark, sf_dir)
    probe = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("pv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
            "v",
            "pv",
        )
    )


@register(
    "l_similarity_cosine",
    oracle=_SCORED_CTE
    + f"""
    SELECT vec_id, label, cos_sim FROM (
        SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= {TOPK}
    """,
)
def l_similarity_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the probe vector (vec_id=0).

    The probe side is broadcast; scoring is an embarrassingly parallel
    scan. The final top-k is orderBy().limit(k) — Spark plans
    TakeOrderedAndProject (per-partition top-k, k-row merge on the
    driver), never a single-partition global sort."""
    scored = _scored_vs_probe(spark, sf_dir)
    return (
        scored.select("vec_id", "label", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


@register(
    "l_knn_label",
    oracle=_SCORED_CTE
    + f"""
    SELECT label AS majority_label, count(*) AS votes FROM (
        SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= {KNN_K}
    GROUP BY label
    ORDER BY votes DESC, majority_label
    LIMIT 1
    """,
)
def l_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority label (k=25) among neighbors of the probe. The
    k-neighbor cut is a TakeOrderedAndProject (orderBy + limit), not a
    global window."""
    scored = _scored_vs_probe(spark, sf_dir)
    topk = (
        scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(KNN_K)
        .select("label")
    )
    return (
        topk.groupBy(F.col("label").alias("majority_label"))
        .agg(F.count(F.lit(1)).alias("votes"))
        .orderBy(F.col("votes").desc(), F.col("majority_label"))
        .limit(1)
    )


def _bucket_sql(v: str) -> str:
    terms = " + ".join(f"(CASE WHEN {v}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(LSH_BITS))
    return f"({terms})"


def _bucket_col(v: F.Column) -> F.Column:
    out = F.lit(0)
    for i in range(LSH_BITS):
        out = out + F.when(F.element_at(v, i + 1) >= 0, F.lit(1 << i)).otherwise(0)
    return out


@register(
    "l_ann_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, label, v, {_bucket_sql("v")} AS bucket FROM e),
    p AS (SELECT v AS pv, bucket AS pbucket FROM b WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.label, e.bucket, round({cosine_sql("e.v", "p.pv")}, 6) AS cos_sim
        FROM b e, p
        WHERE e.vec_id <> 0 AND e.bucket = p.pbucket
    )
    SELECT vec_id, label, bucket, cos_sim FROM (
        SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= {TOPK}
    """,
)
def l_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-sign LSH: 8 sign bits of the first 8 dims form
    the bucket; only the probe's bucket is scored exactly. The bucket
    computation is row-local; the candidate filter prunes the scan
    ~256x before any expensive math."""
    e = _embeddings(spark, sf_dir).withColumn("bucket", _bucket_col(F.col("v")))
    probe = e.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("pv"), F.col("bucket").alias("pbucket")
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .filter(F.col("bucket") == F.col("pbucket"))
        .select(
            "vec_id",
            "label",
            "bucket",
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
        )
    )
    return (
        scored.select("vec_id", "label", "bucket", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


@register(
    "l_ann_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}),
    assign AS (
        SELECT vec_id, label, v, cid FROM (
            SELECT e.vec_id, e.label, e.v, cent.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql("e.v", "cent.cv")}, 6) DESC, cent.cid
                   ) AS arn
            FROM e, cent
        ) WHERE arn = 1
    ),
    p AS (SELECT v AS pv, cid AS pcid FROM assign WHERE vec_id = 0),
    scored AS (
        SELECT a.vec_id, a.label, a.cid AS cluster_id, round({cosine_sql("a.v", "p.pv")}, 6) AS cos_sim
        FROM assign a, p
        WHERE a.vec_id <> 0 AND a.cid = p.pcid
    )
    SELECT vec_id, label, cluster_id, cos_sim FROM (
        SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= {TOPK}
    """,
)
def l_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: 16 fixed coarse centroids (vec_id 1..16); every
    vector is assigned to its max-cosine centroid (ties to the smallest
    centroid id); the probe searches only its own cell (nprobe=1).

    The centroid table is broadcast (16 rows even at full scale); the
    assignment is a map-side cross join — no shuffle until the final
    tiny top-k."""
    e = _embeddings(spark, sf_dir)
    cent = e.filter(F.col("vec_id").between(1, IVF_CENTROIDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assign = _assign_nearest_cell(e, cent, "cid", ("label", "v"))
    probe = assign.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("pv"), F.col("cid").alias("pcid")
    )
    scored = (
        assign.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), F.col("cid") == F.col("pcid"))
        .select(
            "vec_id",
            "label",
            F.col("cid").alias("cluster_id"),
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
        )
    )
    return (
        scored.select("vec_id", "label", "cluster_id", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


# ------------------------------------------------- batch kNN self-join

from bristle_spark.queries.dedup import (  # noqa: E402
    EMB_BANDS,
    _emb_band_key,
    _emb_band_key_sql,
)

KNN_JOIN_K = 3

_KNN_BANDS_UNION = " UNION ALL ".join(
    f"SELECT vec_id, v, {j} AS band_id, {_emb_band_key_sql('v', j)} AS band_key FROM e"
    for j in range(EMB_BANDS)
)


def _emb_bands(e: DataFrame) -> DataFrame:
    """(vec_id, band_id, band_key) rows — the 4x16-bit hyperplane-sign
    banding shared by l_ann_knn_join and l_ann_recall_eval."""
    return e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        _emb_band_key(F.col("v"), j).alias("band_key"),
                    )
                    for j in range(EMB_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", F.col("bk.band_id"), F.col("bk.band_key"))


@register(
    "l_ann_knn_join",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
        {_KNN_BANDS_UNION}
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS neighbor_id
        FROM b x JOIN b y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.vec_id <> y.vec_id
    ),
    scored AS (
        SELECT c.vec_id, c.neighbor_id,
               round({cosine_sql("a.v", "n.v")}, 6) AS cos_sim
        FROM cand c
        JOIN e a ON a.vec_id = c.vec_id
        JOIN e n ON n.vec_id = c.neighbor_id
    )
    SELECT vec_id, neighbor_id, CAST(rn AS BIGINT) AS rank, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn FROM scored
    ) WHERE rn <= {KNN_JOIN_K}
    """,
)
def l_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN self-join: for EVERY vector, its top-3 approximate
    nearest neighbors — the all-pairs retrieval primitive behind
    embedding dedup and hard-negative mining. Candidates come from the
    same 4x16-bit banded hyperplane LSH as l_dedup_embedding (collision
    in any band), so candidate generation shuffles 16-byte id/band rows
    with 2^16 keys per band; exact cosine scoring re-joins vectors once
    per side; ranking is a per-vector window (partitioned, never
    global)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bands = _emb_bands(e)
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_id"), F.col("y.vec_id").alias("neighbor_id"))
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("vec_id"), F.col("v").alias("v_a"))
    vn = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("v_n"))
    scored = cand.join(va, "vec_id").join(vn, "neighbor_id").select(
        "vec_id",
        "neighbor_id",
        F.round(cosine(F.col("v_a"), F.col("v_n")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KNN_JOIN_K)
        .select("vec_id", "neighbor_id", "rank", "cos_sim")
    )


# ------------------------------------------- IVF multi-probe variant

NPROBE = 2


@register(
    "l_ann_ivf_nprobe",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}),
    assign AS (
        SELECT vec_id, label, v, cid FROM (
            SELECT e.vec_id, e.label, e.v, cent.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql("e.v", "cent.cv")}, 6) DESC, cent.cid
                   ) AS arn
            FROM e, cent
        ) WHERE arn = 1
    ),
    p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    probe_cells AS (
        SELECT cid FROM (
            SELECT cent.cid,
                   row_number() OVER (
                       ORDER BY round({cosine_sql("p.pv", "cent.cv")}, 6) DESC, cent.cid
                   ) AS crn
            FROM cent, p
        ) WHERE crn <= {NPROBE}
    ),
    scored AS (
        SELECT a.vec_id, a.label, a.cid AS cluster_id,
               round({cosine_sql("a.v", "p.pv")}, 6) AS cos_sim
        FROM assign a, p
        WHERE a.vec_id <> 0 AND a.cid IN (SELECT cid FROM probe_cells)
    )
    SELECT vec_id, label, cluster_id, cos_sim FROM (
        SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= {TOPK}
    """,
)
def l_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-probe (nprobe=2): the probe searches its 2
    nearest centroid cells instead of 1 — the standard recall knob when
    the true neighbor sits just across a cell boundary. Same scale
    shape as l_ann_ivf: 16-row broadcast centroid table, map-side
    assignment, and the scan still prunes to nprobe/16 of the corpus
    before any exact scoring."""
    e = _embeddings(spark, sf_dir)
    cent = e.filter(F.col("vec_id").between(1, IVF_CENTROIDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assign = _assign_nearest_cell(e, cent, "cid", ("label", "v"))
    probe = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("pv"))
    # rank ALL centroids against the probe and keep the top-nprobe cells:
    # orderBy().limit() over the 16-row frame plans TakeOrderedAndProject
    # (never a data-sized global window), and the tiny whitelist is
    # broadcast into the cell filter
    probe_cells = (
        cent.crossJoin(F.broadcast(probe))
        .select(
            "cid", F.round(cosine(F.col("pv"), F.col("cv")), 6).alias("c_sim")
        )
        .orderBy(F.col("c_sim").desc(), F.col("cid"))
        .limit(NPROBE)
        .select("cid")
    )
    scored = (
        assign.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe_cells), "cid")
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.col("cid").alias("cluster_id"),
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(TOPK)


# ------------------------------------------------ int8 quantized rerank
INT8_CAND_M = 50  # approximate-stage candidate pool for exact re-rank


@register(
    "l_ann_int8_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    sc AS (
        SELECT vec_id, label, v,
               list_max(list_transform(v, y -> abs(y))) AS scale
        FROM e
    ),
    qq AS (
        SELECT vec_id, label, v,
               list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)) AS qv
        FROM sc
    ),
    pq AS (SELECT qv AS qp FROM qq WHERE vec_id = 0),
    approx AS (
        SELECT a.vec_id, a.label, a.v,
               list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qp[i])) AS ascore
        FROM qq a, pq b
        WHERE a.vec_id <> 0
    ),
    cand AS (
        SELECT vec_id, label, v FROM (
            SELECT *, row_number() OVER (ORDER BY ascore DESC NULLS LAST, vec_id) AS rn
            FROM approx
        ) WHERE rn <= {INT8_CAND_M}
    )
    SELECT vec_id, label, cos_sim FROM (
        SELECT c.vec_id, c.label,
               round({cosine_sql("c.v", "p.pv")}, 6) AS cos_sim,
               row_number() OVER (
                   ORDER BY round({cosine_sql("c.v", "p.pv")}, 6) DESC, c.vec_id
               ) AS rn
        FROM cand c, p
    ) WHERE rn <= {TOPK}
    """,
)
def l_ann_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN with exact re-rank — the memory-compression
    scale path for vector stores: int8 codes are 8x smaller than float64
    (4x vs float32), so a 100 TB embedding corpus scans its quantized
    form and touches full-precision vectors only for the candidate pool.

    Stage 1 quantizes every vector to int8 with a per-vector max-abs
    scale (q = floor(x/scale*127 + 0.5), identical IEEE ops in both
    engines) and ranks by the INTEGER dot product against the quantized
    probe — integer math, so the approximate ranking is exact-order
    deterministic with no fp concerns. TakeOrderedAndProject keeps the
    top-50. Stage 2 re-scores only those 50 with the exact float64
    cosine and returns the top-10. The oracle mirrors both stages, so
    the gate checks the quantization itself, not just the final
    answer."""
    e = _embeddings(spark, sf_dir)
    qe = e.withColumn(
        "scale", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).withColumn(
        "q",
        F.transform(
            "v", lambda x: F.floor(x / F.col("scale") * 127 + F.lit(0.5)).cast("bigint")
        ),
    )
    probe = qe.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("qp"), F.col("v").alias("pv")
    )
    ascore = F.aggregate(
        F.zip_with("q", "qp", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cand = (
        qe.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", "label", "v", "pv", ascore.alias("ascore"))
        # r15 sampling shield (the multimodal_q._present pattern): the
        # quantize + integer-dot chain below this global top-M sort is
        # exchange-free, so the range-bounds sampling job would re-run
        # it a second time; one hash exchange lets the sort's map stage
        # reuse the shuffle files instead
        .repartition("vec_id")
        .orderBy(F.desc_nulls_last("ascore"), F.col("vec_id"))
        .limit(INT8_CAND_M)
    )
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


@register(
    "l_centroid_by_label",
    oracle="""
    SELECT label, pos,
           count(*)                          AS n_vecs,
           round(avg(CAST(v AS DOUBLE)), 6)  AS centroid
    FROM (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)                 AS v
        FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def l_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space, one row per (label,
    dimension) — the class-prototype aggregation behind nearest-centroid
    classification, cluster drift monitoring, and IVF codebook seeding.

    Scale shape: ``posexplode`` multiplies rows by the fixed dimension
    count inside the scan projection (a Catalyst generator — no UDF),
    and the (label, pos) aggregation map-side combines to
    |labels| x dims rows, so the shuffle is centroid-sized, never
    corpus-sized. The long (label, pos, value) layout keeps the result
    oracle-comparable and feeds positional re-assembly downstream."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"),
        )
    )


KNN_EVAL_PROBES = 50  # bounded probe sample: the eval harness's scale knob
KNN_EVAL_K = 5


@register(
    "l_knn_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
        SELECT vec_id AS probe_id, label AS true_label, v AS pv
        FROM e WHERE vec_id < {KNN_EVAL_PROBES}
    ),
    scored AS (
        SELECT p.probe_id, p.true_label, e.vec_id, e.label,
               round({cosine_sql("e.v", "p.pv")}, 6) AS cos_sim
        FROM e CROSS JOIN p
        WHERE e.vec_id <> p.probe_id
    ),
    top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id
            ) AS rn FROM scored
        ) WHERE rn <= {KNN_EVAL_K}
    ),
    votes AS (
        SELECT probe_id, true_label, label, count(*) AS n_votes
        FROM top GROUP BY probe_id, true_label, label
    )
    SELECT probe_id AS vec_id, true_label,
           label AS pred_label, n_votes,
           CAST(label = true_label AS INT) AS correct
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY n_votes DESC, label
        ) AS rv FROM votes
    ) WHERE rv = 1
    """,
)
def l_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification eval over a bounded probe
    sample: for each of the {KNN_EVAL_PROBES} lowest vec_ids, the exact
    cosine k={KNN_EVAL_K} neighborhood (self excluded) votes a label,
    compared against the probe's true label — the recall/quality harness
    every ANN deployment runs beside its approximate index.

    Scale shape: the probe set is bounded and BROADCAST, so scoring is
    one embarrassingly parallel corpus scan (probes x N pairs, never
    N^2); the per-probe top-k and the majority vote are windows
    partitioned by probe_id — |probes| partitions, each
    corpus-row-bounded, with ranking on the ROUNDED similarity so both
    engines cut identical neighborhoods."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    probes_meta = e.filter(F.col("vec_id") < KNN_EVAL_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
    )
    # r16: probe scoring via the mapInArrow kernel (each corpus row
    # crosses the Python boundary once instead of once per probe);
    # rounding stays JVM-side so ranking bits are unchanged.
    scored = (
        _probe_scores_arrow(e, sf_dir, KNN_EVAL_PROBES, with_label=True)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(F.broadcast(probes_meta), "probe_id")
        .select(
            "probe_id",
            "true_label",
            "vec_id",
            "label",
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
    )
    w_top = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    top = scored.withColumn("rn", F.row_number().over(w_top)).filter(
        F.col("rn") <= KNN_EVAL_K
    )
    votes = top.groupBy("probe_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("rv", F.row_number().over(w_vote))
        .filter(F.col("rv") == 1)
        .select(
            F.col("probe_id").alias("vec_id"),
            "true_label",
            F.col("label").alias("pred_label"),
            "n_votes",
            (F.col("label") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


def _ivf_eval_frames(e: DataFrame, sf_dir: str):
    """Shared skeleton of the IVF eval harnesses (l_ann_recall_eval /
    l_ndcg_eval), rebuilt on the _probe_scores_arrow kernel (r16, guide
    §4): ONE Python pass scores every vector against the bounded probe
    set (persisted: the exact branch and the approx join both read it)
    and ONE scores every vector against the {IVF_CENTROIDS} pinned
    donors (persisted: feeds the cell assignment AND the probe-cell
    ranking).  The old shape ran three pairwise pandas-UDF passes, each
    shipping both 64-dim arrays per pair.  Cell assignment replays
    _assign_nearest_cell's max(struct(rounded cos, -cid)) tie rule on
    bit-identical rounded values; the approx branch no longer recomputes
    cosines at all — it joins the candidate (vec, probe) pairs back to
    the persisted probe scores.

    Returns (raw probe scores, exact top-k frame, approx candidate
    pairs, probe-id frame)."""
    raw = _probe_scores_arrow(e, sf_dir, KNN_EVAL_PROBES).persist()
    cent_scores = _probe_scores_arrow(
        e, sf_dir, IVF_CENTROIDS + 1, lo=1
    ).persist()
    assign = (
        cent_scores.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.round(F.col("cos_raw"), 6).alias("cs"),
                    (-F.col("probe_id")).alias("ncid"),
                )
            ).alias("_best")
        )
        .select("vec_id", (-F.col("_best.ncid")).alias("cid"))
    )
    cw = Window.partitionBy("probe_id").orderBy(
        F.col("cs").desc(), F.col("cid")
    )
    probe_cells = (
        cent_scores.filter(F.col("vec_id") < KNN_EVAL_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("probe_id").alias("cid"),
            F.round(F.col("cos_raw"), 6).alias("cs"),
        )
        .withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= NPROBE)
        .select("probe_id", "cid")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    exact = (
        raw.filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_EVAL_K)
        .select("probe_id", "vec_id")
    )
    approx_pairs = (
        assign.join(F.broadcast(probe_cells), "cid")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("vec_id", "probe_id")
    )
    probe_ids = e.filter(F.col("vec_id") < KNN_EVAL_PROBES).select(
        F.col("vec_id").alias("probe_id")
    )
    return raw, exact, approx_pairs, probe_ids


@register(
    "l_ann_recall_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
        SELECT vec_id AS cid, v AS cv FROM e
        WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}
    ),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, cent.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql("e.v", "cent.cv")}, 6) DESC,
                                cent.cid
                   ) AS arn
            FROM e CROSS JOIN cent
        ) WHERE arn = 1
    ),
    p AS (
        SELECT vec_id AS probe_id, v AS pv
        FROM e WHERE vec_id < {KNN_EVAL_PROBES}
    ),
    probe_cells AS (
        SELECT probe_id, pv, cid FROM (
            SELECT p.probe_id, p.pv, cent.cid,
                   row_number() OVER (
                       PARTITION BY p.probe_id
                       ORDER BY round({cosine_sql("p.pv", "cent.cv")}, 6) DESC,
                                cent.cid
                   ) AS crn
            FROM p CROSS JOIN cent
        ) WHERE crn <= {NPROBE}
    ),
    exact AS (
        SELECT probe_id, vec_id FROM (
            SELECT p.probe_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY p.probe_id
                       ORDER BY round({cosine_sql("e.v", "p.pv")}, 6) DESC,
                                e.vec_id
                   ) AS rn
            FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id
        ) WHERE rn <= {KNN_EVAL_K}
    ),
    approx AS (
        SELECT probe_id, vec_id FROM (
            SELECT pc.probe_id, a.vec_id,
                   row_number() OVER (
                       PARTITION BY pc.probe_id
                       ORDER BY round({cosine_sql("a.v", "pc.pv")}, 6) DESC,
                                a.vec_id
                   ) AS rn
            FROM probe_cells pc
            JOIN assign a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id
        ) WHERE rn <= {KNN_EVAL_K}
    ),
    hits AS (
        SELECT x.probe_id, count(*) AS n_hit
        FROM exact x
        JOIN approx a ON a.probe_id = x.probe_id AND a.vec_id = x.vec_id
        GROUP BY x.probe_id
    )
    SELECT p.probe_id                           AS vec_id,
           CAST({KNN_EVAL_K} AS BIGINT)         AS k,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           {rN_sql(f"coalesce(h.n_hit, 0) / {KNN_EVAL_K}.0", 6)} AS recall
    FROM p LEFT JOIN hits h ON h.probe_id = p.probe_id
    """,
)
def l_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF(nprobe=2) index against exact neighborhoods,
    per probe — the faiss-style index-quality curve point every ANN
    deployment tracks (alongside l_knn_eval's end-task accuracy). Each
    bounded-set probe's exact cosine top-k is intersected with the
    top-k drawn only from the probe's {NPROBE} nearest coarse cells.

    Scale shape: the 16-row centroid table is broadcast everywhere;
    cell assignment is the map-side cross join of l_ann_ivf; exact
    scoring is probes x N with the bounded probe side broadcast; the
    approx search touches only the probes' cells (the nprobe recall/
    cost knob this harness exists to tune). All rankings are windows
    partitioned by probe or vector, never global. Recall is a ratio of
    small ints — identical bits in both engines before the r6 cut."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    raw, exact, approx_pairs, probe_ids = _ivf_eval_frames(e, sf_dir)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    approx = (
        raw.join(F.broadcast(approx_pairs), ["vec_id", "probe_id"])
        .select(
            "probe_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_EVAL_K)
        .select("probe_id", "vec_id")
    )
    hits = exact.join(approx, ["probe_id", "vec_id"]).groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return probe_ids.join(hits, "probe_id", "left").select(
        F.col("probe_id").alias("vec_id"),
        F.lit(KNN_EVAL_K).cast("bigint").alias("k"),
        n_hit.cast("bigint").alias("n_hit"),
        rN(n_hit / float(KNN_EVAL_K), 6).alias("recall"),
    )


# ------------------------------------------------ product quantization
PQ_M = 8        # subvector count (64-dim vectors -> 8 subspaces of 8 dims)
PQ_SUB = 8      # dims per subspace
PQ_K = 16       # codebook size per subspace (fixed donors vec_id 1..16,
                # the l_ann_ivf pinned-codebook convention; at scale the
                # codebook comes from per-subspace k-means)
PQ_CAND = 50    # ADC candidate pool for the exact re-rank

_PQ_MS = "(SELECT unnest(range(0, 8)) AS m)"


def _pq_sub_d2_sql(v: str, cv: str) -> str:
    """Rounded per-subspace squared-L2 between two 64-dim lists, for
    subspace ``m.m`` — explicit multiplication, never pow(), so Spark
    and DuckDB run the identical IEEE ops."""
    return (
        f"round(list_sum(list_transform(range(1, {PQ_SUB + 1}), "
        f"j -> ({v}[m.m*{PQ_SUB} + j] - {cv}[m.m*{PQ_SUB} + j]) * "
        f"({v}[m.m*{PQ_SUB} + j] - {cv}[m.m*{PQ_SUB} + j]))), 6)"
    )


@register(
    "l_ann_pq",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {PQ_K}),
    sub AS (
        SELECT e.vec_id, cent.cid, m.m,
               {_pq_sub_d2_sql("e.v", "cent.cv")} AS d2
        FROM e, cent, {_PQ_MS} m
    ),
    codes AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2, cid
            ) AS rn FROM sub
        ) WHERE rn = 1
    ),
    p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    dt AS (
        SELECT cent.cid, m.m,
               {_pq_sub_d2_sql("p.pv", "cent.cv")} AS d2
        FROM cent, p, {_PQ_MS} m
    ),
    approx AS (
        SELECT c.vec_id, round(sum(dt.d2), 6) AS adist
        FROM codes c JOIN dt ON dt.m = c.m AND dt.cid = c.code
        WHERE c.vec_id <> 0
        GROUP BY c.vec_id
    ),
    cand AS (
        SELECT vec_id, adist FROM (
            SELECT *, row_number() OVER (ORDER BY adist, vec_id) AS rn
            FROM approx
        ) WHERE rn <= {PQ_CAND}
    )
    SELECT vec_id, label, adist, cos_sim FROM (
        SELECT e.vec_id, e.label, cand.adist,
               round({cosine_sql("e.v", "p.pv")}, 6) AS cos_sim,
               row_number() OVER (
                   ORDER BY round({cosine_sql("e.v", "p.pv")}, 6) DESC, e.vec_id
               ) AS rn
        FROM e JOIN cand USING (vec_id), p
    ) WHERE rn <= {TOPK}
    """,
)
def l_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PQ/ADC) with exact
    re-rank — the strongest memory-compression scale path for vector
    search: each 64-dim vector is encoded as {PQ_M} subspace codes
    (4 bits each at K={PQ_K} -> 4 BYTES per vector vs 512 for float64,
    a 128x compression), and the search scans only codes.

    Stage 1 (index build — one-time at scale): each vector's 8-dim
    subvectors are assigned to their nearest codebook centroid by
    squared L2, rounded to 6 decimals before the argmin so Spark and
    DuckDB pick identical codes (ties -> smallest cid). The codebook is
    the pinned first-{PQ_K}-vectors convention shared with l_ann_ivf.
    The ONLY corpus-sized shuffle in the whole query is this per-(vec,
    subspace) argmin; everything after runs on 4-byte codes.

    Stage 2 (ADC scan): the probe precomputes its {PQ_M}x{PQ_K} distance
    table (128 tiny rows, broadcast); each vector's approximate distance
    is a pure table lookup-and-sum — no float vector is touched.
    TakeOrderedAndProject keeps the {PQ_CAND} closest.

    Stage 3 re-scores only those candidates with the exact float64
    cosine and returns the top-{TOPK}. The oracle mirrors all three
    stages, so the gate checks the encoding and the ADC math, not just
    the final answer."""
    # four branches read the vector table (codebook slice, encode pass,
    # probe row, exact re-rank); persist so the corpus is scanned once
    # (r15; the encode pass materializes the cache anyway)
    e = _embeddings(spark, sf_dir).persist()
    cent = e.filter(F.col("vec_id").between(1, PQ_K)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    def sub_d2(v, cv, m):
        def step(acc, j):
            diff = F.element_at(v, m * PQ_SUB + j) - F.element_at(cv, m * PQ_SUB + j)
            return acc + diff * diff

        return F.round(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(PQ_SUB)), F.lit(0.0), step
            ),
            6,
        )

    # per (vec, centroid): the M-array of subspace distances, exploded to
    # (vec, cid, m, d2) by a Catalyst generator — no UDF anywhere
    d2s = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: sub_d2(F.col("v"), F.col("cv"), m),
    )
    sub = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", F.posexplode(d2s).alias("m", "d2"))
    )
    # argmin per (vec, subspace) == the oracle's row_number ORDER BY
    # d2, cid.  The (d2, cid) pair is packed into ONE BIGINT so the
    # argmin is a HashAggregate over a primitive min instead of a
    # SortAggregate over struct buffers (r15; struct min/max cannot
    # hash-aggregate, which forced a map-side sort of all K x M
    # candidate rows): d2 = round(…, 6) >= 0, so
    # floor(d2 * 1e6 + 0.5) is its exact micro integer and
    # micro * PQ_K + (cid - 1) orders lexicographically by (d2, cid) —
    # the identical tie rule, distinct 6-dp values map to distinct
    # integers.  Map-side combinable, the one corpus-sized shuffle.
    codes = (
        sub.select("vec_id", "m", _pq_packed_key().alias("pk"))
        .groupBy("vec_id", "m")
        .agg(F.min("pk").alias("pk"))
        .select("vec_id", "m", (F.col("pk") % PQ_K + 1).alias("code"))
    )
    probe = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("pv"))
    dt = (
        cent.crossJoin(F.broadcast(probe))
        .select(
            "cid",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                    lambda m: sub_d2(F.col("pv"), F.col("cv"), m),
                )
            ).alias("m", "d2"),
        )
    )
    approx = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(dt), (codes.m == dt.m) & (codes.code == dt.cid))
        .groupBy("vec_id")
        .agg(F.round(F.sum("d2"), 6).alias("adist"))
    )
    cand = approx.orderBy("adist", "vec_id").limit(PQ_CAND)
    return (
        e.join(cand, "vec_id")
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            "adist",
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


# ------------------------------------------------ SemDeDup-style dedup
SEMDEDUP_TOP_PAIRS = 20

_SEMDEDUP_ASSIGN_CTE = f"""
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}),
    assign AS (
        SELECT vec_id, v, cid, {_bucket_sql("v")} AS bucket FROM (
            SELECT e.vec_id, e.v, cent.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql("e.v", "cent.cv")}, 6) DESC, cent.cid
                   ) AS arn
            FROM e, cent
        ) WHERE arn = 1
    )
"""


@register(
    "l_dedup_semantic",
    oracle=f"""
    WITH {_SEMDEDUP_ASSIGN_CTE},
    pairs AS (
        SELECT x.cid AS cluster_id, x.vec_id AS vec_a, y.vec_id AS vec_b,
               round({cosine_sql("x.v", "y.v")}, 6) AS cos_sim
        FROM assign x JOIN assign y
          ON x.cid = y.cid AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT cluster_id, vec_a, vec_b, cos_sim FROM (
        SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_a, vec_b) AS rn
        FROM pairs
    ) WHERE rn <= {SEMDEDUP_TOP_PAIRS}
    """,
)
def l_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup detection (Abbas et al. 2023):
    cluster the embedding space coarsely, then look for high-cosine
    pairs ONLY within a cluster — semantically redundant documents land
    in the same cell, so the quadratic pair search never crosses
    cluster boundaries.

    Scale shape: candidates are bucketed TWICE — by the 16-centroid
    coarse assignment (broadcast codebook, the l_ann_ivf convention)
    AND by the 8-bit hyperplane-sign sub-bucket inside each cell — so
    the pairwise term is bounded per (cell, bucket) shard (~N/4096 a
    side) instead of N²/cells; at 100 TB you grow the codebook and the
    shard bound holds. The join shuffles (vec_id, cid, bucket) triples;
    vectors re-join per side for the exact verify, and the global
    top-20 is TakeOrderedAndProject."""
    e = _embeddings(spark, sf_dir)
    cent = e.filter(F.col("vec_id").between(1, IVF_CENTROIDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    # the coarse assignment is the materialized cluster index: BOTH
    # sides of the within-cell self-join consume it, and each
    # re-evaluation repays the 16x coarse cross join + argmin — persist
    # it (r15; the l_ann_ivfpq pattern)
    assign = (
        _assign_nearest_cell(e, cent, "cid", ("v",))
        .select("vec_id", "cid", _bucket_col(F.col("v")).alias("bucket"))
        .persist()
    )
    x, y = assign.alias("x"), assign.alias("y")
    cand = x.join(
        y,
        (F.col("x.cid") == F.col("y.cid"))
        & (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.vec_id") < F.col("y.vec_id")),
    ).select(
        F.col("x.cid").alias("cluster_id"),
        F.col("x.vec_id").alias("vec_a"),
        F.col("y.vec_id").alias("vec_b"),
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "cluster_id",
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(SEMDEDUP_TOP_PAIRS)
    )


# ------------------------------------------- power-iteration top component
POWER_ITERS = 5  # fixed iteration count -> deterministic output


def _top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The converged (after POWER_ITERS rounds) unit direction as a
    1-row DataFrame with column ``v`` (array<double>), localCheckpointed."""
    e = _embeddings(spark, sf_dir)
    dim = 64
    v = spark.range(0, 1, 1, 1).select(
        F.array(*[F.lit(1.0 / dim**0.5) for _ in range(dim)]).alias("v")
    ).localCheckpoint()
    for _ in range(POWER_ITERS):
        proj = F.aggregate(
            F.zip_with("emb", "v", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        contrib = (
            e.select(F.col("v").alias("emb"))
            .crossJoin(F.broadcast(v))
            .select(F.posexplode(F.transform("emb", lambda x: x * proj)).alias("pos", "c"))
            .groupBy("pos")
            .agg(F.sum("c").alias("s"))
        )
        w = contrib.agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps")
        ).select(F.transform("ps", lambda p: p["s"]).alias("w"))
        norm = F.sqrt(
            F.aggregate("w", F.lit(0.0), lambda acc, x: acc + x * x)
        )
        v = w.select(
            F.transform("w", lambda x: x / norm).alias("v")
        ).localCheckpoint()
    return v


@register("l_embedding_top_component", oracle=None)
def l_embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding space by POWER ITERATION
    (the all-but-the-top / whitening primitive: dominant components of
    an embedding corpus are corpus-wide artifacts, and removing them
    measurably improves retrieval). Fixed deterministic init (uniform
    unit vector) and a fixed {POWER_ITERS}-round count make the output
    reproducible — rows-only by contract (iterative, not
    SQL-expressible) and pinned bit-for-bit to a numpy reference in
    tests/test_power_iteration.py.

    Spark-first iteration, the l_bpe_merges discipline: the current
    direction v lives in a 1-ROW DataFrame that BROADCASTS into the
    scan; each round computes per-vector projections x·v map-side, the
    mat-vec Σ x (x·v) reduces via posexplode + a (pos)-keyed
    aggregation to EXACTLY dim rows (one small shuffle per round, never
    a driver collect), and the norm folds back into the next 1-row v
    with localCheckpoint truncating the lineage. Output is the long
    (pos, component) form plus the Rayleigh-quotient eigenvalue
    estimate, scaled to a sign-canonical unit vector (first nonzero
    coordinate positive) so the answer is unique."""
    e = _embeddings(spark, sf_dir)
    v = _top_direction(spark, sf_dir)

    # Rayleigh quotient lambda = sum_i (x_i . v)^2 / (v . v), v unit
    proj = F.aggregate(
        F.zip_with("emb", "v", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ray = (
        e.select(F.col("v").alias("emb"))
        .crossJoin(F.broadcast(v))
        .agg(F.sum(proj * proj).alias("eigenvalue"))
    )
    # sign-canonicalize: flip so the first coordinate is non-negative
    sign = F.when(F.element_at("v", 1) < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return (
        v.select(F.posexplode(F.transform("v", lambda x: x * sign)).alias("pos0", "component"))
        .crossJoin(F.broadcast(ray))
        .select(
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.round("component", 6).alias("component"),
            F.round("eigenvalue", 4).alias("eigenvalue"),
        )
    )


@register("l_abtt_residual", oracle=None)
def l_abtt_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top residual (Mu & Viswanath 2018): remove each
    embedding's projection onto the corpus's dominant direction —
    the post-processing that strips the common component which drags
    every cosine similarity upward. Runs the SAME power iteration as
    l_embedding_top_component (train, then apply broadcast — the
    BPE-pair discipline), then the removal itself is
    one row-local expression over the broadcast direction: projection,
    residual norm, and the norm retained after removal.

    Rows-only (the direction is the iterative artifact); pinned to the
    numpy reference in tests/test_power_iteration.py."""
    e = _embeddings(spark, sf_dir)
    v = _top_direction(spark, sf_dir)
    proj = F.aggregate(
        F.zip_with("emb", "v", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_before = F.sqrt(
        F.aggregate(
            F.transform("emb", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # residual = x - (x.v) v; v unit, so |r|^2 = |x|^2 - (x.v)^2
    norm_after = F.sqrt(norm_before * norm_before - proj * proj)
    return (
        e.select(F.col("vec_id"), F.col("label"), F.col("v").alias("emb"))
        .crossJoin(F.broadcast(v))
        .select(
            "vec_id",
            "label",
            F.round(proj, 6).alias("top_projection"),
            F.round(norm_before, 6).alias("norm_before"),
            F.round(norm_after, 6).alias("norm_after"),
        )
    )


# ------------------------------------------------- k-means codebook train
KMEANS_ITERS = 3  # fixed rounds -> deterministic trajectory


def _kmeans_nearest_local(
    e: DataFrame, cent: DataFrame, keep_v: bool = False
) -> DataFrame:
    """Nearest-centroid assignment under the trainer's rounded-d2 rule
    (d2 ASC, ties -> lowest cid) as ONE map-side-combinable aggregation
    instead of the crossJoin + per-vector rank window (r15, guide
    §2.3/§2.4): the {IVF_CENTROIDS} candidate rows a task generates per
    vector collapse to one row in the partial HashAggregate BEFORE the
    exchange, so the exchange carries one narrow row per vector instead
    of {IVF_CENTROIDS} payload-bearing copies, and no sort runs.  The
    d2 metric is the trainer's squared L2 rounded to 6 decimals — a
    strict left fold over dimensions, the same fp order as the oracle's
    list_sum — evaluated in the same crossJoin projection as the
    pre-r15 window form, so the d2 doubles are bit-identical, and
    ``min`` over ``struct(d2, cid, v)`` replays the window's (d2, cid)
    tie rule with the unique cid shielding the payload field.  (A fully
    row-local array_min-over-transform variant was measured 19% SLOWER
    at sf0.1 — nested-lambda interpretation overhead exceeds the
    exchange saving locally — while this form matches the window's
    local time exactly; interleaved A/B min-of-5.)  Returns
    (vec_id[, v], cid, d2); ``keep_v`` rides the vector along for the
    re-center pass, the pure-scoring passes shuffle only the triple."""
    fields = [
        F.round(
            F.aggregate(
                F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d2"),
        F.col("cid").alias("cid"),
    ]
    if keep_v:
        fields.append(F.col("v").alias("v"))
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", F.struct(*fields).alias("_cand")
    )
    out_cols = ["vec_id"]
    if keep_v:
        out_cols.append(F.col("_best.v").alias("v"))
    out_cols += [F.col("_best.cid").alias("cid"), F.col("_best.d2").alias("d2")]
    return (
        scored.groupBy("vec_id")
        .agg(F.min("_cand").alias("_best"))
        .select(*out_cols)
    )


def _kmeans_trained_centroids(e: DataFrame) -> DataFrame:
    """The Lloyd loop (init = pinned donors, {KMEANS_ITERS} fixed
    rounds) — shared by the contract key and the numpy-pinned
    long-form view."""
    cent = e.filter(F.col("vec_id").between(1, IVF_CENTROIDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    ).localCheckpoint()
    for _ in range(KMEANS_ITERS):
        assign = _kmeans_nearest_local(e, cent, keep_v=True)
        new_cent = (
            assign.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda p: p["m"],
                ).alias("cv_new")
            )
        )
        # empty clusters (no members) keep their previous centroid
        cent = (
            cent.join(new_cent, "cid", "left")
            .select("cid", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint()
        )
    return cent


def _kmeans_min_d2(e: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, d2) of each vector's nearest centroid under the
    trainer's rounded-argmin rule (ties -> lowest cid)."""
    return _kmeans_nearest_local(e, cent).select("vec_id", "cid", "d2")


def _d2_micro():
    """Per-vector nearest-centroid d2 quantized to exact integer
    micro-units before any cross-row sum (the r_cramers_v discipline:
    cross-row double sums are shuffle-order-dependent; integer sums
    are not)."""
    return F.floor(F.col("d2") * 1000000 + F.lit(0.5)).cast("bigint")


def _pq_packed_key(cid_col: str = "cid"):
    """(d2, cid) packed into ONE BIGINT for the PQ-encode argmin
    (l_ann_pq / l_ann_ivfpq): micro(d2) * PQ_K + (cid - 1) orders
    lexicographically by (d2 ASC, cid ASC) — the window tie rule as a
    primitive-min HashAggregate.  The micro conversion is _d2_micro(),
    the one place the rounding-to-micro rule lives (ADVICE r15).

    Precondition (ADVICE r15): d2 must be FINITE and >= 0 — it is
    round(sum of squares, 6) here by construction.  A NaN d2 would
    cast to a minimal BIGINT and silently WIN the min (the old struct
    ordering sorted NaN last); if NaN could ever enter the distance,
    guard with nanvl before packing."""
    return _d2_micro() * F.lit(PQ_K) + (F.col(cid_col) - 1)

_KMEANS_CONTRACT_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    donors AS (
        SELECT vec_id AS cid, v AS cv FROM e
        WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}
    ),
    scored AS (
        SELECT e.vec_id, d.cid,
               round(list_sum(list_transform(range(1, 65),
                     i -> (e.v[i] - d.cv[i]) * (e.v[i] - d.cv[i]))), 6) AS d2
        FROM e CROSS JOIN donors d
    ),
    nearest AS (
        SELECT vec_id, cid, d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cid) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    per_cid AS (
        SELECT cid,
               CAST(count(*) AS BIGINT) AS n_members_init,
               CAST(sum(CAST(floor(d2 * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS inertia_init_micro
        FROM nearest GROUP BY cid
    )
    SELECT d.cid,
           COALESCE(p.n_members_init, 0) AS n_members_init,
           COALESCE(p.inertia_init_micro, 0) AS inertia_init_micro,
           CAST(1 AS INT) AS counts_complete,
           CAST(1 AS INT) AS improved
    FROM (SELECT cid FROM donors) d LEFT JOIN per_cid p USING (cid)
    ORDER BY d.cid
"""


@register("l_ivf_train_kmeans", oracle=_KMEANS_CONTRACT_ORACLE)
def l_ivf_train_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means for the IVF coarse codebook, graded by CONTRACT
    (VERDICT r14 ask #4 — the r_approx_distinct pattern promotes the
    most promotable of the pinned trainers to a hash-checked driver
    row): the trainer itself (init = pinned donor vectors,
    {KMEANS_ITERS} fixed Lloyd rounds, squared-L2 rounded to 6
    decimals before each argmin, ties -> lowest cid, empty clusters
    keep their centroid) is unchanged and stays numpy-pinned in
    tests/test_kmeans.py via kmeans_centroid_frame; what the driver
    hashes is the DuckDB-derivable half plus the trained half's
    contract:

    - per cid: the INIT-assignment member count and exact micro-unit
      inertia share (every vector argmin'd against the pinned donors —
      the oracle replays the full 64-dim vector math, tie rule
      included);
    - ``counts_complete``: the trained final assignment covers every
      vector exactly once (sum of member counts == |vectors|);
    - ``improved``: micro-quantized total inertia under the TRAINED
      centroids <= inertia under the init donors + one micro-unit per
      vector (the quantization slop of the two rounded sums) — Lloyd's
      monotonicity, the property that makes the training worth the
      {KMEANS_ITERS} rounds; a broken re-center or assignment step
      flips it to 0 and breaks the hash, while rounding noise at a
      fixpoint cannot.

    Spark-first iteration: broadcast centroid frame, map-side argmin
    via crossJoin + per-vector window, posexplode re-centering (k x
    dim shuffle rows), localCheckpoint truncating lineage; per-vector
    distances quantized to integer micro-units BEFORE the cross-row
    inertia sums (shuffle-order-proof)."""
    # cache the point set once: the Lloyd loop re-reads it every round
    # and the init/final assignment passes read it again (guide §5 -
    # the textbook distributed-kmeans persist; before, the plan scanned
    # the embeddings parquet 14 times)
    e = _embeddings(spark, sf_dir).select("vec_id", "v").persist()
    donors = e.filter(F.col("vec_id").between(1, IVF_CENTROIDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    trained = _kmeans_trained_centroids(e)

    init_near = _kmeans_min_d2(e, donors)
    per_cid = init_near.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members_init"),
        F.sum(_d2_micro()).cast("bigint").alias("inertia_init_micro"),
    )
    final_near = _kmeans_min_d2(e, trained)
    totals = final_near.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.sum(_d2_micro()).cast("bigint").alias("inertia_final_micro"),
    )
    n_vec = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    init_tot = per_cid.agg(
        F.sum("inertia_init_micro").cast("bigint").alias("inertia_init_total")
    )
    flags = (
        totals.crossJoin(F.broadcast(n_vec))
        .crossJoin(F.broadcast(init_tot))
        .select(
            (F.col("n_assigned") == F.col("n_vectors"))
            .cast("int")
            .alias("counts_complete"),
            # one micro-unit-per-vector slack: Lloyd monotonicity is a
            # theorem for EXACT argmin/means, while both inertias here
            # are sums of floor(d2*1e6+0.5) over 6-dp-rounded distances
            # — near a fixpoint the true (tiny) decrease can sit below
            # the quantization slop, and the contract must not flake on
            # rounding noise it introduced itself (self-review r15)
            (
                F.col("inertia_final_micro")
                <= F.col("inertia_init_total") + F.col("n_vectors")
            )
            .cast("int")
            .alias("improved"),
        )
    )
    return (
        donors.select("cid")
        .join(per_cid, "cid", "left")
        .crossJoin(F.broadcast(flags))
        .select(
            F.col("cid").cast("bigint").alias("cid"),
            F.coalesce("n_members_init", F.lit(0))
            .cast("bigint")
            .alias("n_members_init"),
            F.coalesce("inertia_init_micro", F.lit(0))
            .cast("bigint")
            .alias("inertia_init_micro"),
            "counts_complete",
            "improved",
        )
        .orderBy("cid")
    )


def kmeans_centroid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained codebook in long (cid, pos, centroid, n_members)
    form — the pre-r15 l_ivf_train_kmeans output, kept as the numpy
    pin surface (tests/test_kmeans.py) and the consumable codebook."""
    e = _embeddings(spark, sf_dir).select("vec_id", "v").persist()
    cent = _kmeans_trained_centroids(e)
    final_assign = _kmeans_min_d2(e, cent)
    sizes = final_assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        cent.join(sizes, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_members", F.lit(0)).cast("bigint").alias("n_members"),
            F.posexplode("cv").alias("pos0", "c"),
        )
        .select(
            F.col("cid").cast("bigint").alias("cid"),
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.round("c", 6).alias("centroid"),
            "n_members",
        )
    )


# --------------------------------------------- centroid-distance outliers

OUTLIER_K = 20  # bottom-k docs by cosine-to-centroid


@register(
    "l_embedding_outliers",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cdim AS (
        SELECT pos, avg(x) AS m FROM (
            SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e
        ) GROUP BY pos
    ),
    c AS (SELECT list(m ORDER BY pos) AS cv FROM cdim)
    SELECT vec_id, label, cos_centroid FROM (
        SELECT e.vec_id, e.label,
               round({cosine_sql("e.v", "c.cv")}, 6) AS cos_centroid
        FROM e CROSS JOIN c
    )
    ORDER BY cos_centroid, vec_id
    LIMIT {OUTLIER_K}
    """,
)
def l_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier pruning: the corpus centroid (global mean
    vector) is computed once, every vector is scored by cosine to it,
    and the {OUTLIER_K} farthest (lowest cosine) come back — the
    curation filter that drops mis-embedded / off-distribution samples
    before clustering or dedup (the quality-filter complement of
    l_dedup_semantic's SemDeDup pass).

    Scale shape: the centroid is a posexplode + per-dimension avg
    (map-side combinable to dim rows) reassembled into ONE broadcast
    row; scoring is a broadcast cross join inside the scan projection;
    the bottom-k funnel is orderBy().limit() — TakeOrderedAndProject,
    per-partition top-k with a k-row driver merge. Corpus-sized data is
    never shuffled at all."""
    e = _embeddings(spark, sf_dir)
    cdim = (
        e.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg("x").alias("m"))
    )
    c = cdim.agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
    ).select(F.transform("pm", lambda p: p["m"]).alias("cv"))
    return (
        e.crossJoin(F.broadcast(c))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("cv")), 6).alias("cos_centroid"),
        )
        .orderBy("cos_centroid", "vec_id")
        .limit(OUTLIER_K)
    )


# ------------------------------------------------------- MIPS retrieval
MIPS_TOPK = TOPK


@register(
    "l_mips_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT max({dot_sql("v", "v")}) AS m2 FROM e WHERE vec_id <> 0),
    b AS (SELECT vec_id, label, v, {_bucket_sql("v")} AS bucket FROM e),
    p AS (SELECT v AS pv, bucket AS pbucket FROM b WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.label,
               round({dot_sql("e.v", "p.pv")}, 6) AS ip,
               round(sqrt(m.m2 - {dot_sql("e.v", "e.v")}), 6) AS aug_dim
        FROM b e, p, m
        WHERE e.vec_id <> 0 AND e.bucket = p.pbucket
    )
    SELECT vec_id, label, ip, aug_dim FROM (
        SELECT *, row_number() OVER (ORDER BY ip DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= {MIPS_TOPK}
    """,
)
def l_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the norm-augmentation reduction
    (Bachrach et al. 2014 / Shrivastava & Li 2014, public method):
    appending sqrt(M^2 - |x|^2) to every corpus vector (M = max corpus
    norm) and 0 to the query makes augmented-cosine order IDENTICAL to
    inner-product order, so any cosine-ANN index answers MIPS. Here the
    engine's shared sign-bit LSH supplies candidates (the appended
    coordinate never flips the first-{LSH_BITS}-dim signs, so the
    bucket key is unchanged by augmentation) and candidates are ranked
    by exact inner product — which IS the augmented-cosine ranking, by
    the reduction. The emitted aug_dim column is the materialized
    augmentation coordinate.

    Scale shape: M^2 is ONE map-side-combinable aggregate broadcast as
    a 1-row frame; the probe is a broadcast 1-row frame; candidate
    pruning is a map-side bucket predicate; the top-k is
    TakeOrderedAndProject. Nothing corpus-sized ever shuffles. All
    sums are sequential folds on both engines, so ip/aug_dim are
    bit-identical before the 6 dp round."""
    e = _embeddings(spark, sf_dir)
    m2 = (
        e.filter(F.col("vec_id") != 0)
        .agg(F.max(dot(F.col("v"), F.col("v"))).alias("m2"))
    )
    b = e.withColumn("bucket", _bucket_col(F.col("v")))
    probe = b.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("pv"), F.col("bucket").alias("pbucket")
    )
    scored = (
        b.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .filter(F.col("bucket") == F.col("pbucket"))
        .crossJoin(F.broadcast(m2))
        .select(
            "vec_id",
            "label",
            F.round(dot(F.col("v"), F.col("pv")), 6).alias("ip"),
            F.round(
                F.sqrt(F.col("m2") - dot(F.col("v"), F.col("v"))), 6
            ).alias("aug_dim"),
        )
    )
    return scored.orderBy(F.col("ip").desc(), F.col("vec_id")).limit(MIPS_TOPK)


# --------------------------------------------- matryoshka truncation eval
MAT_DIM = 16  # truncated prefix dimensionality under evaluation
MAT_K = TOPK  # recall@k cut


@register(
    "l_matryoshka_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id AS probe_id, v AS pv FROM e
          WHERE vec_id < {KNN_EVAL_PROBES}),
    scored AS (
        SELECT p.probe_id, e.vec_id,
               round({cosine_sql("e.v", "p.pv")}, 6)                    AS cos_full,
               round({cosine_sql("e.v", "p.pv", dim=MAT_DIM)}, 6)       AS cos_trunc
        FROM e CROSS JOIN p
        WHERE e.vec_id <> p.probe_id
    ),
    ranked AS (
        SELECT probe_id,
               row_number() OVER (
                   PARTITION BY probe_id ORDER BY cos_full DESC, vec_id) AS rf,
               row_number() OVER (
                   PARTITION BY probe_id ORDER BY cos_trunc DESC, vec_id) AS rt
        FROM scored
    )
    SELECT probe_id,
           CAST(sum(CASE WHEN rt <= {MAT_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
           {r6_sql(f"sum(CASE WHEN rt <= {MAT_K} THEN 1 ELSE 0 END)"
                   f" / CAST({MAT_K} AS DOUBLE)")} AS recall
    FROM ranked WHERE rf <= {MAT_K}
    GROUP BY probe_id
    """,
)
def l_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension retrieval eval (Kusupati et al.
    2022, public method): recall@{MAT_K} of cosine retrieval using only
    the first {MAT_DIM} of {64} dimensions against full-dimension
    retrieval, per probe — the measurement that justifies storing
    short-prefix embeddings for the coarse pass of a two-stage 100 TB
    retrieval stack (prefix scan everywhere, full vectors only for the
    shortlist).

    Scale shape: the bounded probe set ({KNN_EVAL_PROBES} rows) is
    BROADCAST and both similarities are computed in the SAME single
    corpus scan (probes x N, never N^2); both per-probe rankings are
    windows sharing ONE partitionBy(probe_id) exchange, and the
    overlap is decided ROW-LOCALLY (a scored row is a hit iff both its
    ranks are <= k) — no join anywhere in the plan. Ranking is on 6
    dp-rounded similarity so both engines cut identical
    neighborhoods."""
    e = _embeddings(spark, sf_dir).select("vec_id", "v")
    # r16: both similarities come out of ONE _probe_scores_arrow pass —
    # the truncated cosine is the dimension-ordered accumulator's
    # prefix snapshot, bit-identical to the fold over the sliced arrays
    # — instead of two pairwise pandas-UDF passes each shipping both
    # arrays per (vector, probe) pair.
    scored = (
        _probe_scores_arrow(e, sf_dir, KNN_EVAL_PROBES, trunc_dim=MAT_DIM)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(F.col("cos_raw"), 6).alias("cos_full"),
            F.round(F.col("cos_trunc_raw"), 6).alias("cos_trunc"),
        )
    )
    w_full = Window.partitionBy("probe_id").orderBy(
        F.col("cos_full").desc(), F.col("vec_id")
    )
    w_trunc = Window.partitionBy("probe_id").orderBy(
        F.col("cos_trunc").desc(), F.col("vec_id")
    )
    ranked = scored.select(
        "probe_id",
        F.row_number().over(w_full).alias("rf"),
        F.row_number().over(w_trunc).alias("rt"),
    )
    hit = F.when(F.col("rt") <= MAT_K, 1).otherwise(0)
    return (
        ranked.filter(F.col("rf") <= MAT_K)
        .groupBy("probe_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_hits"),
            r6(F.sum(hit) / float(MAT_K)).alias("recall"),
        )
    )


# ------------------------------------------------- IVF + residual PQ
IVFPQ_CAND = PQ_CAND


def _pq_res_d2_sql(v: str, cc: str, cb: str) -> str:
    """Rounded per-subspace squared-L2 between the RESIDUAL (v - cc)
    and a codebook entry, for subspace ``m.m`` — explicit ops in a
    fixed order so Spark and DuckDB run the identical IEEE sequence."""
    diff = (
        f"(({v}[m.m*{PQ_SUB} + j] - {cc}[m.m*{PQ_SUB} + j])"
        f" - {cb}[m.m*{PQ_SUB} + j])"
    )
    return (
        f"round(list_sum(list_transform(range(1, {PQ_SUB + 1}), "
        f"j -> {diff} * {diff})), 6)"
    )


@register(
    "l_ann_ivfpq",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS ccid, v AS cv FROM e
             WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}),
    cb AS (SELECT vec_id AS bcid, v AS bv FROM e
           WHERE vec_id BETWEEN 1 AND {PQ_K}),
    assign AS (
        SELECT vec_id, label, v, ccid FROM (
            SELECT e.vec_id, e.label, e.v, cent.ccid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql("e.v", "cent.cv")}, 6) DESC,
                                cent.ccid
                   ) AS arn
            FROM e, cent
        ) WHERE arn = 1
    ),
    p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    pcells AS (
        SELECT ccid FROM (
            SELECT cent.ccid,
                   row_number() OVER (
                       ORDER BY round({cosine_sql("p.pv", "cent.cv")}, 6) DESC,
                                cent.ccid
                   ) AS crn
            FROM cent, p
        ) WHERE crn <= {NPROBE}
    ),
    sel AS (
        SELECT a.vec_id, a.label, a.v, a.ccid, cent.cv
        FROM assign a
        JOIN pcells pc ON pc.ccid = a.ccid
        JOIN cent ON cent.ccid = a.ccid
        WHERE a.vec_id <> 0
    ),
    sub AS (
        SELECT sel.vec_id, sel.ccid, cb.bcid, m.m,
               {_pq_res_d2_sql("sel.v", "sel.cv", "cb.bv")} AS d2
        FROM sel, cb, {_PQ_MS} m
    ),
    codes AS (
        SELECT vec_id, ccid, m, bcid AS code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2, bcid
            ) AS rn FROM sub
        ) WHERE rn = 1
    ),
    dt AS (
        SELECT pc.ccid, cb.bcid, m.m,
               {_pq_res_d2_sql("p.pv", "cent.cv", "cb.bv")} AS d2
        FROM pcells pc
        JOIN cent ON cent.ccid = pc.ccid, cb, {_PQ_MS} m, p
    ),
    approx AS (
        SELECT c.vec_id, round(sum(dt.d2), 6) AS adist
        FROM codes c
        JOIN dt ON dt.ccid = c.ccid AND dt.m = c.m AND dt.bcid = c.code
        GROUP BY c.vec_id
    ),
    cand AS (
        SELECT vec_id, adist FROM (
            SELECT *, row_number() OVER (ORDER BY adist, vec_id) AS rn
            FROM approx
        ) WHERE rn <= {IVFPQ_CAND}
    )
    SELECT vec_id, label, cluster_id, adist, cos_sim FROM (
        SELECT a.vec_id, a.label, a.ccid AS cluster_id, cand.adist,
               round({cosine_sql("a.v", "p.pv")}, 6) AS cos_sim,
               row_number() OVER (
                   ORDER BY round({cosine_sql("a.v", "p.pv")}, 6) DESC, a.vec_id
               ) AS rn
        FROM assign a JOIN cand USING (vec_id), p
    ) WHERE rn <= {TOPK}
    """,
)
def l_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (Jégou et al., the FAISS IVFPQ shape — public method):
    coarse quantization prunes the scan to the probe's {NPROBE} nearest
    of {IVF_CENTROIDS} cells, then a product quantizer over the
    RESIDUAL (vector minus its coarse centroid — what distinguishes
    IVFPQ from flat PQ: residuals are smaller and code them better)
    approximates distances from 4-byte codes, and the exact cosine
    re-ranks the {IVFPQ_CAND} best. This is the architecture that
    serves billion-vector search: cells bound the scan, codes bound the
    memory, the re-rank bounds the error.

    Coarse centroids and PQ codebook are both the pinned
    first-{IVF_CENTROIDS}-vectors convention shared with l_ann_ivf /
    l_ann_pq (the gate checks the pipeline math, not codebook
    training — l_ivf_train_kmeans covers that).

    Scale shape: both quantizer tables are {IVF_CENTROIDS}-row
    BROADCASTS; cell assignment is map-side; the probed-cell filter
    drops {IVF_CENTROIDS - NPROBE}/{IVF_CENTROIDS} of the corpus BEFORE
    any PQ math; the per-(vec, subspace) residual argmin is the single
    corpus-sized shuffle (map-side-combinable min-of-struct, the
    l_ann_pq discipline); the ADC distance table is {NPROBE}x{PQ_M}x
    {PQ_K} = 256 tiny broadcast rows; candidate cut and final top-k are
    TakeOrderedAndProject. All distances are rounded to 6 dp before
    every argmin/rank so both engines pick identical codes, cells, and
    neighbors."""
    e = _embeddings(spark, sf_dir)
    cent = e.filter(F.col("vec_id").between(1, IVF_CENTROIDS)).select(
        F.col("vec_id").alias("ccid"), F.col("v").alias("cv")
    )
    cb = e.filter(F.col("vec_id").between(1, PQ_K)).select(
        F.col("vec_id").alias("bcid"), F.col("v").alias("bv")
    )
    # the cell-assigned corpus is the materialized IVF index: TWO
    # branches consume it (the probed-cell encode pass and the exact
    # re-rank join), and each re-evaluation repays the 16x coarse
    # cross join + argmin — persist it (r15; the plan scanned the
    # embeddings parquet 28 times before)
    assign = _assign_nearest_cell(e, cent, "ccid", ("label", "v")).persist()
    probe = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("pv"))
    pcells = (
        cent.crossJoin(F.broadcast(probe))
        .select("ccid", F.round(cosine(F.col("pv"), F.col("cv")), 6).alias("c_sim"))
        .orderBy(F.col("c_sim").desc(), F.col("ccid"))
        .limit(NPROBE)
        .select("ccid")
    )

    def res_d2(v, cc, bv, m):
        def step(acc, j):
            idx = m * PQ_SUB + j
            diff = (F.element_at(v, idx) - F.element_at(cc, idx)) - F.element_at(
                bv, idx
            )
            return acc + diff * diff

        return F.round(
            F.aggregate(F.sequence(F.lit(1), F.lit(PQ_SUB)), F.lit(0.0), step), 6
        )

    sel = (
        assign.filter(F.col("vec_id") != 0)
        .join(F.broadcast(pcells), "ccid")
        .join(F.broadcast(cent), "ccid")
    )
    d2s = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: res_d2(F.col("v"), F.col("cv"), F.col("bv"), m),
    )
    sub = (
        sel.crossJoin(F.broadcast(cb))
        .select("vec_id", "ccid", "bcid", F.posexplode(d2s).alias("m", "d2"))
    )
    # packed-BIGINT argmin (the l_ann_pq r15 form): HashAggregate over a
    # primitive min instead of a SortAggregate over (d2, bcid) structs;
    # identical (d2 ASC, bcid ASC) ordering by exact integer arithmetic
    codes = (
        sub.select("vec_id", "ccid", "m", _pq_packed_key("bcid").alias("pk"))
        .groupBy("vec_id", "ccid", "m")
        .agg(F.min("pk").alias("pk"))
        .select("vec_id", "ccid", "m", (F.col("pk") % PQ_K + 1).alias("code"))
    )
    dt = (
        pcells.join(F.broadcast(cent), "ccid")
        .crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(probe))
        .select(
            "ccid",
            "bcid",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                    lambda m: res_d2(F.col("pv"), F.col("cv"), F.col("bv"), m),
                )
            ).alias("m", "d2"),
        )
    )
    approx = (
        codes.join(
            F.broadcast(dt),
            (codes.ccid == dt.ccid) & (codes.m == dt.m) & (codes.code == dt.bcid),
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("d2"), 6).alias("adist"))
    )
    cand = approx.orderBy("adist", "vec_id").limit(IVFPQ_CAND)
    return (
        assign.join(cand, "vec_id")
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.col("ccid").alias("cluster_id"),
            "adist",
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


# --------------------------------------------- hard-negative mining
HN_SKIP = 10  # ranks 1..HN_SKIP are presumed positives / easy matches
HN_K = 10     # negatives mined per probe from the band below


@register(
    "l_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
        SELECT vec_id AS probe_id, label AS probe_label, v AS pv
        FROM e WHERE vec_id < {KNN_EVAL_PROBES}
    ),
    scored AS (
        SELECT p.probe_id, p.probe_label, e.vec_id, e.label,
               round({cosine_sql("e.v", "p.pv")}, 6) AS cos_sim
        FROM e CROSS JOIN p
        WHERE e.vec_id <> p.probe_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT probe_id, vec_id, label, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked
    WHERE rnk > {HN_SKIP} AND rnk <= {HN_SKIP + HN_K}
      AND label <> probe_label
    """,
)
def l_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each probe, the candidates ranked just BELOW the presumed-positive
    band (ranks {HN_SKIP + 1}..{HN_SKIP + HN_K}) whose label differs
    from the probe's — similar enough to be informative, wrong enough
    to be negatives. This is the batch-mining stage every dual-encoder
    retraining loop runs against its own index (DPR / ANCE style,
    public methods).

    Scale shape: identical to l_knn_eval — the bounded probe set
    ({KNN_EVAL_PROBES} rows) is BROADCAST, scoring is one
    embarrassingly parallel corpus scan (probes x N, never N^2), and
    the rank cut is a window over |probes| bounded partitions with
    ranking on the 6 dp-rounded similarity so both engines cut the
    same band."""
    e = _embeddings(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < KNN_EVAL_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("v").alias("pv"),
    )
    scored = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "probe_label",
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(
            (F.col("rnk") > HN_SKIP)
            & (F.col("rnk") <= HN_SKIP + HN_K)
            & (F.col("label") != F.col("probe_label"))
        )
        .select("probe_id", "vec_id", "label", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


# ------------------------------------------------- MMR diversification
MMR_POOL = 20  # bounded relevance shortlist re-ranked by MMR
MMR_K = 5
MMR_LAMBDA = 0.7

_MMR_PAIR_SIM = r6_sql(cosine_sql("a.v", "b.v"))


@register(
    "l_mmr_diversify",
    oracle=f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.label, round({cosine_sql("e.v", "p.pv")}, 6) AS cos_sim
        FROM e, p WHERE e.vec_id <> 0
    ),
    pool AS (
        SELECT vec_id, label, cos_sim FROM scored
        ORDER BY cos_sim DESC, vec_id LIMIT {MMR_POOL}
    ),
    poolv AS (SELECT e.vec_id, e.v FROM e JOIN pool USING (vec_id)),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b, {_MMR_PAIR_SIM} AS sim
        FROM poolv a, poolv b WHERE a.vec_id <> b.vec_id
    ),
    sel AS (
        (SELECT 1 AS step, vec_id, label, cos_sim,
                {MMR_LAMBDA} * cos_sim AS mmr_score, [vec_id] AS picked
         FROM pool ORDER BY cos_sim DESC, vec_id LIMIT 1)
      UNION ALL
        (SELECT s.step + 1, c.vec_id, c.label, c.cos_sim,
                {MMR_LAMBDA} * c.cos_sim - {round(1 - MMR_LAMBDA, 6)} * (
                    SELECT max(p2.sim) FROM pairs p2
                    WHERE p2.a = c.vec_id AND list_contains(s.picked, p2.b)
                ),
                list_append(s.picked, c.vec_id)
         FROM sel s, pool c
         WHERE s.step < {MMR_K} AND NOT list_contains(s.picked, c.vec_id)
         ORDER BY 5 DESC, c.vec_id LIMIT 1)
    )
    SELECT CAST(step AS BIGINT) AS step, vec_id, label, cos_sim,
           {r6_sql("mmr_score")} AS mmr_score
    FROM sel
    """,
)
def l_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): re-rank
    the top-{MMR_POOL} relevance shortlist into {MMR_K} picks that
    trade relevance against redundancy — pick_i = argmax over remaining
    of ``lambda*sim(q,d) - (1-lambda)*max sim(d, picked)`` — the
    diversified-retrieval / RAG-context-selection standard.

    Scale shape: the ONLY corpus-sized work is the relevance scan
    (broadcast probe, TakeOrderedAndProject shortlist); the greedy is
    ONE applyInPandas call over the {MMR_POOL}-row pool — a bounded
    single-group shuffle of 20 rows.  (The first cut composed the
    {MMR_K} argmax steps lazily as broadcast joins: correct, but ~20
    stages of pure scheduling overhead — 6.2s at sf0.1 vs the scan's
    0.5s.  A greedy over a BOUNDED set belongs in one kernel; what must
    stay distributed is only the shortlist funnel feeding it.)
    Pairwise cosines inside the kernel use the same sequential
    per-dimension fold as the oracle's list_sum (``_seq_dot``) and the
    engine-wide r6 floor rounding, so greedy decisions compare
    bit-identical 6-dp inputs in both engines, vec_id breaking ties —
    the recursive-CTE oracle picks the same rows in the same order.

    Cites reference scope: the reference ships no retrieval ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    import numpy as np
    import pandas as pd

    from bristle_spark.functions.vectors import _seq_dot

    scored = _scored_vs_probe(spark, sf_dir)
    pool = (
        scored.select("vec_id", "label", "cos_sim", "v")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(MMR_POOL)
    )

    def _r6(x: np.ndarray) -> np.ndarray:
        return np.floor(x * 1_000_000 + 0.5) / 1_000_000

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        order = np.lexsort((pdf["vec_id"].to_numpy(), -pdf["cos_sim"].to_numpy()))
        pdf = pdf.iloc[order].reset_index(drop=True)
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["cos_sim"].to_numpy()
        norms = np.sqrt(_seq_dot(V, V))
        A = np.repeat(V, n, axis=0)
        B = np.tile(V, (n, 1))
        sims = _r6(
            (_seq_dot(A, B) / (np.repeat(norms, n) * np.tile(norms, n))).reshape(
                n, n
            )
        )
        k = min(MMR_K, n)
        picked: list[int] = [0]  # row 0 is argmax(rel) after the sort
        out = [(1, ids[0], pdf["label"].iloc[0], rel[0], MMR_LAMBDA * rel[0])]
        lam2 = round(1 - MMR_LAMBDA, 6)
        for step in range(2, k + 1):
            best = None
            for i in range(n):
                if i in picked:
                    continue
                pen = max(sims[i, j] for j in picked)
                score = MMR_LAMBDA * rel[i] - lam2 * pen
                key = (-score, ids[i])
                if best is None or key < best[0]:
                    best = (key, i, score)
            _, i, score = best
            picked.append(i)
            out.append((step, ids[i], pdf["label"].iloc[i], rel[i], score))
        res = pd.DataFrame(
            out, columns=["step", "vec_id", "label", "cos_sim", "mmr_score"]
        )
        res["mmr_score"] = _r6(res["mmr_score"].to_numpy())
        return res

    return pool.withColumn("g", F.lit(1)).groupBy("g").applyInPandas(
        greedy,
        schema="step bigint, vec_id bigint, label bigint, "
        "cos_sim double, mmr_score double",
    )


# ------------------------------------------------- 2-component PCA map


def _deflated_direction(spark: SparkSession, sf_dir: str, v1: DataFrame) -> DataFrame:
    """Second principal direction by power iteration on the DEFLATED
    matrix (every vector's component along ``v1``, the 1-row
    _top_direction frame, removed before the mat-vec) — 1-row frame
    with column ``v2``."""
    e = _embeddings(spark, sf_dir)
    dim = 64
    # deterministic init orthogonal-ish to the uniform vector: alternate
    # signs so the start never collapses onto v1's init
    init = [((-1.0) ** i) / dim**0.5 for i in range(dim)]
    w = spark.range(0, 1, 1, 1).select(
        F.array(*[F.lit(x) for x in init]).alias("w")
    ).localCheckpoint()
    for _ in range(POWER_ITERS):
        # p1 = x.v1, the residual r = x - p1 v1 and pw = r.w are each
        # projected as a column before the next reads it: a Column used
        # inside a lambda is re-evaluated per element, so the nested form
        # costs dim^3 lambda steps per row and round
        p1 = F.aggregate(
            F.zip_with("emb", "v", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        r = F.zip_with("emb", "v", lambda a, b: a - F.col("p1") * b)
        pw = F.aggregate(
            F.zip_with("r", "w", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        contrib = (
            e.select(F.col("v").alias("emb"))
            .crossJoin(F.broadcast(v1))
            .crossJoin(F.broadcast(w))
            .select("emb", "v", "w", p1.alias("p1"))
            .select(r.alias("r"), "w")
            .select("r", pw.alias("pw"))
            .select(F.posexplode(F.transform("r", lambda x: x * F.col("pw"))).alias("pos", "c"))
            .groupBy("pos")
            .agg(F.sum("c").alias("s"))
        )
        packed = contrib.agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps")
        ).select(F.transform("ps", lambda p: p["s"]).alias("w0"))
        norm = F.sqrt(
            F.aggregate("w0", F.lit(0.0), lambda acc, x: acc + x * x)
        )
        w = packed.select(
            F.transform("w0", lambda x: x / norm).alias("w")
        ).localCheckpoint()
    return w.select(F.col("w").alias("v2"))


@register("l_pca_project", oracle=None)
def l_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D PCA projection of the embedding corpus: every vector's
    coordinates along the top principal direction and the second
    (deflation) direction — the corpus-visualization / drift-monitoring
    map every embedding pipeline plots, and the first two steps of PCA
    whitening. Components are sign-canonicalized (first nonzero
    coordinate positive) so the map is unique.

    Spark-first: v1 is the _top_direction run (the same iteration as
    l_embedding_top_component / l_abtt_residual); v2 runs the
    SAME broadcast-direction power iteration on the row-locally deflated
    vectors (residual r = x - (x.v1) v1 computed inside the scan - the
    deflated matrix is never materialized). The projection pass is one
    scan with two 1-row broadcasts and zero shuffles. Rows-only
    (iterative); pinned to a numpy deflated-power reference in
    tests/test_pca_project.py."""
    e = _embeddings(spark, sf_dir)
    v1 = _top_direction(spark, sf_dir)
    v2 = _deflated_direction(spark, sf_dir, v1)

    # sign canonicalization factors (first nonzero coordinate positive)
    def sign_of(col: str) -> F.Column:
        first_nz = F.element_at(F.filter(F.col(col), lambda x: x != 0.0), 1)
        return F.when(first_nz < 0, F.lit(-1.0)).otherwise(F.lit(1.0))

    p1 = F.aggregate(
        F.zip_with("emb", "v", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # pc2 is the RESIDUAL's coordinate along v2 (the orthogonalized
    # basis), not raw x.v2 — matches the deflated reference definition
    resid = F.zip_with("emb", "v", lambda a, b: a - p1 * b)
    p2 = F.aggregate(
        F.zip_with(resid, F.col("v2"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        e.select("vec_id", "label", F.col("v").alias("emb"))
        .crossJoin(F.broadcast(v1))
        .crossJoin(F.broadcast(v2))
        .select(
            "vec_id",
            "label",
            F.round(p1 * sign_of("v"), 6).alias("pc1"),
            F.round(p2 * sign_of("v2"), 6).alias("pc2"),
        )
    )


# --------------------------------------------- NDCG ranking quality
# IDCG@5 for binary relevance with a full relevant set: sum_{i=1..5}
# 1/log2(i+1), precomputed so both engines divide by the identical
# double literal.
NDCG_IDCG = sum(1.0 / math.log2(i + 1) for i in range(1, KNN_EVAL_K + 1))


@register(
    "l_ndcg_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
        SELECT vec_id AS cid, v AS cv FROM e
        WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}
    ),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, cent.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql("e.v", "cent.cv")}, 6) DESC,
                                cent.cid
                   ) AS arn
            FROM e CROSS JOIN cent
        ) WHERE arn = 1
    ),
    p AS (
        SELECT vec_id AS probe_id, v AS pv
        FROM e WHERE vec_id < {KNN_EVAL_PROBES}
    ),
    probe_cells AS (
        SELECT probe_id, pv, cid FROM (
            SELECT p.probe_id, p.pv, cent.cid,
                   row_number() OVER (
                       PARTITION BY p.probe_id
                       ORDER BY round({cosine_sql("p.pv", "cent.cv")}, 6) DESC,
                                cent.cid
                   ) AS crn
            FROM p CROSS JOIN cent
        ) WHERE crn <= {NPROBE}
    ),
    exact AS (
        SELECT probe_id, vec_id FROM (
            SELECT p.probe_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY p.probe_id
                       ORDER BY round({cosine_sql("e.v", "p.pv")}, 6) DESC,
                                e.vec_id
                   ) AS rn
            FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id
        ) WHERE rn <= {KNN_EVAL_K}
    ),
    approx AS (
        SELECT probe_id, vec_id, rn FROM (
            SELECT pc.probe_id, a.vec_id,
                   row_number() OVER (
                       PARTITION BY pc.probe_id
                       ORDER BY round({cosine_sql("a.v", "pc.pv")}, 6) DESC,
                                a.vec_id
                   ) AS rn
            FROM probe_cells pc
            JOIN assign a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id
        ) WHERE rn <= {KNN_EVAL_K}
    ),
    dcg AS (
        SELECT a.probe_id,
               CAST(count(*) AS BIGINT)            AS n_hit,
               sum(1.0 / log2(a.rn + 1))           AS dcg
        FROM approx a
        JOIN exact x ON x.probe_id = a.probe_id AND x.vec_id = a.vec_id
        GROUP BY a.probe_id
    )
    SELECT p.probe_id                            AS vec_id,
           CAST({KNN_EVAL_K} AS BIGINT)          AS k,
           CAST(coalesce(d.n_hit, 0) AS BIGINT)  AS n_hit,
           {rN_sql(f"coalesce(d.dcg, 0.0) / {NDCG_IDCG!r}", 6)} AS ndcg
    FROM p LEFT JOIN dcg d ON d.probe_id = p.probe_id
    """,
)
def l_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the IVF(nprobe={NPROBE}) retrieval against exact
    cosine neighborhoods, per probe — the position-sensitive companion
    to l_ann_recall_eval: recall says WHETHER the true neighbors were
    retrieved, NDCG says whether they surfaced at the TOP (binary
    relevance, 1/log2(pos+1) discount, IDCG precomputed as a shared
    double literal so both engines normalize identically).

    Scale shape: identical to l_ann_recall_eval — broadcast 16-row
    centroid table, map-side cell assignment, bounded broadcast probe
    set, rankings windowed per probe (never global); the DCG sum runs
    over at most k={KNN_EVAL_K} rows per probe."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    raw, exact, approx_pairs, probe_ids = _ivf_eval_frames(e, sf_dir)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    approx = (
        raw.join(F.broadcast(approx_pairs), ["vec_id", "probe_id"])
        .select(
            "probe_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_EVAL_K)
        .select("probe_id", "vec_id", "rn")
    )
    dcg = (
        approx.join(exact, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hit"),
            F.sum(F.lit(1.0) / F.log2(F.col("rn") + 1)).alias("dcg"),
        )
    )
    return probe_ids.join(dcg, "probe_id", "left").select(
        F.col("probe_id").alias("vec_id"),
        F.lit(KNN_EVAL_K).cast("bigint").alias("k"),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        rN(F.coalesce(F.col("dcg"), F.lit(0.0)) / F.lit(NDCG_IDCG), 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# l_silhouette_by_label / l_centroid_drift — embedding-space QA monitors

# silhouette micro-units: per-vector s in [-1, 1] quantized before the
# cross-vector sum (a float sum over vectors would be shuffle-order-
# dependent; the r_cramers_v discipline)
_SIL_SCALE = 1_000_000


@register(
    "l_silhouette_by_label",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
        SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS c
        FROM (
            SELECT label,
                   generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS v
            FROM embeddings
        ) GROUP BY label, pos
    ),
    carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
    dists AS (
        SELECT e.vec_id, e.label, carr.clabel,
               round(1.0 - {cosine_sql("e.v", "carr.cv")}, 6) AS d
        FROM e CROSS JOIN carr
    ),
    own AS (SELECT vec_id, label, d AS a FROM dists WHERE label = clabel),
    other AS (
        SELECT vec_id, min(d) AS b,
               -- composite argmin key: fixed-width d then label, so
               -- lexicographic == (d, label) (min_by has no struct
               -- ordering in DuckDB)
               min_by(clabel, printf('%012.6f', d) || '|' || clabel) AS confusable_label
        FROM dists WHERE label <> clabel GROUP BY vec_id
    ),
    s AS (
        SELECT own.label, other.confusable_label,
               CAST(floor(
                   (CASE WHEN own.a = 0 AND other.b = 0 THEN 0.0
                         ELSE (other.b - own.a) /
                              (CASE WHEN own.a > other.b THEN own.a ELSE other.b END)
                    END) * {_SIL_SCALE} + 0.5) AS BIGINT) AS s_micro
        FROM own JOIN other ON own.vec_id = other.vec_id
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(s_micro) AS BIGINT) AS sil_micro,
           {r6_sql(f'CAST(sum(s_micro) AS DOUBLE) / count(*) / {_SIL_SCALE}')} AS mean_silhouette,
           CAST(sum(CASE WHEN s_micro < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
           -- argmin over s (the worst-clustered vector's nearest foreign
           -- label); s_micro offset to non-negative for the string key
           min_by(confusable_label,
                  printf('%07d', s_micro + 1000000) || '|' || confusable_label)
               AS worst_confusable
    FROM s GROUP BY label
    """,
)
def l_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette over the label structure
    of the embedding space, in cosine distance: per vector, a = distance
    to its OWN label centroid, b = the nearest OTHER centroid, s =
    (b−a)/max(a,b) — the cluster-quality monitor an embedding pipeline
    runs after every re-embed (mean silhouette per label, how many
    vectors sit closer to a foreign prototype, and WHICH label they
    confuse toward).  The medoid-free variant is the one that scales:
    full silhouette is O(n²) pairwise; this is O(n·L) against L
    broadcast centroids.

    Determinism: centroids are the l_centroid_by_label quantized
    (r6-rounded per dimension) prototypes, so every downstream distance
    is a function of already-pinned values; cosine runs through the
    sequential-fold contract (functions/vectors.py) and rounds to 6
    BEFORE the min/argmin; per-vector s quantizes to integer micro
    units before the per-label sum (cross-row float sums are
    shuffle-order-dependent).  Ties in the nearest-other argmin break
    on label name via a (d, label) struct min in both engines.

    Scale shape: one |labels|×dims centroid aggregation (map-side
    combined), then a corpus × L broadcast join — no all-pairs
    anywhere; the final rollup rides the label key.
    """
    e = _embeddings(spark, sf_dir)
    cent = (
        e.select("label", F.posexplode("v").alias("pos0", "cv"))
        .groupBy("label", F.col("pos0").alias("pos"))
        .agg(F.round(F.avg("cv"), 6).alias("c"))
    )
    carr = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    dists = e.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(F.lit(1.0) - cosine(F.col("v"), F.col("cv")), 6).alias("d"),
        # NOTE (r15, measured): although two branches consume this
        # N x L frame, a persist showed NO reproducible win (persist
        # 1.48 s vs 1.18/1.56 s without across three min-of-5 runs —
        # inside session noise) — the byte-identical subtrees already
        # get runtime exchange/stage reuse (the r_market_basket
        # finding).  Leave unpersisted.
    )
    own = dists.filter(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("d").alias("a")
    )
    other = (
        dists.filter(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(
            F.min("d").alias("b"),
            F.min_by(
                "clabel",
                F.concat(
                    F.format_string("%012.6f", F.col("d")),
                    F.lit("|"),
                    F.col("clabel"),
                ),
            ).alias("confusable_label"),
        )
    )
    s_expr = (
        F.when((F.col("a") == 0) & (F.col("b") == 0), F.lit(0.0))
        .otherwise(
            (F.col("b") - F.col("a"))
            / F.when(F.col("a") > F.col("b"), F.col("a")).otherwise(F.col("b"))
        )
    )
    s = own.join(other, "vec_id").select(
        "label",
        "confusable_label",
        F.floor(s_expr * _SIL_SCALE + F.lit(0.5)).cast("bigint").alias("s_micro"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("s_micro").cast("bigint").alias("sil_micro"),
        r6(
            F.sum("s_micro").cast("double")
            / F.count(F.lit(1))
            / F.lit(float(_SIL_SCALE))
        ).alias("mean_silhouette"),
        F.sum(F.when(F.col("s_micro") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_negative"),
        F.min_by(
            "confusable_label",
            F.concat(
                F.format_string("%07d", F.col("s_micro") + F.lit(1_000_000)),
                F.lit("|"),
                F.col("confusable_label"),
            ),
        ).alias("worst_confusable"),
    )


@register(
    "l_centroid_drift",
    oracle="""
    WITH halves AS (
        SELECT label, vec_id % 2 AS half,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, half, pos, round(avg(CAST(v AS DOUBLE)), 6) AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM halves GROUP BY label, half, pos
    ),
    wide AS (
        SELECT a.label, a.pos,
               a.c AS c0, b.c AS c1,
               a.n AS n0, b.n AS n1,
               round((b.c - a.c) * (b.c - a.c), 12) AS d2
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(max(n0) AS BIGINT) AS n_even,
           CAST(max(n1) AS BIGINT) AS n_odd,
           CAST(sum(CAST(floor(d2 * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT) AS d2_pico,
           round(sqrt(CAST(sum(CAST(floor(d2 * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
                      / 1000000000000), 6) AS drift_l2,
           -- argmax by (|shift| rounded, then LOWEST pos): fixed-width
           -- magnitude then inverted pos keeps lexicographic == numeric
           CAST(max_by(pos, printf('%012.6f', round(abs(b_minus_a), 6))
                            || '|' || printf('%03d', 999 - pos)) AS BIGINT) AS max_shift_pos
    FROM (SELECT *, c1 - c0 AS b_minus_a FROM wide)
    GROUP BY label
    """,
)
def l_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus into two interleaved
    snapshots (even/odd vec_id — the A/B halves a re-embedding job
    would produce), compute each label's per-dimension centroid in
    both, and report the L2 centroid shift plus the dimension that
    moved most — the check an ML-ops pipeline runs before swapping an
    embedding model version (silent drift breaks every downstream ANN
    index).

    Determinism: both half-centroids quantize to r6 per dimension
    BEFORE differencing (the l_centroid_by_label contract); each
    dimension's squared shift rounds at 1e-12 and accumulates in
    integer pico-units (cross-dimension float sums are order-
    dependent); the argmax dimension breaks ties toward the LOWEST
    pos via a (|shift|, −pos) struct max in both engines.

    Scale shape: one map-side-combined (label, half, pos) aggregation
    — centroid-sized, never corpus-sized — then joins and rollups on
    the bounded |labels|×dims frame.
    """
    e = load_table(spark, sf_dir, "embeddings")
    halves = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).select("label", "half", (F.col("pos0") + 1).alias("pos"), "v")
    cent = halves.groupBy("label", "half", "pos").agg(
        F.round(F.avg("v"), 6).alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("c0"), F.col("n").alias("n0")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("c1"), F.col("n").alias("n1")
    )
    wide = a.join(b, ["label", "pos"]).select(
        "label",
        "pos",
        "n0",
        "n1",
        F.round((F.col("c1") - F.col("c0")) * (F.col("c1") - F.col("c0")), 12).alias(
            "d2"
        ),
        (F.col("c1") - F.col("c0")).alias("b_minus_a"),
    )
    pico = F.floor(F.col("d2") * F.lit(1_000_000_000_000) + F.lit(0.5)).cast("bigint")
    return wide.groupBy("label").agg(
        F.max("n0").cast("bigint").alias("n_even"),
        F.max("n1").cast("bigint").alias("n_odd"),
        F.sum(pico).cast("bigint").alias("d2_pico"),
        F.round(
            F.sqrt(F.sum(pico).cast("double") / F.lit(1_000_000_000_000.0)), 6
        ).alias("drift_l2"),
        F.max_by(
            "pos",
            F.concat(
                F.format_string("%012.6f", F.round(F.abs(F.col("b_minus_a")), 6)),
                F.lit("|"),
                F.format_string("%03d", F.lit(999) - F.col("pos")),
            ),
        )
        .cast("bigint")
        .alias("max_shift_pos"),
    )


# ---------------------------------------------------------------------------
# l_retrieval_mrr — mean reciprocal rank of the first relevant hit

MRR_PROBES = 50
MRR_K = 10
# reciprocal ranks quantized to micro units before the cross-probe mean
# (1/rank for rank 1..10 is not exactly representable for 3,6,7,9 —
# identical doubles both sides, but the SUM order across probes is not
# pinned; quantize-then-BIGINT-sum is)
_MRR_SCALE = 1_000_000


@register(
    "l_retrieval_mrr",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
        SELECT vec_id AS probe_id, label AS true_label, v AS pv
        FROM e WHERE vec_id < {MRR_PROBES}
    ),
    scored AS (
        SELECT p.probe_id, p.true_label, e.vec_id, e.label,
               round({cosine_sql("e.v", "p.pv")}, 6) AS cos_sim
        FROM e CROSS JOIN p
        WHERE e.vec_id <> p.probe_id
    ),
    ranked AS (
        SELECT probe_id, true_label, label,
               row_number() OVER (
                   PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id
               ) AS rn
        FROM scored
    ),
    firsts AS (
        SELECT probe_id, true_label,
               min(CASE WHEN label = true_label AND rn <= {MRR_K} THEN rn END) AS first_rel
        FROM ranked GROUP BY probe_id, true_label
    ),
    rr AS (
        SELECT true_label, first_rel,
               CAST(CASE WHEN first_rel IS NULL THEN 0
                    ELSE floor(1.0 / first_rel * {_MRR_SCALE} + 0.5) END AS BIGINT) AS rr_micro
        FROM firsts
    )
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(rr_micro) AS BIGINT) AS rr_micro_sum,
           {r6_sql(f'CAST(sum(rr_micro) AS DOUBLE) / count(*) / {_MRR_SCALE}')} AS mrr,
           CAST(sum(CASE WHEN first_rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
           CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k
    FROM rr GROUP BY true_label
    """,
)
def l_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank at k={MRR_K} over a bounded probe sample:
    for each probe, the rank of the FIRST same-label vector in the
    exact-cosine ordering (self excluded), rr = 1/rank (0 if no
    relevant hit in the top {MRR_K}), averaged per true label with
    hits@1 and hits@k — the third standard retrieval-eval metric
    beside l_ndcg_eval (graded relevance) and l_knn_eval (vote
    accuracy); MRR is what RAG pipelines report when only the first
    relevant passage matters.

    Determinism: ranking cuts on the ROUNDED cosine with vec_id
    tiebreak (the knn_eval contract); reciprocal ranks quantize to
    integer micro-units before the cross-probe sum.  Scale shape:
    bounded broadcast probe set × one corpus scan (never N²);
    per-probe windows partition on probe_id.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    probes_meta = e.filter(F.col("vec_id") < MRR_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
    )
    # r16: probe scoring via the mapInArrow kernel (the l_knn_eval
    # shape — one boundary crossing per corpus row).
    scored = (
        _probe_scores_arrow(e, sf_dir, MRR_PROBES, with_label=True)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(F.broadcast(probes_meta), "probe_id")
        .select(
            "probe_id",
            "true_label",
            "vec_id",
            "label",
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    ranked = scored.select(
        "probe_id", "true_label", "label", F.row_number().over(w).alias("rn")
    )
    firsts = ranked.groupBy("probe_id", "true_label").agg(
        F.min(
            F.when(
                (F.col("label") == F.col("true_label")) & (F.col("rn") <= MRR_K),
                F.col("rn"),
            )
        ).alias("first_rel")
    )
    rr_micro = (
        F.when(F.col("first_rel").isNull(), F.lit(0))
        .otherwise(
            F.floor(F.lit(1.0) / F.col("first_rel") * _MRR_SCALE + F.lit(0.5))
        )
        .cast("bigint")
    )
    rr = firsts.select("true_label", "first_rel", rr_micro.alias("rr_micro"))
    return rr.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("rr_micro").cast("bigint").alias("rr_micro_sum"),
        r6(
            F.sum("rr_micro").cast("double")
            / F.count(F.lit(1))
            / F.lit(float(_MRR_SCALE))
        ).alias("mrr"),
        F.sum(F.when(F.col("first_rel") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hits_at_1"),
        F.sum(F.when(F.col("first_rel").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("hits_at_k"),
    )


# ---------------------------------------------------------------------------
# l_ann_list_balance — IVF inverted-list balance QA


@register(
    "l_ann_list_balance",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, cent.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql("e.v", "cent.cv")}, 6) DESC, cent.cid
                   ) AS arn
            FROM e, cent
        ) WHERE arn = 1
    ),
    lists AS (
        SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vectors
        FROM assign GROUP BY cid
    ),
    tot AS (
        SELECT CAST(sum(n_vectors) AS BIGINT) AS n,
               CAST(sum(n_vectors * n_vectors) AS BIGINT) AS sq,
               CAST(max(n_vectors) AS BIGINT) AS mx
        FROM lists
    )
    SELECT cluster_id, n_vectors,
           CAST(n_vectors * 1000000 // tot.n AS BIGINT) AS share_ppm,
           {r6_sql(f'CAST(n_vectors AS DOUBLE) * {IVF_CENTROIDS} / tot.n')} AS skew_vs_uniform,
           CAST(tot.sq * 1000000 // (tot.n * tot.n) AS BIGINT) AS expected_scan_ppm,
           {r6_sql(f'CAST(tot.mx AS DOUBLE) * {IVF_CENTROIDS} / tot.n')} AS hottest_skew
    FROM lists CROSS JOIN tot
    """,
)
def l_ann_list_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance QA — the diagnostic that decides
    whether an IVF index will hot-spot at scale: per coarse cell, the
    list size, its corpus share (exact ppm), and its skew vs the
    uniform ideal; plus two corpus-level figures repeated per row —
    the expected scan fraction at nprobe=1 under query-follows-data
    (sum of squared shares, exact ppm: the probability a random query
    lands in a cell TIMES that cell's share of the corpus) and the
    hottest cell's skew (the straggler bound: the slowest search
    worker does hottest_skew x the average work).

    Assignment is EXACTLY l_ann_ivf's (round-6dp max-cosine, ties to
    the smallest centroid id), so this key also re-witnesses the
    assignment the whole IVF family builds on.

    Determinism: counts and ppm shares are exact BIGINT (ppm division
    is integer floor on both engines); the two ratio columns divide
    exact integers once per row.

    Scale shape: the 16-row centroid table broadcasts; assignment is
    the map-side cross join every IVF key uses (no shuffle before the
    16-key count rollup, which map-side combines); the balance math
    runs on the 16-row lists frame."""
    e = _embeddings(spark, sf_dir).select("vec_id", "v")
    # r16: payload-free assignment via the _probe_scores_arrow kernel
    # (lo=1 selects the pinned donors) + the same max(struct(rounded
    # cos, -cid)) tie rule — one boundary crossing per corpus row
    # instead of the 16-way pair fan-out through the pandas UDF.
    assign = (
        _probe_scores_arrow(e, sf_dir, IVF_CENTROIDS + 1, lo=1)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.round(F.col("cos_raw"), 6).alias("cs"),
                    (-F.col("probe_id")).alias("ncid"),
                )
            ).alias("_best")
        )
        .select("vec_id", (-F.col("_best.ncid")).alias("cid"))
    )
    # r15: the 16-row lists frame feeds both the corpus-total aggregate
    # and the final crossJoin — without a persist each branch re-ran the
    # full assignment (16x coarse crossJoin + per-vector argmin window)
    lists = assign.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    ).persist()
    tot = lists.agg(
        F.sum("n_vectors").cast("bigint").alias("n"),
        F.sum(F.col("n_vectors") * F.col("n_vectors")).cast("bigint").alias("sq"),
        F.max("n_vectors").cast("bigint").alias("mx"),
    )
    return lists.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        "n_vectors",
        F.expr("n_vectors * 1000000 DIV n").cast("bigint").alias("share_ppm"),
        r6(F.col("n_vectors").cast("double") * IVF_CENTROIDS / F.col("n")).alias(
            "skew_vs_uniform"
        ),
        F.expr("sq * 1000000 DIV (n * n)").cast("bigint").alias("expected_scan_ppm"),
        r6(F.col("mx").cast("double") * IVF_CENTROIDS / F.col("n")).alias(
            "hottest_skew"
        ),
    )


# ------------------------------------------------ per-dimension SQ8 QA


@register(
    "l_sq8_quantize_error",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    px AS (
        SELECT vec_id, CAST(i.i AS INT) AS dim, v[CAST(i.i AS INT)] AS x
        FROM e CROSS JOIN range(1, 65) i(i)
    ),
    stats AS (
        SELECT dim, min(x) AS mn, max(x) AS mx,
               CAST(count(*) AS BIGINT) AS n
        FROM px GROUP BY dim
    ),
    coded AS (
        SELECT p.dim, s.mn, s.mx, s.n,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE LEAST(255, GREATEST(0,
                        CAST(floor((p.x - s.mn) / ((s.mx - s.mn) / 255.0) + 0.5)
                             AS BIGINT))) END AS code,
               p.x
        FROM px p JOIN stats s ON p.dim = s.dim
    ),
    err AS (
        SELECT dim, mn, mx, n, code,
               CASE WHEN mx = mn THEN 0.0
                    ELSE abs(x - (mn + CAST(code AS DOUBLE) * ((mx - mn) / 255.0)))
                    END AS ae
        FROM coded
    )
    SELECT dim,
           floor(mn * 1000000 + 0.5) / 1000000 AS dim_min,
           floor(mx * 1000000 + 0.5) / 1000000 AS dim_max,
           floor((mx - mn) / 255.0 * 1000000 + 0.5) / 1000000 AS scale,
           n,
           CAST(sum(CAST(floor(ae * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS abs_err_pico_sum,
           CAST(max(CAST(floor(ae * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS abs_err_pico_max,
           CAST(count(DISTINCT code) AS BIGINT) AS n_codes
    FROM err
    GROUP BY dim, mn, mx, n
    ORDER BY dim
    """,
)
def l_sq8_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION scalar (SQ8) quantization QA over the embedding
    corpus — the compression report a vector store produces before
    committing to 8-bit storage (FAISS ScalarQuantizer QT_8bit
    semantics: affine per-dimension [min, max] grids, vs
    l_ann_int8_rerank's per-VECTOR max-abs scaling): for each of the
    64 dimensions, the corpus min/max, the affine scale, the exact
    summed and maximal absolute reconstruction error, and the number
    of distinct codes actually used (a near-constant dimension wastes
    its 8 bits — the signal to prune or re-center).

    Determinism: min/max over doubles are exact order-free aggregates;
    code = floor((x-mn)/scale + 0.5) and the reconstruction are short
    fixed IEEE op chains written identically in both engines; each
    row-dim's |error| quantizes to PICO units (floor(ae*1e12 + 0.5)
    BIGINT) BEFORE the corpus sum, so no cross-row double accumulation
    exists (the r_cramers_v discipline). Degenerate mx = mn dimensions
    emit code 0 / error 0 by definition rather than 0/0.

    Scale shape: two passes over the corpus (per-dim min/max rollup,
    then code+error rollup), both map-side-combined to 64-row frames;
    the dim-stats join is a 64-row broadcast. The dimension explode
    multiplies rows 64x but never shuffles at that width — both
    aggregations reduce it straight back to 64 rows."""
    e = _embeddings(spark, sf_dir)
    px = e.select(
        "vec_id", F.posexplode("v").alias("dim0", "x")
    ).select((F.col("dim0") + 1).cast("int").alias("dim"), "x")
    stats = px.groupBy("dim").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.floor((F.col("x") - F.col("mn")) / scale + F.lit(0.5)).cast(
                    "bigint"
                ),
            ),
        )
    )
    coded = px.join(F.broadcast(stats), "dim").withColumn("code", code)
    ae = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        F.abs(
            F.col("x") - (F.col("mn") + F.col("code").cast("double") * scale)
        )
    )
    pico = F.floor(ae * F.lit(1000000000000.0) + F.lit(0.5)).cast("bigint")
    return (
        coded.withColumn("ae_pico", pico)
        .groupBy("dim", "mn", "mx", "n")
        .agg(
            F.sum("ae_pico").cast("bigint").alias("abs_err_pico_sum"),
            F.max("ae_pico").cast("bigint").alias("abs_err_pico_max"),
            F.countDistinct("code").cast("bigint").alias("n_codes"),
        )
        .select(
            "dim",
            r6(F.col("mn")).alias("dim_min"),
            r6(F.col("mx")).alias("dim_max"),
            r6(scale).alias("scale"),
            "n",
            "abs_err_pico_sum",
            "abs_err_pico_max",
            "n_codes",
        )
        .orderBy("dim")
    )
