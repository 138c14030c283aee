"""Plan-shape pins: the physical properties that matter at 100 TB,
asserted so a regression (lost pushdown, surprise shuffle, dropped
broadcast) fails CI rather than an at-scale run.
"""

from __future__ import annotations

import pytest

from bristle_spark import plans
from bristle_spark.registry import all_specs

SPECS = all_specs()


def test_filter_predicates_pushed_to_scan(spark, sf_dir):
    df = SPECS["r_filter_predicates"].fn(spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert any("In(o_orderstatus" in p for p in pushed)
    assert any("GreaterThanOrEqual(o_totalprice" in p for p in pushed)
    assert any("StringStartsWith(o_orderpriority" in p for p in pushed)


def test_hash_agg_prunes_columns_and_pushes_filter(spark, sf_dir):
    df = SPECS["r_hash_agg"].fn(spark, sf_dir)
    assert any("LessThanOrEqual(l_shipdate" in p for p in plans.pushed_filters(df))
    schemas = plans.read_schemas(df)
    assert len(schemas) == 1
    # 7 needed columns, not all 11
    assert schemas[0].count(":") == 7 and "l_orderkey" not in schemas[0]
    # partial (map-side) + final aggregation
    assert plans.node_count(df, "HashAggregate") >= 2


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("r_join_broadcast", "r_join_inner", "r_join_multi"):
        df = SPECS[name].fn(spark, sf_dir)
        assert plans.has_node(df, "BroadcastHashJoin"), name
        assert not plans.has_node(df, "SortMergeJoin"), name


def test_topk_avoids_global_sort(spark, sf_dir):
    df = SPECS["r_sort_limit_topk"].fn(spark, sf_dir)
    assert plans.has_node(df, "TakeOrderedAndProject")


def test_project_rename_is_scan_only(spark, sf_dir):
    df = SPECS["t_project_rename"].fn(spark, sf_dir)
    assert plans.exchange_count(df) == 0


def test_day_partitioned_sink_prunes(spark, sf_dir, tmp_path):
    """The sink's partition-by-day layout (reference MergeTree
    PARTITION BY parity) must turn date predicates into partition
    pruning — at 100 TB this is the difference between scanning one
    day and scanning the lake."""
    from pyspark.sql import functions as F

    from bristle_spark.catalog import load_table
    from bristle_spark.ingest.pipeline import write_sink

    ev = load_table(spark, sf_dir, "events")
    dest = str(tmp_path / "events_sink")
    write_sink(ev, dest, ts_column="ts", order_by=["ts"], mode="overwrite")
    back = spark.read.parquet(dest)
    n_days = back.select("_day").distinct().count()
    assert n_days > 1
    one_day = back.filter(F.col("_day") == back.select(F.min("_day")).collect()[0][0])
    plan = plans.plan_string(one_day)
    # partition filter present and scan limited to one partition dir
    assert "PartitionFilters: [isnotnull(_day" in plan
    assert one_day.count() > 0


@pytest.mark.usefixtures("spark")
def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    from bristle_spark.plans.bucketing import bucketed_join_demo

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed, unbucketed = bucketed_join_demo(spark, sf_dir)
        assert plans.has_node(bucketed, "SortMergeJoin")
        assert plans.exchange_count(bucketed) == 0  # bucket-local merge join
        assert plans.exchange_count(unbucketed) >= 2  # both sides shuffle
        assert bucketed.count() == unbucketed.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_range_join_uses_equi_hash_join(spark, sf_dir):
    """The interval join must key on user_id (hash join + residual range
    filter), never degrade to a nested-loop/cartesian plan."""
    df = all_specs()["r_range_join"].fn(spark, sf_dir)
    assert not plans.has_node(df, "CartesianProduct")
    assert not plans.has_node(df, "BroadcastNestedLoopJoin")
    assert plans.has_node(df, "BroadcastHashJoin") or plans.has_node(
        df, "SortMergeJoin"
    ) or plans.has_node(df, "ShuffledHashJoin")


def test_tfidf_broadcasts_vocabulary(spark, sf_dir):
    """The vocabulary-sized df side joins by broadcast; only the 1-row
    n_docs aggregate may appear as a (trivial) broadcast NLJ."""
    df = all_specs()["l_tfidf_top_terms"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastHashJoin")
    assert not plans.has_node(df, "CartesianProduct")


def test_exists_subquery_decorrelates_to_hash_joins(spark, sf_dir):
    """Catalyst must rewrite EXISTS / NOT EXISTS into semi/anti hash
    joins — no nested-loop execution of the correlated subqueries."""
    df = all_specs()["r_exists_subquery"].fn(spark, sf_dir)
    assert not plans.has_node(df, "BroadcastNestedLoopJoin")
    assert not plans.has_node(df, "CartesianProduct")
    assert plans.node_count(df, "BroadcastHashJoin") + plans.node_count(
        df, "SortMergeJoin"
    ) >= 2


def test_dedup_ann_family_has_no_cartesian_joins(spark, sf_dir):
    """Every candidate-generation join in the dedup/ANN family must key
    on a band/bucket/shingle — a CartesianProduct or non-trivial
    BroadcastNestedLoopJoin means the blocking scheme fell out of the
    plan and the operator is O(n^2) at scale."""
    for name in (
        "l_dedup_exact",
        "l_dedup_minhash",
        "l_dedup_simhash",
        "l_dedup_ngram_jaccard",
        "l_dedup_containment",
        "l_dedup_embedding",
        "l_dedup_semantic",
        "l_minhash_error",
        "l_ann_lsh",
        "l_ann_ivf",
        "l_ann_knn_join",
        "l_contamination_ngram",
        "l_cluster_representatives",
    ):
        df = SPECS[name].fn(spark, sf_dir)
        assert not plans.has_node(df, "CartesianProduct"), name
        if name in ("l_ann_ivf", "l_dedup_semantic"):
            # the sanctioned NLJ: every vector x 16 broadcast centroids
            # (map-side assignment, O(16n), no shuffle)
            continue
        assert not plans.has_node(df, "BroadcastNestedLoopJoin"), name


def test_stratified_sample_broadcasts_decision_table(spark, sf_dir):
    """l_stratified_sample's per-(source, bucket) decision table joins
    the corpus by broadcast (it is strata x 1024 rows); the corpus side
    must never shuffle for that join, and the only windows allowed are
    per-(source, bucket) boundary sorts plus the tiny decision-table
    prefix sum — no per-source global rank of the big side."""
    df = all_specs()["l_stratified_sample"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastHashJoin")
    assert not plans.has_node(df, "CartesianProduct")
    assert not plans.has_node(df, "BroadcastNestedLoopJoin")


def test_phash_dedup_is_band_keyed(spark, sf_dir):
    df = all_specs()["m_png_phash_dedup"].fn(spark, sf_dir)
    assert not plans.has_node(df, "CartesianProduct")
    assert not plans.has_node(df, "BroadcastNestedLoopJoin")


def test_embedding_dedup_candidates_are_band_bounded(spark, tmp_path):
    """Skew case from the round-3 verdict: vectors whose first 8 dims are
    all positive collapsed the old single-8-bit-bucket scheme into ONE
    bucket (all n^2/2 pairs). The banded scheme must keep candidate
    pairs under 1% of n^2 because each 16-bit band still splits on the
    dims the skew leaves free."""
    import numpy as np
    from pyspark.sql import functions as F

    from bristle_spark.queries.dedup import EMB_BAND_BITS, EMB_BANDS, _emb_band_key

    rng = np.random.default_rng(7)
    n, dim = 1000, EMB_BANDS * EMB_BAND_BITS
    vecs = rng.standard_normal((n, dim))
    vecs[:, :8] = np.abs(vecs[:, :8])  # adversarial: 8 dims always positive
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], "vec_id bigint, v array<double>"
    )
    bands = df.select(
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
    x, y = bands.alias("x"), bands.alias("y")
    n_candidates = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select("x.vec_id", "y.vec_id")
        .distinct()
        .count()
    )
    assert n_candidates < 0.01 * n * n, n_candidates


def test_unigram_logprob_broadcasts_lm(spark, sf_dir):
    """The bounded LM vocabulary (and the 1-row total) must broadcast to
    the token stream — the corpus-sized side never shuffles for the
    scoring join."""
    df = SPECS["l_unigram_logprob"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastHashJoin")
    assert not plans.has_node(df, "CartesianProduct")


def test_cross_snapshot_dedup_joins_on_hash(spark, sf_dir):
    """The carried/fresh classification joins 8-byte content hashes —
    only the 1-row snapshot selector may appear as a trivial broadcast
    NLJ; the hash join itself is never nested-loop."""
    df = SPECS["l_cross_snapshot_dedup"].fn(spark, sf_dir)
    assert not plans.has_node(df, "CartesianProduct")
    assert (
        plans.node_count(df, "BroadcastHashJoin")
        + plans.node_count(df, "SortMergeJoin")
        + plans.node_count(df, "ShuffledHashJoin")
        >= 1
    )


def test_unpivot_prunes_to_measure_columns(spark, sf_dir):
    """stack() is a generator inside the scan projection: column pruning
    must still reach parquet (exactly the 4 measure columns), and the
    per-measure profile shuffles only 4 pre-combined groups."""
    df = SPECS["r_unpivot"].fn(spark, sf_dir)
    schemas = plans.read_schemas(df)
    assert schemas
    assert "l_orderkey" not in schemas[0]
    assert "l_quantity" in schemas[0]
    assert plans.exchange_count(df) == 1


def test_centroid_by_label_single_shuffle(spark, sf_dir):
    """posexplode + (label, pos) agg: one centroid-sized shuffle, partial
    aggregation map-side."""
    df = SPECS["l_centroid_by_label"].fn(spark, sf_dir)
    assert plans.exchange_count(df) == 1
    assert "HashAggregate" in plans.plan_string(df, "simple")


def test_knn_eval_broadcasts_probes(spark, sf_dir):
    """The bounded probe set joins the corpus scan by broadcast (probes
    x N scoring, never N^2); no cartesian product anywhere."""
    df = SPECS["l_knn_eval"].fn(spark, sf_dir)
    assert not plans.has_node(df, "CartesianProduct")
    assert plans.has_node(df, "BroadcastExchange")


def test_feature_hash_is_stateless_aggregation(spark, sf_dir):
    """Hashing-trick vectorizer: no vocabulary join, no broadcast, no
    window — just map-side-combined aggregations and a co-partitioned
    doc_id join."""
    df = SPECS["l_feature_hash_embedding"].fn(spark, sf_dir)
    simple = plans.plan_string(df, "simple")
    assert "WindowExec" not in simple and "Window" not in simple
    assert not plans.has_node(df, "CartesianProduct")
    assert not plans.has_node(df, "BroadcastNestedLoopJoin")
    assert plans.exchange_count(df) <= 3


def test_recall_eval_broadcasts_centroids_and_probes(spark, sf_dir):
    """Both small sides (16-row centroid table, bounded probe set) join
    by broadcast; the only NLJs are those sanctioned map-side cross
    joins — no CartesianProduct ever."""
    df = SPECS["l_ann_recall_eval"].fn(spark, sf_dir)
    assert not plans.has_node(df, "CartesianProduct")
    assert plans.has_node(df, "BroadcastExchange")


def test_duplicate_passages_joins_on_hash(spark, sf_dir):
    """Passage df + flag join key on 60-bit hashes; no windows, no
    cartesian, text shuffled at most once (explode is a generator)."""
    df = SPECS["l_duplicate_passages"].fn(spark, sf_dir)
    simple = plans.plan_string(df, "simple")
    assert "WindowExec" not in simple
    assert not plans.has_node(df, "CartesianProduct")
    assert plans.has_node(df, "Generate")


def test_pack_sequences_windows_are_shard_partitioned(spark, sf_dir):
    """The packing cumsum must be a shard-partitioned window (the
    no-global-windows sweep also enforces this) with one shuffle."""
    df = SPECS["l_pack_sequences"].fn(spark, sf_dir)
    assert not plans.unpartitioned_windows(df)
    assert plans.exchange_count(df) == 1


def test_bloom_prune_prefilter_actually_prunes(spark, sf_dir):
    """The bloom prefilter must (a) keep every true join row (no false
    negatives — oracle parity covers exact equality), (b) build a
    bitmap bounded by m/64 words regardless of dim size, and (c) drop a
    meaningful share of fact rows before the join."""
    from pyspark.sql import functions as F

    from bristle_spark.queries.analytic import (
        BLOOM_M,
        BLOOM_PRICE_FLOOR,
        BLOOM_SEEDS,
        r_bloom_prune,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > BLOOM_PRICE_FLOOR
    )
    bits = o.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("o_orderkey", F.lit(sd)), F.lit(BLOOM_M))
                    for sd in BLOOM_SEEDS
                ]
            )
        ).alias("p")
    )
    n_words = bits.select((F.col("p") / 64).cast("bigint")).distinct().count()
    assert n_words <= BLOOM_M // 64
    # plan: the bloom probe joins must both be broadcasts
    df = r_bloom_prune(spark, sf_dir)
    assert plans.node_count(df, "BroadcastHashJoin") >= 2
    # selectivity: with a selective dim and m >> keys the FP rate is
    # tiny, so the prefiltered fact side should be well under the total
    n_keys = o.count()
    total_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    sel = n_keys / total_orders
    if sel < 0.5:  # fixture-dependent guard
        joined = df.agg(F.sum("n_items")).collect()[0][0] or 0
        assert joined <= li.count() * (sel + 0.1)


def test_bigram_logprob_broadcasts_lm(spark, sf_dir):
    """The capped bigram LM (and the 1-row total) must broadcast to the
    bigram stream — the corpus-sized side never shuffles for the
    scoring join (the l_unigram_logprob discipline)."""
    df = SPECS["l_bigram_logprob"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastHashJoin")
    assert not plans.has_node(df, "CartesianProduct")


def test_mixture_sampler_is_broadcast_gated_scan(spark, sf_dir):
    """The per-source rate table must BROADCAST back into the document
    scan and the accept test must stay a map-side predicate — the
    corpus never shuffles (the whole point of the ppm hash gate)."""
    df = SPECS["l_mixture_sampler"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastHashJoin")
    assert not plans.has_node(df, "SortMergeJoin")


def test_weighted_sample_is_single_narrow_stage(spark, sf_dir):
    """Type-token-ratio weighting is pure row-local array math: zero
    exchanges end to end."""
    df = SPECS["l_weighted_sample"].fn(spark, sf_dir)
    assert plans.exchange_count(df) == 0


def test_prefix_dedup_single_hash_shuffle(spark, sf_dir):
    """Keep-first on the prefix hash is ONE map-side-combinable
    aggregation: exactly one exchange, partial+final HashAggregate,
    no window and no join."""
    df = SPECS["l_prefix_dedup"].fn(spark, sf_dir)
    assert plans.exchange_count(df) == 1
    assert plans.node_count(df, "HashAggregate") >= 2
    assert not plans.has_node(df, "Window")
    assert not plans.has_node(df, "SortMergeJoin")


def test_mips_candidates_broadcast_probe_and_norm(spark, sf_dir):
    """Probe and max-norm frames are 1-row broadcasts; the top-k is
    TakeOrderedAndProject — nothing corpus-sized shuffles."""
    df = SPECS["l_mips_topk"].fn(spark, sf_dir)
    assert plans.has_node(df, "TakeOrderedAndProject")
    assert not plans.has_node(df, "SortMergeJoin")
    assert not plans.has_node(df, "CartesianProduct")


def test_matryoshka_eval_is_join_free(spark, sf_dir):
    """Overlap is decided row-locally (both ranks on the same scored
    row), so the plan has NO join at all, and both rankings share one
    partitionBy(probe_id) window stage over a single corpus scan.
    r16: scoring runs in the _probe_scores_arrow kernel — ONE corpus
    FileScan and a MapInArrow node (the probe slice is read inside the
    task, not as a second scan + broadcast cross)."""
    df = SPECS["l_matryoshka_eval"].fn(spark, sf_dir)
    assert not plans.has_node(df, "SortMergeJoin")
    assert not plans.has_node(df, "BroadcastHashJoin")
    assert plans.has_node(df, "MapInArrow")
    assert plans.node_count(df, "FileScan") == 1  # corpus only
    assert plans.node_count(df, "Window") == 2
    assert plans.exchange_count(df) <= 2  # probe_id partition (+ final agg)


def test_ivfpq_prunes_cells_before_pq_and_broadcasts_tables(spark, sf_dir):
    """IVF-PQ: both quantizer tables and the ADC distance table are
    broadcast; the probed-cell whitelist prunes the corpus BEFORE the
    residual-encode generator; candidate cut and final top-k are
    TakeOrderedAndProject. No sort-merge join, no cartesian product."""
    df = SPECS["l_ann_ivfpq"].fn(spark, sf_dir)
    assert plans.has_node(df, "TakeOrderedAndProject")
    assert not plans.has_node(df, "SortMergeJoin")
    assert not plans.has_node(df, "CartesianProduct")
    assert plans.has_node(df, "BroadcastHashJoin")


def test_ivf_assignment_is_aggregated_not_windowed(spark, sf_dir):
    """r15: the coarse-assignment argmin is a map-side-combinable
    min/max-of-struct aggregation — the candidate rows collapse to one
    per vector BEFORE the exchange (16x fewer shuffled bytes, no rank
    window). A Window reappearing in these keys means the argmin
    regressed to the crossJoin + row_number form that shuffles every
    scored copy of every vector."""
    for name in ("l_ann_ivf", "l_ann_ivf_nprobe", "l_ann_list_balance",
                 "l_ivf_train_kmeans", "l_dedup_semantic"):
        df = SPECS[name].fn(spark, sf_dir)
        simple = plans.plan_string(df, "simple")
        assert "Window" not in simple, name


def test_pq_encode_argmin_hash_aggregates(spark, sf_dir):
    """r15: the per-(vec, subspace) PQ code argmin is a packed-BIGINT
    primitive min — a SortAggregate reappearing means the argmin
    regressed to the struct form that map-side-sorts all K x M
    candidate rows per vector."""
    df = SPECS["l_ann_pq"].fn(spark, sf_dir)
    assert not plans.has_node(df, "SortAggregate")
    assert not plans.has_node(df, "Window")


def test_audio_fingerprint_single_hash_shuffle(spark, sf_dir):
    """Fingerprinting is partition-local mapInPandas; the keep-first
    group step is ONE map-side-combinable aggregation on the 8-byte
    fingerprint key (the l_prefix_dedup discipline).  A narrow bench
    scan additionally gets the kernel rebalance (r15): at most one
    RoundRobin exchange before the compute, none at corpus scale."""
    df = SPECS["m_audio_fingerprint"].fn(spark, sf_dir)
    assert plans.exchange_count(df) <= 2
    assert plans.exchange_count(df) - plans.node_count(df, "RoundRobinPartitioning") == 1
    assert plans.node_count(df, "HashAggregate") >= 2
    assert not plans.has_node(df, "SortMergeJoin")


def test_kernel_rebalance_widens_narrow_scan(spark, sf_dir):
    """The codec kernels are CPU-bound per row, so a one-split bench
    scan must be rebalanced to the session's core count BEFORE the
    mapInPandas stages — otherwise the whole m_* chain serializes on
    one Python worker (the r14 gate's 6.4 s m_jpeg_rgb_stats line
    item; VERDICT r14 ask #2).  The rebalance is conditional: it only
    appears when the scan is narrower than defaultParallelism, so at
    corpus scale (thousands of splits) the plan keeps zero compute
    shuffles — both branches are asserted here."""
    from bristle_spark.catalog import fan_out_if_coarse, load_table

    df = SPECS["m_jpeg_rgb_stats"].fn(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    narrow = load_table(spark, sf_dir, "documents")
    if narrow.rdd.getNumPartitions() < target:
        assert plans.has_node(df, "RoundRobinPartitioning")
    # wide input: the rebalance must vanish (metadata-only branch)
    wide = narrow.repartition(target)
    assert fan_out_if_coarse(wide) is wide


def test_scene_cut_is_partition_local(spark, sf_dir):
    """Shot-boundary detection is pure mapInPandas over the scan: the
    only exchanges are the presentation sort's range partitioning and
    its r15 sampling shield (the hash exchange of the narrow feature
    frame that stops the range-partitioner's sample job from re-running
    the codec chain — multimodal_q._present); the compute itself stays
    narrow."""
    df = SPECS["m_png_scene_cut"].fn(spark, sf_dir)
    # <=2 presentation exchanges (hash shield + range sort) + at most
    # one narrow-scan kernel rebalance (RoundRobin — absent at corpus
    # scale), and still no compute shuffle (no aggregate, no join)
    assert plans.exchange_count(df) - plans.node_count(df, "RoundRobinPartitioning") <= 2
    assert not plans.has_node(df, "HashAggregate")
    assert not plans.has_node(df, "SortMergeJoin")


def test_codec_presentation_sort_is_shielded(spark, sf_dir):
    """r15: every zero-shuffle codec pipeline ends with _present — a
    hash exchange of the narrow feature frame BETWEEN the mapInPandas
    kernels and the presentation sort's range exchange.  Without it the
    range partitioner's bounds-sampling job re-executes the whole
    Python codec chain a second time (measured ~+80% per key at sf0.1);
    with it the sample job materializes the hash shuffle once and the
    sort's map stage reuses those shuffle files.  Keys whose final
    frame already sits above an aggregation exchange (phash dedup,
    audio fingerprint) don't carry the extra exchange."""
    from bristle_spark.plans import plan_string

    for key in ("m_jpeg_pixel_stats", "m_png_scene_cut", "m_wav_silence_trim"):
        df = SPECS[key].fn(spark, sf_dir)
        s = plan_string(df, "formatted")
        i_range = s.index("rangepartitioning")
        i_hash = s.index("hashpartitioning")
        i_py = s.index("MapInPandas")
        # formatted output lists operators bottom-up in the tree header,
        # but the Arguments blocks appear in node-id order: the hash
        # shield's exchange node sits between the kernels and the sort
        assert i_py < i_hash < i_range, key


def test_hard_negatives_broadcast_probes(spark, sf_dir):
    """The probe set broadcasts; the rank cut is a bounded per-probe
    window — no sort-merge join, no cartesian product."""
    df = SPECS["l_hard_negatives"].fn(spark, sf_dir)
    assert not plans.has_node(df, "SortMergeJoin")
    assert not plans.has_node(df, "CartesianProduct")
    assert plans.node_count(df, "Window") == 1


def test_mode_per_group_avoids_window_sort(spark, sf_dir):
    """r_mode_per_group's engine plan is the min(struct) argmax — two
    map-side-combined aggregations, never a per-key window sort (which
    would spill on hot users at 100 TB)."""
    df = SPECS["r_mode_per_group"].fn(spark, sf_dir)
    assert not plans.has_node(df, "Window")
    assert plans.exchange_count(df) == 2
    # counts: hash partial+final; argmax: struct-min SortAggregate
    # partial+final (its Sort is by grouping key over the compressed
    # counts frame, not a per-key window sort of raw events)
    assert plans.node_count(df, "HashAggregate") >= 2
    assert plans.node_count(df, "SortAggregate") >= 2


def test_weighted_median_windows_compressed_distribution(spark, sf_dir):
    """The cumulative-weight window must run over the per-(flag, price)
    aggregate, not raw lineitem — pin the aggregation-before-window
    order and the bounded exchange count (the final per-flag groupBy
    rides the window's partitioning)."""
    df = SPECS["r_weighted_median"].fn(spark, sf_dir)
    # pre-aggregation (partial+final) exists, bounded exchanges, and
    # every window is partitioned (enforced repo-wide too)
    assert plans.node_count(df, "HashAggregate") >= 2
    assert plans.has_node(df, "Window")
    assert plans.exchange_count(df) <= 3
    assert plans.unpartitioned_windows(df) == []


def test_pareto_share_broadcasts_customer_dim(spark, sf_dir):
    df = SPECS["r_pareto_share"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastHashJoin")
    assert not plans.has_node(df, "SortMergeJoin")
    assert plans.unpartitioned_windows(df) == []


def test_market_basket_broadcasts_marginals_and_funnels_topk(spark, sf_dir):
    """Pair generation is keyed on l_orderkey (corpus-sized, shuffled —
    correct); the |parts|-row frequency table and 1-row order count are
    broadcast so the pair frame is never re-shuffled for enrichment;
    the top-K cut is a TakeOrderedAndProject."""
    df = SPECS["r_market_basket"].fn(spark, sf_dir)
    assert plans.node_count(df, "BroadcastHashJoin") >= 2
    assert plans.has_node(df, "BroadcastNestedLoopJoin")  # 1-row order count
    assert plans.has_node(df, "TakeOrderedAndProject")


def test_cusum_windows_post_aggregate(spark, sf_dir):
    """The corpus-sized shuffle is the (type, day) count with map-side
    combine; every window runs on the |types|x|days| frame after it."""
    df = SPECS["r_cusum_changepoint"].fn(spark, sf_dir)
    assert plans.node_count(df, "HashAggregate") >= 2
    assert plans.has_node(df, "Window")
    assert plans.unpartitioned_windows(df) == []


def test_edit_distance_dedup_shuffles_heads_only(spark, sf_dir):
    """Only (doc_id, prefix, 128-char head, length) may reach the
    self-join — never the full text column."""
    df = SPECS["l_edit_distance_dedup"].fn(spark, sf_dir)
    schemas = plans.read_schemas(df)
    assert schemas and all("text" in s for s in schemas)  # scan reads text...
    s = plans.plan_string(df)
    # ...but every exchange ships the projected head/pfx, not text
    assert "Exchange" in s
    for line in s.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line


def test_vocab_growth_ladder_is_broadcast_triangular(spark, sf_dir):
    """The cumulative decile ladder must be a broadcast nested-loop join
    over the <=10-row bucket frames — never an unpartitioned window and
    never a corpus-sized replication."""
    df = SPECS["l_vocab_growth"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastNestedLoopJoin")
    assert not plans.has_node(df, "Window")
    assert plans.unpartitioned_windows(df) == []


def test_pagerank_edges_are_id_keyed(spark, sf_dir):
    """The edge build and every per-round shuffle must key on shingle
    hash / doc ids — no cartesian, no nested-loop except the 1-row
    dangling-mass broadcast."""
    from bristle_spark.queries.graph import doc_graph_edges

    df = doc_graph_edges(spark, sf_dir)
    assert not plans.has_node(df, "CartesianProduct")
    assert not plans.has_node(df, "BroadcastNestedLoopJoin")


def test_uncertainty_sample_is_scan_plus_takeordered(spark, sf_dir):
    df = SPECS["l_uncertainty_sample"].fn(spark, sf_dir)
    assert plans.has_node(df, "TakeOrderedAndProject")
    assert plans.exchange_count(df) == 0  # row-local scoring, no shuffle


def test_sliding_distinct_is_equi_keyed(spark, sf_dir):
    """The 7-day window must come from exploding the compressed
    (day, user) pairs to their window-end days — an equi-join/equi-agg
    plan, never a range nested-loop over raw events."""
    df = SPECS["r_sliding_distinct"].fn(spark, sf_dir)
    assert not plans.has_node(df, "CartesianProduct")
    assert plans.has_node(df, "Generate")  # the explode
    assert plans.unpartitioned_windows(df) == []


def test_stats_tests_family_plan_shapes(spark, sf_dir):
    """Round-8 third wave: the hypothesis-test family must keep its
    100 TB shapes — tiny-frame enrichments ride broadcasts, never a
    SortMergeJoin of the corpus against a 1/5/9-row aggregate."""
    # Welch pairs: |types|^2 self-join of a 5-row aggregate — broadcast
    df = SPECS["r_welch_ttest"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastNestedLoopJoin") or plans.has_node(
        df, "BroadcastHashJoin"
    )
    assert not plans.has_node(df, "SortMergeJoin")
    # Benford: grand total is a broadcast 1-row join, 9-row result
    df = SPECS["r_benford"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastNestedLoopJoin")
    assert not plans.has_node(df, "SortMergeJoin")
    # chi2: top-K term cut is a TakeOrderedAndProject; every dimension
    # enrichment (top terms x langs x total) broadcasts
    df = SPECS["l_chi2_terms"].fn(spark, sf_dir)
    assert plans.has_node(df, "TakeOrderedAndProject")
    assert plans.has_node(df, "BroadcastHashJoin")


def test_sparse_cosine_topk_is_take_ordered(spark, sf_dir):
    """The top-50 cosine cut must be a per-partition top-k merge, not a
    global sort of the pair frame."""
    df = SPECS["l_sparse_cosine_topk"].fn(spark, sf_dir)
    assert plans.has_node(df, "TakeOrderedAndProject")


def test_ks_test_windows_partition_by_source(spark, sf_dir):
    """The ECDF cumsum windows must partition by source (grid-bounded
    partitions); the no-global-window sweep covers the partitioning,
    this pins that the value grid reaches the window via a broadcast
    (distribution-sized frames, never a corpus shuffle)."""
    df = SPECS["l_ks_test"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastNestedLoopJoin") or plans.has_node(
        df, "BroadcastHashJoin"
    )
    assert not plans.unpartitioned_windows(df)


def test_ttl_rollup_cutoff_broadcasts_and_rolled_tier_combines(spark, sf_dir):
    """The max-day cutoff is a broadcast 1-row aggregate (no global
    window, no sort-merge join anywhere), the raw tier is a pure
    filter+project, and the rolled tier is a map-side-combined
    aggregation — at 100 TB on the day-partitioned sink the raw-tier
    predicate is partition pruning, so only expired days are scanned
    for the rollup."""
    df = SPECS["r_ttl_rollup"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastNestedLoopJoin") or plans.has_node(
        df, "BroadcastHashJoin"
    )
    assert not plans.has_node(df, "SortMergeJoin")
    assert not plans.has_node(df, "Window")
    # partial + final HashAggregate for the rolled tier (plus the 1-row
    # max-day aggregate); the raw tier adds none
    assert plans.node_count(df, "HashAggregate") >= 2


def test_mv_late_update_prunes_via_broadcast_key_set(spark, sf_dir):
    """r_mv_late_update: the affected-key set reaches the MV through
    BROADCAST semi + anti joins (never a shuffle of the MV side), and
    the merge re-aggregation never degenerates to a SortMergeJoin."""
    df = SPECS["r_mv_late_update"].fn(spark, sf_dir)
    # one semi (rows to merge) + one anti (verbatim pass-through)
    assert plans.node_count(df, "BroadcastHashJoin") >= 2
    assert not plans.has_node(df, "SortMergeJoin")
    assert not plans.has_node(df, "Window")
    assert not plans.has_node(df, "CartesianProduct")


def test_sequence_match_is_one_window_pass(spark, sf_dir):
    """r_sequence_match: single sort-based window over one user_id
    exchange — no self-join, no per-pattern rescan."""
    df = SPECS["r_sequence_match"].fn(spark, sf_dir)
    assert plans.node_count(df, "Window") == 1
    assert not plans.has_node(df, "Join")
    assert not plans.has_node(df, "CartesianProduct")


def test_exp_decay_anchor_is_broadcast(spark, sf_dir):
    """The decay anchor is a 1-row broadcast (column-stats max), never a
    shuffled join; the body is one user-keyed partial aggregation."""
    df = SPECS["r_exp_decay_avg"].fn(spark, sf_dir)
    assert plans.has_node(df, "BroadcastExchange")
    assert not plans.has_node(df, "SortMergeJoin")
    assert "HashAggregate" in plans.plan_string(df, "simple")


def test_curriculum_order_never_global_sorts(spark, sf_dir):
    """The composed-offset global ordering must plan NO global sort and
    NO SortMergeJoin — offsets ride broadcasts, ranks ride bounded
    (band, bucket) window partitions."""
    df = SPECS["l_curriculum_order"].fn(spark, sf_dir)
    simple = plans.plan_string(df, "simple")
    assert not plans.has_node(df, "SortMergeJoin")
    # both joins (predecessor-sum and offsets-back) must be broadcasts
    assert plans.has_node(df, "BroadcastExchange")
    # the only top-level Sort allowed is the window's intra-partition
    # sort; a global (non-partitioned) Sort would print 'Sort [band...' 
    # without a partial flag — pin via the unpartitioned-window check
    assert plans.unpartitioned_windows(df) == []


def test_duplicate_spans_merges_inside_doc_partition(spark, sf_dir):
    """Span merging must never leave the per-document partition: the
    islands windows are doc-partitioned, and duplicated-window
    detection is a hash aggregation (no self-join of positions)."""
    df = SPECS["l_duplicate_spans"].fn(spark, sf_dir)
    assert plans.unpartitioned_windows(df) == []
    assert not plans.has_node(df, "CartesianProduct")
    assert not plans.has_node(df, "BroadcastNestedLoopJoin")


def test_summap_two_level_aggregation(spark, sf_dir):
    """sumMap: the fact table collapses in the (user, type) aggregation;
    the map assembly re-aggregates the collapsed frame — two exchanges,
    no joins, no windows at all."""
    df = SPECS["r_summap"].fn(spark, sf_dir)
    assert plans.exchange_count(df) == 2
    assert not plans.has_node(df, "Join")
    assert plans.unpartitioned_windows(df) == []
