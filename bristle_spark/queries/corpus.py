"""Group L — corpus hygiene for training-data pipelines: intra-document
repetition scoring, benchmark-contamination checks, dedup-cluster
representative selection, and per-source corpus profiling.

These extend the reference's query surface the same way the dedup/ANN
family does (BASELINE.json training-data ops): each is a first-class
declared query with a DuckDB oracle over the synthetic ``documents``
table, built Spark-first:

- l_repetition_score is pure row-local array math — zero shuffles, the
  per-document quality-signal shape (Gopher-style repeated n-gram
  fraction) that scales linearly;
- l_contamination_ngram joins train/eval shingle sets on 60-bit md5
  hashes (8-byte shuffle keys, same lever as l_dedup_ngram_jaccard);
- l_cluster_representatives is keep-one-per-cluster on top of the
  l_dedup_clusters connected components (partitioned window, never
  global);
- l_corpus_stats is a single map-side-combinable aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bristle_spark.catalog import fan_out_if_coarse, load_table
from bristle_spark.functions.hashing import hash60, hash60_sql
from bristle_spark.queries.dedup import (
    _MINHASH_CTES,
    _TOK_CTE,
    _SHINGLES_SQL,
    _shingle_rows,
    _tokens,
    l_dedup_clusters,
)
from bristle_spark.functions.rounding import r6, r6_sql, rN, rN_sql
from bristle_spark.queries.textops import STOPWORDS
from bristle_spark.registry import register

REP_SHINGLE_WORDS = 3  # repetition scoring n-gram size
REP_THRESHOLD = 0.2  # dup-shingle fraction above which a doc is "repetitive"
CONTAM_EVAL_PCT = 10  # deterministic hash bucket share held out as eval set
CONTAM_MIN_SHARED = 3  # shared distinct shingles to flag contamination
CONTAM_MAX_DF = 20  # df-cap: drop shingles in more docs (skew + signal lever)


@register(
    "l_repetition_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {REP_SHINGLE_WORDS}
    ),
    sh AS (
        SELECT doc_id,
               len(t) - {REP_SHINGLE_WORDS - 1} AS n_shingles,
               len(list_distinct(list_transform(
                   range(1, len(t) - {REP_SHINGLE_WORDS - 2}),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS n_distinct
        FROM tok
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           (floor((1.0 - n_distinct / n_shingles) * 1000000 + 0.5) / 1000000) AS dup_ratio,
           CAST(1.0 - n_distinct / n_shingles > {REP_THRESHOLD} AS INT) AS repetitive
    FROM sh
    """,
)
def l_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of 3-word shingles that are duplicates of an earlier
    shingle in the same document. Entirely row-local array math — no
    explode, no shuffle, no state — so it costs one linear scan at any
    corpus size."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    d = d.withColumn("t", t).filter(F.size("t") >= REP_SHINGLE_WORDS)
    tc = F.col("t")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(tc) - (REP_SHINGLE_WORDS - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tc, i + j) for j in range(REP_SHINGLE_WORDS)]
        ),
    )
    n_shingles = (F.size(tc) - (REP_SHINGLE_WORDS - 1)).cast("bigint")
    n_distinct = F.size(F.array_distinct(shingles)).cast("bigint")
    dup = F.lit(1.0) - n_distinct / n_shingles
    return d.select(
        "doc_id",
        n_shingles.alias("n_shingles"),
        n_distinct.alias("n_distinct"),
        r6(dup).alias("dup_ratio"),
        (dup > REP_THRESHOLD).cast("int").alias("repetitive"),
    )


@register(
    "l_contamination_ngram",
    oracle=f"""
    WITH {_TOK_CTE.strip()},
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM tok),
    h AS (
        SELECT doc_id, {hash60_sql("s")} AS sh,
               {hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        FROM sh
    ),
    rare AS (
        SELECT sh FROM h GROUP BY sh HAVING count(*) <= {CONTAM_MAX_DF}
    ),
    hr AS (SELECT h.* FROM h JOIN rare USING (sh)),
    e AS (SELECT doc_id AS eval_doc, sh FROM hr WHERE bucket >= {100 - CONTAM_EVAL_PCT}),
    tr AS (SELECT doc_id AS train_doc, sh FROM hr WHERE bucket < {100 - CONTAM_EVAL_PCT})
    SELECT train_doc,
           COUNT(DISTINCT tr.sh) AS n_shared_shingles,
           COUNT(DISTINCT eval_doc) AS n_eval_docs
    FROM tr JOIN e ON tr.sh = e.sh
    GROUP BY train_doc
    HAVING COUNT(DISTINCT tr.sh) >= {CONTAM_MIN_SHARED}
    """,
)
def l_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: which training documents share >=3
    distinct rare 5-gram shingles with the held-out eval slice
    (deterministic 10%-by-hash of the corpus — the engine- and
    layout-invariant split, same as l_train_val_test). The join keys
    are 60-bit md5 shingle hashes — 8-byte shuffle keys — and shingles
    occurring in more than CONTAM_MAX_DF documents are dropped before
    the join (the l_dedup_ngram_jaccard df-cap): ubiquitous n-grams are
    not contamination signal, and the cap bounds any join key's fan-out
    at df^2, which is what keeps the shuffle skew-proof at 100 TB."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    # the hashed shingle index feeds four plan branches (df count, the
    # rare filter join, and both sides of the overlap join); persist it
    # once — same discipline as l_dedup_ngram_jaccard, measured 1.7x at
    # sf0.1 (2.1s vs 3.6s); at scale this is a materialized index table
    sh = _shingle_rows(d).select(
        "doc_id",
        hash60(F.col("s")).alias("sh"),
        (hash60(F.col("doc_id").cast("string")) % 100).alias("bucket"),
    ).persist()
    # r16 (guide §2.4, the _capped_pair_candidates shape): df cap as a
    # count window over the cached postings (one hs exchange instead of
    # the groupBy + join-back pair), then the train x eval overlap
    # expands ROW-LOCALLY per shingle group — collect_list skips the
    # NULLs the split conditions produce, each list is bounded by the
    # df cap, and the exploded (train, eval) pairs are exactly the old
    # sh-keyed join's output rows. Saves the join-back and both
    # re-shuffles of the ev/tr sides.
    shr = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .filter(F.col("df") <= CONTAM_MAX_DF)
    )
    is_eval = F.col("bucket") >= 100 - CONTAM_EVAL_PCT
    grp = (
        shr.groupBy("sh")
        .agg(
            F.collect_list(F.when(is_eval, F.col("doc_id"))).alias("evs"),
            F.collect_list(F.when(~is_eval, F.col("doc_id"))).alias("trs"),
        )
        .filter((F.size("evs") > 0) & (F.size("trs") > 0))
    )
    pairs = grp.select(
        "sh",
        F.explode("trs").alias("train_doc"),
        "evs",
    ).select("sh", "train_doc", F.explode("evs").alias("eval_doc"))
    return (
        pairs.groupBy("train_doc")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
        .filter(F.col("n_shared_shingles") >= CONTAM_MIN_SHARED)
    )


@register(
    "l_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM near_pairs
        UNION ALL
        SELECT doc_b, doc_a FROM near_pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    reach AS (
        SELECT doc, doc AS root FROM nodes
        UNION
        SELECT e.dst AS doc, r.root
        FROM reach r JOIN edges e ON e.src = r.doc
    ),
    clusters AS (
        SELECT doc AS doc_id, CAST(min(root) AS BIGINT) AS cluster_id
        FROM reach GROUP BY doc
    ),
    members AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id, rep_doc, n_members FROM (
        SELECT cluster_id, doc_id AS rep_doc,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
               row_number() OVER (
                   PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM members
    ) WHERE rn = 1
    """,
)
def l_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster: for every near-duplicate cluster from
    l_dedup_clusters, elect the longest member (ties to the smallest
    doc_id) as the representative to retain in the training set. The
    window is partitioned by cluster_id — per-cluster work, never a
    global sort — and the documents join adds one hash join on
    doc_id."""
    clusters = l_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return representatives_from(clusters, docs)


def representatives_from(clusters: DataFrame, docs: DataFrame) -> DataFrame:
    """Core of l_cluster_representatives over an ALREADY-COMPUTED
    clusters DataFrame — composing pipelines (l_clean_funnel) pass the
    one propagation result in rather than re-running the iterative
    connected-components loop, which at 100 TB is the most expensive
    stage of the funnel."""
    m = clusters.join(docs, "doc_id")
    pw = Window.partitionBy("cluster_id")
    w = pw.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        m.select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc"),
            F.count(F.lit(1)).over(pw).alias("n_members"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_id", "rep_doc", "n_members")
    )


@register(
    "l_corpus_stats",
    oracle=f"""
    SELECT source,
           count(*)                                   AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           {rN_sql("avg(n_chars)", 4)}                AS avg_chars,
           count(DISTINCT lang)                       AS n_langs
    FROM documents
    GROUP BY source
    """,
)
def l_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (docs / tokens / mean length / language
    spread) — the one-shuffle map-side-combinable aggregation a pipeline
    runs before and after every filtering stage."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        rN(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


NGRAM_TOP = 50


@register(
    "l_ngram_counts",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {REP_SHINGLE_WORDS}
    ),
    grams AS (
        SELECT unnest(list_transform(
            range(1, len(t) - {REP_SHINGLE_WORDS - 2}),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        FROM tok
    ),
    counted AS (SELECT gram, count(*) AS n FROM grams GROUP BY gram)
    SELECT gram, n FROM (
        SELECT *, row_number() OVER (ORDER BY n DESC, gram) AS rn FROM counted
    ) WHERE rn <= {NGRAM_TOP}
    """,
)
def l_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus 3-gram frequency table, top-50 — the C4/Gopher-style
    corpus analysis pass (boilerplate and template discovery). All
    occurrences count (not per-doc distinct). One aggregation shuffle
    with map-side combine on the gram string; the top-50 cut is
    orderBy().limit() — TakeOrderedAndProject, never a global window."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    d = d.withColumn("t", t).filter(F.size("t") >= REP_SHINGLE_WORDS)
    tc = F.col("t")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(tc) - (REP_SHINGLE_WORDS - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tc, i + j) for j in range(REP_SHINGLE_WORDS)]
        ),
    )
    return (
        d.select(F.explode(shingles).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram"))
        .limit(NGRAM_TOP)
    )


QUALITY_MIN = 0.4  # funnel quality cut (median-ish on the synthetic corpus)


@register(
    "l_clean_funnel",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM near_pairs
        UNION ALL
        SELECT doc_b, doc_a FROM near_pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    reach AS (
        SELECT doc, doc AS root FROM nodes
        UNION
        SELECT e.dst AS doc, r.root
        FROM reach r JOIN edges e ON e.src = r.doc
    ),
    clusters AS (
        SELECT doc AS doc_id, CAST(min(root) AS BIGINT) AS cluster_id
        FROM reach GROUP BY doc
    ),
    members AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    ),
    reps AS (
        SELECT rep_doc FROM (
            SELECT doc_id AS rep_doc,
                   row_number() OVER (
                       PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
                   ) AS rn
            FROM members
        ) WHERE rn = 1
    ),
    exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    stage3 AS (
        SELECT k.doc_id FROM exact_keep k
        LEFT JOIN clusters c ON c.doc_id = k.doc_id
        LEFT JOIN reps r ON r.rep_doc = k.doc_id
        WHERE c.doc_id IS NULL OR r.rep_doc IS NOT NULL
    ),
    qual AS (
        SELECT doc_id,
               (floor(((CAST(least(len(string_split(text, ' ')), 100) AS DOUBLE) / 100.0) * 0.5
                     + (CAST(len(list_filter(string_split(text, ' '),
                          x -> x IN ({", ".join(f"'{w}'" for w in STOPWORDS)}))) AS DOUBLE)
                        / len(string_split(text, ' '))) * 0.3
                     + (1.0 / (1.0 + abs((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                        / len(string_split(text, ' '))) - 5.0))) * 0.2) * 1000000 + 0.5) / 1000000) AS quality
        FROM documents
    ),
    stage4 AS (
        SELECT s.doc_id FROM stage3 s JOIN qual q ON q.doc_id = s.doc_id
        WHERE q.quality >= {QUALITY_MIN}
    )
    SELECT 1 AS stage_idx, 'total' AS stage, (SELECT count(*) FROM documents) AS n_docs
    UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM exact_keep)
    UNION ALL SELECT 3, 'near_dedup', (SELECT count(*) FROM stage3)
    UNION ALL SELECT 4, 'quality', (SELECT count(*) FROM stage4)
    """,
)
def l_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-cleaning funnel, one row per stage: raw ->
    exact dedup (keep-first by text) -> near-dup cluster pruning (keep
    each cluster's representative) -> quality cut. Composes the
    registered operators (cluster propagation, representatives, quality
    scoring) rather than re-deriving them; every stage is a join or
    aggregation on doc_id — 8-byte keys, no new shuffle shapes."""
    from bristle_spark.queries.textops import l_quality_score

    d = load_table(spark, sf_dir, "documents")
    exact_keep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    # ONE propagation run: l_dedup_clusters returns a localCheckpoint-
    # backed frame, so deriving both the membership set and the
    # representatives from the same DataFrame costs no recompute
    # (round-5 verdict: calling l_cluster_representatives here re-ran
    # the whole iterative loop a second time)
    clusters_full = l_dedup_clusters(spark, sf_dir)
    clusters = clusters_full.select("doc_id")
    reps = representatives_from(
        clusters_full, d.select("doc_id", "n_chars")
    ).select(F.col("rep_doc").alias("doc_id"))
    non_clustered = exact_keep.join(clusters, "doc_id", "left_anti")
    rep_survivors = exact_keep.join(reps, "doc_id", "left_semi")
    stage3 = non_clustered.union(rep_survivors)
    qual_ok = (
        l_quality_score(spark, sf_dir)
        .filter(F.col("quality") >= QUALITY_MIN)
        .select("doc_id")
    )
    stage4 = stage3.join(qual_ok, "doc_id", "left_semi")

    def stage_count(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage_count(d, 1, "total")
        .union(stage_count(exact_keep, 2, "exact_dedup"))
        .union(stage_count(stage3, 3, "near_dedup"))
        .union(stage_count(stage4, 4, "quality"))
    )


# --- corpus unigram LM scoring ------------------------------------------
LM_VOCAB_TOP = 1_000  # frequency-capped LM vocabulary (scale lever)
LM_LOW_LOGPROB = -4.0  # nats/token; below this a doc is out-of-distribution


# the per-doc LM-scoring CTE chain, shared by l_unigram_logprob and
# l_perplexity_filter (whose oracle buckets the same per-doc scores)
_LM_CTES = f"""
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    vocab AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab),
    topk AS (
        SELECT t, c FROM (
            SELECT *, row_number() OVER (ORDER BY c DESC, t) AS rn FROM vocab
        ) WHERE rn <= {LM_VOCAB_TOP}
    ),
    lp AS (
        SELECT t, ln(CAST(c AS DOUBLE) / n) AS logp FROM topk CROSS JOIN tot
    ),
    scored AS (
        SELECT tok.doc_id,
               coalesce(lp.logp, ln(1.0 / (n + 1))) AS logp,
               CAST(lp.t IS NULL AS INT)            AS oov
        FROM tok LEFT JOIN lp ON tok.t = lp.t CROSS JOIN tot
    ),
    docscore AS (
        SELECT doc_id,
               count(*)                 AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               {r6_sql("sum(logp) / count(*)")} AS avg_logprob
        FROM scored GROUP BY doc_id
    )
"""


@register(
    "l_unigram_logprob",
    oracle=f"""
    WITH {_LM_CTES}
    SELECT doc_id, n_tokens, n_oov, avg_logprob,
           CAST(avg_logprob < {LM_LOW_LOGPROB} AS INT) AS low_logprob
    FROM docscore
    """,
)
def l_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free perplexity proxy against the CORPUS unigram
    distribution: each document scores the mean log-probability of its
    tokens under a frequency-capped unigram LM built from the corpus
    itself (the classic "does this doc look like the rest of the data"
    filter; CCNet/Gopher use a real LM, the shape is identical).

    Scale shape: the vocabulary aggregation is one map-side-combinable
    shuffle; the top-K cut is orderBy().limit() (TakeOrderedAndProject,
    never a global window) so the LM table is bounded at {LM_VOCAB_TOP}
    rows regardless of corpus size and BROADCAST to the token stream —
    the scoring join never shuffles the corpus. Out-of-vocabulary tokens
    take the ln(1/(N+1)) floor. The low flag compares the ROUNDED value
    so both engines gate on identical bits."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").cast("bigint").alias("n"))
    topk = vocab.orderBy(F.col("c").desc(), "t").limit(LM_VOCAB_TOP)
    lp = topk.crossJoin(F.broadcast(tot)).select(
        "t", F.log(F.col("c").cast("double") / F.col("n")).alias("logp")
    )
    scored = (
        tok.join(F.broadcast(lp), "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.coalesce("logp", F.log(F.lit(1.0) / (F.col("n") + 1))).alias("lp"),
            F.isnull("logp").cast("int").alias("oov"),
        )
    )
    avg_lp = r6(F.sum("lp") / F.count(F.lit(1)))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        avg_lp.alias("avg_logprob"),
        (avg_lp < LM_LOW_LOGPROB).cast("int").alias("low_logprob"),
    )


# --- Zipf law fit over the corpus vocabulary -----------------------------
ZIPF_TOP = 1_000  # fit over the top-K ranks (the linear region of the curve)


@register(
    "l_zipf_slope",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    vocab AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r FROM vocab
    ),
    xy AS (
        SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        FROM ranked WHERE r <= {ZIPF_TOP}
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           {r6_sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
           {r6_sql("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n")}
               AS intercept
    FROM s
    """,
)
def l_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of ln(frequency) vs ln(rank) over the top-K
    vocabulary — the Zipf-law fit corpus audits use to spot template
    spam and mode collapse (natural text slopes near -1; machine-looped
    corpora flatten or cliff).

    The regression is written out as the explicit normal-equation
    arithmetic — (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) — with the SAME
    operand order in both engines rather than engine-native regr_slope,
    whose internal update formulas differ bit-wise between Spark and
    DuckDB. Scale shape: one vocab aggregation shuffle, a bounded
    top-{ZIPF_TOP} TakeOrdered cut, then a single-row reduce. Rank
    assignment deliberately avoids WindowExec (the no-global-windows CI
    guard): the top-K set — at most {ZIPF_TOP} rows by construction,
    independent of corpus size — is sorted inside ONE explicit
    partition and ranked with monotonically_increasing_id, the same
    bounded-constant funnel as the driver-side merge of any top-k."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    topk = vocab.orderBy(F.col("c").desc(), "t").limit(ZIPF_TOP)
    ranked = (
        topk.repartition(1)
        .sortWithinPartitions(F.col("c").desc(), "t")
        .withColumn("r", F.monotonically_increasing_id() + 1)
    )
    xy = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_ranks"),
        r6(slope).alias("slope"),
        r6((sy - slope * sx) / n).alias("intercept"),
    )


# --- cross-snapshot dedup ------------------------------------------------


@register(
    "l_cross_snapshot_dedup",
    oracle=f"""
    WITH mx AS (SELECT max(source) AS s FROM documents),
    new_docs AS (
        SELECT doc_id, {hash60_sql("text")} AS h
        FROM documents CROSS JOIN mx WHERE source = s
    ),
    old_hashes AS (
        SELECT DISTINCT {hash60_sql("text")} AS h
        FROM documents CROSS JOIN mx WHERE source <> s
    )
    SELECT n.doc_id,
           CASE WHEN o.h IS NULL THEN 'fresh' ELSE 'carried' END AS status
    FROM new_docs n LEFT JOIN old_hashes o ON n.h = o.h
    """,
)
def l_cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: documents of the NEWEST snapshot (the
    max source acts as the fresh crawl) are classified ``carried`` when
    their exact content hash already exists in any earlier snapshot,
    else ``fresh`` — the anti-join every periodic ingestion runs so only
    novel content flows downstream.

    Scale shape: both sides reduce to 8-byte 60-bit content hashes
    before the join; the old side is DISTINCT-ed (one map-side-combined
    shuffle) and the join is hash-partitioned on the hash key — no
    broadcast of a corpus-sized side, no text ever shuffled. The
    snapshot selector is a 1-row broadcast, not a collected scalar."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("source").alias("s"))
    with_h = d.crossJoin(F.broadcast(mx)).select(
        "doc_id", "source", "s", hash60(F.col("text")).alias("h")
    )
    new_docs = with_h.filter(F.col("source") == F.col("s")).select("doc_id", "h")
    old_hashes = (
        with_h.filter(F.col("source") != F.col("s")).select("h").distinct()
        .withColumnRenamed("h", "oh")
    )
    return new_docs.join(
        old_hashes, new_docs["h"] == old_hashes["oh"], "left"
    ).select(
        "doc_id",
        F.when(F.col("oh").isNull(), F.lit("fresh"))
        .otherwise(F.lit("carried"))
        .alias("status"),
    )


# --- cross-document duplicate passages -----------------------------------
PASSAGE_WORDS = 8  # non-overlapping passage block size
DUP_PASSAGE_FRAC = 0.2  # above this duplicated-passage share, flag the doc


@register(
    "l_duplicate_passages",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    blocks AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, CAST(floor(len(t) / {PASSAGE_WORDS}) AS INT) + 1),
                   i -> array_to_string(
                       list_slice(t, (i - 1) * {PASSAGE_WORDS} + 1,
                                  i * {PASSAGE_WORDS}), ' '))) AS passage
        FROM tok
    ),
    hashed AS (SELECT doc_id, {hash60_sql("passage")} AS h FROM blocks),
    df AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM hashed GROUP BY h),
    per_doc AS (
        SELECT hashed.doc_id,
               count(*)                                       AS n_passages,
               CAST(sum(CAST(df.n_docs >= 2 AS INT)) AS BIGINT) AS n_dup
        FROM hashed JOIN df ON hashed.h = df.h
        GROUP BY hashed.doc_id
    )
    SELECT doc_id, n_passages, n_dup,
           {r6_sql("CAST(n_dup AS DOUBLE) / n_passages")} AS dup_frac,
           CAST({r6_sql("CAST(n_dup AS DOUBLE) / n_passages")}
                > {DUP_PASSAGE_FRAC} AS INT) AS flagged
    FROM per_doc
    """,
)
def l_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-passage detection (the Dolma/C4
    paragraph-dedup shape): every document splits into non-overlapping
    {PASSAGE_WORDS}-token blocks, blocks hash to 60 bits, and a block is
    "duplicated" when its hash occurs in 2+ distinct documents; docs
    whose duplicated share exceeds {DUP_PASSAGE_FRAC} are flagged
    (boilerplate/template carriers). Complements l_repetition_score
    (intra-doc) and l_dedup_* (whole-doc): this finds SHARED passages
    across otherwise-distinct documents.

    Scale shape: passage explode is a Catalyst generator; the document
    frequency is one map-side-combined aggregation on 8-byte hashes; the
    flag join re-shuffles only (doc_id, h) pairs on the hash key. No
    windows, no distinct-on-text, no text ever shuffled twice."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    d = d.withColumn("t", t).filter(F.size("t") >= PASSAGE_WORDS)
    tc = F.col("t")
    blocks = F.transform(
        F.sequence(F.lit(1), F.floor(F.size(tc) / PASSAGE_WORDS).cast("int")),
        lambda i: F.concat_ws(
            " ", F.slice(tc, (i - 1) * PASSAGE_WORDS + 1, PASSAGE_WORDS)
        ),
    )
    hashed = d.select("doc_id", F.explode(blocks).alias("p")).select(
        "doc_id", hash60(F.col("p")).alias("h")
    )
    df_tbl = hashed.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    per_doc = (
        hashed.join(df_tbl, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("n_docs") >= 2).cast("int")).cast("bigint").alias("n_dup"),
        )
    )
    dup_frac = r6(F.col("n_dup").cast("double") / F.col("n_passages"))
    return per_doc.select(
        "doc_id",
        "n_passages",
        "n_dup",
        dup_frac.alias("dup_frac"),
        (dup_frac > DUP_PASSAGE_FRAC).cast("int").alias("flagged"),
    )


# --- sequence packing ----------------------------------------------------
PACK_SHARDS = 64  # hash shards; packing is per-shard (the 100 TB knob)
PACK_BIN_TOKENS = 512  # training sequence length


@register(
    "l_pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               {hash60_sql("CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS} AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard
                   ORDER BY {hash60_sql("CAST(doc_id AS VARCHAR)")}, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM sized
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           CAST(floor((cum - n_tokens) / {PACK_BIN_TOKENS}) AS BIGINT) AS seq_index,
           CAST((cum - n_tokens) % {PACK_BIN_TOKENS} AS BIGINT)        AS start_offset
    FROM packed
    """,
)
def l_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: documents concatenate in a
    deterministic (hash, doc_id) order and are chopped into fixed
    {PACK_BIN_TOKENS}-token training sequences; each doc learns which
    sequence it starts in (seq_index) and at what offset — the
    concat-then-chunk layout every pretraining data loader builds.

    Packing is per hash-shard BY DESIGN: a global concatenation order
    would be one unbounded window (the canonical scale-killer), while
    {PACK_SHARDS} shards pack independently — exactly how a distributed
    loader shards its corpus — and the shard count is the scale knob
    (at 100 TB, thousands of shards = thousands of independent window
    partitions). All arithmetic is integer, so both engines agree
    bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"))
    sized = d.select(
        "doc_id",
        (h % PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        "n_tokens",
        F.floor(start / PACK_BIN_TOKENS).cast("bigint").alias("seq_index"),
        (start % PACK_BIN_TOKENS).cast("bigint").alias("start_offset"),
    )


# --- quality-signal ensemble ---------------------------------------------
ENSEMBLE_MIN_PASS = 4  # strict mode: every signal must pass


def _signal_oracle(name: str) -> str:
    """The registered oracle SQL of a signal query, wrapped for CTE use
    (DuckDB allows a CTE body to carry its own WITH)."""
    from bristle_spark.registry import _REGISTRY

    return _REGISTRY[name].oracle


@register(
    "l_quality_ensemble",
    oracle=f"""
    WITH q AS ({{q}}),
    ent AS ({{ent}}),
    lp AS ({{lp}}),
    rep AS ({{rep}})
    SELECT q.doc_id,
           CAST(q.quality >= {QUALITY_MIN} AS INT)            AS pass_quality,
           CAST(coalesce(1 - ent.low_entropy, 1) AS INT)      AS pass_entropy,
           CAST(coalesce(1 - lp.low_logprob, 1) AS INT)       AS pass_logprob,
           CAST(coalesce(1 - rep.repetitive, 1) AS INT)       AS pass_repetition,
           CAST(q.quality >= {QUALITY_MIN} AS INT)
             + CAST(coalesce(1 - ent.low_entropy, 1) AS INT)
             + CAST(coalesce(1 - lp.low_logprob, 1) AS INT)
             + CAST(coalesce(1 - rep.repetitive, 1) AS INT)   AS n_pass,
           CAST((CAST(q.quality >= {QUALITY_MIN} AS INT)
             + CAST(coalesce(1 - ent.low_entropy, 1) AS INT)
             + CAST(coalesce(1 - lp.low_logprob, 1) AS INT)
             + CAST(coalesce(1 - rep.repetitive, 1) AS INT))
               >= {ENSEMBLE_MIN_PASS} AS INT)                 AS keep
    FROM q
    LEFT JOIN ent ON ent.doc_id = q.doc_id
    LEFT JOIN lp  ON lp.doc_id  = q.doc_id
    LEFT JOIN rep ON rep.doc_id = q.doc_id
    """,
)
def l_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop vote every cleaning pipeline ends with: four
    independent quality signals — heuristic quality score, within-doc
    token entropy, corpus unigram log-prob, and intra-doc repetition —
    each cast a pass/fail, and a document survives only when all
    {ENSEMBLE_MIN_PASS} signals pass (strict mode — the majority knob is
    ENSEMBLE_MIN_PASS). Signals a doc is missing from
    (e.g. too short to shingle) count as passes, matching each signal's
    own don't-flag default.

    Scale shape (r15 restructure, guide §2.3/§2.4): the quality and
    entropy signals both reduce over the per-(doc, token) count frame,
    so the engine computes ONE shared tf aggregation and derives both
    flags from a single doc-keyed pass — n_tok = Σc and
    n_stop = Σ c·[t∈stopwords] are integer-exact rewrites of the
    per-token sums, and the entropy expression is lifted verbatim from
    l_token_entropy over the identical tf input, so every emitted bit
    matches the 4-query composition (oracle parity re-proven). The
    logprob signal keeps its own plan — its per-token fp sum must keep
    l_unigram_logprob's exact accumulation shape — and repetition stays
    the row-local scan. Before: 4 independent corpus tokenizations +
    3 joins; after: 2 tokenizations (shared tf + logprob's), the
    row-local repetition scan, and the same joins. The oracle composes
    the four signals' REGISTERED oracle SQL verbatim as CTEs, so
    engine and oracle can never drift per-signal."""
    from bristle_spark.queries.textops import ENTROPY_LOW, STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    entropy = r6(F.log(n) - F.sum(F.col("c") * F.log("c")) / n)
    stats = tf.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tok"),
        F.sum(F.when(F.col("t").isin(*STOPWORDS), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_stop"),
        (1 - (entropy < ENTROPY_LOW).cast("int")).alias("p_ent"),
    )
    scalars = d.select("doc_id", F.length("text").cast("bigint").alias("n_char"))
    avg_tok_len = (
        F.col("n_char") - (F.col("n_tok") - 1)
    ).cast("double") / F.col("n_tok")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    quality = (
        (F.least(F.col("n_tok"), F.lit(100)).cast("double") / 100.0) * 0.5
        + stop_ratio * 0.3
        + (1.0 / (1.0 + F.abs(avg_tok_len - 5.0))) * 0.2
    )
    q = stats.join(scalars, "doc_id").select(
        "doc_id",
        (r6(quality) >= QUALITY_MIN).cast("int").alias("pass_quality"),
        "p_ent",
    )
    lp = l_unigram_logprob(spark, sf_dir).select(
        "doc_id", (1 - F.col("low_logprob")).cast("int").alias("p_lp")
    )
    rep = l_repetition_score(spark, sf_dir).select(
        "doc_id", (1 - F.col("repetitive")).cast("int").alias("p_rep")
    )
    joined = q.join(lp, "doc_id", "left").join(rep, "doc_id", "left")
    p_ent = F.coalesce(F.col("p_ent"), F.lit(1))
    p_lp = F.coalesce(F.col("p_lp"), F.lit(1))
    p_rep = F.coalesce(F.col("p_rep"), F.lit(1))
    n_pass = F.col("pass_quality") + p_ent + p_lp + p_rep
    return joined.select(
        "doc_id",
        "pass_quality",
        p_ent.alias("pass_entropy"),
        p_lp.alias("pass_logprob"),
        p_rep.alias("pass_repetition"),
        n_pass.alias("n_pass"),
        (n_pass >= ENSEMBLE_MIN_PASS).cast("int").alias("keep"),
    )


def _finalize_ensemble_oracle() -> None:
    """Substitute the four signals' registered oracles into the ensemble
    oracle template (they are registered above/in textops, so this runs
    after all four exist)."""
    from bristle_spark.registry import _REGISTRY

    spec = _REGISTRY["l_quality_ensemble"]
    filled = spec.oracle.format(
        q=_signal_oracle("l_quality_score"),
        ent=_signal_oracle("l_token_entropy"),
        lp=_signal_oracle("l_unigram_logprob"),
        rep=_signal_oracle("l_repetition_score"),
    )
    _REGISTRY["l_quality_ensemble"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=filled, group=spec.group, doc=spec.doc
    )


from bristle_spark.registry import QuerySpec  # noqa: E402

_finalize_ensemble_oracle()


# --- span-corruption masking ---------------------------------------------
SPAN_MASK_RATE = 15  # percent of tokens masked
SPAN_LEN = 3  # tokens per corrupted span (T5's mean span length)


@register(
    "l_span_corruption",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    spans AS (
        SELECT doc_id, n_tokens,
               CAST(floor((n_tokens * {SPAN_MASK_RATE})
                          / {100 * SPAN_LEN}.0) AS BIGINT) AS n_spans
        FROM tok WHERE n_tokens > {SPAN_LEN}
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS span_idx,
           CAST({hash60_sql(f"doc_id || ':' || i")}
                % (n_tokens - {SPAN_LEN} + 1) AS BIGINT) AS span_start,
           CAST({SPAN_LEN} AS BIGINT) AS span_len,
           n_tokens
    FROM spans, unnest(range(0, CAST(n_spans AS INT))) AS u(i)
    """,
)
def l_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask selection: for each document,
    deterministically pick floor(n_tokens x {SPAN_MASK_RATE}% /
    {SPAN_LEN}) spans of {SPAN_LEN} tokens to corrupt, each span's
    start drawn from the document's token range by a 60-bit hash of
    (doc_id, span index) — the reproducible, engine-independent
    randomness the sampling/split family already uses (no RNG state,
    any worker can recompute any span). Overlapping spans are kept:
    the trainer's sentinel collapsing handles them, and indepedent
    draws are what the hash gives.

    Scale shape: pure row-local arithmetic plus a bounded per-doc
    explode (n_spans rows) — no shuffle at all; the mask table joins
    the corpus co-partitioned on doc_id downstream."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    base = d.select("doc_id", n_tokens.alias("n_tokens")).filter(
        F.col("n_tokens") > SPAN_LEN
    )
    # floor over exact small-int double division (identical in DuckDB,
    # whose CAST(double AS BIGINT) ROUNDS where Spark truncates); docs
    # with zero spans are filtered out BEFORE the sequence explode —
    # sequence(0, -1) counts DOWN and would emit phantom spans
    n_spans = F.floor(
        (F.col("n_tokens") * SPAN_MASK_RATE) / float(100 * SPAN_LEN)
    ).cast("bigint")
    spans = (
        base.withColumn("n_spans", n_spans)
        .filter(F.col("n_spans") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.sequence(F.lit(0), F.col("n_spans").cast("int") - 1)
            ).alias("i"),
        )
    )
    start = hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("i").cast("string"))
    ) % (F.col("n_tokens") - SPAN_LEN + 1)
    return spans.select(
        "doc_id",
        F.col("i").cast("bigint").alias("span_idx"),
        start.cast("bigint").alias("span_start"),
        F.lit(SPAN_LEN).cast("bigint").alias("span_len"),
        "n_tokens",
    )


# --- temperature-scaled corpus mixing weights -----------------------------
MIX_TEMPERATURE = 0.7  # standard multinomial-sampling temperature


@register(
    "l_domain_mix",
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(count(*) AS BIGINT)                            AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total,
               CAST(sum(pow(n_tokens, {MIX_TEMPERATURE})) AS DOUBLE) AS pow_total
        FROM per
    )
    SELECT per.source,
           per.n_docs,
           per.n_tokens,
           {rN_sql("per.n_tokens / CAST(tot.tok_total AS DOUBLE)", 6)} AS token_share,
           {rN_sql(f"pow(per.n_tokens, {MIX_TEMPERATURE}) / tot.pow_total", 6)} AS mix_weight
    FROM per, tot
    """,
)
def l_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights — the multinomial
    sampling distribution LM training mixes corpora with (GPT-3 /
    multilingual-T5 style): raw token share per source, flattened by
    ``share ∝ tokens^T`` with T=0.7 so low-resource sources are
    up-sampled relative to their raw share.

    Scale shape: ONE map-side-combinable aggregation over the corpus
    produces the per-source table (|sources| rows); the global totals
    come from a second aggregation of that TINY table, broadcast back as
    a 1-row join — no global window, no driver collect, nothing
    corpus-sized past the first shuffle. The weights are exactly what a
    sampler shards by at 100 TB.

    Cites reference scope: the reference ships no corpus ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("bigint").alias("tok_total"),
        F.sum(F.pow("n_tokens", F.lit(MIX_TEMPERATURE)))
        .cast("double")
        .alias("pow_total"),
    )
    return per.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        rN(F.col("n_tokens") / F.col("tok_total").cast("double"), 6).alias(
            "token_share"
        ),
        rN(
            F.pow("n_tokens", F.lit(MIX_TEMPERATURE)) / F.col("pow_total"), 6
        ).alias("mix_weight"),
    )


# --- CCNet-style perplexity bucketing -------------------------------------


@register(
    "l_perplexity_filter",
    oracle=f"""
    WITH {_LM_CTES},
    bounds AS (
        SELECT {rN_sql("quantile_cont(avg_logprob, 1.0/3)", 6)} AS b_lo,
               {rN_sql("quantile_cont(avg_logprob, 2.0/3)", 6)} AS b_hi
        FROM docscore
    )
    SELECT d.doc_id, d.n_tokens, d.avg_logprob,
           CASE WHEN d.avg_logprob <  b.b_lo THEN 'tail'
                WHEN d.avg_logprob <  b.b_hi THEN 'middle'
                ELSE 'head' END AS ppl_bucket,
           CAST(d.avg_logprob >= b.b_lo AS INT) AS keep
    FROM docscore d, bounds b
    """,
)
def l_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document against
    the corpus LM (the l_unigram_logprob proxy), split the corpus into
    head / middle / tail thirds at the exact logprob tertiles, and keep
    head+middle — the standard quality gate a web-scale pipeline runs
    before training (Wenzek et al., CCNet).

    Scale shape: the per-doc scoring reuses l_unigram_logprob's plan
    (broadcast LM, one corpus shuffle); the tertile boundaries are ONE
    global aggregation producing a 1-row frame that broadcasts back —
    never a global window or sort. Boundaries and scores are both
    rounded to 6 decimals before comparison so the bucket edges are
    bit-identical in Spark and DuckDB. At 100 TB the exact percentile
    swaps for the approx sketch exactly as r_percentiles documents."""
    lp = l_unigram_logprob(spark, sf_dir).select(
        "doc_id", "n_tokens", "avg_logprob"
    )
    bounds = lp.agg(
        F.percentile(
            "avg_logprob", F.array(F.lit(1.0 / 3), F.lit(2.0 / 3))
        ).alias("bs")
    ).select(
        rN(F.col("bs")[0], 6).alias("b_lo"), rN(F.col("bs")[1], 6).alias("b_hi")
    )
    return lp.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_tokens",
        "avg_logprob",
        F.when(F.col("avg_logprob") < F.col("b_lo"), "tail")
        .when(F.col("avg_logprob") < F.col("b_hi"), "middle")
        .otherwise("head")
        .alias("ppl_bucket"),
        (F.col("avg_logprob") >= F.col("b_lo")).cast("int").alias("keep"),
    )


# --- bigram LM scoring ----------------------------------------------------
BIGRAM_TOP = 5_000  # capped bigram table size (the broadcastable LM)


@register(
    "l_bigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
        FROM tok
    ),
    pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    counts AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM counts),
    topk AS (
        SELECT w1, w2, c12 FROM (
            SELECT *, row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rn
            FROM counts
        ) WHERE rn <= {BIGRAM_TOP}
    ),
    marg AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM topk GROUP BY w1),
    lm AS (
        SELECT topk.w1, topk.w2,
               ln(CAST(topk.c12 AS DOUBLE) / marg.c1) AS logp
        FROM topk JOIN marg ON marg.w1 = topk.w1
    ),
    scored AS (
        SELECT p.doc_id,
               coalesce(lm.logp, ln(1.0 / (n + 1))) AS logp,
               CAST(lm.w1 IS NULL AS INT)           AS oov
        FROM pairs p
        LEFT JOIN lm ON lm.w1 = p.w1 AND lm.w2 = p.w2
        CROSS JOIN tot
    )
    SELECT doc_id,
           count(*)                        AS n_bigrams,
           CAST(sum(oov) AS BIGINT)        AS n_oov,
           {r6_sql("sum(logp) / count(*)")} AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def l_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy — the conditional upgrade of
    l_unigram_logprob: each document scores the mean log of
    P(w2 | w1) = c(w1,w2) / Σ_w2' c(w1,w2') under a frequency-capped
    bigram table built from the corpus itself (the capped table is
    self-consistent: the denominator is the CAPPED marginal, so every
    in-table probability is a proper conditional within the LM).

    Scale shape: one bigram-count shuffle (map-side combinable), a
    TakeOrderedAndProject top-{BIGRAM_TOP} cap, and the marginal derives
    from the capped table itself — so the whole LM is bounded and
    BROADCAST to the bigram stream; the scoring join never shuffles the
    corpus. Out-of-table bigrams take the ln(1/(N+1)) floor, exactly
    the unigram query's OOV discipline."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    tok = d.withColumn("t", t).filter(F.size("t") >= 2)
    pairs = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # persist: tot and topk both consume counts — one corpus scan, not two
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).persist()
    tot = counts.agg(F.sum("c12").cast("bigint").alias("n"))
    topk = counts.orderBy(F.col("c12").desc(), "w1", "w2").limit(BIGRAM_TOP)
    marg = topk.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    lm = topk.join(marg, "w1").select(
        "w1", "w2", F.log(F.col("c12").cast("double") / F.col("c1")).alias("logp")
    )
    scored = (
        pairs.join(F.broadcast(lm), ["w1", "w2"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.coalesce("logp", F.log(F.lit(1.0) / (F.col("n") + 1))).alias("lp"),
            F.isnull("logp").cast("int").alias("oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        r6(F.sum("lp") / F.count(F.lit(1))).alias("avg_logprob"),
    )


# --------------------------------------------- DSIR importance weighting

DSIR_BUCKETS = 1024  # hashed-unigram feature space (2^10)


@register(
    "l_dsir_importance",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id, lang, {hash60_sql("w")} % {DSIR_BUCKETS} AS bucket
        FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ) WHERE w <> ''
    ),
    bc AS (
        SELECT bucket,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
               sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cr
        FROM tk GROUP BY bucket
    ),
    tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
    wts AS (
        SELECT bucket,
               round(ln((ct + 1.0) / (nt + {DSIR_BUCKETS}))
                     - ln((cr + 1.0) / (nr + {DSIR_BUCKETS})), 8) AS wt
        FROM bc, tot
    )
    SELECT t.doc_id, t.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {r6_sql("sum(w.wt)")}    AS dsir_score
    FROM tk t JOIN wts w ON t.bucket = w.bucket
    GROUP BY t.doc_id, t.lang
    """,
)
def l_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method):
    hashed word-unigram features in {DSIR_BUCKETS} buckets, a smoothed
    bag-of-buckets language model for the TARGET distribution (here the
    ``lang = 'en'`` slice) and one for the RAW distribution (the rest),
    and per-document log-likelihood ratios sum(ln p_t(b) - ln p_r(b))
    over the document's tokens — the score importance resampling ranks
    by when up-weighting target-like data in a pretraining mix.

    Scale shape: the two distribution estimates are ONE bucket-keyed
    aggregation (map-side combinable to <= {DSIR_BUCKETS} rows) plus a
    1-row totals broadcast; per-doc scoring broadcasts the <=
    {DSIR_BUCKETS}-row weight table into the token stream and
    aggregates by doc_id — corpus-sized work is two map-side-combined
    shuffles (bucket, doc), never a join of two big sides. Bucket
    weights are rounded to 8 dp on both engines so the per-doc float
    sums add identical values."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .select("doc_id", "lang", (hash60(F.col("w")) % DSIR_BUCKETS).alias("bucket"))
    )
    bc = toks.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("cr"),
    )
    tot = bc.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    wts = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log((F.col("ct") + 1.0) / (F.col("nt") + DSIR_BUCKETS))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + DSIR_BUCKETS)),
                8,
            ).alias("wt"),
        )
    )
    return (
        toks.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            r6(F.sum("wt")).alias("dsir_score"),
        )
    )


# --------------------------------------------- n-gram novelty scoring


@register(
    "l_ngram_novelty",
    oracle=f"""
    WITH {_TOK_CTE},
    sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS s FROM tok
    ),
    firsts AS (
        SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {r6_sql("sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)"
                   " / CAST(count(*) AS DOUBLE)")} AS novelty
    FROM sh JOIN firsts f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def l_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence n-gram novelty: a document's shingle is NOVEL
    if no earlier document (smaller doc_id — ingestion order) contains
    it; the novelty ratio (novel / distinct shingles) is the
    data-curation signal for "is this document adding anything new to
    the corpus" — the streaming-dedup complement to the pairwise dedup
    family, and the score curriculum builders sort by.

    Scale shape: every shingle has exactly ONE novel document (its
    group-min), so no corpus-sized membership join is needed — the
    distinct (doc_id, shingle-hash) rows aggregate twice (once by the
    8-byte hash for the min, once by doc_id for the denominator), both
    map-side combinable, and the final join is doc-keyed (bounded by
    |docs|, not |shingles|). No all-pairs term anywhere — novelty is a
    group-min, not a pairwise comparison."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    sh = _shingle_rows(d).select("doc_id", hash60(F.col("s")).alias("h"))
    novel = (
        sh.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        r6(
            F.coalesce("n_novel", F.lit(0)) / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


# --------------------------------------------- inverted index (postings)

POSTINGS_K = 8  # doc entries serialized per token


@register(
    "l_inverted_index",
    oracle=f"""
    WITH tf AS (
        SELECT token, doc_id, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ) WHERE token <> ''
        GROUP BY token, doc_id
    ),
    rn AS (
        SELECT *, row_number() OVER (
            PARTITION BY token ORDER BY doc_id
        ) AS rn FROM tf
    )
    SELECT token,
           CAST(count(*) AS BIGINT)  AS df,
           CAST(sum(tf) AS BIGINT)   AS total_tf,
           string_agg(CASE WHEN rn <= {POSTINGS_K}
                           THEN doc_id || ':' || tf END,
                      ',' ORDER BY doc_id) AS postings
    FROM rn GROUP BY token
    """,
)
def l_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per token, document frequency,
    total term frequency, and a serialized posting list of the first
    {POSTINGS_K} (doc_id ASC) entries as ``doc:tf`` — the index-build
    step behind corpus search, contamination lookup, and TF-IDF
    retrieval, expressed as one aggregation pipeline.

    Scale shape: the (token, doc) term-frequency aggregation is the
    single corpus-sized shuffle (map-side combinable); the posting
    window and the final per-token aggregation both ride the SAME
    token partitioning (exchange reuse, no second corpus shuffle).
    Posting lists are truncated to {POSTINGS_K} entries BEFORE
    collect_list (a null-skipped conditional), so per-token state is
    bounded no matter how hot the token — the df/total_tf aggregates
    still see every row. Postings serialize to a string because the
    driver's canonicalizer cannot hash array cells."""
    tf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    ranked = tf.withColumn("rn", F.row_number().over(w))
    entry = F.when(
        F.col("rn") <= POSTINGS_K,
        F.struct(F.col("doc_id"), F.col("tf")),
    )
    return ranked.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(entry)),
                lambda x: F.concat_ws(":", x["doc_id"], x["tf"]),
            ),
            ",",
        ).alias("postings"),
    )


# --------------------------------------------- mixture realization sampling
MIX_SAMPLE_PPM = 1_000_000  # acceptance-rate resolution (parts per million)
MIX_SALT = ":mixsample"  # decorrelates this sampler from l_sample_hash


@register(
    "l_mixture_sampler",
    oracle=f"""
    WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    mn AS (SELECT min(n_docs) AS min_docs FROM per),
    rates AS (
        SELECT per.source, per.n_docs,
               CAST(round(({MIX_SAMPLE_PPM}.0 * mn.min_docs) / per.n_docs)
                    AS BIGINT) AS accept_ppm
        FROM per, mn
    )
    SELECT d.doc_id, d.source, r.accept_ppm
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {hash60_sql(f"CAST(d.doc_id AS VARCHAR) || '{MIX_SALT}'")}
          % {MIX_SAMPLE_PPM} < r.accept_ppm
    """,
)
def l_mixture_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture REALIZATION: downsample every source to the size of the
    smallest one so the emitted corpus has a uniform source mixture —
    the "balance the domains" step that follows a mixture-weight
    decision (l_domain_mix computes the weights; this op materializes a
    target mix as an actual row stream).  Acceptance is a deterministic
    per-document hash gate (hash(doc_id) mod 1e6 < rate_ppm), so the
    sample is reproducible, shard-independent, and needs no RNG state.

    Scale shape: the per-source rate table is ONE map-side-combinable
    aggregation down to |sources| rows, its min is a 1-row aggregate of
    that tiny frame, and the rate table broadcasts back into a scan-side
    filter — corpus-sized data is touched exactly once, no shuffle of
    the document stream at all (the accept test is a map-side predicate
    after a broadcast join).  Rates are integers (ppm) derived from one
    IEEE division + round, so Spark and DuckDB gate identically.

    Cites reference scope: the reference ships no sampling ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    mn = per.agg(F.min("n_docs").alias("min_docs"))
    rates = per.crossJoin(F.broadcast(mn)).select(
        "source",
        F.round((F.lit(float(MIX_SAMPLE_PPM)) * F.col("min_docs")) / F.col("n_docs"))
        .cast("bigint")
        .alias("accept_ppm"),
    )
    gate = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(MIX_SALT)))
    return (
        d.join(F.broadcast(rates), "source")
        .filter(gate % MIX_SAMPLE_PPM < F.col("accept_ppm"))
        .select("doc_id", "source", "accept_ppm")
    )


# --------------------------------------------- quality-weighted sampling
WSAMPLE_SALT = ":wsample"  # decorrelates from l_mixture_sampler / l_sample_hash


@register(
    "l_weighted_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT)                AS n_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
               CAST(round(({MIX_SAMPLE_PPM}.0 * len(list_distinct(t))) / len(t))
                    AS BIGINT) AS accept_ppm
        FROM (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
            FROM documents
        ) WHERE len(t) > 0
    )
    SELECT doc_id, n_tokens, n_distinct, accept_ppm
    FROM scored
    WHERE {hash60_sql(f"CAST(doc_id AS VARCHAR) || '{WSAMPLE_SALT}'")}
          % {MIX_SAMPLE_PPM} < accept_ppm
    """,
)
def l_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED Bernoulli sampling ("soft dedup", RefinedWeb /
    Penedo et al. style): each document's keep probability is its
    type-token ratio (distinct tokens / tokens), so templated or
    repetitive documents are kept with proportionally lower probability
    instead of a hard cut.  The coin flip is the deterministic hash
    gate hash(doc_id || salt) mod 1e6 < round(1e6 * w) — reproducible
    across runs and shards, no RNG.

    Scale shape: the weight is pure row-local array math computed in
    the scan (zero shuffles, linear in corpus size), and the gate is a
    map-side predicate — the whole operator is a single narrow stage at
    any scale.  The ppm rate is one IEEE multiply + divide + round of
    two integers, bit-identical between Spark and DuckDB."""
    t = F.filter(F.split("text", " "), lambda w: w != "")
    scored = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", t.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct("t")).cast("bigint").alias("n_distinct"),
        )
        .withColumn(
            "accept_ppm",
            F.round(
                (F.lit(float(MIX_SAMPLE_PPM)) * F.col("n_distinct")) / F.col("n_tokens")
            ).cast("bigint"),
        )
    )
    gate = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(WSAMPLE_SALT)))
    return scored.filter(gate % MIX_SAMPLE_PPM < F.col("accept_ppm"))


# --------------------------------------------- PMI collocations
PMI_TOP = 50  # emitted collocation table size
PMI_MIN_COUNT = 5  # ignore bigrams rarer than this (PMI's low-count bias)


@register(
    "l_pmi_bigrams",
    oracle=f"""
    WITH tok AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    pairs AS (
        SELECT b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
            FROM tok
        )
    ),
    counts AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
               FROM pairs GROUP BY w1, w2),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM counts),
    m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM counts GROUP BY w1),
    m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM counts GROUP BY w2),
    pmi AS (
        SELECT c.w1, c.w2, c.c12,
               {r6_sql("ln((CAST(c.c12 AS DOUBLE) * tot.n)"
                       " / (CAST(m1.c1 AS DOUBLE) * m2.c2))")} AS pmi
        FROM counts c
        JOIN m1 ON m1.w1 = c.w1
        JOIN m2 ON m2.w2 = c.w2
        CROSS JOIN tot
        WHERE c.c12 >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c12, pmi FROM (
        SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rn FROM pmi
    ) WHERE rn <= {PMI_TOP}
    """,
)
def l_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations: rank adjacent word
    pairs by PMI = ln(p(w1,w2) / (p(w1,·) p(·,w2))) over the corpus
    bigram table (count floor {PMI_MIN_COUNT} suppresses PMI's
    rare-pair bias) — the standard collocation / multi-word-expression
    detector a tokenizer-vocabulary or phrase-mining pass starts from.

    Scale shape: ONE bigram-count shuffle (map-side combinable);
    marginals are re-aggregations OF THE COUNTS TABLE (vocab², never
    the corpus twice); the totals frame is 1 row broadcast; final cut
    is TakeOrderedAndProject top-{PMI_TOP}. PMI is rounded to 6 dp
    BEFORE ranking so Spark and DuckDB rank identically.

    Cites reference scope: the reference ships no text ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    # persist: tot / m1 / m2 / the final join all consume counts — without
    # it the corpus is re-scanned per consumer (the l_skipgram fix, applied here)
    counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .persist()
    )
    tot = counts.agg(F.sum("c12").cast("bigint").alias("n"))
    m1 = counts.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    m2 = counts.groupBy("w2").agg(F.sum("c12").cast("bigint").alias("c2"))
    pmi = (
        counts.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            r6(
                F.log(
                    (F.col("c12").cast("double") * F.col("n"))
                    / (F.col("c1").cast("double") * F.col("c2"))
                )
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.col("pmi").desc(), "w1", "w2").limit(PMI_TOP)


# --------------------------------------------- Kneser-Ney bigram LM
KN_DISCOUNT = 0.75  # absolute discount D (Chen & Goodman's fixed-D variant)
KN_TOP = 30  # emitted table: the most frequent bigrams

_PKN_SQL = (
    f"(greatest(CAST(c.c12 AS DOUBLE) - {KN_DISCOUNT}, 0.0) / ctx.c1"
    f" + ({KN_DISCOUNT} * ctx.n1p_fw / ctx.c1)"
    f" * (CAST(cont.n1p_bw AS DOUBLE) / tot.n1p_all))"
)


@register(
    "l_kneser_ney",
    oracle=f"""
    WITH tok AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    pairs AS (
        SELECT b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
            FROM tok
        )
    ),
    counts AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
               FROM pairs GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1p_fw
            FROM counts GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bw
             FROM counts GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n1p_all FROM counts),
    pkn AS (
        SELECT c.w1, c.w2, c.c12, ctx.c1,
               {r6_sql(_PKN_SQL)} AS p_kn
        FROM counts c
        JOIN ctx  ON ctx.w1 = c.w1
        JOIN cont ON cont.w2 = c.w2
        CROSS JOIN tot
    )
    SELECT w1, w2, c12, c1, p_kn FROM (
        SELECT *, row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rn FROM pkn
    ) WHERE rn <= {KN_TOP}
    """,
)
def l_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (fixed discount
    D={KN_DISCOUNT}): ``P(w2|w1) = max(c12 - D, 0)/c1 + (D * N1+(w1,.)
    / c1) * N1+(., w2)/N1+(., .)`` — the smoothing KenLM ships and every
    perplexity-based corpus filter ultimately calls; the continuation
    probability (how many distinct contexts a word FOLLOWS) is what
    distinguishes it from the capped-MLE l_bigram_logprob.

    Scale shape: identical to l_pmi_bigrams — ONE corpus-sized
    bigram-count shuffle (map-side combinable); context totals,
    continuation counts and the type total are all re-aggregations of
    the vocab^2-bounded counts table; the 1-row total broadcasts; the
    final cut is TakeOrderedAndProject top-{KN_TOP} on (count, w1, w2)
    — integer-exact ordering, no float rank gate.

    Cites reference scope: the reference ships no LM ops; this extends
    the engine's LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    # persist: ctx and the downstream consumers share counts (one corpus scan)
    counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    ).persist()
    ctx = counts.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p_fw"),
    )
    cont = counts.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1p_bw")
    )
    tot = counts.agg(F.count(F.lit(1)).cast("bigint").alias("n1p_all"))
    p_kn = (
        F.greatest(F.col("c12").cast("double") - KN_DISCOUNT, F.lit(0.0))
        / F.col("c1")
        + (F.lit(KN_DISCOUNT) * F.col("n1p_fw") / F.col("c1"))
        * (F.col("n1p_bw").cast("double") / F.col("n1p_all"))
    )
    return (
        counts.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", "c1", r6(p_kn).alias("p_kn"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(KN_TOP)
    )


# --- Heaps-law vocabulary growth ------------------------------------------

HEAPS_DECILES = 10


@register(
    "l_vocab_growth",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    d AS (
        SELECT greatest(1, (doc_id * {HEAPS_DECILES} + m - 1) // m) AS bkt,
               len(string_split(text, ' ')) AS n_tok
        FROM documents CROSS JOIN mx
    ),
    nb AS (SELECT bkt, CAST(sum(n_tok) AS BIGINT) AS ntok FROM d GROUP BY bkt),
    tf AS (
        SELECT t, min(doc_id) AS fd
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t
    ),
    vb AS (
        SELECT greatest(1, (fd * {HEAPS_DECILES} + m - 1) // m) AS bkt,
               CAST(count(*) AS BIGINT) AS nv
        FROM tf CROSS JOIN mx GROUP BY 1
    ),
    grid AS (SELECT CAST(k AS BIGINT) AS decile FROM range(1, {HEAPS_DECILES + 1}) t(k)),
    cum AS (
        SELECT g.decile,
               CAST((SELECT coalesce(sum(ntok), 0) FROM nb WHERE bkt <= g.decile) AS BIGINT) AS n_tokens,
               CAST((SELECT coalesce(sum(nv), 0) FROM vb WHERE bkt <= g.decile) AS BIGINT) AS vocab
        FROM grid g
    ),
    pts AS (
        SELECT ln(CAST(n_tokens AS DOUBLE)) AS x, ln(CAST(vocab AS DOUBLE)) AS y
        FROM cum WHERE n_tokens > 0 AND vocab > 0
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts
    )
    SELECT decile, n_tokens, vocab,
           {r6_sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS heaps_beta
    FROM cum CROSS JOIN s
    ORDER BY decile
    """,
)
def l_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-token count V(N) at
    each corpus decile (corpus order = doc_id order) plus the fitted
    Heaps exponent beta from ln V ~ beta * ln N — the companion audit to
    l_zipf_slope (natural corpora grow vocab at beta ~ 0.4-0.6; template
    spam flattens the curve, boilerplate-free crawls steepen it).

    Scale shape: each document's decile bucket is a row-local INTEGER
    formula (ceil via (id*10+m-1) div m — never float division, so the
    bucket boundary cannot flip between engines); token first-occurrence
    is ONE vocab-sized min-aggregation; after that everything operates
    on the <= {HEAPS_DECILES}-row bucket frames: the cumulative ladder
    is a broadcast triangular join (grid x buckets), NOT a window — no
    unpartitioned WindowExec, no corpus-sized replication. The fit
    reuses l_zipf_slope's explicit normal-equation arithmetic with
    identical operand order in both engines, rounded half-up to 6 dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m"))
    bkt = F.greatest(
        F.lit(1), F.expr(f"(doc_id * {HEAPS_DECILES} + m - 1) div m")
    )
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).crossJoin(F.broadcast(mx))
    nb = d.select(bkt.alias("bkt"), "n_tok").groupBy("bkt").agg(
        F.sum("n_tok").cast("bigint").alias("ntok")
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("doc_id"))
        .crossJoin(F.broadcast(mx))
    )
    vb = tf.select(bkt.alias("bkt")).groupBy("bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("nv")
    )
    grid = spark.range(1, HEAPS_DECILES + 1, 1, 1).select(
        F.col("id").cast("bigint").alias("decile")
    )
    cum = (
        grid.join(F.broadcast(nb), nb.bkt <= grid.decile, "left")
        .groupBy("decile")
        .agg(F.coalesce(F.sum("ntok"), F.lit(0)).cast("bigint").alias("n_tokens"))
        .join(
            grid.join(F.broadcast(vb), vb.bkt <= grid.decile, "left")
            .groupBy("decile")
            .agg(F.coalesce(F.sum("nv"), F.lit(0)).cast("bigint").alias("vocab")),
            "decile",
        )
    )
    pts = cum.filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0)).select(
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    beta = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    return (
        cum.crossJoin(F.broadcast(s.select(r6(beta).alias("heaps_beta"))))
        .select("decile", "n_tokens", "vocab", "heaps_beta")
        .orderBy("decile")
    )


# --- Count-Min sketch -------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 1024  # buckets per row
CMS_TOP = 20  # probed heavy hitters
CMS_SLACK = 8  # bound multiplier on the expected N/W overcount


@register(
    "l_count_min",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    exact AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY t),
    nn AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM exact),
    cms AS (
        SELECT r.i AS i,
               {hash60_sql("r.i || ':' || tok.t")} % {CMS_W} AS bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM tok CROSS JOIN range({CMS_D}) r(i)
        GROUP BY 1, 2
    ),
    probes AS (SELECT t, n FROM exact ORDER BY n DESC, t LIMIT {CMS_TOP}),
    est AS (
        SELECT p.t, min(c.c) AS est
        FROM probes p CROSS JOIN range({CMS_D}) r(i)
        JOIN cms c
          ON c.i = r.i
         AND c.bucket = {hash60_sql("r.i || ':' || p.t")} % {CMS_W}
        GROUP BY p.t
    )
    SELECT p.t AS token, p.n AS exact_n, e.est AS cms_est,
           CAST(CASE WHEN e.est - p.n <= {CMS_SLACK} * ((total + {CMS_W - 1}) // {CMS_W})
                THEN 1 ELSE 0 END AS INT) AS within_bound
    FROM probes p JOIN est e ON p.t = e.t CROSS JOIN nn
    ORDER BY exact_n DESC, token
    """,
)
def l_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch: a {CMS_D}x{CMS_W} counter matrix over the token
    stream, probed at the top-{CMS_TOP} exact heavy hitters — the
    mergeable frequency sketch (companion to r_hll_merge's mergeable
    distinct sketch) a pipeline persists per shard and merges by cell
    addition, answering any-token frequency without a vocab-sized state.

    Unlike the HLL CONTRACT gate, the estimates here hash-match
    bit-for-bit: every counter is an integer count under the shared
    md5 hash family (hash60(i || ':' || token) % {CMS_W}), so the
    DuckDB oracle rebuilds the identical sketch. ``within_bound``
    additionally asserts the classic CMS guarantee shape
    (overcount <= {CMS_SLACK}x the expected N/W collision mass).

    Scale shape: the build is ONE shuffle of (row, bucket) partial
    counts — map-side combine caps each task's contribution at
    {CMS_D}x{CMS_W} cells regardless of input size, the defining CMS
    property; the probe side broadcast-joins the {CMS_D * CMS_W}-row
    sketch. The exact branch exists only for the probe set + gate.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    # the vocab-sized exact counts feed THREE branches (total, the CMS
    # build below, probes) — persist them; the corpus is tokenized ONCE
    # (r15, guide §2.3/§5; before, the sketch build re-tokenized and
    # re-exploded the whole corpus a second time)
    exact = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    total = exact.agg(F.sum("n").cast("bigint").alias("total"))

    def bucket(i: int, col: F.Column) -> F.Column:
        return hash60(F.concat(F.lit(str(i)), F.lit(":"), col)) % CMS_W

    buckets = F.array(*[bucket(i, F.col("t")) for i in range(CMS_D)])
    # each (i, bucket) counter is the count of token OCCURRENCES that
    # hash there == the sum of the exact per-token counts whose token
    # hashes there — an exact integer identity, so the sketch is built
    # from the vocab-sized frame instead of the corpus-sized stream
    cms = (
        exact.select("n", F.posexplode(buckets).alias("i", "bucket"))
        .groupBy("i", "bucket")
        .agg(F.sum("n").cast("bigint").alias("c"))
    )
    probes = exact.orderBy(F.desc("n"), "t").limit(CMS_TOP)
    probe_cells = probes.select(
        "t", "n", F.posexplode(buckets).alias("i", "bucket")
    )
    est = (
        cms.join(F.broadcast(probe_cells), ["i", "bucket"])
        .groupBy("t", "n")
        .agg(F.min("c").alias("est"))
    )
    # floor(x / CMS_W) in double is exact ONLY because CMS_W is a power
    # of two (exponent shift); the oracle's integer // relies on that
    bound = CMS_SLACK * F.floor(
        (F.col("total") + F.lit(CMS_W - 1)) / F.lit(CMS_W)
    ).cast("bigint")
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            F.col("t").alias("token"),
            F.col("n").alias("exact_n"),
            F.col("est").alias("cms_est"),
            (F.col("est") - F.col("n") <= bound).cast("int").alias("within_bound"),
        )
        .orderBy(F.desc("exact_n"), "token")
    )


# --- quality-classifier training (distributed logistic regression) ---------

LOGREG_ITERS = 6  # fixed full-batch GD rounds -> deterministic trajectory
LOGREG_LR = 1.0
LOGREG_DIM = 5  # [bias, n_words/50, ttr, avg_word_len/5, stop_frac*10]


@register("l_quality_classifier_train", oracle=None)
def l_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill an expensive quality gate into a cheap linear model:
    full-batch logistic regression trained to mimic a box-rule
    pseudo-label (40 <= n_words <= 80 AND type-token-ratio >= 0.5 — a
    conjunction of ranges, deliberately NOT linearly separable), the
    CCNet/LLaMA-style 'train a fast classifier on rule-labeled docs,
    then gate the crawl with the classifier' pipeline step.

    Spark-first iteration (the l_ivf_train_kmeans shape): features and
    labels are computed ONCE row-locally and localCheckpoint'd; weights
    live in a {LOGREG_DIM}-row (pos, w) frame, collapsed to a 1-row
    broadcast array each round; the gradient is a posexplode +
    per-dimension map-side-combined sum — the shuffle output per round
    is {LOGREG_DIM} rows regardless of corpus size; localCheckpoint
    truncates lineage per round. {LOGREG_ITERS} fixed rounds, lr
    {LOGREG_LR}, zero init. Rows-only (iterative sigmoid floats have no
    SQL oracle); pinned to a numpy reference in tests/test_logreg.py.
    Output: one row per weight plus the training accuracy and class
    balance of the final model (~10% positives on the fixture corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nw = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)) / nw
    awl = (
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / nw
    )
    stopf = (
        F.size(F.filter(toks, lambda w: w.isin("the", "a"))) / nw
    )
    y = (
        (F.size(toks).between(40, 80)) & (ttr >= 0.5)
    ).cast("double")
    feats = docs.select(
        y.alias("y"),
        F.array(
            F.lit(1.0), nw / 50.0, ttr, awl / 5.0, stopf * 10.0
        ).alias("x"),
    )
    # r15: widen a narrow bench scan BEFORE checkpointing, so the
    # feature materialization and all {LOGREG_ITERS} gradient passes
    # run at session parallelism (at corpus scale the scan already
    # carries many splits and the branch is metadata-only). The numpy
    # pin tolerates the partial-sum reordering (2e-6 >> the 5e3-term
    # fp noise).
    feats = fan_out_if_coarse(feats).localCheckpoint()
    n_docs = feats.count()  # action on the checkpointed frame; reused below
    if n_docs == 0:  # empty corpus: report the zero-init weights
        return spark.range(0, LOGREG_DIM, 1, 1).select(
            (F.col("id") + 1).cast("bigint").alias("pos"),
            F.lit(0.0).alias("weight"),
            F.lit(None).cast("double").alias("train_acc"),
            F.lit(None).cast("double").alias("pos_rate"),
        )

    # r15 loop restructure: the weights live in a 1-ROW array frame,
    # and each round nests exactly ONE broadcast of the previous
    # round's frame — the per-pos gradient agg carries the broadcast
    # weight array through the shuffle (F.first over identical values)
    # so the updated array derives from the gradient frame alone and
    # the plan stays LINEAR in round count. The whole fixed-round
    # trajectory then executes inside a single action (the old shape
    # paid a per-round driver action: 5-row join + localCheckpoint,
    # ~0.55 s/round of pure latency at bench scale). Same arithmetic,
    # same operand order per round; only the barrier between rounds is
    # gone.
    wf = spark.range(0, 1, 1, 1).select(
        F.array(*[F.lit(0.0) for _ in range(LOGREG_DIM)]).alias("warr")
    )

    def z_expr():
        return F.aggregate(
            F.zip_with("x", "warr", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # r16: the per-round gradient is {LOGREG_DIM} independent sums, so
    # aggregate them as {LOGREG_DIM} sum() buffers in ONE global
    # HashAggregate instead of posexplode + groupBy(pos) + a second
    # 1-row re-collect — one exchange per round instead of two, no
    # array_sort reassembly. Per-partition accumulation order (row
    # order) and the err*x_i operands are unchanged, so the weights are
    # bit-identical (verified: max |w diff| = 0.0 over the full
    # trajectory at sf0.1); 2.33 -> 2.02 s for the 6-round loop.
    for _ in range(LOGREG_ITERS):
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z_expr())) - F.col("y")
        agg = (
            feats.crossJoin(F.broadcast(wf))
            .groupBy()
            .agg(
                F.first("warr").alias("warr"),
                *[
                    F.sum(err * F.col("x")[i]).alias(f"g{i}")
                    for i in range(LOGREG_DIM)
                ],
            )
        )
        wf = agg.select(
            F.array(
                *[
                    F.element_at("warr", i + 1)
                    - LOGREG_LR * (F.col(f"g{i}") / n_docs)
                    for i in range(LOGREG_DIM)
                ]
            ).alias("warr")
        )

    metrics = feats.crossJoin(F.broadcast(wf)).agg(
        F.avg(((z_expr() >= 0).cast("double") == F.col("y")).cast("double")).alias("acc"),
        F.avg("y").alias("pos_rate"),
    )
    w_frame = wf.select(F.posexplode("warr").alias("pos", "w"))
    return (
        w_frame.crossJoin(F.broadcast(metrics))
        .select(
            (F.col("pos") + 1).cast("bigint").alias("pos"),
            F.round("w", 6).alias("weight"),
            F.round("acc", 6).alias("train_acc"),
            F.round("pos_rate", 6).alias("pos_rate"),
        )
        .orderBy("pos")
    )


# --- uncertainty sampling (active learning) ---------------------------------

# a plausible trained model over the l_quality_classifier_train feature
# map, pinned as literals so the scoring pass is fully oracle-checkable
UNC_W = (-3.0, 1.2, 2.5, 0.4, -0.8)
UNC_TOP = 20

_UNC_FEATS_SQL = """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
               CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS DOUBLE) AS sl,
               CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE) AS ns
        FROM documents
"""


@register(
    "l_uncertainty_sample",
    oracle=f"""
    WITH f AS ({_UNC_FEATS_SQL}),
    scored AS (
        SELECT doc_id,
               {UNC_W[0]} + {UNC_W[1]} * (nw / 50.0) + {UNC_W[2]} * (nd / nw)
                 + {UNC_W[3]} * ((sl / nw) / 5.0) + {UNC_W[4]} * ((ns / nw) * 10.0)
                 AS z
        FROM f
    )
    SELECT doc_id,
           {r6_sql("z")} AS score,
           {r6_sql("abs(z)")} AS uncertainty
    FROM scored
    ORDER BY {r6_sql("abs(z)")}, doc_id
    LIMIT {UNC_TOP}
    """,
)
def l_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning uncertainty sampling: score every document with a
    pinned linear quality model (the l_quality_classifier_train feature
    map) and pick the {UNC_TOP} docs the model is LEAST sure about — the
    batch a pipeline sends for human/LLM labeling to improve the gate
    where it is weakest. Margin |z| orders identically to
    |sigma(z) - 0.5| (sigmoid is monotone), so no transcendental is ever
    evaluated — exp() is not bit-portable across engines, |z| is.

    Determinism: features reduce to integer counts; z is a fixed-order
    multiply-add chain of literals evaluated identically in both
    engines; the sort key is the 6-dp half-up-rounded margin with
    doc_id tiebreak. Scale shape: scoring is row-local (one scan, no
    shuffle); the cut is a TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nw = F.size(toks).cast("double")
    nd = F.size(F.array_distinct(toks)).cast("double")
    sl = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("double")
    ns = F.size(F.filter(toks, lambda w: w.isin("the", "a"))).cast("double")
    z = (
        F.lit(UNC_W[0])
        + F.lit(UNC_W[1]) * (nw / 50.0)
        + F.lit(UNC_W[2]) * (nd / nw)
        + F.lit(UNC_W[3]) * ((sl / nw) / 5.0)
        + F.lit(UNC_W[4]) * ((ns / nw) * 10.0)
    )
    return (
        docs.select(
            "doc_id",
            r6(z).alias("score"),
            r6(F.abs(z)).alias("uncertainty"),
        )
        .orderBy("uncertainty", "doc_id")
        .limit(UNC_TOP)
    )


# --- one-pass Poisson bootstrap ---------------------------------------------

BOOT_B = 32  # bootstrap replicas
BOOT_SCALE = 1 << 40  # uniform resolution (dyadic -> exact in double)
# Poisson(1) CDF at k = 0..6, scaled to 2^40 and truncated to ints —
# the SAME literals drive both engines, so replica weights are pure
# integer comparisons (no transcendental is evaluated at query time)
BOOT_CDF = (
    404487723187,
    808975446375,
    1011219307969,
    1078633928500,
    1095487583633,
    1098858314660,
    1099420103164,
)


def _boot_weight_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(BOOT_CDF)
    )
    return f"(CASE {cases} ELSE {len(BOOT_CDF)} END)"


@register(
    "l_poisson_bootstrap",
    oracle=f"""
    WITH rep AS (
        SELECT d.doc_id, d.n_chars, r.b,
               {hash60_sql("CAST(d.doc_id AS VARCHAR) || ':' || CAST(r.b AS VARCHAR)")}
                   % {BOOT_SCALE} AS u
        FROM documents d CROSS JOIN range({BOOT_B}) r(b)
    )
    SELECT CAST(b AS BIGINT) AS replica,
           CAST(sum({_boot_weight_sql("u")}) AS BIGINT) AS n_eff,
           {r6_sql(f"CAST(sum({_boot_weight_sql('u')} * n_chars) AS DOUBLE) / sum({_boot_weight_sql('u')})")}
               AS boot_mean_chars
    FROM rep
    GROUP BY b
    ORDER BY replica
    """,
)
def l_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson bootstrap: {BOOT_B} resampled replicas of the
    corpus mean-document-length statistic in a SINGLE scan — each (doc,
    replica) draws a Poisson(1) weight, the large-N limit of multinomial
    resampling, so no replica ever materializes and the spread of the
    replica means IS the statistic's sampling uncertainty. This is how
    error bars are put on corpus stats at 100 TB, where B full rescans
    are unthinkable.

    Determinism: the weight is an integer CASE over
    hash60(doc_id:replica) mod 2^{{40}} against pre-scaled integer
    Poisson CDF literals — no float, no exp(), both engines compare the
    same integers. The replica sums are BIGINT-exact; only the final
    mean divides (rounded half-up 6 dp). Scale shape: the {BOOT_B}x
    explode is map-local and the groupBy(replica) map-side combine caps
    each task's shuffle output at {BOOT_B} rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    rep = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).withColumn(
        "u",
        hash60(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        % BOOT_SCALE,
    )
    w = F.lit(len(BOOT_CDF))
    for k in range(len(BOOT_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < BOOT_CDF[k], F.lit(k)).otherwise(w)
    return (
        rep.select("b", "n_chars", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            r6(
                F.sum(F.col("w") * F.col("n_chars")).cast("double")
                / F.sum("w")
            ).alias("boot_mean_chars"),
        )
        .select(F.col("b").cast("bigint").alias("replica"), "n_eff", "boot_mean_chars")
        .orderBy("replica")
    )


# --- per-domain frequency capping ----------------------------------------
DOMAIN_CAP = 15  # max docs kept per source
DOMCAP_SALT = ":domcap"  # decorrelates from the other hash gates
DOMCAP_BUCKETS = 8  # phase-1 fan-out that bounds per-domain sort skew


@register(
    "l_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {hash60_sql(f"CAST(doc_id AS VARCHAR) || '{DOMCAP_SALT}'")},
                            doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {DOMAIN_CAP}
    """,
)
def l_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping (the FineWeb/RefinedWeb "limit
    docs per domain" step): keep at most {DOMAIN_CAP} documents per
    source, selected by a salted deterministic hash of doc_id — a
    reproducible uniform sample of each over-represented domain, with
    no RNG state and no dependence on input order or shard layout.

    Scale shape: exact per-key top-N in two phases. Phase 1 ranks
    within (source, hash(doc) mod {DOMCAP_BUCKETS}) and keeps N per
    bucket, so a single giant domain (the web-crawl reality: one host
    with 10^9 pages) sorts at most N x {DOMCAP_BUCKETS} survivors in
    phase 2 instead of its full row count — the per-key sort can never
    become one hot task. Phase 2 re-ranks the <= N x {DOMCAP_BUCKETS}
    survivors per source and cuts at N; the union bound makes the
    two-phase result identical to the single-sort oracle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        hash60(F.concat(F.col("doc_id").cast("string"), F.lit(DOMCAP_SALT))).alias("h"),
    )
    wb = Window.partitionBy(
        "source", F.pmod(F.col("h"), F.lit(DOMCAP_BUCKETS))
    ).orderBy("h", "doc_id")
    survivors = (
        d.withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= DOMAIN_CAP)
        .drop("rb")
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DOMAIN_CAP)
        .select("doc_id", "source", F.col("rk").cast("bigint").alias("rk"))
    )


# --------------------------------------------- skip-gram co-occurrence
COOC_WINDOW = 3  # word2vec-style symmetric context window (tokens)
COOC_MIN_COUNT = 10  # suppress PMI's rare-pair bias
COOC_TOP = 50  # emitted collocation table size


@register(
    "l_skipgram_cooccurrence",
    oracle=f"""
    WITH tok AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    pairs AS (
        SELECT least(b.x, b.y) AS a, greatest(b.x, b.y) AS b FROM (
            SELECT unnest(flatten(list_transform(range(1, len(t)),
                   i -> list_transform(range(1, least({COOC_WINDOW}, len(t) - i) + 1),
                        k -> struct_pack(x := t[i], y := t[i + k]))))) AS b
            FROM tok
        )
    ),
    counts AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
               FROM pairs GROUP BY a, b),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
    marg AS (
        SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM (
            SELECT a AS w, c FROM counts
            UNION ALL
            SELECT b AS w, c FROM counts
        ) GROUP BY w
    ),
    pmi AS (
        SELECT c.a, c.b, c.c,
               {{pmi_expr}} AS pmi
        FROM counts c
        JOIN marg ma ON ma.w = c.a
        JOIN marg mb ON mb.w = c.b
        CROSS JOIN tot
        WHERE c.c >= {COOC_MIN_COUNT}
    )
    SELECT a, b, c, pmi FROM (
        SELECT *, row_number() OVER (ORDER BY pmi DESC, a, b) AS rn FROM pmi
    ) WHERE rn <= {COOC_TOP}
    """.replace(
        "{pmi_expr}",
        r6_sql(
            "ln((CAST(c.c AS DOUBLE) * tot.n)"
            " / (CAST(ma.cw AS DOUBLE) * mb.cw))"
        ),
    ),
)
def l_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence PMI: unordered word pairs within a
    symmetric ±{COOC_WINDOW}-token window, ranked by
    PMI = ln(c(a,b)·N / (c(a)·c(b))) — the co-occurrence statistic
    word2vec-SGNS and GloVe training corpora are built from, and the
    window-k generalization of l_pmi_bigrams (adjacency only).

    Scale shape: pair generation is row-local (nested transform over
    each token array — at most {COOC_WINDOW}x token-count pairs, no
    positional self-join, which would be quadratic per document); then
    ONE pair-count shuffle (map-side combinable), marginals re-aggregate
    the COUNTS table (vocab², never the corpus twice), totals broadcast
    as 1 row, TakeOrderedAndProject top-{COOC_TOP}. PMI rounds to 6 dp
    BEFORE ranking so both engines rank identically.

    Cites reference scope: the reference ships no text ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(t) - 1),"
                f" i -> transform(sequence(1, least({COOC_WINDOW}, size(t) - i)),"
                " k -> struct(element_at(t, i) AS x, element_at(t, i + k) AS y))))"
            )
        ).alias("p")
    ).select(
        F.least("p.x", "p.y").alias("a"), F.greatest("p.x", "p.y").alias("b")
    )
    # persist: tot / both marginals / the final join all consume counts —
    # without it the plan re-reads (and re-explodes) the corpus once per
    # consumer (6 scans at sf0.1; a non-starter at 100 TB). The counts
    # table is pair-vocabulary-sized, orders of magnitude below corpus.
    counts = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = counts.agg(F.sum("c").cast("bigint").alias("n"))
    marg = (
        counts.select(F.col("a").alias("w"), "c")
        .unionAll(counts.select(F.col("b").alias("w"), "c"))
        .groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("cw"))
    )
    ma = marg.select(F.col("w").alias("a"), F.col("cw").alias("ca"))
    mb = marg.select(F.col("w").alias("b"), F.col("cw").alias("cb"))
    pmi = (
        counts.filter(F.col("c") >= COOC_MIN_COUNT)
        .join(ma, "a")
        .join(mb, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c",
            r6(
                F.log(
                    (F.col("c").cast("double") * F.col("n"))
                    / (F.col("ca").cast("double") * F.col("cb"))
                )
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.col("pmi").desc(), "a", "b").limit(COOC_TOP)


# --------------------------------------------- vocabulary coverage
VOCAB_COVERAGE_KS = (100, 1_000, 10_000)


@register(
    "l_vocab_coverage",
    oracle=f"""
    WITH wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM wc)
    {" UNION ALL ".join(
        f'''SELECT CAST({k} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c) AS BIGINT)   AS covered,
               (floor(CAST(sum(c) AS DOUBLE) / (SELECT n FROM tot) * 1000000 + 0.5) / 1000000) AS coverage
        FROM (SELECT c FROM wc ORDER BY c DESC, w LIMIT {k})'''
        for k in VOCAB_COVERAGE_KS
    )}
    """,
)
def l_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of corpus tokens covered
    by the top-k most frequent word types, for k in
    {VOCAB_COVERAGE_KS} — the standard plot behind vocab-size decisions
    (how much of the stream a k-entry vocabulary explains, the Zipf
    complement of l_zipf_slope).

    Scale shape: ONE corpus shuffle to word counts (map-side combined,
    persisted — three top-k cuts and the total all re-read it); each
    top-k is orderBy().limit() = TakeOrderedAndProject (per-partition
    top-k, k-row merge, never a global sort); the total is a 1-row
    broadcast. All counts integer-exact; only coverage rounds (6 dp).
    Ties at the k boundary break on the word itself, so both engines
    cut identically."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = wc.agg(F.sum("c").cast("bigint").alias("n"))
    parts = []
    for k in VOCAB_COVERAGE_KS:
        topk = wc.orderBy(F.col("c").desc(), "w").limit(k)
        parts.append(
            topk.agg(
                F.lit(k).cast("bigint").alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("n_types"),
                F.sum("c").cast("bigint").alias("covered"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_types",
        "covered",
        r6(F.col("covered").cast("double") / F.col("n")).alias("coverage"),
    )


# --------------------------------------------- source-pair JS divergence
JSD_VOCAB = 300  # shared comparison vocabulary (top overall words)


@register(
    "l_js_divergence",
    oracle=f"""
    WITH wc AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        ) GROUP BY source, w
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, sum(c) AS tc FROM wc GROUP BY w
            ORDER BY tc DESC, w LIMIT {JSD_VOCAB}
        )
    ),
    grid AS (
        SELECT s.source, v.w,
               CAST(coalesce(wc.c, 0) AS DOUBLE)
                 / sum(coalesce(wc.c, 0)) OVER (PARTITION BY s.source) AS p
        FROM (SELECT DISTINCT source FROM wc) s
        CROSS JOIN vocab v
        LEFT JOIN wc ON wc.source = s.source AND wc.w = v.w
    )
    SELECT a.source AS source_a, b.source AS source_b,
           {{jsd}} AS jsd
    FROM grid a JOIN grid b ON b.w = a.w AND a.source < b.source
    GROUP BY 1, 2
    """.replace(
        "{jsd}",
        r6_sql(
            "sum(0.5 * (CASE WHEN a.p > 0 THEN a.p * ln(2 * a.p / (a.p + b.p)) ELSE 0 END"
            " + CASE WHEN b.p > 0 THEN b.p * ln(2 * b.p / (a.p + b.p)) ELSE 0 END))"
        ),
    ),
)
def l_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of sources' term
    distributions over a shared top-{JSD_VOCAB} vocabulary — the
    data-mixing diagnostic (which domains are interchangeable, which
    add diversity) behind domain-weighting decisions; the symmetric,
    bounded complement of the chi²/KS hypothesis tests.

    Scale shape: ONE corpus shuffle to (source, word) counts (map-side
    combined, persisted — vocabulary cut, per-source totals, and the
    pair join all re-read it); the comparison vocabulary is a
    TakeOrdered top-{JSD_VOCAB} broadcast; the dense sources-x-vocab
    probability grid is dimension-sized, windows over per-source
    partitions only, and the pair join is grid-x-grid on the word key.
    The corpus is never touched twice."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    vocab = (
        wc.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), "w")
        .limit(JSD_VOCAB)
        .select("w")
    )
    sources = wc.select("source").distinct()
    grid = (
        sources.crossJoin(F.broadcast(vocab))
        .join(wc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("cw"),
        )
        .withColumn(
            "p",
            F.col("cw") / F.sum("cw").over(Window.partitionBy("source")),
        )
        .select("source", "w", "p")
    )
    a, b = grid.alias("a"), grid.alias("b")
    term = 0.5 * (
        F.when(
            F.col("a.p") > 0,
            F.col("a.p") * F.log(2 * F.col("a.p") / (F.col("a.p") + F.col("b.p"))),
        ).otherwise(0.0)
        + F.when(
            F.col("b.p") > 0,
            F.col("b.p") * F.log(2 * F.col("b.p") / (F.col("a.p") + F.col("b.p"))),
        ).otherwise(0.0)
    )
    return (
        a.join(b, (F.col("b.w") == F.col("a.w")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(r6(F.sum(term)).alias("jsd"))
    )


# ---------------------------------------------------------------------------
# l_hapax_ratio


@register(
    "l_hapax_ratio",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tc AS (
        SELECT source, t, count(*) AS c FROM tok GROUP BY source, t
    )
    SELECT source,
           CAST(sum(c) AS BIGINT)                          AS n_tokens,
           CAST(count(*) AS BIGINT)                        AS vocab,
           CAST(count(*) FILTER (c = 1) AS BIGINT)         AS hapax,
           {r6_sql("CAST(count(*) FILTER (c = 1) AS DOUBLE) / count(*)")}
                                                           AS hapax_ratio,
           {r6_sql("CAST(count(*) AS DOUBLE) / sum(c)")}   AS type_token_ratio
    FROM tc
    GROUP BY source
    """,
)
def l_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax-legomena profile: vocabulary size, count and
    share of once-only tokens, and the type-token ratio — the classic
    lexical-diversity fingerprint a corpus-quality dashboard tracks per
    source (boilerplate/spam sources show collapsed TTR and a thin
    hapax tail; OCR-noise sources show an inflated one).

    All counts are exact integers; the two ratios round half-up at
    6 dp. Scale shape: ONE (source, token)-keyed exchange with
    map-side combine builds the counts table; the per-source reduction
    is a second exchange but over that counts frame only
    (vocabulary-sized, not corpus-sized) — the l_unigram_logprob
    discipline; no distinct(), no second corpus scan."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hapax = F.sum((F.col("c") == 1).cast("bigint"))
    vocab = F.count(F.lit(1))
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        vocab.cast("bigint").alias("vocab"),
        hapax.cast("bigint").alias("hapax"),
        r6(hapax.cast("double") / vocab).alias("hapax_ratio"),
        r6(vocab.cast("double") / F.sum("c")).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# l_curriculum_order

CURRICULUM_BAND_CHARS = 64  # length-curriculum band width (chars)
CURRICULUM_BUCKETS = 256  # hash sub-buckets per band


@register(
    "l_curriculum_order",
    oracle=f"""
    WITH k AS (
        SELECT doc_id,
               n_chars // {CURRICULUM_BAND_CHARS} AS band,
               {hash60_sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    )
    SELECT doc_id,
           CAST(band AS BIGINT)                    AS band,
           CAST(h % {CURRICULUM_BUCKETS} AS BIGINT) AS bucket,
           CAST(row_number() OVER (
               ORDER BY band, h % {CURRICULUM_BUCKETS}, h, doc_id) - 1
               AS BIGINT)                          AS global_pos
    FROM k
    """,
)
def l_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering: every document gets a GLOBAL
    training position — short documents first (64-char length bands),
    hash-shuffled within each band — the sample order a length-
    curriculum training run feeds its data loader.

    The scale pattern is the point: a naive row_number() OVER (ORDER BY
    band, h) funnels 100 TB through ONE window partition. Instead the
    global position composes from (1) a (band, bucket) count frame
    (dimension-sized: bands x 256), (2) each cell's offset = the sum of
    its predecessors' counts, via a broadcast non-equi self-join of
    that tiny frame with itself (quadratic only in the CELL count —
    ~2k cells regardless of corpus size; no window at all, so not even
    the counts frame funnels through one partition), and (3) a
    row_number within each (band, bucket) partition — bounded at
    corpus/(bands*256) rows and split finer by raising
    CURRICULUM_BUCKETS. The oracle IS the naive global window, proving
    the composition reproduces it row-for-row (hash ties broken by
    doc_id on both sides).

    Scale shape: one map-side-combined count shuffle + one broadcast
    predecessor join over the cell frame + one broadcast join back +
    one bounded-partition window — no global sort anywhere."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.expr(f"n_chars DIV {CURRICULUM_BAND_CHARS}").alias("band"),
        hash60(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("bucket", F.col("h") % CURRICULUM_BUCKETS)
    counts = keyed.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("c"))
    pred = (
        (F.col("b.band") < F.col("a.band"))
        | ((F.col("b.band") == F.col("a.band")) & (F.col("b.bucket") < F.col("a.bucket")))
    )
    offsets = (
        counts.alias("a")
        .join(F.broadcast(counts.alias("b")), pred, "left")
        .groupBy(F.col("a.band").alias("band"), F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.c"), F.lit(0)).alias("offset"))
    )
    win = Window.partitionBy("band", "bucket").orderBy("h", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), ["band", "bucket"])
        .select(
            "doc_id",
            F.col("band").cast("bigint").alias("band"),
            F.col("bucket").cast("bigint").alias("bucket"),
            (F.col("offset") + F.row_number().over(win) - 1)
            .cast("bigint")
            .alias("global_pos"),
        )
    )


# ---------------------------------------------------------------------------
# l_duplicate_spans

SPAN_WORDS = 8  # sliding shingle width for span detection


@register(
    "l_duplicate_spans",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {SPAN_WORDS}
    ),
    pos AS (
        SELECT doc_id, i,
               {hash60_sql(
                   f"array_to_string(list_slice(t, i, i + {SPAN_WORDS} - 1), ' ')"
               )} AS h
        FROM tok, unnest(range(1, len(t) - {SPAN_WORDS} + 2)) AS u(i)
    ),
    df AS (
        SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    dup AS (SELECT pos.doc_id, pos.i FROM pos JOIN df ON pos.h = df.h),
    flagged AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER w <= {SPAN_WORDS}
                    THEN 0 ELSE 1 END AS new_island
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    isl AS (
        SELECT doc_id, i,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT doc_id,
           CAST(min(i) AS BIGINT)                      AS span_start,
           CAST(max(i) + {SPAN_WORDS - 1} AS BIGINT)   AS span_end,
           CAST(max(i) + {SPAN_WORDS} - min(i) AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT)                    AS n_windows
    FROM isl
    GROUP BY doc_id, island
    """,
)
def l_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL cross-document duplicated spans — the cut-list the
    suffix-array dedup method (Lee et al., "Deduplicating Training Data
    Makes Language Models Better") produces, approximated at shingle
    resolution: every {SPAN_WORDS}-token sliding window that occurs in
    2+ distinct documents marks its token range, and overlapping OR
    abutting marked ranges merge into maximal [span_start, span_end]
    token intervals per document (a window-start gap of exactly
    {SPAN_WORDS} means the ranges abut — merged; a gap beyond it means
    at least one clean token separates them — new span).
    Downstream, a pipeline cuts exactly these ranges instead of
    dropping whole documents — the deliverable l_duplicate_passages'
    per-doc fractions summarize but do not localize.

    All-integer outputs (token positions, 1-based); merging is the
    classic gaps-and-islands cumulative-flag window, partitioned by
    document, so every window partition is bounded by one document's
    length at any corpus size.

    Scale shape (r15 optimization, guide §2.4): the sliding-window
    explode is a Catalyst generator; duplicated-window detection is a
    min/max window over the 8-byte hash partition (>= 2 distinct docs
    iff min(doc_id) != max(doc_id)) — ONE shuffle of the position
    rows and ONE evaluation of the md5 shingle frame, where the old
    groupBy + join-back shuffled the corpus twice and computed the
    hash frame twice; no per-hash state materializes (min/max, not
    collect_set), so a boilerplate span shared by millions of docs
    costs O(1) memory; span merging never leaves the per-document
    partition."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    docs = d.select("doc_id", t.alias("t")).filter(F.size("t") >= SPAN_WORDS)
    pos = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("t") - SPAN_WORDS + 1)
        ).alias("i"),
        "t",
    ).select(
        "doc_id",
        "i",
        hash60(F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), SPAN_WORDS)))
        .alias("h"),
    )
    wh = Window.partitionBy("h")
    dup = (
        pos.withColumn("dmin", F.min("doc_id").over(wh))
        .withColumn("dmax", F.max("doc_id").over(wh))
        .filter(F.col("dmin") != F.col("dmax"))
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    flagged = dup.select(
        "doc_id",
        "i",
        F.when(F.col("i") - F.lag("i").over(w) <= SPAN_WORDS, F.lit(0))
        .otherwise(F.lit(1))
        .alias("new_island"),
    )
    isl = flagged.select(
        "doc_id",
        "i",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("i").cast("bigint").alias("span_start"),
            (F.max("i") + F.lit(SPAN_WORDS - 1)).cast("bigint").alias("span_end"),
            (F.max("i") + F.lit(SPAN_WORDS) - F.min("i"))
            .cast("bigint")
            .alias("span_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .drop("island")
    )


# ---------------------------------------------------------------------------
# l_k_anonymity

KANON_K = 5  # groups smaller than this are re-identification risks
KANON_CHAR_BAND = 100  # n_chars quasi-identifier band width


@register(
    "l_k_anonymity",
    oracle=f"""
    SELECT lang, source,
           CAST(n_chars // {KANON_CHAR_BAND} AS BIGINT) AS char_band,
           CAST(count(*) AS BIGINT)                     AS group_size,
           CAST(count(*) < {KANON_K} AS INT)            AS at_risk,
           CAST(min(doc_id) AS BIGINT)                  AS example_doc
    FROM documents
    GROUP BY lang, source, n_chars // {KANON_CHAR_BAND}
    """,
)
def l_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length band): any equivalence class smaller than k={KANON_K} is a
    re-identification risk — the release gate a privacy review runs
    before publishing a corpus or its per-document metadata (companion
    to l_pii_scrub, which handles direct identifiers; quasi-identifiers
    leak through JOINS with outside data, which is what k-anonymity
    bounds).

    All-integer outputs; the length band is integer division, exact in
    both engines. Scale shape: ONE map-side-combined aggregation on the
    quasi-identifier tuple — group count is bounded by the identifier
    domain (langs x sources x bands), not the corpus; the at-risk flag
    and example doc ride the same partials."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang",
            "source",
            F.expr(f"n_chars DIV {KANON_CHAR_BAND}").cast("bigint").alias("char_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            (F.count(F.lit(1)) < KANON_K).cast("int").alias("at_risk"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
    )


# ------------------------------------- sequential Poisson (PPS) sampling
SPPS_K = 100  # fixed sample size
SPPS_SALT = ":spps"  # decorrelates from the other hash-gated samplers
_SPPS_DENOM = float(1 << 60)  # 2^60: u = (hash60 + 1) / 2^60 in (0, 1]


@register(
    "l_seq_poisson_sample",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    k AS (
        SELECT doc_id, n_tokens,
               (CAST({hash60_sql(f"CAST(doc_id AS VARCHAR) || '{SPPS_SALT}'")} + 1
                     AS DOUBLE) / 1152921504606846976.0)
               / CAST(n_tokens AS DOUBLE) AS priority
        FROM s WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, priority
    FROM k ORDER BY priority, doc_id LIMIT {SPPS_K}
    """,
)
def l_seq_poisson_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size probability-proportional-to-size sampling WITHOUT
    replacement via sequential Poisson sampling (Ohlsson 1998, the
    estimator Statistics Sweden runs): each document draws a uniform
    u = (hash60(doc_id || salt) + 1) / 2^60 and is ranked by the
    priority u / w with w = its token count; the {SPPS_K} smallest
    priorities are the sample. Long documents (large w) get small
    priorities — inclusion probability ~ proportional to token mass,
    the right sampling design when each kept document later contributes
    w tokens to a training mix. Deterministic (hash-gated, no RNG), so
    the sample is reproducible across runs, shards, and engines.

    Cross-engine exactness: the priority is int->double conversion
    (round-to-nearest, identical in JVM and DuckDB), one division by
    the constant 2^60 (exact power-of-two scaling), and one
    correctly-rounded IEEE division by w — bit-identical on both sides,
    so even the ORDER BY tie structure matches.

    Scale shape: weight and priority are row-local scan expressions
    (zero shuffles), and the fixed-K cut is orderBy().limit() ->
    TakeOrderedAndProject: per-partition top-K then a K-row merge on
    the driver — never a global sort. One narrow stage at any corpus
    size."""
    t = F.filter(F.split("text", " "), lambda w: w != "")
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(t).cast("bigint").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    u = (
        hash60(F.concat(F.col("doc_id").cast("string"), F.lit(SPPS_SALT))) + 1
    ).cast("double") / F.lit(_SPPS_DENOM)
    return (
        base.select(
            "doc_id",
            "n_tokens",
            (u / F.col("n_tokens").cast("double")).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(SPPS_K)
    )


# ------------------------------------------- rendezvous (HRW) sharding
RDV_SHARDS = 8
RDV_SALT = ":rdv:"


def _rdv_hashes(n: int):
    """The doc's rendezvous weights against shards 0..n-1."""
    return F.array(
        *[
            hash60(
                F.concat(F.col("doc_id").cast("string"), F.lit(f"{RDV_SALT}{k}"))
            )
            for k in range(n)
        ]
    )


def _rdv_hashes_sql(n: int) -> str:
    cols = ", ".join(
        hash60_sql(f"CAST(doc_id AS VARCHAR) || '{RDV_SALT}{k}'") for k in range(n)
    )
    return f"[{cols}]"


@register(
    "l_rendezvous_shard",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               {_rdv_hashes_sql(RDV_SHARDS)} AS h8,
               {_rdv_hashes_sql(RDV_SHARDS - 1)} AS h7
        FROM documents
    ),
    a AS (
        SELECT doc_id,
               list_position(h8, list_max(h8)) - 1 AS shard,
               list_position(h7, list_max(h7)) - 1 AS shard_after
        FROM w
    ),
    full_ring AS (
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs
        FROM a GROUP BY shard
    ),
    small_ring AS (
        SELECT shard_after,
               CAST(count(*) AS BIGINT) AS n_after,
               CAST(sum(CASE WHEN shard <> shard_after THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved_in
        FROM a GROUP BY shard_after
    )
    SELECT CAST(f.shard AS BIGINT) AS shard,
           f.n_docs,
           COALESCE(s.n_after, 0)    AS n_docs_after_removal,
           COALESCE(s.n_moved_in, 0) AS n_moved_in
    FROM full_ring f LEFT JOIN small_ring s ON s.shard_after = f.shard
    """,
)
def l_rendezvous_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler-Ravishankar 1998)
    sharding of the corpus — the assignment a long-lived pipeline wants
    for shard-stable storage: doc -> argmax_k hash(doc || k) over
    {RDV_SHARDS} shards. The output demonstrates HRW's minimal-
    disruption guarantee live: the same assignment recomputed with
    shard {RDV_SHARDS - 1} removed (n_docs_after_removal / n_moved_in
    columns) relocates ONLY the removed shard's documents — every
    surviving shard's n_moved_in sums to exactly the dead shard's
    n_docs, nothing else moves (each doc's weights against surviving
    shards are unchanged, so its argmax can only change if the removed
    shard WAS its argmax).

    Cross-engine exactness: md5-based 60-bit weights; argmax via
    first-position-of-max (array_position / list_position), the same
    tie rule both sides.

    Scale shape: the weights and both argmaxes are row-local array
    expressions in the scan (zero shuffles, {RDV_SHARDS} hashes per
    row); the only shuffles are two map-side-combined aggregations on
    a {RDV_SHARDS}-value key, and the final join runs on two <=
    {RDV_SHARDS}-row frames. Linear at any corpus size, no skew (the
    hash equidistributes)."""
    w = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _rdv_hashes(RDV_SHARDS).alias("h8"),
        _rdv_hashes(RDV_SHARDS - 1).alias("h7"),
    )
    a = w.select(
        "doc_id",
        (F.array_position(F.col("h8"), F.array_max("h8")) - 1).alias("shard"),
        (F.array_position(F.col("h7"), F.array_max("h7")) - 1).alias("shard_after"),
    )
    full_ring = a.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    small_ring = a.groupBy("shard_after").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after"),
        F.sum((F.col("shard") != F.col("shard_after")).cast("int"))
        .cast("bigint")
        .alias("n_moved_in"),
    )
    return (
        full_ring.join(
            F.broadcast(small_ring),
            full_ring.shard == small_ring.shard_after,
            "left",
        )
        .select(
            "shard",
            "n_docs",
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias(
                "n_docs_after_removal"
            ),
            F.coalesce("n_moved_in", F.lit(0)).cast("bigint").alias("n_moved_in"),
        )
    )


# ---------------------------------------------------------------------------
# l_dedup_url — URL canonicalization dedup (the CommonCrawl hygiene pass)


@register(
    "l_dedup_url",
    oracle="""
    WITH b AS (
        SELECT doc_id, source,
               'src-' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS hb
        FROM documents
    ),
    u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END)
               || (CASE WHEN doc_id % 5 = 0
                        THEN upper(CASE WHEN doc_id % 3 = 0 THEN 'www.' || hb ELSE hb END)
                        ELSE (CASE WHEN doc_id % 3 = 0 THEN 'www.' || hb ELSE hb END) END)
               || '/docs/' || CAST(doc_id % 100 AS VARCHAR)
               || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
               || '?'
               || (CASE WHEN doc_id % 2 = 0
                        THEN 'utm_source=' || source || '&id=' || CAST(doc_id % 200 AS VARCHAR)
                             || '&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
                        ELSE 'id=' || CAST(doc_id % 200 AS VARCHAR)
                             || '&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
                             || '&utm_source=' || source END)
               || (CASE WHEN doc_id % 3 > 0
                        THEN '#p' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END) AS url
        FROM b
    ),
    parts AS (
        SELECT doc_id, url,
               string_split(url, '#')[1] AS base
        FROM u
    ),
    split2 AS (
        SELECT doc_id, url,
               string_split(base, '?')[1] AS pre,
               CASE WHEN len(string_split(base, '?')) > 1
                    THEN string_split(base, '?')[2] ELSE '' END AS q
        FROM parts
    ),
    canon0 AS (
        SELECT doc_id, url,
               regexp_replace(lower(regexp_extract(pre, '^https?://([^/]+)', 1)),
                              '^www\\.', '') AS chost,
               regexp_replace(COALESCE(regexp_extract(pre, '^https?://[^/]+(/.*)$', 1), ''),
                              '/+$', '') AS cpath0,
               list_sort(list_filter(string_split(q, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS params
        FROM split2
    ),
    canon AS (
        SELECT doc_id,
               regexp_extract(url, '^https?://([^/#?]+)', 1) AS raw_host,
               'https://' || chost
               || (CASE WHEN cpath0 = '' THEN '/' ELSE cpath0 END)
               || (CASE WHEN len(params) > 0
                        THEN '?' || COALESCE(array_to_string(params, '&'), '')
                        ELSE '' END) AS curl
        FROM canon0
    )
    SELECT curl AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keeper,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped,
           CAST(count(DISTINCT raw_host) AS BIGINT) AS n_hosts
    FROM canon
    GROUP BY curl
    HAVING count(*) >= 2
    """,
)
def l_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the hygiene pass every web-crawl
    curation pipeline runs BEFORE content dedup (CommonCrawl re-crawls
    the same page under scheme/case/www/trailing-slash/tracking-param/
    fragment variants; canonicalizing collapses them without touching
    the text).  URLs here are derived deterministically from doc_id so
    both engines build the identical fixture: scheme flips http/https,
    the host gains 'www.' and UPPERCASE variants, the path a trailing
    slash, the query carries utm_* tracking params in varying ORDER
    around a stable id param, and a #fragment rides along.

    The canonicalizer (applied to the URL STRING, not the parts):
    scheme -> https, host lowercased and 'www.'-stripped, trailing
    slashes trimmed (empty path -> '/'), fragment dropped, utm_*
    params dropped, surviving params SORTED.  Groups of 2+ variants
    emit (canonical_url, n_variants, keeper = min doc_id, n_dropped,
    n_hosts folded) — the keep-first discipline of l_dedup_exact.

    Determinism: pure string/regex/array expressions on both engines
    (ASCII, so lower()/sort order agree); the empty-params branch is
    COALESCE-guarded (DuckDB's array_to_string of an empty list is
    NULL — the IPv6 lesson).

    Scale shape: row-local canonicalization (zero joins), then ONE
    map-side-combined aggregation keyed on the canonical string —
    identical to l_dedup_exact's plan; the 100 TB fix for hot
    canonical URLs (a viral page) is the same count/min partial
    combine, which this plan already is."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    hb = F.concat(F.lit("src-"), (did % 50).cast("string"), F.lit(".example.com"))
    host = F.when(did % 3 == 0, F.concat(F.lit("www."), hb)).otherwise(hb)
    host = F.when(did % 5 == 0, F.upper(host)).otherwise(host)
    scheme = F.when(did % 2 == 0, F.lit("http://")).otherwise(F.lit("https://"))
    path = F.concat(
        F.lit("/docs/"),
        (did % 100).cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    idp = F.concat(F.lit("id="), (did % 200).cast("string"))
    utm1 = F.concat(F.lit("utm_source="), F.col("source"))
    utm2 = F.concat(F.lit("utm_campaign=c"), (did % 7).cast("string"))
    query = F.when(
        did % 2 == 0, F.concat_ws("&", utm1, idp, utm2)
    ).otherwise(F.concat_ws("&", idp, utm2, utm1))
    frag = F.when(
        did % 3 > 0, F.concat(F.lit("#p"), (did % 3).cast("string"))
    ).otherwise(F.lit(""))
    urls = d.select(
        "doc_id",
        F.concat(scheme, host, path, F.lit("?"), query, frag).alias("url"),
    )

    base = F.element_at(F.split(F.col("url"), "#"), 1)
    pre = F.element_at(F.split(base, r"\?"), 1)
    q = F.when(
        F.size(F.split(base, r"\?")) > 1, F.element_at(F.split(base, r"\?"), 2)
    ).otherwise(F.lit(""))
    chost = F.regexp_replace(
        F.lower(F.regexp_extract(pre, r"^https?://([^/]+)", 1)), r"^www\.", ""
    )
    cpath0 = F.regexp_replace(
        F.regexp_extract(pre, r"^https?://[^/]+(/.*)$", 1), r"/+$", ""
    )
    params = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != F.lit("")) & ~p.startswith("utm_"),
        )
    )
    curl = F.concat(
        F.lit("https://"),
        chost,
        F.when(cpath0 == "", F.lit("/")).otherwise(cpath0),
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.coalesce(F.array_join(params, "&"), F.lit(""))),
        ).otherwise(F.lit("")),
    )
    canon = urls.select(
        "doc_id",
        F.regexp_extract(F.col("url"), r"^https?://([^/#?]+)", 1).alias("raw_host"),
        curl.alias("curl"),
    )
    return (
        canon.groupBy("curl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("keeper"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
            F.countDistinct("raw_host").cast("bigint").alias("n_hosts"),
        )
        .filter(F.col("n_variants") >= 2)
        .select(
            F.col("curl").alias("canonical_url"),
            "n_variants",
            "keeper",
            "n_dropped",
            "n_hosts",
        )
    )
