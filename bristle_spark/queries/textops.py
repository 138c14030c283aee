"""Group L — text analysis over ``documents``: language-ID, quality
scoring, token counting, and document fingerprinting (SURVEY.md §2.D;
the training-data-pipeline surface of BASELINE.json).

All computations are row-local array/string expressions (no UDFs, no
shuffle except final aggregation where present), with DuckDB oracles
built from the same constants so both engines agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bristle_spark.catalog import load_table
from bristle_spark.functions.hashing import (
    FINGERPRINT_B,
    FINGERPRINT_P,
    hash60,
    hash60_sql,
)
from bristle_spark.functions.rounding import r6, r6_sql
from bristle_spark.registry import register

# n-gram-heuristic language ID: ordered marker-word sets per language.
# (The synthetic corpus is English-ish for every lang value; the check is
# that both engines compute the identical classifier, not that the
# classifier is good.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "nicht"),
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "los", "que", "por", "una"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "bu", "le", "wo"),
}
STOPWORDS = ("the", "a", "and", "of", "is", "to", "in")
PUNCT_RE = "[^a-z0-9 ]"
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"
FP_PREFIX_TOKENS = 16


def _marker_sum(tk: Column, words: tuple[str, ...]) -> Column:
    """Codegen-friendly marker count over exploded token rows (the
    array-lambda version runs interpreted; explode + conditional sum
    stays in whole-stage codegen with map-side combine)."""
    return F.sum(F.when(tk.isin(*words), 1).otherwise(0)).cast("bigint")


def _marker_count_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(t, x -> x IN ({lst})))"


@register(
    "l_lang_id",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
    scored AS (
        SELECT doc_id, lang,
               {", ".join(f"CAST({_marker_count_sql(ws)} AS BIGINT) AS s_{lg}" for lg, ws in sorted(LANG_MARKERS.items()))}
        FROM tok
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang,
           s_de, s_en, s_es, s_fr, s_zh
    FROM scored
    """,
)
def l_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification: score each language by its
    stopword hits, argmax with alphabetical tiebreak, 'und' when no
    marker fires."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tk"))
    scored = tok.groupBy("doc_id", "lang").agg(
        *[
            _marker_sum(F.col("tk"), ws).alias(f"s_{lg}")
            for lg, ws in sorted(LANG_MARKERS.items())
        ]
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.when(best == 0, "und")
    for lg in langs[:-1]:
        pred = pred.when(F.col(f"s_{lg}") == best, lg)
    pred = pred.otherwise(langs[-1])
    return scored.select(
        "doc_id", "lang", pred.alias("pred_lang"), *[f"s_{lg}" for lg in langs]
    )


@register(
    "l_quality_score",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(length(text) AS BIGINT)                 AS n_char,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ({", ".join(f"'{w}'" for w in STOPWORDS)}))) AS BIGINT) AS n_stop,
               CAST(len(regexp_extract_all(text, '{PUNCT_RE}')) AS BIGINT) AS n_punct
        FROM documents
    )
    SELECT doc_id, n_tok, n_char,
           {r6_sql("CAST(n_char - (n_tok - 1) AS DOUBLE) / n_tok")}  AS avg_tok_len,
           {r6_sql("CAST(n_stop AS DOUBLE) / n_tok")}                AS stop_ratio,
           {r6_sql("CAST(n_punct AS DOUBLE) / n_char")}              AS punct_ratio,
           {r6_sql('''(CAST(least(n_tok, 100) AS DOUBLE) / 100.0) * 0.5
                 + (CAST(n_stop AS DOUBLE) / n_tok) * 0.3
                 + (1.0 / (1.0 + abs((CAST(n_char - (n_tok - 1) AS DOUBLE) / n_tok) - 5.0))) * 0.2''')} AS quality
    FROM base
    """,
)
def l_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation + stopword ratio +
    closeness of mean token length to 5 chars (same weighted formula,
    same operand order, in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    # scalar per-doc stats in their own branch: carrying regexp_count
    # through the generator re-evaluates the regex per exploded token
    # (measured 7s vs 1s at sf0.1)
    scalars = d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_char"),
        F.regexp_count("text", F.lit(PUNCT_RE)).cast("bigint").alias("n_punct"),
    )
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    tokstats = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        _marker_sum(F.col("tk"), STOPWORDS).alias("n_stop"),
    )
    base = tokstats.join(scalars, "doc_id")
    avg_tok_len = (F.col("n_char") - (F.col("n_tok") - 1)).cast("double") / F.col("n_tok")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    punct_ratio = F.col("n_punct").cast("double") / F.col("n_char")
    quality = (
        (F.least(F.col("n_tok"), F.lit(100)).cast("double") / 100.0) * 0.5
        + stop_ratio * 0.3
        + (1.0 / (1.0 + F.abs(avg_tok_len - 5.0))) * 0.2
    )
    return base.select(
        "doc_id",
        "n_tok",
        "n_char",
        r6(avg_tok_len).alias("avg_tok_len"),
        r6(stop_ratio).alias("stop_ratio"),
        r6(punct_ratio).alias("punct_ratio"),
        r6(quality).alias("quality"),
    )


@register(
    "l_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)            AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS re_tokens,
           CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS approx_bpe,
           CAST(length(text) = n_chars AS INTEGER)                 AS chars_match
    FROM documents
    """,
)
def l_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens
    (letter-runs | digit-runs | single symbol), and the chars/4
    approximation."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit(BPE_RE)).cast("bigint").alias("re_tokens"),
        F.ceil(F.length("text").cast("double") / 4.0).cast("bigint").alias("approx_bpe"),
        (F.length("text") == F.col("n_chars")).cast("int").alias("chars_match"),
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "l_chunk_documents",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    starts AS (
        SELECT doc_id, t, unnest(range(1, len(t) + 1, {CHUNK_STRIDE})) AS s
        FROM tok
    )
    SELECT doc_id,
           CAST((s - 1) / {CHUNK_STRIDE} AS BIGINT)         AS chunk_idx,
           array_to_string(t[s : s + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
           CAST(len(t[s : s + {CHUNK_TOKENS - 1}]) AS BIGINT)  AS n_tokens
    FROM starts
    """,
)
def l_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token windows, stride 24 —
    the overlap-chunking a training pipeline feeds to tokenizers).
    Row-local: chunk starts come from sequence(), chunks from slice();
    output rows ≈ tokens/stride per doc, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    chunks = d.select(
        "doc_id",
        t.alias("t"),
        F.explode(F.sequence(F.lit(1), F.size(t), F.lit(CHUNK_STRIDE))).alias("s"),
    )
    sliced = F.slice(F.col("t"), F.col("s"), CHUNK_TOKENS)
    return chunks.select(
        "doc_id",
        ((F.col("s") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", sliced).alias("chunk_text"),
        F.size(sliced).cast("bigint").alias("n_tokens"),
    )


def _rolling_fp(th: Column) -> Column:
    """Polynomial rolling hash (Karp–Rabin) over token hashes, mod p."""
    return F.aggregate(
        th,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * FINGERPRINT_B + h) % FINGERPRINT_P,
    )


def _rolling_fp_sql(th_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {th_expr}), "
        f"(a, b) -> (a * {FINGERPRINT_B} + b) % {FINGERPRINT_P})"
    )


_TH_FP_SQL = f"list_transform(string_split(text, ' '), tk -> {hash60_sql('tk')} % {FINGERPRINT_P})"


@register(
    "l_fingerprint",
    oracle=f"""
    WITH th AS (SELECT doc_id, {_TH_FP_SQL} AS th FROM documents)
    SELECT doc_id,
           {_rolling_fp_sql("th")}                              AS fingerprint,
           {_rolling_fp_sql(f"th[1:{FP_PREFIX_TOKENS}]")}       AS prefix_fp
    FROM th
    """,
)
def l_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: Karp–Rabin polynomial rolling hash over
    md5-hashed tokens (whole doc + first-16-token prefix). Row-local,
    order-sensitive — reordered near-dups get different fingerprints,
    unlike the set-based MinHash."""
    d = load_table(spark, sf_dir, "documents")
    th = F.transform(F.split("text", " "), lambda tk: hash60(tk) % FINGERPRINT_P)
    return d.select(
        "doc_id",
        _rolling_fp(th).alias("fingerprint"),
        _rolling_fp(F.slice(th, 1, FP_PREFIX_TOKENS)).alias("prefix_fp"),
    )


TFIDF_TOP_K = 3


@register(
    "l_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n  AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS rn
        FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf
    FROM ranked WHERE rn <= {TFIDF_TOP_K}
    """,
)
def l_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 distinguishing terms per document.

    explode + two codegen'd groupBy branches (term frequency per doc,
    document frequency per term); the df side is vocabulary-sized, so at
    100 TB it broadcasts while the tf side stays partitioned by term for
    the join and re-shuffles once by doc_id for the top-k window.
    Ranking is on the ROUNDED score with the term as tiebreak so both
    engines pick identical rows at score ties."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


SAMPLE_PCT = 10  # deterministic 10% sample
SPLIT_TRAIN, SPLIT_VAL = 80, 90  # hash-bucket boundaries of 100


@register(
    "l_sample_hash",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS BIGINT) AS bucket
    FROM documents
    WHERE {hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 < {SAMPLE_PCT}
    """,
)
def l_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (the training-pipeline replacement
    for TABLESAMPLE, which no two engines — or two runs — agree on):
    keep documents whose md5-derived bucket falls under the sample
    percentage. Row-local, no shuffle, stable under re-partitioning,
    and the same rows are selected on any engine or cluster size."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (hash60(F.col("doc_id").cast("string")) % 100).cast("bigint")
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < SAMPLE_PCT)
        .select("doc_id", "lang", "bucket")
    )


@register(
    "l_train_val_test",
    oracle=f"""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN {hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 < {SPLIT_TRAIN} THEN 'train'
                    WHEN {hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 < {SPLIT_VAL}   THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split, count(*) AS n_docs
    FROM assigned GROUP BY lang, split
    """,
)
def l_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hash bucket —
    the split is a pure function of the document key, so it is
    reproducible across engines, runs, and cluster layouts (and any
    document keeps its split when the corpus grows)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- PII scrubbing -------------------------------------------------------
# One alternation covering the three planted shapes; RE2 (DuckDB) and
# java.util.regex (Spark) agree on this class (no backrefs, no lookaround).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+1-[0-9]{3}-[0-9]{4}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_RE = f"({PII_EMAIL})|({PII_PHONE})|({PII_IPV4})"
PII_TOKEN = "<PII>"


@register(
    "l_pii_scrub",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id || '@mail.example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
                       ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_RE}')) AS BIGINT) AS n_pii,
           md5(regexp_replace(text, '{PII_RE}', '{PII_TOKEN}', 'g')) AS scrubbed_md5,
           CAST(len(regexp_extract_all(
               regexp_replace(text, '{PII_RE}', '{PII_TOKEN}', 'g'), '{PII_RE}'
           )) AS BIGINT) AS n_left
    FROM planted
    WHERE len(regexp_extract_all(text, '{PII_RE}')) > 0
    """,
)
def l_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training-data pipeline
    runs before release: emails, NANP phone numbers, and IPv4 addresses
    replaced with a sentinel token. The synthetic corpus carries no PII,
    so a deterministic slice is planted first (docs with id % 7/11/13 ==
    0 get an email/phone/ip) and the scrub is verified by (a) the match
    count before, (b) the md5 of the scrubbed text, and (c) zero matches
    after. Entirely row-local regexp expressions — a linear scan with no
    shuffle, JVM-side (codegen'd), which is the 100 TB shape; the regex
    class (no backrefs/lookaround) evaluates identically on RE2 and
    java.util.regex."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.example.com")),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 3) % 256).cast("string"),
            ),
        ).otherwise(""),
    )
    scrubbed = F.regexp_replace(planted, PII_RE, PII_TOKEN)
    n_pii = F.size(F.regexp_extract_all(planted, F.lit(PII_RE), F.lit(0))).cast("bigint")
    n_left = F.size(F.regexp_extract_all(scrubbed, F.lit(PII_RE), F.lit(0))).cast("bigint")
    return (
        d.select(
            "doc_id",
            n_pii.alias("n_pii"),
            F.md5(scrubbed).alias("scrubbed_md5"),
            n_left.alias("n_left"),
        )
        .filter(F.col("n_pii") > 0)
    )


# --- exact stratified sampling ------------------------------------------
STRATA_BUCKETS = 1024  # boundary-bucket fan-in bound: sorts ~n/1024 rows max


@register(
    "l_stratified_sample",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source,
               {hash60_sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
               count(*)    OVER (PARTITION BY source) AS n
        FROM h
    )
    SELECT doc_id, source FROM ranked
    WHERE rn <= CAST(ceil(n * {SAMPLE_PCT / 100}) AS BIGINT)
    """,
)
def l_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: per source, keep exactly
    ceil(n_source * 10%) documents — the k smallest (md5-hash, doc_id)
    pairs, so the selection is deterministic, layout-invariant, and
    engine-independent (unlike TABLESAMPLE).

    The oracle ranks each whole stratum with one window; at 100 TB that
    funnels a billion-row source through a single WindowExec partition.
    The engine instead uses the boundary-bucket top-k pattern: hash every
    doc into one of 1024 sub-buckets, aggregate (source, bucket) counts
    (tiny — strata x 1024 rows), prefix-sum them to locate each
    stratum's cutoff, keep FULL buckets below the cutoff outright, and
    sort ONLY the single boundary bucket per stratum (~n/1024 rows) to
    take its remainder quota. Same exact k rows, no global ranking
    anywhere. The bucket is the hash's TOP bits (a range partition of
    h), so bucket order IS hash order and full-buckets-then-boundary
    selects exactly the k smallest hashes."""
    rate = SAMPLE_PCT / 100
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", hash60(F.col("doc_id").cast("string")).alias("h")
    )
    # h is 60-bit; 2^50 per bucket -> 1024 range buckets in hash order
    # (integer shift, not double division: 60-bit values round in fp64)
    d = d.withColumn("bucket", F.shiftright(F.col("h"), 50))
    per = d.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    wb = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per = per.withColumn("start", F.coalesce(F.sum("cnt").over(wb), F.lit(0)))
    tot = per.groupBy("source").agg(F.sum("cnt").alias("n"))
    per = per.join(tot, "source").select(
        "source",
        "bucket",
        "start",
        (F.col("start") + F.col("cnt")).alias("end"),
        F.ceil(F.col("n") * F.lit(rate)).cast("bigint").alias("k"),
    )
    # both output branches consume the decision table; materialize it once
    # (strata x 1024 rows) so the corpus aggregation behind it doesn't run
    # twice — the corpus itself is scanned once per branch, columns pruned
    per = per.localCheckpoint()
    tagged = d.join(F.broadcast(per), ["source", "bucket"])
    full = tagged.filter(F.col("end") <= F.col("k")).select("doc_id", "source")
    wr = Window.partitionBy("source", "bucket").orderBy("h", "doc_id")
    boundary = (
        tagged.filter((F.col("start") < F.col("k")) & (F.col("end") > F.col("k")))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= F.col("k") - F.col("start"))
        .select("doc_id", "source")
    )
    return full.union(boundary)


# --- token entropy -------------------------------------------------------
ENTROPY_LOW = 1.5  # nats; below this a doc is degenerate/repetitive


@register(
    "l_token_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)   AS n_tokens,
           count(*)                 AS n_distinct,
           {r6_sql("ln(sum(c)) - sum(c * ln(c)) / sum(c)")} AS entropy,
           CAST({r6_sql("ln(sum(c)) - sum(c * ln(c)) / sum(c)")} < {ENTROPY_LOW} AS INT)
               AS low_entropy
    FROM tf GROUP BY doc_id
    """,
)
def l_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's within-doc token distribution —
    the model-free perplexity proxy quality filters use to drop
    degenerate text (keyboard mash, template spam, single-token loops
    score near 0 nats; diverse prose scores near ln(n_distinct)).

    Computed as H = ln(n) - sum(c*ln(c))/n over the per-(doc, token)
    counts: explode + two map-side-combinable aggregations sharing the
    doc_id key — the same linear shape as l_tfidf_top_terms, no windows,
    no state. The low-entropy flag compares the ROUNDED value so both
    engines gate on identical bits."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    entropy = r6(F.log(n) - F.sum(F.col("c") * F.log("c")) / n)
    return tf.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        entropy.alias("entropy"),
        (entropy < ENTROPY_LOW).cast("int").alias("low_entropy"),
    )


# --- feature-hashing vectorizer ------------------------------------------
FEATURE_HASH_DIM = 16  # hashed vector width (the hashing-trick scale knob)


@register(
    "l_feature_hash_embedding",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (
        SELECT doc_id,
               CAST({hash60_sql("t")} % {FEATURE_HASH_DIM} AS INT) AS dim,
               count(*) AS c
        FROM tok GROUP BY doc_id, dim
    ),
    nm AS (SELECT doc_id, sum(c * c) AS s2 FROM tf GROUP BY doc_id)
    SELECT tf.doc_id, dim, c AS tf,
           {r6_sql("c / sqrt(s2)")} AS weight
    FROM tf JOIN nm ON tf.doc_id = nm.doc_id
    """,
)
def l_feature_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document vectorizer: token -> md5-hash ->
    dimension bucket, term counts L2-normalized per document — the
    text-to-embedding bridge that feeds cheap similarity/clustering
    without a trained model or a vocabulary table (Weinberger et al.'s
    feature hashing; sklearn's HashingVectorizer shape). Output is the
    long (doc_id, dim, tf, weight) layout the embedding operators and
    the oracle can both consume.

    Scale shape: one (doc_id, dim) map-side-combined aggregation, one
    per-doc norm aggregation, and a co-partitioned doc_id join — no
    vocabulary state anywhere, which is the point of the hashing trick
    at 100 TB. sqrt is IEEE-correctly-rounded so the L2 normalization
    is bit-identical across engines before the r6 cut."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    tf = tok.groupBy(
        "doc_id",
        (hash60(F.col("t")) % FEATURE_HASH_DIM).cast("int").alias("dim"),
    ).agg(F.count(F.lit(1)).alias("c"))
    nm = tf.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("s2"))
    return tf.join(nm, "doc_id").select(
        "doc_id",
        "dim",
        F.col("c").alias("tf"),
        r6(F.col("c") / F.sqrt("s2")).alias("weight"),
    )


# --- BPE merge training --------------------------------------------------
BPE_MERGES = 10  # merge operations to learn
BPE_SEP = chr(31)  # unit-separator; never appears in corpus text


@register("l_bpe_merges", oracle=None)
def l_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al.) — the
    iterative tokenizer-vocabulary algorithm: repeatedly find the most
    frequent adjacent symbol pair across the corpus and fuse it. Output
    is the learned merge table (merge_idx, left, right, pair_count),
    the artifact a BPE tokenizer ships.

    Spark-first shape: WORD-level BPE — the corpus aggregates once to a
    (distinct word, count) vocabulary table (one shuffle; vocab-sized,
    not corpus-sized, even at 100 TB), and every iteration runs on that
    small table: pair counts are a map-side-combinable aggregation, the
    argmax is orderBy().limit(1) (TakeOrdered), and the winning pair is
    applied via a BROADCAST 1-row join + literal separator-replace
    (non-overlapping left-to-right, exactly BPE's merge semantics) — no
    driver-side collect anywhere, like l_dedup_clusters' iteration.
    ``localCheckpoint`` per round truncates the growing lineage. Not
    SQL-expressible as one query (iterative argmax) -> rows-only.

    Cites reference scope: the reference ships no text ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    _, merges = _bpe_train(spark, sf_dir)
    return merges


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the BPE loop; returns (final segmented vocabulary
    (w, cnt, s), merge table). Shared by l_bpe_merges (the merge
    artifact) and l_bpe_tokenize (the application pass)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _bpe_loop(words)


# symbols of a sentinel-wrapped segmentation string (drop the empty
# fragments the leading/trailing separators produce)
_BPE_SYMS = f"filter(split(s, '{BPE_SEP}'), x -> x <> '')"


def _bpe_loop(words: DataFrame):
    """The merge loop over a (w, cnt) vocabulary table. Segmentations are
    SENTINEL-WRAPPED — ``s = SEP || sym1 || SEP || ... || SEP`` — so a
    merge's replace pattern ``SEP l SEP r SEP`` can only match whole
    adjacent symbols: without the outer sentinels, a bare ``l SEP r``
    pattern also matches when a previously merged symbol merely ENDS
    with ``l`` (e.g. after t+h, the pattern h+e would fuse inside
    'th|e'), silently diverging from BPE semantics."""
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    vocab = words.select(
        "w",
        "cnt",
        F.concat(
            F.lit(BPE_SEP), F.array_join(chars, BPE_SEP), F.lit(BPE_SEP)
        ).alias("s"),
    )
    vocab = vocab.localCheckpoint()

    merge_tables = []
    for it in range(BPE_MERGES):
        pair_structs = F.expr(
            f"transform(sequence(1, size({_BPE_SYMS}) - 1),"
            f" i -> struct(element_at({_BPE_SYMS}, i) AS l,"
            f"            element_at({_BPE_SYMS}, i + 1) AS r))"
        )
        pairs = (
            vocab.filter(F.size(F.expr(_BPE_SYMS)) >= 2)
            .select("cnt", F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(F.desc("pair_count"), "l", "r").limit(1)
        merge_tables.append(
            best.select(
                F.lit(it).cast("bigint").alias("merge_idx"),
                F.col("l").alias("left"),
                F.col("r").alias("right"),
                "pair_count",
            )
        )
        # left join keeps the vocabulary intact when no pair remains
        vocab = (
            vocab.join(F.broadcast(best), F.lit(True), "left")
            .select(
                "w",
                "cnt",
                F.when(
                    F.col("l").isNotNull(),
                    F.replace(
                        F.col("s"),
                        F.concat(
                            F.lit(BPE_SEP), F.col("l"),
                            F.lit(BPE_SEP), F.col("r"), F.lit(BPE_SEP),
                        ),
                        F.concat(
                            F.lit(BPE_SEP), F.col("l"), F.col("r"), F.lit(BPE_SEP)
                        ),
                    ),
                ).otherwise(F.col("s")).alias("s"),
            )
            .localCheckpoint()
        )

    out = merge_tables[0]
    for t in merge_tables[1:]:
        out = out.union(t)
    return vocab, out


@register("l_bpe_tokenize", oracle=None)
def l_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus: per document, the
    whitespace/character/BPE token counts and the chars-per-BPE-token
    compression the vocabulary achieves.

    The application pass is a dictionary lookup, not a re-run of the
    merge algorithm per document: the trained vocabulary's final
    segmentation (distinct word -> symbol count) BROADCASTS to the
    exploded token stream — at 100 TB you tokenize by joining the
    word-level dictionary, the same shape as l_unigram_logprob's LM
    join. Not SQL-expressible (depends on the iterative training) ->
    rows-only; pinned to the Python reference in test_bpe.py."""
    vocab, _ = _bpe_train(spark, sf_dir)
    seg = vocab.select(
        "w", F.size(F.expr(_BPE_SYMS)).cast("bigint").alias("n_bpe")
    )
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") > 0
    )
    return (
        tok.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            r6(F.col("n_chars").cast("double") / F.col("n_bpe_tokens")).alias(
                "chars_per_token"
            ),
        )
    )


# --- winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS) -------------
WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # winnowing window (in k-gram positions)


@register(
    "l_winnow_fingerprint",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ),
    gh AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(t) - {WINNOW_K - 2}),
                   i -> {hash60_sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]")}
               ) AS h
        FROM tok
    ),
    sel AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(h) - {WINNOW_W - 2}),
                   i -> {{
                       'pos': i + {WINNOW_W} - list_position(
                           list_reverse(list_slice(h, i, i + {WINNOW_W - 1})),
                           list_min(list_slice(h, i, i + {WINNOW_W - 1}))),
                       'gram_hash': list_min(list_slice(h, i, i + {WINNOW_W - 1}))
                   }}
               ) AS fps
        FROM gh
    )
    SELECT DISTINCT doc_id,
           CAST(f.pos AS BIGINT)       AS pos,
           CAST(f.gram_hash AS BIGINT) AS gram_hash
    FROM sel, unnest(fps) AS u(f)
    """,
)
def l_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS local-similarity algorithm): hash every {WINNOW_K}-token gram,
    slide a window of {WINNOW_W} gram positions, and keep each window's
    minimum hash (rightmost on ties). The selected set is guaranteed to
    share fingerprints with any document that shares a run of at least
    w+k-1 tokens — the positional, substring-robust complement to the
    set-based MinHash family.

    Scale shape: entirely ROW-LOCAL array math (gram hashing, window
    minima and the rightmost-tie argmin all run inside one codegen'd
    projection over per-doc arrays) followed by one explode — zero
    shuffles; the fingerprint index downstream joins on the 60-bit
    gram_hash exactly like l_dedup_ngram_jaccard's shingle index."""
    from bristle_spark.catalog import fan_out_if_coarse

    d = fan_out_if_coarse(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.split("text", " ")
    d = d.withColumn("t", t).filter(F.size("t") >= WINNOW_K + WINNOW_W - 1)
    tc = F.col("t")
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(tc, i + j) for j in range(WINNOW_K)]
    )
    gh = F.transform(
        F.sequence(F.lit(1), F.size(tc) - (WINNOW_K - 1)), lambda i: hash60(gram(i))
    )
    d = d.withColumn("h", gh)
    hc = F.col("h")

    def pick(i):
        sl = F.slice(hc, i, WINNOW_W)
        m = F.array_min(sl)
        # rightmost occurrence of the window minimum: first position in
        # the REVERSED window, mapped back to a global gram position
        rp = F.array_position(F.reverse(sl), m)
        return F.struct(
            (i + WINNOW_W - rp).cast("bigint").alias("pos"),
            m.cast("bigint").alias("gram_hash"),
        )

    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(hc) - (WINNOW_W - 1)), lambda i: pick(i)
        )
    )
    return d.select("doc_id", F.explode(sel).alias("f")).select(
        "doc_id", F.col("f.pos").alias("pos"), F.col("f.gram_hash").alias("gram_hash")
    )


# --- char-n-gram language ID ----------------------------------------------
CHAR_NGRAM_N = 3
LANG_PROFILE_K = 50  # trigrams per language profile


@register(
    "l_char_ngram_lang_id",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, length(text) - {CHAR_NGRAM_N - 2}),
                      i -> substr(text, i, {CHAR_NGRAM_N}))) AS gram
        FROM documents WHERE length(text) >= {CHAR_NGRAM_N}
    ),
    lang_counts AS (
        SELECT lang, gram, count(*) AS c FROM g GROUP BY lang, gram
    ),
    profiles AS (
        SELECT lang, gram FROM (
            SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY c DESC, gram
            ) AS rn FROM lang_counts
        ) WHERE rn <= {LANG_PROFILE_K}
    ),
    doc_grams AS (SELECT DISTINCT doc_id, lang, gram FROM g),
    ovl AS (
        SELECT d.doc_id, d.lang, p.lang AS cand_lang,
               CAST(count(*) AS BIGINT) AS n_overlap
        FROM doc_grams d JOIN profiles p ON p.gram = d.gram
        GROUP BY d.doc_id, d.lang, p.lang
    )
    SELECT doc_id, lang, cand_lang AS pred_lang, n_overlap FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY n_overlap DESC, cand_lang
        ) AS rn FROM ovl
    ) WHERE rn = 1
    """,
)
def l_char_ngram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification — the standard
    profile-based classifier (Cavnar & Trenkle n-gram ranking,
    fastText's feature space): TRAIN per-language profiles (top-50
    trigrams by frequency, deterministic tie-breaks) from the labeled
    corpus, BROADCAST the tiny model, and classify every document by
    its distinct-trigram overlap with each profile (argmax, ties
    alphabetical). Complements l_lang_id's marker-word heuristic with
    the train-then-apply shape a real pipeline uses.

    Scale shape: training is one (lang, gram) aggregation + a
    PARTITIONED top-k window over language-sized groups; the model is
    |langs| x {LANG_PROFILE_K} rows broadcast into the scoring join, so
    classification never shuffles the corpus — the per-doc argmax is a
    window partitioned by doc_id over at most |langs| rows."""
    # the documents fixture is one parquet file -> one input split, and
    # the trigram explode multiplies rows ~n_chars-fold AFTER the
    # exchange, where AQE (sizing on the SMALL pre-explode bytes) would
    # coalesce right back to one task — so when the scan is coarser
    # than the cluster, spread the generator with an EXPLICIT partition
    # count, which AQE respects (6.5s -> 1.5s at sf0.1). The guard
    # matters at 100 TB: a well-split scan must NOT pay a whole-corpus
    # reshuffle for this.
    from bristle_spark.catalog import fan_out_if_coarse

    d = fan_out_if_coarse(
        load_table(spark, sf_dir, "documents").filter(
            F.length("text") >= CHAR_NGRAM_N
        ),
        "doc_id",
    )
    gram_arr = F.expr(
        f"transform(sequence(1, length(text) - {CHAR_NGRAM_N - 1}),"
        f" i -> substring(text, i, {CHAR_NGRAM_N}))"
    )
    grams = d.select("doc_id", "lang", F.explode(gram_arr).alias("gram"))
    lang_counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    pw = Window.partitionBy("lang").orderBy(F.col("c").desc(), "gram")
    profiles = (
        lang_counts.withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= LANG_PROFILE_K)
        .select(F.col("lang").alias("cand_lang"), "gram")
    )
    # the broadcast profile join runs BEFORE any dedup, so only grams
    # that hit a profile survive to the aggregation, and the per-doc
    # distinct happens inside countDistinct's map-side partial dedup —
    # no standalone corpus-sized .distinct() exchange (measured: the
    # separate-distinct and array_distinct formulations cost 3.8s and
    # 5.2s at sf0.1; this one ~1.4s; an r16 row-local
    # array_intersect-vs-profile-arrays variant measured 1.6s — the
    # per-row hash-set build loses to the codegen'd join+agg)
    overlaps = (
        grams.join(F.broadcast(profiles), "gram")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(F.countDistinct("gram").alias("n_overlap"))
    )
    # per-doc argmax as a map-side-combinable struct-min instead of the
    # old rank window (r16, the _assign_nearest_cell pattern): one
    # exchange of one narrow row per doc, no sort; min(struct(-overlap,
    # cand_lang)) replays the window's (overlap DESC, cand_lang ASC)
    # tie rule exactly.
    best = overlaps.groupBy("doc_id", "lang").agg(
        F.min(
            F.struct(
                (-F.col("n_overlap")).alias("no"),
                F.col("cand_lang").alias("cl"),
            )
        ).alias("_b")
    )
    return best.select(
        "doc_id",
        "lang",
        F.col("_b.cl").alias("pred_lang"),
        (-F.col("_b.no")).alias("n_overlap"),
    )


# --- classifier evaluation harness ----------------------------------------


def _lang_eval_leg(tag: str, oracle_body: str) -> str:
    return f"""
    SELECT '{tag}' AS classifier,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           {r6_sql("avg(CASE WHEN pred_lang = lang THEN 1.0 ELSE 0.0 END)")}
               AS accuracy
    FROM ({oracle_body})
    """


@register("l_lang_id_eval", oracle=None)  # oracle injected below
def l_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation harness: accuracy of BOTH language
    identifiers (marker-word heuristic vs char-trigram profiles)
    against the labeled corpus, side by side — the model-selection
    measurement a pipeline runs before committing to a lang filter
    (the l_knn_eval / l_ann_recall_eval discipline applied to
    classifiers).

    The oracle composes the two classifiers' REGISTERED oracle SQL
    verbatim (the l_quality_ensemble pattern), so the gate re-derives
    both classifiers end-to-end, not just the accuracy arithmetic."""
    out = []
    for tag, fn in (
        ("char_ngram", l_char_ngram_lang_id),
        ("marker_words", l_lang_id),
    ):
        df = fn(spark, sf_dir)
        out.append(
            df.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(
                    F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
                ).cast("bigint").alias("n_correct"),
                r6(
                    F.avg(
                        F.when(F.col("pred_lang") == F.col("lang"), 1.0).otherwise(0.0)
                    )
                ).alias("accuracy"),
            ).select(F.lit(tag).alias("classifier"), "n_docs", "n_correct", "accuracy")
        )
    return out[0].unionByName(out[1])


def _install_lang_eval_oracle() -> None:
    """Compose the eval oracle from the two classifiers' registered SQL
    (registration order guarantees both exist by module end)."""
    from bristle_spark import registry

    spec = registry._REGISTRY["l_lang_id_eval"]
    char_o = registry._REGISTRY["l_char_ngram_lang_id"].oracle
    marker_o = registry._REGISTRY["l_lang_id"].oracle
    oracle = (
        _lang_eval_leg("char_ngram", char_o)
        + " UNION ALL "
        + _lang_eval_leg("marker_words", marker_o)
    )
    registry._REGISTRY["l_lang_id_eval"] = registry.QuerySpec(
        name=spec.name, fn=spec.fn, oracle=oracle, group=spec.group, doc=spec.doc
    )


_install_lang_eval_oracle()


# ------------------------------------------------------------------ BM25
# Okapi BM25 retrieval for a fixed conjunctive-OR term query: the
# ranking function behind Lucene/Elasticsearch and the sparse half of
# every hybrid (sparse+dense) retrieval pipeline.
BM25_QUERY_TERMS = ("join", "filter", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10


@register(
    "l_bm25",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok
        WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})
        GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tf)
        GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(
                   ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                           + {BM25_B} * dl.dl / stats.avgdl))
               ) AS score,
               CAST(count(*) AS BIGINT) AS n_terms_hit
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, {r6_sql("score")} AS bm25, n_terms_hit
    FROM scored
    ORDER BY {r6_sql("score")} DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def l_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{BM25_TOP_K} retrieval for the fixed OR-query
    {BM25_QUERY_TERMS}: per-(doc, term) saturated term frequency scaled
    by the Robertson-Sparck-Jones idf (Lucene's ``+1`` variant, always
    positive) and the document-length normalization ``1 - b + b*dl/avgdl``.

    Scale shape: the token explode is filtered to the |Q| query terms
    BEFORE the (doc_id, term) aggregation, so the only corpus-sized
    shuffle carries matching postings, not the whole token stream; df is
    |Q| rows and (n_docs, avgdl) is ONE row — both broadcast; doc length
    rides a second scan of the narrow (doc_id, text) projection rather
    than widening the postings shuffle.  The final cut is a rounded-score
    TakeOrderedAndProject with doc_id tiebreak, so both engines pick
    identical rows at ties.  At 100 TB this is exactly the
    query-evaluation half of l_inverted_index: score from postings,
    never from raw text.

    Cites reference scope: the reference ships no retrieval ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (BM25_K1 + 1.0) / norm
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            r6(F.sum(contrib)).alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_K)
    )


# --------------------------------------------------------- Gopher rules
# Hard per-rule document gates in the style of the Gopher / MassiveText
# quality rules (Rae et al. 2021, table A1): each rule is a named
# boolean, the keep decision is their conjunction.  Distinct from
# l_quality_score (a weighted continuous score): production pipelines
# run BOTH — hard gates first, soft score for ranking what survives.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MIN_DISTINCT_STOP = 2
GOPHER_MAX_PUNCT_RATIO = 0.10
GOPHER_MAX_TOP_TOKEN_FRAC = 0.20


@register(
    "l_gopher_rules",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    top_tok AS (
        SELECT doc_id, max(c) AS top_freq
        FROM (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk)
        GROUP BY doc_id
    ),
    stats AS (
        SELECT t.doc_id,
               count(*) AS n_tok,
               count(DISTINCT CASE WHEN t.tk IN ({", ".join(f"'{w}'" for w in STOPWORDS)})
                                   THEN t.tk END) AS n_stop_distinct,
               sum(length(t.tk)) AS sum_wlen
        FROM tok t GROUP BY t.doc_id
    ),
    base AS (
        SELECT d.doc_id, s.n_tok, s.n_stop_distinct,
               CAST(s.sum_wlen AS DOUBLE) / s.n_tok AS mean_wlen,
               CAST(len(regexp_extract_all(d.text, '{PUNCT_RE}')) AS DOUBLE)
                   / s.n_tok AS punct_per_word,
               CAST(tt.top_freq AS DOUBLE) / s.n_tok AS top_token_frac
        FROM documents d
        JOIN stats s USING (doc_id)
        JOIN top_tok tt USING (doc_id)
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_tok BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS INTEGER) AS ok_word_count,
           CAST(mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN} AS INTEGER) AS ok_mean_wlen,
           CAST(n_stop_distinct >= {GOPHER_MIN_DISTINCT_STOP} AS INTEGER) AS ok_stopwords,
           CAST(punct_per_word <= {GOPHER_MAX_PUNCT_RATIO} AS INTEGER) AS ok_symbol_ratio,
           CAST(top_token_frac <= {GOPHER_MAX_TOP_TOKEN_FRAC} AS INTEGER) AS ok_repetition,
           CAST((n_tok BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
                AND (mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN})
                AND n_stop_distinct >= {GOPHER_MIN_DISTINCT_STOP}
                AND punct_per_word <= {GOPHER_MAX_PUNCT_RATIO}
                AND top_token_frac <= {GOPHER_MAX_TOP_TOKEN_FRAC} AS INTEGER) AS keep
    FROM base
    """,
)
def l_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style hard quality gates: five named boolean
    rules — word count in [{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}], mean
    word length in [{GOPHER_MIN_MEAN_WLEN}, {GOPHER_MAX_MEAN_WLEN}],
    >= {GOPHER_MIN_DISTINCT_STOP} distinct stopwords, punctuation per
    word <= {GOPHER_MAX_PUNCT_RATIO}, and top-token dominance <=
    {GOPHER_MAX_TOP_TOKEN_FRAC} (the single-line analog of Gopher's
    duplicate-line fraction) — plus their conjunction as ``keep``.
    Emitting every rule flag (not just the verdict) is what makes the
    funnel debuggable: per-rule rejection rates are one groupBy away.

    Scale shape: one explode feeding two map-side-combinable per-doc
    aggregations — (doc_id, tk) counts for top-token dominance, then a
    doc_id rollup that rides the same hash partitioning; the scalar
    regexp count stays in its own narrow projection joined once on
    doc_id (the l_quality_score lesson: regex through a generator
    re-evaluates per token).  No windows, no corpus-sized join, so the
    gate costs one shuffle of (doc_id, token) pairs at any SF.

    Cites reference scope: the reference ships no quality filters; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    per_tok = tok.groupBy("doc_id", "tk").agg(F.count(F.lit(1)).alias("c"))
    top_tok = per_tok.groupBy("doc_id").agg(F.max("c").alias("top_freq"))
    stats = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct(
            F.when(F.col("tk").isin(*STOPWORDS), F.col("tk"))
        ).alias("n_stop_distinct"),
        F.sum(F.length("tk")).alias("sum_wlen"),
    )
    scalars = d.select(
        "doc_id",
        F.regexp_count("text", F.lit(PUNCT_RE)).cast("bigint").alias("n_punct"),
    )
    base = stats.join(top_tok, "doc_id").join(scalars, "doc_id")
    mean_wlen = F.col("sum_wlen").cast("double") / F.col("n_tok")
    punct_per_word = F.col("n_punct").cast("double") / F.col("n_tok")
    top_frac = F.col("top_freq").cast("double") / F.col("n_tok")
    ok_wc = F.col("n_tok").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_mwl = mean_wlen.between(GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN)
    ok_stop = F.col("n_stop_distinct") >= GOPHER_MIN_DISTINCT_STOP
    ok_sym = punct_per_word <= GOPHER_MAX_PUNCT_RATIO
    ok_rep = top_frac <= GOPHER_MAX_TOP_TOKEN_FRAC
    return base.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        ok_wc.cast("int").alias("ok_word_count"),
        ok_mwl.cast("int").alias("ok_mean_wlen"),
        ok_stop.cast("int").alias("ok_stopwords"),
        ok_sym.cast("int").alias("ok_symbol_ratio"),
        ok_rep.cast("int").alias("ok_repetition"),
        (ok_wc & ok_mwl & ok_stop & ok_sym & ok_rep).cast("int").alias("keep"),
    )


# -------------------------------------------------- score calibration
CALIB_BINS = 10  # fixed-width score bins (value-based, row-local)
CALIB_POS_LANG = "en"  # pseudo-label: is the doc tagged English


@register(
    "l_score_calibration",
    oracle=f"""
    WITH q AS ({{q}})
    SELECT CAST(least(floor(q.quality * {CALIB_BINS}), {CALIB_BINS - 1}) AS BIGINT)
               AS bin,
           CAST(count(*) AS BIGINT)                            AS n_docs,
           {r6_sql("avg(q.quality)")}                          AS mean_score,
           {r6_sql(f"avg(CASE WHEN d.lang = '{CALIB_POS_LANG}' THEN 1.0 ELSE 0.0 END)")}
               AS frac_positive,
           {r6_sql(f"abs(avg(q.quality) - avg(CASE WHEN d.lang = '{CALIB_POS_LANG}' THEN 1.0 ELSE 0.0 END))")}
               AS abs_gap
    FROM q JOIN documents d USING (doc_id)
    GROUP BY 1
    """,
)
def l_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-calibration table for the heuristic quality score
    against a deterministic pseudo-label (lang = '{CALIB_POS_LANG}'):
    fixed-width score bins with per-bin mean score, positive fraction
    and |gap| — the reliability-diagram / ECE input every
    quality-classifier retraining loop inspects.  (The pseudo-label is
    synthetic; the gate is that both engines compute the identical
    calibration table, the same contract as l_lang_id.)

    Scale shape: binning is VALUE-based (``floor(score * {CALIB_BINS})``,
    row-local) — not ntile, which would need a global single-partition
    window; the whole query is the quality-score plan plus one
    broadcast-joined metadata lookup and one {CALIB_BINS}-group
    map-side-combinable aggregation.  The oracle composes
    l_quality_score's REGISTERED SQL verbatim, so the signal can never
    drift from its calibration.

    Cites reference scope: the reference ships no scoring ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    q = l_quality_score(spark, sf_dir).select("doc_id", "quality")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    y = F.when(F.col("lang") == CALIB_POS_LANG, 1.0).otherwise(0.0)
    joined = q.join(d, "doc_id")
    return (
        joined.groupBy(
            F.least(
                F.floor(F.col("quality") * CALIB_BINS), F.lit(CALIB_BINS - 1)
            )
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            r6(F.avg("quality")).alias("mean_score"),
            r6(F.avg(y)).alias("frac_positive"),
            r6(F.abs(F.avg("quality") - F.avg(y))).alias("abs_gap"),
        )
    )


def _install_calibration_oracle() -> None:
    """Substitute l_quality_score's registered oracle into the
    calibration template (same pattern as l_lang_id_eval)."""
    from bristle_spark import registry

    spec = registry._REGISTRY["l_score_calibration"]
    filled = spec.oracle.format(q=registry._REGISTRY["l_quality_score"].oracle)
    registry._REGISTRY["l_score_calibration"] = registry.QuerySpec(
        name=spec.name, fn=spec.fn, oracle=filled, group=spec.group, doc=spec.doc
    )


_install_calibration_oracle()


# ------------------------------------------------------ OOV coverage
VOCAB_TOP_N = 1000  # tokenizer vocabulary: the N most frequent words


@register(
    "l_oov_rate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    freq AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    vocab AS (
        SELECT tk FROM (
            SELECT tk, row_number() OVER (ORDER BY c DESC, tk) AS rn FROM freq
        ) WHERE rn <= {VOCAB_TOP_N}
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           {r6_sql("CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
               AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.tk = v.tk
    GROUP BY t.doc_id
    """,
)
def l_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-{VOCAB_TOP_N}
    corpus vocabulary by word frequency (count-then-word tiebreak, so
    the vocab is deterministic) and score every document's
    out-of-vocabulary token fraction — the fertility/coverage check
    run before fixing a tokenizer vocabulary, and the standard proxy
    for how much of a corpus a fixed vocab will shred into rare-piece
    sequences.

    Scale shape: one (token) frequency aggregation — map-side
    combinable — funnels through TakeOrderedAndProject to
    {VOCAB_TOP_N} rows, which then BROADCAST to the membership join
    (never a shuffle of the token stream against the vocab); the
    per-doc rollup is the second and last corpus-sized aggregation.
    At 100 TB the vocab table is fixed and tiny; only the two
    aggregations touch the corpus.

    Cites reference scope: the reference ships no text ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        freq.orderBy(F.col("c").desc(), "tk")
        .limit(VOCAB_TOP_N)
        .select("tk", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            r6(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


# --------------------------------------------------- lang confusion
@register(
    "l_lang_confusion",
    oracle="""
    WITH pred AS ({pred}),
    tot AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_true
        FROM pred GROUP BY lang
    )
    SELECT p.lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           {frac} AS frac_of_true
    FROM pred p JOIN tot USING (lang)
    GROUP BY p.lang, p.pred_lang, tot.n_true
    """,
)
def l_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the char-trigram language classifier
    against the tagged lang: per (true, predicted) cell counts and the
    row-normalized fraction — the diagnostic behind l_lang_id_eval's
    single accuracy number (which cells leak into which is what
    actually drives threshold tuning).

    Scale shape: the classifier keeps its own audited plan; the
    confusion rollup is one |langs|^2-group map-side-combinable
    aggregation plus a broadcast join of the |langs|-row true-count
    frame.  The oracle composes l_char_ngram_lang_id's REGISTERED SQL
    verbatim, so matrix and classifier can never drift.

    Cites reference scope: the reference ships no text ops; this
    extends the engine's LLM-pipeline surface (BASELINE.json)."""
    # materialize predictions ONCE: they feed both the true-count frame
    # and the join side, and without this the full train+score classifier
    # plan executes twice (measured 5.4s -> ~3s at sf0.1 idle)
    pred = (
        l_char_ngram_lang_id(spark, sf_dir)
        .select("lang", "pred_lang")
        .localCheckpoint()
    )
    tot = pred.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    return (
        pred.join(F.broadcast(tot), "lang")
        .groupBy("lang", "pred_lang", "n_true")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "lang",
            "pred_lang",
            "n",
            r6(F.col("n").cast("double") / F.col("n_true")).alias("frac_of_true"),
        )
    )


def _install_lang_confusion_oracle() -> None:
    from bristle_spark import registry

    spec = registry._REGISTRY["l_lang_confusion"]
    filled = spec.oracle.replace(
        "{pred}", registry._REGISTRY["l_char_ngram_lang_id"].oracle
    ).replace("{frac}", r6_sql("CAST(count(*) AS DOUBLE) / tot.n_true"))
    registry._REGISTRY["l_lang_confusion"] = registry.QuerySpec(
        name=spec.name, fn=spec.fn, oracle=filled, group=spec.group, doc=spec.doc
    )


_install_lang_confusion_oracle()


# --------------------------------------------------- reciprocal-rank fusion
RRF_K = 60  # the canonical RRF damping constant


def _rank_by(df, score_col: str):
    """Rank a BOUNDED top-k frame by (score desc, doc_id) via a
    broadcast self-join count — no window, no single-partition funnel:
    rank(d) = 1 + |{d': score' > score or (score' = score and id' < id)}|.
    O(k^2) comparisons on a k<=10-row frame."""
    x = df.select(F.col("doc_id").alias("xid"), F.col(score_col).alias("xs"))
    y = df.select(F.col("doc_id").alias("yid"), F.col(score_col).alias("ys"))
    better = (F.col("ys") > F.col("xs")) | (
        (F.col("ys") == F.col("xs")) & (F.col("yid") < F.col("xid"))
    )
    return (
        x.join(F.broadcast(y), better, "left")
        .groupBy("xid")
        .agg((F.count("yid") + 1).cast("bigint").alias("r"))
        .select(F.col("xid").alias("doc_id"), "r")
    )


@register(
    "l_rank_fusion",
    oracle="""
    WITH bm AS ({bm25}),
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    qlh AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS hits,
               CAST(max(dl) AS BIGINT) AS dl
        FROM tok WHERE term IN ({terms})
        GROUP BY doc_id
    ),
    ql AS (
        SELECT doc_id, {ql_expr} AS ql
        FROM qlh
        ORDER BY {ql_expr} DESC, doc_id LIMIT {topk}
    ),
    ra AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
        FROM bm
    ),
    rb AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY ql DESC, doc_id) AS BIGINT) AS r
        FROM ql
    )
    SELECT doc_id, ra.r AS bm25_rank, rb.r AS ql_rank,
           {rrf_expr} AS rrf
    FROM ra FULL JOIN rb USING (doc_id)
    ORDER BY {rrf_expr} DESC, doc_id
    """,
)
def l_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings for the same
    query — Okapi BM25 (l_bm25's registered plan) and a length-
    normalized query-likelihood ranker — RRF(d) = sum_r 1/({RRF_K} +
    rank_r(d)), the standard zero-tuning way to combine lexical and
    secondary rankers in a retrieval stack (hybrid-search serving
    path). Docs absent from one list contribute nothing for it.

    Determinism: both input rankings order by (6-dp half-up score,
    doc_id); the query-likelihood score is a single ratio of BIGINTs;
    the RRF sum is two fixed-order terms. Ranks within each BOUNDED
    top-{topk} list come from a broadcast self-join count (no window,
    no single-partition funnel). The oracle composes l_bm25's
    REGISTERED SQL verbatim, so fused and source rankings cannot
    drift. Scale shape: everything after the two top-k funnels
    (TakeOrderedAndProject each) operates on <= 2x{topk} rows."""
    bm = l_bm25(spark, sf_dir).select("doc_id", "bm25").localCheckpoint()
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        F.explode(toks).alias("term"),
    )
    qlh = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hits"),
            F.max("dl").alias("dl"),
        )
    )
    ql = (
        qlh.select(
            "doc_id",
            r6(F.col("hits").cast("double") / F.col("dl")).alias("ql"),
        )
        .orderBy(F.desc("ql"), "doc_id")
        .limit(BM25_TOP_K)
        .localCheckpoint()
    )
    ra = _rank_by(bm, "bm25").withColumnRenamed("r", "bm25_rank")
    rb = _rank_by(ql, "ql").withColumnRenamed("r", "ql_rank")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("bm25_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("ql_rank")), F.lit(0.0)
    )
    return (
        ra.join(rb, "doc_id", "full")
        .select("doc_id", "bm25_rank", "ql_rank", r6(rrf).alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
    )


def _install_rank_fusion_oracle() -> None:
    from bristle_spark import registry

    spec = registry._REGISTRY["l_rank_fusion"]
    ql_expr = r6_sql("CAST(hits AS DOUBLE) / dl")
    rrf_raw = (
        f"coalesce(1.0 / ({RRF_K} + ra.r), 0.0)"
        f" + coalesce(1.0 / ({RRF_K} + rb.r), 0.0)"
    )
    rrf_expr = r6_sql(rrf_raw)
    filled = (
        spec.oracle.replace("{bm25}", registry._REGISTRY["l_bm25"].oracle)
        .replace("{terms}", ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS))
        .replace("{ql_expr}", ql_expr)
        .replace("{topk}", str(BM25_TOP_K))
        .replace("{rrf_expr}", rrf_expr)
    )
    registry._REGISTRY["l_rank_fusion"] = registry.QuerySpec(
        name=spec.name, fn=spec.fn, oracle=filled, group=spec.group, doc=spec.doc
    )


_install_rank_fusion_oracle()


# --------------------------------------------- tokenizer fertility


@register(
    "l_tokenizer_fertility",
    oracle=f"""
    WITH d AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT)              AS words,
               CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS toks,
               CAST(length(text) AS BIGINT)                              AS chars
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(words) AS BIGINT)   AS n_words,
           CAST(sum(toks) AS BIGINT)    AS n_tokens,
           {r6_sql("CAST(sum(toks) AS DOUBLE) / sum(words)")}  AS fertility,
           {r6_sql("CAST(sum(chars) AS DOUBLE) / sum(toks)")}  AS chars_per_token
    FROM d GROUP BY lang
    """,
)
def l_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: tokens-per-word and
    chars-per-token under the BPE-ish regex tokenizer — the standard
    cross-lingual tokenizer-efficiency report (a language whose
    fertility is 2x English pays 2x the sequence length for the same
    text, which drives vocab-allocation decisions).

    Scale shape: row-local token counting (regexp_count / split stay in
    whole-stage codegen, no explode), then ONE map-side-combined
    groupBy to a languages-sized output. All sums are integer-exact;
    only the two final ratios round (6 dp).

    Cites reference scope: the reference ships ingest only; tokenizer
    diagnostics are engine-side LLM-pipeline surface (BASELINE.json)."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("words"),
        F.regexp_count("text", F.lit(BPE_RE)).cast("bigint").alias("toks"),
        F.length("text").cast("bigint").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("n_words"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        r6(F.sum("toks").cast("double") / F.sum("words")).alias("fertility"),
        r6(F.sum("chars").cast("double") / F.sum("toks")).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# l_rank_biased_overlap — RBO between two document rankings

RBO_P = 0.9
RBO_DEPTH = 50
# (1-p)·p^(d-1) weights rendered ONCE in Python so both engines parse
# identical 17-significant-digit literals instead of evaluating pow()
# at run time (the _BENFORD_P discipline).
_RBO_W = {d: repr((1.0 - RBO_P) * RBO_P ** (d - 1)) for d in range(1, RBO_DEPTH + 1)}
_RBO_VALUES_SQL = ", ".join(f"({d}, CAST({w} AS DOUBLE))" for d, w in _RBO_W.items())
# contribution quantum: w_d·A_d ∈ [0,1] per depth, 50 terms — nano
# units keep the quantized total's error ≤ 50·5e-10, far under r6
_RBO_SCALE = 1_000_000_000


@register(
    "l_rank_biased_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r1,
               row_number() OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS r2
        FROM toks
    ),
    both_prefix AS (
        SELECT lang, CASE WHEN r1 > r2 THEN r1 ELSE r2 END AS m
        FROM ranked
        WHERE r1 <= {RBO_DEPTH} AND r2 <= {RBO_DEPTH}
    ),
    depths(d, w) AS (VALUES {_RBO_VALUES_SQL}),
    ovl AS (
        SELECT b.lang, depths.d, depths.w,
               CAST(count(*) AS BIGINT) AS ov
        FROM both_prefix b JOIN depths ON b.m <= depths.d
        GROUP BY 1, 2, 3
    ),
    terms AS (
        SELECT lang, d, ov,
               CAST(floor(w * CAST(ov AS DOUBLE) / d * {_RBO_SCALE} + 0.5) AS BIGINT) AS micro
        FROM ovl
    )
    SELECT lang,
           CAST(max(CASE WHEN d = {RBO_DEPTH} THEN ov END) AS BIGINT) AS overlap_at_k,
           CAST(sum(micro) AS BIGINT) AS rbo_micro,
           {r6_sql(f'CAST(sum(micro) AS DOUBLE) / {_RBO_SCALE}')} AS rbo
    FROM terms
    GROUP BY lang
    """,
)
def l_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., the top-weighted ranking
    similarity used to compare retrieval/quality rankers) between two
    document orderings per language: ranking A by character count,
    ranking B by whitespace token count.  Truncated at depth
    {RBO_DEPTH} with persistence p={RBO_P}: RBO = Σ (1−p)p^(d−1)·A_d
    where A_d is the overlap fraction of the two depth-d prefixes —
    the eval-harness complement of l_rank_fusion (which MERGES
    rankings; this MEASURES their agreement).

    Determinism: prefix overlap counts are exact BIGINTs (a doc joins
    A_d for every d ≥ max(r1, r2)); the geometric weights are literals
    rendered once in Python for both engines; each depth's
    contribution is ONE double product quantized to integer
    nano-units and BIGINT-summed (the r_cramers_v discipline — a
    cross-depth double sum would be order-dependent).

    Scale shape: two row_number windows partitioned by lang; the
    depth join touches only the ≤{RBO_DEPTH}-per-lang prefix frame
    against a {RBO_DEPTH}-row literal dimension — the corpus is
    scanned once, three columns.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w1 = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    w2 = Window.partitionBy("lang").orderBy(F.desc("n_tokens"), "doc_id")
    ranked = toks.select(
        "lang",
        F.row_number().over(w1).alias("r1"),
        F.row_number().over(w2).alias("r2"),
    )
    both_prefix = ranked.filter(
        (F.col("r1") <= RBO_DEPTH) & (F.col("r2") <= RBO_DEPTH)
    ).select("lang", F.greatest("r1", "r2").alias("m"))
    depths = spark.createDataFrame(
        [(d, float(w)) for d, w in _RBO_W.items()], "d int, w double"
    )
    overlaps = (
        both_prefix.join(F.broadcast(depths), F.col("m") <= F.col("d"))
        .groupBy("lang", "d", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ov"))
    )
    terms = overlaps.select(
        "lang",
        "d",
        "ov",
        F.floor(
            F.col("w") * F.col("ov").cast("double") / F.col("d") * _RBO_SCALE
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("micro"),
    )
    return terms.groupBy("lang").agg(
        F.max(F.when(F.col("d") == RBO_DEPTH, F.col("ov"))).cast("bigint").alias(
            "overlap_at_k"
        ),
        F.sum("micro").cast("bigint").alias("rbo_micro"),
        r6(F.sum("micro").cast("double") / F.lit(float(_RBO_SCALE))).alias("rbo"),
    )


# ---------------------------------------------------------------------------
# l_temperature_mix

_TEMP_ALPHA_NOTE = "alpha = 0.5 (sqrt temperature)"


_TEMP_MIX_ORACLE = """
    WITH src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM src),
    raw AS (
        SELECT s.source, s.n, t.nn,
               CAST(floor(sqrt(CAST(s.n AS DOUBLE) / CAST(t.nn AS DOUBLE))
                          * 1000000000000 + 0.5) AS BIGINT) AS wq
        FROM src s CROSS JOIN tot t
    ),
    norm AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM raw)
    SELECT r.source, r.n AS n_docs,
           {p_natural} AS p_natural,
           {weight} AS weight,
           {boost} AS boost
    FROM raw r CROSS JOIN norm m
    ORDER BY r.source
""".format(
    p_natural=r6_sql("CAST(r.n AS DOUBLE) / CAST(r.nn AS DOUBLE)"),
    weight=r6_sql("CAST(r.wq AS DOUBLE) / CAST(m.wsum AS DOUBLE)"),
    boost=r6_sql(
        "(CAST(r.wq AS DOUBLE) / CAST(m.wsum AS DOUBLE))"
        " / (CAST(r.n AS DOUBLE) / CAST(r.nn AS DOUBLE))"
    ),
)


@register("l_temperature_mix", oracle=_TEMP_MIX_ORACLE)
def l_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source — the standard
    multilingual/multi-source rebalancing rule for LLM training
    mixtures (w_i proportional to p_i^alpha, here alpha = 0.5): small
    sources are upsampled toward uniform, large sources downweighted,
    and the emitted boost = w_i / p_i is the per-source repetition
    factor a sampler applies. Complements l_domain_mix (observed
    shares) and l_mixture_sampler (applying given weights): this key
    COMPUTES the weights.

    Determinism: sqrt(p_i) is one exact division + one IEEE-correctly-
    rounded sqrt per source; each raw weight quantizes to PICO units
    (floor(sqrt(p)*1e12 + 0.5) BIGINT) BEFORE the cross-source
    normalizing sum, so the only multi-row reduction is an exact
    integer sum (the r_cramers_v discipline) and the normalized weight
    is one double ratio of exact integers.

    Scale shape: ONE map-side-combined count to |sources| rows; the
    total and the normalizer are 1-row broadcasts; everything else is
    row-local arithmetic on the bounded source frame."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = src.agg(F.sum("n").cast("bigint").alias("nn"))
    raw = src.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.floor(
            F.sqrt(F.col("n").cast("double") / F.col("nn").cast("double"))
            * F.lit(1000000000000.0)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    norm = raw.agg(F.sum("wq").cast("bigint").alias("wsum"))
    p = F.col("n").cast("double") / F.col("nn").cast("double")
    w = F.col("wq").cast("double") / F.col("wsum").cast("double")
    return (
        raw.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            r6(p).alias("p_natural"),
            r6(w).alias("weight"),
            r6(w / p).alias("boost"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# l_snippet_extract — best query-term window per document

SNIPPET_W = 10       # snippet width, tokens
SNIPPET_TERMS = 3    # query = top-k corpus tokens by count (tie: token asc)


@register(
    "l_snippet_extract",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS tok,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    q AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS c FROM tok GROUP BY tok
            ORDER BY c DESC, tok ASC LIMIT {SNIPPET_TERMS}
        )
    ),
    hits AS (
        SELECT h.doc_id, h.pos, h.n_tokens FROM tok h JOIN q USING (tok)
    ),
    scored AS (
        SELECT doc_id, pos, n_tokens,
               CAST(count(*) OVER (PARTITION BY doc_id ORDER BY pos
                    RANGE BETWEEN CURRENT ROW AND {SNIPPET_W - 1} FOLLOWING)
                    AS BIGINT) AS n_hits
        FROM hits
    ),
    best AS (
        SELECT doc_id, pos, n_tokens, n_hits FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n_hits DESC, pos ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT doc_id,
           CAST(pos AS BIGINT) AS best_start,
           CAST(LEAST(pos + {SNIPPET_W - 1}, n_tokens - 1) AS BIGINT) AS best_end,
           n_hits,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM best
    ORDER BY doc_id
    """,
)
def l_snippet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-window snippet selection: for each document, the
    {SNIPPET_W}-token window carrying the most query-term hits (query
    = the corpus's top-{SNIPPET_TERMS} tokens by frequency, ties by
    token — self-contained and deterministic), reported as (start,
    end, hit count) — the passage-selection primitive behind RAG
    context extraction, keyword-in-context review UIs, and snippet
    generation, over the shared documents table.

    The candidate reduction IS the scale story: the densest window can
    always be anchored AT a hit, so only hit positions are scored —
    per doc that is O(hits), not O(tokens) windows — and the scoring
    frame is a doc-partitioned integer-RANGE window (current row +
    {SNIPPET_W}-1 following over pos), never a global window.  Ties
    break to the earliest start on both engines (row_number over
    n_hits DESC, pos ASC).  Documents with zero query hits carry no
    snippet and are excluded identically on both sides.

    Scale shape: one narrow posexplode, one map-side-combined token
    count to derive the bounded query set, a {SNIPPET_TERMS}-row
    broadcast join filtering the exploded stream down to hits, then
    two doc-partitioned windows over the compressed hit frame — raw
    text is scanned once."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    tok = d.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.posexplode("t").alias("pos", "tok"),
    )
    q = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(SNIPPET_TERMS)
        .select("tok")
    )
    hits = tok.join(F.broadcast(q), "tok").select("doc_id", "pos", "n_tokens")
    w_range = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rangeBetween(0, SNIPPET_W - 1)
    )
    scored = hits.select(
        "doc_id",
        "pos",
        "n_tokens",
        F.count(F.lit(1)).over(w_range).cast("bigint").alias("n_hits"),
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.desc("n_hits"), F.asc("pos")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("best_start"),
            F.least(
                F.col("pos") + (SNIPPET_W - 1), F.col("n_tokens") - 1
            )
            .cast("bigint")
            .alias("best_end"),
            "n_hits",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )
