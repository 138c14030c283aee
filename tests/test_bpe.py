"""l_bpe_merges: the learned merge table must exactly match a
straightforward Python implementation of Sennrich-style word-level BPE
(same tie-break: max pair count, then lexicographically smallest pair)
on the same word-count table. Plus double-run determinism."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from bristle_spark.queries.textops import BPE_MERGES
from bristle_spark.registry import all_specs


def _reference_bpe(word_counts: dict[str, int], m: int):
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        key = tuple(w)
        vocab[key] = vocab.get(key, 0) + c
    merges = []
    for _ in range(m):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        new: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + c
        vocab = new
    return merges


def test_matches_reference_python_bpe(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {
        r["w"]: r["cnt"]
        for r in (
            d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
    }
    want = _reference_bpe(counts, BPE_MERGES)
    got = (
        all_specs()["l_bpe_merges"]
        .fn(spark, sf_dir)
        .orderBy("merge_idx")
        .collect()
    )
    assert [(r["left"], r["right"], r["pair_count"]) for r in got] == want


def test_double_run_identical(spark, sf_dir):
    a = all_specs()["l_bpe_merges"].fn(spark, sf_dir).orderBy("merge_idx").collect()
    b = all_specs()["l_bpe_merges"].fn(spark, sf_dir).orderBy("merge_idx").collect()
    assert a == b


def test_tokenize_matches_reference_application(spark, sf_dir):
    """Per-doc BPE token counts must equal applying the reference
    merges to each word of a sample of documents."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {
        r["w"]: r["cnt"]
        for r in (
            d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
    }
    merges = [(a, b) for a, b, _ in _reference_bpe(counts, BPE_MERGES)]

    def segment(word: str) -> int:
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in all_specs()["l_bpe_tokenize"].fn(spark, sf_dir).collect()
    }
    sample = d.orderBy("doc_id").limit(20).collect()
    for row in sample:
        want = sum(segment(w) for w in row["text"].split(" ") if w)
        assert got[row["doc_id"]] == want, row["doc_id"]


def test_chained_merge_respects_symbol_boundaries(spark):
    """Regression: after learning t+h, the pattern h+e must NOT fuse
    inside 'th|e' (the preceding symbol is 'th', not 'h'). A naive
    separator-replace without sentinel wrapping did exactly that."""
    from bristle_spark.queries.textops import _bpe_loop

    words = spark.createDataFrame(
        [("th", 10), ("he", 9), ("the", 5)], "w string, cnt long"
    )
    vocab, merges = _bpe_loop(words)
    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in merges.orderBy("merge_idx").collect()
    ]
    # round 1: (t,h)=15 beats (h,e)=14; round 2: (h,e)=9 beats (th,e)=5
    assert got[0] == ("t", "h", 15)
    assert got[1] == ("h", "e", 9)
    # the full merge list is the discriminator: the boundary bug fused
    # 'th|e' already in round 2, so round 3's legitimate (th, e) merge
    # never existed and the list diverged from the reference here
    want = _reference_bpe({"th": 10, "he": 9, "the": 5}, BPE_MERGES)
    assert want[2] == ("th", "e", 5)
    assert got == want
