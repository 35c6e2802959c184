"""Distributed byte-pair-encoding merge learning over a text corpus.

The reference has no tokenizer surface; this is a training-data-pipeline
extension (SURVEY §6): token counting uses a FIXED vocabulary, this
operator LEARNS one — the merge table a BPE tokenizer ships is exactly
the output here, computed the way tokenizer training actually runs on
web-scale corpora (pair-count → argmax → apply-merge, iterated).

Semantics (deterministic on both engines so the DuckDB oracle can
replay it exactly):

  s0        = lowercase letters only (regexp strip) per document
  pairs_k   = every OVERLAPPING adjacent character pair of s_k
              (the classic BPE count statistic)
  merge_k   = argmax pair by (count DESC, pair ASC)
  s_{k+1}   = replace(s_k, merge_k, placeholder_k) — greedy
              left-to-right non-overlapping, the same scan rule
              `replace` implements in Spark and DuckDB
  output    = (step, pair, cnt) for k = 1..K

Placeholders are uppercase 'A','B',… — the cleaned corpus is lowercase-
only, so merged-token symbols can never collide with corpus text, and
later merges involving earlier ones stay printable ('Ae' = merge #1
followed by 'e').

Scale shape (100 TB): each iteration is a map-side explode of adjacent
pairs (O(chars) rows but combine-heavy: the groupBy key space is at
most (26+K)² pairs, so partial aggregation collapses each partition to
a few hundred rows before the shuffle), ONE driver-side argmax collect
of a single row (the bounded shape of a Lloyd's k-means iteration),
and a map-only replace. K is a fixed parameter — a static, resumable
DAG. Real tokenizer training (GPT-2 BPE, SentencePiece) is this exact
loop with word-boundary pre-splitting; the pair statistic and merge
rule are identical.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# uppercase placeholders for merged tokens; corpus is lowercased a-z
PLACEHOLDERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def clean_corpus(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, s): the deterministic training view — lowercase letters
    only, so the pair alphabet is exactly a-z plus merge placeholders."""
    return docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", "").alias("s"),
    )


def adjacent_pair_counts(corpus: DataFrame) -> DataFrame:
    """(pair, cnt): every overlapping adjacent 2-char window. JVM-side
    (transform/sequence/substring — no Python in the loop); the filter
    guards sequence(1, len-1) against empty/1-char docs where Spark's
    sequence would run DESCENDING instead of empty."""
    return (
        corpus.filter(F.length("s") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))")
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
    )


def learn_bpe_merges(docs: DataFrame, k: int = 4, text_col: str = "text") -> DataFrame:
    """→ (step, pair, cnt): the first `k` learned BPE merges. Each
    iteration collects exactly ONE row (the argmax pair) — the bounded
    driver action every iterative trainer needs; everything else stays
    distributed."""
    if k > len(PLACEHOLDERS):
        raise ValueError(f"at most {len(PLACEHOLDERS)} merges supported, got {k}")
    spark = docs.sparkSession
    # Persist the cleaned corpus: every iteration then recomputes only
    # its ≤k cheap replace()s from cache, never the regex strip of the
    # raw text (at real scale: checkpoint here, per SURVEY resumability).
    base = clean_corpus(docs, text_col).persist()
    try:
        cur = base
        merges: list[tuple[int, str, int]] = []
        for step in range(1, k + 1):
            top = (
                adjacent_pair_counts(cur)
                .orderBy(F.col("cnt").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break  # corpus exhausted (all docs < 2 chars)
            pair, cnt = top[0]["pair"], int(top[0]["cnt"])
            merges.append((step, pair, cnt))
            cur = cur.select(
                "doc_id",
                F.replace(F.col("s"), F.lit(pair), F.lit(PLACEHOLDERS[step - 1])).alias("s"),
            )
        return spark.createDataFrame(merges, "step bigint, pair string, cnt bigint")
    finally:
        base.unpersist()


def apply_bpe_merges(docs: DataFrame, merges: list[str], text_col: str = "text") -> DataFrame:
    """(doc_id, s, n_tokens): apply an already-learned merge list and
    report the resulting token count per document (each character or
    placeholder = one token). Map-only — the inference-time half of the
    trainer, usable standalone against a shipped merge table."""
    cur = clean_corpus(docs, text_col)
    col = F.col("s")
    for i, pair in enumerate(merges):
        col = F.replace(col, F.lit(pair), F.lit(PLACEHOLDERS[i]))
    return cur.select(
        "doc_id", col.alias("s"), F.length(col).alias("n_tokens")
    )
