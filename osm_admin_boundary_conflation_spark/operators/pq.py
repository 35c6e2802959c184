"""Product-quantization ANN: encode + asymmetric-distance scan.

PQ (Jegou, Douze, Schmid: "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) splits each vector into m subvectors, snaps each to
its nearest per-subspace centroid, and stores only the m code bytes; a
query scans codes with an ASYMMETRIC distance — exact query subvector vs
the candidate's centroid — via an m x k lookup table built once per
query. This is the memory-side companion of the engine's IVF path
(plans/dense_index.py): IVF prunes WHICH vectors to score, PQ shrinks
WHAT is stored per vector (64 dims x 4 bytes -> m bytes), and the ADC
table turns per-candidate work into m integer lookups.

Everything here is exact integer arithmetic over milli-quantized
components (float32 -> double widening is exact, round(v*1000) is the
engine's established quantization; embedding_quantized_norms gates it),
so distances are cross-engine reproducible BIGINTs — no float-summation
ordering anywhere. Codebook TRAINING (per-subspace k-means) is out of
scope: the codebook is an explicit input, as it is in a real index build
where training runs once on a sample and encode/scan run at corpus scale.

Scale shape: encode is {explode m subspaces} x {broadcast k*m centroid
rows} -> groupBy argmin — linear in corpus, map-side joins only. The
ADC scan joins codes to the broadcast m x k lookup table and top-k is
orderBy().limit() = TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def milli_quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, qv): each float component widened to double and rounded to
    an integer milli-unit — exact on both engines."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col), lambda c: F.round(c.cast("double") * 1000).cast("long")
        ).alias("qv"),
    )


def _explode_subspaces(df: DataFrame, m: int, dim: int) -> DataFrame:
    """(id, j, sv): the m dim/m-length subvectors of each qv."""
    sub = dim // m
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), F.slice("qv", j * sub + 1, sub).alias("sv")
            )
            for j in range(m)
        ]
    )
    return df.select("id", F.explode(parts).alias("p")).select(
        "id", F.col("p.j").alias("j"), F.col("p.sv").alias("sv")
    )


def _sub_d2(a, b):
    """Exact integer squared distance between two equal-length arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_encode(vecs: DataFrame, codebook: DataFrame, m: int, dim: int) -> DataFrame:
    """Snap each vector's m subvectors to their nearest codebook entry.

    vecs: (id, qv) milli-quantized; codebook: (cid, qv) — k rows, tiny,
    broadcast. Returns (id, j, cid) codes; argmin ties break to the
    smallest cid (deterministic).
    """
    sv = _explode_subspaces(vecs, m, dim)
    cb = _explode_subspaces(codebook.withColumnRenamed("cid", "id"), m, dim).select(
        F.col("id").alias("cid"), "j", F.col("sv").alias("cv")
    )
    d2 = sv.join(F.broadcast(cb), "j").select(
        "id", "j", "cid", _sub_d2(F.col("sv"), F.col("cv")).alias("d2")
    )
    return d2.groupBy("id", "j").agg(F.min(F.struct("d2", "cid")).alias("mc")).select(
        "id", "j", F.col("mc.cid").alias("cid")
    )


def adc_topk(
    codes: DataFrame,
    query: DataFrame,
    codebook: DataFrame,
    m: int,
    dim: int,
    k: int,
) -> DataFrame:
    """Asymmetric-distance top-k: build the m x n_centroids lookup table
    (exact query subvector -> each centroid, integer d2), join it to the
    code stream, sum per candidate. query: single-row (id, qv)."""
    qsv = _explode_subspaces(query, m, dim).select("j", F.col("sv").alias("qsv"))
    cb = _explode_subspaces(codebook.withColumnRenamed("cid", "id"), m, dim).select(
        F.col("id").alias("cid"), "j", F.col("sv").alias("cv")
    )
    lut = qsv.join(cb, "j").select("j", "cid", _sub_d2(F.col("qsv"), F.col("cv")).alias("qd2"))
    adc = (
        codes.join(F.broadcast(lut), ["j", "cid"])
        .groupBy("id")
        .agg(F.sum("qd2").alias("adc_d2"))
    )
    return adc.orderBy("adc_d2", "id").limit(k)
