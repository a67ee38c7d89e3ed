"""Spark SQL reference for the hyperplane-LSH cosine self-join.

This is the pure-expression formulation that
`opennre_spark.operators.similarity.ann_self_join` replaced with two
mapInArrow kernels: sign bits and the norm as zip_with + aggregate
folds, a band self-join restricted to each pair's first matching band,
and exact cosine on the candidates after joining the vectors back by
id. The production kernel must return exactly the same
(id_a, id_b, cos_sim) rows, cos_sim equal as doubles.

Differences from the production kernel: a vector of the wrong length is
padded with nulls by zip_with, so it gets 0 sign bits and never pairs
(production raises), and a zero vector fails the ANSI division
(production raises a ValueError naming it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opennre_spark.operators.similarity import (
    _dot,
    _first_band_match,
    _norm,
    _planes,
)


def hyperplane_signature_sql(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 16,
    num_bands: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, band_bits, sig_word): bit i of sig_word is
    `_dot(vec, plane_i) > 0`; band b holds bits b*per_band .. +per_band."""
    planes = _planes(dim, num_planes, seed)
    bits = [
        F.when(
            _dot(F.col(vec_col), F.array(*[F.lit(p) for p in plane])) > 0, 1
        ).otherwise(0).alias(f"__b{i}")
        for i, plane in enumerate(planes)
    ]
    df = embeddings.select(id_col, *bits)
    per_band = num_planes // num_bands
    word = sum(
        (F.col(f"__b{i}").cast("long") * F.lit(2**i) for i in range(num_planes)),
        F.lit(0).cast("long"),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                sum(
                    (
                        F.col(f"__b{bi * per_band + r}") * F.lit(2**r)
                        for r in range(per_band)
                    ),
                    F.lit(0),
                ).alias("band_bits"),
            )
            for bi in range(num_bands)
        ]
    )
    return df.select(
        id_col, F.explode(bands).alias("b"), word.alias("sig_word")
    ).select(id_col, "b.band", "b.band_bits", "sig_word")


def ann_self_join_sql(
    embeddings: DataFrame,
    dim: int,
    cosine_threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    num_bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """(id_a, id_b, cos_sim): band equi-join with the first-matching-band
    predicate, then `_dot(va, vb) / (_norm(va) * _norm(vb))` per pair."""
    per_band = num_planes // num_bands
    sigs = hyperplane_signature_sql(
        embeddings, dim, num_planes, num_bands, seed, id_col, vec_col
    )
    vec_tbl = embeddings.select(
        id_col, F.col(vec_col), _norm(F.col(vec_col)).alias("__nrm")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    first_match = _first_band_match(
        F.col("a.sig_word").bitwiseXOR(F.col("b.sig_word")),
        F.col("a.band"),
        per_band,
        num_bands,
    )
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_bits") == F.col("b.band_bits"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & first_match,
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )
    cand = cand.join(
        vec_tbl.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("__nrm").alias("na"),
        ),
        "id_a",
    ).join(
        vec_tbl.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.col("__nrm").alias("nb"),
        ),
        "id_b",
    )
    cos = (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
        "cos_sim"
    )
    return cand.select("id_a", "id_b", cos).filter(
        F.col("cos_sim") >= F.lit(cosine_threshold)
    )
