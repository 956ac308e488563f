"""Vector math over ArrayType(FloatType) embedding columns.

Built entirely from Spark higher-order functions (zip_with/aggregate/
transform) — JVM-side, no Python UDF in the hot path. Accumulation is a
sequential left fold in double, which is bit-identical to DuckDB's
list_dot_product / list_reduce on DOUBLE[] (verified empirically), so cosine
similarities compare exactly against the oracle with no rounding.

At scale: these are narrow per-row expressions (no shuffle); a brute-force
top-k is one broadcast-join + per-row fold, and LSH bucketing turns the
quadratic candidate space into an equi-join on bucket ids.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMBED_DIM = 64


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cosine(a, b) — callers pre-cast with as_double()."""
    return dot(a, b) / (norm(a) * norm(b))


SQL_COSINE = (
    "(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)


# Sign-LSH hyperplanes: weight (p, d) = (md5_long(p || '_' || d) % 2001 - 1000)
# / 1000, computed here driver-side and replayed by the DuckDB oracles with
# SQL_PLANE. The two forms are bit-identical (positive int hex prefix, same
# %/cast semantics).
SQL_PLANE = (
    "list_transform(range(0, {dim}), d -> "
    "CAST(CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) "
    "% 2001 - 1000 AS DOUBLE) / 1000.0)"
).format(dim=EMBED_DIM)


def plane_weights(n_planes: int) -> list[list[float]]:
    """Weights of hyperplanes 0..n_planes-1, EMBED_DIM each."""
    return [
        [(int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16) % 2001
          - 1000) / 1000.0 for d in range(EMBED_DIM)]
        for p in range(n_planes)
    ]


def _sql_literal(x) -> str:
    return (f"array({', '.join(map(_sql_literal, x))})" if isinstance(x, list)
            else f"{x!r}D")


def band_signatures(e: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(vec_id, band, sig) sign-LSH band table of e(vec_id, v DOUBLE[]).

    Band b's signature packs the sign bits of planes b*band_bits + i as
    bit i, the packing the oracles replay with SQL_PLANE. The plane matrix
    is ONE constant literal parsed from SQL text (repr(float) round-trips
    exactly), and every signature comes from one transform/aggregate over
    it, so a geometry costs the builder a few Py4J calls instead of a
    literal node per weight. The weights are computed driver-side, never
    per row: deriving them from md5 inside the plan is not constant-folded
    and cost 14.8 s against 1.3 s for the sf0.1 band table."""
    w = plane_weights(n_bands * band_bits)
    # each band's planes listed high bit first: the fold acc*2 + bit then
    # leaves plane b*band_bits + i at 1 << i
    planes = F.expr(_sql_literal(
        [w[b * band_bits:(b + 1) * band_bits][::-1] for b in range(n_bands)]))
    sigs = F.transform(planes, lambda band: F.aggregate(
        band, F.lit(0),
        lambda acc, p: acc * 2 + F.when(dot(F.col("v"), p) >= 0, 1)
        .otherwise(0)))
    return e.select("vec_id", F.posexplode(sigs).alias("band", "sig"))
