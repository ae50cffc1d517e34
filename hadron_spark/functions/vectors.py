"""Vector functions over array<float|double> columns — JVM-side
expressions (zip_with + aggregate): the dot product of two 64-dim
arrays stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ accumulated in double, left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize (zero vectors pass through unchanged). Pre-
    normalizing a corpus once turns every later cosine into a plain
    dot product — at scale, normalize at ingest, not per query."""
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n)).otherwise(
        F.transform(a, lambda x: x.cast("double"))
    )


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (embedding compression for ANN at scale)
# ---------------------------------------------------------------------------


def max_abs(a: Column) -> Column:
    """max |aᵢ| in double — the symmetric-quantization range scalar."""
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))


def int8_quantize(a: Column) -> Column:
    """Symmetric per-vector int8 scalar quantization:
    qᵢ = clamp(floor(aᵢ·(127/max|a|) + 0.5), -127, 127) as array<int>.

    floor(x+0.5) instead of round(): engine round() tie-breaking
    varies (HALF_UP vs half-even vs half-away); floor is exact on
    every IEEE engine, so the quantized codes are bit-portable.
    Zero vectors quantize to all-zero codes. 4× smaller than float32
    — at 100 TB of embeddings this is the difference between an ANN
    corpus that fits executor memory and one that doesn't; dot
    products on codes run in integer SIMD and the scale factor
    rescales the result once per pair.
    """
    m = max_abs(a)
    scale = F.lit(127.0) / m
    q = F.transform(
        a,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    return F.when(m == 0.0, F.transform(a, lambda x: F.lit(0))).otherwise(q)


def int8_dequant_max_err(a: Column) -> Column:
    """max |aᵢ − dequant(quant(aᵢ))| in double — the per-vector
    reconstruction error bound of `int8_quantize` (≤ max|a|/254 + ulp
    noise for symmetric quantization). All double algebra — division,
    multiply, abs, compare — is IEEE-correctly-rounded, so the value
    hashes identically across engines given the same formula."""
    m = max_abs(a)
    scale = F.lit(127.0) / m
    err = F.array_max(
        F.transform(
            a,
            lambda x: F.abs(
                x.cast("double")
                - F.greatest(
                    F.lit(-127.0),
                    F.least(
                        F.lit(127.0),
                        F.floor(x.cast("double") * scale + F.lit(0.5)),
                    ),
                )
                / scale
            ),
        )
    )
    return F.when(m == 0.0, F.lit(0.0)).otherwise(err)
