"""Vector column expressions — JVM-side (no Python in the hot path).

Dot products / norms / cosine over ``array<float>`` embeddings accumulate
left-to-right in DOUBLE, matching DuckDB's sequential ``list_dot_product``
bit-for-bit — which is what lets similarity queries be oracle-checked
exactly.

Note on evaluation: Spark runs higher-order array functions through the
interpreted expression path (no doGenCode), so the fold pays per-element
closure dispatch. An unrolled 64-term ``a[0]*b[0] + …`` chain was tried
as a "codegen-friendly" alternative and measured 2× SLOWER on the q112
pair stage — the generated method exceeds the JIT inlining budget. The
fold is the right form; the real lever is computing norms once per
vector (``cosine_prenormed``) so pair stages evaluate ONE fold.

At 100 TB the same expressions vectorize per-partition with no shuffle; only
the top-k step shuffles (see operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_vec(col: Column | str) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast(
        "array<double>"
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with a sequential left-to-right fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # NULLIF guard: a zero-norm vector makes the denominator 0.0, which
    # Spark evaluates to NaN/±Inf while DuckDB (and the oracles) yield
    # NULL. Nulling the denominator pins cosine(0⃗, ·) = NULL on BOTH
    # engines — and keeps NaN (which sorts ABOVE every real sim in Spark
    # and compares true under >=) out of top-k results. Closes the
    # round-6 documented x/0 boundary.
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with both norms precomputed upstream.

    Numerically identical to ``cosine`` (same fold, same sqrt, same
    multiplication order) but the join/re-rank stage evaluates ONE dot fold
    per pair instead of three — at 100 TB the norm is computed once per
    vector in the scan stage, not once per candidate pair.
    """
    return dot(a, b) / F.nullif(norm_a * norm_b, F.lit(0.0))


def hyperplane_buckets(vec: Column, tables: list[list[list[float]]]) -> Column:
    """Bucket ids for MULTIPLE LSH tables as one array column.

    One nested transform/aggregate expression instead of tables×planes
    separate dot-product trees: the literal plane matrix appears once, so
    the generated code stays small (24 unrolled dot expressions measurably
    dominate cold compile time).
    """
    max_planes = max((len(p) for p in tables), default=0)
    if max_planes > 31:
        # bit weights accumulate in INT (pow→cast int); beyond 31 bits the
        # weights saturate and distinct signatures silently collide
        raise ValueError(f"at most 31 planes per LSH table (got {max_planes})")
    # one parsed SQL literal: building this as nested F.array(F.lit(...))
    # costs thousands of py4j round-trips (measured seconds of driver time
    # for 6 tables × 4 planes × 64 dims)
    def arr(xs):
        return "array(" + ", ".join(xs) + ")"

    tables_lit = F.expr(
        arr(
            arr(arr(f"{float(x)}D" for x in plane) for plane in planes)
            for planes in tables
        )
    )
    return F.transform(
        tables_lit,
        lambda tplanes: F.aggregate(
            F.transform(
                tplanes,
                # pyspark's shiftleft only takes a literal shift; 2^i via pow
                lambda p, i: (dot(vec, p) >= 0).cast("int")
                * F.pow(F.lit(2.0), i).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: qᵢ = floor(xᵢ·s + 0.5) with
    s = 127 / max|x|.

    The quantizer is pure closed-form double arithmetic (no RNG, no
    round-half-to-even ambiguity — floor(x+0.5) is the same IEEE operation
    everywhere), so a SQL oracle reproduces it bit-for-bit. Cosine over the
    quantized vectors needs no dequantization: the scale cancels.
    """
    # Zero-vector rule: max|x| = 0 would divide by zero (ANSI error on
    # Spark, NULL on DuckDB — and NULL list components crash DuckDB's
    # list_dot_product). Pin quantize(0⃗) = 0⃗ by coalescing the scale to
    # 0.0: every component is floor(0·0 + 0.5) = 0 on both engines, and
    # cosine_int's NULLIF then yields NULL for any pair involving it.
    s = F.coalesce(
        F.lit(127.0) / F.nullif(F.array_max(F.transform(vec, F.abs)), F.lit(0.0)),
        F.lit(0.0),
    )
    return F.transform(vec, lambda x: F.floor(x * s + F.lit(0.5)))


def idot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over integer vectors — exact int64 accumulation (int8
    components bound each term by 127² ≈ 1.6e4; overflow needs 5.7e14
    dimensions)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine_int(a: Column, b: Column) -> Column:
    """Cosine over integer-quantized vectors: exact integer dots, one
    double sqrt/divide at the end (deterministic across engines)."""
    return idot(a, b).cast("double") / F.nullif(
        F.sqrt(idot(a, a).cast("double")) * F.sqrt(idot(b, b).cast("double")),
        F.lit(0.0),
    )
