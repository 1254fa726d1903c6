"""Vector primitives over `array<float>` embeddings: exact dot
products, norms, and bit-reproducible cosine similarity.

Why not just multiply doubles and sum? Because float summation is
order-dependent, and both the oracle comparison AND run-to-run
determinism at scale (where partition boundaries move between runs)
need order-independent math.

The construction: quantize each element once to 6 decimal places, then
do ALL pair math in scaled int64 — element q = round(x, 6) is carried
as the integer q·10^6, a product of two elements as the integer
p·10^12, and a dot product as the exact integer sum Σp·10^12. Integer
addition is associative, so any partitioning/traversal order gives the
same bits. The final descale (int / 10^12), sqrt, and divide are
correctly-rounded IEEE double ops — identical in Spark, DuckDB, NumPy.

Equivalence with the oracle's DECIMAL path: DuckDB sums
DECIMAL(18,6)×DECIMAL(18,6) products exactly and casts the exact
rational D = n/10^12 to double (one rounding). Spark computes the same
integer n exactly, casts int64→double (exact while |n| < 2^53), and
divides by the exactly-representable 10^12 (one correctly-rounded op).
Both paths round the same real number once → identical bits.

Why int64 and not DECIMAL end-to-end: decimal math in Spark is
BigDecimal on the heap — it falls out of whole-stage codegen and ran
~50× slower on the all-pairs dedup than this long path, which is
primitive multiply-add inside codegen.

Range contract: |element| ≤ 100 keeps every intermediate ≤
64·(100·10^6)² = 6.4·10^17 < 2^63 (ANSI-safe, no overflow).
Embeddings are unit-ish vectors, far inside the bound.

All of it is Catalyst higher-order-function expressions
(`transform` + `aggregate`): JVM-evaluated, no Python. A 64-dim
cosine is ~200 long ops per pair — at 100 TB the pair *count* is the
problem (see the LSH operators), never the per-pair cost.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: quantization: 6 decimal places (see functions/exact.py for why 6
#: sits above the double noise floor and below half-boundary ambiguity)
_QT = "decimal(18,6)"
SCALE = 10**6
SCALE_SQ = float(10**12)


def quantize(a: Column) -> Column:
    """array<float> → array<long> of elements scaled by 10^6.

    The float→double widening is exact; double→DECIMAL(18,6) is the
    one rounding (shortest-string HALF_UP — matches DuckDB's cast on
    these magnitudes, verified by the oracle gate); decimal→long of
    the ×10^6 value is exact.
    """
    return F.transform(
        a, lambda x: (x.cast("double").cast(_QT) * SCALE).cast("long")
    )


def idot(qa: Column, qb: Column) -> Column:
    """Exact integer dot product of two quantized arrays (scale 10^12)."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )


def descale(n: Column) -> Column:
    """Scaled-int64 → the exact value as double (one rounding)."""
    return n.cast("double") / F.lit(SCALE_SQ)


def dot(a: Column, b: Column) -> Column:
    """Exact dot product of two float arrays, as double."""
    return descale(idot(quantize(a), quantize(b)))


def norm_sq(a: Column) -> Column:
    """Exact squared L2 norm, as double."""
    q = quantize(a)
    return descale(idot(q, q))


def cosine(a: Column, b: Column) -> Column:
    """Bit-reproducible cosine similarity: exact dot and norms, then
    three correctly-rounded IEEE ops (÷, ×, sqrt)."""
    return dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))


def sql_dot(a_expr: str, b_expr: str) -> str:
    """DuckDB rendering of :func:`dot` (decimal path — exact, so it
    agrees bit-for-bit with the int64 path; see module docstring).

    Parallel `unnest` of two lists in one SELECT zips them
    positionally — DuckDB's lockstep-unnest semantics.
    """
    return (
        "(SELECT CAST(SUM(CAST(CAST(__ax AS DOUBLE) AS DECIMAL(18,6)) * "
        "CAST(CAST(__bx AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) "
        f"FROM (SELECT unnest({a_expr}) AS __ax, unnest({b_expr}) AS __bx))"
    )


def sql_qdot(a_expr: str, b_expr: str) -> str:
    """DuckDB rendering of `descale(idot(qa, qb))` over two ALREADY
    quantized BIGINT lists (scale 10^6 each): the exact integer dot,
    one HUGEINT→DOUBLE rounding, then /10^12 (exactly representable)
    — the same single rounding as the Spark side, so bit-identical."""
    return (
        f"(SELECT CAST(SUM(__ax * __bx) AS DOUBLE) / {SCALE_SQ} "
        f"FROM (SELECT unnest({a_expr}) AS __ax, unnest({b_expr}) AS __bx))"
    )


def sql_cosine(a_expr: str, b_expr: str) -> str:
    """DuckDB rendering of :func:`cosine`."""
    return (
        f"({sql_dot(a_expr, b_expr)} / "
        f"sqrt({sql_dot(a_expr, a_expr)} * {sql_dot(b_expr, b_expr)}))"
    )
