"""Vector math over ``array<float>`` embedding columns.

Pure Catalyst expressions — the dot product and norms run JVM-side
with no Python round-trip.  Two tiers:

- ``dot``/``norm``/``cosine`` (variable dim): F.aggregate folds.
  Spark evaluates higher-order functions INTERPRETED, outside
  whole-stage codegen — fine off the hot path.
- ``dot_unrolled``/``norm_unrolled``/``cosine_unrolled`` (fixed dim):
  explicit 64-term arithmetic, fully codegen'd — measured ~20× faster
  in all-pairs scoring.  Accumulation order is the identical
  left-to-right fold, so results are bit-for-bit equal to the
  aggregate form (and to a sequential SQL list reduction).

For very wide vectors, batched numpy via Pandas UDF wins — but beware
np.dot's pairwise/SIMD summation ORDER differs, which can flip rounded
oracle comparisons at the last decimal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ — left-to-right accumulation (matches a sequential SQL
    list reduction, keeping float results engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe on zero vectors (returns null)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Explicit left-associated Σ aᵢbᵢ, same IEEE accumulation order as
    :func:`dot`.  MEASURED PESSIMIZATION at dim=64: the ~3·dim-node
    expression tree blows up whole-stage codegen (janino compile seconds
    per stage; interpreted fallback is slow per-row too) — ivf_topk at
    sf0.1 was 12s unrolled vs 2s with the HOF :func:`dot`.  Kept only
    for tiny fixed dims (≤8) and as the parity reference."""
    expr = F.lit(0.0)
    for i in range(1, dim + 1):
        expr = expr + F.element_at(a, i) * F.element_at(b, i)
    return expr


def norm_unrolled(a: Column, dim: int) -> Column:
    """See :func:`dot_unrolled` — prefer :func:`norm` beyond tiny dims."""
    expr = F.lit(0.0)
    for i in range(1, dim + 1):
        v = F.element_at(a, i)
        expr = expr + v * v
    return F.sqrt(expr)


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed norms — in pair-scoring plans compute
    each side's norm ONCE per vector (narrow, pre-join) instead of per
    pair; the quadratic stage keeps only the dot product (HOF loop:
    same left-assoc IEEE order as a sequential SQL list reduction,
    constant-size codegen regardless of dim)."""
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def abs_max(a: Column) -> Column:
    """max |aᵢ| — max is order-independent, so this is bit-portable
    across engines (unlike float sums)."""
    return F.aggregate(a, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v)))


def quantize_symmetric(a: Column, scale: Column) -> Column:
    """Symmetric int8-style quantization: round(aᵢ/scale), kept as
    doubles (integers up to 127 are exact) so dequantization and error
    math stay in one type across engines."""
    return F.transform(a, lambda x: F.round(x / scale))


def dequantize(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda x: x * scale)
