"""Vector math over ArrayType(FloatType) columns — JVM-side, no UDF.

Embeddings are unit-norm (FIXTURES.md), so cosine similarity equals the
dot product. All three are higher-order functions (``zip_with`` /
``aggregate``) that run inside codegen on the JVM — no Python
serialization in the hot path — and each folds ``acc + x*y`` left to
right, the order DuckDB's ``list_dot_product`` uses too.

``dot`` is the score of the two embedding kernels in operators/llm.py:
``_probe_topk`` (probe batch against a corpus, top-k per probe, with an
optional LSH or IVF candidate predicate) and ``_vec_pairs`` (threshold
pairs, all-pairs or over candidates). ``l2_norm`` and ``cosine_sim``
serve vectors that are not unit-norm: centroids, truncated prefixes,
and the norm monitor itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns (double accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; general form (fixtures are unit-norm, where
    this reduces to ``dot``, but keep it robust to non-normalized input)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
