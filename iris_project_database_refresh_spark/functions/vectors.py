"""Vector column helpers — pure built-in higher-order functions.

These stay JVM-side (whole-stage codegen), unlike a Python UDF doing the
same dot product; at 100 TB that is the difference between a scan-rate
job and a serialization-bound one. Stands in for the pgvector `<=>`
operator the reference leans on (database-schema.sql:245 `VECTOR(2000)`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Elementwise product then sum, entirely in catalyst expressions."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def unit_rows_np(m, what: str = "vectors", ids=None):
    """Row-unit-normalize a 2-D numpy array, REFUSING zero-norm rows.

    The Arrow cosine kernels assign cells/links via argmax over rounded
    unit GEMM scores; a zero-norm row would normalize to all-NaN and
    np.argmax on an all-NaN row silently returns index 0 — a divergence
    from the engine/oracle expression paths (which produce NaN cosines
    with their own ordering). No corpus contains zero vectors, so the
    honest contract is to fail loudly instead of silently mis-assigning
    (round-10 ADVICE item). ``ids`` (one per row) puts the offending
    rows' ids in the error.
    """
    import numpy as np

    norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
    zero = norms[:, 0] == 0.0
    if zero.any():
        named = f" (ids {[int(i) for i in np.asarray(ids)[zero]]})" if ids is not None else ""
        raise ValueError(
            f"zero-norm {what} row(s) in cosine kernel: "
            f"{int(zero.sum())} of {m.shape[0]}{named}"
        )
    return m / norms
