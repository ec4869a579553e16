"""Deterministic, cross-engine-reproducible hashing.

Spark's ``F.hash``/``F.xxhash64`` and DuckDB's ``hash`` are different
algorithms, so every operator whose output must hash-match a DuckDB oracle
(sampling order, minhash signatures, fingerprints, LSH buckets) is built on
**md5 over strings** — identical hex output in both engines, and hex strings
compare identically (lowercase ASCII) for ordering and ``min`` aggregation.

This replaces the reference's nondeterministic ``Random.nextInt`` centroid
sampling (``/root/reference/src/KMeans.java:66-74``) with a reproducible
order (SURVEY.md §2.1 R3: deterministic variant ``ORDER BY hash(pk)``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_of(*cols: Column | str) -> Column:
    """md5 hex digest of the concatenation of the given columns as strings."""
    parts = [
        (F.col(c) if isinstance(c, str) else c).cast("string") for c in cols
    ]
    return F.md5(F.concat(*parts))


def stable_order_key(col: Column | str) -> Column:
    """A pseudorandom but engine-independent sort key: ``md5(cast(x as string))``.

    DuckDB equivalent: ``md5(CAST(x AS VARCHAR))``. Used for deterministic
    k-row sampling (``sample_init_det``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("string"))
