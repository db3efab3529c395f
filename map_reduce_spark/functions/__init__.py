"""Reusable expression builders — the engine's cross-cutting function
library (all JVM-side Column expressions, no UDFs).

- exact-arithmetic aggregates: ``dec``, ``dec_prod``, ``sumd``
  (decimal-grid recovery so float sums are order-independent and
  oracle-exact);
- portable routing hash: ``portable_hash_bucket`` (md5-based, identical
  in DuckDB — the cross-engine analog of the reference's
  phash2-mod-R routing, worker.ex:144);
- text: ``shingles`` (word n-grams);
- vectors: ``ivec`` / ``idot`` (scaled-integer embedding math),
  ``lsh_bucket_expr`` (sign-random-projection bucketing: float planes
  project in DOUBLE, integer planes in exact LONG arithmetic).
"""

from pyspark.sql import functions as F

from map_reduce_spark.operators.dedup import (  # noqa: F401
    _idot as idot,
    _ivec as ivec,
    _shingles as shingles,
)
from map_reduce_spark.operators.relational import (  # noqa: F401
    _dec as dec,
    _dec_prod as dec_prod,
    _sumd as sumd,
)
from map_reduce_spark.operators.similarity import (  # noqa: F401
    lsh_bucket_expr,
)


def portable_hash_bucket(col, n_buckets: int = 8):
    """Engine-portable routing hash: first 8 md5 hex chars mod N.

    DuckDB twin: ``CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT) % N``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % n_buckets
