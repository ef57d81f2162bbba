"""facematch_spark — a PySpark-native near-duplicate detection + clustering engine.

A from-scratch re-expression of the capabilities of ``srugano/facematch``
(reference at /root/reference — a multiprocessing/Celery face-dedup POC) as an
idiomatic Spark DataFrame pipeline over source-code / document corpora:

    scan → signature (shingle + MinHash + SimHash, Arrow-vectorized)
         → LSH band candidate generation (equi self-join, skew-handled)
         → verification (exact Jaccard / Hamming / containment)
         → clustering (connected components: driver union-find or star contraction)
         → checkpointed stage tables, reports, metrics.

The reference's O(N^2) nested Python loop (utils.py:210-251), multiprocessing
chunking (__main__.py:87-123) and Celery chords (tasks.py:197-236) are replaced
by Catalyst-planned joins, shuffles and Arrow-batched pandas UDFs. Nothing in
this package is a port — see SURVEY.md for the capability mapping.
"""

from facematch_spark.config import DedupeConfig
from facematch_spark.session import get_spark

__all__ = ["DedupeConfig", "get_spark"]
__version__ = "0.1.0"
