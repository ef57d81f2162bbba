"""Fixed schemas for every stage table.

The reference's tables are schema-implicit JSON dicts (``utils.py:26-29``:
``EncodingType = dict[str, Union[str, list[float]]]`` with in-band error
sentinels ``utils.py:19-24``). Here every stage has a declared StructType;
errors are a proper ``status`` column, never sentinel values.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input relation — exactly the BASELINE.json input_hint shape.
SOURCE_FILES = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

# Signature stage output (replaces EncodingType, utils.py:26 + 169-198).
# file_id is xxhash64(repo,path,commit); sha256 is the per-row invariant
# (BASELINE.json input_hint: content sha256 equality at every stage boundary).
SIGNATURES = T.StructType(
    [
        T.StructField("file_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("minhash", T.ArrayType(T.LongType(), False), True),
        T.StructField("simhash", T.LongType(), True),
        T.StructField("n_shingles", T.IntegerType(), True),
        T.StructField("content_len", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)

# Valid status values (replaces NO_FACE_DETECTED / MULTIPLE_FACE_DETECTED /
# GENERIC_ERROR sentinels, utils.py:19-24).
STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_TOO_SHORT = "too_short"    # shorter than one shingle
STATUS_TOO_LARGE = "too_large"
STATUS_NON_TEXT = "non_text"
ALL_STATUSES = (STATUS_OK, STATUS_EMPTY, STATUS_TOO_SHORT, STATUS_TOO_LARGE, STATUS_NON_TEXT)

# Candidate/verified pair relation (replaces FindingRecord tuples,
# utils.py:27-28), id_a < id_b canonical (analog of _get_pair_key md5
# canonicalization, utils.py:267-268).
PAIRS = T.StructType(
    [
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
        T.StructField("jaccard", T.DoubleType(), True),
        T.StructField("hamming", T.IntegerType(), True),
        T.StructField("containment", T.DoubleType(), True),
        T.StructField("method", T.StringType(), False),
    ]
)

CLUSTERS = T.StructType(
    [
        T.StructField("file_id", T.LongType(), False),
        T.StructField("cluster_id", T.LongType(), False),
    ]
)

# Per-stage / per-partition lineage metrics (replaces _perf_*.json,
# utils.py:105-109, __main__.py:134-152).
RUN_METRICS = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("config_hash", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("wall_ms", T.DoubleType(), True),
        T.StructField("extra", T.StringType(), True),
    ]
)
