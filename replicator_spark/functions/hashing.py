"""Content hashing — the per-row invariant vs the reference
(BASELINE.json input_hint: sha256(content) equality after replay).

``sha256_arrow`` is a vectorized pandas UDF (Arrow batch transfer,
``hashlib`` over the batch, no per-row Python interpreter dispatch in
Spark's loop): the mandated pandas/Arrow form, and the template for
hash kernels Spark lacks natively. It yields the same lowercase hex as
``F.sha2(col, 256)``; tests assert that and hashlib equality.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _sha256_batch(s: pd.Series) -> pd.Series:
    return s.map(
        lambda x: None if x is None else hashlib.sha256(x.encode("utf-8")).hexdigest()
    )


_udf_cache: dict = {}


def sha256_arrow(col: Column | str) -> Column:
    # pandas_udf needs an active SparkSession; build once, lazily
    if "sha256" not in _udf_cache:
        _udf_cache["sha256"] = pandas_udf("string")(_sha256_batch)
    return _udf_cache["sha256"](F.col(col) if isinstance(col, str) else col)


# -- xxHash64 (driver-side twin of F.xxhash64) -------------------------------
#
# The lake table buckets rows by pmod(xxhash64(key), num_buckets) on
# executors (laketable.bucket_expr). A point lookup must compute the SAME
# bucket for one key on the driver WITHOUT launching a job — so the XXH64
# algorithm (public spec; Spark seeds it with 42) is reproduced here in
# pure Python over the key's UTF-8 bytes. tests/test_hashing.py pins
# bit-equality against F.xxhash64 on fuzzed unicode strings — if Spark's
# implementation ever drifted, the pin fails loudly rather than lookups
# silently scanning the wrong bucket.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data``; returns SIGNED 64-bit (what F.xxhash64 yields).

    Seed defaults to 42 — Spark's fixed seed for the ``xxhash64``
    function and for hash-bucketing expressions.
    """
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (_rotl((v + lane * _P2) & _M64, 31) * _P1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M64, 31) * _P1) & _M64)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h = ((_rotl(h ^ ((_rotl((k * _P2) & _M64, 31) * _P1) & _M64), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h = ((_rotl(h ^ ((k * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h
