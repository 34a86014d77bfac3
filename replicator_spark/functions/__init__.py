"""Vectorized kernels (pandas/Arrow UDFs) and Column helpers — the
engine's only non-relational compute, per the zero-per-row-Python rule."""

from .hashing import sha256_arrow  # noqa: F401
from .extjson import decode_extended_json  # noqa: F401
