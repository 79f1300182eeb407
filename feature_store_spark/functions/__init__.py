"""Scalar functions shared across the engine (SURVEY.md §2.8).

The md5-based hashes are cross-language contracts: the reference
implements the schema hash identically in Java
(``FeatureRegistryService.java:238-248``) and Python
(``python/gbdt_example/dataset.py:50-54``), and categorical hash
bucketing in ``python/criteo_example/dataset.py:103-108``. We reproduce
them bit-exactly as JVM-side column expressions (no Python UDF), plus a
pure-Python twin for driver-side use and a SQL twin for oracles.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java modulus (Integer.MAX_VALUE). The reference's Python uses 2**31;
# they differ only when the 32-bit hash prefix is exactly 2**31 * k.
# We standardize on Java's (SURVEY.md §7.4.3).
SCHEMA_HASH_MOD = 2**31 - 1


def schema_hash_py(feature_names: Sequence[str]) -> int:
    """int(md5(",".join(names))[:8], 16) % Integer.MAX_VALUE.

    Reference: FeatureRegistryService.java:238-248.
    """
    digest = hashlib.md5(",".join(feature_names).encode("utf-8")).hexdigest()
    return int(digest[:8], 16) % SCHEMA_HASH_MOD


def schema_hash_expr(names_csv: Column) -> Column:
    """Column form of the schema hash, given a comma-joined name string.

    Stays JVM-side: md5 -> first 8 hex chars -> base-16 parse -> mod.
    """
    return (
        F.conv(F.substring(F.md5(names_csv), 1, 8), 16, 10).cast("long")
        % F.lit(SCHEMA_HASH_MOD)
    ).cast("long")


def hash_bucket_expr(value: Column, num_buckets: int = 10000) -> Column:
    """Categorical hash bucketing: int(md5(v)[:8],16) % buckets.

    Reference: python/criteo_example/dataset.py:103-108. xxhash64 would
    be cheaper at scale but breaks parity with the reference fixtures.
    """
    return (
        F.conv(F.substring(F.md5(value), 1, 8), 16, 10).cast("long")
        % F.lit(num_buckets)
    ).cast("long")


def hash_bucket_py(value: str, num_buckets: int = 10000) -> int:
    digest = hashlib.md5(value.encode("utf-8")).hexdigest()
    return int(digest[:8], 16) % num_buckets


def hex_to_bigint_sql(hex_expr_sql: str) -> str:
    """DuckDB/ANSI-ish SQL that parses a hex-string expression to BIGINT.

    Used to express the md5 hash contracts in oracle SQL.
    """
    return f"CAST(concat('0x', {hex_expr_sql}) AS BIGINT)"


def sigmoid(col: Column) -> Column:
    """1/(1+exp(-x)) — the binary:logistic / rank:* output transform
    (reference: python/cuda_codegen/generator.py:54-80)."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-col))


def epoch_ms(ts: Column) -> Column:
    """Timestamp -> epoch milliseconds (floor of microseconds), matching
    the proto's epoch-ms convention (feature_store.proto:39-40)."""
    return F.floor(F.unix_micros(ts) / F.lit(1000)).cast("long")


# ---------------------------------------------------------------- L4:
# the reference's on-the-wire embedding layout (store/online/
# RocksDBFeatureStore.java:119-127 write, :253-259 read): big-endian
# [version:u16][dim:u16][f32 x dim]. The engine keeps embeddings as
# typed array<float> columns; these codecs exist for byte-level
# interchange with systems that speak the reference's format.


def pack_embedding_py(embedding, version: int = 1) -> bytes:
    """One vector -> the reference's binary layout (big-endian)."""
    import numpy as np

    vals = np.asarray(embedding, dtype=">f4")
    head = np.array([version, len(vals)], dtype=">u2")
    return head.tobytes() + vals.tobytes()


def unpack_embedding_py(raw: bytes) -> tuple[int, list[float]]:
    """Reference binary layout -> (version, values) — the read half
    (RocksDBFeatureStore.java:253-259, dims validated)."""
    import numpy as np

    head = np.frombuffer(raw, dtype=">u2", count=2)
    version, dim = int(head[0]), int(head[1])
    if len(raw) != 4 + 4 * dim:
        raise ValueError(
            f"embedding blob length {len(raw)} != 4 + 4*{dim} (corrupt header?)"
        )
    vals = np.frombuffer(raw, dtype=">f4", count=dim, offset=4)
    return version, [float(v) for v in vals]


def pack_embedding_udf(version: int = 1):
    """Arrow-batched column codec: array<float> -> binary in the
    reference layout. When an Arrow batch is uniform-dimension (the
    overwhelmingly common case for an embedding column), the whole
    batch is encoded with ONE (B, d) big-endian cast and one header
    broadcast, then sliced into per-row bytes; ragged batches fall
    back to the per-row codec."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def pack(col):
        vals = col.tolist()
        # elements arrive as np.ndarray: no `in`/`==` checks (they
        # broadcast); identity tests only
        has_null = any(v is None for v in vals)
        dims = {len(v) for v in vals if v is not None}
        if len(dims) == 1 and not has_null and vals:
            d = dims.pop()
            body = np.asarray(vals, dtype=">f4")  # (B, d) one cast
            head = np.empty((len(vals), 2), dtype=">u2")
            head[:, 0] = version
            head[:, 1] = d
            blob = np.concatenate(
                [head.view(np.uint8).reshape(len(vals), 4),
                 body.view(np.uint8).reshape(len(vals), 4 * d)],
                axis=1,
            ).tobytes()
            row = 4 + 4 * d
            return pd.Series(
                [blob[i * row : (i + 1) * row] for i in range(len(vals))]
            )
        return pd.Series(
            [None if v is None else pack_embedding_py(v, version) for v in vals]
        )

    return pack


def unpack_embedding_udf():
    """Inverse codec: binary -> struct(version int, embedding
    array<float>)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("version int, embedding array<float>")
    def unpack(col):
        # NULL blob -> NULL struct fields (missing embedding, not a
        # TypeError inside the Arrow batch); corrupt non-null blobs
        # still raise loudly from unpack_embedding_py
        out = [
            (None, None) if b is None else unpack_embedding_py(bytes(b))
            for b in col
        ]
        return pd.DataFrame(
            {"version": [v for v, _ in out], "embedding": [e for _, e in out]}
        )

    return unpack


def zorder2_expr(x: Column, y: Column, bits: int = 10) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative ints — x in the even positions, y in the odd. Rows
    sorted by this key are clustered in BOTH dimensions at once, so
    file/row-group min-max stats prune scans filtered on either column
    (a linear sort only ever prunes its leading column). Pure bit
    expressions, whole-stage-codegen'd; the DuckDB twin is emitted by
    :func:`zorder2_sql` with the identical shift/mask formula."""
    terms = []
    for i in range(bits):
        xb = F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1))
        yb = F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1))
        terms.append(F.shiftleft(xb, 2 * i))
        terms.append(F.shiftleft(yb, 2 * i + 1))
    z = terms[0]
    for t in terms[1:]:
        z = z + t  # disjoint bit positions: + is |
    return z.cast("long")


def zorder2_sql(x: str, y: str, bits: int = 10) -> str:
    """ANSI-SQL twin of :func:`zorder2_expr` (same shift/mask terms)."""
    parts = []
    for i in range(bits):
        parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(parts) + ")"


def zorder2_py(x: int, y: int, bits: int = 10) -> int:
    """Python reference for tests."""
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z
