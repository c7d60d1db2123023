"""Engine-independent Bloom filter for membership pruning, md5-based.

The classic 100 TB use: build a compact membership structure over a
key set (here: which custkeys ever appear in a fact table), broadcast
it, and prune a probe stream BEFORE any shuffle — Spark's own
`spark.sql.optimizer.runtime.bloomFilter` does this invisibly with
xxhash, which makes its false-positive set engine-private.  This twin
derives every bit position from md5 via Kirsch-Mitzenmacher double
hashing (pos_i = (h1 + i*h2) mod m, h1/h2 = the two 31-bit md5 halves
the repo's MinHash already uses), so the EXACT bit set — and therefore
the exact false-positive behavior — is reproducible in DuckDB and
hash-checkable by the driver.

Representation: the filter is a sparse DataFrame of set bit positions
(<= m rows, typically ~n*k).  At build time that costs one
explode + distinct; at probe time it broadcasts (m <= a few million
bits => a few MB) and membership is "all k positions present" — an
explode + broadcast-join + count==k, no shuffle of the probe side's
payload columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TWO31 = 2147483647


def _h31(col, off: int):
    """31-bit non-negative hash from md5 hex digits [off, off+8) —
    the same expression DuckDB spells ('0x' || substring(md5(..)))."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), off, 8), 16, 10).cast(
            "long"
        ),
        F.lit(_TWO31),
    )


def bloom_positions(col, m_bits: int, k: int):
    """Array of the k bit positions for one key (double hashing)."""
    h1, h2 = _h31(col, 1), _h31(col, 9)
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]
    )


def bloom_build(keys: DataFrame, col: str, m_bits: int = 16384, k: int = 5):
    """(bit,): the distinct set bit positions — the sparse filter."""
    return (
        keys.select(
            F.explode(bloom_positions(F.col(col), m_bits, k)).alias("bit")
        )
        .distinct()
    )


def bloom_members(
    probes: DataFrame,
    col: str,
    set_bits: DataFrame,
    m_bits: int = 16384,
    k: int = 5,
) -> DataFrame:
    """(key,): probe keys the filter claims as members (true members
    plus deterministic false positives).  The ``set_bits`` side (the
    filter's bit rows) broadcasts; membership = all k positions present
    (duplicate positions from a hash collision are either all present or
    all absent, so count==k stays exact)."""
    pos = probes.select(
        F.col(col).alias("key"),
        F.explode(bloom_positions(F.col(col), m_bits, k)).alias("bit"),
    )
    return (
        pos.join(F.broadcast(set_bits), "bit")
        .groupBy("key")
        .agg(F.count("*").alias("hits"))
        .where(F.col("hits") == k)
        .select("key")
    )
