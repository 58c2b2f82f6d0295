"""Hash functions for parity with the reference's shuffle layout.

The reference partitions reduce output with Hadoop's default
``HashPartitioner`` over ``Text.hashCode()`` — a byte-wise polynomial hash
(``h = 31*h + signed_byte``, seed 1) over the UTF-8 encoding, then
``(h & Integer.MAX_VALUE) % numPartitions`` (verified empirically on the
committed ``bigram_custom8/part-r-*`` artifacts; see SURVEY.md §2 O9).

Spark's own shuffle uses murmur3 — equally balanced but a different
assignment; these helpers exist solely to reproduce the reference's exact
file-level layout when a byte-identical sink is requested. The Python
functions are the oracle; :func:`hadoop_partition_col` is the same hash as
a SQL expression, so the sink routes rows without leaving the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hadoop_text_hash(key: str) -> int:
    """Hadoop ``Text.hashCode()``: 31-polynomial over signed UTF-8 bytes."""
    h = 1
    for b in key.encode("utf-8"):
        if b > 127:
            b -= 256
        h = (31 * h + b) & 0xFFFFFFFF
    if h >= 1 << 31:
        h -= 1 << 32
    return h


def hadoop_partition(key: str, num_partitions: int) -> int:
    """Hadoop ``HashPartitioner.getPartition`` for Text keys."""
    return (hadoop_text_hash(key) & 0x7FFFFFFF) % num_partitions


def hadoop_partition_col(key: Column, num_partitions: int) -> Column:
    """:func:`hadoop_partition` as an INT Column expression.

    Folds the key's UTF-8 bytes, read as the two-digit groups of
    ``hex(encode(k))``, with ``aggregate``. The state is a BIGINT masked
    to 32 bits after every step, since INT arithmetic raises on overflow
    under ANSI mode. The empty string has no digit groups and keeps the
    seed; a null key gives a null id.
    """
    digit_pairs = F.regexp_extract_all(F.hex(F.encode(key, "UTF-8")), F.lit(".."), 0)

    def step(h: Column, pair: Column) -> Column:
        b = F.conv(pair, 16, 10).cast("bigint")
        signed = F.when(b > 127, b - 256).otherwise(b)
        return (h * 31 + signed).bitwiseAND(F.lit(0xFFFFFFFF))

    h = F.aggregate(digit_pairs, F.lit(1).cast("bigint"), step)
    return F.pmod(h.bitwiseAND(F.lit(0x7FFFFFFF)), F.lit(num_partitions)).cast("int")
