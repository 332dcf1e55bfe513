"""Runtime join filters: Bloom-prune a big probe side BEFORE its shuffle.

The 100 TB join problem is rarely the join itself — it is shuffling a
probe side that is mostly misses. A Bloom filter built from the small
(build) side and pushed into the probe scan turns those misses into a
map-side filter: only candidate rows pay the shuffle. Spark's optimizer
does this automatically in narrow cases (InjectRuntimeFilter /
bloom-filter joins, gated behind internal aggregates this build does not
expose to SQL); `bloom_prune_semi_join` is the EXPLICIT operator form —
usable whenever the pipeline knows the join shape better than the
optimizer (pre-filtered dimension, dictionary scan, resumable campaign).

Mechanics (all Catalyst, no Python in the row path):

- the build side's key bits are aggregated DISTRIBUTED: position =
  pmod(xxhash64(key), m) → (word, 1L << bit) → groupBy(word) +
  bit_or — one map-side-combinable shuffle of at most m/64 rows;
- the resulting bitset is collected (METADATA-sized: m/64 longs — for
  the default 2^20 bits that is 16K longs ≈ 128 KB, the same class of
  driver traffic as a broadcast-join build or an IVF centroid table)
  and folded into ONE CSV string literal that ConstantFolding expands
  at optimization time (~8 ms vs ~2 s of py4j element marshalling);
- the probe is a pure-codegen expression on the big side: one xxhash64
  + array index + shift — evaluated at the scan, BEFORE any exchange;
- a false positive only costs a wasted shuffle row: the exact semi-join
  afterwards makes the result IDENTICAL to a plain semi join (no false
  negatives by construction), which is what makes the operator
  SQL-oracle-verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_bitset_literal(small: DataFrame, key: str, m_bits: int) -> Column:
    """Distributed Bloom build → folded array<bigint> literal."""
    pos = F.pmod(F.xxhash64(F.col(key)), F.lit(m_bits))
    words = (
        small.select(
            (pos / 64).cast("long").alias("w"),
            # column-valued shift count: the SQL function accepts it, the
            # python wrapper F.shiftleft only takes a literal int
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[int(r.w)] = r.bits
    csv = ",".join(
        str(v - (1 << 64) if v >= (1 << 63) else v) for v in arr
    )
    return F.split(F.lit(csv), ",").cast("array<bigint>")


def bloom_probe(bitset: Column, key: str, m_bits: int) -> Column:
    """Pure-codegen membership probe for the folded bitset."""
    pos = F.pmod(F.xxhash64(F.col(key)), F.lit(m_bits))
    word = F.element_at(bitset, (pos / 64).cast("int") + 1)
    return (
        F.call_function("shiftright", word, (pos % 64).cast("int")).bitwiseAND(
            F.lit(1)
        )
        == 1
    )


def bloom_prune_semi_join(
    big: DataFrame, small: DataFrame, key: str, m_bits: int = 1 << 20
) -> DataFrame:
    """Semi-join `big` to `small` on `key`, Bloom-pruning the big side
    before its shuffle. Result rows are exactly `big` semi-join `small`
    (the Bloom admits no false negatives; the final semi join removes
    the ~n/m false positives)."""
    bitset = bloom_bitset_literal(small, key, m_bits)
    pruned = big.where(bloom_probe(bitset, key, m_bits))
    return pruned.join(
        small.select(key).dropDuplicates([key]), key, "left_semi"
    )
