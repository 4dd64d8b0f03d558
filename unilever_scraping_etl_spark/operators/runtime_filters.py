"""Runtime join filters: a hand-rolled, codegen-resident bloom filter
that prunes a big fact scan BEFORE the shuffle join (SURVEY.md §2.11
engine addendum).

Spark's own runtime bloom
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects
``BloomFilterAggregate``/``BloomFilterMightContain`` — but those are
optimizer-internal expressions, absent from the SQL function registry
in this build, and the injection only fires for plan shapes the
heuristic likes. This module is the explicit, always-available
equivalent for the regime the optimizer targets:

    the dim side is too big to BROADCAST AS ROWS (wide payload /
    millions of rows) but its JOIN-KEY FINGERPRINT fits a compact
    bitset — e.g. 1M keys at ~1% FP is ~1.2 MB.

Mechanics (all JVM-side, no Python in the row path):
- build: ``num_hashes`` positions per key via xxhash64 double-seeding,
  exploded and ``bit_or``-aggregated into 64-bit words — ONE
  partial-aggregable shuffle whose output is AT MOST ``num_bits/64``
  rows regardless of input size. The bounded collect of that sketch is
  the same discipline as the HLL sketch materialization
  (``agg_sketch_rollup``) and the boundary probe: its size is fixed by
  the constructor, not the data.
- probe: the dense word array rides the plan as ONE array literal;
  each fact row checks ``num_hashes`` bits via
  ``element_at``/``shiftleft``/``&`` — whole-stage-codegen
  expressions, so the filter runs inside the scan stage and the
  false-positive survivors are the only rows that pay the shuffle.
- the subsequent exact join makes false positives harmless: the
  composed ``bloom_pruned_join`` is RESULT-IDENTICAL to the plain
  join (bloom filters have no false negatives), which is exactly what
  its oracle checks.

Sizing: ``suggest_bloom_bits`` applies the standard
``m = -n ln p / (ln 2)^2``, ``k = (m/n) ln 2`` formulas (same
data-driven-helper pattern as ``relational.suggest_bin_width``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The sketch travels as a plan literal; cap it well below anything that
# would bloat the plan tree (2^24 bits = 2 MiB of longs).
MAX_BITS = 1 << 24


def suggest_bloom_bits(n_keys: int, fp_rate: float = 0.01
                       ) -> tuple[int, int]:
    """(num_bits, num_hashes) for ``n_keys`` distinct keys at
    ``fp_rate`` — standard bloom sizing, clamped to [64, MAX_BITS]
    bits (a 100 TB fact side is fine; it's the DISTINCT DIM KEY count
    that must fit: 1M keys @1% ≈ 1.2 MiB, the ceiling ≈ 14M keys)."""
    if n_keys <= 0:
        raise ValueError("n_keys must be positive")
    if not 0.0 < fp_rate < 1.0:
        raise ValueError("fp_rate must be in (0, 1)")
    m = -n_keys * math.log(fp_rate) / (math.log(2) ** 2)
    m = min(max(64, 64 * math.ceil(m / 64)), MAX_BITS)
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


@dataclass(frozen=True)
class BloomFilter:
    """A built bitset plus the hash count it was built with. The pair
    travels together because a probe run with a DIFFERENT hash count
    than the build silently returns garbage (missing bits -> false
    negatives; extra bits -> inflated FPs) — the dataclass makes that
    mismatch unrepresentable."""
    words: tuple[int, ...]
    num_hashes: int

    @property
    def num_bits(self) -> int:
        return 64 * len(self.words)


def bloom_build(keys: DataFrame, key_col: str,
                num_bits: int = 1 << 17, num_hashes: int = 5
                ) -> BloomFilter:
    """Aggregate the distinct values of ``keys[key_col]`` into a dense
    ``num_bits``-bit :class:`BloomFilter` (``num_bits/64`` int64
    words + the hash count). Distributed build (explode positions ->
    ``bit_or`` per word), bounded driver materialization (the word
    table is at most ``num_bits/64`` rows by construction)."""
    if num_bits % 64 or not 0 < num_bits <= MAX_BITS:
        raise ValueError(f"num_bits must be a multiple of 64 in "
                         f"(0, {MAX_BITS}]")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    pos = F.explode(F.array(*[
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)])).alias("__pos")
    words = (keys.select(pos)
             .select((F.col("__pos") / 64).cast("int").alias("__w"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(__pos % 64 AS INT))").alias("__m"))
             .groupBy("__w").agg(F.bit_or("__m").alias("__bits"))
             .collect())
    dense = [0] * (num_bits // 64)
    for row in words:
        dense[row["__w"]] = row["__bits"]
    return BloomFilter(tuple(dense), num_hashes)


def bloom_probe(key_col: str | Column, bf: BloomFilter) -> Column:
    """Boolean column: might ``key_col`` be in the set ``bf`` was
    built from? Pure JVM expression tree (array-literal word lookup +
    ``getbit`` test per hash) — keeps the probe inside whole-stage
    codegen. False negatives: never — PROVIDED the probe column has
    the same dtype the build hashed (``xxhash64`` is dtype-sensitive;
    ``bloom_pruned_join`` normalizes this for you); false positives:
    per the build's sizing."""
    words, num_hashes = bf.words, bf.num_hashes
    num_bits = bf.num_bits
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    # ONE parsed SQL literal, not F.lit(list): the py4j bridge converts
    # a Python list element-by-element (2048 words -> ~1.2 s of driver
    # time building the plan, measured); the parser takes the same
    # array as a single string in milliseconds. Plan-pinned in
    # test_probe_plan_carries_one_parsed_word_table.
    lut = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    out = None
    for i in range(num_hashes):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        word = F.element_at(lut, (p / 64).cast("int") + 1)
        check = F.getbit(word, p % 64) == 1
        out = check if out is None else out & check
    return out


_INTEGRALS = {"tinyint", "smallint", "int", "bigint"}


def bloom_pruned_join(fact: DataFrame, dim: DataFrame,
                      fact_key: str, dim_key: str,
                      num_bits: int = 1 << 17, num_hashes: int = 5
                      ) -> DataFrame:
    """Inner-join ``fact`` to ``dim`` with a bloom prefilter on the
    fact side: build the bitset from the dim's (distinct) join keys,
    filter the fact scan through it, then run the exact equi-join.
    Result-identical to ``fact.join(dim, fact_key == dim_key)`` — the
    bloom only removes rows the join would drop anyway.

    The build and the probe must hash the SAME dtype: ``xxhash64``
    hashes an int and a bigint of equal value differently, so a dtype
    mismatch between the two keys would silently turn into false
    negatives — rows the plain join (which coerces) keeps, dropped.
    Mixed integral widths are therefore normalized to bigint on BOTH
    sides (lossless, and exactly the coercion the equi-join itself
    applies); any other dtype mix raises rather than guess a cast."""
    ft = fact.schema[fact_key].dataType.simpleString()
    dt = dim.schema[dim_key].dataType.simpleString()
    fact_probe: Column = F.col(fact_key)
    dim_build = dim.select(dim_key).distinct()
    if ft != dt:
        if ft in _INTEGRALS and dt in _INTEGRALS:
            fact_probe = fact_probe.cast("bigint")
            dim_build = dim_build.select(
                F.col(dim_key).cast("bigint").alias(dim_key))
        else:
            raise ValueError(
                f"bloom_pruned_join: key dtypes differ ({fact_key}: "
                f"{ft} vs {dim_key}: {dt}) — xxhash64 would hash them "
                "inconsistently (silent false negatives); cast one "
                "side explicitly first")
    bf = bloom_build(dim_build, dim_key,
                     num_bits=num_bits, num_hashes=num_hashes)
    pruned = fact.filter(bloom_probe(fact_probe, bf))
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "inner")
