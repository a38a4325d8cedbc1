"""Deterministic, engine-portable hashing.

Spark's native ``hash()``/``xxhash64()`` are fast but their exact algorithm
is not reproducible in other SQL engines, which breaks DuckDB-oracle
verification. ``md5_long`` is the portable primitive used by the dedup /
fingerprint operators: both Spark and DuckDB produce identical md5 hex
digests, and the first 15 hex chars (60 bits) fit a signed 64-bit integer
exactly.

Scale note: md5 is ~3x slower than xxhash64 but still JVM-side, codegen'd,
and embarrassingly parallel — at 100 TB it is bandwidth-, not hash-bound.
Operators accept a ``portable`` flag to switch to ``xxhash64`` when oracle
parity is not required.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Modulus for the MinHash universal-hash family: largest prime < 2^31.
# Kept small enough that a*h+b stays far inside int64 for h < 2^31.
MINHASH_PRIME = 2147483647


def md5_long(c: Column | str, *, portable: bool = True) -> Column:
    """60-bit non-negative integer hash of a string column.

    Portable form: ``int(md5(s)[0:15], 16)`` — identical in DuckDB as
    ``('0x' || substr(md5(s), 1, 15))::ubigint``.
    """
    c = F.col(c) if isinstance(c, str) else c
    if not portable:
        return F.abs(F.xxhash64(c))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of ``md5_long`` for oracle queries."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS UBIGINT)::BIGINT"


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """(a, b) pairs for the universal hash family h_i(x) = (a*x + b) mod p.

    Deterministic in ``seed`` via a splitmix-style integer recurrence (no RNG
    library, so the exact same values are trivially re-derivable in SQL or any
    other engine).
    """
    params = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        a = (state >> 16) % (MINHASH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        b = (state >> 16) % MINHASH_PRIME
        params.append((a, b))
    return params


# --- Bloom filter as plain SQL expressions -----------------------------------
#
# Spark's own runtime Bloom-filter injection (SPARK-32268) never fires for
# ANTI joins, and `bloom_filter_agg` / `might_contain` are not registered
# in the public function registry (4.1.2), so this is the same construction
# from first principles: k xxhash64 probes against a dense bitmap of n_bits
# bits carried as an array<long> (n_bits/64 words) in a ONE-ROW
# LocalTableScan relation — the ANN paths' driver-built qarr shape (r12).
# The bitmap is built by one bounded aggregation job and collected
# DRIVER-SIDE (the trained paths' "model-sized collect": <= n_bits/8
# bytes by construction, a constant of the operator, never a function of
# corpus size), then broadcast from local data — no upstream job per
# broadcast build.
#
# Measured-and-rejected round-19 alternatives, so nobody retries them:
#  - scalar subquery (`DataFrame.scalar()`): plants one subquery copy PER
#    probe, and collect_list inside the build canonicalizes as
#    non-reusable, so the build ran k times per filter (+2 s at sf0.1);
#  - lazy one-row crossJoin of the in-plan aggregate: two branch
#    broadcasts each re-ran the build, and pinning the anti-join above
#    the probe dragged the bitmap column through the join exchange;
#  - F.lit(words): py4j converts element by element (18 s for 16k words);
#  - a parsed `array(...)` literal: 16k-child CreateArray costs ~6 s of
#    parse/analysis per construction.
#
# Everything is deterministic (xxhash64 + bit_or, order-independent), and
# false positives only route extra rows through the real join — results
# are unchanged by construction, only the pre-filter selectivity moves.

BLOOM_K = 4  # hash probes per key; FP rate ~ (k * n_keys / n_bits)^k


def _bloom_pos(key: Column, i: int, n_bits: int) -> Column:
    """Probe i's bit position for ``key``: pmod(xxhash64(i, key), n_bits) —
    the same expression on the build and probe sides, which is what makes
    false negatives impossible."""
    return F.pmod(F.xxhash64(F.lit(i), key), F.lit(n_bits))


def bloom_build(keys: "DataFrame", key: str, n_bits: int, k: int = BLOOM_K):
    """Dense n_bits-bit Bloom bitmap of ``keys[key]`` (a long column) as
    a ONE-ROW local DataFrame with a `bloom` array<long> column.

    Build: explode the k probe positions per key, OR the bits per 64-bit
    word (partial aggregation keeps the exchange <= n_bits/64 rows per
    map task), collect the sparse (word, bits) pairs (bounded) and
    densify on the driver. Probes against the result are O(1)
    ``element_at`` reads; broadcast it and probe with
    ``bloom_might_contain``.
    """
    assert n_bits % 64 == 0 and n_bits > 0, n_bits
    pos = F.explode(
        F.array(*[_bloom_pos(F.col(key), i, n_bits) for i in range(k)])
    ).alias("pos")
    words = (
        keys.select(pos)
        .groupBy((F.col("pos") / 64).cast("int").alias("w"))
        .agg(
            F.bit_or(
                # F.shiftleft only takes a Python-int shift; the SQL
                # builtin takes a column — resolve it by name instead.
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.col("pos") % 64).cast("int"),
                )
            ).alias("bits")
        )
    )
    dense = [0] * (n_bits // 64)
    for r in words.collect():  # <= n_bits/64 rows — bounded by construction
        dense[r["w"]] = r["bits"]
    return keys.sparkSession.createDataFrame([(dense,)], "bloom array<bigint>")


def bloom_might_contain(
    bloom: Column, key: "Column | str", n_bits: int, k: int = BLOOM_K
) -> Column:
    """True iff ``key`` may be in the set ``bloom`` encodes (no false
    negatives). xxhash64 is non-nullable (it skips a NULL child and
    returns the seed's hash), so a NULL key probes real bit positions
    like any value and can read bloom-positive; an anti-join caller keeps
    a NULL-keyed row by either route (bypass, or a join whose NULL
    equality never matches). The coalesce only maps a NULL bitmap to
    false."""
    key = F.col(key) if isinstance(key, str) else key
    hit = F.lit(True)
    for i in range(k):
        p = _bloom_pos(key, i, n_bits)
        word = F.element_at(bloom, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        hit = hit & (word.bitwiseAND(bit) != 0)
    return F.coalesce(hit, F.lit(False))
