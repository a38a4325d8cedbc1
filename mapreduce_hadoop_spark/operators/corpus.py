"""End-to-end corpus cleaning — the training-data pipeline, composed.

One DAG chaining the north-star operator families the way a real
LLM-data pipeline does: quality gate -> exact dedup -> near-dup removal ->
per-source corpus stats. Each stage is the already-oracle-checked operator
reused as-is; this query pins their *composition* (semi/anti-join
plumbing included) against a DuckDB twin of the whole pipeline.

Scale shape: the quality gate is a narrow scan-time filter; exact dedup is
one shuffle on the text hash; near-dup removal reuses MinHash-LSH (shuffle
on band keys, never all-pairs) and drops the larger doc_id of every
verified pair (greedy, deterministic — at 100 TB you'd union-find the pair
graph in O(pairs), which stays tiny relative to the corpus); the stats are
a partial-agg groupBy. No driver-side loops anywhere.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import hashing
from mapreduce_hadoop_spark.functions.hashing import md5_long, md5_long_sql
from mapreduce_hadoop_spark.operators import dedup, textops
from mapreduce_hadoop_spark.sources.tables import load_table

QUALITY_MIN = 0.5

# clean_docs' near-dup anti-join is COST-BASED on the materialized
# near-dup count (known at plan time — the persisted relation is counted
# before the main query plans):
#  - below CORPUS_BLOOM_MIN_NDS, the id set fits a broadcast hash
#    relation, so the plain anti-join plans as BroadcastHashJoin LeftAnti
#    from the cache's REAL stats — the corpus side streams, no exchange,
#    and no Bloom machinery is paid (it measured +0.7-1.2 s of pure
#    stage latency at sf0.1 for an exchange the broadcast removes anyway);
#  - at or above it (the 100 TB regime where a billion near-dup ids can
#    NEITHER broadcast as a hash relation NOR be allowed to force the
#    corpus through an SMJ exchange), the Bloom-negative bypass routes
#    the corpus around the join: ~10 bits/key of bitmap where the hash
#    relation needs ~100+ B/key, an ~80x wider broadcastable window.
# Both branches are value-identical by construction (the bypass was
# hash-verified at 3 scales while it was the unconditional form), the
# split is a pure function of the data, and the threshold is a deploy
# dial, capped by the session's autoBroadcastJoinThreshold (bloom_min_nds):
# 4M ids ~ 64 MB of hash relation = the default threshold.
CORPUS_BLOOM_MIN_NDS = int(
    os.environ.get("SPARK_GRAFT_BLOOM_MIN_NDS", str(4_000_000))
)
# Broadcast hash relation bytes per near-dup id (4M ids ~ 64 MB).
BROADCAST_BYTES_PER_ID = 16
_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
# Bloom bitmap width FLOOR (bits); when the bypass branch fires the width
# is sized from the actual count (10 bits/key, FP < 1%), never below this.
CORPUS_BLOOM_BITS = int(os.environ.get("SPARK_GRAFT_BLOOM_BITS", str(1 << 20)))


def byte_size(value: str) -> int:
    """Bytes of a Spark byte-size conf value ("67108864", "10MB", "-1")."""
    m = re.fullmatch(r"\s*(-?\d+)\s*([kmgtp]?)b?\s*", value.lower())
    if m is None:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def bloom_min_nds(spark: SparkSession) -> int:
    """Near-dup count from which clean_docs takes the Bloom bypass:
    CORPUS_BLOOM_MIN_NDS, lowered to what the session's
    autoBroadcastJoinThreshold can broadcast as a hash relation (0 when
    broadcasting is off), so no count plans the plain anti-join as a
    corpus-exchanging sort-merge join."""
    limit = byte_size(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    return min(CORPUS_BLOOM_MIN_NDS, max(limit, 0) // BROADCAST_BYTES_PER_ID)


def clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, quality, n_tokens) of the surviving corpus:
    quality >= 0.5, exact dups and near-dups removed, smaller doc_id
    survives. The pipeline's document-level output — ``corpus_clean_stats``
    aggregates it, the CLI ``corpus-clean`` job writes it.

    Plan shape (rewritten round 18, guide §2.4 — output bit-identical,
    oracle unchanged): ONE scan of ``documents`` computes source, the
    quality signals (``textops.quality_exprs`` — the exact Columns the
    standalone quality query serves), and the 60-bit text hash together;
    exact-dedup keep status is a ``min(doc_id) over (partition by h)``
    window on that same relation. The previous formulation scanned
    ``documents`` three times and re-attached quality and exact-keep to
    the doc relation through two doc_id-keyed joins — both sides of each
    being projections of the same scan, i.e. pure self-joins: broadcast
    locally but two full-corpus sort-merge exchanges at 100 TB.

    Round 19: the near-dup anti-join is cost-based on the MATERIALIZED
    near-dup count (see CORPUS_BLOOM_MIN_NDS) — broadcast anti-join when
    the id set fits (statically, from the cache's real stats; the corpus
    side streams with no exchange), Bloom-negative bypass above that.
    The only corpus-wide movement left in either branch is the one
    hash-keyed window exchange the old groupBy(h) paid anyway.
    """
    exprs = textops.quality_exprs()
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        exprs["quality"].alias("quality"),
        exprs["n_tokens"].alias("n_tokens"),
        md5_long(F.col("text")).alias("h"),
    )
    # First occurrence per text hash: the window sees ALL docs (the
    # quality gate must not hide a smaller-doc_id duplicate), exactly as
    # the old groupBy over the unfiltered texth relation did.
    keep = base.select(
        "*", F.min("doc_id").over(Window.partitionBy("h")).alias("keep_id")
    )
    # Persisted and MATERIALIZED up front (the count below): the planner
    # then sees the relation's true near-dup-sized stats instead of
    # guessing, and the cost-based branch is a function of real data, not
    # an estimate. Released by dedup.unpersist_intermediates.
    near_dups = dedup._persisted(
        dedup.minhash_lsh_pairs(spark, sf_dir).select(F.col("doc_b").alias("doc_id"))
    )
    n_nd = near_dups.count()
    survivors = keep.filter(
        (F.col("quality") >= F.lit(QUALITY_MIN))
        & (F.col("doc_id") == F.col("keep_id"))
    ).select("doc_id", "source", "quality", "n_tokens")
    # Near-dup removal, cost-based (round 19, guide §3.1/3.2; VERDICT
    # r18 order 2). The old plan fed the FULL corpus into the anti-join's
    # doc_id exchange — a corpus-wide shuffle write paid before AQE
    # converted the join to broadcast at runtime.
    if n_nd < bloom_min_nds(spark):
        # The id set fits a broadcast hash relation, and because the
        # cached relation's size is KNOWN, the plain anti-join plans as
        # BroadcastHashJoin LeftAnti statically — the corpus side
        # streams through with no exchange at all. This is not the
        # OOM-fragile blind F.broadcast hint: past the threshold the
        # branch below takes over.
        return survivors.join(near_dups, "doc_id", "left_anti")
    # Bloom-negative BYPASS: the id set is too big to broadcast as a
    # hash relation, but a Bloom bitmap of it (~10 bits/key vs ~100+
    # B/key) still fits, so it routes almost every corpus row AROUND the
    # join: bloom-negative rows are provably not in `near_dups` (no
    # false negatives) and pass through join-free; only bloom-positive
    # rows (true near-dups + FPs at rate (k*n/bits)^k) reach the real
    # anti-join, whose exchange is near-dup-sized. False positives only
    # move rows from the bypass into the join — the kept set is
    # identical by construction (this branch was hash-verified at three
    # scales as the unconditional form before the cost split landed).
    # NULL keys hash like any value (xxhash64 is non-nullable) and may
    # read bloom-positive; either route keeps the row, because the
    # residual anti-join's NULL equality never matches.
    # The bitmap is DRIVER-BUILT (one bounded aggregation job, collect
    # <= n_bits/8 bytes) and rides as a one-row LocalTableScan
    # broadcast; see hashing.bloom_build for the measured in-plan
    # alternatives this replaces. The probe lands in a 1-byte boolean
    # and the bitmap column is DROPPED before the join — a raw `bloom`
    # reference in the join condition would drag the whole array through
    # the exchange. The condition references `bloom_hit` so the
    # optimizer cannot push the join below the probe
    # (PushDownLeftSemiAntiJoin happily reorders `filter(hit)` past a
    # LeftAnti, putting the full corpus back into the join's exchange);
    # for a hit row the extra conjunct is always true, so the join is
    # plain `doc_id IN near_dups`.
    n_bits = max(CORPUS_BLOOM_BITS, ((10 * n_nd + 63) // 64) * 64)
    bloom = hashing.bloom_build(near_dups, "doc_id", n_bits)
    cols = ["doc_id", "source", "quality", "n_tokens"]
    probed = survivors.crossJoin(F.broadcast(bloom)).select(
        *cols,
        hashing.bloom_might_contain(F.col("bloom"), "doc_id", n_bits).alias(
            "bloom_hit"
        ),
    )
    bypass = probed.filter(~F.col("bloom_hit")).select(*cols)
    nd2 = near_dups.select(F.col("doc_id").alias("nd_id"))
    residual = (
        probed.join(
            nd2, (F.col("doc_id") == F.col("nd_id")) & F.col("bloom_hit"), "left_anti"
        )
        .filter("bloom_hit")
        .select(*cols)
    )
    return bypass.unionByName(residual)


def corpus_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stats of the cleaned corpus (quality >= 0.5, exact dups
    and near-dups removed, smaller doc_id survives)."""
    clean = clean_docs(spark, sf_dir)
    # Fixed-point average: quality is quantized to nano BIGINTs and summed
    # as integers (order-independent, exact), then 6-dp HALF_UP is pure
    # integer arithmetic — round(p/q) = (p + q/2) div q on non-negative
    # values with q = 1000 * n_docs. A double avg() depends on the
    # partial-merge order and flips round(.., 6) at half-boundaries
    # run-to-run; this cannot. The oracle quantizes identically.
    return (
        clean.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.expr("cast(round(quality * 1e9) as bigint)")).alias("q_nano"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr(
                "((q_nano + 500 * n_docs) div (1000 * n_docs)) / 1e6"
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


CORPUS_CLEAN_ORACLE = f"""
WITH pairs AS (
    SELECT * FROM ({dedup.MINHASH_LSH_ORACLE})
),
quality AS ({textops.QUALITY_ORACLE}),
texth AS (SELECT doc_id, {md5_long_sql("text")} AS h FROM documents),
exact_keep AS (SELECT h, min(doc_id) AS keep_id FROM texth GROUP BY h),
exact_ok AS (
    SELECT doc_id FROM texth JOIN exact_keep USING (h) WHERE doc_id = keep_id
),
near_dups AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
clean AS (
    SELECT d.doc_id, d.source, q.quality, q.n_tokens
    FROM documents d
    JOIN quality q ON q.doc_id = d.doc_id
    WHERE q.quality >= {QUALITY_MIN}
      AND d.doc_id IN (SELECT doc_id FROM exact_ok)
      AND d.doc_id NOT IN (SELECT doc_id FROM near_dups)
),
grouped AS (
    SELECT source,
           count(*)      AS n_docs,
           -- DuckDB integer sum() -> HUGEINT -> pandas float64; cast keeps
           -- int64 to match Spark's BIGINT sum.
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CAST(round(quality * 1e9) AS BIGINT)) AS BIGINT) AS q_nano
    FROM clean
    GROUP BY source
)
SELECT source, n_docs, total_tokens,
       ((q_nano + 500 * n_docs) // (1000 * n_docs)) / 1e6 AS avg_quality
FROM grouped
ORDER BY source
"""


# --- domain mixing ----------------------------------------------------------

# Per-source share of the output corpus: each source is capped at 3% of
# the total, so over-represented domains are downsampled to quota and
# small domains pass through whole — the pretraining-mix rebalance. (The
# test corpus has 20 near-uniform ~5% sources, so a 3% quota actually
# binds: every source samples at rate ~0.6.)
DOMAIN_QUOTA = 0.03
_MIX_MOD = 1_000_000


def corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang) — deterministic per-source quota sampling.

    rate_s = min(1, quota * N_total / n_s); a doc survives iff
    md5(doc_id) % 1e6 < floor(rate_s * 1e6). The sample is a pure function
    of the key (stable across engines, retries, partitionings — same
    contract as events_hash_sample), and the rate relation is
    corpus-cardinality-sized (|sources| rows), so the plan is one tiny agg
    plus a broadcast join onto a map-only filter — no shuffle of the
    corpus itself.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    totals = counts.agg(F.sum("n_s").alias("n_total"))
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(DOMAIN_QUOTA) * F.col("n_total") / F.col("n_s"),
        ).alias("rate"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(
            md5_long(F.col("doc_id").cast("string")) % _MIX_MOD
            < F.floor(F.col("rate") * F.lit(float(_MIX_MOD))).cast("long")
        )
        .select("doc_id", "source", "lang")
    )


DOMAIN_MIX_ORACLE = f"""
WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM c),
r AS (
    -- CAST: DuckDB bare decimal literals are DECIMAL, not DOUBLE; the
    -- rate must be the same IEEE double Spark computes.
    SELECT source,
           least(CAST(1.0 AS DOUBLE),
                 CAST({DOMAIN_QUOTA} AS DOUBLE) * n_total / n_s) AS rate
    FROM c, t
)
SELECT doc_id, d.source, lang
FROM documents d JOIN r USING (source)
WHERE ({md5_long_sql("CAST(doc_id AS VARCHAR)")}) % {_MIX_MOD}
      < CAST(floor(rate * {_MIX_MOD}.0) AS BIGINT)
"""


# --- weighted sampling (Efraimidis-Spirakis A-Res) --------------------------

SAMPLE_K = 100
# Weight floor: a zero-quality doc must still be sampleable (and 1/w finite).
_W_FLOOR = 0.001
_U_MOD = 1_000_000


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``SAMPLE_K`` quality-weighted sample of the corpus —
    Efraimidis-Spirakis A-Res reservoir sampling, derandomized.

    Data curation samples documents proportional to a weight (here the
    quality score) rather than uniformly. A-Res draws u ~ U(0,1) per doc
    and keeps the K largest u^(1/w) — equivalently the K largest
    ln(u)/w, computed in the log domain for numeric range. Here u is a
    pure function of the key (md5(doc_id), same derandomization contract
    as events_hash_sample / corpus_domain_mix), so the sample is
    reproducible across engines, retries, and partitionings; the rank key
    is rounded to 9 dp so a last-ulp ln() difference between libm
    implementations cannot flip the selection boundary (same stance as
    the 6-dp cosine rounding in similarity.py).

    100 TB shape: the weight is computed IN the scan (it used to arrive
    through a doc_id self-join of the same table — removed round 18,
    guide §2.4; values bit-identical via the shared
    ``textops.quality_exprs``) and the global top-K plans as
    TakeOrderedAndProject — per-partition heaps of K rows, then a
    K-row merge on the driver side of the exchange; no global sort, no
    single-partition window. K is model-sample-sized, not data-sized.
    """
    from mapreduce_hadoop_spark.operators.textops import quality_exprs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_exprs()["quality"].alias("quality")
    )
    u = (
        md5_long(F.col("doc_id").cast("string")) % _U_MOD + F.lit(0.5)
    ) / F.lit(float(_U_MOD))
    w = F.greatest(F.col("quality"), F.lit(_W_FLOOR))
    key = F.round(F.log(u) / w, 9)
    return (
        docs.select("doc_id", "source", "quality", key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(SAMPLE_K)
    )


def _weighted_sample_oracle() -> str:
    from mapreduce_hadoop_spark.operators.textops import QUALITY_ORACLE

    u = f"(({md5_long_sql('CAST(d.doc_id AS VARCHAR)')}) % {_U_MOD} + 0.5) / {_U_MOD}.0"
    return f"""
WITH q AS ({QUALITY_ORACLE}),
keyed AS (
    SELECT d.doc_id, d.source, q.quality,
           round(ln({u}) / greatest(q.quality, {_W_FLOOR}), 9) AS sample_key
    FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT doc_id, source, quality, sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {SAMPLE_K}
"""


WEIGHTED_SAMPLE_ORACLE = _weighted_sample_oracle()


# --- deterministic train/val/test split -------------------------------------

# Percent-of-hash-space boundaries: [0,90) train, [90,95) val, [95,100) test.
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 95


def corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, split) document and token counts for a deterministic
    90/5/5 train/val/test split.

    Split membership is a pure function of md5(doc_id) — the production
    requirement for dataset splits: stable under re-runs, ingestion order,
    partitioning, and engine, and consistent for a given doc across every
    derived artifact (a doc can never drift from test into train between
    pipeline versions). Map-only assignment plus one partial-aggregated
    shuffle on (source, split); output is |sources| x 3 rows. The token
    count is computed IN the scan (was a doc_id self-join of the same
    table — removed round 18, guide §2.4; values bit-identical via the
    shared ``textops.quality_exprs``).
    """
    from mapreduce_hadoop_spark.operators.textops import quality_exprs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_exprs()["n_tokens"].alias("n_tokens")
    )
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", split.alias("split"), "n_tokens")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def _train_split_oracle() -> str:
    from mapreduce_hadoop_spark.operators.textops import QUALITY_ORACLE

    b = f"({md5_long_sql('CAST(d.doc_id AS VARCHAR)')}) % 100"
    return f"""
WITH q AS ({QUALITY_ORACLE}),
assigned AS (
    SELECT d.source,
           CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN {b} < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           q.n_tokens
    FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT source, split,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM assigned GROUP BY source, split
"""


TRAIN_SPLIT_ORACLE = _train_split_oracle()


# --- per-domain quality quota ------------------------------------------------

QUOTA_N = 20  # keep the N best-quality docs per source


def corpus_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``QUOTA_N`` best-quality documents per source — quota curation
    by rank rather than rate (``corpus_domain_mix`` is the rate twin:
    downsample uniformly to a share; this keeps the BEST N, the shape used
    for premium-domain upsampling).

    One shuffle on source; the per-source top-N is a window row_number,
    which at 100 TB is bounded by the largest single domain (the same
    partition the rate twin also has to scan) — not by corpus size.
    Deterministic tie-break on doc_id. The quality weight is computed IN
    the scan (was a doc_id self-join of the same table — removed round
    18, guide §2.4; values bit-identical via the shared
    ``textops.quality_exprs``).
    """
    from mapreduce_hadoop_spark.operators.textops import quality_exprs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_exprs()["quality"].alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", "quality", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= QUOTA_N)
    )


def _domain_quota_oracle() -> str:
    from mapreduce_hadoop_spark.operators.textops import QUALITY_ORACLE

    return f"""
WITH q AS ({QUALITY_ORACLE}),
ranked AS (
    SELECT d.doc_id, d.source, q.quality,
           row_number() OVER (PARTITION BY d.source
                              ORDER BY q.quality DESC, d.doc_id) AS rk
    FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT doc_id, source, quality, rk FROM ranked WHERE rk <= {QUOTA_N}
"""


DOMAIN_QUOTA_ORACLE = _domain_quota_oracle()
