"""Engine-agnostic distinct-count sketches.

``approx_count_distinct`` exists in both Spark (HLL++) and DuckDB
(their own HLL), but their hashes and bias tables differ — the results
can never cross-check. This module implements classic HyperLogLog
(Flajolet et al. 2007) on the shared md5 device, so the SAME sketch —
register for register, estimate for estimate — comes out of Spark, the
DuckDB twin, and any re-run at any partitioning: the sketch itself is
oracle-checkable, not just "approximately right".

Determinism engineering:

- the 60-bit hash is the md5-hex device widened to 15 hex chars
  (fits signed 64 in both engines);
- register rank ρ uses STRING bit-length (``length(bin(w))`` =
  ⌊log2 w⌋+1 exactly in both engines) — never floating log2, whose
  boundary rounding could differ per libm;
- the harmonic sum Σ 2^-ρ is computed as an INTEGER sum of
  2^(width+1-ρ) (≤ 2^61 for p=12 — no overflow, no float
  order-dependence across partitions), divided once at the end by the
  exact power-of-two scale.

Scale notes: one (key, register) map-side-combined max + one key-sized
final aggregate — the register table is bounded by keys·2^p rows, the
corpus never shuffles wider than (key, idx, ρ). This is THE way to
count distinct URLs/hashes per host on 100 TB without an exact
distinct exchange.

Streaming: cms_counters and bloom_words are pure groupBy aggregates
over monotone merges (+ / |), so they run UNCHANGED on a readStream
input in update mode — the counter/lane table is the streaming state
(tests/test_stream_sketch.py asserts batch ≡ stream). HLL's max-merge
needs per-key array state, which a stream would have to carry.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_HASH_BITS = 60  # 15 hex chars of md5 — fits signed 64 everywhere


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_registers(df: DataFrame, keys: list[str], value: str,
                  p: int = 12) -> DataFrame:
    """→ per-``keys`` HLL register table (keys…, _idx, _r) — the
    mergeable sketch state itself. Mergeable by construction: max per
    (keys, _idx) of any union of register tables ≡ the table of the
    unioned corpus, which is what makes the sketch incrementally
    maintainable and cross-crawl combinable without rescanning either
    side."""
    m = 1 << p
    width = HLL_HASH_BITS - p
    h = F.conv(F.substring(F.md5(F.col(value)), 1, 15), 16, 10) \
         .cast("long")
    idx = F.pmod(h, F.lit(m))
    w = F.shiftright(h, p)
    rho = (F.when(w == 0, F.lit(width + 1))
           .otherwise(F.lit(width) - F.length(F.bin(w)) + 1))
    return (df.where(F.col(value).isNotNull())
            .select(*keys, idx.alias("_idx"), rho.alias("_rho"))
            .groupBy(*keys, "_idx")
            .agg(F.max("_rho").alias("_r")))


def hll_estimate(regs: DataFrame, keys: list[str], p: int = 12,
                 round_to: int = 3) -> DataFrame:
    """Register table → per-``keys`` (est_distinct, n_registers):
    the HLL estimate with linear-counting correction, shared by the
    batch census and any merged register table — identical
    arithmetic either way."""
    m = 1 << p
    width = HLL_HASH_BITS - p
    # shiftleft() the SQL function takes a column shift amount (the
    # python wrapper insists on an int literal)
    scaled = F.expr("shiftleft(cast(1 as bigint), %d - _r)" % (width + 1))
    per_key = (regs.groupBy(*keys)
               .agg(F.sum(scaled).alias("_s"),
                    F.count(F.lit(1)).alias("n_registers")))
    empties = F.lit(m) - F.col("n_registers")
    s = (F.col("_s") + empties *
         F.lit(float(2 ** (width + 1)))) / F.lit(float(2 ** (width + 1)))
    raw = F.lit(_alpha(m) * m * m) / s
    est = F.when((raw <= 2.5 * m) & (empties > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / empties)) \
           .otherwise(raw)
    return per_key.select(*keys,
                          F.round(est, round_to).alias("est_distinct"),
                          F.col("n_registers").cast("long")
                          .alias("n_registers"))


def hll_distinct(df: DataFrame, keys: list[str], value: str,
                 p: int = 12, round_to: int = 3) -> DataFrame:
    """→ per-``keys`` row: (``est_distinct``, ``n_registers``) — the
    HyperLogLog distinct estimate of ``value`` (NULLs ignored), with
    the small-range linear-counting correction (raw ≤ 2.5m with empty
    registers → m·ln(m/V)). Deterministic and engine-agnostic; twin:
    :func:`sql_hll_distinct`.
    """
    return hll_estimate(hll_registers(df, keys, value, p), keys, p,
                        round_to)


def sql_hll_distinct(table_sql: str, keys: list[str], value: str,
                     p: int = 12, round_to: int = 3) -> str:
    """DuckDB twin of :func:`hll_distinct` — identical hash, register
    assignment, integer-scaled harmonic sum and corrections."""
    m = 1 << p
    width = HLL_HASH_BITS - p
    alpha = _alpha(m)
    kcols = ", ".join(keys)
    scale = 2 ** (width + 1)
    return f"""
    WITH rows_ AS (
      SELECT {kcols},
             ('0x' || substr(md5({value}), 1, 15))::BIGINT AS h
      FROM {table_sql} WHERE {value} IS NOT NULL),
    regs AS (
      SELECT {kcols}, h % {m} AS idx,
             max(CASE WHEN (h >> {p}) = 0 THEN {width + 1}
                 ELSE {width} - length(bin(h >> {p})) + 1 END) AS r
      FROM rows_ GROUP BY {kcols}, idx),
    agg AS (
      SELECT {kcols},
             sum((1::BIGINT << ({width + 1} - r)))::BIGINT AS s_int,
             count(*) AS n_registers
      FROM regs GROUP BY {kcols}),
    est AS (
      SELECT {kcols}, n_registers,
             (s_int + ({m} - n_registers) * {float(scale)})
               / {float(scale)} AS s,
             ({m} - n_registers) AS empties
      FROM agg)
    SELECT {kcols},
           round(CASE WHEN ({alpha * m * m} / s) <= {2.5 * m}
                       AND empties > 0
                      THEN {float(m)} * ln({float(m)} / empties)
                      ELSE {alpha * m * m} / s END,
                 {round_to}) AS est_distinct,
           n_registers::BIGINT AS n_registers
    FROM est
    ORDER BY {kcols}
    """


def hll_union(regs_a: DataFrame, regs_b: DataFrame,
              keys: list[str]) -> DataFrame:
    """Union of two HLL register tables (elementwise max per (keys,
    _idx)) — the sketch of the UNION of the two underlying sets,
    exactly (not approximately): max-merge is the defining property
    that makes the census cross-crawl combinable without rescanning
    either side. Intersection follows by inclusion–exclusion
    (|A∩B| ≈ est_A + est_B − est_A∪B), the standard crawl-overlap
    estimate."""
    return (regs_a.unionByName(regs_b)
            .groupBy(*keys, "_idx")
            .agg(F.max("_r").alias("_r")))


def cms_counters(df: DataFrame, value: str, d: int = 4,
                 w: int = 2048) -> DataFrame:
    """→ (row_i, bucket, cnt): the Count-Min sketch (Cormode &
    Muthukrishnan 2005) of ``value``'s frequency distribution — ``d``
    hash rows × ``w`` buckets, each cell the count of values hashing
    into it. Point-queryable forever after via :func:`cms_estimate`
    without touching the corpus again; the frequency companion to the
    HLL cardinality sketch, on the same md5 device (row i's hash =
    md5(value␟i)).

    Scale notes: one explode (×d, narrow rows) + one map-side-combined
    aggregate to a d·w-row table. The corpus never shuffles — only
    (row_i, bucket) partial counts do.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row_i")
    bucket = (F.conv(F.substring(
        F.md5(F.concat_ws("\x1f", F.col(value),
                          F.col("row_i").cast("string"))), 1, 8),
        16, 10).cast("long") % w)
    return (df.where(F.col(value).isNotNull())
            .select(F.col(value), rows)
            .select("row_i", bucket.alias("bucket"))
            .groupBy("row_i", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(counters: DataFrame, candidates: DataFrame,
                 value: str = "value", d: int = 4,
                 w: int = 2048) -> DataFrame:
    """→ (value, est): the CMS point estimate min_i cnt[i][hᵢ(v)] for
    every candidate — an overestimate by at most εN w.h.p. (ε = e/w).
    Candidates broadcast (they are a query list, not the corpus)."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row_i")
    bucket = (F.conv(F.substring(
        F.md5(F.concat_ws("\x1f", F.col(value),
                          F.col("row_i").cast("string"))), 1, 8),
        16, 10).cast("long") % w)
    probes = (candidates.select(F.col(value), rows)
              .select(value, "row_i", bucket.alias("bucket")))
    # the d·w-row counter table is the broadcast side — a left join
    # can only build right; broadcasting the probe side would be
    # ignored (HintErrorLogger) and shuffle both
    return (probes.join(F.broadcast(counters), ["row_i", "bucket"],
                        "left")
            .groupBy(value)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est")))


def sql_cms_estimate(table_sql: str, value: str,
                     candidates_sql: str, d: int = 4,
                     w: int = 2048) -> str:
    """DuckDB twin of cms_counters + cms_estimate over a candidate
    CTE (``candidates_sql`` must select one column named ``value``)."""
    return f"""
    WITH vals AS (
      SELECT {value} AS v FROM {table_sql} WHERE {value} IS NOT NULL),
    expl AS (
      SELECT v, unnest(range(0, {d})) AS row_i FROM vals),
    counters AS (
      SELECT row_i,
             ('0x' || substr(md5(v || chr(31) || row_i::VARCHAR),
                             1, 8))::BIGINT % {w} AS bucket,
             count(*) AS cnt
      FROM expl GROUP BY row_i, bucket),
    cand AS ({candidates_sql}),
    probes AS (
      SELECT value, row_i,
             ('0x' || substr(md5(value || chr(31) || row_i::VARCHAR),
                             1, 8))::BIGINT % {w} AS bucket
      FROM (SELECT value, unnest(range(0, {d})) AS row_i FROM cand))
    SELECT p.value, min(coalesce(c.cnt, 0))::BIGINT AS est
    FROM probes p LEFT JOIN counters c USING (row_i, bucket)
    GROUP BY p.value
    ORDER BY p.value
    """


def bloom_words(df: DataFrame, value: str, m_bits: int = 1 << 16,
                k: int = 4) -> DataFrame:
    """→ (word_idx, bits): the Bloom filter (Bloom 1970) of the
    ``value`` column as a table of 32-bit words — bit h_i(v) set for
    every value v and hash row i < ``k``, on the same md5 device as
    :func:`cms_counters` (h_i(v) = md5(v␟i) % m). The membership
    companion to the HLL (cardinality) and CMS (frequency) sketches:
    :func:`bloom_contains` answers "did the crawl already see this
    URL/word?" forever after without touching the corpus — no false
    negatives, false positives ≤ (1-e^{-kn/m})^k.

    Bits pack into 32-bit lanes of a BIGINT word (bit = pos & 31,
    word_idx = pos >> 5) because a 63-bit shift overflows DuckDB's
    signed ``<<`` — the twin must run the identical arithmetic.

    Scale notes: one explode (×k, narrow rows) + one map-side-combined
    ``bit_or`` to a ≤ m/32-row table; the corpus never shuffles — only
    (word_idx, mask) partial ORs do. This is THE frontier-dedup
    primitive at 100 TB: the filter table broadcasts to admission
    tasks instead of anti-joining the full crawl history.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("row_i")
    pos = (F.conv(F.substring(
        F.md5(F.concat_ws("\x1f", F.col(value),
                          F.col("row_i").cast("string"))), 1, 8),
        16, 10).cast("long") % m_bits)
    return (df.where(F.col(value).isNotNull())
            .select(F.col(value), rows)
            .select(pos.alias("_pos"))
            .select(F.shiftright(F.col("_pos"), 5).alias("word_idx"),
                    F.expr("shiftleft(cast(1 as bigint), "
                           "cast(_pos % 32 as int))").alias("_mask"))
            .groupBy("word_idx")
            .agg(F.bit_or("_mask").alias("bits")))


def bloom_contains(words: DataFrame, candidates: DataFrame,
                   value: str = "value", m_bits: int = 1 << 16,
                   k: int = 4) -> DataFrame:
    """→ (value, present): Bloom membership for every candidate —
    present iff ALL k probe bits are set (a missing word row means
    every bit in that lane is clear). Candidates broadcast (a query
    list, not the corpus); the filter table is the join's build side
    only through the lane key, so the corpus-sized side never moves."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("row_i")
    pos = (F.conv(F.substring(
        F.md5(F.concat_ws("\x1f", F.col(value),
                          F.col("row_i").cast("string"))), 1, 8),
        16, 10).cast("long") % m_bits)
    probes = (candidates.select(F.col(value), rows)
              .select(value, pos.alias("_pos"))
              .select(value,
                      F.shiftright(F.col("_pos"), 5).alias("word_idx"),
                      F.expr("shiftleft(cast(1 as bigint), "
                             "cast(_pos % 32 as int))").alias("_mask")))
    hit = (F.coalesce(F.col("bits"), F.lit(0))
           .bitwiseAND(F.col("_mask")) != 0).cast("int")
    # the filter table (≤ m/32 rows) is the broadcast side — a left
    # join can only build right, so broadcasting the probe side would
    # be ignored (HintErrorLogger) and shuffle both
    return (probes
            .join(F.broadcast(words), ["word_idx"], "left")
            .groupBy(value)
            .agg((F.min(hit) == 1).alias("present")))


def sql_bloom_contains(table_sql: str, value: str,
                       candidates_sql: str, m_bits: int = 1 << 16,
                       k: int = 4) -> str:
    """DuckDB twin of bloom_words + bloom_contains over a candidate
    CTE (``candidates_sql`` must select one column named ``value``) —
    identical hash rows, 32-bit lane packing and bit_or fold."""
    return f"""
    WITH vals AS (
      SELECT {value} AS v FROM {table_sql} WHERE {value} IS NOT NULL),
    pos AS (
      SELECT ('0x' || substr(md5(v || chr(31) || row_i::VARCHAR),
                             1, 8))::BIGINT % {m_bits} AS p
      FROM (SELECT v, unnest(range(0, {k})) AS row_i FROM vals)),
    words AS (
      SELECT p >> 5 AS word_idx,
             bit_or(1::BIGINT << (p % 32)::INTEGER) AS bits
      FROM pos GROUP BY word_idx),
    cand AS ({candidates_sql}),
    probes AS (
      SELECT value,
             ('0x' || substr(md5(value || chr(31) || row_i::VARCHAR),
                             1, 8))::BIGINT % {m_bits} AS p
      FROM (SELECT value, unnest(range(0, {k})) AS row_i FROM cand))
    SELECT pr.value,
           min(CASE WHEN (coalesce(w.bits, 0) &
                          (1::BIGINT << (pr.p % 32)::INTEGER)) != 0
                    THEN 1 ELSE 0 END) = 1 AS present
    FROM probes pr LEFT JOIN words w ON w.word_idx = pr.p >> 5
    GROUP BY pr.value
    ORDER BY pr.value
    """
