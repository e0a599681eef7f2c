"""Deterministic sketches: HyperLogLog (distinct count) and count-min
(frequency). Both are DETERMINISTIC by construction
(md5-derived hashes, integer-exact registers and estimate) so the
whole sketch, not just its answer, is SQL-replicable and testable:

    h(v)     = first 8 md5 hex digits of v as a 32-bit integer
    bucket   = h div 2^(32-p)                 (top p bits, m = 2^p)
    rho(v)   = leading zeros of the (32-p)-bit suffix + 1
             = (32-p) - floor(log2(suffix))   for suffix > 0
             = (32-p) + 1                     for suffix = 0
    register = max rho per bucket
    E        = alpha_m * m^2 / sum_b 2^(-register_b)

Everything stays in the integer domain: ``floor(log2)`` is
``length(bin(n)) - 1`` (the lmscore convention), the harmonic sum is
carried as ``denom = sum_b 2^(RMAX - register_b)`` (RMAX = 33-p, so
absent buckets contribute 2^RMAX exactly like register 0), and the
estimate is ``N div denom div 10^6`` where N = round(alpha_m * 10^6)
* m^2 * 2^RMAX is a PYTHON-computed literal — no engine float ever.
p is bounded to [4, 10] so N < 2^63.

Spark's own approx_count_distinct is a (better) HLL++ but its
registers are opaque and not reproducible cross-engine; this operator
is the auditable counterpart: 64 rows of state for any corpus size.
No linear-counting small-range correction (it needs a float ln);
``n_zero_buckets`` is emitted so callers can detect that regime.

No reference counterpart; "a novel sketch" is an explicit engine-
brief item.

100 TB shape: one map-side-combinable (bucket, max) aggregate —
m rows of state per partition, m rows shuffled, ever. The summary is
a second constant-size aggregate over those m rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .util import free_column


def _alpha_x1e6(m: int) -> int:
    # canonical HLL bias constants (Flajolet et al. 2007)
    if m == 16:
        a = 0.673
    elif m == 32:
        a = 0.697
    elif m == 64:
        a = 0.709
    else:
        a = 0.7213 / (1 + 1.079 / m)
    return round(a * 1_000_000)


def _validate(p: int):
    if not 4 <= p <= 10:
        raise ValueError(
            f"hll: p must be in [4, 10] (m = 16..1024 buckets; the "
            f"estimate numerator literal must fit int64), got {p}")


def _cms_hash(col: str, i: int, width: int):
    """Hash row i: md5 over the value salted with the row index —
    d independent hash functions, identical bytes in every engine."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.col(col).cast("string"), F.lit(f":{i}"))),
        1, 8), 16, 10).cast("bigint") % F.lit(width))


def _validate_cms(width: int, depth: int):
    if width < 2 or depth < 1 or depth > 16:
        raise ValueError(
            f"cms: need width >= 2 and depth in [1, 16], got "
            f"width={width}, depth={depth}")


def cms_sketch(df: DataFrame, col: str, *, width: int = 256,
               depth: int = 4) -> DataFrame:
    """Count-min sketch state: (row, col, cnt) — at most width*depth
    rows for any corpus size. Frequency estimates (cms_estimate) are
    never UNDER the true count; collisions only inflate. NULL values
    are skipped. Deterministic md5 hashing makes the whole state
    SQL-replicable, like hll_registers.

    100 TB shape: one posexplode (depth rows per value) + one
    map-side-combinable (row, col) count aggregate — constant-size
    shuffle state per task.

    Batch inputs first aggregate counts per DISTINCT value and hash
    each distinct value once: the depth md5s depend only on the value
    string, so summing per-value counts into the cells is identical
    arithmetic (measured 10x at sf1.0 — a Zipfian token stream has
    orders of magnitude fewer distinct values than occurrences, and
    the distinct aggregate partial-combines map-side so the extra
    exchange carries vocab-sized state). Streaming inputs keep the
    single-aggregate shape: a chained aggregation is not a supported
    streaming plan, and counts are commutative either way (the
    streaming-parity test pins it)."""
    _validate_cms(width, depth)
    hashes = F.array(*[_cms_hash(col, i, width) for i in range(depth)])
    if df.isStreaming:
        return (df.filter(F.col(col).isNotNull())
                .select(F.posexplode(hashes).alias("row", "col"))
                .groupBy("row", "col")
                .agg(F.count(F.lit(1)).alias("cnt")))
    # collision-safe working column: an input value column named '_vn'
    # would otherwise make the post-aggregate select AMBIGUOUS_REFERENCE
    vn = free_column(df, "_vn")
    vals = (df.filter(F.col(col).isNotNull())
            .groupBy(col).agg(F.count(F.lit(1)).alias(vn)))
    return (vals
            .select(F.posexplode(hashes).alias("row", "col"), vn)
            .groupBy("row", "col")
            .agg(F.sum(vn).alias("cnt")))


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str, *,
                 width: int = 256, depth: int = 4) -> DataFrame:
    """(value, estimate) for each probe row: min over the depth rows
    of the sketch cell each hash lands in (missing cell = 0). The
    sketch side is the one computed by cms_sketch with the SAME
    (width, depth). The SKETCH side broadcasts (it is bounded at
    width*depth rows by construction; in a left outer join only the
    right side is broadcastable), so arbitrarily many probes never
    shuffle (review r06g: the hint was missing and a statsless
    sketch lineage could fall back to a sort-merge join)."""
    _validate_cms(width, depth)
    hashes = F.array(*[_cms_hash(col, i, width) for i in range(depth)])
    keys = (probes.filter(F.col(col).isNotNull())
            .select(F.col(col).alias("value"),
                    F.posexplode(hashes).alias("row", "col")))
    return (keys.join(F.broadcast(sketch), ["row", "col"], "left")
            .groupBy("value")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("bigint").alias("estimate")))


def hll_registers(df: DataFrame, col: str, *, p: int = 6) -> DataFrame:
    """(bucket, register) — the sketch state, one row per NON-EMPTY
    bucket (absent bucket == register 0). NULL values are skipped,
    like count(DISTINCT). Values are hashed via their string form."""
    _validate(p)
    w = 32 - p                      # suffix width
    # pure-column form: interpolating the raw name into an expr string
    # breaks on non-identifier column names (review r06e)
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8),
               16, 10).cast("bigint")
    suffix = h % F.lit(1 << w)
    rho = (F.when(suffix == 0, F.lit(w + 1))
           .otherwise(F.lit(w)
                      - (F.length(F.bin(suffix)) - 1)).cast("int"))
    src = df.filter(F.col(col).isNotNull())
    if not df.isStreaming:
        # batch: dedupe values BEFORE hashing — rho depends only on
        # the value string and register = max is multiplicity-blind,
        # so md5 runs once per DISTINCT value instead of once per
        # occurrence (the cms_sketch rationale; the distinct is a
        # map-side-combinable aggregate). Streaming keeps the
        # single-aggregate shape (chained streaming aggregations are
        # unsupported; max is idempotent either way).
        src = src.select(col).distinct()
    return (src
            .select(F.shiftright(h, w).cast("bigint").alias("bucket"),
                    rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").cast("int").alias("register")))


def hll_summary(df: DataFrame, col: str, *, p: int = 6) -> DataFrame:
    """One row: (p, m, n_zero_buckets, harmonic_denom, estimate) —
    the integer-exact HLL estimate over ``col``'s distinct values."""
    _validate(p)
    m = 1 << p
    rmax = (32 - p) + 1
    numerator = _alpha_x1e6(m) * m * m * (1 << rmax)
    regs = hll_registers(df, col, p=p)
    agg = regs.agg(
        F.count(F.lit(1)).alias("_n_filled"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                         f"{rmax} - register)")), F.lit(0))
        .alias("_filled_denom"))
    return (agg.select(
        F.lit(p).cast("int").alias("p"),
        F.lit(m).cast("bigint").alias("m"),
        (F.lit(m) - F.col("_n_filled")).cast("bigint")
        .alias("n_zero_buckets"),
        (F.col("_filled_denom")
         + (F.lit(m) - F.col("_n_filled")) * F.lit(1 << rmax))
        .cast("bigint").alias("harmonic_denom"))
        .withColumn(
            "estimate",
            F.expr(f"(CAST({numerator} AS BIGINT) div harmonic_denom) "
                   f"div 1000000").cast("bigint")))
