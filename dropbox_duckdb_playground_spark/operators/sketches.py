"""Deterministic probabilistic sketches: HyperLogLog, Count-Min, Bloom.

The classic sketch implementations are engine-internal (Spark's
``approx_count_distinct`` HLL++, DuckDB's ``approx_distinct``) and not
reproducible across engines, which makes them unauditable in a
cross-engine pipeline. These variants fix every degree of freedom —
the hash (portable md5-derived 60-bit id, SURVEY §8.1), the register
math (integer shifts, no float sums), the bucket counts — so ANY
engine recomputes bit-identical sketches and the estimates themselves
become oracle-checkable values rather than approximations you have to
trust. Reference analog: the validation surface (`batch_framework/
validate.py`) audits row counts; at 100 TB the same audits need
sketches, and sketches you can re-derive are the only ones that
compose with a correctness gate.

Scale notes (100 TB):
- HLL: one scan -> 64 registers per audited column; the shuffle carries
  only (col, bucket) partial maxima — map-side combine collapses each
  partition to <= 64 rows per column before the exchange.
- Count-Min: the shuffle carries (depth x width) partial counts, again
  map-side combined; estimates join the (small, distinct-key-sized)
  query set against the d*w-cell table.
- Bloom: the bit table is <= m rows regardless of corpus size and is
  packed into m/64 words in Spark; the words ship to the probe side as
  a plan literal, so the probe is one narrow map, never a per-row UDF
  loop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _phash(col: Column, salt: str) -> Column:
    """md5-derived 60-bit non-negative hash, bit-identical in DuckDB
    (sql.dialect.DUCK_ID) — the only hash allowed in oracle-checked
    sketches (xxhash64 is engine-private and not DuckDB-expressible).
    Composed natively; compiles to the same plan as sql.dialect.SPARK_ID."""
    h = F.concat(F.lit(salt), col.cast("string"))
    return F.conv(F.substring(F.md5(h), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007), deterministic integer variant.

HLL_BUCKETS = 64  # m = 2^6
HLL_WBITS = 54  # 60-bit hash - 6 bucket bits
HLL_ALPHA = 0.709  # alpha_64, fixed literal on both engines


def hll_registers(vals: DataFrame, names: Sequence[str]) -> DataFrame:
    """(col_name, bucket, reg) — all 64 registers per audited column,
    empty buckets reg=0, from a (col_name, v) table; ``names`` are its
    col_name values, one 64-row register block each.

    bucket = h % 64; w = h div 64 (54 bits); rho = 55 - bitlen(w) for
    w>0 else 55 (leading-zero count + 1). Register = max(rho) per
    (col_name, bucket). Pure integer/string ops — no float in the data
    path. The spine is constant (64 x len(names) rows), so the left
    join from it is a broadcast of the register aggregate."""
    spark = vals.sparkSession
    h = _phash(F.col("v").cast("string"), "hll:")
    w = F.shiftright(h, 6)  # h div 64, h is a nonneg 60-bit value
    exploded = vals.select(
        "col_name",
        (h % HLL_BUCKETS).alias("bucket"),
        F.when(w == 0, F.lit(HLL_WBITS + 1))
        .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.bin(w)))
        .alias("rho"),
    )
    regs = exploded.groupBy("col_name", "bucket").agg(F.max("rho").alias("reg"))
    spine = (
        spark.range(HLL_BUCKETS)
        .select(F.col("id").cast("bigint").alias("bucket"))
        .crossJoin(spark.createDataFrame([(c,) for c in names], "col_name string"))
    )
    return spine.join(F.broadcast(regs), ["col_name", "bucket"], "left").select(
        "col_name", "bucket", F.coalesce(F.col("reg"), F.lit(0)).cast("int").alias("reg")
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """(col_name, hll_estimate) from a register table.

    S = sum over buckets of 2^(55-reg) — integer shifts, max 64*2^55 =
    2^61 (no overflow, no float-sum rounding). E = alpha*m^2*2^55 / S:
    ONE double division of two exactly-represented values, so floor(E)
    is bit-identical on every IEEE-754 engine. Raw estimate only (no
    small-range linear counting — ln() is libm-dependent); fine for the
    cardinalities an audit sketches."""
    # shiftleft's bit count must be a Column-safe expr (the Python API
    # only takes literal ints)
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_WBITS + 1} - reg)")
    num = HLL_ALPHA * HLL_BUCKETS * HLL_BUCKETS * float(2 ** (HLL_WBITS + 1))
    return (
        registers.groupBy("col_name")
        .agg(F.sum(term).alias("s"))
        .select(
            "col_name",
            F.floor(F.lit(num) / F.col("s").cast("double"))
            .cast("long")
            .alias("hll_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005), deterministic.

CM_DEPTH = 4
CM_WIDTH = 256


def countmin_cells(
    items: DataFrame, col: str, weight: str | None = None
) -> DataFrame:
    """(i, bucket, cnt): the d x w counter matrix from an item stream.
    Each row fans out to d (row, bucket) increments in-plan (explode of
    a literal-built array — no UDF); one map-side-combined groupBy.

    ``weight`` feeds pre-aggregated (item, count) rows instead of the
    raw stream: cnt becomes sum(weight), identical registers, and the
    portable md5 hash runs per DISTINCT item instead of per occurrence
    — the right call whenever a frequency table already exists (the
    same hash-after-aggregate move as q93's HLL)."""
    hashes = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (_phash(F.col(col), f"cm{i}:") % CM_WIDTH).alias("bucket"),
            )
            for i in range(CM_DEPTH)
        ]
    )
    if weight is None:
        return (
            items.select(F.explode(hashes).alias("e"))
            .select("e.i", "e.bucket")
            .groupBy("i", "bucket")
            .agg(F.count("*").alias("cnt"))
        )
    return (
        items.select(F.col(weight), F.explode(hashes).alias("e"))
        .select(weight, "e.i", "e.bucket")
        .groupBy("i", "bucket")
        .agg(F.sum(weight).alias("cnt"))
    )


def countmin_estimates(
    cells: DataFrame, keys: DataFrame, col: str
) -> DataFrame:
    """(key, cm_estimate): min over the d cells each key hashes to.
    The key set is distinct-key-sized; the join is an equi-join on
    (i, bucket) against the bounded d*w cell table (broadcast)."""
    hashes = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (_phash(F.col(col), f"cm{i}:") % CM_WIDTH).alias("bucket"),
            )
            for i in range(CM_DEPTH)
        ]
    )
    kh = keys.select(F.col(col), F.explode(hashes).alias("e")).select(
        col, "e.i", "e.bucket"
    )
    return (
        kh.join(F.broadcast(cells), ["i", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cm_estimate"))
    )


# ---------------------------------------------------------------------------
# Bloom filter membership, deterministic.

BLOOM_K = 4
BLOOM_M = 65536  # 2^16 — power of two so position math is masks/shifts


def _bloom_positions(h: Column) -> list[Column]:
    """The k bit positions for one 60-bit digest, via Kirsch-
    Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m with
    h1 = h & (m-1) and h2 = ((h >> 16) & (m-1)) | 1 (odd, so the
    stride is a bijection mod 2^16). ONE md5 per value instead of k
    salted md5s — at corpus scale the hash is the dominant CPU of the
    probe side, so this is a k-fold cut in hashing work on both the
    build and probe paths (and the formulation Bloom-filter literature
    recommends: k independent hash families gain nothing over
    double hashing for filter quality)."""
    mask = BLOOM_M - 1
    h1 = h.bitwiseAND(F.lit(mask))
    h2 = F.shiftright(h, 16).bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(1))
    return [
        (h1 + F.lit(i) * h2).bitwiseAND(F.lit(mask)) for i in range(BLOOM_K)
    ]


def bloom_bits(items: DataFrame, col: str) -> DataFrame:
    """(bit,): the distinct set bit positions for the member set —
    <= m rows regardless of input size, broadcastable by construction.
    NULL values are dropped: in SQL semantics NULL is never a member."""
    hashes = F.array(*_bloom_positions(_phash(F.col(col), "bf:")))
    return (
        items.where(F.col(col).isNotNull())
        .select(F.explode(hashes).alias("bit"))
        .distinct()
    )


def bloom_bitmap_agg(bits: DataFrame) -> list[int]:
    """Packed bitmap (m/64 little-endian words) from a ``bloom_bits``
    table, PACKED IN SPARK: one bit_or aggregate groups the bit
    positions into 64-bit words, so the driver collects at most m/64
    long rows (8 KiB at m=65536) instead of the member set — the
    fixed-size proxy handshake (guide §8) that keeps the driver
    payload bounded BY CONSTRUCTION at any scale factor. Words are
    bit-identical to :func:`bloom_bitmap_from_values`
    (same md5 positions; the shiftleft of bit 63 lands negative in the
    JVM long and is re-read unsigned here), pinned by a parity test."""
    rows = (
        bits.groupBy(F.shiftright(F.col("bit"), 6).cast("int").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT)))"
            ).alias("word")
        )
        .collect()
    )
    words = [0] * (BLOOM_M // 64)
    for r in rows:
        w = r["w"]
        # a negative index would silently alias the top words
        if not 0 <= w < len(words):
            raise ValueError(
                f"bloom bit out of range: word index {w} not in [0, {len(words)})"
            )
        words[w] = r["word"] & ((1 << 64) - 1)
    return words


def bloom_bitmap_from_values(values, salt: str = "bf:") -> list[int]:
    """Packed bitmap (m/64 little-endian longs) from an in-memory
    member list — the pure-Python twin of ``bloom_bits`` +
    ``bloom_bitmap_agg`` for callers that already hold the member set on
    the driver (e.g. a collected benchmark suite). Bit positions are
    bit-identical to the Spark path: the same md5-derived 60-bit hash
    (``_phash``: conv(substring(md5(salt||v),1,15),16,10)) and the
    same Kirsch-Mitzenmacher double hashing — pinned by a parity test
    against the DataFrame form. ``None`` values are skipped, as
    ``bloom_bits`` drops NULLs."""
    import hashlib

    mask = BLOOM_M - 1
    words = [0] * (BLOOM_M // 64)
    for v in values:
        if v is None:
            continue
        h = int(
            hashlib.md5((salt + str(v)).encode("utf-8")).hexdigest()[:15], 16
        )
        h1 = h & mask
        h2 = ((h >> 16) & mask) | 1
        for i in range(BLOOM_K):
            b = (h1 + i * h2) & mask
            words[b // 64] |= 1 << (b % 64)
    return words


def bloom_contains_bits(
    probe: DataFrame, words: list[int], col: str
) -> DataFrame:
    """``probe`` + boolean ``in_bloom`` via an in-plan literal bitmap,
    true iff all k bit positions are set. The k bit tests run per row
    inside whole-stage codegen against an 8 KiB literal long array: no
    explode (k x row inflation), no join, no group-back-to-grain
    aggregate. The md5 positions mod m are engine-checkable.
    Scale: the bitmap is a plan literal shipped with the task binary —
    the probe side is ONE narrow map over the corpus."""
    # bit 63 set -> the unsigned word exceeds the signed-long literal
    # range; re-encode two's-complement (shiftrightUNSIGNED reads the
    # raw bits, so the probe is sign-agnostic)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    # ONE F.expr for the 1024-literal array: building it element-wise
    # (F.array of F.lit per word) costs ~2000 py4j round trips ≈ 1.5s
    # of pure driver-side plan-construction latency per query (the
    # same effect documented at dedup.simhash) — a single SQL string
    # parses JVM-side in milliseconds. The plan is built in FOUR
    # select passes (not a withColumn chain): every withColumn
    # re-analyzes the whole projection, and dragging the 1024-literal
    # array through 7 eager analyses measured ~0.25s of pure
    # driver-side latency per call; here the array literal exists in
    # exactly one projection.
    arr_sql = "array(" + ",".join(f"{w}L" for w in signed) + ")"
    cols = probe.columns
    s1 = probe.select("*", _phash(F.col(col), "bf:").alias("__bfh__"))
    pos_cols = [
        p.alias(f"__bfp{i}__")
        for i, p in enumerate(_bloom_positions(F.col("__bfh__")))
    ]
    s2 = s1.select(*cols, *pos_cols)
    s3 = s2.select("*", F.expr(arr_sql).alias("__bfarr__"))
    cond = " AND ".join(
        f"((shiftrightunsigned(element_at(__bfarr__, "
        f"CAST(__bfp{i}__ div 64 AS INT) + 1), "
        f"CAST(__bfp{i}__ % 64 AS INT)) & 1) = 1)"
        for i in range(BLOOM_K)
    )
    return s3.select(*cols, F.expr(cond).alias("in_bloom"))


#: histogram_quantiles' bins per group and the percentiles it estimates
HIST_BINS = 64
HIST_Q_PCTS = (25, 50, 90)


def histogram_quantiles(df: DataFrame, value: str, group: str) -> DataFrame:
    """Mergeable equi-width-histogram quantile estimates per group — the
    deterministic, scale-path alternative to exact sort-based medians
    (q57): error is bounded by one bin width, the per-group state is at
    most ``HIST_BINS`` counters (mergeable across partitions AND groups,
    because the bin edges are global), and the whole computation is two
    corpus passes (global min/max, then one map-side-combined
    (group, bin) count) no matter the data size. Engine-stable by
    construction: bin indices are integer floors of one fixed double
    expression, and the quantile rank test is exact integer math
    (cum*100 >= q*n), so no float comparison can flip between engines.

    Output: (group, q_pct, est) — est is the RIGHT edge of the first
    bin whose cumulative count reaches the q-th percentile."""
    from pyspark.sql import Window

    mm = df.agg(
        F.min(F.col(value).cast("double")).alias("mn"),
        F.max(F.col(value).cast("double")).alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(HIST_BINS))
    binned = (
        df.crossJoin(F.broadcast(mm))
        .select(
            F.col(group).alias("grp"),
            "mn",
            "mx",
            F.when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(HIST_BINS - 1),
                    F.floor((F.col(value).cast("double") - F.col("mn")) / width),
                )
            )
            .cast("int")
            .alias("bin"),
        )
    )
    counts = binned.groupBy("grp", "mn", "mx", "bin").agg(
        F.count("*").alias("cnt")
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("grp")
    cum = counts.select(
        "grp",
        "mn",
        "mx",
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    qdf = cum.select(
        "*", F.explode(F.array(*[F.lit(p) for p in HIST_Q_PCTS])).alias("q_pct")
    ).filter(F.col("cum") * 100 >= F.col("q_pct") * F.col("n"))
    first = qdf.groupBy("grp", "q_pct", "mn", "mx").agg(
        F.min("bin").alias("qbin")
    )
    return first.select(
        F.col("grp").alias(group),
        "q_pct",
        (
            F.col("mn")
            + (F.col("qbin") + 1) * ((F.col("mx") - F.col("mn")) / F.lit(float(HIST_BINS)))
        ).alias("est"),
    )
