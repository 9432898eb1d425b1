"""Count–Min frequency sketch + heavy-hitter estimation (N20).

A Count–Min sketch (Cormode & Muthukrishnan 2005) summarizes token
frequencies in ``depth × width`` counters: each of ``depth``
independent hash rows maps a token to one of ``width`` buckets;
``estimate(t) = min over rows of cell(row, hash_row(t))`` is an upper
bound on the true count (collisions only ever ADD). At corpus scale
this is how you detect hot tokens / boilerplate n-grams / hot join
keys WITHOUT materializing the full token distribution: the sketch is
fixed-size (``depth·width`` cells) no matter how many distinct tokens
the corpus has, and it is mergeable (cell-wise +) across partitions,
files, days, or whole corpora.

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds (N5 covers
*distinct-count* sketches; this is the *frequency* sketch family).

Scale design (100 TB):

- Building the sketch is ONE pass: tokens explode map-side, each
  occurrence emits ``depth`` (row, bucket) cells via an in-row array
  literal (no per-row Python, no extra scan per hash row), and the
  groupBy combines map-side — the only shuffle carries at most
  ``depth·width`` cells per map partition, regardless of corpus size.
- Estimation joins the probe set against the sketch on (row, bucket):
  the sketch is at most ``depth·width`` rows, so the join is always a
  broadcast; the probe relation is never shuffled.
- Hashes are the portable 60-bit md5 family (fdf_spark.llm.hashing)
  seeded per row, so the sketch is bit-reproducible in any engine —
  the DuckDB oracle replays it exactly.

The classic guarantee: with ``width = ⌈e/ε⌉`` and ``depth = ⌈ln 1/δ⌉``,
``est ≤ true + ε·N`` with probability ``1−δ`` (N = total token count).
``tests/test_properties.py`` asserts the hard direction (est ≥ true)
for every probe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fdf_spark.llm.hashing import portable_hash60

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 1024


def cm_bucket(token: Column, row: int, width: int) -> Column:
    """Bucket of ``token`` under hash row ``row`` (portable)."""
    return F.pmod(portable_hash60(token, seed=row), F.lit(width))


def countmin_sketch(
    tokens: DataFrame,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Build a Count–Min sketch over a token relation.

    Returns ``(row int, bucket bigint, cnt bigint)`` — at most
    ``depth·width`` rows. One scan, one map-side-combining groupBy;
    the ×depth cell fan-out happens inside the row (array + explode),
    never as repeated scans.
    """
    t = F.col("token")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    cm_bucket(t, r, width).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    ).alias("cell")
    return (
        tokens.select(cells)
        .select(F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Merge Count–Min sketches built with the same (depth, width).

    Cell-wise addition — the property that makes the sketch a
    distributed-systems primitive: per-partition / per-day / per-corpus
    sketches built independently combine into the sketch of the union
    stream exactly. Output stays ≤ depth·width rows.
    """
    if not sketches:
        raise ValueError("cm_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Point-estimate counts for every probe token.

    Each probe expands to its ``depth`` (row, bucket) addresses in-row,
    joins the (broadcast, ≤ depth·width-row) sketch, and takes the min
    across rows — the Count–Min upper-bound estimate. A probe address
    with no sketch cell means count 0 (only possible for tokens absent
    from the sketched corpus); the min-fold treats it as 0.
    """
    t = F.col("token")
    addr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    cm_bucket(t, r, width).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    ).alias("a")
    addressed = probes.select(t.alias("token"), addr).select(
        "token", F.col("a.row").alias("row"), F.col("a.bucket").alias("bucket")
    )
    joined = addressed.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


# ---------------------------------------------------------------------------
# Bloom filter (N5 family): membership sketch / join pruning
# ---------------------------------------------------------------------------
#
# The Bloom filter (Bloom 1970) is the membership twin of the
# Count–Min sketch above and THE join-pruning primitive at 100 TB:
# build a fixed-size bit vector over the SMALL side's join keys,
# broadcast it, and map-filter the huge probe side BEFORE its shuffle
# — rows whose key cannot be in the build side never enter the
# exchange. No false negatives ever (the guarantee pruning relies
# on); false positives only cost a little lost pruning.
#
# Same physical shape as the CM sketch: the bit vector is a sparse
# (word, bits) relation — per key, k bit positions are emitted in-row
# and a map-side-combining bit_or groupBy folds them; the shuffle
# carries at most m/32 words per map partition regardless of key
# count. Bits pack 32 per BIGINT word so every mask stays far from
# the sign bit in both engines; hashes are the portable md5-60 family,
# so a DuckDB oracle replays the filter bit-for-bit (q134).

DEFAULT_BLOOM_BITS = 32 * 1024
DEFAULT_BLOOM_K = 5
_BLOOM_WORD = 32


def bloom_bitpos(key: Column, row: int, m_bits: int) -> Column:
    """Bit position of ``key`` under hash row ``row`` (portable)."""
    return F.pmod(portable_hash60(key, seed=row), F.lit(m_bits))


def _bloom_addrs(key: Column, k: int, m_bits: int) -> Column:
    return F.explode(
        F.array(
            *[
                F.struct(
                    (bloom_bitpos(key, r, m_bits) / _BLOOM_WORD)
                    .cast("bigint")
                    .alias("word"),
                    F.pmod(bloom_bitpos(key, r, m_bits), F.lit(_BLOOM_WORD))
                    .cast("int")
                    .alias("bit"),
                )
                for r in range(k)
            ]
        )
    )


def bloom_build(
    keys: DataFrame,
    m_bits: int = DEFAULT_BLOOM_BITS,
    k: int = DEFAULT_BLOOM_K,
) -> DataFrame:
    """Build a Bloom filter over a key relation.

    Returns the sparse bit vector ``(word bigint, bits bigint)`` — at
    most ``m_bits/32`` rows.  One scan; the ×k bit fan-out happens
    in-row; the groupBy bit_or combines map-side.
    """
    addr = _bloom_addrs(F.col("key"), k, m_bits).alias("a")
    # the SQL shiftleft/shiftright accept a COLUMN shift amount (the
    # python wrappers restrict to int literals — call_function routes
    # around that)
    mask = F.call_function("shiftleft", F.lit(1).cast("bigint"), F.col("a.bit"))
    return (
        keys.select(addr)
        .select(F.col("a.word").alias("word"), mask.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Merge Bloom filters built with the same (m_bits, k): word-wise
    OR — per-partition / per-day filters combine into the filter of
    the union key set exactly."""
    if not filters:
        raise ValueError("bloom_merge needs at least one filter")
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_might_contain(
    bloom: DataFrame,
    probes: DataFrame,
    m_bits: int = DEFAULT_BLOOM_BITS,
    k: int = DEFAULT_BLOOM_K,
) -> DataFrame:
    """Per-probe membership verdict ``(key, might_contain boolean)``.

    Each probe expands to its k (word, bit) addresses in-row, joins the
    (broadcast, ≤ m/32-row) filter, and requires EVERY addressed bit
    set.  A missing word means bit unset.  No false negatives: a key
    that was built in always returns true (property-tested).
    """
    key = F.col("key")
    addr = _bloom_addrs(key, k, m_bits).alias("a")
    addressed = probes.select(key.alias("key"), addr).select(
        "key",
        F.col("a.word").alias("word"),
        F.col("a.bit").alias("bit"),
    )
    joined = addressed.join(F.broadcast(bloom), ["word"], "left")
    hit = (
        F.call_function(
            "shiftright",
            F.coalesce(F.col("bits"), F.lit(0).cast("bigint")),
            F.col("bit"),
        ).bitwiseAND(F.lit(1))
        == 1
    )
    return (
        joined.groupBy("key")
        .agg((F.min(hit.cast("int")) == 1).alias("might_contain"))
    )


def bloom_collect(bloom: DataFrame, m_bits: int = DEFAULT_BLOOM_BITS) -> list[int]:
    """Collect the sparse filter to a DENSE word vector on the driver —
    ``m_bits/32`` longs (128 KB at m=2²⁵), the same bounded-metadata
    class as IVF centroids or shard manifests.  This is what makes the
    prefilter a pure map-side expression."""
    words = [0] * ((m_bits + _BLOOM_WORD - 1) // _BLOOM_WORD)
    for r in bloom.collect():
        words[int(r["word"])] = int(r["bits"])
    return words


def bloom_prefilter(
    df: DataFrame,
    bloom_words: list[int],
    key_col: str,
    m_bits: int = DEFAULT_BLOOM_BITS,
    k: int = DEFAULT_BLOOM_K,
) -> DataFrame:
    """Join pruning at scale: drop rows whose key CANNOT be in the
    built key set, as a PURE column expression over the huge probe
    side — no shuffle, no join, no distinct.  The dense word vector
    (from :func:`bloom_collect`) rides into the plan as ONE binary
    literal (m/8 bytes — 2 MB at m=2²⁴) and each probe does k
    constant-time 4-byte lookups via substring/hex/conv, entirely
    inside codegen.  (An array literal is a trap here: classic
    PySpark's ``F.lit(list)`` expands to one Literal PER ELEMENT —
    half a million Catalyst nodes at m=2²⁴ and minutes of planning.)
    Run it BEFORE the probe side's join shuffle; every true match
    survives (no false negatives), false positives only prune less.
    """
    import struct as _struct

    packed = _struct.pack(f">{len(bloom_words)}I", *bloom_words)
    blob = F.lit(packed)  # single BinaryType literal
    key = F.col(key_col)
    cond = F.lit(True)
    for r in range(k):
        pos = bloom_bitpos(key, r, m_bits)
        word = (pos / _BLOOM_WORD).cast("bigint")
        bit = F.pmod(pos, F.lit(_BLOOM_WORD)).cast("int")
        wv = F.conv(
            F.hex(F.call_function("substring", blob, word * 4 + 1, F.lit(4))), 16, 10
        ).cast("bigint")
        hit = F.call_function("shiftright", wv, bit).bitwiseAND(F.lit(1)) == 1
        cond = cond & hit
    return df.filter(cond)


# ---------------------------------------------------------------------------
# HyperLogLog (N5 family): mergeable distinct-count sketch
# ---------------------------------------------------------------------------
#
# The cardinality member of the sketch family (Flajolet et al. 2007),
# completing the trio: Count–Min (frequencies), Bloom (membership),
# HLL (distinct counts).  Spark's own approx_count_distinct is HLL++
# but engine-private — unreproducible in an oracle and unreadable as a
# relation.  This one is built from the portable md5-60 hash, so a
# DuckDB oracle replays every register and the estimate bit-for-bit
# (q136), and the register relation is first-class: mergeable
# (register-wise MAX — per-day/per-shard sketches combine exactly),
# inspectable, and versionable like the other sketches.
#
# Physical shape: ONE map-side-combining groupBy whose shuffle carries
# at most m = 2^p register rows per partition, corpus size irrelevant.
# Determinism discipline: the 2^-M harmonic sum is computed EXACTLY as
# a DECIMAL(38,0) sum of the dyadics 2^(60-M) (float summation order
# would differ between engines); only the final closed-form division
# and the small-range log run in double, with identical literals on
# both sides and a 6-dp HALF_UP round.

DEFAULT_HLL_P = 12  # 4096 registers, ~1.6% standard error


def hll_sketch(df: DataFrame, col: str) -> DataFrame:
    """Build the register relation ``(register int, maxrank int)``.

    register = hash mod 2^p; rank = leading zeros of the remaining
    60−p hash bits + 1 (via bit-length: portable to any engine with a
    binary-string function).  At most 2^p rows.
    """
    m = 1 << DEFAULT_HLL_P
    h = portable_hash60(F.col(col))
    # exact integer shift, not (h / m).cast: double division rounds h
    # for values >= 2^53 and can push w across a power-of-two boundary,
    # breaking the bit-reproducibility contract vs the oracle's h // m
    w = F.shiftright(h, DEFAULT_HLL_P)  # the top 60-p bits
    width = 60 - DEFAULT_HLL_P
    rank = F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - F.length(F.bin(w)) + 1
    )
    return (
        df.select(F.pmod(h, F.lit(m)).cast("int").alias("register"), rank.alias("rank"))
        # NULL keys are invisible to cardinality (COUNT DISTINCT semantics)
        .where(F.col("register").isNotNull())
        .groupBy("register")
        .agg(F.max("rank").alias("maxrank"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge HLL register relations built with the same ``p``:
    register-wise MAX — the union-stream sketch, exactly."""
    if not sketches:
        raise ValueError("hll_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("register").agg(F.max("maxrank").alias("maxrank"))


def hll_estimate(sketch: DataFrame) -> DataFrame:
    """One-row ``(estimate double)`` from the register relation.

    Standard HLL estimator: E = α_m · m² / Σ 2^−M_j with the
    small-range correction E' = m·ln(m/V) when E < 2.5m and V (empty
    registers) > 0.  The harmonic sum is exact (DECIMAL sum of the
    integers 2^(60−p+1−M)·…) so both engines agree bit-for-bit; the
    result rounds to 6 dp HALF_UP.
    """
    m = 1 << DEFAULT_HLL_P
    width = 60 - DEFAULT_HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # absent registers contribute 2^0 = 1 each, i.e. scale 2^(width+1-0)
    # relative to scale factor 2^(width+1); present register M_j
    # contributes 2^(width+1-M_j).  Exact integers, DECIMAL(38,0)-summed.
    agg = sketch.agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(width + 1) - F.col("maxrank")).cast("decimal(38,0)")
        ).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    scale = float(2 ** (width + 1))
    return agg.select(
        F.round(
            F.when(
                # raw estimate and small-range test share the same sum
                (
                    F.lit(alpha * m * m)
                    / (
                        (
                            F.coalesce(F.col("s_present"), F.lit(0).cast("decimal(38,0)"))
                            .cast("double")
                            + (F.lit(m) - F.col("n_present")).cast("double") * F.lit(scale)
                        )
                        / F.lit(scale)
                    )
                    < F.lit(2.5 * m)
                )
                & (F.col("n_present") < m),
                F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("n_present")).cast("double")),
            ).otherwise(
                F.lit(alpha * m * m)
                / (
                    (
                        F.coalesce(F.col("s_present"), F.lit(0).cast("decimal(38,0)"))
                        .cast("double")
                        + (F.lit(m) - F.col("n_present")).cast("double") * F.lit(scale)
                    )
                    / F.lit(scale)
                )
            ),
            6,
        ).alias("estimate")
    )


# ---------------------------------------------------------------------------
# Quantile sketch (N5): deterministic bottom-k hash sample
# ---------------------------------------------------------------------------
#
# The fourth member of the sketch family (Count–Min = frequencies,
# Bloom = membership, HLL = cardinality, this = quantiles/ranks): a
# fixed-size relation from which any quantile of a value column can be
# estimated, mergeable across shards/days/corpora.
#
# Design decision — bottom-k hash sample, NOT KLL/t-digest. KLL
# compactors flip a coin per compaction and compact in ARRIVAL order,
# so the sketch depends on partitioning and scheduling: two runs over
# the same data give different registers, and no other engine can
# replay it — the family's bit-reproducibility contract (the HLL
# standard above) is unmeetable. t-digest merging is likewise
# order-dependent. The bottom-k hash sample is the classical
# random-sampling quantile estimator (Vitter 1985 reservoir; the KMV
# construction of Bar-Yossef et al. 2002 gives the same bottom-k-by-
# hash shape) made DETERMINISTIC: keep the k rows whose portable md5
# hash of a caller-named row id is smallest. That set is a pure
# function of the row multiset — partitioning-independent, bit-equal
# in any engine with md5 — and EXACTLY mergeable: bottom-k of a union
# is the bottom-k of the per-shard bottom-k's, as relations, not just
# within ε. The price is space: rank error ε needs k ≈ 1/ε² sampled
# rows where KLL needs ~(1/ε)·log²log(1/δ); at ε = 3% that is 1024
# rows ≈ 16 KB — negligible for an analytics engine, and worth the
# exactness contract.
#
# Physical shape: building is ONE TakeOrderedAndProject — every map
# task emits at most k (hash, value) pairs, the single reduce sees
# k·num_partitions rows, corpus size irrelevant. Estimation sorts the
# ≤ k-row sample on one partition (bounded, documented) and picks the
# ceil(q·n)-th order statistic — deterministic, SQL-replayable
# (ORDER BY h LIMIT k + ROW_NUMBER in any engine).

DEFAULT_QUANTILE_K = 1024


def quantile_sketch(
    df: DataFrame, col: str, id_col: str, k: int = DEFAULT_QUANTILE_K
) -> DataFrame:
    """Build the sample relation ``(h bigint, v double)`` — ≤ k rows.

    ``id_col`` must identify rows uniquely (quantiles weight duplicate
    VALUES by their multiplicity, so the sample must be over rows, and
    determinism needs a stable per-row identity — the usual CDC/corpus
    key contract). Ties on ``h`` (astronomically rare with 60-bit md5)
    break on ``v`` so the kept set is still a pure function of the data.

    NULL discipline: NULL values are excluded (SQL aggregate semantics —
    a quantile of a column ignores NULLs), and NULL ids are excluded
    with them (an unhashable identity cannot enter the sample; engines
    also disagree on NULL sort order, so letting a NULL hash through
    would silently break the bit-reproducibility contract — Spark ranks
    NULLS FIRST ascending, DuckDB NULLS LAST).
    """
    h = portable_hash60(F.col(id_col).cast("string"))
    return (
        df.select(h.alias("h"), F.col(col).cast("double").alias("v"))
        .where(F.col("h").isNotNull() & F.col("v").isNotNull())
        .orderBy("h", "v")
        .limit(k)
    )


def quantile_merge(*sketches: DataFrame, k: int = DEFAULT_QUANTILE_K) -> DataFrame:
    """Merge sketches built with the same ``k`` (and id convention).

    Bottom-k of the union of bottom-k's == bottom-k of the union
    stream, EXACTLY (each row's hash is fixed, so the k globally
    smallest hashes all survive their shard's local cut). Stronger
    than the within-ε merge law of KLL: the merged relation is
    bit-equal to the whole-stream sketch.
    """
    if not sketches:
        raise ValueError("quantile_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.orderBy("h", "v").limit(k)


def quantile_estimate(sketch: DataFrame, qs: Sequence[float]) -> DataFrame:
    """Estimate quantiles from the sample: ``(q double, est double)``.

    The sample is uniform over rows (md5 order is independent of
    value order), so the ceil(q·n)-th order statistic of the sample
    estimates the q-quantile with rank error ~ sqrt(q(1-q)/k) — ≈1.6%
    at the median for k=1024. The ≤ k-row sort runs on one partition
    by design (bounded by k, never by corpus size).
    """
    from pyspark.sql import Window

    w = Window.orderBy("v", "h")
    ranked = (
        sketch.withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))))
    )
    targets = sketch.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    return (
        targets.join(
            F.broadcast(ranked),
            F.col("r") == F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n"))),
            "left",
        )
        .select("q", F.col("v").alias("est"))
        .orderBy("q")
    )


# -- grouped (per-key) sketch tier -----------------------------------------
#
# The shape a production pipeline actually asks for: quantiles PER
# source/language/day, distinct counts PER partition key. Same
# determinism/merge contracts as the global sketches; state is bounded
# at |groups|·k (quantile) or |groups|·2^p (HLL) rows, and the one
# shuffle is the hash exchange on the group keys that any per-key
# result needs — never corpus-sized beyond that.


def _bottomk_prune_local(df: DataFrame, keys: Sequence[str], k: int) -> DataFrame:
    """Zero-shuffle superset prune: keep ≤ k smallest-(h, v) rows per
    key WITHIN each Arrow batch (``arrow_kernel`` — no exchange at all).

    Correctness needs only a SUPERSET of each group's global bottom-k,
    and per-batch bottom-k is one (a row in the global bottom-k is in
    its batch's bottom-k a fortiori), so the prune itself need not be
    deterministic across partitionings — the final per-key window is,
    because bottom-k of any superset of the bottom-k is the bottom-k.
    This is what keeps the grouped sketch hot-group-safe at 100 TB: the
    key exchange after the prune carries ≤ k·batches rows per group,
    never the group's whole row set.
    """
    from fdf_spark.functions.kernels import arrow_kernel

    key_list = list(keys)

    def prune(batch):
        pdf = batch.select([*key_list, "h", "v"]).to_pandas()
        kept = pdf.sort_values(["h", "v"]).groupby(key_list, sort=False, dropna=False).head(k)
        return {}, kept.index.to_numpy()

    return arrow_kernel(df, prune, ", ".join(df.columns))


def quantile_sketch_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    id_col: str,
    k: int = DEFAULT_QUANTILE_K,
) -> DataFrame:
    """Per-key bottom-k sample: ``(*keys, h, v)`` with ≤ k rows per key.

    Same contracts as :func:`quantile_sketch`, per group: deterministic
    (pure function of each group's row multiset), exactly mergeable
    (:func:`quantile_merge_by`), NULL values/ids excluded. The local
    Arrow prune (:func:`_bottomk_prune_local`) bounds what the one key
    hash-exchange carries to ≤ k rows per (group, batch) — a hot group
    never ships (or sorts) its whole row set, the per-key analog of the
    global sketch's TakeOrderedAndProject map-side cut.
    """
    from pyspark.sql import Window

    h = portable_hash60(F.col(id_col).cast("string"))
    pruned = _bottomk_prune_local(
        df.select(*keys, h.alias("h"), F.col(col).cast("double").alias("v")).where(
            F.col("h").isNotNull() & F.col("v").isNotNull()
        ),
        keys,
        k,
    )
    w = Window.partitionBy(*keys).orderBy("h", "v")
    return (
        pruned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def quantile_merge_by(
    *sketches: DataFrame, keys: Sequence[str], k: int = DEFAULT_QUANTILE_K
) -> DataFrame:
    """Merge per-key sketches: per-key bottom-k of the union — equal,
    per key, to the whole-stream per-key sketch (exactly, as relations)."""
    from pyspark.sql import Window

    if not sketches:
        raise ValueError("quantile_merge_by needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    w = Window.partitionBy(*keys).orderBy("h", "v")
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def quantile_estimate_by(
    sketch: DataFrame, keys: Sequence[str], qs: Sequence[float]
) -> DataFrame:
    """Per-key quantile estimates: ``(*keys, q, est)``.

    Each group's ≤ k-row sample is ranked by value inside the same
    key-partitioned window (no single-partition stage at all — the
    grouped form is *more* scalable than the global one) and the
    ceil(q·n)-th order statistics are picked per key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("v", "h")
    wn = Window.partitionBy(*keys)
    ranked = (
        sketch.withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
    )
    return (
        ranked.withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
        .filter(F.col("__r") == F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("__n"))))
        .select(*keys, "q", F.col("v").alias("est"))
        .orderBy(*keys, "q")
    )


def hll_sketch_by(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Per-key HLL register relation ``(*keys, register, maxrank)`` —
    ≤ 2^p rows per key, same portable-hash determinism as
    :func:`hll_sketch`; one map-side-combining groupBy on
    (keys, register)."""
    m = 1 << DEFAULT_HLL_P
    h = portable_hash60(F.col(col))
    w = F.shiftright(h, DEFAULT_HLL_P)
    width = 60 - DEFAULT_HLL_P
    rank = F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - F.length(F.bin(w)) + 1
    )
    return (
        df.select(*keys, F.pmod(h, F.lit(m)).cast("int").alias("register"), rank.alias("rank"))
        .where(F.col("register").isNotNull())
        .groupBy(*keys, "register")
        .agg(F.max("rank").alias("maxrank"))
    )


def hll_merge_by(*sketches: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge per-key HLL sketches built with the same ``p``: per-key
    register-wise MAX — the union-stream per-key sketch, exactly."""
    if not sketches:
        raise ValueError("hll_merge_by needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys, "register").agg(F.max("maxrank").alias("maxrank"))


def hll_estimate_by(
    sketch: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Per-key estimates ``(*keys, estimate)`` — the :func:`hll_estimate`
    closed form (exact DECIMAL harmonic sum, small-range correction,
    6-dp round) applied per group in one groupBy."""
    m = 1 << DEFAULT_HLL_P
    width = 60 - DEFAULT_HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m)
    scale = float(2 ** (width + 1))
    agg = sketch.groupBy(*keys).agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(width + 1) - F.col("maxrank")).cast("decimal(38,0)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    denom = (
        F.coalesce(F.col("s_present"), F.lit(0).cast("decimal(38,0)")).cast("double")
        + (F.lit(m) - F.col("n_present")).cast("double") * F.lit(scale)
    ) / F.lit(scale)
    raw = F.lit(alpha * m * m) / denom
    return agg.select(
        *keys,
        F.round(
            F.when(
                (raw < F.lit(2.5 * m)) & (F.col("n_present") < m),
                F.lit(float(m))
                * F.log(F.lit(float(m)) / (F.lit(m) - F.col("n_present")).cast("double")),
            ).otherwise(raw),
            6,
        ).alias("estimate"),
    ).orderBy(*keys)
