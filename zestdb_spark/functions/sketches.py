"""Mergeable cardinality sketches: HyperLogLog and KMV (k-minimum
values) distinct-count estimation, built from PORTABLE hashes.

Extension beyond the reference surface (ZestDB has no approximate
aggregates — SURVEY.md §2.4 lists sum/count/min/max/mean/median/sd
only). Spark ships ``approx_count_distinct`` (HLL++), but its binary
sketch is engine-internal — unverifiable and unmergeable outside
Spark. These operators instead materialize the SKETCH ITSELF as a
DataFrame of (register, max_rho) rows derived from the md5-prefix
60-bit hash (the ``dedup._hash60`` construction, replayable in any
engine with md5 — the exact-oracle contract), so:

- the estimate is DETERMINISTIC and oracle-exact (DuckDB reproduces
  every register and the same correction arithmetic, not just a
  tolerance-matched estimate);
- sketches MERGE: register tables union + max per register (HLL), or
  min-k over unions (KMV). That is the 100 TB posture — one tiny
  sketch per shard/day, merged at read time, never a re-scan. A
  p=12 HLL is ≤ 4096 rows of two ints per shard regardless of input
  size; standard error ≈ 1.04/√m ≈ 1.6%.

Plan shape: one scan → hash projections (scan-local, codegen) → one
groupBy on the p-bit register key (map-side combine; at most m groups
reach the shuffle) → a 4096-row final aggregate. KMV is one scan →
distinct → TakeOrderedAndProject(k) → 1-row aggregate.

Streaming: ``hll_registers`` is a groupBy-max, so it runs UNCHANGED
on a streaming DataFrame (update/complete mode) — Spark maintains the
register state incrementally per micro-batch, which is exactly the
sketch-merge law applied by the engine (test_streaming_sketches.py
pins streamed == batch).

Determinism of the float path: Σ 2^−rho is accumulated as the INTEGER
Σ 2^(width+1−rho) (each term ≤ 2^width, m terms — fits int64), so the
harmonic-mean denominator is exact and reduce-order-free; the only
float ops are the final α·m²/S and ln corrections, identical
expression order in the oracle. Estimates are q6-floored.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zestdb_spark.functions.dedup import _hash60, q6

__all__ = ["hll_registers", "hll_merge", "hll_estimate", "hll_distinct",
           "kmv_distinct", "sampled_quantiles", "cm_sketch", "cm_merge",
           "cm_estimate", "bloom_build", "bloom_merge", "bloom_probe",
           "heavy_hitter_candidates", "heavy_hitters_exact"]

#: md5-prefix hash width (15 hex chars → 60 bits, signed-long safe)
_HASH_BITS = 60


def _hash60_fast(col: Column) -> Column:
    """The 100 TB hash: xxhash64 masked to the same 60-bit domain as
    ``_hash60`` (sign bit cleared, uniform over [0, 2^60)). ~10× less
    per-row work than md5-of-string + base-conv, JVM-native — but NOT
    replayable outside Spark, so only the ``portable=False`` sketch
    variants use it; every oracle-graded row stays on md5."""
    return F.xxhash64(col).bitwiseAND(F.lit((1 << _HASH_BITS) - 1))


def _h60(col: Column, portable: bool) -> Column:
    return _hash60(col) if portable else _hash60_fast(col)


def _alpha(m: int) -> float:
    """HLL bias constant α_m (Flajolet et al. 2007): the tabulated
    small-m constants for m = 16/32/64, the asymptotic formula for
    m ≥ 128 — using the formula below 128 silently biases every
    estimate past the linear-counting range."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 12,
    portable: bool = True,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """(*by, register, max_rho): the HLL register table — top-p hash
    bits pick the register, rho = 1 + leading zeros of the remaining
    (60−p)-bit suffix. Only PRESENT registers emit a row (absent ⇒ 0),
    so the table is ≤ min(distinct, 2^p) rows per group; the groupBy is
    map-side combined and the shuffle carries ≤ 2^p rows per group per
    task. ``by`` turns it into the per-group sketch ("distinct users
    per day"): one sketch row-set per key, still mergeable per key."""
    if not 4 <= p <= 18:
        raise ValueError(f"hll_registers: p must be in [4, 18], got {p}")
    width = _HASH_BITS - p
    h = _h60(F.col(col).cast("string"), portable)
    w = h.bitwiseAND(F.lit((1 << width) - 1))
    # bit length via bit-smearing + bit_count: OR w with its own
    # right-shifts (1,2,4,8,16,32) so every bit below the MSB is set,
    # then popcount — exactly bitlen(w), including w = 0 ⇒ 0, in six
    # codegen integer ops. Replaces length(conv(w, 10, 2)), which
    # allocated a ≤48-char base-2 STRING per input row (decimal
    # parse + base conversion + length — measured the hotter half of
    # the register projection). Values bit-identical: pure integer
    # arithmetic, same rho per row, oracle untouched.
    smear = w
    for shift in (1, 2, 4, 8, 16, 32):
        smear = smear.bitwiseOR(F.shiftright(smear, shift))
    bitlen = F.bit_count(smear)
    # NULLs are IGNORED (standard distinct-count semantics — NULL is
    # not a value): unfiltered, md5(NULL) → a NULL register row that
    # hll_estimate would count in n_present while adding nothing to
    # s_present, silently drifting the estimate. Stateless filter —
    # streaming-safe (test_streaming_sketches still pins streamed ==
    # batch).
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            *by,
            F.shiftright(h, width).alias("register"),
            (F.lit(width + 1) - bitlen).alias("rho"),
        )
        .groupBy(*by, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(*register_tables: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Merge HLL register tables (same p, same ``by``): union +
    per-(group, register) max. Lossless — merging shard sketches
    equals sketching the union, the property that makes
    one-sketch-per-shard the 100 TB plan."""
    if not register_tables:
        raise ValueError("hll_merge: need at least one register table")
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionAll(t)
    return out.groupBy(*by, "register").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(
    registers: DataFrame, p: int = 12, by: tuple[str, ...] = ()
) -> DataFrame:
    """(*by, m, v_zero, estimate): the HLL cardinality estimate from a
    register table, with the standard small-range correction
    (E ≤ 2.5m and empty registers present ⇒ linear counting
    m·ln(m/V)). The 60-bit hash space makes the large-range
    correction irrelevant below ~10^17 distinct values — documented
    here rather than implemented. With ``by``, one estimate row per
    group (inputs are ≤ 2^p rows per group, so this aggregate is
    sketch-sized work whatever the corpus was)."""
    m = 1 << p
    width = _HASH_BITS - p
    # Σ 2^(width+1−rho) as exact int64 — divided back by 2^(width+1)
    # at the float step. Absent registers contribute 2^(width+1) each.
    aggs = [
        F.count(F.lit(1)).alias("n_present"),
        # SQL-expr form: the Python shiftleft wrapper only takes a
        # literal int shift, but the underlying expression is general
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {width + 1} - max_rho)"))
        .alias("s_present"),
    ]
    agg = registers.groupBy(*by).agg(*aggs) if by else registers.agg(*aggs)
    scale = float(1 << (width + 1))
    v_zero = F.lit(m) - F.col("n_present")
    s = (
        F.coalesce(F.col("s_present"), F.lit(0)).cast("double")
        + v_zero.cast("double") * F.lit(scale)
    ) / F.lit(scale)
    raw = F.lit(_alpha(m) * m * m) / s
    est = F.when(
        (raw <= 2.5 * m) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *by,
        F.lit(m).alias("m"),
        v_zero.cast("long").alias("v_zero"),
        q6(est).alias("estimate"),
    )


def hll_distinct(
    df: DataFrame,
    col: str,
    p: int = 12,
    portable: bool = True,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """One-shot distinct-count estimate: sketch + estimate; with
    ``by``, one estimate per group — the "distinct users per day"
    query at sketch cost. ``portable=False`` swaps the md5 hash for
    masked xxhash64 — the 100 TB variant (same plan, ~10x cheaper
    rows, not oracle-replayable)."""
    return hll_estimate(hll_registers(df, col, p, portable, by), p, by)


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, portable: bool = True
) -> DataFrame:
    """(k, n_min, estimate): KMV (bottom-k) distinct-count estimate —
    keep the k smallest distinct 60-bit hashes; estimate = (k−1)/u_k
    with u_k the k-th smallest hash normalized to [0,1). Fewer than k
    distinct hashes ⇒ the count is exact (estimate = n_min).

    Plan: scan-local hash → distinct (one shuffle on the 8-byte key)
    → global k smallest via TakeOrderedAndProject (per-partition
    heaps) → 1-row aggregate. Mergeable by construction: min-k of a
    union = min-k of concatenated min-k sets — at scale keep one
    bottom-k per shard and re-rank (same TakeOrdered shape) at read."""
    if k < 2:
        raise ValueError(f"kmv_distinct: k must be ≥ 2, got {k}")
    # NULLs ignored like hll_registers — an unfiltered NULL hashes to
    # a NULL h that sorts FIRST ascending and would occupy a min-k slot
    mins = (
        df.filter(F.col(col).isNotNull())
        .select(_h60(F.col(col).cast("string"), portable).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    agg = mins.agg(F.count(F.lit(1)).alias("n_min"), F.max("h").alias("hk"))
    u_k = F.col("hk").cast("double") / F.lit(float(1 << _HASH_BITS))
    est = F.when(F.col("n_min") < k, F.col("n_min").cast("double")).otherwise(
        F.lit(float(k - 1)) / u_k
    )
    return agg.select(
        F.lit(k).alias("k"), F.col("n_min").cast("long").alias("n_min"),
        q6(est).alias("estimate"),
    )


def sampled_quantiles(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    rate_bits: int = 4,
    portable: bool = True,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """(*by, n_sample, est_total, q_250, q_500, ...): quantile
    estimates
    (per-mille column names — q=0.25 → ``q_250``) from
    a DETERMINISTIC hash sample — keep the rows whose 60-bit md5 hash
    of ``key_cols`` (a row-unique key, e.g. the table's PK) falls below
    2^(60−rate_bits), i.e. a fixed 2^−rate_bits Bernoulli sample that
    every engine, run, and cluster size reproduces bit-identically
    (the package's no-``rand()`` rule), then take EXACT interpolated
    quantiles over the sample.

    Why not ``percentile_approx``: its KLL-ish sketch is
    merge-order-dependent and engine-internal — neither deterministic
    nor oracle-replayable. The hash sample IS the sketch here, and it
    MERGES: the same predicate applied per shard unions into exactly
    the sample of the union (no re-rank step at all — filter-samples
    compose by construction). 100 TB posture: keep each shard's sample
    rows (2^−rate_bits of the shard), merge by union, one exact
    quantile pass over sample-sized data at read. Error: quantile rank
    error is O(1/√(n·2^−rate_bits)) — pick rate_bits so the sample is
    ~10⁶ rows and ranks are exact to ~0.1%.

    Plan: scan-local hash filter (codegen; the value and key columns
    are the only ReadSchema) → single 1-row exact-percentile aggregate
    over sample-sized data. ``est_total`` = n_sample·2^rate_bits, the
    Horvitz–Thompson count estimate from the same sample. Quantiles
    are q6-floored; Spark ``percentile`` and DuckDB ``quantile_cont``
    both linear-interpolate over identical sampled doubles (the
    ``li_range_median`` contract). With ``by``, one row per group —
    per-key quantiles at sample cost (the grouped aggregate replaces
    the global one; the sample predicate is group-agnostic, so the
    merge law holds per key too)."""
    if not key_cols:
        raise ValueError("sampled_quantiles: key_cols must name a row-unique key")
    if not 0 <= rate_bits <= 40:
        raise ValueError(
            f"sampled_quantiles: rate_bits must be in [0, 40], got {rate_bits}"
        )
    if portable:
        key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
        pred = _hash60(key)
    else:
        # Fast path: xxhash64 is variadic — hash the raw key columns
        # directly instead of materializing a per-row separator-joined
        # string (the string build dominated the scan at sf1). Sample
        # membership differs from the portable path (different hash
        # input), which is fine: this path has no oracle replay, and
        # the estimator laws are pinned by
        # test_fast_hash_variants_accurate.
        pred = F.xxhash64(*[F.col(c) for c in key_cols]).bitwiseAND(
            F.lit((1 << _HASH_BITS) - 1)
        )
    sample = df.filter(pred < F.lit(1 << (_HASH_BITS - rate_bits)))
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"sampled_quantiles: quantile {q} outside [0, 1]")
    # ONE percentile aggregate over the array of requested quantiles:
    # each scalar percentile(...) call buffers and sorts the sample
    # independently (~0.7 s per quantile at 750k sampled rows — 3x the
    # whole row's cost for the quartile set); the array form shares one
    # buffer and one sort, with identical interpolated values.
    names = [f"q_{int(round(q * 1000)):03d}" for q in qs]  # 0.25 → q_250
    aggs = [
        F.count(F.lit(1)).alias("n_sample"),
        (F.count(F.lit(1)) * F.lit(1 << rate_bits)).alias("est_total"),
    ]
    if qs:  # degenerate qs=() keeps the count-only shape, as before
        aggs.append(
            F.percentile(
                F.col(value_col).cast("double"),
                F.array(*[F.lit(float(q)) for q in qs]),
            ).alias("__qarr")
        )
    out = sample.groupBy(*by).agg(*aggs) if by else sample.agg(*aggs)
    return out.select(
        *by,
        "n_sample",
        "est_total",
        *[
            q6(F.element_at("__qarr", i + 1)).alias(name)
            for i, name in enumerate(names)
        ],
    )


def _cm_cells(col: Column, depth: int, width: int, portable: bool) -> Column:
    """The d-element (d, cell) struct array for one value — the ONE
    definition of the CM hash family, shared by sketch build and probe
    (a drifted copy would silently desynchronize them)."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(
                    _h60(F.concat(F.lit(f"{d}:"), col.cast("string")), portable),
                    F.lit(width),
                ).alias("cell"),
            )
            for d in range(depth)
        ]
    )


def cm_sketch(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    portable: bool = True,
) -> DataFrame:
    """(d, cell, cnt): a Count-Min sketch (Cormode & Muthukrishnan
    2005) — ``depth`` independent hash rows of ``width`` counting
    cells; a value's frequency estimate is the MIN over its d cells
    (always an overestimate, error ≤ 2N/width with prob 1−2^−depth).
    The d hash functions are the 60-bit md5 hash salted with the
    literal row index ("0:", "1:", … prefixes) — engine constants, so
    DuckDB replays every cell exactly.

    Plan: one scan → a d-element array of (d, cell) structs per row,
    exploded (×depth row amplification, collapsed immediately by the
    map-side combine: at most d·width cells per task reach the
    shuffle) → groupBy(d, cell). The sketch is ≤ d·width rows however
    large the input — and MERGES by cell-wise sum (``cm_merge``), the
    shard-sketch posture shared with ``hll_merge``."""
    if depth < 1 or width < 2:
        raise ValueError(
            f"cm_sketch: need depth ≥ 1 and width ≥ 2, got {depth}×{width}"
        )
    # NULLs ignored (they would hash to NULL cells — not a countable
    # value in any standard CM formulation)
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(_cm_cells(F.col(col), depth, width, portable)).alias("dc"))
        .select("dc.d", "dc.cell")
        .groupBy("d", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CM sketches (same depth/width/hashes): cell-wise sum."""
    if not sketches:
        raise ValueError("cm_merge: need at least one sketch")
    out = sketches[0]
    for t in sketches[1:]:
        out = out.unionAll(t)
    return out.groupBy("d", "cell").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    portable: bool = True,
) -> DataFrame:
    """(*items.columns, estimate): point-frequency estimates for each
    row of ``items`` — min over the d cells the item hashes to. The
    sketch is ≤ d·width rows → broadcast; the probe is therefore one
    map-side join per depth row, no shuffle on the (possibly large)
    items side beyond its own rollup. Absent cells count 0 (the item
    was never seen, or its cells were — min handles both).

    ``items`` must be ROW-DISTINCT: the final rollup groups by every
    items column, so duplicate probe rows collapse to one output row —
    a caller joining estimates back by position would misalign. Probe a
    multiset by attaching a row key first (monotonically_increasing_id)
    and dropping it after."""
    probes = items.select(
        *items.columns,
        F.explode(_cm_cells(F.col(col), depth, width, portable)).alias("dc"),
    ).select(*items.columns, "dc.d", "dc.cell")
    return (
        probes.join(F.broadcast(sketch), ["d", "cell"], "left")
        .groupBy(*items.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("estimate"))
    )


#: Bloom word width: 60 bits per word keeps every mask positive in a
#: signed int64 in BOTH engines (bit 63 would go negative and DuckDB's
#: checked shift differs) — the same signed-long-safety rule as _HASH_BITS.
_BLOOM_WORD = 60


def _bloom_positions(col: Column, m_bits: int, k: int, portable: bool) -> Column:
    """The k bit positions for one value — salted like _cm_cells, ONE
    definition shared by build and probe."""
    return F.array(
        *[
            F.pmod(
                _h60(F.concat(F.lit(f"b{i}:"), col.cast("string")), portable),
                F.lit(m_bits),
            )
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 16, k: int = 5,
    portable: bool = True,
) -> DataFrame:
    """(word_idx, bits): a Bloom filter over ``col`` as DATA — ≤
    ceil(m_bits/60) rows of two ints whatever the input size. k salted
    portable hashes set k bits per value; the word table groupBy is
    map-side combined (bit_or partials), so at most m_bits/60 rows per
    task reach the shuffle — the HLL register movement for membership.

    MERGES by per-word bit_or (``bloom_merge``) — one filter per
    shard/day, OR them at read. No false negatives ever; false-positive
    rate ≈ (1 − e^(−k·n/m))^k — size m_bits ≈ 10·n for ~1% at k=5.
    At 100 TB the built table is broadcast back to pre-filter a fact
    scan (``bloom_probe``) — membership pruning without shuffling the
    fact side."""
    if m_bits < _BLOOM_WORD or k < 1:
        raise ValueError(
            f"bloom_build: need m_bits ≥ {_BLOOM_WORD} and k ≥ 1, got {m_bits}, {k}"
        )
    pos = F.explode(_bloom_positions(F.col(col), m_bits, k, portable)).alias("bit")
    # NULLs ignored — a NULL sets no bits (it is not a member; probing
    # NULL returns maybe_contains from k NULL positions, see
    # bloom_probe)
    return (
        df.filter(F.col(col).isNotNull())
        .select(pos)
        .select(*_bloom_word_mask())
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _bloom_word_mask() -> tuple:
    """bit → (word_idx, mask): the filter's wire format — the SAME
    derivation must be used by build and probe or false negatives
    appear, so it lives in exactly one place."""
    return (
        (F.col("bit") / F.lit(_BLOOM_WORD)).cast("long").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {_BLOOM_WORD} AS INT))")
        .alias("mask"),
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Merge Bloom filters (same m_bits/k/hashes): per-word bit_or."""
    if not filters:
        raise ValueError("bloom_merge: need at least one filter")
    out = filters[0]
    for t in filters[1:]:
        out = out.unionAll(t)
    return out.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(
    bloom: DataFrame, items: DataFrame, col: str, m_bits: int = 1 << 16,
    k: int = 5, portable: bool = True,
) -> DataFrame:
    """(*items.columns, maybe_contains): membership test — false means
    DEFINITELY absent (the pruning guarantee), true means present up
    to the false-positive rate. The word table is ≤ m_bits/60 rows →
    broadcast; the probe is a map-side join + per-item bool_and, so
    the (possibly huge) items side never shuffles its payload.

    ``items`` must be ROW-DISTINCT (same contract as ``cm_estimate``:
    the per-item rollup groups by every items column, collapsing
    duplicate probe rows); attach a row key to probe a multiset."""
    probes = items.select(
        *items.columns,
        F.explode(_bloom_positions(F.col(col), m_bits, k, portable)).alias("bit"),
    ).select(*items.columns, *_bloom_word_mask())
    return (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .groupBy(*items.columns)
        .agg(
            F.every(
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                == F.col("mask")
            ).alias("maybe_contains")
        )
    )


# -------------------------------------------------- heavy hitters (MG)

def heavy_hitter_candidates(
    df: DataFrame, col: str, capacity: int = 1024, with_total: bool = False
) -> DataFrame:
    """(item, weight): per-partition Misra-Gries summaries (Misra &
    Gries 1982; the batched compression step is SpaceSaving-equivalent,
    Metwally et al. 2005) — the bounded-memory candidate pass of the
    two-pass exact heavy-hitters recipe.

    Scale shape: this is the legitimate Python tier — ONE Arrow-batched
    ``mapInPandas`` scan holding at most ``capacity`` counters per
    task (state is O(capacity) whatever the column's cardinality — the
    whole point: a groupBy over a trillion-key URL/token domain
    shuffles the domain, MG never does), emitting ≤ capacity rows per
    partition and NO shuffle at all. Each Arrow batch is folded
    vectorized (value_counts, then one decrement-by-quantile
    compression), not row-at-a-time.

    Guarantee (pigeonhole over partitions): every item with GLOBAL
    frequency > n/(capacity+1) appears in the output; ``weight`` is a
    lower bound on the item's true count. NULLs are ignored (standard
    frequent-items semantics, same as the other sketches). Items are
    compared as strings (cast once, scan-local).

    ``with_total=True`` additionally emits ONE sentinel row per
    partition — item NULL, weight = that partition's (non-null) row
    count — so the certified-prefix bound in ``heavy_hitters_exact``
    can read n from this same pass instead of paying a THIRD full
    scan of the input (r13; the MG fold already touches every row)."""
    if capacity < 1:
        raise ValueError(f"heavy_hitter_candidates: capacity must be >= 1, got {capacity}")
    src = df.select(F.col(col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )

    def mg(batches):
        import pyarrow as pa

        items, weights, n_rows = _mg_fold(batches, capacity)
        if with_total:
            items = [*items, None]
            weights = [*weights, n_rows]
        yield pa.RecordBatch.from_arrays(
            [pa.array(items, type=pa.string()), pa.array(weights, type=pa.int64())],
            names=["item", "weight"],
        )

    return src.mapInArrow(mg, "item string, weight bigint")


def _mg_fold(batches, capacity: int) -> tuple[list, list, int]:
    """One partition's Misra-Gries fold over Arrow record batches of
    one non-null string column → (surviving items, weights, row count).

    Vectorized END TO END (r14, guide §4.2): the strings never leave
    Arrow (mapInArrow, not mapInPandas — the Arrow→pandas object
    conversion alone measured 0.35 s over sf1's 6M rows, twice the
    fold itself); per batch the counting is ONE native
    ``pc.value_counts``, the merge ONE concat + Arrow hash group-by
    over ≤ capacity + batch-distinct rows, and the MG compression one
    ``np.partition`` + vectorized subtract/filter — no per-item Python
    loop anywhere. Same arithmetic as the r13 dict fold (exact integer
    adds, same (capacity+1)-th-largest decrement, same survivor
    predicate), so the survivor set and weights are IDENTICAL (pinned
    by tests/test_sketches.py::test_mg_fold_matches_dict_reference)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    acc = None  # pa.Table(item string, w int64): running MG summary
    n_rows = 0
    for batch in batches:
        n_rows += batch.num_rows
        if batch.num_rows == 0:
            continue
        vc = pc.value_counts(batch.column(0))
        t = pa.table({"item": vc.field("values"), "w": vc.field("counts")})
        if acc is None:
            acc = t
        else:
            g = pa.concat_tables([acc, t]).group_by("item").aggregate([("w", "sum")])
            # by name: group_by's output column order varies by pyarrow version
            acc = pa.table({"item": g.column("item"), "w": g.column("w_sum")})
        if acc.num_rows > capacity:
            # batched MG compression: decrement everything by the
            # (capacity+1)-th largest count and drop the <= 0 —
            # one step of the classic repeated-decrement, same
            # survivor set and error bound, O(u) selection not O(u·d)
            w = acc.column("w").to_numpy(zero_copy_only=False).astype(np.int64)
            d = int(np.partition(w, -(capacity + 1))[-(capacity + 1)])
            keep = w > d
            acc = pa.table(
                {
                    "item": acc.column("item").combine_chunks().filter(
                        pa.array(keep)
                    ),
                    "w": pa.array(w[keep] - d, type=pa.int64()),
                }
            )
    if acc is None:
        return [], [], n_rows
    return (
        acc.column("item").to_pylist(),
        acc.column("w").to_pylist(),
        n_rows,
    )


def heavy_hitters_exact(
    df: DataFrame, col: str, k: int = 10, capacity: int = 1024,
    verify: bool = True,
) -> DataFrame:
    """(item, freq): the EXACT top-``k`` most frequent values of
    ``col`` by the two-pass heavy-hitters recipe — MG candidates
    (bounded state, no shuffle), then an exact recount of the
    candidate set only (equi-join + groupBy over ≤ capacity ×
    partitions distinct keys, never the full domain).
    Deterministic ties: frequency desc, then item asc.

    Exactness condition: an item is CERTIFIED when its exact recount
    exceeds n/(capacity+1) — the MG floor above which the candidate
    pass provably kept it. With ``verify=True`` (default) the result
    is the certified prefix of the top-k: rows at-or-below the floor
    are dropped rather than returned unproven (a sparse tail — fewer
    than k values clearing the floor — returns fewer than k rows, all
    exact; anything omitted has frequency ≤ n/(capacity+1)), and if
    NOTHING certifies on a non-empty stream the plan fails LOUDLY at
    runtime (``F.assert_true`` in the same job) — that is the
    under-sized-capacity pathology, not a usable answer. A caller who
    KNOWS the column's domain ≤ capacity (per-partition MG never
    evicts, so the recount is exact regardless of skew) may pass
    ``verify=False`` and keep all k rows.
    At 100 TB: capacity 2^16 finds everything above ~0.0015% of the
    corpus with two scans and a kilobyte-scale shuffle.

    The recount join carries NO broadcast hint: the candidate set is
    bounded by capacity × tasks, which at cluster scale (2^16 ×
    thousands of tasks) can exceed any broadcast budget. AQE broadcasts
    it when its runtime size fits and degrades to a shuffled equi-join
    (1 string key, no payload) when it doesn't — pinned by
    tests/test_plan_contracts.py."""
    from zestdb_spark.functions.dedup import _persist_bounded

    # ONE MG pass yields both the candidate set and (as per-partition
    # NULL-item sentinel rows) the total non-null count — the old
    # shape paid a SEPARATE full scan for n, and the certified/guard
    # union below consumes its subtrees twice, so the scan count per
    # call was 5; persisting the (≤ capacity × partitions + sentinel)
    # MG output makes it exactly 2: MG fold + recount (r13).
    mg_out = _persist_bounded(
        heavy_hitter_candidates(df, col, capacity, with_total=verify)
    )
    cand = (
        mg_out.filter(F.col("item").isNotNull()).select("item").distinct()
    )
    src = df.select(F.col(col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    counted = (
        src.join(cand, "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    topk = counted.orderBy(F.col("freq").desc(), F.col("item").asc()).limit(int(k))
    if not verify:
        return topk
    topk = _persist_bounded(topk)
    # certified prefix: keep only rows the MG floor proves complete —
    # freq · (capacity+1) > n (a sparse tail returns < k rows, all
    # exact, rather than unproven ones or a spurious failure). n comes
    # from the MG pass's sentinel rows — no extra scan; coalesce
    # covers the all-NULL-input edge (no sentinels ⇒ n = 0 is wrong —
    # sentinels are emitted per partition regardless, weight 0).
    n_total = mg_out.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("weight"), F.lit(0)).alias("_n")
    )
    certified = (
        topk.crossJoin(n_total)
        .filter(F.col("freq") * F.lit(int(capacity) + 1) > F.col("_n"))
        .select("item", "freq")
    )
    # The guard rides in as a UNION branch (not a join): a union always
    # evaluates both children, whereas an inner join with an empty
    # certified set — precisely the under-capacity failure mode — would
    # let AQE's empty-side propagation skip the assert entirely. On
    # success the assert yields NULL, the isNotNull filter drops the
    # row, and the branch contributes nothing; on failure (non-empty
    # stream, ZERO certified rows) the job dies loudly.
    guard_rows = (
        certified.agg(F.count(F.lit(1)).alias("_nc"))
        .crossJoin(n_total)
        .select(
            F.assert_true(
                (F.col("_n") == 0) | (F.col("_nc") > 0),
                F.concat(
                    F.lit(
                        "heavy_hitters_exact: nothing certifies under the "
                        f"MG floor (capacity={capacity}): every top-k freq "
                        "<= n/(capacity+1) with n="
                    ),
                    F.col("_n").cast("string"),
                    F.lit(" — raise capacity or pass verify=False if the "
                          "domain is known to fit"),
                ),
            ).cast("string").alias("item"),
            F.lit(None).cast("long").alias("freq"),
        )
        .where(F.col("item").isNotNull())
    )
    return certified.unionByName(guard_rows).orderBy(
        F.col("freq").desc(), F.col("item").asc()
    )
