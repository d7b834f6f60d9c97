"""Distributed sketch operators: cardinality and frequency estimation
whose cost at 100 TB is a map-side-combinable aggregation to a few KB
of state, never a corpus-cardinality shuffle.

Both sketches are built from DETERMINISTIC arithmetic (md5-derived
60-bit hashes, integer register math, one final double division), so a
DuckDB oracle replays them value-exactly — same discipline as the rest
of the approximate-operator suite (MinHash, SimHash, PQ): the
approximation is in the ALGORITHM, never in run-to-run nondeterminism.

Why not Spark's built-in approx_count_distinct / CountMinSketch? Their
estimates depend on internal hash seeds and merge order, so no
cross-engine oracle can check them; these operators trade a little
per-row hash cost for a value-exact correctness gate while keeping the
identical scale shape (registers/cells are the only reduced state).

Scale notes
-----------
- `hll_distinct`: one groupBy (group_keys, bucket) max-aggregation —
  partial aggregation reduces every partition to <= m rows per group
  before the exchange, so shuffle volume is O(groups * m), independent
  of row count. The estimate itself is computed from an EXACT integer
  register sum (sum of 2^(51-M_j) — fits int64 for p >= 8), so
  floating-point addition order cannot perturb results across engines.
- `countmin_counts`: corpus tokens aggregate straight into d*w cells
  (explode by d rows, then one partial-aggregated count to d*w cells —
  never a per-term shuffle), probes join the tiny cell relation.
  Estimates are exact integers (min over d cell sums).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit hash: 15 md5 hex chars — the widest prefix that can never
# overflow a signed int64 (16 chars could). Same device DuckDB
# replays as CAST('0x' || substr(md5(x), 1, 15) AS BIGINT).
_HASH_BITS = 60


def _h60(col: Column, salt: str = "") -> Column:
    base = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(base), 1, 15), 16, 10).cast("long")


def hll_alpha(m: int) -> float:
    """Bias-correction constant of the HyperLogLog estimator
    (Flajolet et al. 2007) for m >= 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """Estimate COUNT(DISTINCT col) per group with a deterministic
    HyperLogLog (p-bit bucket index, 2^p registers).

    Register update is the classic max-of-rho aggregation; the final
    harmonic sum is computed EXACTLY as sum(2^(51 - M_j)) in int64
    (p=10 -> max rho 51, register term <= 2^50, sum over 1024
    registers < 2^60), so the only floating-point steps are one
    division and (in the small-range branch) one ln — both
    bit-stable across engines. Small-range correction (linear
    counting) applies when E <= 2.5m and empty registers exist.

    Returns one row per group: (*group_cols, est_distinct double).
    """
    return hll_estimate_from_registers(
        hll_registers(df, col, group_cols, p), group_cols, p
    )


def hll_registers(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """The sketch STATE: one (bucket, M) register row per group,
    M = max rho over the group's hashed values. Registers from
    disjoint corpus slices merge by max — the property the persistent
    state functions below build on. Returns
    (*group_cols, bucket int, M int), <= 2^p rows per group."""
    if not 8 <= p <= 16:
        raise ValueError(f"p must be in [8, 16], got {p}")
    group_cols = list(group_cols or [])
    m = 1 << p
    max_rho = _HASH_BITS - p + 1  # 51 for p=10

    h = _h60(F.col(col))
    bucket = F.pmod(h, F.lit(m))
    # upper 60-p bits via an integer shift (h is positive; a double
    # division here would round — ulp at 2^60 is 128)
    w = F.shiftright(h, p)
    # rho = leading-zero count of the (60-p)-bit remainder + 1,
    # computed exactly from the binary-string length (no log2 floats)
    rho = F.when(w == 0, F.lit(max_rho)).otherwise(
        F.lit(max_rho) - F.length(F.bin(w))
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(*group_cols, bucket.cast("int").alias("bucket"), rho.alias("__rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("__rho").cast("int").alias("M"))
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """Estimator half of :func:`hll_distinct`: registers in, one
    (group, est_distinct) row out. Works on freshly-computed or
    stored/merged registers alike."""
    group_cols = list(group_cols or [])
    m = 1 << p
    max_rho = _HASH_BITS - p + 1
    # exact integer register sum: present registers contribute
    # 2^(max_rho - M_j), the (m - n_present) empty ones contribute
    # 2^max_rho each (i.e. 2^-0 scaled by 2^max_rho)
    scale = 1 << max_rho
    per_group = regs.groupBy(*group_cols).agg(
        # F.shiftleft only takes a literal shift amount — SQL form
        # accepts an expression
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {max_rho} - M)"))
        .alias("__s_present"),
        F.count("*").alias("__n_present"),
    )
    s_total = F.col("__s_present") + (F.lit(m) - F.col("__n_present")) * F.lit(
        scale
    )
    v_empty = F.lit(m) - F.col("__n_present")
    # alpha * m^2 * 2^max_rho folded into ONE double literal so both
    # engines perform the identical single division
    numer = float(hll_alpha(m)) * float(m) * float(m) * float(scale)
    e_raw = F.lit(numer) / s_total.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double")),
    ).otherwise(e_raw)
    return per_group.select(
        *group_cols, F.round(est, 6).alias("est_distinct")
    )


def hll_distinct_sql(
    table_expr: str,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> str:
    """DuckDB replica of :func:`hll_distinct` over ``table_expr``
    (a table name or parenthesized subquery with columns ``col`` and
    ``group_cols``). Kept beside the operator so the two formulas can
    never drift."""
    group_cols = list(group_cols or [])
    m = 1 << p
    max_rho = _HASH_BITS - p + 1
    scale = 1 << max_rho
    numer = repr(float(hll_alpha(m)) * float(m) * float(m) * float(scale))
    gsel = "".join(f"{g}, " for g in group_cols)
    gby = ("GROUP BY " + ", ".join(group_cols)) if group_cols else ""
    gby_bucket = "GROUP BY " + "".join(f"{g}, " for g in group_cols) + "b"
    return f"""
WITH hashed AS (
  SELECT {gsel}
    CAST('0x' || substr(md5({col}), 1, 15) AS BIGINT) AS h
  FROM {table_expr} WHERE {col} IS NOT NULL
),
rho AS (
  SELECT {gsel} h % {m} AS b,
    CASE WHEN h // {m} = 0 THEN {max_rho}
         ELSE {max_rho} - length(bin(h // {m})) END AS r
  FROM hashed
),
regs AS (
  SELECT {gsel} b, MAX(r) AS mr FROM rho {gby_bucket}
),
agg AS (
  SELECT {gsel}
    CAST(SUM(CAST(1 AS BIGINT) << ({max_rho} - mr)) AS BIGINT) AS s_present,
    COUNT(*) AS n_present
  FROM regs {gby}
)
SELECT {gsel}
  ROUND(
    CASE WHEN {numer} / CAST(s_present + ({m} - n_present) * CAST({scale} AS BIGINT) AS DOUBLE)
              <= {2.5 * m}
          AND ({m} - n_present) > 0
         THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_present AS DOUBLE))
         ELSE {numer} / CAST(s_present + ({m} - n_present) * CAST({scale} AS BIGINT) AS DOUBLE)
    END, 6) AS est_distinct
FROM agg
"""


def countmin_counts(
    tokens: DataFrame,
    col: str,
    probes: DataFrame,
    d: int = 4,
    w: int = 2048,
) -> DataFrame:
    """Count-min frequency estimates for a probe set of values.

    Builds the d x w sketch in one aggregation (each token row explodes
    to its d (row, cell) coordinates; partial aggregation collapses
    every partition to <= d*w cells before the exchange), then serves
    each probe value min-over-d of its cells. The sketch is MERGEABLE
    state: cells from disjoint corpus shards add, which is what makes
    it maintainable incrementally at 100 TB.

    ``probes`` must be a SMALL relation (query-batch-sized) with column
    ``col``; estimates are exact integers (overestimates only, the CM
    guarantee). Returns (col, est_count long).
    """
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 and w >= 2, got d={d}, w={w}")

    def cells(c: Column) -> Column:
        return F.array(
            *[F.pmod(_h60(c, salt=f"cm{i}|"), F.lit(w)) for i in range(d)]
        )

    sketch = (
        tokens.filter(F.col(col).isNotNull())
        .select(F.posexplode(cells(F.col(col))).alias("__row", "__cell"))
        .groupBy("__row", "__cell")
        .agg(F.count("*").alias("__n"))
    )
    # NULL probes are dropped (not answered with 0) — mirrors the SQL
    # replica, which filters them; without this a NULL probe would
    # survive the left join as an est_count=0 row on the Spark side only
    probe_cells = probes.filter(F.col(col).isNotNull()).select(
        col, F.posexplode(cells(F.col(col))).alias("__row", "__cell")
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["__row", "__cell"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("__n"), F.lit(0))).alias("est_count"))
    )


def countmin_counts_sql(
    tokens_expr: str, col: str, probes_expr: str, d: int = 4, w: int = 2048
) -> str:
    """DuckDB replica of :func:`countmin_counts`."""
    cell_rows = " UNION ALL ".join(
        f"SELECT {i} AS r, CAST('0x' || substr(md5('cm{i}|' || {col}), 1, 15) AS BIGINT) % {w} AS cell, {col} AS v"
        f" FROM {tokens_expr} WHERE {col} IS NOT NULL"
        for i in range(d)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT {i} AS r, CAST('0x' || substr(md5('cm{i}|' || {col}), 1, 15) AS BIGINT) % {w} AS cell, {col} AS v"
        f" FROM {probes_expr} WHERE {col} IS NOT NULL"
        for i in range(d)
    )
    return f"""
WITH coords AS ({cell_rows}),
sketch AS (
  SELECT r, cell, COUNT(*) AS n FROM coords GROUP BY r, cell
),
pcoords AS ({probe_rows})
SELECT p.v AS {col}, CAST(MIN(COALESCE(s.n, 0)) AS BIGINT) AS est_count
FROM pcoords p LEFT JOIN sketch s ON s.r = p.r AND s.cell = p.cell
GROUP BY p.v
"""


# ---------------------------------------------------------------------------
# Persistent HLL state: the sketch as maintainable corpus state, the
# cardinality sibling of the persistent LSH/PQ/BM25 indexes. The state
# is ONE Delta register table (<= n_groups * 2^p rows — KBs per group
# at p=10, whatever the corpus size); each ingested slice folds in by
# max-merge, which is associative, commutative and IDEMPOTENT, so
# replaying a slice after a crash is a no-op and shard-parallel
# builders can merge in any order. Atomicity comes from the Delta
# overwrite commit (log entry last): a crash mid-update leaves the
# previous state version intact.
# ---------------------------------------------------------------------------

_HLL_PROP = "sketch.hll."


def _safe_state_overwrite(merged: DataFrame, state_path: str) -> None:
    """Overwrite a state table with a plan that READS that same table.

    persist()+count() only guards the read-then-overwrite while the
    cached blocks survive; in cluster mode an executor loss after the
    count would recompute the plan MID-overwrite from the
    half-replaced table, corrupting the merged registers/cells. Stage
    the merged relation to a sibling parquet dir first (same
    filesystem as the table), commit the overwrite from the staged
    copy, then clean the stage up. A leftover stage dir after a crash
    is inert — the next update overwrites it."""
    import shutil
    from urllib.parse import urlparse

    from ..writer import write_delta

    spark = merged.sparkSession
    stage = state_path.rstrip("/") + ".__stage__"
    merged.write.mode("overwrite").parquet(stage)
    try:
        write_delta(
            spark.read.schema(merged.schema).parquet(stage),
            state_path,
            mode="overwrite",
        )
    finally:
        parsed = urlparse(stage)
        if parsed.scheme in ("", "file"):
            shutil.rmtree(parsed.path or stage, ignore_errors=True)


def build_hll_state(
    df: DataFrame,
    state_path: str,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> None:
    """Create the persistent register table from an initial corpus
    slice. ``p`` and the grouping are pinned as table properties so a
    mismatched update fails loudly instead of merging apples into
    orange registers."""
    from ..writer import write_delta

    group_cols = list(group_cols or [])
    regs = hll_registers(df, col, group_cols, p)
    write_delta(
        regs,
        state_path,
        mode="overwrite",
        properties={
            _HLL_PROP + "p": str(p),
            _HLL_PROP + "groupCols": ",".join(group_cols),
            _HLL_PROP + "valueCol": col,
        },
    )


def _check_hll_props(spark, state_path: str, group_cols, p: int):
    from ..log import DeltaLog

    props = DeltaLog(state_path).snapshot().metadata.configuration
    want_p = props.get(_HLL_PROP + "p")
    want_g = props.get(_HLL_PROP + "groupCols")
    if want_p is not None and int(want_p) != p:
        raise ValueError(
            f"HLL state at {state_path} was built with p={want_p}, "
            f"got p={p}"
        )
    if want_g is not None and want_g != ",".join(group_cols):
        raise ValueError(
            f"HLL state at {state_path} groups by [{want_g}], "
            f"got {group_cols}"
        )


def update_hll_state(
    df_new: DataFrame,
    state_path: str,
    col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> None:
    """Fold a new corpus slice into the stored registers (max-merge).
    Cost: the slice's own aggregation + a rewrite of the tiny register
    table; never touches the corpus."""
    from ..reader import read_delta

    group_cols = list(group_cols or [])
    spark = df_new.sparkSession
    _check_hll_props(spark, state_path, group_cols, p)
    stored = read_delta(spark, state_path).select(*group_cols, "bucket", "M")
    merged = (
        stored.unionByName(hll_registers(df_new, col, group_cols, p))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("M").alias("M"))
    )
    _safe_state_overwrite(merged, state_path)


def estimate_hll_state(
    spark,
    state_path: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """Serve distinct-count estimates straight from the stored
    registers — no corpus access."""
    from ..reader import read_delta

    group_cols = list(group_cols or [])
    _check_hll_props(spark, state_path, group_cols, p)
    return hll_estimate_from_registers(
        read_delta(spark, state_path), group_cols, p
    )


# ---------------------------------------------------------------------------
# Persistent count-min state. Cells are LINEAR (sums), so unlike the
# HLL registers the state supports exact REMOVAL: deleting a corpus
# slice subtracts its cell contributions, leaving precisely the sketch
# of the surviving corpus — the sketch-world analogue of the LSH/PQ/
# BM25 indexes' GDPR delete. The flip side of linearity: add/delete
# are NOT idempotent (replaying a slice double-counts), so maintenance
# must be driven exactly-once — e.g. from the corpus table's change
# feed between pinned versions, the same discipline the index sync
# loops use. The state is one Delta table of <= d*w cells.
# ---------------------------------------------------------------------------

_CM_PROP = "sketch.cm."


def _cm_cells(col_expr: Column, d: int, w: int) -> Column:
    return F.array(
        *[F.pmod(_h60(col_expr, salt=f"cm{i}|"), F.lit(w)) for i in range(d)]
    )


def _cm_slice_cells(df: DataFrame, col: str, d: int, w: int) -> DataFrame:
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.posexplode(_cm_cells(F.col(col), d, w)).alias("r", "cell"))
        .groupBy("r", "cell")
        .agg(F.count("*").alias("n"))
    )


def build_cm_state(
    df: DataFrame, state_path: str, col: str, d: int = 4, w: int = 2048
) -> None:
    """Create the persistent cell table from an initial corpus slice;
    d/w pinned as table properties."""
    from ..writer import write_delta

    write_delta(
        _cm_slice_cells(df, col, d, w),
        state_path,
        mode="overwrite",
        properties={
            _CM_PROP + "d": str(d),
            _CM_PROP + "w": str(w),
            _CM_PROP + "valueCol": col,
        },
    )


def _cm_params(spark, state_path: str) -> tuple[int, int]:
    from ..log import DeltaLog

    conf = DeltaLog(state_path).snapshot().metadata.configuration
    return int(conf[_CM_PROP + "d"]), int(conf[_CM_PROP + "w"])


def _cm_apply(
    df: DataFrame, state_path: str, col: str, sign: int
) -> None:
    from ..reader import read_delta

    spark = df.sparkSession
    d, w = _cm_params(spark, state_path)
    delta = _cm_slice_cells(df, col, d, w).select(
        "r", "cell", (F.col("n") * F.lit(sign)).alias("n")
    )
    merged = (
        read_delta(spark, state_path)
        .select("r", "cell", "n")
        .unionByName(delta)
        .groupBy("r", "cell")
        .agg(F.sum("n").cast("long").alias("n"))
        .filter(F.col("n") != 0)
    )
    _safe_state_overwrite(merged, state_path)


def update_cm_state(df_new: DataFrame, state_path: str, col: str) -> None:
    """Fold a new corpus slice's counts into the stored cells. NOT
    idempotent — drive exactly-once (see module note)."""
    _cm_apply(df_new, state_path, col, 1)


def delete_cm_state(df_gone: DataFrame, state_path: str, col: str) -> None:
    """Subtract a removed corpus slice's counts — exact removal, the
    surviving state equals the sketch of the surviving corpus cell for
    cell. NOT idempotent — drive exactly-once."""
    _cm_apply(df_gone, state_path, col, -1)


def estimate_cm_state(
    spark, state_path: str, probes: DataFrame, col: str
) -> DataFrame:
    """Serve frequency estimates for a probe set straight from the
    stored cells — no corpus access. Returns (col, est_count long)."""
    from ..reader import read_delta

    d, w = _cm_params(spark, state_path)
    # NULL probes dropped, matching countmin_counts and its oracle
    probe_cells = probes.filter(F.col(col).isNotNull()).select(
        col, F.posexplode(_cm_cells(F.col(col), d, w)).alias("r", "cell")
    )
    sketch = read_delta(spark, state_path).select("r", "cell", "n")
    return (
        probe_cells.join(F.broadcast(sketch), ["r", "cell"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_count"))
    )


def hll_set_estimates(
    df_a: DataFrame, df_b: DataFrame, col: str, p: int = 10
) -> DataFrame:
    """Set-operation cardinality estimates between two corpora WITHOUT
    any join: |A|, |B|, |A u B| from HLL registers (union = register
    max-merge — exact at the sketch level), |A n B| by
    inclusion-exclusion (clamped at 0), and the Jaccard estimate. At
    100 TB the entire comparison ships 2 x 2^p registers; the exact
    form is a distinct-union shuffle of both vocabularies.
    Inclusion-exclusion compounds the two sketches' errors (the
    standard HLL-intersection caveat), so the Jaccard column is a
    screening signal, not a precision measurement — the MinHash
    operators are the precise path when the sets are document sets.

    Returns ONE row: (est_a, est_b, est_union, est_intersect,
    jaccard), all 6dp doubles from deterministic register math."""
    ra = hll_registers(df_a, col, [], p).select(
        "bucket", F.col("M").alias("M")
    )
    rb = hll_registers(df_b, col, [], p)
    ru = (
        ra.unionByName(rb)
        .groupBy("bucket")
        .agg(F.max("M").alias("M"))
    )

    def est(regs: DataFrame, name: str) -> DataFrame:
        return hll_estimate_from_registers(regs, [], p).select(
            F.col("est_distinct").alias(name)
        )

    out = (
        est(ra, "est_a")
        .crossJoin(est(rb, "est_b"))
        .crossJoin(est(ru, "est_union"))
    )
    inter = F.round(
        F.greatest(
            F.lit(0.0),
            F.col("est_a") + F.col("est_b") - F.col("est_union"),
        ),
        6,
    )
    return out.select(
        "est_a",
        "est_b",
        "est_union",
        inter.alias("est_intersect"),
        F.round(inter / F.col("est_union"), 6).alias("jaccard"),
    )


def hll_set_estimates_sql(
    a_expr: str, b_expr: str, col: str, p: int = 10
) -> str:
    """DuckDB replica of :func:`hll_set_estimates` (``a_expr`` /
    ``b_expr`` are parenthesized subqueries with column ``col``)."""
    # a_expr/b_expr arrive already aliased ("( ... ) a"), so the union
    # branches must not re-alias them
    union_expr = (
        f"(SELECT {col} FROM {a_expr} UNION ALL "
        f"SELECT {col} FROM {b_expr}) uu"
    )

    def scalar(expr: str) -> str:
        return (
            "(SELECT est_distinct FROM ("
            + hll_distinct_sql(expr, col, [], p)
            + ") s)"
        )

    return f"""
WITH ests AS (
  SELECT {scalar(a_expr)} AS est_a,
         {scalar(b_expr)} AS est_b,
         {scalar(union_expr)} AS est_union
)
SELECT est_a, est_b, est_union,
  ROUND(greatest(0.0, est_a + est_b - est_union), 6) AS est_intersect,
  ROUND(ROUND(greatest(0.0, est_a + est_b - est_union), 6) / est_union, 6)
    AS jaccard
FROM ests
"""


# ---------------------------------------------------------------------------
# Deterministic Bloom filter: the MEMBERSHIP sketch, completing the
# family (HLL = cardinality, CM = frequency). Bits pack 32 per int64
# word (a 32-bit payload can never touch the sign bit, so the shift
# arithmetic is portable), the bitmap builds in one bit_or aggregation
# to <= m_bits/32 rows, and probes broadcast-join the words. "Absent"
# answers are certain; "maybe" answers carry the classic
# (1 - e^(-kn/m))^k false-positive rate. Same md5-derived hashes as
# the other sketches, so the DuckDB oracle replays bit for bit.
# ---------------------------------------------------------------------------

_BLOOM_WORD_BITS = 32
_BLOOM_META_M = "bloom.m_bits"
_BLOOM_META_K = "bloom.k"


def build_bloom(
    df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Build the bitmap: (word int, bits long), <= m_bits/32 rows.
    One explode-by-k + one map-side-combinable bit_or aggregation —
    shuffle volume is bitmap words, never values. ``m_bits``/``k`` are
    pinned as column METADATA on ``bits`` (survives a parquet
    round-trip) so :func:`bloom_probe` can validate — a probe hashed
    with mismatched params silently yields false negatives, breaking
    the "'false' answers are certain" contract."""
    if m_bits < _BLOOM_WORD_BITS or k < 1:
        raise ValueError(f"need m_bits >= 32 and k >= 1, got {m_bits}, {k}")
    pos = F.explode(
        F.array(
            *[
                F.pmod(_h60(F.col(col), salt=f"bf{i}|"), F.lit(m_bits))
                for i in range(k)
            ]
        )
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(pos.alias("__pos"))
        .select(
            (F.col("__pos") / F.lit(_BLOOM_WORD_BITS))
            .cast("int")
            .alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(__pos % {_BLOOM_WORD_BITS} AS INT))"
            ).alias("__mask"),
        )
        .groupBy("word")
        .agg(
            F.bit_or("__mask").alias(
                "bits",
                metadata={_BLOOM_META_M: m_bits, _BLOOM_META_K: k},
            )
        )
    )


def _bloom_params(
    bloom: DataFrame, m_bits: int | None, k: int | None
) -> tuple[int, int]:
    """Resolve (m_bits, k) for a probe: prefer the params pinned on the
    bitmap's ``bits`` column metadata; validate any explicitly-passed
    values against them (mismatch = certain false negatives). Schema
    metadata only — no job is triggered."""
    meta = {}
    try:
        meta = bloom.schema["bits"].metadata or {}
    except Exception:
        pass
    pinned_m = meta.get(_BLOOM_META_M)
    pinned_k = meta.get(_BLOOM_META_K)
    if pinned_m is not None:
        pinned_m, pinned_k = int(pinned_m), int(pinned_k)
        if m_bits is not None and m_bits != pinned_m:
            raise ValueError(
                f"bloom bitmap was built with m_bits={pinned_m}, probe "
                f"passed {m_bits} — mismatched hashing would produce "
                "false negatives"
            )
        if k is not None and k != pinned_k:
            raise ValueError(
                f"bloom bitmap was built with k={pinned_k}, probe "
                f"passed {k} — mismatched hashing would produce "
                "false negatives"
            )
        return pinned_m, pinned_k
    if m_bits is None or k is None:
        raise ValueError(
            "bitmap carries no pinned bloom params (not built by "
            "build_bloom, or metadata stripped) — pass m_bits and k "
            "explicitly"
        )
    return m_bits, k


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    col: str,
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Membership check against a built bitmap: (col, maybe_present
    boolean). False answers are CERTAIN (the pre-filter use case: skip
    the expensive join/dedup pass for definitely-new values).
    ``m_bits``/``k`` default to the values pinned on the bitmap by
    :func:`build_bloom`; passing them explicitly is validated against
    the pinned ones."""
    m_bits, k = _bloom_params(bloom, m_bits, k)
    coords = probes.filter(F.col(col).isNotNull()).select(
        col,
        F.explode(
            F.array(
                *[
                    F.pmod(_h60(F.col(col), salt=f"bf{i}|"), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("__pos"),
    ).select(
        col,
        (F.col("__pos") / F.lit(_BLOOM_WORD_BITS)).cast("int").alias("word"),
        F.col("__pos").alias("__pos"),
    )
    hit = F.coalesce(
        F.expr(
            f"(shiftright(bits, CAST(__pos % {_BLOOM_WORD_BITS} AS INT))"
            f" & CAST(1 AS BIGINT)) = 1"
        ),
        F.lit(False),
    )
    return (
        coords.join(F.broadcast(bloom), "word", "left")
        .select(col, hit.alias("__hit"))
        .groupBy(col)
        .agg(F.min("__hit").alias("maybe_present"))
    )


def bloom_probe_sql(
    items_expr: str,
    probes_expr: str,
    col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> str:
    """DuckDB replica of build_bloom + bloom_probe composed."""
    w = _BLOOM_WORD_BITS

    def coords(expr: str, alias: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {col} AS v, CAST('0x' || substr(md5('bf{i}|' || {col}), 1, 15) AS BIGINT) % {m_bits} AS pos"
            f" FROM {expr} WHERE {col} IS NOT NULL"
            for i in range(k)
        )

    return f"""
WITH icoords AS ({coords(items_expr, "i")}),
bloom AS (
  SELECT CAST(pos // {w} AS INTEGER) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {w} AS INTEGER)) AS bits
  FROM icoords GROUP BY 1
),
pcoords AS ({coords(probes_expr, "p")})
SELECT p.v AS {col},
  CAST(MIN(COALESCE((b.bits >> CAST(p.pos % {w} AS INTEGER))
       & CAST(1 AS BIGINT), 0)) AS BOOLEAN) AS maybe_present
FROM pcoords p
LEFT JOIN bloom b ON b.word = CAST(p.pos // {w} AS INTEGER)
GROUP BY p.v
"""


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters — the frequent-items member of the sketch
# family (HLL = distincts, count-min = point frequencies, Bloom =
# membership; this one = the top-of-the-distribution item SET). Finds
# every token with global frequency >= N/k WITHOUT a corpus-wide
# wordcount shuffle: per-partition Misra-Gries summaries (k counters,
# mergeable) nominate a bounded candidate set, then ONE narrow
# aggregation counts only the candidates exactly. The guarantee is the
# textbook one: an item with global count >= N/k has, in at least one
# partition, local share >= 1/k > 1/(k+1), and MG with k counters
# never evicts an item with local count > n_p/(k+1) — so the
# candidate set is a superset of the true heavy hitters and the exact
# verify pass makes the output EXACTLY the >= N/k set (false
# candidates are filtered, so the sketch's approximation never reaches
# the caller).
#
# Scale shape (100-TB contract): phase 1 is map-only (one Arrow pass
# per partition, k counters of state, |partitions| summary rows
# collected — bounded metadata, never data); phase 2 shuffles ONLY
# candidate-token rows (<= k * partitions distinct tokens) after a
# broadcast semi-join prune, plus a 1-row corpus-total aggregate. A
# plain wordcount at web scale shuffles the full multi-billion-row
# vocabulary; this shuffles thousands.
# ---------------------------------------------------------------------------


def misra_gries_heavy_hitters(
    df: DataFrame,
    text_col: str,
    k: int = 50,
    max_candidates: int = 100_000,
) -> DataFrame:
    """Exact >=N/k frequent tokens via per-partition Misra-Gries
    nomination + exact verification. Returns (token, cnt, n_total):
    every whitespace token (lowercased, the corpus-wide convention)
    whose exact count ``cnt`` satisfies ``cnt * k >= n_total``.

    ``max_candidates`` bounds the driver-side candidate collect
    (contract: <= k * partitions rows); exceeding it raises rather
    than silently truncating."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    words = (
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )
    toks_arr = df.select(F.expr(words).alias("__ws"))

    def _partition_mg(batches):
        import pandas as pd

        counters: dict = {}
        seen = False
        for pdf in batches:
            for arr in pdf["__ws"]:
                if arr is None:  # NULL text -> NULL token array
                    continue
                seen = True
                for t in arr:
                    if t in counters:
                        counters[t] += 1
                    elif len(counters) < k:
                        counters[t] = 1
                    else:
                        # decrement-all: removes k+1 distinct
                        # occurrences, hence the n_p/(k+1) guarantee
                        drop = [c for c in counters if counters[c] == 1]
                        for c in counters:
                            counters[c] -= 1
                        for c in drop:
                            del counters[c]
        if seen and counters:
            yield pd.DataFrame({"token": list(counters)})

    cand = toks_arr.mapInPandas(_partition_mg, schema="token string").distinct()
    # bounded probe-and-collect (sampling.py convention): one extra row
    # detects overflow without a separate count job
    cand_rows = cand.limit(max_candidates + 1).collect()
    if len(cand_rows) > max_candidates:
        raise ValueError(
            f"candidate set exceeds max_candidates={max_candidates}; "
            f"raise the bound or lower k (contract: <= k * partitions)"
        )
    spark = df.sparkSession
    cand_df = spark.createDataFrame(
        [(r.token,) for r in cand_rows], "token string"
    )
    toks = df.select(F.explode(F.expr(words)).alias("token"))
    total = toks_arr.agg(
        F.coalesce(F.sum(F.size("__ws")), F.lit(0))
        .cast("long")
        .alias("n_total")
    )
    exact = (
        toks.join(F.broadcast(cand_df), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(int(k)) >= F.col("n_total"))
        .select("token", "cnt", "n_total")
    )
