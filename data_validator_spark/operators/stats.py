"""Column-statistics profiler (the north star's stats surface).

Generalizes the reference's validation-stats rollup
(data_validation_pipeline.py:84-118) and vestigial IQR logic
(validation_controller.py:12-29) into a single-pass column profile:
null rate, min/max, HLL cardinality (`approx_count_distinct`),
quantile sketches (`approx_percentile`), plus fixed-grid histograms
for drift comparison.

Scale notes:
  - the scalar profile is ONE Aggregate over the table (no per-column
    jobs): Catalyst fuses all expressions into a single partial+final
    agg, so cost is a single scan at any table size.
  - histograms for all columns ride ONE shuffle: rows are exploded to
    (column, bucket) pairs first, then a single groupBy aggregates
    every column's histogram together.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_QUANTILES = (0.05, 0.25, 0.5, 0.75, 0.95)


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    kind: str  # "numeric" | "categorical"
    # histogram grid for numeric columns (fixed so baseline/current align)
    bucket_lo: float = 0.0
    bucket_hi: float = 1.0
    n_buckets: int = 20


def profile(
    df: DataFrame,
    specs: Sequence[ColumnSpec],
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
    hll_rsd: float = 0.02,
    quantile_method: str = "approx",
) -> DataFrame:
    """Long-format per-column summary:
    (column_name, null_rate, min_val, max_val, approx_distinct, quantiles).

    min/max are stringified so one schema fits all column types
    (mirrors the reference's stringly typed stats payloads).

    hll_rsd: target relative standard deviation of the cardinality
    estimate; mapped to the DataSketches HLL lgK via
    rsd ~ 1.04/sqrt(2^lgK) (0.02 -> lgK 12, ~4 KB fixed per column).
    The estimator is hll_sketch_agg over the stringified value, NOT
    approx_count_distinct(rsd=...): HLL++ at low rsd stores ~700
    unsafe-row words PER COLUMN in the aggregation buffer, which
    stalls planning superlinearly on wide schemas (measured 39 s for
    100 columns of 50 rows vs 2.4 s with the DataSketches binary
    buffer — tests/test_wide_schema.py pins the 1,000-column bound).

    quantile_method: "approx" fuses percentile_approx into the one
    scalar Aggregate (single scan). "tdigest" runs the mergeable
    t-digest (operators/tdigest.py) for numeric columns instead and
    joins its read-out back on — one extra scan, but the per-snapshot
    sketch rows it produces are persistable and mergeable, which is
    what the raw-data-free drift path (drift.sketch_drift) consumes;
    choose it when snapshots are profiled once and compared many
    times."""
    if quantile_method not in ("approx", "tdigest"):
        raise ValueError(f"unknown quantile_method: {quantile_method!r}")
    use_td = quantile_method == "tdigest"
    import math

    lgk = min(21, max(4, math.ceil(2 * math.log2(1.04 / hll_rsd))))
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n")]
    for s in specs:
        c = F.col(s.name)
        aggs += [
            F.sum(c.isNull().cast("long")).alias(f"{s.name}__nulls"),
            F.min(c).cast("string").alias(f"{s.name}__min"),
            F.max(c).cast("string").alias(f"{s.name}__max"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(c.cast("string"), F.lit(lgk))
            ).alias(f"{s.name}__hll"),
        ]
        if s.kind == "numeric" and not use_td:
            aggs.append(
                F.percentile_approx(
                    c.cast("double"), list(quantiles), 10_000
                ).alias(f"{s.name}__q")
            )
    wide = df.agg(*aggs)
    # unpivot wide row -> long rows, still fully in the plan (no collect)
    structs = [
        F.struct(
            F.lit(s.name).alias("column_name"),
            (F.col(f"{s.name}__nulls") / F.greatest(F.col("_n"), F.lit(1))).alias(
                "null_rate"
            ),
            F.col(f"{s.name}__min").alias("min_val"),
            F.col(f"{s.name}__max").alias("max_val"),
            F.col(f"{s.name}__hll").alias("approx_distinct"),
            (
                F.col(f"{s.name}__q")
                if s.kind == "numeric" and not use_td
                else F.lit(None).cast("array<double>")
            ).alias("quantiles"),
            F.col("_n").alias("n_rows"),
        )
        for s in specs
    ]
    out = wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    if not use_td:
        return out
    from .tdigest import quantile_array_readout, tdigest_profile

    num_cols = [s.name for s in specs if s.kind == "numeric"]
    if not num_cols:
        return out
    readout = quantile_array_readout(
        tdigest_profile(df, num_cols), quantiles
    ).withColumnRenamed("quantiles", "_td_q")
    return out.join(F.broadcast(readout), "column_name", "left").select(
        "column_name",
        "null_rate",
        "min_val",
        "max_val",
        "approx_distinct",
        F.coalesce(F.col("_td_q"), F.col("quantiles")).alias("quantiles"),
        "n_rows",
    )


DEFAULT_HLL_LGK = 12


def hll_sketches(
    df: DataFrame, cols: Sequence[str], lgk: int = DEFAULT_HLL_LGK
) -> DataFrame:
    """(column_name, hll binary) — persistable, MERGEABLE cardinality
    state via Spark's native DataSketches HLL (hll_sketch_agg; ~1%
    relative error at lgk=12, fixed ≤ 2^lgk bytes per column). Unlike
    approx_count_distinct (estimate-only), the sketch itself survives:
    snapshots store it, and cross-snapshot questions — union
    cardinality, newly-seen-value counts — are one hll_union away,
    JVM-side, no raw data. All values hash as strings so one sketch
    schema fits every column type."""
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), F.lit(lgk)).alias(f"{c}__sk")
        for c in cols
    ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"), F.col(f"{c}__sk").alias("hll")
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def hll_compare(base: DataFrame, cur: DataFrame) -> DataFrame:
    """Cardinality drift from two persisted hll_sketches tables:
    (column_name, distinct_base, distinct_cur, distinct_union,
    est_new_values) — est_new_values = union − base estimates how many
    values the current snapshot introduced (within sketch error)."""
    b = base.select("column_name", F.col("hll").alias("_hb"))
    c = cur.select("column_name", F.col("hll").alias("_hc"))
    j = b.join(c, "column_name", "inner")
    return j.select(
        "column_name",
        F.hll_sketch_estimate("_hb").alias("distinct_base"),
        F.hll_sketch_estimate("_hc").alias("distinct_cur"),
        F.hll_sketch_estimate(F.hll_union("_hb", "_hc")).alias(
            "distinct_union"
        ),
    ).withColumn(
        "est_new_values",
        F.greatest(
            F.lit(0), F.col("distinct_union") - F.col("distinct_base")
        ),
    )


def theta_sketches(
    df: DataFrame, cols: Sequence[str], lg_nom_entries: int = 12
) -> DataFrame:
    """(column_name, theta binary) — mergeable DataSketches Theta
    sketches (theta_sketch_agg). Unlike HLL, Theta supports set
    INTERSECTION and DIFFERENCE, so two persisted snapshots can answer
    'how many clip_ids appeared / vanished / survived' without ever
    re-reading raw rows — the membership-churn side of the north
    star's uniqueness + drift story. Below ~2^lgk distinct values the
    sketch retains every hash (estimates are exact); above, relative
    error ~1/sqrt(2^lgk) (~1.6% at lgk=12). Values hash as strings so
    one schema fits every key type."""
    aggs = [
        F.theta_sketch_agg(F.col(c).cast("string"), F.lit(lg_nom_entries)).alias(
            f"{c}__sk"
        )
        for c in cols
    ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"), F.col(f"{c}__sk").alias("theta")
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def theta_compare(base: DataFrame, cur: DataFrame) -> DataFrame:
    """Membership churn from two persisted theta_sketches tables:
    (column_name, distinct_base, distinct_cur, est_common,
    est_appeared, est_vanished, distinct_union) — appeared = cur∖base,
    vanished = base∖cur, common = base∩cur, all evaluated JVM-side on
    sketch bytes (theta_intersection / theta_difference)."""
    b = base.select("column_name", F.col("theta").alias("_tb"))
    c = cur.select("column_name", F.col("theta").alias("_tc"))
    j = b.join(c, "column_name", "inner")
    return j.select(
        "column_name",
        F.theta_sketch_estimate("_tb").alias("distinct_base"),
        F.theta_sketch_estimate("_tc").alias("distinct_cur"),
        F.theta_sketch_estimate(F.theta_intersection("_tb", "_tc")).alias(
            "est_common"
        ),
        F.theta_sketch_estimate(F.theta_difference("_tc", "_tb")).alias(
            "est_appeared"
        ),
        F.theta_sketch_estimate(F.theta_difference("_tb", "_tc")).alias(
            "est_vanished"
        ),
        F.theta_sketch_estimate(F.theta_union("_tb", "_tc")).alias(
            "distinct_union"
        ),
    )


def kll_sketches(df: DataFrame, cols: Sequence[str], k: int = 800) -> DataFrame:
    """(column_name, n, kll binary) — native DataSketches KLL quantile
    sketches over double-cast columns (kll_sketch_agg_double): the
    fully JVM-side, mergeable alternative to the Python t-digest
    (operators/tdigest.py) when only rank/quantile queries are needed.
    k=800 keeps normalized rank error well under 1% at a few KB per
    sketch. NULLs are excluded (Spark's agg skips them); n comes from
    the sketch itself so the table is self-describing.

    KLL compaction is randomized: re-aggregating the same rows yields
    a slightly different (still rank-error-bounded) sketch, so
    persist the table once per snapshot and compare persisted bytes —
    don't recompute per comparison."""
    aggs = [
        F.kll_sketch_agg_double(F.col(c).cast("double"), F.lit(k)).alias(
            f"{c}__sk"
        )
        for c in cols
    ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.kll_sketch_get_n_double(F.col(f"{c}__sk")).alias("n"),
            F.col(f"{c}__sk").alias("kll"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def kll_drift(
    base: DataFrame,
    cur: DataFrame,
    n_probes: int = 128,
    chunk_cols: int = 250,
) -> DataFrame:
    """KS drift from two persisted kll_sketches tables: probe values
    are the merged sketch's quantiles at i/(n_probes+1), and
    ks = max_i |rank_base(probe_i) − rank_cur(probe_i)|. Error is
    bounded by grid resolution (merged CDF moves 1/(n_probes+1)
    between probes, so each side's at most twice that) plus both
    sketches' rank error (<1% at k=800) — q81 gates the estimate
    against the exact window-cumsum KS with a tolerance boolean.

    Spark's KLL read-out functions (kll_sketch_get_quantile_double /
    get_rank) require FOLDABLE probe arguments, so this runs in two
    phases: phase 1 collects the per-column probe values (the sketch
    table is O(columns) kilobytes — driver-side by design, like every
    snapshot-state read-out); phase 2 evaluates all rank gaps
    JVM-side with the probes inlined as literals. Raw data is never
    touched. Returns (column_name, ks, n_base, n_cur).

    Wide-schema guard: the inlined literals are chunked `chunk_cols`
    columns per plan branch (branches unioned BALANCED — a linear
    unionByName chain re-analyzes the accumulated left subtree per
    link, O(branches^2)) — a single when-chain over O(5k) columns x
    O(100) probes would build a million-node expression tree and
    stall analysis, while each chunked branch stays bounded no matter
    how wide the table is. Each branch filters to its own columns, so
    no row is evaluated twice. Each branch's CASE is built as ONE SQL
    string handed to F.expr: composing it from Column objects costs
    ~100 py4j driver round-trips per column (~0.1 s/column — measured
    85 s at 1,000 columns before this), while the parser ingests the
    same tree from text in milliseconds."""
    b = base.select(
        "column_name", F.col("n").alias("n_base"), F.col("kll").alias("_kb")
    )
    c = cur.select(
        "column_name", F.col("n").alias("n_cur"), F.col("kll").alias("_kc")
    )
    j = b.join(c, "column_name", "inner").withColumn(
        "_merged", F.kll_sketch_merge_double("_kb", "_kc")
    )
    fracs = [i / (n_probes + 1.0) for i in range(1, n_probes + 1)]
    probe_rows = j.select(
        "column_name",
        F.array(
            *[
                F.kll_sketch_get_quantile_double("_merged", F.lit(p))
                for p in fracs
            ]
        ).alias("_probes"),
    ).collect()
    per_col = {r.column_name: r._probes for r in probe_rows}
    col_names = sorted(per_col)

    def _sql_lit(v: float) -> str:
        # repr is the shortest round-trip decimal; Java parses it back
        # to the identical IEEE-754 double. Non-finite values have no
        # literal form, so they are cast from their string names.
        v = float(v)
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v) + "D"

    parts: list[DataFrame] = []
    for lo in range(0, len(col_names), max(1, chunk_cols)):
        chunk = col_names[lo : lo + chunk_cols]
        arms = []
        for col_name in chunk:
            # dedup probes (repeated quantiles at heavy ties) to shrink
            # the expression; order is irrelevant under max()
            gaps = [
                f"abs(kll_sketch_get_rank_double(_kb, {_sql_lit(v)})"
                f" - kll_sketch_get_rank_double(_kc, {_sql_lit(v)}))"
                for v in sorted(set(per_col[col_name]))
            ]
            body = gaps[0] if len(gaps) == 1 else (
                "greatest(" + ", ".join(gaps) + ")"
            )
            esc = col_name.replace("'", "''")
            arms.append(f"WHEN '{esc}' THEN {body}")
        ks_sql = (
            "CASE column_name "
            + " ".join(arms)
            + " ELSE CAST(NULL AS DOUBLE) END"
        )
        parts.append(
            j.filter(F.col("column_name").isin(chunk)).select(
                "column_name", F.expr(ks_sql).alias("ks"), "n_base", "n_cur"
            )
        )
    if not parts:
        return j.select(
            "column_name",
            F.lit(None).cast("double").alias("ks"),
            "n_base",
            "n_cur",
        )
    while len(parts) > 1:  # balanced union: O(b log b) re-analysis
        parts = [
            parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts)
            else parts[i]
            for i in range(0, len(parts), 2)
        ]
    return parts[0]


def bucketize(spec: ColumnSpec) -> Column:
    """Fixed-grid bucket id for a numeric column: floor((x-lo)/w) with
    underflow/overflow buckets; NULL rows excluded by histogram()."""
    c = F.col(spec.name).cast("double")
    w = (spec.bucket_hi - spec.bucket_lo) / spec.n_buckets
    raw = F.floor((c - F.lit(spec.bucket_lo)) / F.lit(w))
    clamped = F.greatest(F.lit(-1), F.least(raw, F.lit(spec.n_buckets)))
    return clamped.cast("string")


def histogram(df: DataFrame, specs: Sequence[ColumnSpec]) -> DataFrame:
    """(column_name, bucket, cnt, freq) for every spec in ONE shuffle.

    Numeric columns bucket on the spec's fixed grid (so two snapshots
    are comparable); categorical columns bucket on the value itself.
    """
    pairs = [
        F.struct(
            F.lit(s.name).alias("column_name"),
            (
                bucketize(s)
                if s.kind == "numeric"
                else F.col(s.name).cast("string")
            ).alias("bucket"),
        )
        for s in specs
    ]
    exploded = df.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")
    exploded = exploded.filter(F.col("bucket").isNotNull())
    counts = exploded.groupBy("column_name", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("column_name")
    return counts.withColumn("freq", F.col("cnt") / F.sum("cnt").over(w))


def correlation_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """All pairwise Pearson correlations among `cols` in ONE
    Aggregate: n(n-1)/2 F.corr expressions fuse into a single
    partial+final agg, so cost is one scan regardless of table size
    (same single-pass discipline as profile() above). The
    cross-column analyzer of the stats surface: a correlation that
    collapses (dur_ms suddenly independent of payload size) or
    appears (value keyed to user id) is a schema-semantics drift no
    per-column profile can see.

    -> (col_a, col_b, corr double, n_rows long), one row per
    unordered pair in input order; corr is NULL when either side is
    constant (zero variance), matching SQL semantics in both engines.

    Null semantics match SQL corr(): every moment (both stddevs AND
    the covariance) is computed over PAIRWISE-COMPLETE rows — rows
    where both sides are non-null — and n_rows is that pairwise
    count. (A per-column stddev over the column's own non-null rows
    combined with a pairwise covariance deviates from corr() under
    asymmetric nulls and can even yield |corr| > 1.) Cost is still
    ONE fused Aggregate / one scan: 4 expressions per pair.
    """
    cols = list(cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    # corr = covar / (sd_a * sd_b), via try_divide: under Spark's ANSI
    # mode the builtin corr THROWS on a zero-variance column, where
    # SQL semantics (and DuckDB) return NULL
    aggs: list[Column] = []
    for i, (a, b) in enumerate(pairs):
        ca = F.col(a).cast("double")
        cb = F.col(b).cast("double")
        both = ca.isNotNull() & cb.isNotNull()
        aggs.append(F.covar_samp(ca, cb).alias(f"__cov_{i}"))
        aggs.append(F.stddev_samp(F.when(both, ca)).alias(f"__sda_{i}"))
        aggs.append(F.stddev_samp(F.when(both, cb)).alias(f"__sdb_{i}"))
        aggs.append(
            F.count(F.when(both, F.lit(1))).cast("long").alias(f"__n_{i}")
        )
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.try_divide(
                F.col(f"__cov_{i}"),
                F.col(f"__sda_{i}") * F.col(f"__sdb_{i}"),
            ).alias("corr"),
            F.col(f"__n_{i}").alias("n_rows"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_thresh: float = 3.5,
    approx: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Median/MAD outlier detection per group: -> (group, n, median,
    mad, n_outliers, outlier_rate).

    The robust complement of the IQR rule (grouped.py / q19): modified
    z-score 0.6745*(x - median)/MAD with the standard 3.5 threshold —
    immune to the outliers themselves inflating the spread, which is
    exactly the failure mode of stddev-based rules on heavy-tailed
    duration/price columns. Degenerate groups (MAD = 0, i.e. >50% of
    values identical) fall back to flagging ANY deviation from the
    median, which is the right reading when a column is supposed to be
    constant per group.

    approx=True (the scale path) uses percentile_approx sketches for
    both medians — mergeable, bounded memory, one pass each.
    approx=False computes exact medians for small groups or oracle
    probes. Either way the shape is: per-group median (agg) ->
    broadcast back -> per-group MAD (agg) -> broadcast back -> count;
    the per-group tables are tiny relative to the fact table, so AQE
    broadcasts them and the fact table is scanned twice but SHUFFLED
    zero times on the value column.
    """
    def _median_of(col: str) -> Column:
        return (
            F.percentile_approx(col, 0.5, accuracy) if approx else F.median(col)
        )

    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("_g"), F.col(value_col).cast("double").alias("_v")
    )
    med = d.groupBy("_g").agg(_median_of("_v").cast("double").alias("median"))
    with_med = d.join(F.broadcast(med), "_g")
    dev = with_med.withColumn("_dev", F.abs(F.col("_v") - F.col("median")))
    mad = dev.groupBy("_g").agg(_median_of("_dev").cast("double").alias("mad"))
    scored = dev.join(F.broadcast(mad), "_g").withColumn(
        "_out",
        F.when(
            F.col("mad") > 0,
            F.abs(F.lit(0.6745) * F.col("_dev") / F.col("mad")) > z_thresh,
        ).otherwise(F.col("_dev") > 0),
    )
    return (
        scored.groupBy(F.col("_g").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.first("median"), 6).alias("median"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(F.col("_out").cast("long")).cast("long").alias("n_outliers"),
        )
        .withColumn("outlier_rate", F.round(F.col("n_outliers") / F.col("n"), 6))
    )


def entropy_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Shannon entropy per column: -> (column_name, n, n_distinct,
    entropy_bits, norm_entropy).

    The information complement of the cardinality sketch: distinct
    count says how many values, entropy says how evenly they're used —
    a column drifting from uniform codes toward one dominant default
    value keeps its cardinality long after it has lost its
    information (the 'loader started writing the fallback' defect).
    norm_entropy = H / log2(n_distinct) in [0, 1]; a constant column
    (n_distinct = 1) reports 0 by convention.

    All columns ride ONE unpivot + one (column, value) aggregate; the
    per-column reduction over value frequencies is a second aggregate
    on rows already shrunk to distinct values. NULL is treated as a
    regular category (its frequency is information too — the null
    RATE lives in profile()).
    """
    unpivoted = df.select(
        [F.col(c).cast("string").alias(c) for c in cols]
    ).unpivot([], list(cols), "column_name", "value")
    freqs = unpivoted.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # per-column totals come from a tiny aggregate + broadcast join,
    # NOT a Window.partitionBy(column_name): with a handful of columns
    # that window would funnel every distinct value of a huge column
    # through a handful of reducers.
    totals = freqs.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("_n")
    )
    scored = freqs.join(F.broadcast(totals), "column_name").withColumn(
        "_p", F.col("cnt") / F.col("_n")
    )
    out = scored.groupBy("column_name").agg(
        F.max("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(-F.sum(F.col("_p") * F.log2("_p")), 6).alias("entropy_bits"),
    )
    return out.withColumn(
        "norm_entropy",
        F.when(
            F.col("n_distinct") > 1,
            F.round(F.col("entropy_bits") / F.log2(F.col("n_distinct")), 6),
        ).otherwise(F.lit(0.0)),
    )


def grouped_histogram(
    df: DataFrame, part_col: str, specs: Sequence[ColumnSpec]
) -> DataFrame:
    """(partition, column_name, bucket, cnt, freq) — histogram()
    per partition value, all columns in ONE shuffle (rows explode to
    (partition, column, bucket) pairs first, then a single groupBy).
    freq normalizes within each (partition, column), so partitions of
    different sizes compare as distributions, not counts."""
    pairs = [
        F.struct(
            F.lit(s.name).alias("column_name"),
            (
                bucketize(s)
                if s.kind == "numeric"
                else F.col(s.name).cast("string")
            ).alias("bucket"),
        )
        for s in specs
    ]
    exploded = df.select(
        F.col(part_col).cast("string").alias("partition"),
        F.explode(F.array(*pairs)).alias("p"),
    ).select("partition", "p.*")
    exploded = exploded.filter(
        F.col("bucket").isNotNull() & F.col("partition").isNotNull()
    )
    counts = exploded.groupBy("partition", "column_name", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # per-(partition, column) totals via aggregate + broadcast join —
    # same skew rationale as entropy_profile
    totals = counts.groupBy("partition", "column_name").agg(
        F.sum("cnt").alias("_n")
    )
    return counts.join(
        F.broadcast(totals), ["partition", "column_name"]
    ).withColumn("freq", F.col("cnt") / F.col("_n")).drop("_n")


def robust_outlier_rows(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = 3,
    z_thresh: float = 3.5,
    approx: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """The EXPLANATION companion to robust_outliers: the k most
    extreme outlier ROWS per group -> (group, id, value, z, rank).

    A count says a group has outliers; an analyst needs to see them.
    Same median/MAD machinery as robust_outliers (approx sketches on
    the scale path, exact for small groups / oracle probes); rows
    beyond z_thresh rank by |z| descending with the id as the
    deterministic tiebreak, top-k per group via one rank window on
    the already-scored rows. Degenerate groups (MAD = 0) rank by
    absolute deviation instead, mirroring robust_outliers' fallback.
    """
    from pyspark.sql import Window

    def _median_of(col: str) -> Column:
        return (
            F.percentile_approx(col, 0.5, accuracy) if approx else F.median(col)
        )

    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.col(value_col).cast("double").alias("_v"),
    )
    med = d.groupBy("_g").agg(_median_of("_v").cast("double").alias("_med"))
    dev = d.join(F.broadcast(med), "_g").withColumn(
        "_dev", F.abs(F.col("_v") - F.col("_med"))
    )
    mad = dev.groupBy("_g").agg(_median_of("_dev").cast("double").alias("_mad"))
    scored = dev.join(F.broadcast(mad), "_g").withColumn(
        "_z",
        F.when(
            F.col("_mad") > 0,
            F.lit(0.6745) * (F.col("_v") - F.col("_med")) / F.col("_mad"),
        ),
    )
    is_out = F.when(
        F.col("_mad") > 0, F.abs(F.col("_z")) > z_thresh
    ).otherwise(F.col("_dev") > 0)
    w = Window.partitionBy("_g").orderBy(
        F.abs(F.coalesce(F.col("_z"), F.col("_dev"))).desc(),
        F.col("_id").asc(),
    )
    return (
        scored.filter(is_out)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            F.col("_v").alias(value_col),
            F.round("_z", 6).alias("z"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pinned_value_report(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Default-fill / saturation screen per column: ->
    (column_name, n_nonnull, mode_value, mode_share, zero_share,
    min_share, max_share).

    The 'loader started writing the fallback' and 'sensor pinned at
    the rail' detectors: a healthy continuous column has a tiny mode
    share; a spiking share of one exact value (often 0, the min, or
    the max) is a defect cardinality and entropy only notice later.
    All columns ride ONE unpivot + one (column, value) aggregate;
    mode selection is a deterministic struct-max (count, then value
    string as tiebreak); min/max shares come from the same counts
    joined against per-column extrema.

    A column whose values are ALL NULL — exactly the fully-defaulted
    defect this screen hunts — still emits its row (n_nonnull=0, null
    mode/shares) via a left join against the requested column list;
    silence would read as clean.
    """
    unpivoted = df.select(
        [F.col(c).cast("double").alias(c) for c in cols]
    ).unpivot([], list(cols), "column_name", "value")
    freqs = (
        unpivoted.filter(F.col("value").isNotNull())
        .groupBy("column_name", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # Values are unique per column after the (column, value) groupBy, so
    # min/max over struct(value, cnt) picks the extreme value AND its count
    # in the SAME aggregate — no self-joins back onto the freqs lineage
    # (the previous two-join form tripped Spark's "trivially true equals
    # predicate" resolution and re-scanned the unpivot twice).
    per_col = freqs.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("n_nonnull"),
        F.max(F.struct(F.col("cnt"), F.col("value"))).alias("_mode"),
        F.min(F.struct(F.col("value"), F.col("cnt"))).alias("_lo_s"),
        F.max(F.struct(F.col("value"), F.col("cnt"))).alias("_hi_s"),
        F.sum(F.when(F.col("value") == 0.0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("_zeros"),
    )
    filled = per_col.select(
        "column_name",
        "n_nonnull",
        F.col("_mode.value").alias("mode_value"),
        F.round(F.col("_mode.cnt") / F.col("n_nonnull"), 6).alias("mode_share"),
        F.round(F.col("_zeros") / F.col("n_nonnull"), 6).alias("zero_share"),
        F.round(F.col("_lo_s.cnt") / F.col("n_nonnull"), 6).alias("min_share"),
        F.round(F.col("_hi_s.cnt") / F.col("n_nonnull"), 6).alias("max_share"),
    )
    col_names = df.sparkSession.createDataFrame(
        [(c,) for c in cols], "column_name string"
    )
    return col_names.join(F.broadcast(filled), "column_name", "left").select(
        "column_name",
        F.coalesce(F.col("n_nonnull"), F.lit(0)).cast("long").alias("n_nonnull"),
        "mode_value",
        "mode_share",
        "zero_share",
        "min_share",
        "max_share",
    )
