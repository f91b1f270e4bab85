"""Column profile + drift metric tests."""

import pytest
from pyspark.sql import functions as F

from data_validator_spark.fixtures.clips import ClipsConfig, generate_golden, generate_clips
from data_validator_spark.operators import drift, stats

SPECS = [
    stats.ColumnSpec("dur_ms", "numeric", 0.0, 10_000.0, 50),
    stats.ColumnSpec("codec", "categorical"),
    stats.ColumnSpec("transcript", "categorical"),
]


def test_profile_null_rates_and_ranges(spark, clips, golden, clips_cfg):
    prof = {r.column_name: r for r in stats.profile(clips.drop("bytes"), SPECS).collect()}
    n = clips_cfg.n_rows
    exp_dur_nulls = golden.filter("inj_dur_null").count()
    assert prof["dur_ms"].null_rate == pytest.approx(exp_dur_nulls / n)
    assert prof["dur_ms"].n_rows == n
    assert float(prof["dur_ms"].min_val) >= 10
    assert prof["codec"].approx_distinct >= 4  # 4 codecs + 'amr' (HLL estimate)
    q = prof["dur_ms"].quantiles
    assert len(q) == 5 and q[0] <= q[1] <= q[2] <= q[3] <= q[4]
    assert 2500 < q[2] < 3500  # median near exp(8.0) ~ 2981


def test_histogram_freqs_sum_to_one(spark, clips):
    hist = stats.histogram(clips.drop("bytes"), SPECS[:2])
    sums = {
        r.column_name: r.s
        for r in hist.groupBy("column_name").agg(F.sum("freq").alias("s")).collect()
    }
    assert sums["dur_ms"] == pytest.approx(1.0)
    assert sums["codec"] == pytest.approx(1.0)


def test_drift_self_is_clean_and_shift_detected(spark, clips, clips_cfg):
    cur = stats.histogram(clips.drop("bytes"), SPECS[:2])
    # identical snapshot -> no drift
    self_verdict = {r.column_name: r for r in drift.drift_verdicts(cur, cur).collect()}
    assert all(v.drift_status == "pass" for v in self_verdict.values())
    assert all(abs(v.psi) < 1e-9 and v.ks < 1e-9 for v in self_verdict.values())

    # shifted generation: dur +40% (log-mean +0.34), codec mix flipped
    shifted_cfg = ClipsConfig(
        n_rows=clips_cfg.n_rows,
        n_partitions=clips_cfg.n_partitions,
        seed=99,
        dur_log_mean=8.34,
        codec_probs=(0.10, 0.15, 0.25, 0.50),
    )
    # metadata-only generation (golden has no bytes cost)
    shifted = generate_golden(spark, shifted_cfg)  # just to keep lineage clear
    shifted_clips = generate_clips_meta(spark, shifted_cfg)
    base = stats.histogram(shifted_clips, SPECS[:2])
    verdict = {r.column_name: r for r in drift.drift_verdicts(base, cur).collect()}
    assert verdict["codec"].drift_status == "fail"
    assert verdict["codec"].psi > 0.25
    assert verdict["dur_ms"].psi > 0.05
    assert verdict["dur_ms"].ks > 0.1


def generate_clips_meta(spark, cfg):
    """Metadata-only clips (no audio synthesis) for distribution tests."""
    from data_validator_spark.fixtures.clips import meta_batch

    def gen(batches):
        for pdf in batches:
            meta = meta_batch(pdf["id"].to_numpy(), cfg)
            yield meta[["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]]

    return spark.range(0, cfg.n_rows, numPartitions=4).mapInPandas(
        gen, schema="clip_id string, sr_hz int, dur_ms int, codec string, transcript string"
    )


def test_sketch_drift_matches_exact_ks_psi(spark):
    """sketch_drift (t-digest tables only) vs exact numpy KS/PSI."""
    import numpy as np

    from data_validator_spark.operators import tdigest as td

    n = 80_000
    base = spark.range(0, n, numPartitions=4).select(
        (F.col("id") % 1000).cast("double").alias("v_drift"),
        (F.col("id") % 777).cast("double").alias("v_same"),
    )
    cur = spark.range(0, n, numPartitions=4).select(
        ((F.col("id") % 1000) * 1.07 + 2.0).alias("v_drift"),
        ((F.col("id") + 13) % 777).cast("double").alias("v_same"),
    )
    est = {
        r.column_name: r
        for r in drift.sketch_drift(
            td.tdigest_profile(base, ["v_drift", "v_same"]),
            td.tdigest_profile(cur, ["v_drift", "v_same"]),
        ).collect()
    }
    assert est["v_drift"].n_base == n and est["v_drift"].n_cur == n

    def exact_ks(a, b):
        allv = np.sort(np.concatenate([a, b]))
        fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
        return float(np.max(np.abs(fa - fb)))

    def exact_psi(a, b, n_buckets=20, eps=1e-6):
        lo, hi = min(a.min(), b.min()), max(a.max(), b.max())
        edges = np.linspace(lo, hi, n_buckets + 1)
        pa = np.histogram(a, bins=edges)[0] / len(a) + eps
        pb = np.histogram(b, bins=edges)[0] / len(b) + eps
        return float(np.sum((pb - pa) * np.log(pb / pa)))

    ids = np.arange(n, dtype=np.float64)
    a_d, b_d = ids % 1000, (ids % 1000) * 1.07 + 2.0
    a_s, b_s = ids % 777, (ids + 13) % 777
    assert est["v_drift"].ks == pytest.approx(exact_ks(a_d, b_d), abs=0.01)
    assert est["v_drift"].psi == pytest.approx(exact_psi(a_d, b_d), abs=0.05)
    assert est["v_same"].ks == pytest.approx(0.0, abs=0.01)
    assert est["v_same"].psi == pytest.approx(0.0, abs=0.02)


def test_profile_tdigest_quantiles(spark, clips):
    """profile(quantile_method='tdigest'): same schema, t-digest
    quantile values within the rank-error contract of the approx
    path's exact brackets."""
    meta = clips.drop("bytes")
    td_prof = {
        r.column_name: r
        for r in stats.profile(meta, SPECS, quantile_method="tdigest").collect()
    }
    ap_prof = {
        r.column_name: r for r in stats.profile(meta, SPECS).collect()
    }
    assert set(td_prof) == set(ap_prof)
    # categorical columns: no quantiles either way; scalars identical
    assert td_prof["codec"].quantiles is None
    assert td_prof["codec"].approx_distinct == ap_prof["codec"].approx_distinct
    assert td_prof["dur_ms"].null_rate == ap_prof["dur_ms"].null_rate
    # numeric: both estimate the same exact quantiles; exact brackets
    exact = meta.agg(
        F.percentile(F.col("dur_ms").cast("double"), [0.03, 0.07, 0.48, 0.52, 0.93, 0.97])
    ).first()[0]
    q = td_prof["dur_ms"].quantiles
    assert len(q) == 5
    assert exact[0] <= q[0] <= exact[1]  # p05 within rank +-0.02
    assert exact[2] <= q[2] <= exact[3]  # p50
    assert exact[4] <= q[3 + 1] <= exact[5]  # p95

    with pytest.raises(ValueError):
        stats.profile(meta, SPECS, quantile_method="exact")


def test_freq_drift_chi2_js(spark, clips):
    """chi-squared + JS on the same histogram tables: self-compare is
    a structural zero (and never rejects); a codec-mix flip rejects
    at 95% with a large statistic; scipy cross-checks the statistic
    when available."""
    base = clips.drop("bytes")
    cur = base.withColumn(
        "codec",
        F.when(F.col("codec") == "pcm16", F.lit("flac")).otherwise(
            F.col("codec")
        ),
    )
    hb = stats.histogram(base, SPECS[:2])
    self_r = {
        r.column_name: r
        for r in drift.freq_drift_tests(hb, hb).collect()
    }
    for r in self_r.values():
        assert r.chi2 == pytest.approx(0.0, abs=1e-9)
        assert abs(r.js_div) < 1e-5  # eps-smoothing keeps it near 0
        assert not r.chi2_reject_95
        assert r.n_base == r.n_cur

    moved = {
        r.column_name: r
        for r in drift.freq_drift_tests(
            hb, stats.histogram(cur, SPECS[:2])
        ).collect()
    }
    c = moved["codec"]
    assert c.chi2_reject_95 and c.chi2 > 100
    assert c.dof >= 3 and c.js_div > 0.01
    # Wilson-Hilferty critical value tracks scipy's exact one within 1%
    try:
        from scipy.stats import chi2 as chi2_dist
    except ImportError:
        return
    exact = chi2_dist.ppf(0.95, int(c.dof))
    assert c.chi2_crit_95 == pytest.approx(exact, rel=0.01)


def test_kll_drift_tracks_exact_ks(spark, clips):
    """Native KLL sketch KS vs exact window-cumsum KS on dur_ms:
    self-compare ~0; a +25% scale shift is detected within 0.02."""
    base = clips.select(F.col("dur_ms").cast("double").alias("dur_ms"))
    cur = base.select((F.col("dur_ms") * 1.25).alias("dur_ms"))
    sk_b = stats.kll_sketches(base, ["dur_ms"])
    # KLL compaction is randomized: re-aggregating the same rows gives
    # a slightly different sketch, so self-compare is bounded by rank
    # error (<1% at k=800), not structurally zero like the t-digest.
    self_ks = stats.kll_drift(sk_b, sk_b).first()
    assert self_ks.ks == pytest.approx(0.0, abs=0.01)
    assert self_ks.n_base == self_ks.n_cur

    est = stats.kll_drift(sk_b, stats.kll_sketches(cur, ["dur_ms"])).first()
    from pyspark.sql import Window

    u = base.select("dur_ms", F.lit("a").alias("g")).unionByName(
        cur.select("dur_ms", F.lit("b").alias("g"))
    )
    cnt = u.groupBy("dur_ms").agg(
        F.sum((F.col("g") == "a").cast("long")).alias("ca"),
        F.sum((F.col("g") == "b").cast("long")).alias("cb"),
    )
    w = Window.orderBy("dur_ms")
    wall = Window.partitionBy()
    exact = (
        cnt.select(
            (
                F.sum("ca").over(w) / F.sum("ca").over(wall)
                - F.sum("cb").over(w) / F.sum("cb").over(wall)
            ).alias("d")
        )
        .agg(F.max(F.abs(F.col("d"))))
        .first()[0]
    )
    assert est.ks == pytest.approx(exact, abs=0.02)
    assert exact > 0.1  # the shift is real drift


def test_correlation_profile_values_and_single_scan(spark):
    from data_validator_spark.operators.stats import correlation_profile

    df = spark.createDataFrame(
        [(float(i), float(-2 * i), 7.0, float(i * i)) for i in range(1, 50)],
        "a double, b double, c double, d double",
    )
    out = correlation_profile(df, ["a", "b", "c", "d"])
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in out.collect()}
    assert abs(got[("a", "b")] - (-1.0)) < 1e-12  # exact anti-correlation
    assert got[("a", "c")] is None  # constant column -> NULL variance
    assert 0.9 < got[("a", "d")] < 1.0  # monotone but nonlinear
    assert len(got) == 6
    # one scan: a single Aggregate pair, no join/union of per-pair jobs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and "Join" not in plan, plan


def test_benford_discriminates(spark):
    import numpy as np

    from data_validator_spark.operators.drift import benford_test

    rng = np.random.RandomState(7)
    rows = [
        (float(b), float(u))
        for b, u in zip(
            np.exp(rng.uniform(0, 14, 5000)),   # log-uniform: Benford-natural
            rng.uniform(100, 999, 5000),        # uniform 3-digit: fabricated
        )
    ]
    df = spark.createDataFrame(rows, "nat double, fab double")
    got = {r["column_name"]: r for r in benford_test(df, ["nat", "fab"]).collect()}
    assert got["nat"]["verdict"] in ("close", "acceptable")
    assert got["fab"]["verdict"] == "nonconforming"
    assert got["fab"]["chi2"] > got["nat"]["chi2"]
    assert got["nat"]["n"] == 5000


def test_benford_excludes_sub_unit_and_null(spark):
    from data_validator_spark.operators.drift import benford_test

    df = spark.createDataFrame(
        [(0.5,), (0.0,), (None,), (123.0,), (-456.0,)], "v double"
    )
    row = benford_test(df, ["v"]).collect()[0]
    assert row["n"] == 2  # only 123 and -456 qualify; sign ignored


def test_benford_missing_digit_counted(spark):
    # a column whose values all start with 1 must still pay the
    # (0 - n*p)^2 penalty for digits 2..9
    from data_validator_spark.operators.drift import benford_test

    df = spark.createDataFrame([(float(v),) for v in [10, 11, 12, 150, 1999]], "v double")
    row = benford_test(df, ["v"]).collect()[0]
    assert row["verdict"] == "nonconforming"
    assert row["chi2"] > 0


def test_robust_outliers_exact_and_degenerate(spark):
    from data_validator_spark.operators.stats import robust_outliers

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 9, 8, 10, 11, 1000]] + [
        ("b", 5.0)
    ] * 10 + [("b", 99.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in robust_outliers(df, "g", "v", approx=False).collect()}
    a = got["a"]
    # deviations from median 11 sorted: [0,0,1,1,1,2,2,3,3,989] -> MAD 1.5
    assert (a["median"], a["mad"], a["n_outliers"]) == (11.0, 1.5, 1)
    b = got["b"]  # MAD=0 degenerate group: any deviation flagged
    assert (b["mad"], b["n_outliers"]) == (0.0, 1)


def test_robust_outliers_approx_close_to_exact(spark):
    import numpy as np

    from data_validator_spark.operators.stats import robust_outliers

    rng = np.random.RandomState(3)
    vals = list(rng.normal(100, 10, 4000)) + [500.0, -300.0]
    df = spark.createDataFrame([("g", float(v)) for v in vals], "g string, v double")
    exact = robust_outliers(df, "g", "v", approx=False).collect()[0]
    approx = robust_outliers(df, "g", "v", approx=True).collect()[0]
    assert abs(exact["median"] - approx["median"]) < 1.0
    assert abs(exact["n_outliers"] - approx["n_outliers"]) <= 2
    assert exact["n_outliers"] >= 2  # the two planted extremes


def test_entropy_profile(spark):
    from data_validator_spark.operators.stats import entropy_profile

    df = spark.createDataFrame(
        [("a", "x", "k"), ("b", "x", "k"), ("a", "x", "k"), ("b", "x", "k")],
        "even string, const string, konst string",
    )
    got = {r["column_name"]: r for r in entropy_profile(df, ["even", "const"]).collect()}
    # two equally likely values -> exactly 1 bit, norm 1.0
    assert got["even"]["entropy_bits"] == 1.0
    assert got["even"]["norm_entropy"] == 1.0
    assert (got["const"]["entropy_bits"], got["const"]["norm_entropy"]) == (0.0, 0.0)
    assert got["const"]["n_distinct"] == 1


def test_entropy_counts_null_as_category(spark):
    from data_validator_spark.operators.stats import entropy_profile

    df = spark.createDataFrame([("a",), (None,)], "v string")
    row = entropy_profile(df, ["v"]).collect()[0]
    assert row["n_distinct"] == 2 and row["entropy_bits"] == 1.0


def test_partition_drift_flags_shifted_partition(spark):
    import numpy as np

    from data_validator_spark.operators.drift import partition_drift
    from data_validator_spark.operators.stats import grouped_histogram

    rng = np.random.RandomState(0)
    rows = (
        [("p1", float(v)) for v in rng.normal(50, 10, 3000)]
        + [("p2", float(v)) for v in rng.normal(50, 10, 3000)]
        + [("p3", float(v)) for v in rng.normal(90, 10, 3000)]
    )
    df = spark.createDataFrame(rows, "part string, v double")
    specs = [stats.ColumnSpec("v", "numeric", 0.0, 120.0, 24)]
    ph = grouped_histogram(df, "part", specs)
    baseline = stats.histogram(
        df.filter(F.col("part") == "p1").drop("part"), specs
    )
    got = {r["partition"]: r for r in partition_drift(ph, baseline).collect()}
    assert got["p2"]["drift_status"] == "pass"
    assert got["p3"]["drift_status"] == "fail"
    assert got["p3"]["psi"] > 1.0 and got["p3"]["ks"] > 0.5
    assert got["p1"]["psi"] < 0.01  # vs itself


def test_grouped_histogram_freqs_normalize_per_partition(spark):
    from data_validator_spark.operators.stats import grouped_histogram

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x")], "part string, v string"
    )
    h = grouped_histogram(df, "part", [stats.ColumnSpec("v", "categorical")])
    sums = {
        r["partition"]: r["s"]
        for r in h.groupBy("partition").agg(F.sum("freq").alias("s")).collect()
    }
    assert sums["a"] == pytest.approx(1.0) and sums["b"] == pytest.approx(1.0)


def test_robust_outlier_rows(spark):
    from data_validator_spark.operators.stats import robust_outlier_rows

    rows = [("a", i, float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 9, 8, 10, 11, 1000, -500])]
    df = spark.createDataFrame(rows, "g string, id int, v double")
    got = robust_outlier_rows(df, "g", "v", "id", k=2, approx=False).collect()
    # |dev| from median 11: 1000 -> 989 outranks -500 -> 511
    assert [(r["id"], r["rank"]) for r in got] == [(9, 1), (10, 2)]
    assert got[0]["z"] > 0 and got[1]["z"] < 0


def test_pinned_value_report(spark):
    from data_validator_spark.operators.stats import pinned_value_report

    rows = [(float(v), float(w)) for v, w in zip([0, 0, 0, 0, 1, 2, 3, 4, 5, 6], range(10))]
    df = spark.createDataFrame(rows, "a double, b double")
    got = {r["column_name"]: r for r in pinned_value_report(df, ["a", "b"]).collect()}
    a = got["a"]
    assert (a["mode_value"], a["mode_share"], a["zero_share"]) == (0.0, 0.4, 0.4)
    assert (a["min_share"], a["max_share"]) == (0.4, 0.1)
    b = got["b"]  # all unique: mode tie broken by largest value
    assert (b["mode_value"], b["mode_share"]) == (9.0, 0.1)


def test_correlation_profile_pairwise_complete_nulls(spark):
    """Asymmetric nulls: every moment must come from pairwise-complete
    rows (SQL corr semantics), never a per-column stddev — the mixed
    form can exceed |1|."""
    from data_validator_spark.operators.stats import correlation_profile

    # b is null exactly where a takes its extreme values: a's overall
    # stddev is much larger than its pairwise-complete stddev
    rows = [
        (1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0),
        (1000.0, None), (-1000.0, None),
    ]
    df = spark.createDataFrame(rows, "a double, b double")
    got = correlation_profile(df, ["a", "b"]).collect()[0]
    assert got["n_rows"] == 4  # pairwise-complete count, not total 6
    assert abs(got["corr"] - 1.0) < 1e-9  # perfectly linear on complete rows


def test_correlation_profile_zero_variance_null(spark):
    from data_validator_spark.operators.stats import correlation_profile

    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "a double, b double"
    )
    got = correlation_profile(df, ["a", "b"]).collect()[0]
    assert got["corr"] is None and got["n_rows"] == 3


def test_benford_survives_dirty_doubles(spark):
    """NaN / ±Inf / out-of-int64 values are EXCLUDED, not a crash:
    under ANSI mode a plain cast-to-long throws on them."""
    from data_validator_spark.operators.drift import benford_test

    rows = [(float(v),) for v in [123, 456, 789, 12, 0.5]]
    rows += [(float("nan"),), (float("inf",),), (float("-inf"),), (1e30,), (None,)]
    df = spark.createDataFrame(rows, "v double")
    got = benford_test(df, ["v"]).collect()[0]
    assert got["n"] == 4  # the four |v| >= 1 castable values
    assert got["verdict"] != "no_data"


def test_benford_all_excluded_column_emits_no_data_row(spark):
    from data_validator_spark.operators.drift import benford_test

    df = spark.createDataFrame(
        [(float("nan"), 123.0), (None, 456.0), (0.2, 789.0)],
        "dead double, live double",
    )
    got = {r["column_name"]: r for r in benford_test(df, ["dead", "live"]).collect()}
    assert set(got) == {"dead", "live"}
    d = got["dead"]
    assert (d["n"], d["chi2"], d["mad"], d["verdict"]) == (0, None, None, "no_data")
    assert got["live"]["n"] == 3


def test_pinned_value_report_all_null_column_emits_row(spark):
    """A fully-NULL column is exactly the defect class this screen
    targets — it must surface as n_nonnull=0, not vanish."""
    from data_validator_spark.operators.stats import pinned_value_report

    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (None, 2.0)],
        "dead double, live double",
    )
    got = {r["column_name"]: r for r in pinned_value_report(df, ["dead", "live"]).collect()}
    assert set(got) == {"dead", "live"}
    d = got["dead"]
    assert d["n_nonnull"] == 0
    assert d["mode_value"] is None and d["mode_share"] is None
    assert got["live"]["n_nonnull"] == 3


def test_kll_drift_handles_infinite_values(spark):
    """A column holding +inf and -inf yields infinite probe quantiles;
    their SQL literals must parse, and a sketch compared with itself
    stays near zero drift."""
    vals = [float("-inf")] * 5 + [float(i) for i in range(200)] + [float("inf")] * 5
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    sk = stats.kll_sketches(df, ["x"])
    row = stats.kll_drift(sk, sk).first()
    assert row.column_name == "x"
    assert row.ks == pytest.approx(0.0, abs=0.01)
    assert row.n_base == row.n_cur == len(vals)
