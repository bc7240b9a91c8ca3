"""Statistical tests (ops/stattests.py): Welch t, one-way ANOVA,
mutual information — values pinned against straight-line NumPy/math
computations on the same micro-scaled integers, including the ln
columns the oracle comparison excludes (JVM vs glibc log 1-ulp
class, same policy as psi_bin)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bubbles_spark.ops import stattests


def _vals(spark, rows):
    return spark.createDataFrame(rows, "g string, v double")


def _scaled(vs, scale=6):
    return [math.floor(v * float(10**scale)) for v in vs]


def test_welch_t_matches_reference_formula(spark):
    a = [1.1, 2.3, 3.5, 2.2, 1.9]
    b = [4.0, 5.5, 6.1, 5.2]
    df = _vals(spark, [("a", v) for v in a] + [("b", v) for v in b])
    r = stattests.welch_t_test(df, "g", "v", "a", "b").collect()[0]
    assert r["n_a"] == 5 and r["n_b"] == 4

    def moments(vs):
        sv = _scaled(vs)
        n, s1, s2 = len(sv), sum(sv), sum(x * x for x in sv)
        mean = (s1 / n) / 1e6
        var = ((s2 - s1 * s1 / n) / (n - 1.0)) / 1e12
        return n, mean, var

    na, ma, va = moments(a)
    nb, mb, vb = moments(b)
    assert r["mean_a"] == ma and r["mean_b"] == mb
    assert r["var_a"] == va and r["var_b"] == vb
    sea, seb = va / na, vb / nb
    se2 = sea + seb
    t = (ma - mb) / math.sqrt(se2)
    dfw = (se2 * se2) / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    assert r["t_stat"] == pytest.approx(t, abs=0.0)
    assert r["df_welch"] == pytest.approx(dfw, abs=0.0)


def test_welch_t_degenerate_arm_yields_null(spark):
    df = _vals(spark, [("a", 1.0), ("b", 2.0), ("b", 3.0)])
    r = stattests.welch_t_test(df, "g", "v", "a", "b").collect()[0]
    assert r["var_a"] is None and r["t_stat"] is None


def test_anova_oneway_pinned(spark):
    groups = {"a": [1.0, 2.0, 3.0], "b": [2.0, 4.0, 6.0], "c": [5.0, 5.0]}
    df = _vals(
        spark, [(g, v) for g, vs in groups.items() for v in vs]
    )
    r = stattests.anova_oneway(df, "g", "v").collect()[0]
    assert r["k"] == 3 and r["n"] == 8

    S1 = S2 = T = 0.0
    import decimal

    Td = decimal.Decimal(0)
    for vs in groups.values():
        sv = _scaled(vs)
        n, s1, s2 = len(sv), sum(sv), sum(x * x for x in sv)
        S1 += s1
        S2 += s2
        u = float(s1) * float(s1) / float(n)
        Td += decimal.Decimal(repr(u)).quantize(decimal.Decimal("0.000001"))
    # mirror the engine: per-group term rounded to 6 dp then summed
    T = float(Td)
    N = 8.0
    ssw = (S2 - T) / 1e12
    ssb = (T - S1 * S1 / N) / 1e12
    f = (ssb / 2.0) / (ssw / 5.0)
    assert r["ss_within"] == pytest.approx(ssw, rel=1e-12)
    assert r["ss_between"] == pytest.approx(ssb, rel=1e-12)
    assert r["df_between"] == 2 and r["df_within"] == 5
    assert r["f_stat"] == pytest.approx(f, rel=1e-12)


def test_anova_degenerate_single_group(spark):
    df = _vals(spark, [("a", 1.0), ("a", 2.0)])
    r = stattests.anova_oneway(df, "g", "v").collect()[0]
    assert r["k"] == 1 and r["f_stat"] is None


def test_mi_report_pins_ln_columns(spark):
    # 2×2 contingency: (x,p)=3 (x,q)=1 (y,p)=1 (y,q)=3, N=8
    rows = (
        [("x", "p")] * 3 + [("x", "q")] + [("y", "p")] + [("y", "q")] * 3
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = {
        (r["a"], r["b"]): r
        for r in stattests.mi_report(df, "a", "b").collect()
    }
    xp = out[("x", "p")]
    assert xp["n_ab"] == 3 and xp["n_a"] == 4 and xp["n_b"] == 4
    assert xp["n"] == 8
    assert xp["p_ab"] == 3.0 / 8.0
    pmi = math.log((3.0 * 8.0) / (4.0 * 4.0))
    assert xp["pmi"] == pytest.approx(pmi, rel=1e-15)
    assert xp["mi_term"] == pytest.approx((3.0 / 8.0) * pmi, rel=1e-15)
    # total MI = Σ mi_term ≥ 0, symmetric cells agree
    mi = sum(r["mi_term"] for r in out.values())
    assert mi > 0
    assert out[("y", "q")]["pmi"] == pytest.approx(pmi, rel=1e-15)


def test_bootstrap_ci_matches_python_mirror(spark):
    import hashlib
    import math

    from bubbles_spark.ops.stattests import bootstrap_ci

    rows = [(i, float(100 + (i * 7) % 50)) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "rid long, v double")
    B, seed, level = 50, 42, 0.9
    out = bootstrap_ci(
        df, "v", "rid", n_boot=B, seed=seed, level=level,
        value_decimal="decimal(18,1)",
    ).collect()[0]

    # python mirror of the exact same deterministic construction
    pmf, cum, ts = math.exp(-1.0), 0.0, []
    for i in range(8):
        cum += pmf
        ts.append(math.floor(cum * 2**32))
        pmf /= i + 1
    means = []
    for b in range(1, B + 1):
        sw = swv = 0
        for rid, v in rows:
            h = int(hashlib.md5(f"{seed}|{b}|{rid}".encode()).hexdigest()[:8], 16)
            m = sum(1 for t in ts if h >= t)
            sw += m
            swv += m * round(v * 10)  # decimal(18,1) in tenths
        if sw > 0:
            means.append((swv / 10) / sw)
    means.sort()
    k = math.ceil(0.05 * B)  # alpha = (1-0.9)/2
    assert out["n_rows"] == 40 and out["n_boot"] == B
    assert out["n_effective"] == len(means)
    assert out["ci_lo"] == means[k - 1]
    assert out["ci_hi"] == means[-k]
    assert out["mean"] == sum(round(v * 10) for _, v in rows) / 10 / 40

    # deterministic under repartitioning
    out2 = bootstrap_ci(
        df.repartition(7), "v", "rid", n_boot=B, seed=seed, level=level,
        value_decimal="decimal(18,1)",
    ).collect()[0]
    assert out2 == out

    with pytest.raises(ValueError):
        bootstrap_ci(df, "v", "rid", n_boot=1)
    with pytest.raises(ValueError):
        bootstrap_ci(df, "v", "rid", level=1.0)


def test_bootstrap_ci_degenerate_global_matches_grouped(spark):
    # seed 5, one row, B=2: BOTH replicates deterministically draw
    # zero copies (verified against the md5 mirror), so n_effective=0
    # falls below the rank-k=1 endpoint — both paths must emit NULL,
    # not the most extreme surviving replicate mean
    from bubbles_spark.ops.stattests import bootstrap_ci

    df = spark.createDataFrame([(1, 5.0, "g")], "rid long, v double, g string")
    kw = dict(n_boot=2, seed=5, level=0.5)  # k = ceil(0.25*2) = 1
    solo = bootstrap_ci(df, "v", "rid", **kw).collect()[0]
    grouped = bootstrap_ci(df, "v", "rid", group_col="g", **kw).collect()[0]
    for row in (solo, grouped):
        assert row["n_effective"] == 0
        assert row["ci_lo"] is None and row["ci_hi"] is None


def test_mann_whitney_u_scipy_free_reference(spark):
    from bubbles_spark.ops.stattests import mann_whitney_u

    # arm a: [1, 2, 2, 5]; arm b: [2, 3, 4]
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 5.0),
            ("b", 2.0), ("b", 3.0), ("b", 4.0), ("c", 99.0), ("a", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = mann_whitney_u(df, "grp", "v", "a", "b").collect()[0]
    # hand computation, average ranks over the pooled [1,2,2,2,3,4,5]:
    # ranks: 1→1; 2,2,2→3 each; 3→5; 4→6; 5→7
    # R1 = 1 + 3 + 3 + 7 = 14 ; U1 = 14 - 4*5/2 = 4 ; U2 = 4*3 - 4 = 8
    assert (out["n_a"], out["n_b"]) == (4, 3)
    assert out["rank_sum_a"] == 14.0
    assert out["u_a"] == 4.0 and out["u_b"] == 8.0
    assert out["mean_u"] == 6.0
    # tie correction: one tie group of 3 → tie3 = 27-3 = 24
    import math
    var = 4 * 3 / 12 * ((7 + 1) - 24 / (7 * 6))
    assert out["z"] == (4.0 - 6.0) / math.sqrt(var)

    # degenerate: one arm empty → NULL z
    out2 = mann_whitney_u(df, "grp", "v", "a", "missing").collect()[0]
    assert out2["z"] is None and out2["n_b"] == 0


def test_kruskal_wallis_hand_computed(spark):
    import math

    from bubbles_spark.ops.stattests import kruskal_wallis

    # groups: a=[1,2,2], b=[2,3], c=[4] — pooled [1,2,2,2,3,4]
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0),
            ("c", 4.0), (None, 9.0), ("a", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = kruskal_wallis(df, "grp", "v").collect()[0]
    # avg ranks: 1→1; the three 2s→3; 3→5; 4→6
    # R_a = 1+3+3 = 7; R_b = 3+5 = 8; R_c = 6; N=6
    S = 7**2 / 3 + 8**2 / 2 + 6**2 / 1
    # the op quantizes each term to micro-units before the sum
    Sq = (round(7**2 / 3 * 1e6) + round(8**2 / 2 * 1e6)
          + round(6**2 / 1 * 1e6)) / 1e6
    h = 12 / (6 * 7) * Sq - 3 * 7
    tie3 = 3**3 - 3
    divisor = 1 - tie3 / (6**3 - 6)
    assert (out["k"], out["n"], out["df"]) == (3, 6, 2)
    assert out["h_stat"] == h
    assert out["tie_divisor"] == divisor
    assert out["h_tied"] == h / divisor
    assert abs(S - Sq) < 1e-5  # quantization budget


def test_effect_size_hand_computed(spark):
    import math

    from bubbles_spark.ops.stattests import effect_size_report

    # arm a: [10, 12, 14] (mean 12, var 4); arm b: [9, 11] (mean 10, var 2)
    rows = [("a", 10.0), ("a", 12.0), ("a", 14.0), ("b", 9.0), ("b", 11.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = effect_size_report(df, "grp", "v", "a", "b").collect()[0]
    pooled = (2 * 4 + 1 * 2) / 3
    assert out["pooled_sd"] == math.sqrt(pooled)
    assert out["cohens_d"] == 2 / math.sqrt(pooled)
    assert out["hedges_g"] == 2 / math.sqrt(pooled) * (1 - 3 / (4 * 5 - 9))

    # degenerate arm (n=1) → NULLs
    out2 = effect_size_report(
        df.filter("grp = 'a' or v = 9.0"), "grp", "v", "a", "b"
    ).collect()[0]
    assert out2["cohens_d"] is None and out2["pooled_sd"] is None


def test_brown_forsythe_hand_computed(spark):
    from bubbles_spark.ops.stattests import anova_oneway, brown_forsythe

    # arm a tight around 10, arm b spread around 10: equal means,
    # different variances — BF must flag it, mean-ANOVA must not
    rows = [("a", 9.9), ("a", 10.0), ("a", 10.1), ("a", 10.0),
            ("b", 5.0), ("b", 15.0), ("b", 6.0), ("b", 14.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    bf = brown_forsythe(df, "grp", "v").collect()[0]
    assert (bf["k"], bf["n"]) == (2, 8)
    # medians (type-1): a → 10.0 (rank 2 of 4), b → 6.0
    # devs a: .1 0 .1 0 (mean .05); devs b: 1 9 0 8 (mean 4.5)
    # SSB = 8*(2.225^2) = 39.605; SSW = 0.01 + 65 = 65.01
    # W = 39.605 / (65.01/6) = 3.65528...
    assert bf["w_stat"] == pytest.approx(39.605 / (65.01 / 6), rel=1e-6)
    an = anova_oneway(df, "grp", "v").collect()[0]
    assert an["f_stat"] < 1  # means are equal; only variances differ

    # degenerate: one group → NULL W
    one = brown_forsythe(df.filter("grp = 'a'"), "grp", "v").collect()[0]
    assert one["w_stat"] is None


def test_paired_t_hand_computed(spark):
    import math

    from bubbles_spark.ops.stattests import paired_t_test

    # diffs: [1, 2, 3, 2] → mean 2, var 2/3
    rows = [(11.0, 10.0), (12.0, 10.0), (13.0, 10.0), (12.0, 10.0),
            (None, 5.0), (5.0, None)]
    df = spark.createDataFrame(rows, "a double, b double")
    out = paired_t_test(df, "a", "b").collect()[0]
    assert out["n"] == 4 and out["df"] == 3
    assert out["mean_diff"] == 2.0
    assert out["var_diff"] == pytest.approx(2 / 3, rel=1e-9)
    assert out["t_stat"] == pytest.approx(2.0 / math.sqrt((2 / 3) / 4),
                                          rel=1e-9)

    # zero-variance diffs → NULL t
    z = spark.createDataFrame([(3.0, 1.0)] * 5, "a double, b double")
    assert paired_t_test(z, "a", "b").collect()[0]["t_stat"] is None


def test_bootstrap_ci_grouped_equals_per_group_global(spark):
    from bubbles_spark.ops.stattests import bootstrap_ci

    rows = [(g, i, float(50 * (gi + 1) + (i * 7) % 30))
            for gi, g in enumerate(("x", "y"))
            for i in range(1, 31)]
    df = spark.createDataFrame(
        [(g, f"{g}{i}", v) for (g, i, v) in rows],
        "grp string, rid string, v double",
    )
    grouped = {
        r["grp"]: r
        for r in bootstrap_ci(
            df, "v", "rid", n_boot=40, level=0.9, group_col="grp",
            value_decimal="decimal(18,1)",
        ).collect()
    }
    # the grouped path must equal running the global op on each slice:
    # multiplicities hash only (seed, b, key), so they are identical
    for g in ("x", "y"):
        solo = bootstrap_ci(
            df.filter(F.col("grp") == g), "v", "rid",
            n_boot=40, level=0.9, value_decimal="decimal(18,1)",
        ).collect()[0]
        got = grouped[g]
        assert got["n_rows"] == solo["n_rows"]
        assert got["mean"] == solo["mean"]
        assert got["ci_lo"] == solo["ci_lo"]
        assert got["ci_hi"] == solo["ci_hi"]
        assert got["n_effective"] == solo["n_effective"]


def test_spearman_corr_hand_computed(spark):
    from bubbles_spark.ops.stattests import spearman_corr

    # perfect monotone with matching ties -> rho exactly 1
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)], "x double, y double"
    )
    row = spearman_corr(df, "x", "y").collect()[0]
    assert row["n"] == 4 and row["rho"] == 1.0

    # anti-monotone, no ties -> exactly -1
    df2 = spark.createDataFrame(
        [(float(i), float(10 - i)) for i in range(1, 6)], "x double, y double"
    )
    assert spearman_corr(df2, "x", "y").collect()[0]["rho"] == -1.0

    # hand case with a y tie: x=[1..5], y=[5,6,7,8,7]
    df3 = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 6.0), (3.0, 7.0), (4.0, 8.0), (5.0, 7.0)],
        "x double, y double",
    )
    got = spearman_corr(df3, "x", "y").collect()[0]["rho"]
    # python mirror of the exact doubled-rank construction
    import math
    r2x = [2 * r + 1 - 1 for r in (1, 2, 3, 4, 5)]  # 2*rank + ties-1
    r2y = [1 * 2 - 1 + 2 * 1 - 1 + 1 for _ in range(0)]  # placeholder
    # y ranks: 5->1, 6->2, 7->min rank 3 (2 ties), 8->5
    r2y = [2 * 1 + 0, 2 * 2 + 0, 2 * 3 + 1, 2 * 5 + 0, 2 * 3 + 1]
    n = 5
    sx, sy = sum(r2x), sum(r2y)
    sxy = sum(a * b for a, b in zip(r2x, r2y))
    sxx = sum(a * a for a in r2x)
    syy = sum(b * b for b in r2y)
    num = n * sxy - sx * sy
    exp = num / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert got == exp

    # zero variance on one side -> NULL
    df4 = spark.createDataFrame(
        [(1.0, 7.0), (2.0, 7.0), (3.0, 7.0)], "x double, y double"
    )
    assert spearman_corr(df4, "x", "y").collect()[0]["rho"] is None


def test_spearman_corr_string_y_and_empty(spark):
    """r13 internals: the y side no longer joins back — its ranks come
    from the per-(group, y) moment aggregate fed straight to the cum
    machinery, with the non-numeric-y dispatch now inside
    ``_spearman_suffstats``.  Pin the string-y pid-fallback path and
    the empty-input one-row n=0 contract."""
    from bubbles_spark.ops.stattests import spearman_by, spearman_corr

    # string y ranks lexicographically: "s00" < "s01" < ... so x=i%5
    # against y=f"s{i%5}" is a perfect monotone association
    df = spark.createDataFrame(
        [(i % 5, f"s{i % 5:02d}") for i in range(40)], "x int, y string"
    )
    row = spearman_corr(df, "x", "y").collect()[0]
    assert row["n"] == 40 and row["rho"] == 1.0

    # empty input: still exactly one row, n = 0, rho NULL
    empty = spark.createDataFrame([], "x int, y string")
    row = spearman_corr(empty, "x", "y").collect()[0]
    assert row["n"] == 0 and row["rho"] is None
    # grouped twin: no groups -> no rows
    assert spearman_by(
        spark.createDataFrame([], "g string, x int, y double"),
        "g", "x", "y",
    ).collect() == []


def test_fdr_correct_hand_computed(spark):
    from bubbles_spark.ops.stattests import fdr_correct

    rows = [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.2), ("e", 0.5)]
    df = spark.createDataFrame(rows, "id string, p double")

    ps = [0.01, 0.02, 0.03, 0.2, 0.5]
    bh = {r["id"]: r for r in fdr_correct(df, "p", "id", 0.05, "bh").collect()}
    assert [bh[i]["rejected"] for i in "abcde"] == [True, True, True, False, False]
    # IEEE mirror of the suffix-min envelope min_{j>=k}(p_j*m/j)
    env = [min(min(1.0, ps[j] * 5 / (j + 1)) for j in range(k, 5))
           for k in range(5)]
    assert [bh[i]["p_adj"] for i in "abcde"] == env
    assert bh["a"]["m"] == 5 and bh["a"]["rank"] == 1

    holm = {r["id"]: r for r in fdr_correct(df, "p", "id", 0.05, "holm").collect()}
    assert [holm[i]["rejected"] for i in "abcde"] == [True, False, False, False, False]
    henv = [max(min(1.0, ps[j] * (5 - (j + 1) + 1)) for j in range(k + 1))
            for k in range(5)]
    assert [holm[i]["p_adj"] for i in "abcde"] == henv

    bon = {r["id"]: r for r in fdr_correct(df, "p", "id", 0.05, "bonferroni").collect()}
    assert [bon[i]["rejected"] for i in "abcde"] == [True, False, False, False, False]
    assert bon["e"]["p_adj"] == 1.0  # 2.5 clamped

    # by: scale = m * H_5
    h5 = sum(1.0 / i for i in range(1, 6))
    by = {r["id"]: r for r in fdr_correct(df, "p", "id", 0.05, "by").collect()}
    assert by["a"]["rejected"] == (0.01 * 5 * h5 <= 0.05 * 1)

    # all-reject edge: every p tiny -> BH kmax = m
    tiny = spark.createDataFrame(
        [(str(i), 1e-6) for i in range(4)], "id string, p double"
    )
    assert all(r["rejected"] for r in fdr_correct(tiny, "p", "id").collect())

    import pytest as _pt
    with _pt.raises(ValueError):
        fdr_correct(df, "p", "id", method="nope")
    with _pt.raises(ValueError):
        fdr_correct(df, "p", "id", alpha=1.0)


def test_mann_kendall_hand_computed(spark):
    import math

    from bubbles_spark.ops.stattests import mann_kendall

    # strictly increasing series: S = n(n-1)/2, z > 0
    inc = spark.createDataFrame(
        [("g", float(i), float(i * 2)) for i in range(1, 6)],
        "grp string, x double, y double",
    )
    row = mann_kendall(inc, "grp", "x", "y").collect()[0]
    assert row["n_points"] == 5 and row["s_stat"] == 10
    var = (5 * 4 * 15 - 5 * 0) / 18.0  # no ties
    assert row["var_s"] == var
    assert row["z"] == (10 - 1.0) / math.sqrt(var)

    # with a tie: y = [1, 2, 2, 3] over x = 1..4
    # pairs: (1,2)+ (1,2)+ (1,3)+ (2,2)0 (2,3)+ (2,3)+ -> S = 5
    tied = spark.createDataFrame(
        [("t", 1.0, 1.0), ("t", 2.0, 2.0), ("t", 3.0, 2.0), ("t", 4.0, 3.0)],
        "grp string, x double, y double",
    )
    r2 = mann_kendall(tied, "grp", "x", "y").collect()[0]
    assert r2["s_stat"] == 5
    vt = (4 * 3 * 13 - 2 * 1 * 9) / 18.0  # one tie group of 2
    assert r2["var_s"] == vt
    assert r2["z"] == (5 - 1.0) / math.sqrt(vt)

    # decreasing -> negative S, continuity correction flips sign
    dec = spark.createDataFrame(
        [("d", float(i), float(-i)) for i in range(1, 5)],
        "grp string, x double, y double",
    )
    r3 = mann_kendall(dec, "grp", "x", "y").collect()[0]
    assert r3["s_stat"] == -6
    assert r3["z"] == (-6 + 1.0) / math.sqrt((4 * 3 * 13) / 18.0)

    # all tied -> var 0 -> NULL z; single point -> NULLs, s=0
    flat = spark.createDataFrame(
        [("f", 1.0, 7.0), ("f", 2.0, 7.0), ("s", 1.0, 1.0)],
        "grp string, x double, y double",
    )
    r4 = {r["grp"]: r for r in mann_kendall(flat, "grp", "x", "y").collect()}
    assert r4["f"]["s_stat"] == 0 and r4["f"]["z"] is None
    assert r4["s"]["n_points"] == 1 and r4["s"]["z"] is None


def test_cochran_armitage_hand_computed(spark):
    import math

    from bubbles_spark.ops.stattests import cochran_armitage

    # dose levels 0/1/2 with rising success rates 1/4, 2/4, 3/4
    rows = []
    for w, r in ((0, 1), (1, 2), (2, 3)):
        rows += [(w, 1)] * r + [(w, 0)] * (4 - r)
    df = spark.createDataFrame(rows, "dose int, y int")
    out = cochran_armitage(df, "dose", "y").collect()[0]
    assert out["n"] == 12 and out["n_success"] == 6 and out["k_levels"] == 3
    # exact integer mirror: num = N*sum(r*w) - R*sum(n*w)
    N, R = 12, 6
    rw = 1 * 0 + 2 * 1 + 3 * 2
    nw = 4 * 0 + 4 * 1 + 4 * 2
    nww = 4 * 0 + 4 * 1 + 4 * 4
    num = N * rw - R * nw
    den = R * (N - R) * (N * nww - nw * nw)
    assert out["z"] == num / math.sqrt(den / N)
    assert out["z"] > 0  # rising trend

    # flat rates -> z == 0; all-success -> NULL
    flat = spark.createDataFrame(
        [(w, y) for w in (0, 1) for y in (0, 1)], "dose int, y int"
    )
    assert cochran_armitage(flat, "dose", "y").collect()[0]["z"] == 0.0
    alls = spark.createDataFrame([(0, 1), (1, 1)], "dose int, y int")
    assert cochran_armitage(alls, "dose", "y").collect()[0]["z"] is None
    one = spark.createDataFrame([(0, 1), (0, 0)], "dose int, y int")
    assert cochran_armitage(one, "dose", "y").collect()[0]["z"] is None


def test_spearman_by_matches_per_group_global(spark):
    from bubbles_spark.ops.stattests import spearman_by, spearman_corr

    rows = (
        [("a", float(i), float(i * 2)) for i in range(1, 6)]          # rho 1
        + [("b", float(i), float(9 - i)) for i in range(1, 5)]        # rho -1
        + [("c", 1.0, 5.0), ("c", 2.0, 6.0), ("c", 3.0, 6.0),
           ("c", 4.0, 4.0)]                                           # ties
        + [("d", 1.0, 7.0), ("d", 2.0, 7.0)]                          # flat y
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    grouped = {r["g"]: (r["n"], r["rho"])
               for r in spearman_by(df, "g", "x", "y").collect()}
    for g in "abcd":
        solo = spearman_corr(
            df.filter(F.col("g") == g), "x", "y"
        ).collect()[0]
        assert grouped[g] == (solo["n"], solo["rho"]), g
    assert grouped["a"][1] == 1.0 and grouped["b"][1] == -1.0
    assert grouped["d"][1] is None


def test_fdr_envelope_two_phase_matches_small_path(spark, monkeypatch):
    """Past _SMALL_RANK_ROWS the adjusted-p envelope takes the
    bucketed two-phase shape; min/max are order-insensitive, so it
    must match the one-window plan bit-exactly on every method."""
    from bubbles_spark.ops import core as _core
    from bubbles_spark.ops.stattests import fdr_correct

    rows = [(f"id{i:03d}", ((i * 37) % 101 + 1) / 150.0) for i in range(60)]
    df = spark.createDataFrame(rows, "id string, p double")
    want = {
        m: sorted(
            (r["id"], r["rank"], r["p_adj"], r["rejected"])
            for r in fdr_correct(df, "p", "id", 0.05, m).collect()
        )
        for m in ("bh", "by", "holm")
    }
    monkeypatch.setattr(_core, "_SMALL_RANK_ROWS", 7)
    for m in ("bh", "by", "holm"):
        got = sorted(
            (r["id"], r["rank"], r["p_adj"], r["rejected"])
            for r in fdr_correct(df, "p", "id", 0.05, m).collect()
        )
        assert got == want[m], m


def test_mcnemar_hand_computed(spark):
    from bubbles_spark.ops.stattests import mcnemar_test

    rows = (
        [("u%d" % i, 1, 0) for i in range(3)]     # b = 3
        + [("x", 0, 1)]                            # c = 1
        + [("y1", 1, 1), ("y2", 1, 1), ("z", 0, 0)]
    )
    df = spark.createDataFrame(rows, "id string, a int, b int")
    r = mcnemar_test(df, "id", "a", "b").collect()[0]
    assert r["n_pairs"] == 7 and r["n_only_a"] == 3 and r["n_only_b"] == 1
    assert r["chi2"] == (3.0 - 1.0) ** 2 / 4.0
    assert r["chi2_cc"] == (abs(3.0 - 1.0) - 1.0) ** 2 / 4.0

    # no discordant pairs -> NULL statistics
    conc = spark.createDataFrame(
        [("a", 1, 1), ("b", 0, 0)], "id string, a int, b int"
    )
    r2 = mcnemar_test(conc, "id", "a", "b").collect()[0]
    assert r2["chi2"] is None and r2["chi2_cc"] is None

    # NULL outcomes drop the pair
    withnull = spark.createDataFrame(
        [("a", 1, 0), ("b", None, 1)], "id string, a int, b int"
    )
    assert mcnemar_test(withnull, "id", "a", "b").collect()[0]["n_pairs"] == 1


def test_cochran_q_hand_computed(spark):
    from bubbles_spark.ops.stattests import cochran_q

    # 4 subjects x 3 treatments: G=(2,4,1), R=(2,3,1,1), N=7
    # Q = (k-1)(k*sum(G^2) - N^2) / (k*N - sum(R^2)) = 2*14/6
    rows = []
    mat = {"s1": (1, 1, 0), "s2": (1, 1, 1), "s3": (0, 1, 0), "s4": (0, 1, 0)}
    for sid, (t1, t2, t3) in mat.items():
        rows += [(sid, "t1", t1), (sid, "t2", t2), (sid, "t3", t3)]
    df = spark.createDataFrame(rows, "id string, t string, x int")
    r = cochran_q(df, "id", "t", "x").collect()[0]
    assert r["k"] == 3 and r["n_subjects"] == 4 and r["n_success"] == 7
    assert r["df"] == 2
    assert r["q_stat"] == 2.0 * (3.0 * 21.0 - 49.0) / (3.0 * 7.0 - 15.0)

    # all-success -> denominator 0 -> NULL
    allwin = spark.createDataFrame(
        [("s", "t1", 1), ("s", "t2", 1)], "id string, t string, x int"
    )
    assert cochran_q(allwin, "id", "t", "x").collect()[0]["q_stat"] is None


def test_kendall_tau_by_hand_computed(spark):
    import math

    from bubbles_spark.ops.stattests import kendall_tau_by

    rows = (
        [("a", float(i), float(i)) for i in range(1, 5)]        # tau 1
        + [("b", float(i), float(5 - i)) for i in range(1, 5)]  # tau -1
        + [("c", 1.0, 1.0), ("c", 2.0, 1.0), ("c", 3.0, 2.0),
           ("c", 4.0, 2.0)]                                     # y ties
        + [("d", 1.0, 1.0), ("d", 1.0, 2.0), ("d", 1.0, 2.0)]   # x const
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in kendall_tau_by(df, "g", "x", "y").collect()}
    assert got["a"]["s_stat"] == 6 and got["a"]["tau_b"] == 1.0
    assert got["b"]["s_stat"] == -6 and got["b"]["tau_b"] == -1.0
    # c: S=4, denx=6, deny=(12-4)/2=4 -> tau = 4/sqrt(24)
    assert got["c"]["s_stat"] == 4
    assert got["c"]["tau_b"] == 4.0 / math.sqrt(6.0 * 4.0)
    # d: x constant -> denominator 0 -> NULL tau, S counts nothing
    assert got["d"]["s_stat"] == 0 and got["d"]["tau_b"] is None


def test_srm_check_hand_computed(spark):
    from bubbles_spark.ops.stattests import srm_check

    rows = (
        [("a",)] * 30 + [("b",)] * 20 + [("c",)] * 50 + [("zz",)] * 5
    )
    df = spark.createDataFrame(rows, "arm string")
    out = {r["arm"]: r for r in srm_check(
        df, "arm", {"a": 0.25, "b": 0.25, "c": 0.5}
    ).collect()}
    # N counts ALL observed rows (including the unknown arm)
    n = 105
    assert out["a"]["n_obs"] == 30 and out["a"]["expected"] == n * 0.25
    assert out["a"]["chi2_contrib"] == (30 - n * 0.25) ** 2 / (n * 0.25)
    assert out["c"]["expected"] == n * 0.5
    # observed-but-unintended arm surfaces with NULL expectation
    assert out["zz"]["n_obs"] == 5 and out["zz"]["expected"] is None

    # intended-but-unobserved arm surfaces with n_obs = 0
    df2 = spark.createDataFrame([("a",)] * 4, "arm string")
    out2 = {r["arm"]: r for r in srm_check(
        df2, "arm", {"a": 1, "b": 1}).collect()}
    assert out2["b"]["n_obs"] == 0 and out2["b"]["expected"] == 2.0
    assert out2["b"]["chi2_contrib"] == 2.0

    import pytest as _pt
    with _pt.raises(ValueError):
        srm_check(df2, "arm", {})
    with _pt.raises(ValueError):
        srm_check(df2, "arm", {"a": -1})


def test_dunn_test_hand_computed(spark):
    import math

    from bubbles_spark.ops.stattests import dunn_test

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = dunn_test(df, "g", "v").collect()
    assert len(r) == 1
    row = r[0]
    assert (row["group_a"], row["group_b"]) == ("a", "b")
    assert row["n_a"] == 2 and row["n_b"] == 2
    assert row["mean_rank_a"] == 1.5 and row["mean_rank_b"] == 3.5
    sigma2 = 4.0 * 5.0 / 12.0 - 0.0 / (12.0 * 3.0)
    z = (1.5 - 3.5) / math.sqrt(sigma2 * (1.0 / 2.0 + 1.0 / 2.0))
    assert row["z"] == z

    # all values tied -> sigma2 == 0 -> NULL z, mean ranks equal
    tied = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0)], "g string, v double"
    )
    rt = dunn_test(tied, "g", "v").collect()[0]
    assert rt["z"] is None and rt["mean_rank_a"] == rt["mean_rank_b"]

    # three groups -> 3 pairs
    df3 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "g string, v double"
    )
    assert len(dunn_test(df3, "g", "v").collect()) == 3


def test_fleiss_kappa_hand_computed(spark):
    from bubbles_spark.ops.stattests import fleiss_kappa

    # 2 items x 2 raters: item1 {A,A}, item2 {A,B}
    rows = [(1, "A"), (1, "A"), (2, "A"), (2, "B")]
    df = spark.createDataFrame(rows, "item long, label string")
    r = fleiss_kappa(df, "item", "label").collect()[0]
    assert r["n_items"] == 2 and r["n_raters"] == 2 and r["k_categories"] == 2
    # P_bar = (6 - 4)/(2*2*1) = 0.5 ; Pe = (9+1)/16 = 0.625
    assert r["p_bar"] == 0.5 and r["pe_bar"] == 0.625
    assert r["kappa"] == (0.5 - 0.625) / (1.0 - 0.625)

    # unanimous single category -> pe_bar = 1 -> NULL kappa
    uni = spark.createDataFrame(
        [(i, "A") for i in range(3) for _ in range(2)],
        "item long, label string",
    )
    ru = fleiss_kappa(uni, "item", "label").collect()[0]
    assert ru["pe_bar"] == 1.0 and ru["kappa"] is None

    import pytest as _pt
    # ragged vote counts refuse loudly
    ragged = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A")], "item long, label string"
    )
    with _pt.raises(ValueError):
        fleiss_kappa(ragged, "item", "label")


def test_friedman_hand_computed(spark):
    from bubbles_spark.ops.stattests import friedman_test

    # perfect agreement, n=3 blocks x k=3 treatments, no ties:
    # classical Q = 6
    rows = [(b, t, float(v)) for b in ("b1", "b2", "b3")
            for t, v in (("t1", 1), ("t2", 2), ("t3", 3))]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    r = friedman_test(df, "b", "t", "v").collect()[0]
    assert r["n_blocks"] == 3 and r["k_treatments"] == 3 and r["df"] == 2
    assert r["q_stat"] == 6.0

    # one block with a tie: b1 (1, 1, 2) -> doubled ranks (3, 3, 6);
    # b2/b3 perfect (2, 4, 6).  D = (3+4, 3+8, 6+12)+... compute via
    # the same exact formula the oracle replays
    rows2 = ([("b1", "t1", 1.0), ("b1", "t2", 1.0), ("b1", "t3", 2.0)]
             + [(b, t, float(v)) for b in ("b2", "b3")
                for t, v in (("t1", 1), ("t2", 2), ("t3", 3))])
    df2 = spark.createDataFrame(rows2, "b string, t string, v double")
    r2 = friedman_test(df2, "b", "t", "v").collect()[0]
    D = {"t1": 3 + 2 + 2, "t2": 3 + 4 + 4, "t3": 6 + 6 + 6}
    nk1 = 3 * 4
    e2 = sum((x - nk1) ** 2 for x in D.values())
    d2 = (9 + 9 + 36) + 2 * (4 + 16 + 36)
    den = d2 - 3 * 3 * 16
    assert r2["q_stat"] == 2.0 * e2 / den

    # all values tied within every block -> denominator 0 -> NULL
    flat = spark.createDataFrame(
        [(b, t, 5.0) for b in ("b1", "b2") for t in ("t1", "t2")],
        "b string, t string, v double",
    )
    assert friedman_test(flat, "b", "t", "v").collect()[0]["q_stat"] is None

    import pytest as _pt
    # incomplete block refuses loudly
    ragged = spark.createDataFrame(
        [("b1", "t1", 1.0), ("b1", "t2", 2.0), ("b2", "t1", 1.0)],
        "b string, t string, v double",
    )
    with _pt.raises(ValueError):
        friedman_test(ragged, "b", "t", "v")
    # duplicate (block, treatment) refuses loudly
    dup = spark.createDataFrame(
        [("b1", "t1", 1.0), ("b1", "t1", 2.0)],
        "b string, t string, v double",
    )
    with _pt.raises(ValueError):
        friedman_test(dup, "b", "t", "v")


def test_mood_median_matches_hand(spark):
    ga = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]
    gb = [5.0, 6.0, 7.0, 8.0, 9.0]
    gc = [2.0, 2.0, 3.0]
    rows = (
        [("a", v) for v in ga] + [("b", v) for v in gb]
        + [("c", v) for v in gc] + [("a", None), (None, 1.0)]
    )
    out = stattests.mood_median_test(_vals(spark, rows), "g", "v").collect()[0]
    allv = sorted(ga + gb + gc)
    n = len(allv)
    med = allv[(n + 1) // 2 - 1]  # type-1 lower median
    groups = {"a": ga, "b": gb, "c": gc}
    above = {g: sum(1 for v in vs if v > med) for g, vs in groups.items()}
    a_tot = sum(above.values())
    chi2 = sum(
        (above[g] * n - len(vs) * a_tot) ** 2 / len(vs)
        for g, vs in groups.items()
    ) / (a_tot * (n - a_tot))
    assert out["k"] == 3 and out["n"] == n and out["df"] == 2
    assert out["grand_median"] == med and out["n_above"] == a_tot
    assert out["chi2"] == pytest.approx(chi2, abs=1e-6)

    # degenerate: every value identical -> all on one side -> NULL
    flat = _vals(spark, [("a", 5.0), ("a", 5.0), ("b", 5.0)])
    assert stattests.mood_median_test(flat, "g", "v").collect()[0]["chi2"] is None


def test_jonckheere_terpstra_matches_bruteforce(spark):
    import itertools
    from collections import Counter

    groups = {
        "a": [1.0, 3.0, 5.0, 5.0, 7.0],
        "b": [2.0, 5.0, 8.0, 9.0],
        "c": [6.0, 8.0, 8.0, 10.0, 12.0, 4.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    out = stattests.jonckheere_terpstra(
        _vals(spark, rows), "g", "v"
    ).collect()[0]
    names = sorted(groups)
    j = 0.0
    for gi, gj in itertools.combinations(names, 2):
        for x in groups[gi]:
            for y in groups[gj]:
                j += 1.0 if x < y else (0.5 if x == y else 0.0)
    n = sum(len(v) for v in groups.values())
    ns = [len(groups[g]) for g in names]
    mu = (n * n - sum(m * m for m in ns)) / 4
    tv = Counter(v for vs in groups.values() for v in vs)
    a = (
        n * (n - 1) * (2 * n + 5)
        - sum(m * (m - 1) * (2 * m + 5) for m in ns)
        - sum(t * (t - 1) * (2 * t + 5) for t in tv.values())
    )
    b = sum(m * (m - 1) * (m - 2) for m in ns) * sum(
        t * (t - 1) * (t - 2) for t in tv.values()
    )
    c = sum(m * (m - 1) for m in ns) * sum(
        t * (t - 1) for t in tv.values()
    )
    var = a / 72 + b / (36 * n * (n - 1) * (n - 2)) + c / (8 * n * (n - 1))
    assert out["j2"] == int(2 * j)
    assert out["j_stat"] == j and out["mean_j"] == mu
    assert out["z"] == pytest.approx((j - mu) / math.sqrt(var), abs=1e-12)

    # a monotone upward trend must give a clearly positive z
    trend = [("a", float(v)) for v in (1, 2, 3)] + [
        ("b", float(v)) for v in (4, 5, 6)
    ] + [("c", float(v)) for v in (7, 8, 9)]
    zt = stattests.jonckheere_terpstra(_vals(spark, trend), "g", "v").collect()[0]
    assert zt["j2"] == 2 * 27 and zt["z"] > 2.9

    # all values tied -> zero variance -> NULL z
    flat = _vals(spark, [("a", 1.0), ("b", 1.0), ("c", 1.0), ("a", 1.0)])
    assert stattests.jonckheere_terpstra(flat, "g", "v").collect()[0]["z"] is None


def test_krippendorff_alpha_matches_hand(spark):
    from collections import Counter

    # unequal votes per unit; unit 4 has a single vote (not pairable)
    units = {1: "aab", 2: "ab", 3: "bbb", 4: "a", 5: "aabb"}
    rows = [(u, c) for u, ls in units.items() for c in ls]
    df = spark.createDataFrame(rows, "u int, l string")
    out = stattests.krippendorff_alpha(df, "u", "l").collect()[0]
    pair = {u: ls for u, ls in units.items() if len(ls) >= 2}
    n = sum(len(ls) for ls in pair.values())
    d_o = sum(
        (len(ls) ** 2 - sum(c * c for c in Counter(ls).values()))
        / (len(ls) - 1)
        for ls in pair.values()
    ) / n
    nc = Counter(c for ls in pair.values() for c in ls)
    d_e = (n * n - sum(v * v for v in nc.values())) / (n * (n - 1))
    assert out["n_units"] == 4 and out["n_values"] == n
    assert out["k_categories"] == 2
    assert out["d_o"] == pytest.approx(d_o, abs=1e-6)
    assert out["d_e"] == pytest.approx(d_e, abs=1e-12)
    assert out["alpha"] == pytest.approx(1 - d_o / d_e, abs=1e-6)

    # perfect agreement -> alpha exactly 1
    perfect = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "b")], "u int, l string"
    )
    assert stattests.krippendorff_alpha(perfect, "u", "l").collect()[0][
        "alpha"
    ] == 1.0

    # single category everywhere -> D_e = 0 -> NULL alpha
    mono = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "a")], "u int, l string"
    )
    assert (
        stattests.krippendorff_alpha(mono, "u", "l").collect()[0]["alpha"]
        is None
    )


def test_wilcoxon_signed_rank_matches_hand(spark):
    from collections import Counter

    pairs = [
        (5.0, 3.0), (4.0, 4.0), (7.0, 2.0), (1.0, 6.0), (9.0, 8.0),
        (3.0, 3.0), (2.0, 7.0), (8.0, 3.0), (6.0, 1.0), (4.0, 9.0),
    ]
    df = spark.createDataFrame(pairs, "x double, y double")
    out = stattests.wilcoxon_signed_rank(df, "x", "y").collect()[0]
    ds = [x - y for x, y in pairs if x != y]  # zero diffs dropped
    n = len(ds)
    cnt = Counter(abs(d) for d in ds)
    cum = 0
    rank = {}
    for v in sorted(cnt):
        rank[v] = (2 * cum + cnt[v] + 1) / 2  # average rank
        cum += cnt[v]
    w = sum(rank[abs(d)] for d in ds if d > 0)
    mean = n * (n + 1) / 4
    tie3 = sum(c ** 3 - c for c in cnt.values())
    var = n * (n + 1) * (2 * n + 1) / 24 - tie3 / 48
    assert out["n"] == n and out["w2_plus"] == int(2 * w)
    assert out["w_plus"] == w and out["mean_w"] == mean
    assert out["z"] == pytest.approx((w - mean) / math.sqrt(var), abs=1e-12)

    # all differences zero -> n = 0 -> NULL z
    flat = spark.createDataFrame([(1.0, 1.0), (2.0, 2.0)], "x double, y double")
    r0 = stattests.wilcoxon_signed_rank(flat, "x", "y").collect()[0]
    assert r0["n"] == 0 and r0["z"] is None


def test_mantel_haenszel_matches_hand(spark):
    import random
    from collections import defaultdict

    random.seed(42)
    rows = []
    for s in ("x", "y", "z"):
        for _ in range(60):
            t = random.randint(0, 1)
            p = 0.3 + 0.2 * t + (0.2 if s == "x" else 0.0)
            rows.append((s, t, 1 if random.random() < p else 0))
    df = spark.createDataFrame(rows, "s string, t int, y int")
    out = stattests.mantel_haenszel(df, "s", "t", "y").collect()[0]
    cells = defaultdict(lambda: [0, 0, 0, 0])
    for s, t, y in rows:
        idx = (
            0 if (t, y) == (1, 1) else 1 if (t, y) == (1, 0)
            else 2 if (t, y) == (0, 1) else 3
        )
        cells[s][idx] += 1
    rr = ss = ee = vv = aa = 0.0
    for a, b, c, d in cells.values():
        n = a + b + c + d
        rr += a * d / n
        ss += b * c / n
        aa += a
        ee += (a + b) * (a + c) / n
        if n > 1:
            vv += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
    assert out["n_strata"] == 3 and out["n_total"] == 180
    assert out["sum_a"] == int(aa)
    assert out["or_mh"] == pytest.approx(rr / ss, abs=1e-5)
    assert out["chi2_mh"] == pytest.approx(
        (abs(aa - ee) - 0.5) ** 2 / vv, abs=1e-4
    )

    # one arm never fails -> sum(b*c/n) can be 0 -> NULL OR
    degen = spark.createDataFrame(
        [("s", 1, 1), ("s", 1, 1), ("s", 0, 1), ("s", 0, 1)],
        "s string, t int, y int",
    )
    r = stattests.mantel_haenszel(degen, "s", "t", "y").collect()[0]
    assert r["or_mh"] is None and r["chi2_mh"] is None


def test_anderson_darling_k_matches_midrank_reference(spark):
    groups = {
        "a": [1.0, 3.0, 5.0, 5.0, 7.0, 2.5],
        "b": [2.0, 5.0, 8.0, 9.0, 3.5],
        "c": [6.0, 8.0, 8.0, 10.0, 12.0, 4.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    out = stattests.anderson_darling_k(df, "g", "v").collect()[0]

    # pure-python Scholz-Stephens A2_akN (midrank form — the scipy
    # anderson_ksamp(midrank=True) statistic)
    pooled = sorted(v for vs in groups.values() for v in vs)
    zstar = sorted(set(pooled))
    n_tot = len(pooled)
    lj = {z: pooled.count(z) for z in zstar}
    bj = {}
    cum = 0.0
    for z in zstar:
        bj[z] = cum + lj[z] / 2
        cum += lj[z]
    a2 = 0.0
    for vs in groups.values():
        n_i = len(vs)
        inner = 0.0
        for z in zstar:
            mij = sum(1 for x in vs if x < z) + sum(
                1 for x in vs if x == z
            ) / 2
            den = bj[z] * (n_tot - bj[z]) - n_tot * lj[z] / 4
            if den > 0:
                inner += (
                    lj[z] / n_tot
                    * (n_tot * mij - bj[z] * n_i) ** 2
                    / den
                )
        a2 += inner / n_i
    a2 *= (n_tot - 1) / n_tot
    assert out["k"] == 3 and out["n"] == n_tot
    assert out["a2_akn"] == pytest.approx(a2, abs=1e-4)

    # all values identical -> NULL
    flat = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0)], "g string, v double"
    )
    assert (
        stattests.anderson_darling_k(flat, "g", "v").collect()[0]["a2_akn"]
        is None
    )


def test_smd_balance_matches_moment_reference(spark):
    import random

    random.seed(3)
    rows = [
        (random.randint(0, 1), random.gauss(10, 2), random.uniform(0, 1))
        for _ in range(200)
    ]
    rows = [(t, x + 0.5 * t, y) for t, x, y in rows]
    df = spark.createDataFrame(rows, "t int, x double, y double")
    out = {
        r["covariate"]: r
        for r in stattests.smd_balance(df, "t", ["x", "y"]).collect()
    }

    def mom(vs, sc=10**6):
        s = [math.floor(v * sc) for v in vs]
        n, s1, s2 = len(s), sum(s), sum(v * v for v in s)
        return (s1 / n) / sc, ((s2 - s1 * s1 / n) / (n - 1)) / sc / sc

    for idx, cov in ((1, "x"), (2, "y")):
        tv = [r[idx] for r in rows if r[0] == 1]
        cv = [r[idx] for r in rows if r[0] == 0]
        mt, vt = mom(tv)
        mc, vc = mom(cv)
        r = out[cov]
        assert r["n_treat"] == len(tv) and r["n_ctrl"] == len(cv)
        assert r["mean_treat"] == pytest.approx(mt, abs=1e-12)
        assert r["var_ctrl"] == pytest.approx(vc, abs=1e-9)
        assert r["smd"] == pytest.approx(
            (mt - mc) / math.sqrt((vt + vc) / 2), abs=1e-9
        )

    # constant covariate in both arms -> zero pooled variance -> NULL
    const = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (0, 5.0), (0, 5.0)], "t int, x double"
    )
    r0 = stattests.smd_balance(const, "t", ["x"]).collect()[0]
    assert r0["smd"] is None

    with pytest.raises(ValueError):
        stattests.smd_balance(const, "t", [])


def test_cliffs_delta_matches_bruteforce(spark):
    a = [1.0, 3.0, 5.0, 5.0, 7.0]
    b = [2.0, 5.0, 6.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("c", 99.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = stattests.cliffs_delta(df, "g", "v", "a", "b").collect()[0]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    eq = sum(1 for x in a for y in b if x == y)
    assert out["n_a"] == len(a) and out["n_b"] == len(b)
    assert out["u2_a"] == 2 * gt + eq
    assert out["delta"] == (gt - lt) / (len(a) * len(b))

    # dominance extremes: every A above every B -> delta exactly 1
    dom = spark.createDataFrame(
        [("a", 10.0), ("a", 11.0), ("b", 1.0), ("b", 2.0)],
        "g string, v double",
    )
    assert stattests.cliffs_delta(dom, "g", "v", "a", "b").collect()[0][
        "delta"
    ] == 1.0
    # empty arm -> NULL
    solo = spark.createDataFrame([("a", 1.0)], "g string, v double")
    r0 = stattests.cliffs_delta(solo, "g", "v", "a", "b").collect()[0]
    assert r0["delta"] is None


def test_ansari_bradley_matches_reference(spark):
    from collections import Counter

    a = [1.0, 9.0, 2.0, 8.0, 1.5, 9.5, 5.0]  # dispersed
    b = [4.0, 5.0, 6.0, 5.5, 4.5, 5.0]       # tight, tie at 5.0
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = stattests.ansari_bradley(df, "g", "v", "a", "b").collect()[0]
    pooled = sorted(a + b)
    n = len(pooled)
    cnt = Counter(pooled)
    scores = {}
    cum = 0
    for v in sorted(cnt):
        c = cnt[v]
        scores[v] = sum(
            min(r, n + 1 - r) for r in range(cum + 1, cum + c + 1)
        ) / c
        cum += c
    w = sum(scores[v] for v in a)
    ssum = sum(scores[v] for v in pooled)
    ssq = sum(scores[v] ** 2 for v in pooled)
    n1, n2 = len(a), len(b)
    e = n1 * ssum / n
    var = n1 * n2 / (n * (n - 1)) * (ssq - n * (ssum / n) ** 2)
    assert out["n_a"] == n1 and out["n_b"] == n2
    assert out["w_stat"] == pytest.approx(w, abs=1e-5)
    assert out["mean_w"] == pytest.approx(e, abs=1e-5)
    assert out["z"] == pytest.approx((w - e) / math.sqrt(var), abs=1e-4)
    assert out["z"] < 0  # dispersed arm holds the tails -> low scores

    # all values tied -> zero score variance -> NULL z
    flat = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
        "g string, v double",
    )
    assert stattests.ansari_bradley(flat, "g", "v", "a", "b").collect()[0][
        "z"
    ] is None


def test_brunner_munzel_matches_published_formulation(spark):
    def ref_bm(x, y):
        def midranks(vals, universe):
            return [
                sum(1 for u in universe if u < v)
                + (sum(1 for u in universe if u == v) + 1) / 2
                for v in vals
            ]

        pooled = x + y
        r_all_x = midranks(x, pooled)
        r_all_y = midranks(y, pooled)
        r_x = midranks(x, x)
        r_y = midranks(y, y)
        n1, n2 = len(x), len(y)
        n = n1 + n2
        m1, m2 = sum(r_all_x) / n1, sum(r_all_y) / n2
        v1 = sum(
            (rx - rwx - m1 + (n1 + 1) / 2) ** 2
            for rx, rwx in zip(r_all_x, r_x)
        ) / (n1 - 1)
        v2 = sum(
            (ry - rwy - m2 + (n2 + 1) / 2) ** 2
            for ry, rwy in zip(r_all_y, r_y)
        ) / (n2 - 1)
        w = n1 * n2 * (m2 - m1) / (n * math.sqrt(n1 * v1 + n2 * v2))
        dfb = (n1 * v1 + n2 * v2) ** 2 / (
            (n1 * v1) ** 2 / (n1 - 1) + (n2 * v2) ** 2 / (n2 - 1)
        )
        return (m2 - (n2 + 1) / 2) / n1, w, dfb

    a = [1.0, 2.0, 1.5, 2.5, 1.0, 3.0, 2.0]
    b = [3.0, 4.5, 2.5, 5.0, 4.0, 3.5]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = stattests.brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    p, w, dfb = ref_bm(a, b)
    assert out["n_a"] == len(a) and out["n_b"] == len(b)
    assert out["p_hat"] == pytest.approx(p, abs=1e-12)
    assert out["w_stat"] == pytest.approx(w, abs=1e-12)
    assert out["df_bm"] == pytest.approx(dfb, abs=1e-9)
    # stochastic dominance of b -> p_hat near 1
    assert out["p_hat"] > 0.9

    # all tied -> zero combined variance -> NULL w/df, p_hat = 0.5
    flat = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
        "g string, v double",
    )
    r0 = stattests.brunner_munzel(flat, "g", "v", "a", "b").collect()[0]
    assert r0["w_stat"] is None and r0["p_hat"] == 0.5

    # regression (r12): an EMPTY arm must still yield the documented
    # one NULL-w/df row (the old filter+crossJoin annihilated to
    # zero rows and callers' .collect()[0] raised IndexError)
    only_a = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    rows = stattests.brunner_munzel(only_a, "g", "v", "a", "b").collect()
    assert len(rows) == 1
    r1 = rows[0]
    assert r1["n_a"] == 2 and r1["n_b"] == 0
    assert r1["w_stat"] is None and r1["df_bm"] is None


def test_page_trend_matches_hand(spark):
    data = {
        1: {"t1": 1.0, "t2": 2.0, "t3": 3.0},
        2: {"t1": 2.0, "t2": 1.0, "t3": 3.0},
        3: {"t1": 1.0, "t2": 3.0, "t3": 2.0},
        4: {"t1": 1.0, "t2": 2.0, "t3": 3.0},
    }
    rows = [(b, t, v) for b, tv in data.items() for t, v in tv.items()]
    df = spark.createDataFrame(rows, "b int, t string, v double")
    out = stattests.page_trend_test(df, "b", "t", "v").collect()[0]
    k, n = 3, 4
    rank_sums = {t: 0 for t in ("t1", "t2", "t3")}
    for tv in data.values():
        order = sorted(tv.values())
        for t, v in tv.items():
            rank_sums[t] += order.index(v) + 1
    l_ref = sum(
        (j + 1) * rank_sums[t] for j, t in enumerate(sorted(rank_sums))
    )
    e = n * k * (k + 1) ** 2 / 4
    var = n * (k ** 3 - k) ** 2 / (144 * (k - 1))
    assert out["n_blocks"] == n and out["k_treatments"] == k
    assert out["l2_stat"] == 2 * l_ref and out["l_stat"] == l_ref
    assert out["mean_l"] == e
    assert out["z"] == pytest.approx((l_ref - e) / math.sqrt(var), abs=1e-12)
    assert out["z"] > 2  # planted upward trend

    # a tie inside any block voids the no-tie normal moments: exact L
    # survives, z goes NULL (surfaced, not silently mis-scaled)
    data[1]["t1"] = data[1]["t2"] = 5.0
    rows = [(b, t, v) for b, tv in data.items() for t, v in tv.items()]
    r2 = stattests.page_trend_test(
        spark.createDataFrame(rows, "b int, t string, v double"),
        "b", "t", "v",
    ).collect()[0]
    assert r2["z"] is None and r2["l2_stat"] is not None

    # incomplete block raises (the friedman contract)
    bad = spark.createDataFrame(
        [(1, "t1", 1.0), (1, "t2", 2.0), (2, "t1", 1.0)],
        "b int, t string, v double",
    )
    with pytest.raises(ValueError):
        stattests.page_trend_test(bad, "b", "t", "v")


def test_cronbach_alpha_matches_reference(spark):
    import random

    import pytest

    # 3 correlated "items" per subject: a shared latent level plus
    # item noise -> alpha should be solidly positive
    rng = random.Random(31)
    rows = []
    for s in range(80):
        latent = rng.uniform(0, 10)
        for i, noise in (("a", 1.0), ("b", 1.5), ("c", 2.0)):
            rows.append(
                (s, i, round(latent + rng.uniform(-noise, noise), 4))
            )
    df = spark.createDataFrame(rows, "s long, i string, v double")
    r = stattests.cronbach_alpha(df, "s", "i", "v").collect()[0]

    # reference on the same 1e-6-quantized values
    vals = {}
    for s, i, v in rows:
        vals.setdefault(i, {})[s] = round(v * 1e6) / 1e6
    n = 80
    subjects = sorted(vals["a"])

    def svar(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    item_vars = [svar([vals[i][s] for s in subjects]) for i in vals]
    totals = [sum(vals[i][s] for i in vals) for s in subjects]
    k = 3
    alpha = k / (k - 1) * (1 - sum(item_vars) / svar(totals))

    assert r["n_subjects"] == n and r["k_items"] == k
    assert r["sum_item_var"] == pytest.approx(sum(item_vars), rel=1e-9)
    assert r["total_var"] == pytest.approx(svar(totals), rel=1e-9)
    assert r["alpha"] == pytest.approx(alpha, abs=1e-9)
    assert 0.5 < r["alpha"] <= 1.0

    # perfectly parallel items -> alpha exactly 1
    par = spark.createDataFrame(
        [(s, i, float(s % 7)) for s in range(20) for i in ("x", "y")],
        "s long, i string, v double",
    )
    rp = stattests.cronbach_alpha(par, "s", "i", "v").collect()[0]
    assert rp["alpha"] == pytest.approx(1.0, abs=1e-9)  # nano-quantization budget

    # zero total variance -> NULL alpha
    flat = spark.createDataFrame(
        [(s, i, 1.0) for s in range(5) for i in ("x", "y")],
        "s long, i string, v double",
    )
    rf = stattests.cronbach_alpha(flat, "s", "i", "v").collect()[0]
    assert rf["alpha"] is None

    # contract violations raise loudly
    ragged = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0), (2, "x", 3.0)],
        "s long, i string, v double",
    )
    with pytest.raises(ValueError, match="complete-grid"):
        stattests.cronbach_alpha(ragged, "s", "i", "v")
    single_item = spark.createDataFrame(
        [(1, "x", 1.0), (2, "x", 2.0)], "s long, i string, v double"
    )
    with pytest.raises(ValueError, match="k >= 2"):
        stattests.cronbach_alpha(single_item, "s", "i", "v")
    one_subj = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0)], "s long, i string, v double"
    )
    with pytest.raises(ValueError, match="n >= 2"):
        stattests.cronbach_alpha(one_subj, "s", "i", "v")


def test_lepage_composes_components(spark):
    import random

    import pytest

    rng = random.Random(43)
    rows = [("a", round(rng.gauss(10, 1), 3)) for _ in range(120)]
    # arm b shifted AND more dispersed -> both components fire
    rows += [("b", round(rng.gauss(11, 2.5), 3)) for _ in range(130)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = stattests.lepage_test(df, "g", "v", "a", "b").collect()[0]
    zw = stattests.mann_whitney_u(df, "g", "v", "a", "b").collect()[0]["z"]
    za = stattests.ansari_bradley(df, "g", "v", "a", "b").collect()[0]["z"]
    assert r["n_a"] == 120 and r["n_b"] == 130
    assert r["z_location"] == zw and r["z_scale"] == za
    assert r["d_stat"] == pytest.approx(zw * zw + za * za, abs=0.0)
    assert r["df_lepage"] == 2.0
    # a genuine location+scale shift: D far beyond the chi2(2)
    # 99.9% point (~13.8)
    assert r["d_stat"] > 13.8

    # identical arms: D small
    same = spark.createDataFrame(
        [("a", float(i % 13)) for i in range(100)]
        + [("b", float(i % 13)) for i in range(100)],
        "g string, v double",
    )
    rs = stattests.lepage_test(same, "g", "v", "a", "b").collect()[0]
    assert rs["d_stat"] < 0.1

    # all tied -> both z NULL -> NULL D, NULL df
    flat = spark.createDataFrame(
        [("a", 1.0)] * 4 + [("b", 1.0)] * 4, "g string, v double"
    )
    rf = stattests.lepage_test(flat, "g", "v", "a", "b").collect()[0]
    assert rf["d_stat"] is None and rf["df_lepage"] is None


def test_kendall_inversion_path_matches_bruteforce_pairs(spark):
    # r13 pin: the fused inversion-count path (_kendall_group_stats)
    # must reproduce the exact pair-loop semantics the operators'
    # original per-group self-joins computed — S, every tie term, and
    # the downstream IEEE tails — on adversarial tie structure
    import math
    import random

    from bubbles_spark.ops.stattests import kendall_tau_by, mann_kendall

    rng = random.Random(1309)
    rows = []
    for g in ("a", "b", "c"):
        n = rng.choice((37, 64, 101))
        for _ in range(n):
            # heavy ties in both axes, plus float noise values
            x = float(rng.randint(0, 12))
            y = rng.choice(
                (float(rng.randint(0, 5)), rng.random() * 4.0)
            )
            rows.append((g, x, y))
    df = spark.createDataFrame(rows, "g string, x double, y double")

    def brute(grp_rows, strict_x_only):
        # exact pair loop: S over pairs with x strictly differing
        s = 0
        for i in range(len(grp_rows)):
            for j in range(i + 1, len(grp_rows)):
                xi, yi = grp_rows[i]
                xj, yj = grp_rows[j]
                if xi == xj:
                    continue
                sx = 1 if xj > xi else -1
                sy = 0 if yj == yi else (1 if yj > yi else -1)
                s += sx * sy
        return s

    by_g = {}
    for g, x, y in rows:
        by_g.setdefault(g, []).append((x, y))

    got_mk = {r["g"]: r for r in mann_kendall(df, "g", "x", "y").collect()}
    got_kt = {r["g"]: r for r in kendall_tau_by(df, "g", "x", "y").collect()}
    for g, pts in by_g.items():
        s_exp = brute(pts, True)
        n = len(pts)
        assert got_mk[g]["n_points"] == n and got_kt[g]["n_points"] == n
        assert got_mk[g]["s_stat"] == s_exp, g
        assert got_kt[g]["s_stat"] == s_exp, g
        # tie terms via the documented formulas
        from collections import Counter

        ty = Counter(y for _, y in pts)
        tx = Counter(x for x, _ in pts)
        tt = sum(t * (t - 1) * (2 * t + 5) for t in ty.values())
        var = (n * (n - 1) * (2 * n + 5) - tt) / 18.0
        if var > 0:
            zexp = (
                (s_exp - 1.0) / math.sqrt(var)
                if s_exp > 0
                else ((s_exp + 1.0) / math.sqrt(var) if s_exp < 0 else 0.0)
            )
            assert got_mk[g]["var_s"] == var and got_mk[g]["z"] == zexp, g
        tx2 = sum(t * (t - 1) for t in tx.values())
        ty2 = sum(t * (t - 1) for t in ty.values())
        denx = (n * (n - 1) - tx2) / 2.0
        deny = (n * (n - 1) - ty2) / 2.0
        if denx > 0 and deny > 0:
            assert got_kt[g]["tau_b"] == s_exp / math.sqrt(denx * deny), g


def _fast_and_forced(build, cap="_CELL_FOLD_MAX_CELLS", limit=0, plan=True):
    """Run the rank-test DataFrame ``build()`` twice: as dispatched
    (the single-task cell fold on these small inputs), then with the
    stattests cap ``cap`` patched to ``limit`` so the distributed path
    runs.  Returns ``(fast, forced)`` as lists of row dicts, sorted so
    grouped outputs line up.  With ``plan``, also asserts that the
    fast run's executed plan holds the fold (``MapInPandas``) and the
    forced run's does not — equal results alone would pass even if
    the dispatcher never folded."""

    def run():
        df = build()
        rows = sorted((r.asDict() for r in df.collect()), key=repr)
        return rows, df._jdf.queryExecution().executedPlan().toString()

    fast, fast_plan = run()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(stattests, cap, limit)
        forced, forced_plan = run()
    if plan:
        assert "MapInPandas" in fast_plan
        assert "MapInPandas" not in forced_plan
    return fast, forced


def test_jonckheere_local_and_grid_paths_agree(spark):
    # r13 pin: the single-task weighted-inversion fast path must be
    # bit-identical to the distributed grid/cum path — same exact
    # integer folds by construction, checked on tie-heavy data with
    # string arms (natural-sort arm order) and negative trends
    import random

    from bubbles_spark.ops import stattests as st

    rng = random.Random(77)
    rows = []
    for gi, g in enumerate(("arm_a", "arm_b", "arm_c", "arm_d")):
        for _ in range(120):
            # downward trend with heavy ties across arms
            rows.append((g, float(rng.randint(0, 15) - gi)))
    df = spark.createDataFrame(rows, "g string, v double")

    fast, grid = _fast_and_forced(lambda: st.jonckheere_terpstra(df, "g", "v"))
    assert fast == grid
    # sanity: trend is downward -> z decidedly negative
    assert fast[0]["z"] < -3.0

    # degenerate inputs agree too: all values tied, and a single arm
    flat = spark.createDataFrame(
        [("a", 1.0)] * 5 + [("b", 1.0)] * 5, "g string, v double"
    )
    one = spark.createDataFrame([("a", float(i)) for i in range(5)],
                                "g string, v double")
    for d in (flat, one):
        f, g = _fast_and_forced(lambda: st.jonckheere_terpstra(d, "g", "v"))
        assert f == g


def test_anderson_darling_local_and_grid_paths_agree(spark):
    # r13 pin: the single-task dense-grid fold must be bit-identical
    # to the distributed grid/cum path, including the 1e-6 HALF_UP
    # micro-quantization — checked on tie-heavy multi-arm data and on
    # near-unique doubles (where rounding boundaries actually bite)
    import random

    from bubbles_spark.ops import stattests as st

    rng = random.Random(4242)
    rows = []
    for g in ("a", "b", "c"):
        for _ in range(400):
            rows.append((g, float(rng.randint(0, 30))))   # heavy ties
        for _ in range(400):
            rows.append((g, rng.gauss(0.0, 1.0)))         # near-unique
    df = spark.createDataFrame(rows, "g string, v double")

    def build():
        return st.anderson_darling_k(df, "g", "v")

    fast, grid = _fast_and_forced(build)
    assert fast == grid
    assert fast[0]["a2_akn"] is not None
    # the k×V grid cap, one below this input's grid, also forces the
    # distributed path
    n_grid = 3 * len({v for _, v in rows})
    fast, grid = _fast_and_forced(build, "_CELL_FOLD_MAX_GRID", n_grid - 1)
    assert fast == grid

    # degenerate: all tied -> NULL statistic on both paths
    flat = spark.createDataFrame(
        [("a", 1.0)] * 4 + [("b", 1.0)] * 4, "g string, v double"
    )
    f, g = _fast_and_forced(lambda: st.anderson_darling_k(flat, "g", "v"))
    assert f == g and f[0]["a2_akn"] is None


def test_kruskal_local_and_distributed_paths_agree(spark):
    # r13 pin: single-task fold vs distributed cum machinery,
    # including the 1e-6 HALF_UP micro-quantized rank-sum terms
    import random

    from bubbles_spark.ops import stattests as st

    rng = random.Random(909)
    rows = []
    for g in ("x", "y", "z"):
        for _ in range(300):
            rows.append((g, float(rng.randint(0, 25))))
        for _ in range(300):
            rows.append((g, rng.gauss(5.0, 3.0)))
    df = spark.createDataFrame(rows, "g string, v double")

    def build():
        return st.kruskal_wallis(df, "g", "v")

    fast, dist = _fast_and_forced(build)
    assert fast == dist
    assert fast[0]["h_tied"] is not None
    # the input-row cap, one below this input's row count
    fast, dist = _fast_and_forced(build, "_CELL_FOLD_MAX_ROWS", len(rows) - 1)
    assert fast == dist


def test_mood_local_and_distributed_paths_agree(spark):
    # r13 pin: single-task fold vs distributed median/classification
    import random

    from bubbles_spark.ops import stattests as st

    rng = random.Random(31)
    rows = [(g, float(rng.randint(0, 40)) + (0.5 if rng.random() < 0.3 else 0.0))
            for g in ("p", "q", "r") for _ in range(500)]
    df = spark.createDataFrame(rows, "g string, v double")

    fast, dist = _fast_and_forced(lambda: st.mood_median_test(df, "g", "v"))
    assert fast == dist
    assert fast[0]["chi2"] is not None

    # degenerate: all values equal -> B = 0 -> NULL chi2, both paths
    flat = spark.createDataFrame(
        [("a", 2.0)] * 4 + [("b", 2.0)] * 4, "g string, v double"
    )
    f, g2 = _fast_and_forced(lambda: st.mood_median_test(flat, "g", "v"))
    assert f == g2 and f[0]["chi2"] is None


def test_two_arm_local_and_distributed_paths_agree(spark):
    # r13 pin: the shared two-arm single-task folds (mann_whitney rank
    # sums, ansari block scores incl. micro-quantization) vs the
    # distributed cum machinery; cliffs_delta is never dispatched (it
    # always runs the distributed rank sum), so only its result is
    # compared, not its plan
    import random

    from bubbles_spark.ops import stattests as st

    rng = random.Random(555)
    rows = (
        [("a", float(rng.randint(0, 20))) for _ in range(400)]
        + [("b", float(rng.randint(0, 20)) + 0.25) for _ in range(300)]
        + [("a", rng.gauss(0, 2)) for _ in range(300)]
        + [("b", rng.gauss(1, 4)) for _ in range(300)]
    )
    df = spark.createDataFrame(rows, "g string, v double")

    for op in (st.mann_whitney_u, st.cliffs_delta, st.ansari_bradley,
               st.lepage_test):
        fast, dist = _fast_and_forced(
            lambda: op(df, "g", "v", "a", "b"),
            plan=op is not st.cliffs_delta,
        )
        assert fast == dist, op.__name__

    # empty arm: documented NULL-z single row on both paths
    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    f, d2 = _fast_and_forced(lambda: st.mann_whitney_u(one, "g", "v", "a", "b"))
    assert f == d2 and f[0]["z"] is None


def test_spearman_local_and_distributed_paths_agree(spark):
    # r13 pin: the single-task moment fold vs the distributed cells
    # machinery — exact integer sums either way, so bit-identical rho
    import random

    from bubbles_spark.ops import stattests as st

    rng = random.Random(808)
    rows = []
    for g in ("m", "n"):
        for i in range(500):
            x = float(rng.randint(0, 60))           # tie-heavy x
            y = x * 0.5 + rng.gauss(0, 3.0)          # monotone-ish y
            rows.append((g, x, y))
        for _ in range(100):
            rows.append((g, rng.random() * 60, float(rng.randint(0, 9))))
    df = spark.createDataFrame(rows, "g string, x double, y double")

    # the shared cell cap, then spearman's own row cap one below this
    # input's row count
    for cap, limit in (("_CELL_FOLD_MAX_CELLS", 0),
                       ("_SPEARMAN_FOLD_MAX_ROWS", len(rows) - 1)):
        fast_c, dist_c = _fast_and_forced(
            lambda: st.spearman_corr(df, "x", "y"), cap, limit
        )
        assert fast_c == dist_c and fast_c[0]["rho"] is not None
        fast_by, dist_by = _fast_and_forced(
            lambda: st.spearman_by(df, "g", "x", "y"), cap, limit
        )
        assert len(fast_by) == 2 and fast_by == dist_by

    # empty input: spearman_corr's one-row n=0 contract on both paths
    # (an empty cell table never folds, so there is no plan to check)
    empty = spark.createDataFrame([], "g string, x double, y double")
    e1, e2 = _fast_and_forced(
        lambda: st.spearman_corr(empty, "x", "y"), plan=False
    )
    assert e1 == e2 == [{"n": 0, "rho": None}]


def _parquet_input(spark, tmp_path, rows, schema, name="t"):
    """The rank tests' inputs as parquet read back from ``tmp_path``:
    a file relation is what gives ``core.fits`` a footer row bound
    (``createDataFrame`` inputs get none and take the probe)."""
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _build_jobs(spark, build):
    """``build()`` and the number of Spark jobs it ran (job group +
    ``statusTracker``)."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "rank-test build")
    try:
        df = build()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_bound_folds_without_build_jobs(spark, tmp_path):
    # parquet footers prove the cells fit: the Kruskal and Jonckheere
    # builds run no Spark job and pin nothing; the fold runs in the
    # sink job
    import random

    rng = random.Random(16)
    rows = [(g, float(rng.randint(0, 30))) for g in ("a", "b", "c") for _ in range(200)]
    df = _parquet_input(spark, tmp_path, rows, "g string, v double")
    for op in (stattests.kruskal_wallis, stattests.jonckheere_terpstra):
        out, jobs = _build_jobs(spark, lambda: op(df, "g", "v"))
        assert jobs == 0, op.__name__
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "ExistingRDD" not in plan, op.__name__
        assert out.collect()[0]["k"] == 3


def test_footer_bound_path_matches_distributed(spark, tmp_path):
    # every converted rank test: the footer-bound fold equals the
    # forced distributed path, on the plain input and on one that
    # filters to nothing (the fold then still emits the distributed
    # path's one row)
    import random

    from bubbles_spark.ops import stattests as st

    rng = random.Random(1616)
    rows = [
        (g, float(rng.randint(0, 25)), rng.gauss(0.0, 4.0))
        for g in ("a", "b", "c")
        for _ in range(250)
    ]
    df = _parquet_input(spark, tmp_path, rows, "g string, v double, y double")
    ops = {
        "kruskal": lambda d: st.kruskal_wallis(d, "g", "v"),
        "jonckheere": lambda d: st.jonckheere_terpstra(d, "g", "v"),
        "mann_whitney": lambda d: st.mann_whitney_u(d, "g", "v", "a", "b"),
        "mood": lambda d: st.mood_median_test(d, "g", "v"),
        "ansari": lambda d: st.ansari_bradley(d, "g", "v", "a", "b"),
        "spearman": lambda d: st.spearman_corr(d, "v", "y"),
        "spearman_by": lambda d: st.spearman_by(d, "g", "v", "y"),
    }
    empty = df.filter(F.col("v") < -1.0)
    for name, op in ops.items():
        fast, dist = _fast_and_forced(lambda: op(df))
        assert fast == dist and fast, name
        # the grouped spearman emits no row for no group, on both paths
        fast, dist = _fast_and_forced(lambda: op(empty))
        assert fast == dist and len(fast) == (0 if name == "spearman_by" else 1), name
    assert _fast_and_forced(lambda: ops["kruskal"](empty))[0][0]["k"] == 0


def test_unbounded_input_runs_one_probe(spark, tmp_path, monkeypatch):
    # a join input has no footer bound: the pinned cells are probed
    # exactly once, as before
    from bubbles_spark.ops import stattests as st

    rows = [(g, float(i % 7)) for g in ("a", "b") for i in range(40)]
    df = _parquet_input(spark, tmp_path, rows, "g string, v double")
    arms = spark.createDataFrame([("a",), ("b",)], "g string")
    probes: list = []
    real = st._cells_fit

    def spy(*args, **kwargs):
        probes.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(st, "_cells_fit", spy)
    out = st.kruskal_wallis(df.join(arms, "g"), "g", "v").collect()
    assert len(probes) == 1 and out[0]["k"] == 2
    probes.clear()
    st.kruskal_wallis(df, "g", "v").collect()
    assert probes == []
