"""t-closeness invariants + EMD equivalence with scipy (SURVEY §2b C4/C9)."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark import (
    bin_equal_width,
    class_emd,
    k_anonymize_suppress,
    load_table,
    t_closeness_filter,
    t_violations,
)

QI = ["o_orderpriority", "price_bin"]
SENS = "o_orderstatus"


def _kanon(spark, sf):
    b = bin_equal_width(load_table(spark, sf, "orders"), "o_totalprice", 10, "price_bin")
    return k_anonymize_suppress(b, QI, 5)


def test_emd_matches_scipy(spark, sf001):
    """The window-cumsum EMD must equal scipy's wasserstein_distance on
    unit-spaced positions (the reference's exact call, t-closeness.py:81)."""
    scipy_stats = pytest.importorskip("scipy.stats")
    kanon = _kanon(spark, sf001).cache()
    emd_rows = {
        tuple(r[c] for c in QI): r["emd"] for r in class_emd(kanon, QI, SENS).collect()
    }
    pdf = kanon.toPandas()
    support = sorted(pdf[SENS].unique())
    positions = list(range(len(support)))
    gprobs = pdf[SENS].value_counts(normalize=True).reindex(support, fill_value=0).values
    for key, grp in pdf.groupby(QI):
        gp = grp[SENS].value_counts(normalize=True).reindex(support, fill_value=0).values
        expected = scipy_stats.wasserstein_distance(positions, positions, gprobs, gp)
        assert emd_rows[key] == pytest.approx(expected, abs=1e-9), key
    kanon.unpersist()


def test_emd_hand_computed(spark):
    """Degenerate class (100% one label) vs uniform global: EMD = 1.0 for
    3-value support — the §3.4 reproduction case shape."""
    df = spark.createDataFrame(
        [("g1", s) for s in ["A", "B", "C"] * 10] + [("g2", "A")] * 30,
        ["g", "s"],
    )
    emd = {r["g"]: r["emd"] for r in class_emd(df, ["g"], "s").collect()}
    # 60 rows: global = (40A,10B,10C)/60 = (2/3,1/6,1/6)
    # g2 = (1,0,0):      cumdiff = 1/3, 1/6 -> EMD 1/2
    # g1 = (1/3,1/3,1/3): cumdiff = -1/3, -1/6 -> EMD 1/2
    assert emd["g2"] == pytest.approx(0.5, abs=1e-9)
    assert emd["g1"] == pytest.approx(0.5, abs=1e-9)


def test_strict_filter_bounds_emd(spark, sf001):
    t = 0.05
    filtered = t_closeness_filter(
        bin_equal_width(load_table(spark, sf001, "orders"), "o_totalprice", 10, "price_bin"),
        QI,
        SENS,
        k=5,
        t=t,
        mode="strict",
    )
    # Post-condition against the *pre-filter* global distribution: every
    # surviving class had EMD <= t (recompute EMD of survivors vs the
    # k-anon global by reusing class_emd on the kanon relation).
    kanon = _kanon(spark, sf001)
    ok_classes = {
        tuple(r[c] for c in QI)
        for r in class_emd(kanon, QI, SENS).filter(F.col("emd") <= t).collect()
    }
    surviving = {tuple(r[c] for c in QI) for r in filtered.select(*QI).distinct().collect()}
    assert surviving == ok_classes
    assert 0 < len(surviving)
    # and some class was rejected (t chosen to discriminate)
    total = kanon.select(*QI).distinct().count()
    assert len(surviving) < total


def test_reference_mode_is_k_only(spark, sf001):
    b = bin_equal_width(load_table(spark, sf001, "orders"), "o_totalprice", 10, "price_bin")
    ref = t_closeness_filter(b, QI, SENS, k=5, t=0.05, mode="reference")
    kan = k_anonymize_suppress(b, QI, 5)
    assert ref.count() == kan.count()


def test_violations_consistency(spark, sf001):
    kanon = _kanon(spark, sf001)
    row = t_violations(kanon, QI, SENS, t=0.05).collect()[0]
    assert row.total_groups == kanon.select(*QI).distinct().count()
    assert 0 < row.violations < row.total_groups
    assert row.violation_rate == pytest.approx(row.violations / row.total_groups, abs=1e-9)


def test_l_diversity_postcondition(spark, sf001):
    from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_equal_width
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import l_diversity_filter
    from dbms_data_anonymity_differential_privacy_spark import load_table
    from pyspark.sql import functions as F

    o = bin_equal_width(load_table(spark, sf001, "orders"), "o_totalprice", 10, "price_bin")
    qi = ["o_orderpriority", "price_bin"]
    out = l_diversity_filter(o, qi, "o_orderstatus", l=2, k=5)
    stats = out.groupBy(*qi).agg(
        F.countDistinct("o_orderstatus").alias("nsv"), F.count(F.lit(1)).alias("sz")
    )
    bad = stats.filter((F.col("nsv") < 2) | (F.col("sz") < 5)).count()
    assert bad == 0
    assert 0 < out.count() <= o.count()
    assert out.columns == o.columns


def test_recursive_cl_diversity_filter(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
        recursive_cl_diversity_filter,
    )

    rows = (
        # class A: counts 4/2/1 -> r1=4, tail(l=2)=3 -> 4 < 2*3 KEEP
        [("A", "x")] * 4 + [("A", "y")] * 2 + [("A", "z")]
        # class B: counts 6/1 -> r1=6, tail=1 -> 6 < 2*1 false DROP
        + [("B", "x")] * 6 + [("B", "y")]
        # class C: single value -> empty tail -> DROP
        + [("C", "x")] * 5
    )
    df = spark.createDataFrame(rows, "g string, s string")
    kept = {r.g for r in recursive_cl_diversity_filter(df, ["g"], "s", c=2.0, l=2).collect()}
    assert kept == {"A"}
    # c large enough admits B too (6 < 7*1)
    kept7 = {r.g for r in recursive_cl_diversity_filter(df, ["g"], "s", c=7.0, l=2).collect()}
    assert kept7 == {"A", "B"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        recursive_cl_diversity_filter(df, ["g"], "s", c=2.0, l=1)
    with _pytest.raises(ValueError):
        recursive_cl_diversity_filter(df, ["g"], "s", c=0.0, l=2)


def test_entropy_l_diversity(spark):
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
        entropy_l_diversity_filter,
        l_diversity_entropy_stats,
    )

    rows = (
        # class U: uniform over 4 values -> H = ln 4
        [("U", v) for v in "abcd"] * 3
        # class S: skewed 9/1 -> H ~ 0.325 < ln 2
        + [("S", "a")] * 9 + [("S", "b")]
    )
    df = spark.createDataFrame(rows, "g string, s string")
    stats = {r.g: r for r in l_diversity_entropy_stats(df, ["g"], "s").collect()}
    assert stats["U"].n_distinct == 4 and stats["U"].class_size == 12
    assert stats["U"].entropy_r == round(math.log(4), 9)
    p = 0.9
    want = -(p * math.log(p) + 0.1 * math.log(0.1))
    assert stats["S"].entropy_r == round(want, 9)
    # entropy filter at l=2: U (ln4 >= ln2) kept, S dropped
    kept = {r.g for r in entropy_l_diversity_filter(df, ["g"], "s", l=2).collect()}
    assert kept == {"U"}
    # l=4: the exactly-uniform class sits ON the boundary and is kept
    # under the rounded >= comparison
    kept4 = {r.g for r in entropy_l_diversity_filter(df, ["g"], "s", l=4).collect()}
    assert kept4 == {"U"}


def test_ak_anonymity_audit_crafted(spark):
    """X101: a big homogeneous class fails alpha while passing k; a small
    diverse class fails k while passing alpha; a balanced class passes."""
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import ak_anonymity_audit

    rows = (
        [("g1", "flu")] * 6                      # size 6, all one value
        + [("g2", "flu"), ("g2", "cold")]        # size 2, balanced
        + [("g3", "flu")] * 3 + [("g3", "cold")] * 3  # size 6, 50/50
    )
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r.q: r for r in ak_anonymity_audit(df, ["q"], "s", k=5, alpha=0.5).collect()}
    assert out["g1"].k_ok and not out["g1"].alpha_ok and not out["g1"].ak_ok
    assert out["g1"].max_share_r == 1.0
    assert not out["g2"].k_ok and out["g2"].alpha_ok and not out["g2"].ak_ok
    # alpha boundary: max count 3 == 0.5 * 6 exactly -> ok (<=)
    assert out["g3"].k_ok and out["g3"].alpha_ok and out["g3"].ak_ok
    assert out["g3"].max_share_r == 0.5


def test_ak_anonymity_validation(spark):
    import pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import ak_anonymity_audit

    df = spark.createDataFrame([("a", "b")], "q string, s string")
    with pytest.raises(ValueError):
        ak_anonymity_audit(df, ["q"], "s", k=0)
    with pytest.raises(ValueError):
        ak_anonymity_audit(df, ["q"], "s", alpha=1.5)


def test_m_invariance_audit_crafted(spark):
    """X106: every status arm hit by construction."""
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import m_invariance_audit

    a = spark.createDataFrame(
        [("inv", "x"), ("inv", "y"),
         ("weak", "x"), ("weak", "x"),       # 1 distinct value, duplicated
         ("chg", "x"), ("chg", "y"),
         ("onlya", "x"), ("onlya", "y")],
        "q string, s string",
    )
    b = spark.createDataFrame(
        [("inv", "y"), ("inv", "x"),         # same signature, other order
         ("weak", "x"),
         ("chg", "x"), ("chg", "z"),         # signature differs
         ("onlyb", "x")],
        "q string, s string",
    )
    out = {r.q: r for r in m_invariance_audit(a, b, ["q"], "s", m=2).collect()}
    assert out["inv"].status == "invariant" and out["inv"].sig_a == "x,y"
    assert out["weak"].status == "weak" and out["weak"].m_a == 1
    assert out["chg"].status == "changed"
    assert out["onlya"].status == "only_a" and out["onlya"].sig_b is None
    assert out["onlyb"].status == "only_b"


def test_m_invariance_validation(spark):
    import pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import m_invariance_audit

    df = spark.createDataFrame([("q", "s")], "q string, s string")
    with pytest.raises(ValueError):
        m_invariance_audit(df, df, ["q"], "s", m=0)


# ---------------------------------------------------------------------------
# driver-side verdict (under spark.graft.broadcast.keyRowLimit) vs the
# distributed verdict (forced with a one-row limit)
# ---------------------------------------------------------------------------

LIMIT_CONF = "spark.graft.broadcast.keyRowLimit"


@contextmanager
def _distributed(spark):
    prev = spark.conf.get(LIMIT_CONF, None)
    spark.conf.set(LIMIT_CONF, "1")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(LIMIT_CONF)
        else:
            spark.conf.set(LIMIT_CONF, prev)


def _plan(df) -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(jmode)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _both_paths(spark, df, qi, sens, **kw):
    """(driver-path rows, distributed-path rows), each sorted; asserts
    each path really ran (an empty input has no distributed path: its
    zero counts rows are always under the limit)."""
    fast = t_closeness_filter(df, qi, sens, **kw)
    assert "LocalTableScan" in _plan(fast)
    with _distributed(spark):
        slow = t_closeness_filter(df, qi, sens, **kw)
        assert df.isEmpty() or "LocalTableScan" not in _plan(slow)
        slow_rows = _rows(slow)
    return _rows(fast), slow_rows


@pytest.mark.parametrize("mode", ["strict", "reference"])
def test_driver_verdict_matches_distributed_sf001(spark, sf001, mode):
    b = bin_equal_width(load_table(spark, sf001, "orders"), "o_totalprice", 10, "price_bin")
    for t in (0.0, 0.02, 0.05, 0.2):
        fast, slow = _both_paths(spark, b, QI, SENS, k=5, t=t, mode=mode)
        assert fast == slow, (mode, t)
    assert fast  # t=0.2 keeps classes


def _crafted(spark):
    rows = (
        [("a", "A")] * 3 + [("a", "B")] * 2 + [("a", None)]  # NULL sensitive value
        + [("b", None)] * 5                                    # all-NULL-sensitive class
        + [(None, "A")] * 6                                    # NULL QI
        + [("c", "C")]                                         # below k
        + [("d", "B")] * 4 + [("d", "C")] * 2
    )
    return spark.createDataFrame(rows, "g string, s string")


@pytest.mark.parametrize("mode", ["strict", "reference"])
def test_driver_verdict_null_edges(spark, mode):
    df = _crafted(spark)
    for t in (0.0, 0.1, 0.4, 1.0):
        fast, slow = _both_paths(spark, df, ["g"], "s", k=2, t=t, mode=mode)
        assert fast == slow, (mode, t)
        kept = {r[0] for r in fast}
        assert None not in kept and "c" not in kept
        # the all-NULL-sensitive class has EMD 0.0: kept for every t >= 0
        assert "b" in kept


def test_driver_verdict_single_value_support(spark):
    df = spark.createDataFrame(
        [("x", "A")] * 3 + [("y", "A")] * 2 + [("y", None)] + [("z", "A")],
        "g string, s string",
    )
    fast, slow = _both_paths(spark, df, ["g"], "s", k=2, t=0.0)
    assert fast == slow
    assert {r[0] for r in fast} == {"x", "y"}


def test_driver_verdict_empty_input(spark):
    df = spark.createDataFrame([], "g string, s string")
    for mode in ("strict", "reference"):
        fast, slow = _both_paths(spark, df, ["g"], "s", k=2, t=0.1, mode=mode)
        assert fast == slow == []


@pytest.mark.parametrize(
    "a_counts, t, kept",
    [
        # EMD = 1/1024 = 0.0009765625: HALF_UP to 9 dp is 0.000976563
        ((1, 3), 0.000976563, True),
        ((1, 3), 0.000976562, False),  # half-even would keep it
        # EMD = 1/2048 = 0.00048828125 rounds down onto t exactly
        ((1, 2), 0.000488281, True),  # unrounded would drop it
        ((1, 2), 0.00048828, False),
    ],
)
def test_driver_verdict_rounding_boundary(spark, a_counts, t, kept):
    """Two classes of 1024 rows over support {A, B}: EMD is |p_A - g_A|,
    a decimal-exact double sitting on the 9-dp rounding boundary of t."""
    rows = []
    for g, n_a in zip(("x", "y"), a_counts):
        rows += [(g, "A")] * n_a + [(g, "B")] * (1024 - n_a)
    df = spark.createDataFrame(rows, "g string, s string")
    fast, slow = _both_paths(spark, df, ["g"], "s", k=2, t=t)
    assert fast == slow
    assert ({r[0] for r in fast} == {"x", "y"}) is kept


def test_driver_verdict_numeric_qi_and_sensitive(spark):
    """Int/decimal/NaN keys group, sort and round-trip as Spark's do."""
    from decimal import Decimal

    nan = float("nan")
    rows = (
        [(1, Decimal("1.50"), nan)] * 3 + [(1, Decimal("1.50"), 2.0)] * 2
        + [(2, Decimal("0.10"), -1.0)] * 4 + [(2, Decimal("0.10"), nan)]
        + [(3, None, 2.0)] * 5
    )
    df = spark.createDataFrame(rows, "q int, d decimal(10,2), s double")
    for t in (0.0, 0.3, 1.0):
        fast, slow = _both_paths(spark, df, ["q", "d"], "s", k=2, t=t)
        assert repr(fast) == repr(slow), t  # repr: NaN == NaN


# ---------------------------------------------------------------------------
# bin_equal_width: literal bounds vs the cross-joined min/max formulation
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "ddl, values",
    [
        ("int", [0, 3, 7, 10, None, 5]),
        ("decimal(10,2)", ["1.00", "2.80", "3.75", "10.00", None]),
        ("double", [0.5, 1.25, 9.75, -3.0, None]),
        ("int", [None, None]),  # all NULL
        ("decimal(10,2)", ["4.20", "4.20", None]),  # constant
    ],
)
def test_bin_equal_width_matches_cross_join_form(spark, ddl, values):
    from decimal import Decimal

    from dbms_data_anonymity_differential_privacy_spark.functions.binning import (
        equal_width_bin_sql,
    )

    if ddl.startswith("decimal"):
        values = [None if v is None else Decimal(v) for v in values]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], f"id int, x {ddl}")
    got = {r.id: r.x_bin for r in bin_equal_width(df, "x", 4).collect()}
    df.createOrReplaceTempView("bin_src")
    want = {r.id: r.x_bin for r in spark.sql(equal_width_bin_sql("bin_src", "x", 4)).collect()}
    assert got == want
    assert dict(bin_equal_width(df, "x", 4).dtypes)["x_bin"] == "int"


def test_bin_equal_width_rejects_stream(spark):
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="batch DataFrame"):
        bin_equal_width(stream, "value", 5)
