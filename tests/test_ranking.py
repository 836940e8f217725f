"""Distributed exact rank / NTILE (functions/ranking.py) vs Spark's own
partition-less window on adversarial distributions: the construction
must be bit-identical to ``row_number()/ntile() OVER (ORDER BY ...)``
while never building a single-partition window over the data."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from scip_spark.functions.ranking import exact_rank_row, with_global_rank, with_ntile


def _make(spark, pairs):
    return spark.createDataFrame(
        [(float(v), int(k)) for v, k in pairs], "v double, k long"
    )


def _cases():
    rng = random.Random(7)
    return {
        # every order value identical: worst-case tie skew — the
        # sub-bucketing by tiebreak is what keeps partitions bounded
        "all_ties": [(1.0, k) for k in range(500)],
        # all unique values
        "unique": [(rng.uniform(-100, 100), k) for k in range(500)],
        # low-cardinality (5 distinct values, 100 rows each)
        "low_card": [(float(k % 5), k) for k in range(500)],
        # fewer rows than tiles
        "tiny": [(3.0, 1), (1.0, 2), (2.0, 3)],
        # single row
        "one": [(9.0, 42)],
        # negative + duplicated values, shuffled keys
        "mixed": [(float(rng.choice([-3, -1, 0, 2, 2, 7])), k) for k in rng.sample(range(1000), 400)],
        # heavy tie groups overlapping near-unique runs
        "ties_and_runs": [
            (v, k)
            for k, v in enumerate([5] * 40 + list(range(100)) + [7] * 25 + list(range(50, 90)))
        ],
    }


@pytest.mark.parametrize("case", sorted(_cases()))
def test_global_rank_matches_window(spark, case):
    df = _make(spark, _cases()[case])
    got = with_global_rank(df, "v", "k", out_col="rn", n_buckets=8, total_col="n")
    want = df.withColumn("rn", F.row_number().over(W.orderBy("v", "k")))
    g = {(r["v"], r["k"]): r["rn"] for r in got.collect()}
    w = {(r["v"], r["k"]): r["rn"] for r in want.collect()}
    assert g == w
    n = df.count()
    assert {r["n"] for r in got.collect()} == ({n} if n else set())


@pytest.mark.parametrize("case", sorted(_cases()))
@pytest.mark.parametrize("tiles", [4, 7])
def test_ntile_matches_window(spark, case, tiles):
    df = _make(spark, _cases()[case])
    got = with_ntile(df, tiles, "v", "k", out_col="t", n_buckets=8)
    want = df.withColumn("t", F.ntile(tiles).over(W.orderBy("v", "k")))
    g = {(r["v"], r["k"]): r["t"] for r in got.collect()}
    w = {(r["v"], r["k"]): r["t"] for r in want.collect()}
    assert g == w


def test_exact_median_row(spark):
    df = _make(spark, [(float(v), v) for v in range(1, 102)])  # 1..101
    med = exact_rank_row(df, "v", "k", rank_expr="rn = (n + 1) DIV 2", n_buckets=8)
    rows = med.collect()
    assert len(rows) == 1 and rows[0]["v"] == 51.0


def test_empty_input(spark):
    df = _make(spark, []).filter("v > 0")
    assert with_global_rank(df, "v", "k", out_col="rn").count() == 0
    assert with_ntile(df, 4, "v", "k", out_col="t").count() == 0


def test_no_partitionless_window_in_plan(spark):
    """The construction's own physical plan must not contain a window
    without a partition spec (the thing it exists to avoid)."""
    df = _make(spark, [(float(k % 3), k) for k in range(100)])
    plan = with_ntile(df, 4, "v", "k", out_col="t")._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            # partition-less specs start the spec with an ordered
            # (ASC/DESC-marked) expression instead of partition columns
            spec = line.split("windowspecdefinition(", 1)[1]
            first_arg = spec.split(",", 1)[0]
            assert " ASC" not in first_arg and " DESC" not in first_arg, line


def test_exact_values_at_fracs_matches_sorted_rank(spark):
    from pyspark.sql import functions as F

    from scip_spark.functions.ranking import exact_values_at_fracs

    df = spark.range(1, 1001).select((F.col("id") * 3).alias("v"))
    got = exact_values_at_fracs(df, "v", [0.01, 0.5, 0.99], max_local=50)
    # value at rank ceil(f*1000) of 3..3000
    assert got == {0.01: 30, 0.5: 1500, 0.99: 2970}


def test_exact_values_at_fracs_duplicates_and_negatives(spark):
    from scip_spark.functions.ranking import exact_values_at_fracs

    rows = [(-5,)] * 100 + [(2,)] * 300 + [(9,)] * 600
    df = spark.createDataFrame(rows, "v long")
    got = exact_values_at_fracs(df, "v", [0.05, 0.1, 0.4, 0.41, 1.0], max_local=10)
    assert got == {0.05: -5, 0.1: -5, 0.4: 2, 0.41: 9, 1.0: 9}

    const = spark.createDataFrame([(7,)] * 500, "v long")
    assert exact_values_at_fracs(const, "v", [0.5], max_local=10)[0.5] == 7


def test_exact_values_at_fracs_random_multisets(spark):
    """Randomized cross-check: the distributed selection must return
    the value at rank ceil(f*n) of the sorted multiset for arbitrary
    duplicated/negative/clustered data (driver-side ground truth).
    Deterministic seed; many shapes in one Spark session for speed."""
    import math

    rng = random.Random(1234)
    from scip_spark.functions.ranking import exact_values_at_fracs

    for trial in range(8):
        n = rng.randint(1, 400)
        style = trial % 4
        if style == 0:
            vals = [rng.randint(-50, 50) for _ in range(n)]
        elif style == 1:
            vals = [rng.choice([7, 7, 7, -2, 1000]) for _ in range(n)]
        elif style == 2:
            vals = [rng.randint(0, 3) * 10**9 for _ in range(n)]
        else:
            vals = [trial] * n
        fracs = sorted({rng.random() for _ in range(3)} | {0.5, 1.0})
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = exact_values_at_fracs(df, "v", fracs, max_local=16, n_ranges=4)
        s = sorted(vals)
        for f in fracs:
            want = s[max(1, math.ceil(f * n)) - 1]
            assert got[f] == want, (trial, f, n, got[f], want)


def _dyadic_rows(df):
    return sorted(map(tuple, df.collect()))


def test_dyadic_sketch_merge_equals_direct(spark):
    """The dyadic histogram's merge is a true semilattice: sketching
    arbitrary partitions of the data and merging must be BIT-identical
    to sketching the union directly (module-level proof in
    functions/dyadic.py) — including when parts land on different
    levels."""
    import numpy as np

    from pyspark.sql import functions as F

    from scip_spark.functions.dyadic import dyadic_merge, dyadic_sketch

    rng = np.random.default_rng(21)
    rows = []
    for g in ("a", "b"):
        # group a: wide spread (coarse level); group b: tight cluster
        base = 0 if g == "a" else 100000
        spread = 3_000_000 if g == "a" else 300
        for v in (base + rng.random(400) * spread):
            rows.append((g, float(v)))
    df = spark.createDataFrame(rows, ["g", "v"]).withColumn(
        "part", F.pmod(F.xxhash64("v"), F.lit(3))
    )
    cell = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")
    direct = dyadic_sketch(df, cell, ["g"], k=32, max_level=24)
    parts = [
        dyadic_sketch(df.filter(F.col("part") == p), cell, ["g"], k=32, max_level=24)
        for p in range(3)
    ]
    stacked = parts[0].unionByName(parts[1]).unionByName(parts[2])
    merged = dyadic_merge(stacked, ["g"], k=32, max_level=24)
    assert _dyadic_rows(merged) == _dyadic_rows(direct)
    # associativity: merge(merge(p0, p1), p2) — re-merging a merged
    # sketch with a further part must also land on the direct result
    m01 = dyadic_merge(parts[0].unionByName(parts[1]), ["g"], k=32, max_level=24)
    m012 = dyadic_merge(m01.unionByName(parts[2]), ["g"], k=32, max_level=24)
    assert _dyadic_rows(m012) == _dyadic_rows(direct)


def test_dyadic_sketch_size_and_level_bounds(spark):
    from pyspark.sql import functions as F

    from scip_spark.functions.dyadic import dyadic_sketch

    df = spark.range(5000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.xxhash64("id") % 10_000_000).alias("raw"),
    ).select("g", F.abs("raw").alias("cellv"))
    sk = dyadic_sketch(df, F.col("cellv"), ["g"], k=64, max_level=24)
    sizes = {r["g"]: r["n"] for r in sk.groupBy("g").agg(
        F.count("*").alias("n")).collect()}
    assert sizes and all(n <= 64 for n in sizes.values()), sizes
    # counts are exact: totals match the input
    totals = {r["g"]: r["t"] for r in sk.groupBy("g").agg(
        F.sum("cnt").alias("t")).collect()}
    want = {r["g"]: r["t"] for r in df.groupBy("g").agg(
        F.count("*").alias("t")).collect()}
    assert totals == want


def test_dyadic_quantiles_beat_bottomk_at_equal_size(spark):
    """At equal struct budget k, the dyadic histogram's median rank
    error (bounded by one cell's count) must beat the bottom-k row
    sample's realized rank error on a smooth distribution — the
    verdict-7 'KLL beats bottom-k at equal size' criterion, fulfilled
    by the deterministic q-digest-class design."""
    import numpy as np

    from pyspark.sql import functions as F

    from scip_spark.functions.dyadic import (
        dyadic_quantile_cells,
        dyadic_sketch,
    )
    from scip_spark.functions.quantiles import qsketch, qsketch_quantile, qsketch_values

    k = 64
    rng = np.random.default_rng(7)
    vals = np.sort(rng.random(20000) * 1_000_000)
    df = spark.createDataFrame([(float(v),) for v in vals], ["v"]).withColumn(
        "g", F.lit("all")
    )
    n = len(vals)

    cell = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")
    sk = dyadic_sketch(df, cell, ["g"], k=k, max_level=31)
    [hit] = dyadic_quantile_cells(sk, ["g"], [0.5]).collect()
    # the sketch's own guarantee: the true median's grid cell is within
    # rank_slack of the answer; realized error vs exact rank:
    lo, hi = hit["lo_grid"] / 100.0, hit["hi_grid"] / 100.0
    dy_err = max(
        0,
        int(np.searchsorted(vals, lo, "left") - n // 2),
        int(n // 2 - np.searchsorted(vals, hi, "right")),
    )
    assert hit["rank_slack"] <= 2 * n / k + 1  # ~N/k cells on smooth data
    assert dy_err <= hit["rank_slack"]

    bk = qsketch(df, "v", F.col("v").cast("string"), k=k).select(
        qsketch_quantile(qsketch_values("qsk"), 0.5).alias("m")
    )
    bk_med = bk.collect()[0]["m"]
    bk_err = abs(int(np.searchsorted(vals, bk_med)) - n // 2)
    assert hit["rank_slack"] < bk_err, (hit["rank_slack"], bk_err)


def test_dyadic_overflow_group_falls_back_to_max_level(spark):
    """ADVICE r8: a group whose histogram exceeds k cells even at
    max_level must NOT vanish — it falls back to the coarsest level
    (level = max_level, possibly > k cells) with exact counts, and the
    merge still lands bit-identically on the direct sketch."""
    from pyspark.sql import functions as F

    from scip_spark.functions.dyadic import dyadic_merge, dyadic_sketch

    # 40 cells spread so far apart that even cell >> 3 keeps >k of
    # them distinct: with k=8, max_level=3 no level fits.
    df = spark.range(40).select(
        F.lit("g").alias("g"),
        (F.col("id") * 1000).alias("cellv"),
        (F.col("id") % 2).alias("part"),
    )
    sk = dyadic_sketch(df, F.col("cellv"), ["g"], k=8, max_level=3)
    rows = sk.collect()
    assert rows, "overflow group must not be dropped"
    assert all(r["level"] == 3 for r in rows)
    assert sum(r["cnt"] for r in rows) == 40  # counts stay exact
    parts = [
        dyadic_sketch(
            df.filter(F.col("part") == p), F.col("cellv"), ["g"],
            k=8, max_level=3,
        )
        for p in range(2)
    ]
    merged = dyadic_merge(
        parts[0].unionByName(parts[1]), ["g"], k=8, max_level=3
    )
    assert _dyadic_rows(merged) == _dyadic_rows(sk)


def test_dyadic_quantile_off_grid_q_rejected(spark):
    """ADVICE r8: qs off the 1/q_scale grid raise instead of being
    silently rounded; a finer q_scale admits them exactly."""
    import pytest

    from pyspark.sql import functions as F

    from scip_spark.functions.dyadic import (
        dyadic_quantile_cells,
        dyadic_sketch,
    )

    df = spark.range(100).select(
        F.lit("g").alias("g"), F.col("id").alias("cellv")
    )
    sk = dyadic_sketch(df, F.col("cellv"), ["g"], k=128, max_level=8)
    with pytest.raises(ValueError, match="not on the 1/100 grid"):
        dyadic_quantile_cells(sk, ["g"], [0.999])
    with pytest.raises(ValueError, match="not on the 1/100 grid"):
        dyadic_quantile_cells(sk, ["g"], [0.125])
    # 0.3 is fine (30% exactly, despite 0.3*100 != 30.0 in floats)
    [r30] = dyadic_quantile_cells(sk, ["g"], [0.3]).collect()
    assert r30["q_pct"] == 30
    # basis-point scale admits 0.125 exactly: q_pct carries 1250
    [r125] = dyadic_quantile_cells(
        sk, ["g"], [0.125], q_scale=10_000
    ).collect()
    assert r125["q_pct"] == 1250
    # k=128 > 100 cells: level 0, cells are the values themselves;
    # ceil(0.125*100)=13th value (cell 12), ceil(0.3*100)=30th (cell 29)
    assert r125["lo_grid"] == 12 and r30["lo_grid"] == 29


def test_dyadic_quantile_exact_integer_rank(spark):
    """Code-review r9: the rank test is exact integer arithmetic —
    q=0.28 over n=25 values must hit rank ceil(7.0)=7, where the float
    form 0.28*25 = 7.000000000000001 would ceil to 8."""
    from pyspark.sql import functions as F

    from scip_spark.functions.dyadic import (
        dyadic_quantile_cells,
        dyadic_sketch,
    )

    df = spark.range(1, 26).select(
        F.lit("g").alias("g"), F.col("id").alias("cellv")
    )
    sk = dyadic_sketch(df, F.col("cellv"), ["g"], k=64, max_level=8)
    [hit] = dyadic_quantile_cells(sk, ["g"], [0.28]).collect()
    # level 0 (25 cells < k): the 7th value is cell 7
    assert hit["lo_grid"] == 7, hit


def test_dyadic_merge_equals_direct_randomized_overflow_mix(spark):
    """Randomized merge==direct sweep over configs where some groups
    fit and others overflow even at max_level (the fallback proof:
    a part that falls back forces the union to fall back, since part
    cells are a subset of union cells at every level)."""
    import numpy as np

    from pyspark.sql import functions as F

    from scip_spark.functions.dyadic import dyadic_merge, dyadic_sketch

    rng = np.random.default_rng(77)
    rows = []
    for g, spread in [("fit", 8), ("wide", 50_000), ("mid", 600)]:
        for i in range(120):
            rows.append((g, int(rng.integers(0, spread)) , int(i % 3)))
    df = spark.createDataFrame(rows, "g string, cellv long, part int")
    for k, lmax in [(8, 3), (16, 6), (8, 10)]:
        direct = dyadic_sketch(df, F.col("cellv"), ["g"], k=k, max_level=lmax)
        parts = [
            dyadic_sketch(
                df.filter(F.col("part") == p), F.col("cellv"), ["g"],
                k=k, max_level=lmax,
            )
            for p in range(3)
        ]
        merged = dyadic_merge(
            parts[0].unionByName(parts[1]).unionByName(parts[2]),
            ["g"], k=k, max_level=lmax,
        )
        assert _dyadic_rows(merged) == _dyadic_rows(direct), (k, lmax)
        # no group ever vanishes
        assert {r["g"] for r in direct.select("g").distinct().collect()} == {
            "fit", "wide", "mid"
        }


def test_balanced_range_splits_match_pure_python(spark):
    """The planner's boundaries and realized bucket counts must equal
    the pure-Python sort-based reference exactly, cover all rows, and
    be near-balanced (each bucket within 2x of the ideal share on
    this tie-light price data)."""
    import math

    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.ops_queries import _RS_K
    from scip_spark.queries import REGISTRY, tbl as _tbl

    sf = "/root/testdata/sf0.001"
    out = sorted(
        REGISTRY["balanced_range_splits"].fn(spark, sf).collect(),
        key=lambda r: r["bucket_id"],
    )
    vals = sorted(
        int(round(r["l_extendedprice"] * 100))
        for r in _tbl(spark, sf, "lineitem").select("l_extendedprice").collect()
    )
    n = len(vals)
    bounds = [vals[math.ceil(i * n / _RS_K) - 1] for i in range(1, _RS_K)]
    counts = [0] * _RS_K
    for v in vals:
        counts[sum(1 for b in bounds if v > b)] += 1
    want = [
        (i, counts[i], bounds[i] if i < _RS_K - 1 else None)
        for i in range(_RS_K) if counts[i] > 0
    ]
    assert [(r["bucket_id"], r["n_rows"], r["upper_cents"]) for r in out] == want
    assert sum(r["n_rows"] for r in out) == n
    ideal = math.ceil(n / _RS_K)
    assert max(r["n_rows"] for r in out) <= 2 * ideal
    assert bounds == sorted(bounds)
