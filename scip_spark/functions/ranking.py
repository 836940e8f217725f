"""Distributed exact global ranking — no single-partition window.

Spark's ``row_number() OVER (ORDER BY ...)`` (and NTILE, and any other
partition-less window) funnels the whole relation through ONE task: the
``WindowExec: No Partition Defined`` warning, a bottleneck/OOM at the
100 TB target. This module computes the *exact* same ranks with only
partitioned windows, tiny broadcast offset tables, and pure-function
bucketing, so it scales with executors.

Design (the pack_shards two-level prefix-sum generalized to arbitrary
order keys, scip_spark/functions/corpus.py:127):

1. Bucket each row by its order value against ``n_buckets`` approximate
   quantile boundaries (one small aggregate, broadcast). Bucketing is a
   PURE FUNCTION of the row — unlike ``repartitionByRange`` +
   ``spark_partition_id()``, a recomputation of any partition yields the
   same bucket, so correctness never depends on exchange reuse or cache
   retention.
2. Ties on the order value all fall in one value-bucket no matter how
   the quantiles land, so a low-cardinality key (e.g. order frequency:
   ~50 distinct values over billions of customers) would still build a
   giant window partition. Sub-bucket ties by the unique tiebreak
   column against its own quantile boundaries: window partitions are
   ``(value, sub_bucket)`` — bounded for ANY value distribution.
3. ``row_number`` within ``(value, sub_bucket)`` ordered by the
   tiebreak gives the local rank; a per-``(value, sub_bucket)`` count
   relation (ties COMPRESS: a billion-row tie group contributes at most
   ``n_buckets`` rows) yields exclusive prefix offsets via a window
   partitioned by value-bucket plus an ``n_buckets``-row offset table
   built with a broadcast theta self-join — no partition-less window
   anywhere in the construction.
4. global_rank = offset(value, sub_bucket) + local_rank. The offsets
   join reuses the window's hash partitioning on (value, sub_bucket) —
   one wide exchange of the data total.

Correctness requires the tiebreak to be unique per row (callers use a
key column) and both columns non-null — the (ORDER BY v, tiebreak)
order is total, so ranks are engine-exact and match a DuckDB
ROW_NUMBER/NTILE oracle bit-for-bit.

Parallelism bound, stated honestly: the DATA always flows through
full-width (value, sub-bucket) partitions, but the exclusive-prefix
stage over the counts relation runs ``n_buckets`` concurrent tasks,
each sorting ~|distinct (value, sub)| / n_buckets count rows. Ties
compress that relation (a billion-row tie group is <= n_buckets
rows), so it only grows with distinct ORDER VALUES.

Replaces the reference's single-node sorted quantile/rank primitives
(numpy sort semantics, reference src/scip/features/intensity.py) with a
cluster-safe construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window as W

__all__ = ["with_global_rank", "with_ntile", "exact_rank_row"]


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def with_global_rank(
    df: DataFrame,
    order,
    tiebreak,
    out_col: str = "global_rank",
    n_buckets: int = 64,
    total_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` = exact 1-based rank under (order ASC, tiebreak
    ASC) — the distributed equivalent of
    ``row_number().over(Window.orderBy(order, tiebreak))``.

    ``order`` and ``tiebreak`` must be numeric, non-null expressions;
    ``tiebreak`` must be unique within each ``order`` group (use a row
    key). For DESC semantics pass the negated column. When
    ``total_col`` is given, the total row count is attached to every
    row (broadcast 1-row cross join) — callers computing rank
    thresholds (median, NTILE) need it.
    """
    # exact columns drive ordering/partitioning; the double casts are
    # used ONLY for quantile bucketing (monotone, equal-preserving —
    # bucket boundaries need no precision, ranks stay engine-exact)
    d = (
        df.withColumn("__gr_v", _col(order))
        .withColumn("__gr_t", _col(tiebreak))
        .withColumn("__gr_vd", _col(order).cast("double"))
        .withColumn("__gr_td", _col(tiebreak).cast("double"))
    )
    if n_buckets < 2:
        raise ValueError(
            f"with_global_rank: n_buckets must be >= 2, got {n_buckets} "
            "(the coarse probe needs at least one boundary)"
        )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # accuracy only shapes bucket BALANCE, never rank correctness: any
    # boundary placement yields exact ranks. 2*n_buckets keeps adjacent
    # GK boundaries mostly distinct; collisions just merge buckets
    bounds = d.agg(
        F.percentile_approx("__gr_vd", probs, max(1000, 2 * n_buckets)).alias(
            "__gr_vbs"
        ),
        F.percentile_approx("__gr_td", probs, 1000).alias("__gr_tbs"),
    )
    d = (
        d.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__gr_vf",
            F.coalesce(F.expr("size(filter(__gr_vbs, x -> x <= __gr_vd))"), F.lit(0)),
        )
        .withColumn(
            "__gr_sub",
            F.coalesce(F.expr("size(filter(__gr_tbs, x -> x <= __gr_td))"), F.lit(0)),
        )
        .drop("__gr_vbs", "__gr_tbs", "__gr_vd", "__gr_td")
    )
    # local rank within (value, tie-sub-bucket): bounded partitions for
    # any distribution (ties split by tiebreak quantiles)
    w_local = W.partitionBy("__gr_v", "__gr_sub").orderBy("__gr_t")
    local = d.withColumn("__gr_lrn", F.row_number().over(w_local))
    # exclusive prefix offsets over the (value, sub) count relation —
    # ties compress to <= n_buckets rows per distinct value
    counts = d.groupBy("__gr_vf", "__gr_v", "__gr_sub").agg(
        F.count("*").alias("__gr_c")
    )
    w_in_vf = (
        W.partitionBy("__gr_vf")
        .orderBy("__gr_v", "__gr_sub")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    counts = counts.withColumn(
        "__gr_locoff", F.coalesce(F.sum("__gr_c").over(w_in_vf), F.lit(0))
    )
    # value-bucket totals (<= n_buckets rows): exclusive prefix via a
    # broadcast theta self-join (<= n_buckets^2 pairs) — NO window at
    # all in that last step, so nothing in this construction ever logs
    # "WindowExec: No Partition Defined"
    vf_tot = counts.groupBy("__gr_vf").agg(F.sum("__gr_c").alias("__gr_vfc"))
    prior = vf_tot.select(
        F.col("__gr_vf").alias("__gr_pvf"), F.col("__gr_vfc").alias("__gr_pc")
    )
    vf_off = (
        vf_tot.join(F.broadcast(prior), F.col("__gr_pvf") < F.col("__gr_vf"), "left")
        .groupBy("__gr_vf")
        .agg(F.coalesce(F.sum("__gr_pc"), F.lit(0)).alias("__gr_vfbase"))
    )
    offsets = (
        counts.join(F.broadcast(vf_off), "__gr_vf")
        .select(
            "__gr_v",
            "__gr_sub",
            (F.col("__gr_vfbase") + F.col("__gr_locoff")).alias("__gr_off"),
        )
    )
    # join keys == the window's partition keys: Catalyst reuses the
    # hash partitioning, so the data shuffles once total
    ranked = local.join(offsets, ["__gr_v", "__gr_sub"]).withColumn(
        out_col, (F.col("__gr_off") + F.col("__gr_lrn")).cast("long")
    )
    if total_col is not None:
        total = vf_tot.agg(F.sum("__gr_vfc").cast("long").alias(total_col))
        ranked = ranked.crossJoin(F.broadcast(total))
    return ranked.drop("__gr_v", "__gr_t", "__gr_vf", "__gr_sub", "__gr_lrn", "__gr_off")


def with_ntile(
    df: DataFrame,
    n_tiles: int,
    order,
    tiebreak,
    out_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Add ``out_col`` = exact NTILE(n_tiles) under (order ASC, tiebreak
    ASC) without a global sort — SQL-standard NTILE semantics (the
    first ``n mod t`` tiles get the extra row), computed closed-form
    from the distributed exact rank.
    """
    ranked = with_global_rank(
        df, order, tiebreak, out_col="__nt_rn", n_buckets=n_buckets, total_col="__nt_n"
    )
    t = int(n_tiles)
    # n = q*t + rem; tiles 1..rem have q+1 rows, tiles rem+1..t have q.
    # rank r -> tile: ceil(r/(q+1)) in the fat region, else
    # rem + ceil((r - rem*(q+1))/q). greatest(q,1) guards q=0 (n < t),
    # where the fat region covers every row and the branch is dead.
    tile = F.expr(
        f"""CASE WHEN __nt_rn <= (__nt_n % {t}) * (__nt_n DIV {t} + 1)
             THEN (__nt_rn + __nt_n DIV {t}) DIV (__nt_n DIV {t} + 1)
             ELSE __nt_n % {t}
                  + (__nt_rn - (__nt_n % {t}) * (__nt_n DIV {t} + 1)
                     + greatest(__nt_n DIV {t}, 1) - 1)
                    DIV greatest(__nt_n DIV {t}, 1)
             END"""
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop("__nt_rn", "__nt_n")


def exact_rank_row(
    df: DataFrame, order, tiebreak, rank_expr: str, n_buckets: int = 64
) -> DataFrame:
    """Rows whose exact global rank satisfies ``rank_expr`` (a SQL
    boolean over columns ``rn`` and ``n``) — e.g. the exact lower
    median is ``rank_expr='rn = (n + 1) DIV 2'``. Two distributed
    passes, no single-partition window, no driver collect.
    """
    ranked = with_global_rank(
        df, order, tiebreak, out_col="rn", n_buckets=n_buckets, total_col="n"
    )
    return ranked.filter(F.expr(rank_expr))


def exact_values_at_fracs(
    df: DataFrame,
    value,
    fracs: list[float],
    n_ranges: int = 64,
    max_local: int = 65536,
    max_iter: int = 40,
) -> dict[float, int]:
    """Exact value at rank ceil(frac * n) for each frac — distributed
    selection (Blum et al. / Hoare's find generalized): iteratively
    count rows per equal-width value range, keep the range containing
    the target rank, repeat. Integer-valued columns only.

    Each pass is one scan + a 1-row/``n_ranges``-row aggregate; driver
    state is O(n_ranges); passes are O(log(range width)) — at 100 TB
    that's ~3-6 cheap count scans per cut instead of ranking the whole
    relation (with_global_rank) or buffering a group (exact
    percentile UDAF). Equal-width splitting converges on any
    distribution: a range of identical values collapses to lo == hi.

    Returns {frac: value}. ``value`` must be non-null integral.
    """
    v = _col(value)
    d = df.select(v.cast("long").alias("__sv")).persist()
    try:
        # one pass for n/min/max, shared by every frac
        row = d.agg(
            F.count("*").alias("n"),
            F.min("__sv").alias("lo"),
            F.max("__sv").alias("hi"),
        ).collect()[0]
        n = row.n
        if n == 0:
            return {}
        import math

        out: dict[float, int] = {}
        for frac in fracs:
            target = max(1, math.ceil(frac * n))
            offset = 0  # rows strictly below current [lo, hi] range
            cnt = n  # rows inside current [lo, hi]
            lo, hi = row.lo, row.hi
            for _ in range(max_iter):
                if lo == hi:
                    out[frac] = lo
                    break
                if cnt <= max_local:
                    vals = sorted(
                        r["__sv"]
                        for r in d.filter(
                            (F.col("__sv") >= lo) & (F.col("__sv") <= hi)
                        ).collect()
                    )
                    out[frac] = vals[target - offset - 1]
                    break
                # one scan: count per equal-width sub-range (the range
                # total falls out as the sum — no separate count pass).
                # Integer bucket arithmetic throughout so the
                # per-bucket value range below is exact (no
                # float-boundary drift); (v - lo) * n_ranges stays well
                # under 2^63 for any 48-bit-ish value domain (cents,
                # counts, ids)
                width = hi - lo + 1
                b = F.expr(f"((__sv - ({lo})) * {n_ranges}) DIV {width}")
                counts = (
                    d.filter((F.col("__sv") >= lo) & (F.col("__sv") <= hi))
                    .groupBy(b.alias("b"))
                    .agg(F.count("*").alias("c"))
                    .collect()
                )
                acc = offset
                for rb in sorted(counts, key=lambda r: r.b):
                    if acc + rb.c >= target:
                        # bucket b holds v with (v-lo)*R DIV w == b,
                        # i.e. v-lo in [ceil(b*w/R), ceil((b+1)*w/R)-1]
                        lo2 = lo + (rb.b * width + n_ranges - 1) // n_ranges
                        hi2 = lo + ((rb.b + 1) * width + n_ranges - 1) // n_ranges - 1
                        lo, hi = max(lo, lo2), min(hi, hi2)
                        offset = acc
                        cnt = rb.c
                        break
                    acc += rb.c
            else:  # pragma: no cover — max_iter exhausted (can't happen:
                # the range halves every pass)
                raise RuntimeError("selection did not converge")
        return out
    finally:
        d.unpersist()
