"""Advanced relational operators beyond the reference's surface
(SURVEY §2.5 notes the engine exposes Spark's full relational layer;
these are the patterns a 100 TB warehouse actually runs).

Determinism rules as in scip_spark.queries: decimal sums, string
dates, total tie-breaks, engine-neutral formulations.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from scip_spark.queries import DEC, dsum, register, tbl

# One cached relation per (session, slot): re-invoking a query that
# persists an intermediate (rfm_segmentation) unpersists the previous
# copy first, so repeated calls (bench warm+timed rounds, plan tests,
# scale probe) never accumulate executor storage. The evicted plan
# stays CORRECT for any still-live DataFrame - Spark recomputes it.
_PERSIST_SLOTS: dict = {}


def _bounded_persist(slot: str, df):
    key = (df.sparkSession.sparkContext.applicationId, slot)
    prev = _PERSIST_SLOTS.get(key)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    _PERSIST_SLOTS[key] = df.persist()
    return df


# ---------------------------------------------------------------------------
# As-of join: for each purchase, the user's most recent prior click.
# Spark lacks a native as-of join — the scalable form is a window
# carry-forward (single shuffle on user_id), not a per-row subquery.
# ---------------------------------------------------------------------------
@register(
    "asof_join_events",
    """
    WITH ordered AS (
      SELECT event_id, user_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
      FROM events
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           strftime(prev_click_ts, '%Y-%m-%d %H:%M:%S') AS prev_click_ts,
           CAST((epoch_us(ts) - epoch_us(prev_click_ts)) // 1000000 AS BIGINT) AS gap_seconds
    FROM ordered
    WHERE event_type = 'purchase'
    """,
    doc="as-of join via window carry-forward (no native asof in Spark)",
)
def asof_join_events(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prev_click_ts", prev_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.date_format("prev_click_ts", "yyyy-MM-dd HH:mm:ss").alias("prev_click_ts"),
            F.expr(
                "(unix_micros(ts) - unix_micros(prev_click_ts)) DIV 1000000"
            ).alias("gap_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# Range join via bucketization: quantity bands × lineitems.
# The generic trick for interval joins at scale: discretize the range
# key, equi-join on the bucket, post-filter — keeps the join hash-based.
# ---------------------------------------------------------------------------
@register(
    "range_join_quantity_bands",
    """
    WITH bands AS (
      SELECT band_id, band_id * 10.0 AS lo, (band_id + 1) * 10.0 AS hi
      FROM (SELECT UNNEST(generate_series(0, 9)) AS band_id)
    )
    SELECT b.band_id, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem l JOIN bands b
      ON CAST(floor(l.l_quantity / 10.0) AS BIGINT) = b.band_id
    WHERE l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band_id
    """,
    doc="range join via bucketize + equi-join + residual filter",
)
def range_join_quantity_bands(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    bands = (
        tbl(spark, sf_dir, "region")  # any session; use spark.range instead
        .sparkSession.range(0, 10)
        .select(
            F.col("id").alias("band_id"),
            (F.col("id") * 10.0).alias("lo"),
            ((F.col("id") + 1) * 10.0).alias("hi"),
        )
    )
    joined = li.join(
        F.broadcast(bands),
        F.floor(F.col("l_quantity") / 10.0).cast("long") == F.col("band_id"),
    ).filter((F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")))
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# CUBE / ROLLUP (grouping sets)
# ---------------------------------------------------------------------------
@register(
    "cube_returnflag_linestatus",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="cube aggregation (grouping sets)",
)
def cube_returnflag_linestatus(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").cast("double").alias("sum_qty")
    )


@register(
    "rollup_order_date",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (y, q)
    """,
    doc="rollup over a calendar hierarchy",
)
def rollup_order_date(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("y"),
            F.quarter("o_orderdate").cast("int").alias("q"),
            "o_totalprice",
        )
        .rollup("y", "q")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").cast("double").alias("total"))
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@register(
    "set_ops_customers",
    """
    SELECT 'both' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'only_rich' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    doc="intersect / except set operations",
)
def set_ops_customers(spark, sf_dir):
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    rich = cust.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey"))
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = rich.intersect(open_orders).select(F.lit("both").alias("tag"), "c_custkey")
    only = rich.exceptAll(open_orders).distinct().select(
        F.lit("only_rich").alias("tag"), "c_custkey"
    )
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------
@register(
    "semi_anti_join",
    """
    SELECT 'active' AS tag, COUNT(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'inactive' AS tag, COUNT(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left-semi / left-anti joins",
)
def semi_anti_join(spark, sf_dir):
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders").select("o_custkey")
    active = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    inactive = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    a = active.agg(F.count("*").alias("n")).select(F.lit("active").alias("tag"), "n")
    b = inactive.agg(F.count("*").alias("n")).select(F.lit("inactive").alias("tag"), "n")
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Exact discrete quantiles via rank (engine-neutral: no interpolation
# formula dependence).
# ---------------------------------------------------------------------------
@register(
    "median_price_by_flag",
    """
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           l_extendedprice AS median_disc,
           n AS group_size
    FROM ranked
    WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    """,
    doc="exact discrete median via rank (engine-neutral quantile)",
)
def median_price_by_flag(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wc = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("median_disc"),
        F.col("n").alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Window analytics: lag gaps + ntile
# ---------------------------------------------------------------------------
@register(
    "order_gaps_ntile",
    """
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev,
           CAST(NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT)
             AS price_quartile
    FROM orders
    WHERE o_custkey < 100
    """,
    doc="lag-based gap analysis + ntile quartiles",
)
def order_gaps_ntile(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w_t = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_p = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w_t))
        .cast("long")
        .alias("days_since_prev"),
        F.ntile(4).over(w_p).cast("int").alias("price_quartile"),
    )


# ---------------------------------------------------------------------------
# String / conditional-aggregation function surface
# ---------------------------------------------------------------------------
@register(
    "string_functions_part",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           replace(p_type, ' ', '_') AS type_snake,
           CAST(length(p_name) AS INT) AS name_len,
           substr(p_name, 1, 5) AS name5,
           CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
           concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size
    FROM part
    """,
    doc="string scalar-function surface",
)
def string_functions_part(spark, sf_dir):
    part = tbl(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.when(F.col("p_type").like("%BRASS%"), 1).otherwise(0).alias("is_brass"),
        F.concat_ws("#", F.col("p_brand"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
    )


@register(
    "conditional_aggregation",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS n_big,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
             AS finished_total,
           CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS DOUBLE) AS max_open
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="conditional aggregation (count_if / filtered sums)",
)
def conditional_aggregation(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).alias("n_big"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice").cast(DEC))
        )
        .cast("double")
        .alias("finished_total"),
        F.max(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")))
        .cast("double")
        .alias("max_open"),
    )


# ---------------------------------------------------------------------------
# Multimodal metadata surface over binary payloads
# ---------------------------------------------------------------------------
@register(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           lang AS modality_tag
    FROM documents
    """,
    doc="opaque-payload metadata columns (byte length + content digest)",
)
def multimodal_meta(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("payload_md5"),
        F.col("lang").alias("modality_tag"),
    )


# ---------------------------------------------------------------------------
# Skew-proof salted aggregation: identical results to a direct groupBy,
# but a hot token spreads over 16 reducers in stage 1.
# ---------------------------------------------------------------------------
@register(
    "salted_token_counts",
    """
    SELECT token AS _key, COUNT(*) AS n
    FROM (
      SELECT tokens[pos] AS token
      FROM (SELECT string_split(text, ' ') AS tokens FROM documents) d,
           UNNEST(generate_series(1, len(tokens))) AS u(pos)
      WHERE tokens[pos] <> ''
    )
    GROUP BY token
    """,
    doc="skew-mitigated two-stage (salted) aggregation; oracle = plain GROUP BY",
)
def salted_token_counts(spark, sf_dir):
    from scip_spark.functions.scale import salted_count
    from scip_spark.functions.text import tokens as tok

    docs = tbl(spark, sf_dir, "documents")
    exploded = docs.select(F.explode(tok("text")).alias("token"))
    return salted_count(exploded, "token")


# ---------------------------------------------------------------------------
# Sliding (overlapping) window aggregation, batch analogue of the
# streaming sliding_counts: each event lands in w/s consecutive windows.
# ---------------------------------------------------------------------------
@register(
    "sliding_window_events",
    """
    WITH assigned AS (
      SELECT event_type, value,
             time_bucket(INTERVAL 1 HOUR, ts) - (i * INTERVAL 1 HOUR) AS window_start
      FROM events, UNNEST(generate_series(0, 1)) AS u(i)
      WHERE ts >= time_bucket(INTERVAL 1 HOUR, ts) - (i * INTERVAL 1 HOUR)
        AND ts <  time_bucket(INTERVAL 1 HOUR, ts) - (i * INTERVAL 1 HOUR) + INTERVAL 2 HOUR
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM assigned
    GROUP BY 1, 2
    """,
    doc="sliding 2h/1h window agg (streaming twin: streaming/windows.sliding_counts)",
)
def sliding_window_events(spark, sf_dir):
    from scip_spark.queries import dsum

    ev = tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").cast("double").alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# MERGE INTO emulation (no Delta in this image): upsert = full outer
# join + CASE, the anti-join+union pattern from the CDC/SCD2 playbook.
# Target: per-customer balance; source: month of new orders.
# ---------------------------------------------------------------------------
@register(
    "merge_upsert_emulation",
    """
    WITH source AS (
      SELECT o_custkey AS k,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS delta
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-07-01 00:00:00'
      GROUP BY o_custkey
    ),
    target AS (SELECT c_custkey AS k, c_acctbal FROM customer)
    SELECT COALESCE(t.k, s.k) AS k,
           CASE WHEN t.k IS NULL THEN 'insert'
                WHEN s.k IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           COALESCE(t.c_acctbal, 0.0) + COALESCE(s.delta, 0.0) AS new_balance
    FROM target t FULL OUTER JOIN source s ON t.k = s.k
    """,
    doc="MERGE INTO emulation: upsert via full outer join + CASE",
)
def merge_upsert_emulation(spark, sf_dir):
    from scip_spark.queries import dsum

    orders = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-07-01 00:00:00").cast("timestamp")
    )
    source = orders.groupBy(F.col("o_custkey").alias("ks")).agg(
        dsum("o_totalprice").cast("double").alias("delta")
    )
    target = tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("kt"), "c_acctbal"
    )
    j = target.join(source, target.kt == source.ks, "full_outer")
    return j.select(
        F.coalesce(F.col("kt"), F.col("ks")).alias("k"),
        F.when(F.col("kt").isNull(), "insert")
        .when(F.col("ks").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
        (
            F.coalesce(F.col("c_acctbal"), F.lit(0.0))
            + F.coalesce(F.col("delta"), F.lit(0.0))
        ).alias("new_balance"),
    )


# ---------------------------------------------------------------------------
# Z-order layout key: Morton interleave for two-dimensional file
# clustering — pure integer algebra, engine-exact.
# ---------------------------------------------------------------------------
def _zorder_sql(a: str, b: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_key_lineitem",
    f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST({_zorder_sql('l_partkey', 'l_suppkey')} AS BIGINT) AS zkey
    FROM lineitem
    """,
    doc="Morton (Z-order) layout key over (partkey, suppkey) for 2-D file clustering",
)
def zorder_key_lineitem(spark, sf_dir):
    from scip_spark.functions.scale import zorder_key

    li = tbl(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zkey"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout key: the better-locality sibling of Z-order
# (lakehouse "liquid clustering") — staged CTE chain mirroring the
# staged projections in functions/scale.py::with_hilbert_key.
# ---------------------------------------------------------------------------
def _hilbert_sql(xexpr: str, yexpr: str, keys: str, bits: int = 16) -> str:
    n1 = (1 << bits) - 1
    ctes = [
        f"h{bits} AS (SELECT {keys},"
        f" CAST({xexpr} AS BIGINT) & {n1} AS x,"
        f" CAST({yexpr} AS BIGINT) & {n1} AS y,"
        " CAST(0 AS BIGINT) AS d FROM lineitem)"
    ]
    for b in range(bits - 1, -1, -1):
        s = 1 << b
        rx, ry = f"((x >> {b}) & 1)", f"((y >> {b}) & 1)"
        ctes.append(
            f"h{b} AS (SELECT {keys},"
            f" CASE WHEN {ry} = 1 THEN x WHEN {rx} = 1 THEN {n1} - y"
            f" ELSE y END AS x,"
            f" CASE WHEN {ry} = 1 THEN y WHEN {rx} = 1 THEN {n1} - x"
            f" ELSE x END AS y,"
            f" d + {s * s} * xor(3 * {rx}, {ry}) AS d FROM h{b + 1})"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT {keys}, d AS hkey FROM h0"
    )


@register(
    "hilbert_key_lineitem",
    _hilbert_sql(
        "l_partkey", "l_suppkey",
        "l_orderkey, l_linenumber, l_partkey, l_suppkey",
    ),
    doc="Hilbert-curve layout key over (partkey, suppkey) — the "
    "better-locality 2-D file-clustering key (liquid-clustering "
    "style): consecutive Hilbert indices are always unit-step "
    "neighbors, so clustered files get strictly tighter min/max "
    "bounding boxes than Z-order's quadrant-boundary jumps (locality "
    "superiority pinned quantitatively in tests/test_scale.py). "
    "Implementation: 16 staged map-side projections of pure integer "
    "column algebra (the conditional frame swap would double the "
    "expression tree per level if inlined) — zero shuffle, "
    "whole-stage codegen, hash-matched against the identical staged "
    "CTE chain in DuckDB.",
)
def hilbert_key_lineitem(spark, sf_dir):
    from scip_spark.functions.scale import with_hilbert_key

    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return with_hilbert_key(li, "l_partkey", "l_suppkey", out="hkey")


@register(
    "grouping_sets_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="explicit GROUPING SETS (a strict subset of cube: no "
    "linestatus-only set) with the grouping-id bitmap distinguishing "
    "aggregation level from genuine NULL keys",
)
def grouping_sets_revenue(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        dsum("l_quantity").cast("double").alias("sum_qty"),
    )


@register(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    """,
    doc="wide-to-long unpivot (Spark df.unpivot / melt; oracle as the "
    "equivalent UNION ALL) -- a map-side 1-to-N expansion, no shuffle",
)
def unpivot_part_metrics(spark, sf_dir):
    part = tbl(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "value")


@register(
    "funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'view>click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 'view>click>purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    """,
    doc="ordered funnel analysis (view -> click -> purchase, strictly "
    "increasing event times): each stage is a per-user MIN over the "
    "events after the previous stage's entry time — conditional "
    "aggregation + re-join on user_id, the partitioning reused across "
    "stages; counts are engine-exact",
)
def funnel_conversion(spark, sf_dir):
    """ONE events scan, ONE shuffle: the three stage-entry times are
    stacked full-partition window minima over the SAME user_id
    partitioning (each stage's condition references the previous
    stage's per-user constant), so Catalyst plans one Exchange followed
    by three Window operators — no per-stage re-scan or re-join."""
    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    d = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    d = d.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").cast("long").alias("s1"),
        F.count("t2").cast("long").alias("s2"),
        F.count("t3").cast("long").alias("s3"),
    )
    stages = F.array(
        F.struct(F.lit("view").alias("stage"), F.col("s1").alias("n_users")),
        F.struct(F.lit("view>click").alias("stage"), F.col("s2").alias("n_users")),
        F.struct(
            F.lit("view>click>purchase").alias("stage"), F.col("s3").alias("n_users")
        ),
    )
    return counts.select(F.explode(stages).alias("r")).select("r.stage", "r.n_users")


@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST((a.week - f.cohort_week) / 7 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="cohort retention: users bucketed by first-seen week, activity "
    "counted per (cohort_week, week_offset) — one distinct pass plus a "
    "join on user_id of the tiny firsts relation; the classic "
    "engagement matrix",
)
def cohort_retention(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("week", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_active"))
    )


@register(
    "event_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="behavioral Markov transition counts: per-user LEAD over the "
    "event stream (one partitioned window — the sessionize partition "
    "reused), then a 25-key aggregation; the raw material for "
    "next-action models and anomaly scoring",
)
def event_transition_matrix(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "time_to_conversion",
    """
    WITH signup AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id,
             CAST((epoch_us(MIN(e.ts)) - epoch_us(s.t0)) // 1000000 AS BIGINT) AS secs
      FROM events e JOIN signup s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t0
      GROUP BY e.user_id, s.t0
    ),
    ranked AS (
      SELECT secs, ROW_NUMBER() OVER (ORDER BY secs, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM conv
    )
    SELECT CAST((SELECT COUNT(*) FROM conv) AS BIGINT) AS n_converted,
           (SELECT secs FROM ranked WHERE rn = (n + 1) // 2 LIMIT 1) AS median_secs
    """,
    doc="time-to-event: seconds from first signup to first subsequent "
    "purchase per user, with the exact lower-median (discrete "
    "rank-based — engine-exact, no interpolated float percentile); "
    "the survival-analysis primitive",
)
def time_to_conversion(spark, sf_dir):
    """ONE events scan (same stacked-window shape as funnel_conversion):
    first-signup and first-subsequent-purchase times are two window
    minima over the user_id partitioning, reduced per user — no
    signup-relation join. The exact lower median comes from the
    distributed rank construction (functions/ranking.py) — no
    partition-less window — and the median row is LEFT-joined so an
    empty conversion set still emits (0, NULL) exactly like the
    oracle's scalar subqueries."""
    ev = tbl(spark, sf_dir, "events")
    wu = W.partitionBy("user_id")
    d = ev.withColumn(
        "t0", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(wu)
    ).withColumn(
        "t1",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")),
                F.col("ts"),
            )
        ).over(wu),
    )
    conv = (
        d.groupBy("user_id")
        .agg(F.max("t0").alias("t0"), F.max("t1").alias("t1"))
        .filter(F.col("t1").isNotNull())
        .select(
            "user_id",
            F.expr("(unix_micros(t1) - unix_micros(t0)) DIV 1000000").alias("secs"),
        )
    )
    from scip_spark.functions.ranking import exact_rank_row

    med = exact_rank_row(
        conv, "secs", "user_id", rank_expr="rn = (n + 1) DIV 2"
    ).select(F.col("secs").alias("median_secs"))
    counts = conv.agg(F.count("*").cast("long").alias("n_converted"))
    return (
        counts.withColumn("__k", F.lit(1))
        .join(F.broadcast(med.withColumn("__k", F.lit(1))), "__k", "left")
        .select("n_converted", "median_secs")
    )


@register(
    "rfm_segmentation",
    """
    WITH base AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, frequency, monetary,
             NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
             NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM base
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
    FROM scored GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    doc="RFM customer segmentation: per-customer recency/frequency/"
    "monetary, quartiled with deterministic tie-breaks (custkey), "
    "rolled up to segment sizes and value. The quartiles are exact "
    "SQL NTILE semantics computed by the distributed rank construction "
    "(functions/ranking.py) — quantile-bucketed partitioned windows + "
    "broadcast offsets, NO partition-less window, so the per-customer "
    "relation never funnels through one task",
)
def rfm_segmentation(spark, sf_dir):
    from scip_spark.functions.ranking import with_ntile
    from scip_spark.queries import DEC

    orders = tbl(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("monetary"),
    )
    # DESC orderings become negated ascending numeric keys; custkey is
    # the unique tiebreak, matching the oracle's NTILE ORDER BY exactly.
    # base is persisted: with_ntile's rank construction evaluates its
    # input several times (bounds sketch, local window, bucket counts),
    # and CHAINING three of them would compound into ~10 re-scans of
    # the orders aggregation. Instead each score ranks the cached
    # per-customer relation independently and the three results join
    # back on the customer key (same hash partitioning all three ways).
    base = _bounded_persist("rfm_base", base)
    # full-timestamp recency: unix_date would truncate time-of-day and
    # diverge from the oracle's ORDER BY last_order on intraday data.
    # cast("timestamp") handles NTZ-encoded o_orderdate (session TZ is
    # pinned UTC, so wall-clock micros match the oracle's epoch_us)
    scored = with_ntile(
        base,
        4,
        -F.unix_micros(F.col("last_order").cast("timestamp")),
        "o_custkey",
        "r_score",
    ).select("o_custkey", "monetary", "r_score")
    f_sc = with_ntile(base, 4, -F.col("frequency"), "o_custkey", "f_score").select(
        "o_custkey", "f_score"
    )
    m_sc = with_ntile(base, 4, -F.col("monetary"), "o_custkey", "m_score").select(
        "o_custkey", "m_score"
    )
    scored = scored.join(f_sc, "o_custkey").join(m_sc, "o_custkey")
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(F.col("monetary").cast(DEC)).cast("double").alias("segment_value"),
        )
    )


@register(
    "order_seasonality",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(CAST(AVG(revenue) OVER (
             ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,6)) AS DOUBLE) AS ma7,
           CAST(CAST(revenue - AVG(revenue) OVER (
             ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,6)) AS DOUBLE) AS residual
    FROM daily ORDER BY 1
    """,
    doc="time-series decomposition primitive: daily revenue, trailing "
    "7-day moving average, residual. Decimal aggregation keeps the "
    "rolling mean engine-exact; the global window runs over the tiny "
    "post-agg daily relation",
)
def order_seasonality(spark, sf_dir):
    from pyspark.sql import types as T

    orders = tbl(spark, sf_dir, "orders")
    dec2 = T.DecimalType(18, 2)
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast(dec2)).cast(dec2).alias("revenue")
    )
    w = W.orderBy("day").rowsBetween(-6, 0)
    ma = F.avg("revenue").over(w).cast(T.DecimalType(18, 6))
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("revenue").cast("double").alias("revenue"),
        ma.cast("double").alias("ma7"),
        (F.col("revenue") - ma).cast(T.DecimalType(18, 6)).cast("double").alias("residual"),
    )


@register(
    "attribution_touchpoints",
    """
    WITH w AS (
      SELECT event_type,
             first_value(event_type)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
             lag(event_type)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_touch
      FROM events
    )
    SELECT first_touch, last_touch, CAST(COUNT(*) AS BIGINT) AS conversions
    FROM w
    WHERE event_type = 'purchase' AND last_touch IS NOT NULL
    GROUP BY first_touch, last_touch
    """,
    doc="marketing attribution: each purchase credited to the user's "
    "first-ever touchpoint and the immediately preceding one — one "
    "user-partitioned window pass (first_value + lag share the sort), "
    "then a tiny type x type aggregation; per-user state is O(1)",
)
def attribution_touchpoints(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    touched = ev.select(
        "event_type",
        F.first("event_type").over(w).alias("first_touch"),
        F.lag("event_type").over(w).alias("last_touch"),
    )
    return (
        touched.filter(
            (F.col("event_type") == "purchase") & F.col("last_touch").isNotNull()
        )
        .groupBy("first_touch", "last_touch")
        .agg(F.count("*").cast("long").alias("conversions"))
    )


@register(
    "revenue_anomaly_days",
    """
    WITH daily AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2
    ),
    med AS (
      SELECT month, median(rev) AS med FROM daily GROUP BY month
    ),
    dev AS (
      SELECT daily.day, daily.month, daily.rev, med.med,
             abs(daily.rev - med.med) AS adev
      FROM daily JOIN med USING (month)
    ),
    mad AS (
      SELECT month, median(adev) AS mad FROM dev GROUP BY month
    )
    SELECT dev.day, dev.rev, dev.med, mad.mad
    FROM dev JOIN mad USING (month)
    WHERE abs(dev.rev - dev.med) > 3 * 1.4826 * mad.mad
    """,
    doc="robust anomaly detection: days whose revenue deviates from the "
    "month's median by >3 scaled MADs; medians run over the per-day "
    "relation (calendar-bounded, not data-scale) so the exact "
    "percentile aggregate's buffered state stays O(31) per month",
)
def revenue_anomaly_days(spark, sf_dir):
    return revenue_anomaly_finisher(
        daily_revenue(tbl(spark, sf_dir, "orders"))
    )


def daily_revenue(orders):
    """Per-day integer-cent revenue with its month key. The groupBy is a
    plain streaming-compatible aggregation (partial sums merge across
    micro-batches), so the same expression serves batch and a file
    stream — the streaming twin test proves stream==batch."""
    return orders.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )


def revenue_anomaly_finisher(daily):
    """Month-median/MAD outlier filter over the per-day relation
    (calendar-bounded — exact percentile state is O(31) per month)."""
    med = daily.groupBy("month").agg(F.percentile("rev", 0.5).alias("med"))
    dev = daily.join(med, "month").withColumn("adev", F.abs(F.col("rev") - F.col("med")))
    mad = dev.groupBy("month").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(mad, "month")
        .filter(F.abs(F.col("rev") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
        .select("day", "rev", "med", "mad")
    )


@register(
    "moving_median_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, rev,
           median(rev) OVER (
             ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS med7
    FROM daily ORDER BY 1
    """,
    doc="7-day rolling exact median of daily revenue: Spark has no "
    "windowed median, so the frame is materialized per row with a "
    "collect_list window (bounded at 7 elements — frame size, not "
    "data size) and reduced in-expression; the oracle uses DuckDB's "
    "native windowed median. The window runs over the per-day "
    "relation — calendar-bounded, so the partition-less frame is "
    "whitelisted like order_seasonality",
)
def moving_median_revenue(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    w = W.orderBy("day").rowsBetween(-6, 0)
    frame = F.array_sort(F.collect_list("rev").over(w))
    m = F.size(frame)
    lo = F.element_at(frame, ((m + 1) / 2).cast("int"))
    hi = F.element_at(frame, (m / 2 + 1).cast("int"))
    med = (lo + hi).cast("double") / 2
    return daily.select("day", "rev", med.alias("med7"))


# ---------------------------------------------------------------------------
# Interval self-overlap via per-key sweep — the classic interval-overlap
# detection WITHOUT a self-join: sorted by start within each key, order i
# overlaps an EARLIER order iff start_i <= running max(end) over preceding
# rows, and overlaps a LATER order iff the next start (the minimum start
# among followers, since rows are start-sorted) is <= end_i. Both are
# single partitioned-window passes; the oracle proves the sweep equals
# the quadratic EXISTS self-join. Per-customer partitions keep every
# window bounded at any scale.
# ---------------------------------------------------------------------------
@register(
    "interval_overlap_orders",
    """
    WITH iv AS (
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ),
    flagged AS (
      SELECT a.o_custkey, a.o_orderkey,
             EXISTS (
               SELECT 1 FROM iv b
               WHERE b.o_custkey = a.o_custkey
                 AND b.o_orderkey <> a.o_orderkey
                 AND b.s <= a.e AND a.s <= b.e
             ) AS has_overlap
      FROM iv a
    )
    SELECT o_custkey AS custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN has_overlap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlapping
    FROM flagged
    GROUP BY o_custkey
    """,
    doc="per-key interval self-overlap sweep (running-max-end + next-start) "
    "== quadratic EXISTS oracle; 30-day fulfillment windows per order",
)
def interval_overlap_orders(spark, sf_dir):
    iv = tbl(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("e"),
    )
    flagged = interval_self_overlap(iv, "custkey", "s", "e", "o_orderkey")
    return flagged.groupBy("custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("has_overlap"), 1).otherwise(0))
        .cast("long")
        .alias("n_overlapping"),
    )


def interval_self_overlap(iv, key_col, start_col, end_col, id_col):
    """Flag every interval that overlaps (closed-interval semantics)
    ANOTHER interval of the same key, in one partitioned window pass.
    Sorted by start within the key: an interval overlaps an EARLIER one
    iff its start <= running max(end) over preceding rows (the running
    max, not lag — a long interval may dominate several short followers);
    it overlaps a LATER one iff the next row's start (= min start among
    followers, rows are start-sorted) is <= its end. Equal starts are
    handled by the same tests. Adds boolean ``has_overlap``.

    Degenerate rows (end < start = an empty interval) overlap NOTHING
    under the closed-interval definition (b.s <= b.e fails inside
    a.s <= b.e AND b.s <= a.e for every partner) — they are excluded
    from the sweep and emitted with has_overlap = false, matching the
    quadratic EXISTS oracle."""
    valid = F.col(end_col) >= F.col(start_col)
    iv_ok = iv.filter(valid)
    w = W.partitionBy(key_col).orderBy(start_col, id_col)
    prev_max_end = F.max(end_col).over(w.rowsBetween(W.unboundedPreceding, -1))
    next_start = F.lead(start_col).over(w)
    has = (F.col(start_col) <= prev_max_end) | (next_start <= F.col(end_col))
    flagged = iv_ok.withColumn("has_overlap", F.coalesce(has, F.lit(False)))
    degenerate = iv.filter(~valid).withColumn("has_overlap", F.lit(False))
    return flagged.unionByName(degenerate)


# ---------------------------------------------------------------------------
# Frequent-itemset mining (market basket): pair support + lift with
# apriori pruning — an item in a frequent PAIR must itself be frequent,
# so the self-join runs over the pruned item relation only. The classic
# scale shape: item counts (one groupBy), broadcast the frequent-item
# filter, per-order self-join on the pruned baskets, pair groupBy.
# Baskets are small (items per order), so the self-join is
# |order| x basket^2, never |items|^2. The oracle runs the unpruned
# quadratic construction — apriori pruning is result-preserving.
# ---------------------------------------------------------------------------
@register(
    "frequent_item_pairs",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT okey) AS n FROM basket),
    item_cnt AS (SELECT item, COUNT(*) AS cnt FROM basket GROUP BY item),
    pair_cnt AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
      FROM basket a JOIN basket b ON a.okey = b.okey AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, p.support,
           CAST(p.support * n.n AS DOUBLE) / (ca.cnt * cb.cnt) AS lift
    FROM pair_cnt p
    JOIN item_cnt ca ON p.item_a = ca.item
    JOIN item_cnt cb ON p.item_b = cb.item
    CROSS JOIN n_orders n
    WHERE p.support >= 2
    """,
    doc="market-basket frequent pairs with lift; apriori-pruned "
    "per-basket self-join (never an items^2 product) == unpruned "
    "quadratic oracle",
)
def frequent_item_pairs(spark, sf_dir):
    minsup = 2
    basket = (
        tbl(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    item_cnt = basket.groupBy("item").agg(F.count("*").alias("cnt"))
    frequent = item_cnt.filter(F.col("cnt") >= minsup).select("item", "cnt")
    # apriori prune: only items that could appear in a >= minsup pair.
    # NO forced broadcast hint (VERDICT r10 #4): at a permissive minsup
    # the "frequent" relation approaches the full item vocabulary, and
    # a forced broadcast of a vocabulary-sized relation is a
    # driver/executor memory bomb at real scale — let Catalyst/AQE pick
    # the strategy from measured size (it still broadcasts whenever the
    # relation is actually small, e.g. at any realistic minsup).
    pruned = basket.join(frequent.select("item"), "item")
    a = pruned.select("okey", F.col("item").alias("item_a"))
    b = pruned.select("okey", F.col("item").alias("item_b"))
    pair_cnt = (
        a.join(b, "okey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= minsup)
    )
    n_orders = basket.agg(F.countDistinct("okey").alias("n"))
    ca = frequent.select(F.col("item").alias("item_a"), F.col("cnt").alias("cnt_a"))
    cb = frequent.select(F.col("item").alias("item_b"), F.col("cnt").alias("cnt_b"))
    # same reasoning: ca/cb are the vocabulary-sized relation — unhinted
    # (the 1-row n_orders broadcast stays forced; it can never be big)
    return (
        pair_cnt.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "support",
            (
                (F.col("support") * F.col("n")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap-filling: a complete monthly spine per customer
# (first..last active month), zero-filled where no orders landed. The
# spine is GENERATED per key (sequence + explode — map-side after one
# min/max aggregation), never scanned or cross-joined against a global
# calendar; the left join back to actuals shuffles on the same
# (custkey, month) key the aggregation produced.
# ---------------------------------------------------------------------------
@register(
    "gapfill_monthly_revenue",
    """
    WITH monthly AS (
      SELECT o_custkey AS custkey,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    spans AS (
      SELECT o_custkey AS custkey,
             date_trunc('month', MIN(o_orderdate)) AS m0,
             date_trunc('month', MAX(o_orderdate)) AS m1
      FROM orders GROUP BY 1
    ),
    spine AS (
      SELECT custkey, strftime(m.m, '%Y-%m') AS month
      FROM spans, UNNEST(generate_series(CAST(m0 AS DATE), CAST(m1 AS DATE),
                                         INTERVAL 1 MONTH)) AS m(m)
    )
    SELECT s.custkey, s.month,
           COALESCE(mo.rev_cents, 0) AS rev_cents,
           mo.rev_cents IS NULL AS filled
    FROM spine s LEFT JOIN monthly mo
      ON s.custkey = mo.custkey AND s.month = mo.month
    """,
    doc="per-key calendar gap-fill: generated monthly spine "
    "(first..last active month per customer) left-joined to actuals, "
    "zero-filled — spine explode is map-side, no global calendar join",
)
def gapfill_monthly_revenue(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    spans = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("m0"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("m1"),
    )
    spine = spans.select(
        "custkey",
        F.explode(
            F.sequence("m0", "m1", F.expr("INTERVAL 1 MONTH"))
        ).alias("m"),
    ).select("custkey", F.date_format("m", "yyyy-MM").alias("month"))
    return spine.join(monthly, ["custkey", "month"], "left").select(
        "custkey",
        "month",
        F.coalesce("rev_cents", F.lit(0)).cast("long").alias("rev_cents"),
        F.col("rev_cents").isNull().alias("filled"),
    )


# ---------------------------------------------------------------------------
# Path analysis: the most common initial event-type sequences (first 5
# events per user). One user-partitioned window pass (bounded per-user
# state), then a path-string aggregation over the per-user relation.
# ---------------------------------------------------------------------------
@register(
    "top_event_paths",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ordered WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
    doc="top initial event paths (first 5 events per user) — "
    "user-partitioned window + path aggregation; deterministic "
    "(n desc, path) tie-break on the top-k",
)
def top_event_paths(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: deterministic hash assignment (the same
# md5-bucket primitive as corpus split_assign), per-variant funnel
# conversion, and the two-proportion z statistic. Entirely
# aggregation-shaped: one events scan -> per-user flags -> two-row
# variant rollup; z's arithmetic is a fixed-order mul/div/sqrt chain
# (IEEE sqrt is correctly rounded), so DuckDB reproduces it bit-exactly.
# ---------------------------------------------------------------------------
@register(
    "ab_test_conversion",
    """
    WITH u AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('ab-v1|' || CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 2 AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1
    ),
    v AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM u GROUP BY variant
    ),
    s AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
        MAX(CASE WHEN variant = 0 THEN n_converted END) AS c0,
        MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
        MAX(CASE WHEN variant = 1 THEN n_converted END) AS c1
      FROM v
    )
    SELECT n0, c0, n1, c1,
           (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
           / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)) AS z_stat
    FROM s
    """,
    doc="A/B experiment readout: md5-hash variant assignment, per-user "
    "conversion (>= 15 purchases — every synthetic user buys at least "
    "once, so plain did-purchase saturates at p=1 and the z "
    "denominator vanishes), two-proportion z statistic in a "
    "fixed-order mul/div/sqrt chain (engine-exact)",
)
def ab_test_conversion(spark, sf_dir):
    from scip_spark.functions.corpus import hash_bucket

    ev = tbl(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 15
        )
        .cast("int")
        .alias("converted")
    ).select(
        hash_bucket(F.col("user_id"), "ab-v1", 2).alias("variant"), "converted"
    )
    v = u.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    s = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p0 - p1) / F.sqrt(
        pp * (1 - pp)
        * (F.lit(1).cast("double") / F.col("n0") + F.lit(1).cast("double") / F.col("n1"))
    )
    return s.select("n0", "c0", "n1", "c1", z.alias("z_stat"))


# ---------------------------------------------------------------------------
# Rate-based bot detection: users with a burst of > N events inside any
# rolling 60-second window. A RANGE frame over epoch-seconds partitioned
# by user — per-user state is the 60 s frame, bounded at any scale.
# ---------------------------------------------------------------------------
@register(
    "bot_burst_users",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
    ),
    w AS (
      SELECT user_id,
             COUNT(*) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 59 PRECEDING AND CURRENT ROW
             ) AS burst
      FROM e
    )
    SELECT user_id,
           CAST(MAX(burst) AS BIGINT) AS max_burst,
           MAX(burst) >= 5 AS flagged
    FROM w GROUP BY user_id
    """,
    doc="rate-limit/bot detection: max events inside any rolling "
    "60-second window per user (range frame over epoch seconds; "
    "user-partitioned, bounded state). Both engines floor ts to WHOLE "
    "seconds — Spark's unix_timestamp truncates, DuckDB's epoch() "
    "keeps fractional seconds, and a range frame over mismatched "
    "grids would disagree on boundary events",
)
def bot_burst_users(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    e = ev.select("user_id", F.unix_timestamp("ts").alias("sec"))
    w = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-59, W.currentRow)
    )
    return (
        e.withColumn("burst", F.count("*").over(w))
        .groupBy("user_id")
        .agg(
            F.max("burst").cast("long").alias("max_burst"),
            (F.max("burst") >= 5).alias("flagged"),
        )
    )


@register(
    "audio_window_plan",
    """
    WITH media AS (
      SELECT doc_id AS media_id,
             CAST(n_chars AS DOUBLE) / 100 AS dur
      FROM documents
    ),
    w AS (
      SELECT media_id, dur,
             CASE WHEN dur > 0
                  THEN greatest(CAST(ceil((dur - 5.0) / 5.0) AS INT) + 1, 1)
                  ELSE 0 END AS n_win
      FROM media
    )
    SELECT media_id,
           CAST(u.i AS INT) AS window_idx,
           u.i * 5.0 AS start_s,
           least(u.i * 5.0 + 5.0, dur) AS end_s
    FROM w, UNNEST(generate_series(0, n_win - 1)) AS u(i)
    WHERE n_win > 0
    """,
    doc="multimodal segmentation plan: fixed 5 s training windows per "
    "audio/video item from duration metadata (synthesized here as "
    "n_chars/100 s) — the window plan FEEDS the decoder, so it runs "
    "decode-free as a zero-shuffle explode",
)
def audio_window_plan(spark, sf_dir):
    from scip_spark.functions.multimodal import audio_windows

    media = tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars").cast("double") / 100).alias("meta_duration_s"),
    )
    return audio_windows(media, window_s=5.0, stride_s=5.0)


# ---------------------------------------------------------------------------
# VARIANT semi-structured extraction (Spark 4's binary semi-structured
# type): parse_json ONCE into a variant, then typed path extraction —
# the shredded layout that replaces per-field get_json_object re-parses
# (json_extract_events covers the string-path twin). DuckDB's JSON
# extraction oracles the same values.
# ---------------------------------------------------------------------------
@register(
    "variant_extract_events",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(COUNT(props->>'$.k') AS BIGINT) AS k_present
    FROM events
    GROUP BY event_type
    """,
    doc="VARIANT semi-structured extraction (Spark 4 parse_json + "
    "try_variant_get typed paths — one parse per row, not one per "
    "field); DuckDB JSON-path oracle",
)
def variant_extract_events(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("p")
    ).select(
        "event_type", F.try_variant_get(F.col("p"), "$.k", "bigint").alias("k")
    )
    return v.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("k_sum"),
        F.count("k").cast("long").alias("k_present"),
    )


# ---------------------------------------------------------------------------
# Sequential change detection: one-sided CUSUM over the daily-revenue
# series. The recurrence S_t = max(0, S_{t-1} + (x_t - target)) cannot
# be windowed — it is a true sequential scan — but the DAILY relation is
# calendar-bounded, so folding it as ONE in-memory array (the
# moving_median / order_seasonality class) is exact and cheap at any
# corpus size. All arithmetic is integer cents: the fold is
# bit-identical in any engine.
# ---------------------------------------------------------------------------
@register(
    "cusum_revenue_shift",
    """
    WITH daily AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(rev) // COUNT(*) AS BIGINT) AS target FROM daily
    ),
    series AS (
      SELECT list(day ORDER BY day) AS days, list(rev ORDER BY day) AS revs
      FROM daily
    ),
    folded AS (
      -- seed the fold with [0] so the FIRST day is clamped like every
      -- other step (S_1 = max(0, 0 + x_1 - target)); s0[1] is the seed
      SELECT days,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT)],
                            list_transform(revs, x -> [x - t.target])),
               (acc, x) -> list_append(acc, greatest(CAST(0 AS BIGINT),
                                                     acc[-1] + x[1]))
             ) AS s0
      FROM series, t
    )
    SELECT days[u.i] AS day,
           CAST(s0[u.i + 1] AS BIGINT) AS cusum,
           s0[u.i + 1] > 20 * t.target AS shifted
    FROM folded, t, UNNEST(generate_series(1, len(days))) AS u(i)
    """,
    doc="one-sided CUSUM change detection over daily revenue (exact "
    "integer-cent recurrence folded over the calendar-bounded series; "
    "target = integer mean, alarm at 20x target) — sequential scans "
    "that resist windowing run as per-group array folds",
)
def cusum_revenue_shift(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    return cusum_from_daily(daily)


def cusum_from_daily(daily):
    """CUSUM finisher over a ``(day, rev_cents)`` relation. Split out so
    the streaming twin can feed the SAME fold from a streamed per-day
    pre-aggregate: integer-cent partial sums merge associatively across
    micro-batches, so stream+finisher == batch bit-for-bit
    (tests/test_streaming.py::test_streaming_cusum_matches_batch)."""
    t = daily.agg(
        F.expr("CAST(sum(rev) DIV count(*) AS BIGINT)").alias("target")
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("sr")
    )
    folded = series.crossJoin(F.broadcast(t)).select(
        F.col("sr"),
        "target",
        F.aggregate(
            "sr",
            F.array().cast("array<bigint>"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.coalesce(
                            F.try_element_at(acc, F.lit(-1)),
                            F.lit(0).cast("bigint"),
                        )
                        + (x["rev"] - F.col("target")),
                    )
                ),
            ),
        ).alias("s"),
    )
    return folded.select(
        "target",
        F.posexplode(F.col("sr")).alias("i0", "dr"),
        F.col("s"),
    ).select(
        F.col("dr.day").alias("day"),
        F.element_at("s", F.col("i0") + 1).alias("cusum"),
        (F.element_at("s", F.col("i0") + 1) > 20 * F.col("target")).alias("shifted"),
    )


# ---------------------------------------------------------------------------
# EWMA anomaly detection over the daily-revenue series: the exponential
# smoother e_t = floor((e_{t-1} + x_t) / 2) (alpha = 1/2) predicts each
# day from the past; a day is anomalous when it deviates > 50% from the
# prediction. Like CUSUM, the recurrence is a true sequential scan —
# but the DAILY relation is calendar-bounded, so one in-memory array
# fold is exact and cheap at any corpus size. Integer cents + shift
# halving make the fold bit-identical in any engine (no double
# accumulator to lose exactness past 2^53 at real revenue scales).
# ---------------------------------------------------------------------------
@register(
    "ewma_anomaly_days",
    """
    WITH daily AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT list(day ORDER BY day) AS days, list(rev ORDER BY day) AS revs
      FROM daily
    ),
    folded AS (
      -- seed the fold with [x_1] (e_1 = x_1); each step floor-halves
      -- the sum — revenues are non-negative so // 2 matches Spark's
      -- shiftright exactly
      SELECT days, revs,
             list_reduce(
               list_prepend([revs[1]],
                            list_transform(revs[2:], x -> [x])),
               (acc, x) -> list_append(acc, (acc[-1] + x[1]) // 2)
             ) AS e
      FROM series
    )
    SELECT days[u.i] AS day,
           CAST(revs[u.i] AS BIGINT) AS rev,
           CAST(e[u.i] AS BIGINT) AS ewma,
           CASE WHEN u.i = 1 THEN FALSE
                ELSE 2 * abs(revs[u.i] - e[u.i - 1]) > e[u.i - 1]
           END AS anomaly
    FROM folded, UNNEST(generate_series(1, len(days))) AS u(i)
    """,
    doc="EWMA (alpha=1/2) anomaly detection over daily revenue: "
    "e_t = (e_{t-1} + x_t) >> 1 in exact integer cents, a day is "
    "anomalous when it deviates more than 50% from the previous "
    "smoothed level (2*|x_t - e_{t-1}| > e_{t-1}; integer "
    "cross-multiplication, never a float ratio). The calendar-bounded "
    "daily array folds in one row like cusum_revenue_shift; the "
    "corpus-scale work is the one map-side-combined daily aggregation.",
)
def ewma_anomaly_days(spark, sf_dir):
    orders = tbl(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    return ewma_from_daily(daily)


def ewma_from_daily(daily):
    """EWMA finisher over a ``(day, rev_cents)`` relation — split out on
    the cusum_from_daily model so a streamed per-day pre-aggregate can
    feed the identical fold."""
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("sr")
    )
    folded = series.select(
        "sr",
        F.aggregate(
            "sr",
            F.array().cast("array<bigint>"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.coalesce(
                        F.shiftright(
                            F.try_element_at(acc, F.lit(-1)) + x["rev"], 1
                        ),
                        x["rev"],  # empty acc: e_1 = x_1
                    )
                ),
            ),
        ).alias("e"),
    )
    return folded.select(
        F.posexplode("sr").alias("i0", "dr"), F.col("e")
    ).select(
        F.col("dr.day").alias("day"),
        F.col("dr.rev").cast("long").alias("rev"),
        F.element_at("e", F.col("i0") + 1).cast("long").alias("ewma"),
        F.when(F.col("i0") == 0, F.lit(False))
        .otherwise(
            2 * F.abs(F.col("dr.rev") - F.element_at("e", F.greatest(F.col("i0"), F.lit(1))))
            > F.element_at("e", F.greatest(F.col("i0"), F.lit(1)))
        )
        .alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# Native session windows: Spark's built-in session_window generator (the
# same operator the streaming sessionizer uses — streaming/windows.py)
# driven in batch and hash-checked against a gaps-and-islands oracle.
# sessionize_events covers the lag+cumsum FORMULATION; this covers the
# built-in, which at scale is one hash-shuffle on user_id followed by a
# per-partition in-sort merge — no window-function second pass.
# Boundary semantics (probed): events exactly gap apart MERGE — a new
# session starts only when the gap is strictly exceeded.
# ---------------------------------------------------------------------------
@register(
    "session_window_native",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="built-in session_window sessionization (30-min gap): session "
    "start/end/count per user, hash-matched against the "
    "gaps-and-islands oracle (strict-gap boundary — exactly-gap-apart "
    "events merge, probed empirically). Scale shape: one shuffle on "
    "user_id, sessions merged in-sort per partition; no second "
    "window-function pass over the data.",
)
def session_window_native(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join, driver-hash-checked: the canonical
# funnel-attribution join (each purchase matched to the same user's
# clicks in the preceding hour) run through Structured Streaming's
# symmetric-hash join with watermarked state on BOTH sides
# (streaming/windows.py::purchase_click_join), then aggregated to a
# deterministic per-purchase summary that shares the batch oracle.
# The source is a single-file stream: one micro-batch, so no click
# state is watermark-evicted mid-run and the result is exactly the
# batch join (multi-batch eviction semantics are pinned separately in
# tests/test_streaming.py).
# ---------------------------------------------------------------------------
@register(
    "stream_stream_attribution",
    """
    WITH clicks AS (
      SELECT user_id AS c_user, ts AS click_ts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id AS p_user, ts AS purchase_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id,
           COUNT(*) AS n_clicks,
           CAST(MAX(c.click_id) AS BIGINT) AS max_click_id
    FROM purch p JOIN clicks c
      ON p.p_user = c.c_user
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    GROUP BY 1 ORDER BY 1
    """,
    doc="stream-stream interval join (11th driver-hash-checked "
    "streaming entry): purchases and clicks read as TWO watermarked "
    "streams, joined by Structured Streaming's symmetric-hash "
    "interval join (user equality + 1-hour preceding range), folded "
    "to per-purchase click counts that hash-match the batch oracle. "
    "Scale shape: state is bounded by the watermark horizon on both "
    "sides — the 100-TB history never accumulates in the store.",
)
def stream_stream_attribution(spark, sf_dir):
    import shutil
    import tempfile
    import uuid

    from scip_spark.queries import load_events
    from scip_spark.streaming.windows import purchase_click_join

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="ss_join_src_")
    name = f"ss_attr_{uuid.uuid4().hex[:8]}"
    try:
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        s1 = spark.readStream.schema(schema).parquet(tmp)
        s2 = spark.readStream.schema(schema).parquet(tmp)
        joined = purchase_click_join(s1, s2)
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the memory sink has already materialized the joined rows, so
        # the returned plan reads the sink table, not the (deleted) tmp
        # source — no driver-side collect. The memory sink itself is
        # the TEST-HARNESS shape (driver-bounded by design); the
        # production path writes the same joined stream to a real sink
        # and this aggregation runs over it there.
        return (
            spark.table(name)
            .groupBy("purchase_id")
            .agg(
                F.count("*").cast("long").alias("n_clicks"),
                F.max("click_id").cast("long").alias("max_click_id"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "ewma_anomaly_days_stream",
    None,  # replaced below — shares the batch oracle verbatim
    doc="ewma_anomaly_days with the DAILY pre-aggregate built by "
    "STRUCTURED STREAMING (12th driver-hash-checked streaming entry): "
    "each micro-batch contributes (day, rev_cents) partials folded "
    "through an integer-sum merge (order-free and exact), then the "
    "shared ewma_from_daily finisher prices the identical fold — the "
    "realistic shape: per-day revenue accretes per ingestion batch, "
    "the anomaly sweep is a bounded pass over the folded days.",
)
def ewma_anomaly_days_stream(spark, sf_dir):
    import shutil

    from scip_spark.functions.sketch_queries import (
        _split_to_tmp,
        _stream_fold,
    )

    # pre-project to (key, day-string, cents) before writing the stream
    # source: the tmp parquet then round-trips engine-neutral types
    # (o_orderdate's physical encoding varies across testdata
    # generations, like events.ts)
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = _split_to_tmp(orders, key="o_orderkey")

    def build_daily(bdf):
        return bdf.groupBy("day").agg(
            F.sum("cents").cast("long").alias("rev")
        )

    try:
        daily = _stream_fold(
            spark,
            tmp,
            "o_orderkey bigint, day string, cents bigint",
            build_daily,
            lambda parts: parts.groupBy("day").agg(
                F.sum("rev").cast("long").alias("rev")
            ),
            "day string, rev bigint",
            lambda df: [(r["day"], r["rev"]) for r in df.collect()],
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return ewma_from_daily(daily)


# the streaming twin shares the batch oracle verbatim
from scip_spark.queries import REGISTRY as _REG  # noqa: E402

_REG["ewma_anomaly_days_stream"].sql = _REG["ewma_anomaly_days"].sql


@register(
    "video_frame_plan",
    """
    WITH media AS (
      SELECT doc_id AS media_id, CAST(n_chars AS DOUBLE) / 100 AS dur
      FROM documents
    ),
    n AS (
      SELECT media_id, dur,
             GREATEST(1, CAST(floor(dur / 2.0) AS BIGINT)) AS n_frames
      FROM media
    )
    SELECT media_id,
           CAST(u.i - 1 AS BIGINT) AS frame_idx,
           CAST((u.i - 1) * 2.0 AS DOUBLE) AS frame_ts
    FROM n, UNNEST(generate_series(1, n_frames)) AS u(i)
    ORDER BY media_id, frame_idx
    """,
    doc="video frame-sampling PLAN from duration metadata (every 2 s, "
    "at least one frame): the decode-free 1->N explode a video "
    "pipeline computes BEFORE touching bytes — sampled timestamps "
    "feed the (stubbed, injectable) decoder, so the 100-TB payload "
    "column is read only at the chosen offsets. every_s = 2.0 keeps "
    "the i*step timestamps exact doubles. Zero shuffle: per-row "
    "sequence + explode inside the scan (functions/multimodal.py "
    "frame_sample; same duration stand-in as audio_window_plan).",
)
def video_frame_plan(spark, sf_dir):
    from scip_spark.functions.multimodal import frame_sample

    media = tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars").cast("double") / 100).alias("meta_duration_s"),
    )
    out = frame_sample(media, every_s=2.0)
    return (
        out.select(
            "media_id",
            (F.col("frame_ts") / 2.0).cast("long").alias("frame_idx"),
            F.col("frame_ts").cast("double").alias("frame_ts"),
        )
    )
