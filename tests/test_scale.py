"""Scale techniques: salted aggregation correctness + bucketed
co-located joins (no shuffle above bucketed scans)."""

import pytest
from pyspark.sql import functions as F

from scip_spark.functions.scale import salted_count

SF = "/root/testdata/sf0.001"


def test_salted_count_equals_plain_groupby(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_returnflag").alias("k"), "l_orderkey", "l_linenumber"
    )
    got = {r._key: r.n for r in salted_count(li, "k").collect()}
    want = {r.k: r.n for r in li.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_salted_plan_has_two_aggregation_stages(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = salted_count(li, "l_returnflag")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # stage1 (key, salt) agg + stage2 (key) agg → two exchanges
    assert plan.count("Exchange") >= 2


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key co-locates matching rows:
    the join runs with no Exchange above either bucketed scan."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # the in-memory catalog forgets tables between sessions but the
    # warehouse files persist; clear them so saveAsTable can't collide
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        # the ONLY exchange is the final groupBy on o_orderpriority —
        # below the SortMergeJoin there are just sorts over bucketed
        # scans, no shuffle
        tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
        below_join = tree.split("SortMergeJoin")[1]
        assert "Exchange" not in below_join
        # correctness unchanged
        want = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def _skewed_fact(spark, n=200_000):
    """~98% of rows share key 0 — one reducer would get almost the
    whole shuffle in a plain hash-partitioned join/agg."""
    return spark.range(n).select(
        F.when(F.col("id") % 100 < 98, 0).otherwise((F.col("id") % 10)).alias("k"),
        F.col("id").alias("v"),
    )


def test_aqe_splits_skewed_join_partition(spark):
    """Skew torture: with AQE skew-join thresholds scaled down to test
    size, the hot key-0 partition of a sort-merge join must be split
    into multiple tasks (executedPlan reports the skew split) and the
    result must equal the non-AQE join."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = _skewed_fact(spark)
        dim = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 100).alias("w"))
        # bare join: AQE can split the hot partition freely (a downstream
        # groupBy on k would pin the partitioning and veto the split
        # unless forceOptimizeSkewedJoin accepts the extra shuffle)
        joined = fact.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution (count()
        # would build a fresh one and leave this plan un-finalized)
        assert len(joined.collect()) == 200_000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
        grouped = fact.join(dim, "k").groupBy("k").agg(
            F.count("*").alias("n"), F.sum("w").alias("sw")
        )
        # id%100 in {98,99} → id%10 in {8,9}: keys are 0 (hot), 8, 9
        rows = {r.k: (r.n, r.sw) for r in grouped.collect()}
        assert rows[0] == (196_000, 0)
        assert rows[8] == (2_000, 2_000 * 800)
        assert rows[9] == (2_000, 2_000 * 900)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_equals_plain_join(spark):
    from scip_spark.functions.scale import salted_join

    fact = _skewed_fact(spark, n=50_000)
    dim = spark.range(10).select(F.col("id").alias("k"), (F.col("id") + 100).alias("w"))
    got = (
        salted_join(fact, dim, "k", n_salts=8)
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("w").alias("sw"))
    )
    want = fact.join(dim, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("w").alias("sw")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the join key is widened with the salt → hot key 0 no longer maps
    # to a single reducer partition
    plan = salted_join(fact, dim, "k", n_salts=8)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "_salt" in plan


def test_approx_count_distinct_accuracy(spark):
    """Sketch aggregates (HLL++) can't oracle-match DuckDB's sketches —
    accuracy is asserted against the exact distinct instead."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    exact = orders.select("o_custkey").distinct().count()
    approx = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("a")
    ).collect()[0].a
    assert abs(approx - exact) / exact < 0.05


def test_kmv_estimate_accuracy(spark):
    """KMV with k=64 has relative stderr ~1/sqrt(k-1) ≈ 12.6%; assert
    the estimate lands within 3σ of the exact distinct count."""
    from scip_spark.functions.sketches import kmv_estimate, kmv_sketch

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    exact = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    sk = kmv_sketch(orders, "o_orderpriority", "o_custkey")
    est = {
        r.o_orderpriority: r.e
        for r in sk.select("o_orderpriority", kmv_estimate("kmv").alias("e")).collect()
    }
    assert est.keys() == exact.keys()
    for key, n in exact.items():
        assert abs(est[key] - n) / n < 0.38, (key, est[key], n)


def test_kmv_merge_is_idempotent_and_matches_union(spark):
    """Merging a sketch with itself is a no-op; merging two disjoint
    halves equals the sketch of the union — the semilattice algebra
    that makes per-partition rollups safe."""
    from scip_spark.functions.sketches import kmv_merge, kmv_sketch

    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "half", (F.col("o_orderkey") % 2).cast("int")
    )
    halves = kmv_sketch(orders, "half", "o_custkey")
    whole = kmv_sketch(orders.withColumn("half", F.lit(-1)), "half", "o_custkey")
    merged = (
        halves.agg(F.collect_list("kmv").alias("ks"))
        .select(kmv_merge(F.element_at("ks", 1), F.element_at("ks", 2)).alias("kmv"))
        .collect()[0]
        .kmv
    )
    self_merged = halves.select(
        "half", kmv_merge("kmv", "kmv").alias("m"), "kmv"
    ).collect()
    for r in self_merged:
        assert r.m == r.kmv
    assert merged == whole.collect()[0].kmv


def test_kmv_intersection_tracks_exact(spark):
    """The theta-style |A∩B| estimate from two KMV sketches must land
    near the exact customer overlap of the two priorities."""
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    exact_inter = a.intersect(b).count()
    est = REGISTRY["kmv_intersection_estimate"].fn(spark, SF).collect()[0]
    assert est.union_est > 0
    # k=64 → loose 3σ-ish band; the point is order-of-magnitude sanity
    assert abs(est.inter_est - exact_inter) / max(exact_inter, 1) < 0.6, (
        est.inter_est,
        exact_inter,
    )


def test_bench_headline_names_exist(spark):
    """bench.py's HEADLINE list must reference live registry keys — a
    rename would silently shrink the driver's recorded benchmark."""
    import bench
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert missing == []


def test_hll_sketches_merge_across_groups(spark):
    """Production sketch path: per-priority HLL sketches united into a
    global sketch (binary-mergeable — what a 1000-executor rollup
    ships between stages) whose estimate tracks the exact distinct."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    exact = orders.select("o_custkey").distinct().count()
    per_group = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", 14).alias("sk")
    )
    est = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0].e
    assert abs(est - exact) / exact < 0.05, (est, exact)


def test_partition_pruning(spark, tmp_path):
    """Writing partitioned by a coarse key lets Catalyst prune entire
    directories: the year filter must show up as a PartitionFilter and
    read only that year's files."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_part")
    orders.write.partitionBy("order_year").mode("overwrite").parquet(out)

    q = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "order_year" in pf[0]
    want = orders.filter(F.col("order_year") == 1997).count()
    assert q.count() == want


def test_lsh_hot_bucket_star_fallback(spark):
    """A 10k-doc identical-boilerplate cluster lands in one (band,
    digest) bucket; the triangular expansion would be ~50M pairs inside
    ONE task. The star fallback emits n-1 pairs, bounded per task, and
    preserves connectivity for downstream connected components."""
    import pandas as pd

    from scip_spark.functions.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    n = 10_000
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(n),
                "text": ["the same boilerplate legal disclaimer text here"] * n,
            }
        )
    )
    pairs = lsh_candidate_pairs(docs)
    got = pairs.toPandas()
    # star over the min member: exactly n-1 pairs, all anchored at 0
    assert len(got) == n - 1
    assert (got["id_a"] == 0).all()
    # the whole cluster still collapses to one component
    cc = connected_components(pairs).toPandas()
    assert cc["component"].nunique() == 1
    assert len(cc) == n


def test_lsh_star_fallback_equals_uncapped_on_normal_corpus(spark):
    """On a corpus with no oversized buckets the capped operator is
    bit-identical to the uncapped all-pairs semantics."""
    import pandas as pd

    from scip_spark.functions.dedup import lsh_candidate_pairs

    rows = []
    for i in range(60):
        base = f"document number {i % 20} talks about topic {i % 7} in detail"
        rows.append({"doc_id": i, "text": base})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    capped = lsh_candidate_pairs(docs).toPandas()
    uncapped = lsh_candidate_pairs(docs, hot_bucket_threshold=10**9).toPandas()
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b"]].to_numpy()))
    assert key(capped) == key(uncapped)


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """Runtime row-level filtering: with a selective predicate on the
    dim side of a shuffle join, the optimizer injects a bloom filter
    (`might_contain`) on the fact side — at 100 TB this prunes fact
    rows BEFORE the shuffle instead of after the join. Result must
    equal the plain join."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # test-sized tables are far below the default 10GB app-side floor
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
        spark.range(0, 200_000).withColumn("k", F.col("id") % 20_000).write.parquet(fact_p)
        spark.range(0, 20_000).select(
            F.col("id").alias("k"), (F.col("id") % 500).alias("w")
        ).write.parquet(dim_p)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("w") == 7)
        joined = fact.join(dim, "k")
        rows = joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        # 40 dim keys x 10 fact rows each
        assert len(rows) == 400
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_write_tightens_file_bounds(spark, tmp_path):
    """Z-ordered layout: each output file's (partkey, suppkey) bounding
    box must be far tighter than a round-robin layout's — the min/max
    stats that let parquet row-group skipping prune filtered scans on
    EITHER dimension."""
    import glob

    from scip_spark.functions.scale import zorder_write

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    zorder_write(li, zpath, ("l_partkey", "l_suppkey"), n_files=8)
    li.repartition(8).write.parquet(rpath)

    def total_bbox_area(path):
        area = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            pdf = spark.read.parquet(f).toPandas()
            area += (pdf.l_partkey.max() - pdf.l_partkey.min() + 1) * (
                pdf.l_suppkey.max() - pdf.l_suppkey.min() + 1
            )
        return area

    z_area, r_area = total_bbox_area(zpath), total_bbox_area(rpath)
    # same rows either way
    assert (
        spark.read.parquet(zpath).count() == spark.read.parquet(rpath).count()
    )
    assert z_area < 0.5 * r_area, (z_area, r_area)


def test_zorder_key_matches_python_model(spark):
    """Bit-exact check of the Morton interleave against a direct
    python model, over random pairs plus the corner values."""
    import random

    from scip_spark.functions.scale import zorder_key

    rnd = random.Random(7)
    pairs = [(rnd.randrange(2**16), rnd.randrange(2**16)) for _ in range(500)]
    pairs += [(0, 0), (65535, 65535), (1, 0), (0, 1), (65535, 0), (0, 65535)]
    df = spark.createDataFrame(pairs, "a int, b int")
    got = df.select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
    ).collect()

    def model(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for r in got:
        assert r.z == model(r.a, r.b), (r.a, r.b)


def test_kmv_difference_tracks_exact(spark):
    """The theta-style |A∖B| estimate must land near the exact count of
    customers ordering 1-URGENT but never 2-HIGH."""
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    exact_diff = a.distinct().subtract(b.distinct()).count()
    est = REGISTRY["kmv_difference_estimate"].fn(spark, SF).collect()[0]
    assert est.union_est > 0
    assert abs(est.diff_est - exact_diff) / max(exact_diff, 1) < 0.6, (
        est.diff_est,
        exact_diff,
    )


def test_approx_percentile_within_rank_error(spark):
    """percentile_approx(accuracy=10000) guarantees rank error <=
    n/accuracy; check the returned values sit within the corresponding
    exact-rank window for every flag and probe."""
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    # the registry entry emits the invariant verdicts (oracle-paired):
    # every flag must clear the sketch's rank-error bound
    for r in REGISTRY["approx_percentile_prices"].fn(spark, SF).collect():
        assert r.p50_ok and r.p90_ok and r.p99_ok, r

    # and the raw sketch values themselves sit in the exact-rank window
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.pcts[0], r.pcts[1], r.pcts[2])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10_000).alias(
                "pcts"
            )
        )
        .collect()
    }
    for flag, vals in got.items():
        prices = sorted(
            r.l_extendedprice
            for r in li.filter(F.col("l_returnflag") == flag).collect()
        )
        n = len(prices)
        err = max(n // 10_000, 1)
        for p, v in zip((0.5, 0.9, 0.99), vals):
            target = int(p * n)
            lo = prices[max(target - err - 1, 0)]
            hi = prices[min(target + err, n - 1)]
            assert lo <= v <= hi, (flag, p, v, lo, hi)


def test_cc_selfloop_fold_matches_union_find(spark):
    """The one-join-per-round CC (self-loop edges carry the node's own
    previous label through the propagation groupBy, so the label update
    AND the convergence flag come from a single aggregation) must label
    every node with the true min-id of its component. Pinned against a
    driver-side union-find over a graph that mixes a clique, two
    chains (one crossing the 4-round checkpoint boundary), a bridge
    edge, and isolated pairs."""
    from scip_spark.functions.dedup import connected_components

    raw = (
        [(0, 1), (0, 2), (1, 2), (2, 3)]           # clique + tail
        + [(i, i + 1) for i in range(10, 16)]      # 6-hop chain: >4 rounds
        + [(3, 10)]                                # bridge: merges the two
        + [(100, 101), (200, 201)]                 # isolated pairs
    )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(raw, "id_a long, id_b long")
    got = {
        r["node_id"]: r["component"]
        for r in connected_components(pairs, max_iter=12).collect()
    }
    assert got == expect


def test_cc_chain_bounded_lineage(spark):
    """A chain graph forces many propagation rounds (labels move one
    hop per round). Each round's plan embeds the previous one (the
    single propagate join over self-looped edges), so lineage grows
    with every round: a 12-round run without truncation builds a
    deeply nested plan. The loop localCheckpoints every 4 rounds,
    capping the plan at 4 copies of the round template above a
    checkpoint scan — a CONSTANT independent of iteration count."""
    import pandas as pd

    from scip_spark.functions.dedup import connected_components

    n = 13  # chain 0-1-...-12: needs ~12 rounds to converge
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
    )
    labels = connected_components(pairs, max_iter=30)
    got = labels.toPandas()
    assert got["component"].nunique() == 1
    assert sorted(got["node_id"]) == list(range(n))
    depth = len(
        labels._jdf.queryExecution().optimizedPlan().numberedTreeString().splitlines()
    )
    # <= 2^4 copies of the (scan+join+agg) round template above the
    # last checkpoint; measured ~400 at interval 4. The unbounded
    # variant is ~2^12 nodes (>40k) here and grows with every round.
    assert depth < 1500, depth


def test_ensure_parallelism_noop_at_scale(spark):
    """The parallelism floor only pays its shuffle for under-split
    inputs; a table that already carries >= cores partitions (the
    100 TB case) must pass through with NO added Exchange."""
    from scip_spark.functions.scale import ensure_parallelism

    wide = spark.range(0, 10_000, 1, 64).selectExpr("id", "id * 2 AS v")
    out = ensure_parallelism(wide)
    assert out is wide  # no wrapper, no repartition
    narrow = spark.range(0, 100, 1, 1)
    bumped = ensure_parallelism(narrow)
    assert bumped.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def _jobs_started(spark) -> int:
    """Spark jobs this application has started so far, from the status
    store (job ids are sequential; the store keeps only the newest, so
    the largest id counts them where the list length would saturate)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() + 1 for i in range(jobs.size())), default=0)


def test_ensure_parallelism_runs_no_job_on_shuffled_input(spark):
    """An input behind an exchange is AQE-wrapped; its partition count
    is only known after AQE runs the upstream shuffle stages, so asking
    for it would start a job whose result is thrown away. The floor
    passes such an input through without starting any job."""
    from scip_spark.functions.scale import ensure_parallelism

    shuffled = spark.range(0, 1_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()
    before = _jobs_started(spark)
    out = ensure_parallelism(shuffled)
    assert _jobs_started(spark) == before
    assert out is shuffled


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """A fragmented write (64 tiny files) compacts to the byte-sized
    target with identical contents and no wide shuffle in the plan."""
    from scip_spark.functions.scale import compact_parquet

    d = str(tmp_path / "frag")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    li.repartition(64).write.mode("overwrite").parquet(d)
    before = sorted(map(tuple, spark.read.parquet(d).collect()))
    stats = compact_parquet(spark, d, target_file_bytes=4 * 1024 * 1024)
    assert stats["files_before"] == 64
    assert stats["files_after"] < 8
    after = sorted(map(tuple, spark.read.parquet(d).collect()))
    assert before == after


def test_self_join_reuses_exchange(spark):
    """Catalyst's ReuseExchange: a self-aggregation joined to itself
    must shuffle the base relation ONCE and reference the same
    exchange twice — the plan property that halves IO for
    with-total-style queries."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    j = agg.alias("a").join(
        agg.alias("b"),
        F.col("a.l_returnflag") == F.col("b.l_returnflag"),
    )
    j.collect()
    final = j._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedShuffle" in final, final[:800]


def test_compact_parquet_preserves_partition_layout(spark, tmp_path):
    """A key=value partitioned directory keeps its hive layout through
    compaction: each leaf dir compacts to one file, partition columns
    still readable."""
    import os

    from pyspark.sql import functions as F

    from scip_spark.functions.scale import compact_parquet

    d = str(tmp_path / "ptab")
    df = spark.range(2000).withColumn("grp", (F.col("id") % 3).cast("int"))
    df.repartition(8).write.partitionBy("grp").parquet(d)
    before = spark.read.parquet(d)
    n_before = before.count()
    stats = compact_parquet(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"]
    leaf_dirs = [p for p in os.listdir(d) if p.startswith("grp=")]
    assert sorted(leaf_dirs) == ["grp=0", "grp=1", "grp=2"]
    after = spark.read.parquet(d)
    assert after.count() == n_before
    assert set(after.columns) == {"id", "grp"}
    assert after.groupBy("grp").count().count() == 3


def test_connected_components_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """With a checkpoint dir configured, the CC loop takes the
    fault-tolerant checkpoint() path (data on shared store, partitions
    recomputable-by-read) and still converges to the right labels."""
    from scip_spark.functions.dedup import connected_components

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (21, 22)],
        "id_a long, id_b long",
    )
    # the other side of the gate: no dir, so the entry materialization
    # and the loop's lineage cuts are localCheckpoints
    local = {r["node_id"]: r["component"] for r in connected_components(edges).collect()}
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        labels = {r["node_id"]: r["component"] for r in connected_components(edges).collect()}
        # chain 0-1-2-3 merged via (1,2); components labeled by min node
        assert labels[3] == 0 and labels[23] == 20
        assert labels == local
        # the reliable path really wrote checkpoint data under the dir
        assert any(ckpt.rglob("rdd-*"))
    finally:
        # restore "no checkpoint dir" so other tests keep exercising the
        # localCheckpoint fallback ($-named Scala setter needs getattr)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(spark._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_cc_runs_its_input_once(spark):
    """The candidate pairs are usually a lazy LSH pipeline. CC
    materializes them once at entry, so that pipeline runs once per
    call (not once for the edges and again for the nodes), and the
    returned labels' plan starts from a checkpoint, not from it."""
    from scip_spark.functions.dedup import connected_components

    rows = spark.sparkContext.accumulator(0)

    def counted(batches):
        for b in batches:
            rows.add(len(b))
            yield b

    raw = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (21, 22)],
        "id_a long, id_b long",
    )
    pairs = raw.mapInPandas(counted, raw.schema)
    labels = connected_components(pairs)
    assert len(labels.collect()) == 40
    assert rows.value == raw.count()
    assert "MapInPandas" not in labels._jdf.queryExecution().optimizedPlan().toString()


def test_cc_drops_pairs_with_null_endpoint(spark):
    """A pair with a NULL id links nothing: it is dropped on entry, so a
    node named only by such pairs gets no label, and a NULL id is never
    a node."""
    from scip_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, None), (None, 5), (None, None), (3, None), (6, 7)],
        "id_a long, id_b long",
    )
    got = {r["node_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 6: 6, 7: 6}


def test_qsketch_quantile_accuracy_and_mergeability(spark):
    """Bottom-k sample quantiles land within the O(1/sqrt(k)) rank
    band, and per-group sketches merged through the semilattice equal
    the sketch built directly over the union (bit-identical)."""
    from scip_spark.functions.quantiles import (
        qsketch,
        qsketch_merge,
        qsketch_quantile,
        qsketch_values,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    direct = qsketch(orders, "v", "o_orderkey", group=None, k=256)
    per_g = qsketch(orders, "v", "o_orderkey", group="g", k=256)
    empty = F.array().cast(per_g.schema["qsk"].dataType)
    merged = (
        per_g.groupBy()
        .agg(
            F.aggregate(
                F.collect_list("qsk"), empty, lambda a, s: qsketch_merge(a, s, 256)
            ).alias("qsk")
        )
        .collect()[0]
        .qsk
    )
    assert merged == direct.collect()[0].qsk

    est = direct.select(
        qsketch_quantile(qsketch_values("qsk"), 0.5).alias("p50")
    ).collect()[0].p50
    n = orders.count()
    true_rank = orders.filter(F.col("v") <= est).count() / n
    # 4 standard errors of the sample median rank at k=256
    assert abs(true_rank - 0.5) < 4 * 0.5 / 16


def test_qsketch_small_group_is_exact(spark):
    """Groups smaller than k keep every row — the sketch quantile is
    the exact discrete quantile."""
    from scip_spark.functions.quantiles import (
        qsketch,
        qsketch_quantile,
        qsketch_values,
    )

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 12)], "id long, v long"
    )
    sk = qsketch(df, "v", "id", group=None, k=256)
    got = sk.select(
        F.size("qsk").alias("m"),
        qsketch_quantile(qsketch_values("qsk"), 0.5).alias("p50"),
        qsketch_quantile(qsketch_values("qsk"), 1.0).alias("p100"),
    ).collect()[0]
    assert got.m == 11
    assert got.p50 == 60  # ceil(0.5*11)=6th of 10..110
    assert got.p100 == 110


def test_compact_parquet_partitioned_honors_target_bytes(spark, tmp_path):
    """With a small byte target, a hot partition key must split into
    multiple output files (the salt path) instead of one straggler
    file per key."""
    import glob

    from scip_spark.functions.scale import compact_parquet

    d = str(tmp_path / "hotkey")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "grp", F.lit(0)
    )  # one hot key holds ~all bytes
    li.repartition(16).write.partitionBy("grp").parquet(d)
    compact_parquet(spark, d, target_file_bytes=64 * 1024)
    files = glob.glob(f"{d}/grp=0/*.parquet") + glob.glob(f"{d}/grp=0/part-*")
    assert len(set(files)) > 1, files


def test_cms_merged_equals_direct_and_overcounts_bounded(spark):
    """Count-min: integer counter sums commute, so per-split sketches
    summed counter-wise must equal the directly-built sketch
    BIT-identically (the property KLL structurally cannot have), and
    every point estimate >= the exact count with overcount <= e*N/w
    on this corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from scip_spark.functions.sketches import CMS_W, cms_bucket, cms_sketch
    from scip_spark.functions.text import tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    occ = docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("t"))

    direct = {
        (r["i"], r["b"]): r["cnt"] for r in cms_sketch(occ, "t").collect()
    }
    merged: dict = {}
    for p in range(3):
        part = cms_sketch(occ.filter(F.col("doc_id") % 3 == p), "t")
        for r in part.collect():
            merged[(r["i"], r["b"])] = merged.get((r["i"], r["b"]), 0) + r["cnt"]
    assert merged == direct  # bit-identical: sums commute

    exact = {r["t"]: r["n"] for r in occ.groupBy("t").agg(F.count("*").alias("n")).collect()}
    n_total = sum(exact.values())
    rows = occ.select(
        "t", *[cms_bucket("t", i).alias(f"b{i}") for i in range(4)]
    ).distinct().collect()
    bound = np.e * n_total / CMS_W
    for r in rows:
        est = min(direct[(i, r[f"b{i}"])] for i in range(4))
        assert est >= exact[r["t"]]  # CMS never undercounts
        assert est - exact[r["t"]] <= bound


def test_hilbert_key_matches_reference_and_beats_zorder_locality(spark):
    """with_hilbert_key vs the textbook xy2d reference on a full
    order-4 grid (bijection onto 0..255 comes free with equality), and
    the quantitative locality claim behind the layout choice:
    consecutive Hilbert indices are ALWAYS unit-step neighbors in
    (x, y), while consecutive Z-order indices jump up to half the grid
    diagonal at quadrant boundaries."""
    from pyspark.sql import functions as F

    from scip_spark.functions.scale import with_hilbert_key, zorder_key

    def xy2d(order, x, y):
        n1 = (1 << order) - 1
        d, s = 0, 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) else 0
            ry = 1 if (y & s) else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n1 - x, n1 - y
                x, y = y, x
            s >>= 1
        return d

    n = 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["hkey"]
        for r in with_hilbert_key(grid, "x", "y", bits=4).collect()
    }
    assert got == {
        (x, y): xy2d(4, x, y) for x in range(n) for y in range(n)
    }

    # full-width keys agree with the reference too (16-bit inputs)
    pts = [(12345, 54321), (65535, 0), (0, 65535), (40000, 1)]
    wide = spark.createDataFrame(pts, "x long, y long")
    for r in with_hilbert_key(wide, "x", "y").collect():
        assert r["hkey"] == xy2d(16, r["x"], r["y"])

    # locality: max (x, y) step between consecutive curve positions
    by_h = [xy for _, xy in sorted((d, xy) for xy, d in got.items())]
    hilbert_max = max(
        abs(a[0] - b[0]) + abs(a[1] - b[1])
        for a, b in zip(by_h, by_h[1:])
    )
    zvals = {
        (r["x"], r["y"]): r["zkey"]
        for r in grid.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), bits=4).alias("zkey")
        ).collect()
    }
    by_z = [xy for _, xy in sorted((d, xy) for xy, d in zvals.items())]
    zorder_max = max(
        abs(a[0] - b[0]) + abs(a[1] - b[1])
        for a, b in zip(by_z, by_z[1:])
    )
    assert hilbert_max == 1          # the Hilbert property
    assert zorder_max > 4            # Z jumps at quadrant boundaries
