"""Scale techniques as first-class operators: salting for skewed keys,
bucketed co-located joins.

At 100 TB the difference between a working and a melted-down job is
usually one hot key or one unnecessary shuffle; these helpers make the
standard mitigations explicit and testable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than cores. Compute-bound stages (hash-heavy dedup, per-record
    kernels) over a small file otherwise run on one task — a 7 MB
    parquet of documents is one 128 MB-split partition but minutes of
    md5 work. An input that already carries enough partitions passes
    through without the shuffle.

    A plan under adaptive execution (one with an exchange, AQE on)
    passes through untouched: asking its RDD for a partition count would
    make AQE execute every upstream shuffle stage and throw the result
    away. Any other plan (a scan with narrow operators, or AQE off) is
    inspected; its partition count comes from the file splits or the
    static shuffle partitions, and reading it runs no job.

    Streaming DataFrames pass through untouched: partition inspection
    is illegal pre-start, and a stream's parallelism is governed by the
    source (maxFilesPerTrigger etc.), not a static repartition."""
    if df.isStreaming:
        return df
    if df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
        return df
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join by dim replication: the fact side gets a
    random salt in [0, n_salts); the (small) dim side is exploded
    n_salts times so every (key, salt) combination exists. The join key
    becomes (key, salt), spreading a hot key over n_salts reducers.
    Results equal ``fact.join(dim, key, how)`` — only shuffle placement
    changes. Use when the dim is too big to broadcast but a fact key is
    hot enough to melt one reducer; cost = n_salts× dim shuffle volume.
    """
    salted_fact = fact.withColumn(
        "_salt", (F.rand(seed=7) * n_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_fact.join(salted_dim, [key, "_salt"], how).drop("_salt")


def salted_count(
    df: DataFrame, key, n_salts: int = 16, agg_cols: list[Column] | None = None
) -> DataFrame:
    """Two-stage skew-proof aggregation: stage 1 groups on
    (key, crc32(row-id) % n_salts) so a hot key spreads over n_salts
    reducers; stage 2 combines the per-salt partials. Results are
    identical to a direct groupBy — only the shuffle shape changes.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    salt = (F.crc32(F.concat_ws("§", *df.columns)) % n_salts).alias("_salt")
    stage1 = (
        df.select(key_col.alias("_key"), salt)
        .groupBy("_key", "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return (
        stage1.groupBy("_key")
        .agg(F.sum("_partial").alias("n"))
        .select(F.col("_key"), F.col("n"))
    )


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    int columns (a -> even positions, b -> odd). Sorting by this key
    clusters rows that are close in BOTH dimensions, so a z-ordered
    parquet layout gives every file a tight min/max bounding box on
    both columns — row-group skipping then prunes scans filtered on
    either (or both) dimensions, the standard lakehouse layout trick.

    Disjoint bit positions mean the interleave is a plain sum of
    shifted bits — pure JVM integer algebra, codegen-friendly, and
    bit-identical in ANSI SQL (>> & <<)."""
    za, zb = a.cast("long"), b.cast("long")
    z = None
    for i in range(bits):
        ea = F.shiftleft(F.shiftright(za, i).bitwiseAND(F.lit(1)), 2 * i)
        eb = F.shiftleft(F.shiftright(zb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = ea + eb if z is None else z + ea + eb
    return z


def with_hilbert_key(
    df: DataFrame,
    xcol: str,
    ycol: str,
    bits: int = 16,
    out: str = "hkey",
) -> DataFrame:
    """2-D Hilbert-curve layout key over the low ``bits`` bits of two
    int columns — the better-locality sibling of :func:`zorder_key`
    (what lakehouse "liquid clustering" uses): consecutive Hilbert
    indices are ALWAYS unit-step neighbors in (x, y), where the Z-order
    curve takes long diagonal jumps at quadrant boundaries, so
    Hilbert-clustered files get strictly tighter per-file min/max
    bounding boxes and better row-group skipping on both dimensions.

    Implementation is the classic top-bit-down quadrant walk (Hilbert
    1891; the xy2d form): per level, the quadrant digit (3·rx) XOR ry
    contributes s²·digit to the index, then the frame reflects/swaps.
    The reflection uses the FULL-grid constant (2^bits − 1 − v), which
    keeps every intermediate in [0, 2^bits) — identical output to the
    textbook s−1 form (lower bits match; pinned against a pure-Python
    reference in tests) but with no transiently-negative values to
    worry about in either engine's bigint semantics.

    Each level is staged as its own projection (bound attributes — the
    conditional x/y swap would otherwise double the expression tree
    per level into 2^bits nodes): ``bits`` chained map-side selects,
    pure integer column algebra, whole-stage-codegen friendly, zero
    shuffle, and bit-identical in ANSI SQL (>> & CASE xor)."""
    n1 = (1 << bits) - 1
    keep = df.columns
    cur = df.select(
        *keep,
        F.col(xcol).cast("long").bitwiseAND(F.lit(n1)).alias("_hx"),
        F.col(ycol).cast("long").bitwiseAND(F.lit(n1)).alias("_hy"),
        F.lit(0).cast("long").alias("_hd"),
    )
    for b in range(bits - 1, -1, -1):
        s = 1 << b
        rx = F.shiftright(F.col("_hx"), b).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), b).bitwiseAND(F.lit(1))
        quad = (rx * 3).bitwiseXOR(ry)  # gray-coded quadrant digit
        nd = F.col("_hd") + F.lit(s * s).cast("long") * quad
        nx = (
            F.when(ry == 1, F.col("_hx"))
            .when(rx == 1, F.lit(n1) - F.col("_hy"))
            .otherwise(F.col("_hy"))
        )
        ny = (
            F.when(ry == 1, F.col("_hy"))
            .when(rx == 1, F.lit(n1) - F.col("_hx"))
            .otherwise(F.col("_hx"))
        )
        cur = cur.select(
            *keep, nx.alias("_hx"), ny.alias("_hy"), nd.alias("_hd")
        )
    return cur.select(*keep, F.col("_hd").alias(out))


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered by the z-order of two columns:
    repartitionByRange on the key makes each output file own a
    contiguous z-range (a small spatial tile), sortWithinPartitions
    keeps row groups tight inside the file. One range shuffle — the
    same cost as any global sort — bought once at write time, repaid
    on every filtered read."""
    keyed = df.withColumn("_z", zorder_key(F.col(cols[0]), F.col(cols[1]), bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> dict:
    """Small-files compaction (the OPTIMIZE-style table maintenance a
    long-lived dataset needs): rewrite a parquet directory so each
    output file is ~``target_file_bytes``.

    Streaming ingests and fine-grained partitionBy writes leave
    thousands of KB-sized files; every reader then pays per-file open
    + footer + task-schedule overhead, and the NameNode/listing cost
    grows unbounded. Compaction = one rewrite sized from the ACTUAL
    on-disk bytes (not row counts — compression varies), written to a
    temp dir and swapped in via two renames.

    The swap is NOT atomic: readers racing the swap can see a missing
    path between the two renames, and a crash there leaves the original
    data intact under ``<path>.__precompact__`` (recovery = rename it
    back). Production tables want a transactional format's OPTIMIZE
    (snapshot isolation) instead; this is the bare-metal equivalent
    for plain parquet directories, maintenance-window semantics.

    A ``key=value`` partitioned layout is PRESERVED: partition columns
    are re-derived from the directory names and the rewrite goes
    through ``repartition`` on (part_cols + salt) + ``partitionBy``.
    The salt honors ``target_file_bytes`` on average: with
    files-per-key = max(1, round(n_out / n_keys)), a hot leaf splits
    into several writer tasks instead of one straggler producing one
    giant file. Sizing is average-based (per-key bytes aren't probed),
    so a single key that dominates the table still compacts to ~its
    share of n_out files, not to target_file_bytes exactly.
    Unpartitioned input uses ``coalesce()`` (merges input splits, no
    wide shuffle).

    Returns {files_before, files_after, bytes}. Use zorder_write when
    the goal is clustering rather than file-count hygiene.
    """
    import math
    import os
    import shutil

    def _stats(d: str) -> tuple[int, int]:
        n, b = 0, 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet") or (
                    f.startswith("part-") and not f.endswith(".crc")
                ):
                    n += 1
                    b += os.path.getsize(os.path.join(root, f))
        return n, b

    def _partition_cols(d: str) -> list[str]:
        cols = []
        cur = d
        while True:
            subs = [s for s in os.listdir(cur) if os.path.isdir(os.path.join(cur, s))]
            hive = [s for s in subs if "=" in s]
            if not hive:
                return cols
            cols.append(hive[0].split("=", 1)[0])
            cur = os.path.join(cur, hive[0])

    files_before, total_bytes = _stats(path)
    n_out = max(min_files, math.ceil(total_bytes / max(target_file_bytes, 1)))
    tmp = f"{path.rstrip('/')}.__compacting__"
    df = spark.read.parquet(path)
    part_cols = _partition_cols(path)
    if part_cols:
        n_keys = df.select(*part_cols).distinct().count()
        per_key = max(1, round(n_out / max(n_keys, 1)))
        salt = F.pmod(F.xxhash64(*[c for c in df.columns]), F.lit(per_key))
        # explicit partition count: an expression-only repartition is
        # AQE-coalescible, which would collapse the salt back into one
        # writer task and defeat the per-key sizing
        df.repartition(
            n_out, *([F.col(c) for c in part_cols] + [salt])
        ).write.mode("overwrite").partitionBy(*part_cols).parquet(tmp)
    else:
        df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    back = f"{path.rstrip('/')}.__precompact__"
    os.rename(path, back)
    os.rename(tmp, path)  # crash between renames: recover from `back`
    shutil.rmtree(back)
    files_after, _ = _stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
    }
