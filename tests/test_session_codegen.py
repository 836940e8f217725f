"""A repeated corpus-curation pass must reuse its generated classes.

Spark caches the classes whole-stage codegen compiles, keyed by source
text. One curation pass (language gate, exact dedup, MinHash-LSH,
connected components, shard packing, parquet export) generates more
distinct classes than Spark's default cache holds, so at the default
every repeat recompiled them all, and the JIT compiled them again.
The session sizes the cache so a repeat compiles nothing new.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scip_spark.functions.text import LANG_MARKERS


def _corpus(spark):
    """40 base documents from marker and filler words, plus a
    near-duplicate (one substituted token) and an exact copy (upper
    case) of every fourth one."""
    rnd = random.Random(7)
    vocab = [w for words in LANG_MARKERS.values() for w in words] + [f"w{i}" for i in range(200)]
    texts = [" ".join(rnd.choice(vocab) for _ in range(30)) for _ in range(40)]
    for t in texts[::4]:
        toks = t.split()
        toks[5] = "zzz"
        texts += [" ".join(toks), t.upper()]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts, "n_chars": [len(t) for t in texts]})
    )


def _curate(docs, out: str) -> None:
    from scip_spark.functions.corpus import pack_shards, split_assign
    from scip_spark.functions.dedup import connected_components, lsh_candidate_pairs
    from scip_spark.functions.text import fingerprint, lang_id, tokens
    from scip_spark.sources.export import export_parquet

    kept = docs.select(
        "*", F.size(tokens("text")).alias("n_tokens"), lang_id("text").alias("pred_lang")
    ).filter((F.col("n_tokens") >= 10) & (F.col("pred_lang") != "unknown"))
    exact = (
        kept.withColumn("fp", fingerprint("text"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    clusters = connected_components(lsh_candidate_pairs(exact))
    drop = clusters.filter(F.col("node_id") != F.col("component")).select(
        F.col("node_id").alias("doc_id")
    )
    assigned = split_assign(exact.join(drop, "doc_id", "left_anti"))
    packed = pack_shards(assigned.filter(F.col("split") == "train"), budget=2_000)
    holdout = assigned.filter(F.col("split") != "train").withColumn("shard_id", F.lit(-1).cast("long"))
    try:
        export_parquet(packed.unionByName(holdout).drop("n_tokens"), out, partition_by=["split"])
    finally:
        docs.sparkSession.catalog.clearCache()


def test_repeated_curation_compiles_no_new_classes(spark, tmp_path):
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    docs = _corpus(spark)
    _curate(docs, str(tmp_path / "first"))
    before = compilations.getCount()
    _curate(docs, str(tmp_path / "second"))
    first = spark.read.parquet(str(tmp_path / "first")).orderBy("doc_id").collect()
    second = spark.read.parquet(str(tmp_path / "second")).orderBy("doc_id").collect()
    assert first == second and len(first) > 0
    # a handful of classes may still be new on a repeat (plans whose
    # shape depends on runtime statistics); a cache too small for one
    # pass recompiles about a hundred
    assert compilations.getCount() - before <= 8
