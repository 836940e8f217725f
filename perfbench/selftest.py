"""Self-test of the correctness checks: a corrupted output must fail them.

    python3 perfbench/run.py --workload imaging_tiff --selftest

Runs the workload once at the default seed and requires the checks to
pass. Then it corrupts the result in three ways and requires each to be
caught: the exported table against the clean one (one feature value
nudged, or one surviving document dropped); the exported table alone,
by the checks that hold at every seed (one acquisition group dropped,
or a document that fails the language gate or quality floor added);
and, for the imaging workloads, one decoded input record (a sample
input file rewritten with one pixel changed). Exit code 0 when every
corruption is caught.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from perfbench import inputs as I
from perfbench.observe import NullTracer
from perfbench.workloads import FOV_PROBES, TIFF_PROBES, WORKLOADS, _sample_indices, check


def _corrupt_table(spark, wl_name: str, out: str, bad: str) -> None:
    """Copy of the export with one value changed."""
    table = spark.read.parquet(out)
    if wl_name == "curation_dedup":
        victim = table.agg(F.min("doc_id")).first()[0]
        table.filter(F.col("doc_id") != victim).write.mode("overwrite").partitionBy("split").parquet(bad)
        return
    probe = (TIFF_PROBES if wl_name == "imaging_tiff" else FOV_PROBES)[0]
    # nudge the probe of one record by far more than the 2^-20 grid
    first = table.filter(F.col(probe).isNotNull()).agg(F.min(probe)).first()[0]
    table.withColumn(
        probe, F.when(F.col(probe) == F.lit(first), F.col(probe) + F.lit(0.5)).otherwise(F.col(probe))
    ).write.mode("overwrite").parquet(bad)


def _implausible_table(spark, wl_name: str, out: str, bad: str, seed: int) -> None:
    """Copy of the export that the seed-independent checks must reject:
    without one acquisition group, or with a gated document added."""
    table = spark.read.parquet(out)
    if wl_name != "curation_dedup":
        group = table.agg(F.min("group")).first()[0]
        table.filter(F.col("group") != group).write.mode("overwrite").parquet(bad)
        return
    gated = next(i for i, (_, _, q) in enumerate(I.doc_families(seed)) if q != "good")
    extra = table.limit(1).withColumn("doc_id", F.lit(gated).cast(table.schema["doc_id"].dataType))
    table.unionByName(extra).write.mode("overwrite").partitionBy("split").parquet(bad)


def _corrupt_input(wl_name: str, root: str, seed: int) -> str:
    """Copy of the inputs where the first sampled record differs from
    what the generator made in one pixel."""
    bad = root + ".corrupt"
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(root, bad)
    if wl_name == "imaging_tiff":
        from scip_spark.sources.tiffio import write_tiff

        i = _sample_indices(I.TIFF_EVENTS, seed)[0]
        plane = I.tiff_event(seed, i)[0].copy()
        plane[0, 0] += 1
        write_tiff(I.tiff_path(bad, i, 0), plane, compression="lzw", predictor=2)
    else:
        from scip_spark.sources.zarrio import write_group

        i = _sample_indices(I.FOV_FRAMES, seed)[0]
        well = i % I.FOV_WELLS
        frames = [I.fov_frame(seed, j) for j in I.fov_members(well)]
        frames[I.fov_members(well).index(i)][0, 0, 0] += 1
        store = I.fov_store(bad, well)
        shutil.rmtree(store)
        write_group(store, frames, compressor="blosc-lz4")
    return bad


def selftest(wl_name: str, checkout: str, work: str, start_session) -> int:
    seed = I.DEFAULT_SEED
    wl = WORKLOADS[wl_name]
    root, _ = I.ensure_inputs(checkout, wl_name, seed)
    spark = start_session(work)
    out = os.path.join(work, "selftest", wl_name)
    failures = []
    try:
        wl.run(spark, root, out, NullTracer())
        good = wl.summarize(spark, out)
        errors = check(wl, spark, root, out, seed, [good])
        print(f"selftest {wl_name}: clean output -> {errors or 'checks pass'}")
        if errors:
            failures.append("the clean output failed the checks")

        bad_out = out + ".corrupt"
        _corrupt_table(spark, wl_name, out, bad_out)
        errors = check(wl, spark, root, bad_out, seed, [good, wl.summarize(spark, bad_out)])
        print(f"selftest {wl_name}: corrupted export -> {len(errors)} check failure(s)")
        if not errors:
            failures.append("a corrupted export passed the checks")

        _implausible_table(spark, wl_name, out, bad_out, seed)
        errors = wl.check_output(spark, root, bad_out, seed, wl.summarize(spark, bad_out))
        print(f"selftest {wl_name}: implausible export, no reference -> {errors}")
        if not errors:
            failures.append("an implausible export passed the seed-independent checks")

        if wl_name != "curation_dedup":
            bad_root = _corrupt_input(wl_name, root, seed)
            errors = wl.check_output(spark, bad_root, out, seed, good)
            print(f"selftest {wl_name}: corrupted decoded record -> {errors}")
            if not errors:
                failures.append("a corrupted input record passed the pixel check")
            shutil.rmtree(bad_root, ignore_errors=True)
    finally:
        spark.stop()
    print(f"selftest {wl_name}: " + ("; ".join(failures) if failures else "every corruption was caught"))
    return 1 if failures else 0
