"""Benchmark of the scip_spark engine: three workloads, end-to-end
metrics with tracing off, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload imaging_tiff --seed 0 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table
    python3 perfbench/run.py --workload imaging_fov --selftest

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer ones with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations


def _process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    import os

    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# setup_s counts from process start: take the age before anything else
_AGE_AT_TOP = _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

_T_TOP = time.perf_counter()
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)

from perfbench.inputs import DEFAULT_SEED, WORK_DIR, WORKLOAD_NAMES  # noqa: E402

#: warm executions per run, at least, however short --seconds is: the
#: reported wall is their median
MIN_WARM = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=20.0, help="warm measuring window")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true", help="corrupt the outputs and check that the checks fail")
    return p.parse_args(argv)


def _prepare_environment() -> str:
    """Make the engine importable here and in Spark's Python workers
    (they unpickle scip_spark closures), and keep every scratch file
    inside the checkout."""
    if not os.path.isfile(os.path.join(CHECKOUT, "scip_spark", "session.py")):
        sys.exit(f"perfbench: no scip_spark package under {CHECKOUT}; run from a full checkout")
    work = os.path.join(CHECKOUT, WORK_DIR)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    # a small driver heap leaves room for the machine's other tenants;
    # the engine's default, which the CLI runs with, is 24g
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return work


def cores() -> int:
    """Usable cores, capped at 8: each Python worker holds ~140 MB, and
    outputs do not depend on the count."""
    return min(len(os.sched_getaffinity(0)), 8)


def start_session(work: str):
    from scip_spark.session import get_spark

    n = cores()
    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def end_jvm() -> None:
    """Wait for the session's JVM to exit. PySpark leaves it running after
    ``spark.stop()`` until its stdin closes, which otherwise happens only
    as this process exits, after the run has printed its result."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _import_engine() -> None:
    """The engine modules an execution uses: imported before the session
    is ready, so their cost is part of setup_s (as for the CLI)."""
    import scip_spark.functions.corpus  # noqa: F401
    import scip_spark.functions.dedup  # noqa: F401
    import scip_spark.plans.pipeline  # noqa: F401
    import scip_spark.sources.export  # noqa: F401
    import scip_spark.sources.filescan  # noqa: F401
    import scip_spark.sources.tiffio  # noqa: F401
    import scip_spark.sources.zarrio  # noqa: F401


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Outcome:
    """Attempted and failed executions, and the walls of the successful
    ones; a failed execution never enters a median."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.summaries: list[dict] = []

    def execute(self, wl, spark, root: str, out: str, tr) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            wl.run(spark, root, out, tr)
        except Exception:  # noqa: BLE001 — a failed execution is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None
        wall = time.perf_counter() - t0
        self.walls.append(wall)
        return wall

    def summarize(self, wl, spark, out: str) -> None:
        """Read the last successful execution's output back (untimed)."""
        self.summaries.append(wl.summarize(spark, out))


def run_workload(args, work: str) -> dict:
    from perfbench import inputs as I

    _import_engine()
    t_gen = time.perf_counter()
    root, manifest = I.ensure_inputs(CHECKOUT, args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    spark = start_session(work)
    setup_main = _AGE_AT_TOP + (time.perf_counter() - _T_TOP) - gen_s

    from perfbench.observe import NullTracer, Sampler, SparkStatus, env_stamp, tree_rss_bytes
    from perfbench.workloads import WORKLOADS, check

    wl = WORKLOADS[args.workload]
    out = os.path.join(work, "out", args.workload)
    outcome = Outcome()
    layer: dict = {}
    with Sampler({"rss": tree_rss_bytes}, interval=0.1) as rss:
        cold = outcome.execute(wl, spark, root, out, NullTracer())
        if cold is not None:
            outcome.summarize(wl, spark, out)
        if args.trace:
            from perfbench.layers import traced_run

            layer = traced_run(wl, spark, root, out, outcome, setup_main, cold, rss, args.seed, work)
        else:
            t_warm = time.perf_counter()
            while outcome.attempted - 1 < MIN_WARM or time.perf_counter() - t_warm < args.seconds:
                if outcome.execute(wl, spark, root, out, NullTracer()) is not None:
                    outcome.summarize(wl, spark, out)
    errors = check(wl, spark, root, out, args.seed, outcome.summaries)
    status = SparkStatus(spark)
    task_failures = status.delta({"jobs": set(), "stages": {}}, status.snapshot())["task_failures"]
    env = env_stamp(CHECKOUT, spark.sparkContext.master, spark.version)
    spark.stop()
    end_jvm()

    if cold is None or len(outcome.walls) < 2:
        sys.exit(f"perfbench: {args.workload}: the cold execution or every warm one failed")
    records = manifest["records"]
    result = {
        "correct": not errors,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
    }
    if args.trace:
        result["metrics"] = layer
    else:
        wall = statistics.median(outcome.walls[1:])
        result["metrics"] = {
            "setup_s": {"value": setup_main, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "records_per_s": {"value": records / wall, "unit": "1/s"},
        }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "records": records,
        "inputs_generated_s": round(gen_s, 3),
        "walls_s": [round(w, 4) for w in outcome.walls],
        # measured every run but not bounded (too unsteady on a shared
        # box, see README.md); the traced run reports both per layer
        "cold_s": cold,
        "peak_rss_mb": rss.peak["rss"] / 1e6,
        "spark_task_failures": task_failures,
        "output": outcome.summaries[0] if outcome.summaries else None,
        "errors": errors,
        "env": env,
    }
    print("perfbench detail: " + json.dumps(detail))
    return result


def run_all(args) -> None:
    """Every workload in its own fresh process (a fresh session per
    workload, as a single-workload run has), printed as one table."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            sys.exit(f"perfbench: {name} failed")
        lines = proc.stdout.strip().splitlines()
        results[name] = json.loads(lines[-1])
        detail = json.loads(lines[-2].split("perfbench detail: ", 1)[1])
        if not args.trace:
            results[name]["reported"] = {
                "cold_s": {"value": detail["cold_s"], "unit": "s"},
                "peak_rss_mb": {"value": detail["peak_rss_mb"], "unit": "MB"},
            }
    print(f"{'workload':<16} {'metric':<36} {'value':>14}  unit")
    for name, res in results.items():
        for metric, m in [*res["metrics"].items(), *res.get("reported", {}).items()]:
            print(f"{name:<16} {metric:<36} {m['value']:>14.4f}  {m['unit']}")
        print(f"{name:<16} {'correct / attempted / failed':<36} {str(res['correct']):>14}  "
              f"{res['attempted']} / {res['failed']}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "workloads": results,
    }))


def main(argv=None) -> None:
    args = parse_args(argv)
    work = _prepare_environment()
    if args.selftest:
        from perfbench.selftest import selftest

        if args.workload == "all":
            sys.exit("perfbench: --selftest takes one workload")
        code = selftest(args.workload, CHECKOUT, work, start_session)
        end_jvm()
        sys.exit(code)
    if args.workload == "all":
        run_all(args)
        return
    result = run_workload(args, work)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
