"""Benchmark entry point.

    python3 perfbench/run.py --workload portal_lookup --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Builds nothing: it imports `tcrd_spark`
from the checkout, generates its inputs from the seed into a fresh
scratch directory under `.perfbench_work/`, starts one Spark session on
local[<cores>], sets up, measures for `--seconds`, checks every answer
and prints one metric per line followed by a last line of JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, from spans recorded around every call into a
layer; the spans go to `.perfbench_results/`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("portal_lookup", "tcrd_build")
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
# A fixed CPU-only Spark job: its time drifts only with the machine.
CALIBRATION_ROWS = 100_000_000


def layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, for all workloads."""
    from workloads import PORTAL_OPS

    out = {"session.start_s": "s", "machine.calibration_s": "s",
           "process.peak_rss_mb": "MB"}
    for op in PORTAL_OPS:
        for stat, unit in (("build_s", "s"), ("exec_s", "s"), ("p50_s", "s"),
                           ("jobs", "count"), ("tasks", "count")):
            out[f"api.{op}.{stat}"] = unit
    out["api.distinct_key_frac"] = "ratio"
    out["lake.load_lake_s"] = "s"
    out["lake.files_per_scan"] = "count"
    for fn in ("create_table", "append_version", "merge_version", "read_version"):
        out[f"snapshots.{fn}_s"] = "s"
    out["snapshots.files_added"] = "count"
    out["snapshots.bytes_written"] = "bytes"
    out["snapshots.rows_committed"] = "rows"
    out["snapshots.write_amp"] = "ratio"
    out["etl.load_jensenlab_pmscores_s"] = "s"
    out["etl.resolve_notfnd_frac"] = "ratio"
    out["analytics.tdl_refresh_s"] = "s"
    out["analytics.run_tinx_s"] = "s"
    for q in ("pipeline.generif_dedup", "operators.scd2_batch_delta"):
        out[f"{q}.build_s"] = "s"
        out[f"{q}.exec_s"] = "s"
    out["pipeline.generif_dedup.survivor_frac"] = "ratio"
    out["registry.clear_session_memos_s"] = "s"
    out["driver.build_frac"] = "ratio"
    out["spark.tasks"] = "count"
    return out


def _environment(work: str) -> int:
    """Keep every file Spark and Python write inside the run's scratch
    directory, and size the session to this machine."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM of the run (launcher and driver): temp files here, no
    # hsperfdata file under /tmp, and hot code compiled after a tenth of
    # the default invocation counts. With the defaults the portal's
    # document keeps speeding up for about a dozen requests (4.4 s to
    # 2.2 s on a 4-core machine), so a short run would time the JIT
    # compiler instead of the program; with this it levels off after
    # four or five.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:CompileThresholdScaling=0.1 "
        f"-Djava.io.tmpdir={tmp}")
    return cores


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _calibrate(spark) -> float:
    """Seconds of the calibration job, after one untimed run of it. Each
    run builds a fresh DataFrame: re-collecting one DataFrame would reuse
    its shuffle output and skip the work."""
    from pyspark.sql import functions as F

    def job():
        spark.range(0, CALIBRATION_ROWS).select(F.avg(F.xxhash64("id"))).collect()

    job()
    t = time.perf_counter()
    job()
    return time.perf_counter() - t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import tcrd_spark.session  # noqa: F401  the code under test
    except ImportError as ex:
        print(f"perfbench: cannot import tcrd_spark from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    import gen
    import workloads as W
    from spans import Tracer, peak_rss_mb, write_json

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results_dir = os.path.join(ROOT, ".perfbench_results")
    cores = _environment(work)
    tr = Tracer(bool(args.trace), run_id)
    spark = None
    try:
        t_start = time.perf_counter()
        # inputs are generated while the JVM starts; both count as set-up
        inputs: dict = {}

        def generate():
            try:
                d = os.path.join(work, "lake")
                tables = (W.PORTAL_TABLES if args.workload == "portal_lookup"
                          else W.BUILD_TABLES)
                inputs["lake"] = (gen.make_lake(args.seed, d, tables=tables), d)
            except BaseException as ex:
                inputs["error"] = ex

        th = threading.Thread(target=generate)
        th.start()
        from tcrd_spark.session import get_spark

        with tr.span("session.start"):
            t = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        th.join()
        if "error" in inputs:
            raise inputs["error"]
        ctx = W.Ctx(spark=spark, tr=tr, seed=args.seed,
                    seconds=args.seconds, work=work)
        run = W.portal_lookup if args.workload == "portal_lookup" else W.tcrd_build
        res = run(ctx, *inputs["lake"], t_start)
        calibration = _calibrate(spark)
        master = spark.sparkContext.master
    finally:
        if spark is not None:
            rss = peak_rss_mb(_jvm_pid())
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    res.e2e["setup_s"] = (res.setup_s, "s")
    res.e2e["peak_rss_mb"] = (rss, "MB")
    layers = {k: (0.0, u) for k, u in layer_names().items()}
    layers.update(res.layers)
    layers["session.start_s"] = (session_s, "s")
    layers["machine.calibration_s"] = (calibration, "s")
    layers["process.peak_rss_mb"] = (rss, "MB")
    error_rate = res.failed / max(1, res.attempted)

    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace}")
    print(f"# nproc {cores} master {master} "
          f"machine.calibration_s {calibration:.4f}")
    for note in res.notes:
        print(f"# {note}")
    for k, (v, u) in sorted(res.e2e.items()):
        print(f"{k} {v:.6g} {u}")
    print(f"error_rate {error_rate:.6g} ratio ({res.failed}/{res.attempted})")

    tag = f"{args.workload}-seed{args.seed}"
    e2e_path = os.path.join(results_dir, f"{tag}-e2e.json")
    if args.trace:
        tr.dump(os.path.join(results_dir, f"{tag}-spans.json"))
        for k, (v, u) in sorted(layers.items()):
            print(f"{k} {v:.6g} {u}")
        if os.path.exists(e2e_path):
            with open(e2e_path) as fh:
                base = json.load(fh)
            for k, (v, _) in sorted(res.e2e.items()):
                if k in base:
                    print(f"# tracing overhead {k}: traced {v:.6g} untraced "
                          f"{base[k]:.6g} ({v - base[k]:+.6g})")
        else:
            print("# tracing overhead: run the same workload and seed with "
                  "--trace 0 first")
        metrics = layers
    else:
        write_json(e2e_path, {k: v for k, (v, _) in res.e2e.items()})
        metrics = {k: res.e2e[k] for k in E2E_UNITS}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


if __name__ == "__main__":
    sys.exit(main())
