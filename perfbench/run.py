"""Repository benchmark: one closed-loop client against the package's
public entry points.

    python3 perfbench/run.py --workload api_sf0.01 --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md): ``api_sf0.01`` calls
``api_server.run_query`` over a seeded, cost-stratified sample of the
bench inventory; ``ingest_upsert`` runs ``job.run_ingestion_job``
batches into a pre-seeded secure table and reads one new user back.

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from spans and
Spark's event log) with ``--trace 1``. Every output is checked; a
wrong output counts as a failed operation.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

T_TOP = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("api_sf0.01", "ingest_upsert")


def since_process_start() -> float:
    """Seconds from this process's start (kernel start time) to now."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def main() -> int:
    startup = since_process_start() - (time.perf_counter() - T_TOP)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "data_ingestion_project_spark")):
        print(f"perfbench: no package to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import env

    env.configure()

    import prep

    # ---- data preparation: never part of a timed region
    t_prep = time.perf_counter()
    if not prep.ready(args.workload):  # first run in a checkout or on changed program code
        subprocess.run([sys.executable, os.path.join(HERE, "prep.py"), args.workload], check=True, cwd=ROOT)
    if args.workload == "ingest_upsert":
        dest = os.path.join(env.WORK, "ingest", "users.parquet")
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(prep.INGEST_BASE, dest)
    excluded = time.perf_counter() - t_prep

    event_dir = os.path.join(env.WORK, "eventlog")
    extra = {}
    if args.trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = env.start_session(f"perfbench-{args.workload}", extra)
    session_start_s = time.perf_counter() - t0
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark)

    import workloads

    fn = workloads.api if args.workload == "api_sf0.01" else workloads.ingest
    try:
        run = fn(spark, args.seed, args.seconds, tracer)
        persisted, cached_mb = env.session_health(spark)
        peak_rss = env.peak_rss_mb()
    finally:
        env.stop_session(spark)
    if not run.op_s:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    setup_s = startup + (run.first_op_at - T_TOP) - excluded

    import report

    if args.trace:
        (log,) = glob.glob(os.path.join(event_dir, "*"))
        metrics = report.per_layer(args.workload, run, tracer, log, env.CORES)
        metrics.update(
            {
                "session.start_s": (session_start_s, "s"),
                "session.warm_s": (run.setup["warm_s"], "s"),
                "session.assets_s": (run.setup["assets_s"], "s"),
                "session.persisted_rdds_end": (persisted, "count"),
                "session.cached_mb_end": (cached_mb, "MB"),
            }
        )
    else:
        metrics = report.end_to_end(args.workload, run, setup_s, peak_rss, (persisted, cached_mb))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": len(run.op_s),
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
