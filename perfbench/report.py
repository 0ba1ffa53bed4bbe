"""Turn a finished run into metrics.

End-to-end metrics are the same four names on every workload; an
"operation" is one ``run_query`` call on ``api_sf0.01`` and one
``run_ingestion_job`` batch on ``ingest_upsert``. Per-layer metrics
are per-operation means (counts and seconds) over the traced run, so
the layer seconds of one workload add up to its mean operation wall
time; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import env
import stats
from eventlog import parse_event_log

MB = 2**20

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "session.assets_s": "s",
    "session.persisted_rdds_end": "count", "session.cached_mb_end": "MB",
    "readers.open_s": "s", "readers.open_jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_executor_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.collect_s": "s", "exec.jobs": "count", "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.peak_exec_mem_mb": "MB",
    "api.call_s": "s", "api.convert_s": "s", "api.rows": "count",
    "users_json.s": "s", "transform.s": "s", "transform.tasks": "count",
    "upsert.s": "s", "upsert.jobs": "count", "upsert.read_mb": "MB", "upsert.written_mb": "MB",
    "upsert.write_amp": "ratio", "upsert.files_written": "count",
    "lookup.p50_s": "s", "lookup.files_read": "count", "lookup.read_mb": "MB",
    "trace.op_p50_s": "s", "trace.residual_frac": "ratio",
}
RECONCILE_TOL = 0.05  # allowed |wall - sum of layers| / wall over a run
SLOWEST = 25


def _say(line: str) -> None:
    print(f"# {line}", flush=True)


def end_to_end(
    workload: str, run, setup_s: float, peak_rss_mb: float, health: tuple[int, float]
) -> dict[str, tuple[float, str]]:
    n = len(run.op_s)
    p50 = statistics.median(run.op_s)
    tail = stats.tail_percentile(run.op_s)
    noun = "query" if workload.startswith("api") else "batch"
    tail_txt = (
        f"p{tail[0]} {tail[1]:.4f} s"
        if tail
        else f"n/a (p{stats.MIN_TAIL_PCT} with {stats.TAIL_BEYOND} samples beyond needs >= 100)"
    )
    _say(
        f"{workload}: {noun}_p50_s={p50:.4f} s, {noun}_tail_s={tail_txt}, samples={n}, "
        f"{'queries' if noun == 'query' else 'batches'}_per_s={n / sum(run.op_s):.4f} 1/s, setup_s={setup_s:.3f} s, "
        f"peak_rss_mb={peak_rss_mb:.1f} MB, error_rate={run.failed / n:.4f} ({run.failed}/{n})"
    )
    _say(f"{workload}: session.persisted_rdds_end={health[0]}, session.cached_mb_end={health[1]:.2f} MB")
    with open(os.path.join(env.WORK, f"ops_{workload}.json"), "w") as f:
        json.dump({"names": run.names, "op_s": run.op_s, "lookup_s": run.lookup_s}, f)
    if run.lookup_s:
        _say(f"{workload}: lookup_p50_s={statistics.median(run.lookup_s):.4f} s (n={len(run.lookup_s)})")
    values = {"setup_s": setup_s, "op_p50_s": p50, "ops_per_s": n / sum(run.op_s), "peak_rss_mb": peak_rss_mb}
    return {k: (values[k], u) for k, u in END_TO_END.items()}


def _group(groups, op: int, layer: str) -> dict[str, float]:
    return groups.get(f"{op}|{layer}", {})


def per_layer(workload: str, run, tracer, event_log: str, cores: int) -> dict[str, tuple[float, str]]:
    """Per-operation layer means from the spans and the event log,
    plus the slowest operations and the reconciliation check."""
    groups = parse_event_log(event_log)
    tot: dict[str, float] = defaultdict(float)
    peak_mem = 0.0
    rows = []
    for i, wall in enumerate(run.op_s):
        spans, cat = tracer.layer_s[i], tracer.catalyst[i]
        plan_s = cat["optimization"] + cat["planning"]
        collect_layer = "collect" if workload.startswith("api") else "lookup"
        ex = _group(groups, i, collect_layer)
        row = {"op": run.names[i], "wall_s": wall, **{f"catalyst.{k}_s": v for k, v in cat.items()}}
        row.update(
            {
                "exec.collect_s": spans[collect_layer] - plan_s,
                "exec.jobs": ex.get("jobs", 0),
                "exec.tasks": ex.get("tasks", 0),
                "exec.failed_tasks": ex.get("failed_tasks", 0),
                "exec.executor_run_s": ex.get("run_s", 0),
                "exec.executor_cpu_s": ex.get("cpu_s", 0),
                "exec.gc_s": ex.get("gc_s", 0),
                "exec.input_mb": ex.get("files_bytes", 0) / MB,
                "exec.shuffle_read_mb": ex.get("shuffle_read_bytes", 0) / MB,
                "exec.shuffle_write_mb": ex.get("shuffle_write_bytes", 0) / MB,
                "exec.spill_mb": ex.get("spill_bytes", 0) / MB,
            }
        )
        peak_mem = max(peak_mem, ex.get("peak_exec_mem_bytes", 0) / MB)
        if workload.startswith("api"):
            opened, built = _group(groups, i, "open"), _group(groups, i, "build")
            convert = tracer.marks[i]["call_end"] - tracer.marks[i].get("collect_end", tracer.marks[i]["call_end"])
            row.update(
                {
                    "readers.open_s": spans["open"],
                    "readers.open_jobs": opened.get("jobs", 0),
                    "queries.build_s": spans["build"],
                    "queries.build_jobs": built.get("jobs", 0),
                    "queries.build_executor_s": built.get("run_s", 0),
                    "api.call_s": wall,
                    "api.convert_s": convert,
                    "api.rows": run.rows[i],
                }
            )
            layered = spans["open"] + spans["build"] + cat["analysis"] + spans["collect"] + convert
        else:
            up, mat = _group(groups, i, "upsert"), _group(groups, i, "transform_mat")
            new_bytes = run.new_rows[i] * run.table_bytes_per_row
            row.update(
                {
                    "users_json.s": spans["users_json"],
                    "transform.s": spans["transform"] + spans["transform_mat"],
                    "transform.tasks": mat.get("tasks", 0),
                    "upsert.s": spans["upsert"],
                    "upsert.jobs": up.get("jobs", 0),
                    "upsert.read_mb": up.get("files_bytes", 0) / MB,
                    "upsert.written_mb": up.get("output_bytes", 0) / MB,
                    "upsert.write_amp": up.get("output_bytes", 0) / new_bytes if new_bytes else 0.0,
                    "upsert.files_written": run.files_written[i],
                    "lookup.files_read": ex.get("files_read", 0),
                    "lookup.read_mb": ex.get("files_bytes", 0) / MB,
                }
            )
            # the batch's own jobs (the rows_fetched count) timed by Spark's clock
            layered = (
                spans["users_json"] + spans["transform"] + spans["transform_mat"] + spans["upsert"]
                + _group(groups, i, "batch").get("job_wall_s", 0)
            )
        row["residual_s"] = wall - layered
        rows.append(row)
        for k, v in row.items():
            if k in PER_LAYER or k in ("wall_s", "residual_s"):
                tot[k] += v

    n = len(run.op_s)
    out = {k: tot[k] / n for k in PER_LAYER if k in tot}
    out["exec.busy_frac"] = tot["exec.executor_run_s"] / (tot["exec.collect_s"] * cores) if tot["exec.collect_s"] > 0 else 0.0
    out["exec.peak_exec_mem_mb"] = peak_mem
    out["lookup.p50_s"] = statistics.median(run.lookup_s) if run.lookup_s else 0.0
    out["trace.op_p50_s"] = statistics.median(run.op_s)
    out["trace.residual_frac"] = tot["residual_s"] / tot["wall_s"]

    rows.sort(key=lambda r: -r["wall_s"])
    with open(os.path.join(env.WORK, f"trace_{workload}.json"), "w") as f:
        json.dump(rows, f, indent=1)
    _say("slowest " + json.dumps([{k: round(v, 4) if isinstance(v, float) else v for k, v in r.items()} for r in rows[:SLOWEST]]))
    ok = abs(out["trace.residual_frac"]) <= RECONCILE_TOL
    _say(
        f"reconcile: layers cover {1 - out['trace.residual_frac']:.4f} of op wall time "
        f"({'within' if ok else 'OUTSIDE'} the {RECONCILE_TOL:.0%} tolerance)"
    )
    return {k: (out.get(k, 0.0), u) for k, u in PER_LAYER.items()}
