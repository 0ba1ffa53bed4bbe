"""The two workloads: one closed-loop client, one long-lived session.

Each workload function sets up (timed as part of ``setup_s``), then
runs its operations back to back, checking every output: a fixed
amount of work sized from ``seconds``, the same for every seed. It
returns a ``Run`` with per-operation wall times and outcomes; ``run.py``
turns that into metrics.
"""

from __future__ import annotations

import base64
import hashlib
import itertools
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import env
import gen
import prep

LIMIT = 100  # rows per API response, as the HTTP route defaults
# Both workloads run fixed work sized from --seconds, not a time box, which
# would end runs at a host-speed-dependent point. api_sf0.01 makes
# STRATUM_CALLS_PER_S calls from each of the pool's 8 cost strata per second
# (a call takes 0.6-1.7 s on 4 cores): at 20 s that is every query of the
# 2-per-stratum pool once, so only the order depends on the seed; a seeded
# sample moved the median call by 15-28% between seeds.
STRATUM_CALLS_PER_S = 0.1
# ingest_upsert makes BATCHES_PER_S batches per second (a batch and its
# read-back take 6-8 s on 4 cores).
BATCHES_PER_S = 0.1


@dataclass
class Run:
    op_s: list[float] = field(default_factory=list)  # wall of each timed operation
    names: list[str] = field(default_factory=list)
    failed: int = 0
    setup: dict[str, float] = field(default_factory=dict)  # session.* set-up parts
    lookup_s: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)  # rows returned/stored per op
    files_written: list[int] = field(default_factory=list)
    new_rows: list[int] = field(default_factory=list)
    table_bytes_per_row: float = 0.0  # stored bytes per row of the pre-seeded table
    first_op_at: float = 0.0  # perf_counter when the first timed operation started


def _span(tracer, layer: str):
    return tracer.span(layer) if tracer is not None else nullcontext()


def warm_tables(spark, sf_dir: str) -> None:
    """Decode every column of every table once (bench.py's warm-up)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.sources.readers import TABLES, table

    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.select([F.count(F.col(c)) for c in df.columns]).collect()


def api(spark, seed: int, seconds: float, tracer=None) -> Run:
    """``api_sf0.01``: a seeded, cost-stratified sample of the pool of
    bench queries, called through ``api_server.run_query`` on sf0.01."""
    import api_server
    from data_ingestion_project_spark.queries import all_queries, warm_derived_assets

    run = Run()
    sf_dir = prep.API_SF
    t0 = time.perf_counter()
    warm_tables(spark, sf_dir)
    t1 = time.perf_counter()
    warm_derived_assets(spark, sf_dir)
    t2 = time.perf_counter()
    run.setup.update(warm_s=t1 - t0, assets_s=t2 - t1)

    strata = gen.load_strata(set(all_queries()))
    reference = prep.load_reference(sorted(q for s in strata for q in s))
    if tracer is not None:
        import spans

        spans.install_api(tracer)
    run.first_op_at = time.perf_counter()
    calls = gen.api_calls(seed, strata, max(1, round(STRATUM_CALLS_PER_S * seconds)))
    for i, name in enumerate(calls):
        if tracer is not None:
            tracer.op = i
        start = time.perf_counter()
        try:
            res = api_server.run_query(name, sf_dir, limit=LIMIT)
        except Exception:  # noqa: BLE001 - a raising call is a failed operation
            res = {"error": "raised"}
        wall = time.perf_counter() - start
        ref = reference.get(name, {})
        ok = (
            "error" not in res
            and ref.get("check") in ("oracle", "rows-only")
            and res["n_rows"] == min(LIMIT, ref["rows"])
        )
        run.op_s.append(wall)
        run.names.append(name)
        run.rows.append(res.get("n_rows", 0))
        run.failed += not ok
        if tracer is not None:
            tracer.marks[i]["call_end"] = start + wall
    return run


def bench_keys():
    """Fixed key material on the production KDF profile."""
    from data_ingestion_project_spark.functions.crypto import CryptoKeys, KdfProfile

    return CryptoKeys(
        pepper="perfbench-pepper",
        fernet_key=base64.urlsafe_b64encode(hashlib.sha256(b"perfbench-fernet").digest()),
        blind_index_key=hashlib.sha256(b"perfbench-blind-index").digest(),
        profile=KdfProfile.reference(),
    )


def ingest(spark, seed: int, seconds: float, tracer=None) -> Run:
    """``ingest_upsert``: seeded 10-user batches through
    ``job.run_ingestion_job`` into a fresh copy of the pre-seeded
    table, each followed by a blind-index read-back of one new user."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.functions.crypto import blind_index, decrypt_str, verify_password
    from data_ingestion_project_spark.job import run_ingestion_job

    run = Run()
    keys = bench_keys()
    table_path = os.path.join(env.WORK, "ingest", "users.parquet")
    run.table_bytes_per_row = (
        sum(os.path.getsize(os.path.join(table_path, f)) for f in os.listdir(table_path)) / gen.SEEDED_ROWS
    )
    t0 = time.perf_counter()
    # one untimed batch into the same table: it decodes the whole table
    # and warms the Python workers, UDFs, the KDF and the write path
    # its serials (hence emails) are disjoint from the timed batches', so
    # no read-back can find a warm-up user with the same email
    warm_users, warm_fresh = next(gen.user_batches(seed + 1_000_003, first_serial=gen.WARM_SERIALS))
    run_ingestion_job(spark, keys, table_path, users=warm_users)
    run.setup.update(warm_s=time.perf_counter() - t0, assets_s=0.0)

    if tracer is not None:
        import spans

        spans.install_ingest(tracer)
    stored = gen.SEEDED_ROWS + len(warm_fresh)
    run.first_op_at = time.perf_counter()
    batches = itertools.islice(gen.user_batches(seed), max(1, round(BATCHES_PER_S * seconds)))
    for i, (users, fresh) in enumerate(batches):
        if tracer is not None:
            tracer.op = i
        stored += len(fresh)
        start = time.perf_counter()
        try:
            with _span(tracer, "batch"):
                metrics = run_ingestion_job(spark, keys, table_path, users=users)
            ok = metrics["rows_after_dedup"] == stored and metrics["rows_fetched"] == len(users)
        except Exception:  # noqa: BLE001 - a raising batch is a failed operation
            ok = False
        run.op_s.append(time.perf_counter() - start)
        run.names.append(f"batch{i}")
        run.rows.append(stored)
        run.new_rows.append(len(fresh))
        run.files_written.append(
            sum(1 for f in os.listdir(table_path) if f.startswith("part-")) if os.path.isdir(table_path) else 0
        )

        user = next(u for u in users if u["login"]["uuid"] in fresh)
        start = time.perf_counter()
        try:
            with _span(tracer, "lookup"):
                lookup = spark.read.parquet(table_path).where(
                    F.col("email_bidx") == blind_index(user["email"], keys)
                )
                found = lookup.collect()
            run.lookup_s.append(time.perf_counter() - start)
            if tracer is not None:
                tracer.record_catalyst(lookup)
            ok = ok and (
                len(found) == 1
                and decrypt_str(found[0]["email_enc"], keys) == user["email"]
                and verify_password(found[0]["password_hash"], user["login"]["password"], keys)
            )
        except Exception:  # noqa: BLE001
            ok = False
        run.failed += not ok
    return run
