"""Benchmark data preparation, kept out of every timed region.

- ``data/sf0.01`` (checked in) is the API's default-scale corpus. It is
  copied under the API's data root, and its derived assets are built
  there (``queries.warm_derived_assets``); a run's set-up then only pays
  the assets' freshness check.
- Everything cached is keyed on ``source_hash()``: a run against changed
  program code recopies the corpus (so its mtime-keyed assets are
  rebuilt by that code), redoes the reference check and rebuilds the
  ingest table.
- The reference check runs every query of the ``api_sf0.01`` pool once
  on the full result: against its DuckDB oracle where one exists
  (tools/check_oracle.py's comparison, via a digest of the oracle's
  result), by row count otherwise. Timed calls are then checked against
  the recorded row counts.
- ``ingest_upsert`` runs against a fresh copy of a pre-seeded table in
  the secure schema.

Run directly (``python3 perfbench/prep.py <workload>``) to build the
cached parts; ``run.py`` does so in a child process when they are
missing, so the measured process never pays for them.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys

import env
import gen

DATA_SF = os.path.join(env.HERE, "data", "sf0.01")
API_SF = os.path.join(env.API_ROOT, "sf0.01")
REFERENCE = os.path.join(env.WORK, "reference.json")
INGEST_BASE = os.path.join(env.WORK, "ingest_base")


def copy_corpus() -> str:
    """A fresh copy of the checked-in corpus under the API's data root
    (new mtimes, so its mtime-keyed derived assets get built anew)."""
    shutil.rmtree(API_SF, ignore_errors=True)
    os.makedirs(API_SF)
    for name in sorted(os.listdir(DATA_SF)):
        shutil.copyfile(os.path.join(DATA_SF, name), os.path.join(API_SF, name))
    return API_SF


def source_hash() -> str:
    """Digest of the program under test: the package sources and the
    API module. Cached inputs built by other code are rebuilt."""
    files = sorted(glob.glob(os.path.join(env.ROOT, "data_ingestion_project_spark", "**", "*.py"), recursive=True))
    h = hashlib.sha256()
    for path in files + [os.path.join(env.ROOT, "api_server.py")]:
        with open(path, "rb") as f:
            h.update(f"{os.path.relpath(path, env.ROOT)}\0".encode() + f.read() + b"\0")
    return h.hexdigest()[:16]


def _fingerprint(names: list[str]) -> str:
    h = hashlib.sha256(source_hash().encode())
    for name in sorted(os.listdir(DATA_SF)):
        h.update(f"{name}:{os.path.getsize(os.path.join(DATA_SF, name))};".encode())
    h.update(",".join(sorted(names)).encode())
    return h.hexdigest()[:16]


def load_reference(names: list[str]) -> dict[str, dict] | None:
    """Recorded check results for ``names``, or None when missing/stale."""
    try:
        with open(REFERENCE) as f:
            ref = json.load(f)
    except (OSError, ValueError):
        return None
    return ref["queries"] if ref.get("fingerprint") == _fingerprint(names) else None


def _oracle_tools():
    sys.path.insert(0, os.path.join(env.ROOT, "tools"))
    from check_oracle import duck_connection, normalize

    return duck_connection, normalize


def result_digest(df) -> str:
    """Digest of a result under tools/check_oracle.py's comparison:
    equal digests <=> same column names and, after its normalize()
    (columns by name, values as text, rows sorted), the same rows."""
    import pandas as pd

    _, normalize = _oracle_tools()
    h = hashlib.sha256(json.dumps(sorted(df.columns)).encode())
    h.update(pd.util.hash_pandas_object(normalize(df), index=False).values.tobytes())
    return h.hexdigest()


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def build_reference(spark, names: list[str]) -> dict[str, dict]:
    """Copy the corpus, build its derived assets, then check the full
    result of every query in ``names`` on it. Oracle queries compare against the oracle digest recorded in
    ``api_strata.json`` (computed by DuckDB from the same SQL text) and
    run DuckDB live when the SQL changed since. A query whose result
    differs from its oracle (or that raises) is recorded as failed, and
    every timed call of it then counts as a failed operation."""
    from data_ingestion_project_spark.queries import all_oracles, all_queries, warm_derived_assets

    queries, oracles = all_queries(), all_oracles()
    recorded = gen.load_pool()["oracle"]
    warm_derived_assets(spark, copy_corpus())
    out: dict[str, dict] = {}
    for name in names:
        try:
            got = queries[name](spark, API_SF).toPandas()
        except Exception as e:  # noqa: BLE001 - recorded as a failed query
            out[name] = {"rows": None, "check": f"spark error: {type(e).__name__}"}
            continue
        entry = {"rows": len(got), "check": "rows-only"}
        if name in oracles:
            want = recorded.get(name, {})
            if want.get("sql_sha") != sql_sha(oracles[name]):
                duck_connection, _ = _oracle_tools()
                want = {"digest": result_digest(duck_connection(DATA_SF).execute(oracles[name]).fetchdf())}
            entry["check"] = "oracle" if result_digest(got) == want["digest"] else "oracle mismatch"
        out[name] = entry
    os.makedirs(env.WORK, exist_ok=True)
    with open(REFERENCE, "w") as f:
        json.dump({"fingerprint": _fingerprint(names), "queries": out}, f, indent=1)
    return out


def _ingest_marker() -> str:
    return os.path.join(INGEST_BASE, f"_ROWS_{gen.SEEDED_ROWS}_{gen.BASE_SEED}_{source_hash()}")


def ensure_ingest_base(spark) -> str:
    marker = _ingest_marker()
    if not os.path.exists(marker):
        shutil.rmtree(INGEST_BASE, ignore_errors=True)
        gen.seeded_table(spark).write.parquet(INGEST_BASE)
        open(marker, "w").close()
    return INGEST_BASE


def api_pool() -> list[str]:
    from data_ingestion_project_spark.queries import all_queries

    return sorted(q for s in gen.load_strata(set(all_queries())) for q in s)


def ready(workload: str) -> bool:
    if workload == "ingest_upsert":
        return os.path.exists(_ingest_marker())
    return os.path.isdir(API_SF) and load_reference(api_pool()) is not None


def main(workload: str) -> None:
    env.configure()
    spark = env.start_session("perfbench-prep")
    try:
        if workload == "ingest_upsert":
            ensure_ingest_base(spark)
        elif load_reference(api_pool()) is None:
            build_reference(spark, api_pool())
    finally:
        env.stop_session(spark)


if __name__ == "__main__":
    sys.path.insert(0, env.ROOT)
    main(sys.argv[1])
