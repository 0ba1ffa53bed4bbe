"""Regenerate ``api_strata.json``: the cost strata of the API pool.

Times every bench query once through ``api_server.run_query`` on a
fresh copy of ``data/sf0.01`` (after the workload's warm-up), ranks the
inventory by that time, cuts it into STRATA equal-count strata and keeps
PER_STRATUM evenly spaced queries of each (a stratum's two ends are
skipped). It then runs each kept
query's DuckDB oracle once and records its result digest, keyed by the
SQL text: some oracles take minutes in DuckDB, far too long for the
per-checkout reference check. The file is an input of the
``api_sf0.01`` workload, so regenerating it changes the benchmark.

    python3 perfbench/make_strata.py
"""

from __future__ import annotations

import json
import os
import sys
import time

STRATA, PER_STRATUM = 8, 2


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    import env

    env.configure()
    import api_server
    import gen
    import prep
    import workloads
    from data_ingestion_project_spark.queries import bench_queries, warm_derived_assets

    sf_dir = prep.copy_corpus()
    spark = env.start_session("perfbench-strata")
    try:
        workloads.warm_tables(spark, sf_dir)
        warm_derived_assets(spark, sf_dir)
        cost = {}
        for name in sorted(bench_queries()):
            t0 = time.perf_counter()
            api_server.run_query(name, sf_dir, limit=workloads.LIMIT)
            cost[name] = round(time.perf_counter() - t0, 4)
    finally:
        env.stop_session(spark)
    ranked = sorted(cost, key=cost.get)
    strata = []
    for i in range(STRATA):
        part = ranked[i * len(ranked) // STRATA : (i + 1) * len(ranked) // STRATA]
        strata.append([part[(j + 1) * len(part) // (PER_STRATUM + 1)] for j in range(PER_STRATUM)])
    from data_ingestion_project_spark.queries import all_oracles

    oracles = all_oracles()
    duck_connection, _ = prep._oracle_tools()
    con = duck_connection(prep.DATA_SF)
    doc = {
        "about": "api_sf0.01 pool: bench queries ranked by one run_query call at sf0.01 "
        f"({env.CORES} cores), {STRATA} equal-count strata, {PER_STRATUM} evenly spaced per stratum; "
        "oracle: DuckDB result digest of each pool query's oracle SQL on data/sf0.01",
        "strata": strata,
        "cost_s": {q: cost[q] for s in strata for q in s},
        "oracle": {
            q: {"sql_sha": prep.sql_sha(oracles[q]), "digest": prep.result_digest(con.execute(oracles[q]).fetchdf())}
            for s in strata for q in s if q in oracles
        },
    }
    with open(gen.STRATA_FILE, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    if os.path.exists(prep.REFERENCE):  # the corpus copy was rebuilt: redo the prep
        os.remove(prep.REFERENCE)


if __name__ == "__main__":
    main()
