"""Spans and job groups for the traced run, recorded from outside the
package.

The traced run wraps public functions of the package's modules (by
replacing the module attribute the caller looks up) and pyspark's
``DataFrame.toPandas``. Each wrapper opens a span, and every span sets
the Spark job group ``<op>|<layer>`` so Spark's event log attributes
each job to the layer that started it. Nothing inside the package is
changed; untraced runs install no wrapper at all, and a traced run
is its own process, so the wrappers are never removed.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.op = 0
        # op -> layer -> seconds (python clock)
        self.layer_s: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        # op -> catalyst phase -> seconds (JVM QueryPlanningTracker)
        self.catalyst: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.marks: dict[int, dict[str, float]] = defaultdict(dict)
        self._stack: list[list] = []  # [layer, segment start]

    def _set_group(self) -> None:
        if self._stack:
            group = f"{self.op}|{self._stack[-1][0]}"
            self.sc.setJobGroup(group, group)
        else:
            self.sc.setLocalProperty(GROUP_KEY, None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _close_segment(self, now: float) -> None:
        layer, start = self._stack[-1]
        self.layer_s[self.op][layer] += now - start

    @contextmanager
    def span(self, layer: str):
        now = time.perf_counter()
        if self._stack:
            self._close_segment(now)
        self._stack.append([layer, now])
        self._set_group()
        try:
            yield
        finally:
            now = time.perf_counter()
            self._close_segment(now)
            self._stack.pop()
            if self._stack:
                self._stack[-1][1] = now
            self._set_group()
            self.marks[self.op][f"{layer}_end"] = now

    def layer(self) -> str | None:
        return self._stack[-1][0] if self._stack else None

    def switch(self, layer: str) -> None:
        """End the innermost span's current segment and continue it
        under another layer name (splits one call into two layers)."""
        now = time.perf_counter()
        self._close_segment(now)
        self._stack[-1] = [layer, now]
        self._set_group()

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def record_catalyst(self, df) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                self.catalyst[self.op][name] += opt.get().durationMs() / 1e3


def install_api(tracer: Tracer) -> None:
    """Spans for the query path: table opens (``sources.readers.table``
    wherever a module imported it), query construction (every
    registered query function) and the collect (``toPandas``, whose
    DataFrame also yields the Catalyst phase times)."""
    import sys

    from pyspark.sql.classic.dataframe import DataFrame

    from data_ingestion_project_spark import queries
    from data_ingestion_project_spark.sources import readers

    table = readers.table
    opened = tracer.wrap(table, "open")
    for name, mod in list(sys.modules.items()):
        if name.startswith("data_ingestion_project_spark") and getattr(mod, "table", None) is table:
            mod.table = opened
    for mod in queries._MODULES:
        for qname, fn in list(mod.QUERIES.items()):
            mod.QUERIES[qname] = tracer.wrap(fn, "build")

    to_pandas = DataFrame.toPandas

    def traced_to_pandas(self):
        if tracer.layer() in ("open", "build"):  # an eager collect while the query is built
            return to_pandas(self)
        with tracer.span("collect"):
            out = to_pandas(self)
        tracer.record_catalyst(self)
        return out

    DataFrame.toPandas = traced_to_pandas


def install_ingest(tracer: Tracer) -> None:
    """Spans for the write path: payload → DataFrame
    (``sources.users_json``), the lazy secure transform, and the
    upsert call, split where it stops materializing the crypto UDFs
    (``new_rows.count()``) and starts reading the stored table."""
    from data_ingestion_project_spark import job
    from data_ingestion_project_spark.operators import upsert

    job.users_from_json = tracer.wrap(job.users_from_json, "users_json")
    job.transform_users = tracer.wrap(job.transform_users, "transform")
    job.upsert_parquet_table = tracer.wrap(job.upsert_parquet_table, "transform_mat")
    read_existing = upsert.read_table_if_exists

    def traced_read(*args, **kwargs):
        tracer.switch("upsert")
        return read_existing(*args, **kwargs)

    upsert.read_table_if_exists = traced_read
