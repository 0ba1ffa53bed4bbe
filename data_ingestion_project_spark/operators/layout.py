"""Table-layout operators: partitioned writes and small-file compaction.

The two layout decisions that dominate read cost at 100 TB:

- **Partition columns** (hive-style ``dt=.../`` directories): queries
  filtering on the partition column read only matching directories —
  partition pruning happens at planning time, before any I/O. Choose
  low-cardinality columns that appear in most predicates (event date,
  region); never high-cardinality keys (one directory per user_id is
  a metadata explosion).

- **File sizing**: streaming/micro-batch ingestion produces many small
  files (one per trigger x partition); each file costs a task + open +
  footer read, so a million 1 MB files can be slower to scan than a
  hundred 10 GB ones. Periodic compaction rewrites partitions into
  ~target-sized files. (Transactional formats do this as OPTIMIZE;
  this is the plain-parquet form.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet write (directory per partition value)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def partition_events_by_day(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Example layout job: events re-laid-out by event day — the layout
    every time-ranged query wants (a day filter then prunes ~29/30 of
    the data before any scan task launches)."""
    from data_ingestion_project_spark.sources.readers import table

    events = table(spark, sf_dir, "events").withColumn(
        "event_day", F.date_format("ts", "yyyy-MM-dd")
    )
    write_partitioned(events, out_path, ["event_day"])


def backfill_partitions(
    spark: SparkSession,
    corrected: DataFrame,
    layout_path: str,
    partition_col: str,
) -> list[str]:
    """Idempotently rewrite ONLY the partitions present in
    ``corrected`` — the backfill/restatement operation every
    partitioned layout eventually needs (late-arriving corrections, a
    bad upstream day, a reprocessed window).

    Uses dynamic partition overwrite: Spark replaces exactly the
    partition directories the incoming frame contains and leaves every
    other directory untouched (byte-identical — pinned in the test),
    so a backfill's blast radius is the corrected partitions, never
    the table. Re-running the same backfill converges to the same
    layout (idempotent restatement). Returns the partition values
    rewritten.

    At 100 TB this is the repair primitive on top of
    partition_events_by_day-style layouts; for snapshot isolation
    against concurrent readers, run it through the txn table's
    write-audit-publish instead of over a bare directory.
    """
    # Schema guard: a drifted corrections frame (missing / renamed /
    # retyped column) would otherwise silently write mixed-schema
    # partition directories that break later full-table reads.  Compare
    # against the existing layout before writing: non-partition columns
    # by (name, type); the partition column by name only — its type in
    # the read-back schema is inferred from directory names, which is
    # lossy (e.g. "2024-01-01" dirs may infer as date), so a type
    # comparison there would false-positive on a healthy layout.
    import os as _os

    if _os.path.isdir(layout_path):
        existing = spark.read.parquet(layout_path).schema
        want = {f.name: f.dataType for f in existing if f.name != partition_col}
        got = {f.name: f.dataType for f in corrected.schema if f.name != partition_col}
        if partition_col not in [f.name for f in corrected.schema]:
            raise ValueError(
                f"backfill frame lacks partition column {partition_col!r}"
            )
        if want != got:
            only_existing = sorted(want.keys() - got.keys())
            only_new = sorted(got.keys() - want.keys())
            retyped = sorted(
                c for c in want.keys() & got.keys() if want[c] != got[c]
            )
            raise ValueError(
                "backfill frame schema drifted from existing layout "
                f"{layout_path!r}: missing={only_existing} "
                f"unexpected={only_new} retyped={retyped}"
            )
    # Materialize once: the touched-partition listing and the write
    # must see the SAME evaluation (a non-deterministic lineage could
    # otherwise write a different partition set than reported), and an
    # expensive corrections lineage should not run twice.
    corrected = corrected.persist()
    try:
        touched = [
            # NULL partition values land in Hive's default directory —
            # report the name that actually exists on disk
            "__HIVE_DEFAULT_PARTITION__" if r[0] is None else str(r[0])
            for r in corrected.select(partition_col).distinct().collect()
        ]
        (
            corrected.write.mode("overwrite")
            # per-WRITE option, not the session conf: scoping dynamic
            # overwrite to this writer cannot leak into concurrent
            # writes on the same session expecting static semantics
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(layout_path)
        )
    finally:
        corrected.unpersist()
    return sorted(touched)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Export a corpus as deterministic training shards: the write-path
    twin of queries/documents.training_shard_plan.

    shard = md5-bucket(id) mod n — the engine-independent "global
    shuffle": any writer, any partition order, any cluster size
    produces the same doc→shard assignment, and within each shard rows
    are sorted by (md5(id), id), so the byte layout a trainer streams
    is a pure function of the data. One shuffle total:
    ``repartition(shard)`` co-locates each shard into one task whose
    sort is local (sortWithinPartitions — no global ordering exchange),
    and the hive-partitioned write gives the trainer one directory per
    shard to mount.

    At 100 TB: n_shards scales with the trainer's data-parallel world
    size; per-shard file counts follow from
    spark.sql.files.maxRecordsPerFile if a single file per shard is
    too large.
    """
    from data_ingestion_project_spark.functions.portable_hash import md5_bucket

    idc = F.col(id_col).cast("string")
    keyed = df.withColumn("__h", F.md5(idc)).withColumn(
        "shard", md5_bucket(idc, n_shards)
    )
    (
        keyed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__h", id_col)
        .drop("__h")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    partition_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet table into ~target-sized files.

    Returns the number of output files. File count is derived from the
    on-disk size (cheap driver-side walk); the rewrite itself is one
    distributed pass. For partitioned tables, pass ``partition_cols``
    so the layout is preserved; compaction then still coalesces within
    each partition directory.
    """
    total_bytes = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))

    from data_ingestion_project_spark.operators.upsert import atomic_dir_swap

    df = spark.read.parquet(path)
    if partition_cols:
        # repartition BY the partition columns: a global round-robin
        # repartition would spread every partition's rows across all
        # tasks and partitionBy would then write up to
        # n_files x n_partitions fragments — worse than no compaction
        writer = df.repartition(n_files, *partition_cols).write.mode("overwrite")
        writer = writer.partitionBy(*partition_cols)
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    atomic_dir_swap(path, writer.parquet)
    return n_files


# ------------------------------------------------------------- Z-order
#
# The third layout lever: MULTI-column data skipping. Partitioning
# prunes on one (low-cardinality) column; sorting the files by column
# A gives tight per-file [min, max] ranges for A but random ranges for
# everything else. Z-ordering (bit-interleaved Morton curve — the same
# design as Delta OPTIMIZE ZORDER BY and the classic UB-tree layout)
# sorts by an interleaving of several columns' quantized ranks, so
# EVERY z-ordered column gets locality: a range predicate on any of
# them overlaps only ~n^(1-1/d) of n files instead of all of them.
# Parquet then skips whole files/row-groups from footer min/max stats
# alone — planning-time I/O elimination orthogonal to partition
# pruning.


def _morton(quantized: list[F.Column], bits: int) -> F.Column:
    """Interleave the low ``bits`` bits of d non-negative ints into one
    z-value (column j's bit i lands at position i*d + j). Pure bigint
    bit arithmetic — whole-stage codegen, no UDF. Requires
    ``bits * len(quantized) <= 63`` (the z-value must fit a signed
    long)."""
    d = len(quantized)
    if bits * d > 63:
        raise ValueError(f"bits*cols = {bits * d} exceeds 63 (signed long)")
    z = F.lit(0).cast("bigint")
    for j, col in enumerate(quantized):
        for i in range(bits):
            z = z.bitwiseOR(F.shiftleft(col.bitwiseAND(F.lit(1 << i)), i * (d - 1) + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    n_files: int = 32,
    bits: int | None = None,
) -> None:
    """Write ``df`` as ``n_files`` parquet files z-ordered on 2+
    numeric columns (``bits`` defaults to the max resolution that
    keeps the interleaved value in a signed long — 31/2, 21/3, 15/4).

    Quantization is linear min-max scaling (one tiny driver-side agg
    for the bounds — at 100 TB use a sampled approx-quantile rank map
    instead for skew robustness; linear is exact enough to demonstrate
    and test the skipping property). ``repartitionByRange(z)`` gives
    each output file a contiguous z-range; the within-partition sort
    tightens row-group stats too. The z column is dropped before
    writing — layout only, not schema.
    """
    if len(cols) < 2:
        raise ValueError("z-ordering needs at least 2 columns; sort instead for 1")
    bits = bits or 63 // len(cols)
    bounds = df.agg(
        *[f for c in cols for f in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
    ).collect()[0]
    scale = (1 << bits) - 1
    quantized = []
    for c in cols:
        if bounds[f"lo_{c}"] is None:
            raise ValueError(
                f"z-order column {c!r} is entirely NULL — no bounds to quantize; "
                "drop it from cols or filter NULLs first"
            )
        lo, hi = float(bounds[f"lo_{c}"]), float(bounds[f"hi_{c}"])
        span = max(hi - lo, 1e-12)
        # NULL values quantize to the column minimum (coalesce) — a NULL
        # would otherwise propagate into a NULL __z that
        # repartitionByRange places arbitrarily, silently weakening the
        # file-skipping guarantee for every other column.
        q = (F.coalesce(F.col(c), F.lit(lo)) - F.lit(lo)) / F.lit(span) * scale
        quantized.append(F.round(q).cast("bigint"))
    (
        df.withColumn("__z", _morton(quantized, bits))
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def parquet_row_counts(path: str) -> dict[str, int]:
    """Row count of each parquet data file directly in ``path``, from
    FOOTER metadata only — a driver-side walk, no Spark job and no data
    pages. Files Spark's listing skips (``_``/``.``-prefixed:
    ``_SUCCESS``, checksums, markers) are skipped here too."""
    import pyarrow.parquet as pq

    return {
        name: pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        for name in os.listdir(path)
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    }


def parquet_file_ranges(path: str, cols: list[str]) -> list[dict]:
    """Per-file [min, max] of ``cols`` from parquet FOOTER metadata
    only (no data pages read) — exactly the stats a scan's file/row-
    group skipping consults."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        ranges: dict[str, tuple] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                cname = col.path_in_schema
                if cname not in cols or col.statistics is None:
                    continue
                st = col.statistics
                lo, hi = ranges.get(cname, (st.min, st.max))
                ranges[cname] = (min(lo, st.min), max(hi, st.max))
        out.append({"file": name, **{c: ranges.get(c) for c in cols}})
    return out


def files_overlapping(ranges: list[dict], col: str, lo, hi) -> int:
    """How many files a ``col BETWEEN lo AND hi`` scan must open."""
    n = 0
    for r in ranges:
        st = r.get(col)
        if st is None or not (st[1] < lo or st[0] > hi):
            n += 1
    return n
