"""Keep-first upsert: the reference's persistence operator (U2/D1).

Reference semantics (io_utils.py:16-39 of the reference): read the
full table, append the new batch, drop duplicate keys keeping the
FIRST occurrence — because existing rows precede new rows in the
concat, **existing rows win** and re-ingested keys are discarded.

Spark mapping (SURVEY.md §2 D1 decision): NOT ``dropDuplicates``
(keeps an arbitrary row per key — silently diverges). The faithful,
scale-correct form is *insert-if-absent* — Delta's ``MERGE WHEN NOT
MATCHED THEN INSERT``: stored rows are never touched, and only the
batch rows whose key is not stored are added. ``rows_to_insert``
finds them with the stored table always on the streamed side:

    matched = stored[key] LEFT SEMI broadcast(batch keys)
    inserts = dedup(batch) LEFT ANTI broadcast(matched)    -- eqNullSafe

Both broadcast sides are bounded by the batch (``matched`` holds one
row per batch key already stored, as stored keys are unique); the
stored key column is scanned but never broadcast, shuffled or
collected.

``upsert_parquet_table`` commits a batch to a plain parquet directory
as an append, never rewriting stored files:

- **One rename.** The inserts are written as one part file into a
  sibling temp directory; the commit is a single ``os.rename`` of that
  file into the table directory, so a reader lists either none or all
  of the batch.
- **Crash.** Before the rename the table is unchanged; at most a
  sibling ``<path>__tmp_<id>`` directory is left behind, outside the
  table and safe to delete. After the rename the batch is committed.
- **Replay.** A replayed batch finds all its keys stored and writes
  nothing, so re-running a batch after any crash is safe.
- **One writer only.** Two concurrent commits could both insert the
  same new key; the cron job is single-flight under the
  ``run_ingestion.sh`` lock. Multiple producers need
  ``upsert_txn_table``'s conflict detection.
- **Small files.** Each non-empty batch adds one small file, which
  ``layout.compact_parquet`` rewrites into target-sized files; nothing
  compacts automatically.

The first batch, when no table exists yet, is a plain directory write.
"""

from __future__ import annotations

import os
import shutil
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.layout import parquet_row_counts


def rows_to_insert(stored: DataFrame, new_rows: DataFrame, key: str) -> DataFrame:
    """The batch rows whose key is not in ``stored``, one per key
    (module doc: the semi-join-then-anti-join plan). Within-batch
    dedup keeps an arbitrary row per key — safe ONLY because within one
    fetched batch keys are unique; cross-batch precedence is what
    matters and is enforced by the anti-join. The batch is assumed small
    (one ingestion batch or micro-batch): both broadcasts are bounded
    by it.

    eqNullSafe on both joins: with a plain ==, a null key on both sides
    compares to NULL -> "not matched" -> the null-key row re-inserts on
    EVERY run, breaking idempotence. The transform null-gates the key,
    this is defense in depth for tables written by other producers."""
    kcol = F.col(f"`{key}`")  # backticks: key may be a dotted flat name
    batch_keys = F.broadcast(new_rows.select(kcol.alias("__batch_key")))
    matched = stored.select(kcol.alias("__stored_key")).join(
        batch_keys, F.col("__stored_key").eqNullSafe(F.col("__batch_key")), "left_semi"
    )
    return new_rows.dropDuplicates([key]).join(
        F.broadcast(matched), kcol.eqNullSafe(F.col("__stored_key")), "left_anti"
    )


def upsert_keep_first(existing: DataFrame | None, new_rows: DataFrame, key: str) -> DataFrame:
    """Insert-if-absent as a whole table: existing rows win, plus the
    new batch rows whose key is absent (``rows_to_insert``)."""
    if existing is None:
        return new_rows.dropDuplicates([key])
    return existing.unionByName(rows_to_insert(existing, new_rows, key))


def rows_to_append(stored: DataFrame, new_rows: DataFrame, key: str) -> DataFrame:
    """``rows_to_insert`` conformed to the stored schema by column name:
    stored column order and types, so every appended file agrees with
    the footer a reader infers the table schema from. A batch column the
    table lacks raises instead of being dropped."""
    extra = sorted(set(new_rows.columns) - set(stored.columns))
    if extra:
        raise ValueError(f"batch columns not in the stored table: {extra}")
    inserts = rows_to_insert(stored, new_rows, key)
    return inserts.select(*[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in stored.schema])


def atomic_overwrite_parquet(df: DataFrame, path: str) -> None:
    """Write to a temp dir then swap — readers never observe a PARTIAL
    table (the reference's full-file rewrite has the same all-or-
    nothing contract via to_csv, io_utils.py:37).

    Honesty note on atomicity: with plain directories the swap is two
    renames, and between them the path briefly does not exist — a
    concurrent reader in that microsecond window errors (it never sees
    half a table), and a crash there is recovered below by restoring
    the old directory. True multi-writer/reader atomicity is what
    transactional table formats (Delta/Iceberg) provide; this helper is
    the single-writer stand-in (the ingestion job is single-flight by
    the run_ingestion.sh lock).
    """
    atomic_dir_swap(path, lambda tmp: df.write.mode("overwrite").parquet(tmp))


def atomic_dir_swap(path: str, write_to_tmp) -> None:
    """The uuid-suffixed tmp-write / double-rename / restore-on-failure
    swap shared by every plain-directory overwrite (this module and
    layout.compact_parquet — ONE implementation, so crash-recovery
    fixes cannot drift between call sites). ``write_to_tmp(tmp_path)``
    produces the new directory contents."""
    tmp = f"{path}__tmp_{_uuid.uuid4().hex[:8]}"
    write_to_tmp(tmp)
    old = f"{path}__old_{_uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        if os.path.exists(old) and not os.path.exists(path):
            os.rename(old, path)  # restore the previous table
        raise
    if os.path.exists(old):
        shutil.rmtree(old)


def read_table_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def upsert_parquet_table(spark: SparkSession, new_rows: DataFrame, path: str, key: str) -> int:
    """Keep-first upsert of ``new_rows`` into the parquet table at
    ``path``, committed as an append (module doc). Returns the table's
    row count after the commit, from parquet footers — no scan.

    The batch is materialized (cached) first so its nondeterministic
    crypto columns are computed exactly once.
    """
    new_rows = new_rows.cache()
    new_rows.count()  # materialize through the nondeterministic UDFs
    try:
        stored = read_table_if_exists(spark, path)
        if stored is None:
            atomic_overwrite_parquet(new_rows.dropDuplicates([key]), path)
        else:
            _append_one_file(rows_to_append(stored, new_rows, key), path)
    finally:
        new_rows.unpersist()
    return sum(parquet_row_counts(path).values())


def _append_one_file(df: DataFrame, path: str) -> None:
    """Write ``df`` as one part file into a sibling temp directory and
    commit it with one ``os.rename`` into ``path``; an empty ``df``
    commits nothing. The temp directory is removed either way."""
    tmp = f"{path}__tmp_{_uuid.uuid4().hex[:8]}"
    try:
        df.coalesce(1).write.parquet(tmp)
        for name, rows in parquet_row_counts(tmp).items():
            if rows:
                os.rename(os.path.join(tmp, name), os.path.join(path, name))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def upsert_txn_table(spark: SparkSession, new_rows: DataFrame, path: str, key: str) -> int:
    """upsert_parquet_table's transactional twin: the same keep-first
    MERGE committed through the transaction log (operators/txn_table)
    — versioned commits, no rename window, conflict detection instead
    of lost updates. The scale path once multiple producers exist.
    Returns the row count after the commit, from parquet footers."""
    from data_ingestion_project_spark.operators import txn_table as T

    new_rows = new_rows.cache()
    new_rows.count()  # materialize through the nondeterministic UDFs
    if T.current_version(path) is None:
        T.create_table(spark, path, new_rows.dropDuplicates([key]))
    else:
        T.merge_upsert(spark, path, new_rows, key=key)
    new_rows.unpersist()
    return T.table_row_count(path)


def write_csv_parity(df: DataFrame, path: str, columns: tuple[str, ...]) -> None:
    """Single-file CSV export matching the reference's sink
    (io_utils.py:37): header, no index, fixed column order. Parity/
    export mode only — the native table format is parquet."""
    df.select(*[F.col(f"`{c}`") for c in columns]).toPandas().to_csv(path, index=False)
