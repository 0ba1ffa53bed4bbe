"""The parquet upsert's append commit: stored files are never
rewritten, a batch adds at most one part file through a single
rename, a replay writes nothing, and a failed rename leaves the table
as it was."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from data_ingestion_project_spark.functions.crypto import blind_index, decrypt_str
from data_ingestion_project_spark.job import KEY_COLUMN, run_ingestion_job
from data_ingestion_project_spark.operators.transforms import transform_users
from data_ingestion_project_spark.operators.upsert import rows_to_append
from data_ingestion_project_spark.sources.users_json import users_from_json


def _parts(path: str) -> dict[str, tuple[int, int]]:
    """Part files of the table: name -> (size, mtime_ns)."""
    out = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            st = os.stat(os.path.join(path, name))
            out[name] = (st.st_size, st.st_mtime_ns)
    return out


def _names_and_types(part: str) -> list[tuple[str, str]]:
    return [(f.name, str(f.type)) for f in pq.read_schema(part)]


def _siblings(path: str) -> list[str]:
    parent, base = os.path.split(path)
    return sorted(n for n in os.listdir(parent) if n.startswith(base) and n != base)


def test_append_keeps_stored_files_and_adds_one(spark, keys, tmp_path, batch1, batch3_half_new):
    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    before = _parts(path)

    m = run_ingestion_job(spark, keys, path, users=batch3_half_new)
    after = _parts(path)

    assert m["rows_after_dedup"] == 15
    assert {k: after[k] for k in before} == before  # name, size and mtime unchanged
    assert len(after) == len(before) + 1
    assert spark.read.parquet(path).count() == 15
    assert _siblings(path) == []  # the temp directory is gone


def test_replayed_batch_adds_no_file(spark, keys, tmp_path, batch1, batch3_half_new):
    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    first = run_ingestion_job(spark, keys, path, users=batch3_half_new)
    before = _parts(path)

    again = run_ingestion_job(spark, keys, path, users=batch3_half_new)

    assert _parts(path) == before
    assert again["rows_after_dedup"] == first["rows_after_dedup"] == 15
    assert _siblings(path) == []


def test_failed_rename_leaves_previous_table(spark, keys, tmp_path, monkeypatch, batch1, batch3_half_new):
    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    before = _parts(path)

    def crash(src, dst):
        raise OSError("simulated crash at commit")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="simulated crash"):
            run_ingestion_job(spark, keys, path, users=batch3_half_new)

    assert _parts(path) == before
    stored = {r[KEY_COLUMN] for r in spark.read.parquet(path).select(f"`{KEY_COLUMN}`").collect()}
    assert stored == {u["login"]["uuid"] for u in batch1}


def test_append_conforms_to_stored_schema(spark, keys, tmp_path, batch1, batch3_half_new):
    """A table written by another producer with its columns in another
    order and one column widened: the appended file follows the stored
    order and types, and every row reads back with its own values."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "users.parquet")
    secure = transform_users(users_from_json(spark, batch1), keys)
    stored_cols = [
        F.col(f"`{c}`").cast("bigint").alias(c) if c == "dob.age" else F.col(f"`{c}`")
        for c in reversed(secure.columns)
    ]
    secure.select(*stored_cols).write.parquet(path)
    before = _parts(path)
    stored_schema = _names_and_types(os.path.join(path, next(iter(before))))

    m = run_ingestion_job(spark, keys, path, users=batch3_half_new)

    assert m["rows_after_dedup"] == 15
    assert len(_parts(path)) == len(before) + 1
    for name in _parts(path):
        assert _names_and_types(os.path.join(path, name)) == stored_schema
    rows = {r[KEY_COLUMN]: r for r in spark.read.parquet(path).collect()}
    assert len(rows) == 15
    for u in batch1 + batch3_half_new[5:]:
        row = rows[u["login"]["uuid"]]
        assert row["login.username"] == u["login"]["username"]
        assert row["dob.age"] == u["dob"]["age"]
        assert row["email_bidx"] == blind_index(u["email"], keys)
        assert decrypt_str(row["email_enc"], keys) == u["email"]


def test_batch_column_missing_from_table_raises(spark):
    """A batch column the table lacks is refused, not silently dropped
    from the appended file."""
    stored = spark.createDataFrame([("k1", "a")], "uuid string, payload string")
    batch = spark.createDataFrame([("k2", "b", 1)], "uuid string, payload string, extra int")
    with pytest.raises(ValueError, match="extra"):
        rows_to_append(stored, batch, "uuid")


def test_stored_null_key_matches_a_null_batch_key(spark):
    """Keys compare null-safely: a null key already stored is found, so
    a batch row with a null key is not appended again on every run."""
    stored = spark.createDataFrame([(None, "old"), ("k1", "old")], "uuid string, payload string")
    batch = spark.createDataFrame([(None, "new"), ("k2", "new")], "uuid string, payload string")
    assert [r["uuid"] for r in rows_to_append(stored, batch, "uuid").collect()] == ["k2"]
