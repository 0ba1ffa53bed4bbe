"""Unit tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import stats  # noqa: E402
from eventlog import parse_event_log  # noqa: E402

MB = 2**20


def test_event_log_groups_jobs_tasks_and_sql_metrics():
    groups = parse_event_log(os.path.join(HERE, "eventlog_small.jsonl"))
    assert set(groups) == {"", "4|collect", "4|upsert"}

    untagged = groups[""]
    assert untagged["jobs"] == 1 and untagged["tasks"] == 1
    assert untagged["job_wall_s"] == pytest.approx(0.25)
    assert untagged["input_bytes"] == 2048

    c = groups["4|collect"]
    assert c["jobs"] == 1
    assert c["job_wall_s"] == pytest.approx(0.6)
    assert c["tasks"] == 3 and c["failed_tasks"] == 1
    assert c["run_s"] == pytest.approx(0.5)
    assert c["cpu_s"] == pytest.approx(0.31)
    assert c["gc_s"] == pytest.approx(0.03)
    assert c["input_bytes"] == MB
    assert c["shuffle_write_bytes"] == MB // 2
    assert c["shuffle_read_bytes"] == MB // 2
    assert c["spill_bytes"] == 1024
    assert c["peak_exec_mem_bytes"] == 2 * MB
    assert c["files_read"] == 3  # SQL scan metrics of the group's execution
    assert c["files_bytes"] == 4096

    u = groups["4|upsert"]
    assert u["output_bytes"] == 3 * MB and u["files_read"] == 0 and u["files_bytes"] == 0


@pytest.mark.parametrize(
    "n, pct",
    [(100, 90), (101, 90), (150, 93), (400, 97), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    got_pct, value = stats.tail_percentile(values)
    assert got_pct == pct
    assert sum(v > value for v in values) >= stats.TAIL_BEYOND
    # one percentile higher would leave fewer than ten beyond it (or not be a percentile)
    if pct < 99:
        rank = -(-(pct + 1) * n // 100)
        assert n - rank < stats.TAIL_BEYOND


@pytest.mark.parametrize("n", [0, 19, 24, 99])
def test_tail_percentile_needs_a_hundred_samples(n):
    # with n < 100, ten samples beyond leave only percentiles below p90
    assert stats.tail_percentile([1.0] * n) is None


def test_api_calls_are_seeded_and_stratified():
    strata = [[f"s{i}q{j}" for j in range(4)] for i in range(5)]
    a = gen.api_calls(3, strata, 3)
    assert a == gen.api_calls(3, strata, 3)
    assert a != gen.api_calls(4, strata, 3)
    for i in range(5):  # the same number of calls from every stratum, no repeats
        picked = [q for q in a if q.startswith(f"s{i}q")]
        assert len(picked) == len(set(picked)) == 3
    longer = gen.api_calls(3, strata, 6)  # more calls than queries: the stratum repeats
    assert all(sum(q.startswith(f"s{i}q") for q in longer) == 6 for i in range(5))


def test_user_batches_are_deterministic_and_predict_new_rows():
    a = list(itertools.islice(gen.user_batches(11, seeded_rows=1000), 20))
    b = list(itertools.islice(gen.user_batches(11, seeded_rows=1000), 20))
    assert a == b
    assert a != list(itertools.islice(gen.user_batches(12, seeded_rows=1000), 20))
    seeded = {gen.seeded_uuid(i) for i in range(1000)}
    stored = set(seeded)
    collided = 0
    for users, fresh in a:
        uids = [u["login"]["uuid"] for u in users]
        assert len(users) == gen.BATCH_SIZE and len(set(uids)) == len(uids)
        assert set(fresh) == {u for u in uids if u not in stored}  # what keep-first adds
        assert fresh
        collided += len(uids) - len(fresh)
        stored |= set(uids)
        emails = [u["email"] for u in users]
        assert any(e != e.strip() for e in emails) or any(e != e.lower() for e in emails)
    assert 0.15 < collided / (20 * gen.BATCH_SIZE) < 0.45


def test_load_strata_drops_unknown_queries():
    strata = gen.load_strata({q for s in gen.load_pool()["strata"] for q in s})
    assert len(strata) == 8 and all(strata)
    assert gen.load_strata(set()) == []
    keep = {s[0] for s in strata}
    assert gen.load_strata(keep) == [[s[0]] for s in strata]


def test_warm_up_batch_shares_no_email_with_timed_batches():
    # the warm-up user stays in the table; sharing a normalized email with
    # a timed user would make that user's read-back return two rows
    from data_ingestion_project_spark.functions.crypto import normalize_email

    for seed in range(300):
        warm, _ = next(gen.user_batches(seed + 1_000_003, first_serial=gen.WARM_SERIALS))
        timed = itertools.islice(gen.user_batches(seed), 30)
        warm_emails = {normalize_email(u["email"]) for u in warm}
        assert not warm_emails & {normalize_email(u["email"]) for users, _ in timed for u in users}
