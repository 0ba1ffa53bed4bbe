"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed gives the
same query sample and order, the same user batches and the same
pre-seeded table rows. The program under test only ever sees the
generated inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
STRATA_FILE = os.path.join(HERE, "api_strata.json")

# ---------------------------------------------------------------- api


def load_pool() -> dict:
    with open(STRATA_FILE) as f:
        return json.load(f)


def load_strata(available: set[str]) -> list[list[str]]:
    """The API pool's cost strata (``api_strata.json``, cheapest first),
    restricted to queries the program still declares."""
    strata = [[q for q in s if q in available] for s in load_pool()["strata"]]
    return [s for s in strata if s]


def api_calls(seed: int, strata: list[list[str]], per_stratum: int) -> list[str]:
    """A seeded sample of ``per_stratum`` queries from every cost
    stratum (a stratum shorter than that is repeated), in seeded order.
    Every run draws the same number of calls from each stratum, so the
    cost mix of a run barely depends on the seed."""
    rng = random.Random(seed)
    calls = []
    for s in strata:
        walk = []
        while len(walk) < per_stratum:
            walk += rng.sample(s, len(s))
        calls += walk[:per_stratum]
    rng.shuffle(calls)
    return calls


# ------------------------------------------------------------- ingest

SEEDED_ROWS = 500_000  # pre-seeded table size (seed-independent): the rewrite is most of a batch
BATCH_SIZE = 10  # reference batch size (api_client.py results=10)
COLLIDE_FRAC = 0.3  # share of a batch whose uuid is already stored
BASE_SEED = 7  # seeds the pre-seeded table; fixed so the table is shared by all runs


def seeded_uuid(i: int) -> str:
    """uuid of pre-seeded row ``i``; ``seeded_table`` builds the same
    string in Spark SQL (sha2 of the same text)."""
    h = hashlib.sha256(f"{BASE_SEED}:{i}".encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def seeded_table(spark, n_rows: int = SEEDED_ROWS):
    """Synthetic rows in the secure schema (FIXTURES.md §2). The
    ciphertext/hash columns are high-entropy strings of the real
    columns' lengths, so the table compresses like a real one."""
    from pyspark.sql import functions as F

    def h(tag: str, bits: int = 256):
        return F.sha2(F.concat(F.lit(f"{BASE_SEED}:"), F.col("id").cast("string"), F.lit(tag)), bits)

    def b64(*tags: str):
        # base64 of concatenated raw digests: Fernet-token-like text
        return F.base64(F.concat(*[F.unhex(h(t)) for t in tags]))

    hx = h("")
    return spark.range(n_rows).select(
        F.concat_ws(
            "-", F.substring(hx, 1, 8), F.substring(hx, 9, 4), F.substring(hx, 13, 4),
            F.substring(hx, 17, 4), F.substring(hx, 21, 12),
        ).alias("login.uuid"),
        F.concat(F.lit("First"), F.substring(h("f"), 1, 6)).alias("name.first"),
        F.concat(F.lit("Last"), F.substring(h("l"), 1, 8)).alias("name.last"),
        F.format_string(
            "%04d-%02d-%02dT10:00:00.000Z", 1950 + F.col("id") % 50, 1 + F.col("id") % 12,
            1 + F.col("id") % 28,
        ).alias("dob.date"),
        (20 + F.col("id") % 60).cast("int").alias("dob.age"),
        F.element_at(
            F.array(*[F.lit(c) for c in _COUNTRIES]), (F.col("id") % len(_COUNTRIES) + 1).cast("int")
        ).alias("location.country"),
        F.concat(F.lit("user"), F.substring(h("u"), 1, 10)).alias("login.username"),
        F.concat(F.lit("$scrypt$n=65536,r=8,p=1$"), F.substring(b64("s"), 1, 24), F.lit("$"), b64("k")).alias(
            "password_hash"
        ),
        b64("e1", "e2", "e3").alias("email_enc"),
        b64("p1", "p2", "p3").alias("phone_enc"),
        b64("s1", "s2", "s3").alias("street_name_enc"),
        h("b").alias("email_bidx"),
    )


_COUNTRIES = ("Norway", "Brazil", "Canada", "Germany", "India", "Spain", "Turkey", "Iran")
_FIRST = ("Ana", "Ben", "Chloé", "Dmitri", "Eun", "Farah", "Günter", "Hana", "Ivo", "Jun")
_LAST = ("Olsen", "Silva", "Roy", "Müller", "Patel", "García", "Yılmaz", "Rahimi", "Kim", "Ng")


def _user(rng: random.Random, uid: str, serial: int) -> dict:
    first, last = rng.choice(_FIRST), rng.choice(_LAST)
    local = f"{first}.{last}{serial}"
    # mixed case + stray whitespace: exercises normalize_email
    email = f"{' ' * rng.randint(0, 2)}{local.upper() if serial % 2 else local}@Example.COM{' ' * rng.randint(0, 2)}"
    return {
        "name": {"title": rng.choice(("Mr", "Ms", "Mx")), "first": first, "last": last},
        "location": {
            "street": {"number": rng.randint(1, 9999), "name": f"{rng.choice(_LAST)} Street"},
            "city": "Springfield",
            "state": "State",
            "country": rng.choice(_COUNTRIES),
            # int or string, as the live API emits by nationality
            "postcode": rng.randint(10000, 99999) if serial % 3 else f"{rng.randint(100, 999)} AB",
            "coordinates": {"latitude": f"{rng.uniform(-90, 90):.4f}", "longitude": f"{rng.uniform(-180, 180):.4f}"},
            "timezone": {"offset": "+1:00", "description": "Brussels"},
        },
        "email": email,
        "login": {
            "uuid": uid,
            "username": f"user{serial}",
            "password": f"pw-{rng.getrandbits(40):x}",
            "salt": f"{rng.getrandbits(32):08x}",
            "md5": f"{rng.getrandbits(128):032x}",
            "sha1": f"{rng.getrandbits(160):040x}",
            "sha256": f"{rng.getrandbits(256):064x}",
        },
        "dob": {"date": f"{rng.randint(1950, 2004)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}T08:00:00.000Z", "age": rng.randint(20, 74)},
        "registered": {"date": "2015-05-05T10:00:00.000Z", "age": rng.randint(1, 10)},
        "phone": f"({rng.randint(100, 999)})-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
    }


WARM_SERIALS = 10**9  # first serial of the untimed warm-up batch, above any timed run's


def user_batches(seed: int, seeded_rows: int = SEEDED_ROWS, first_serial: int = 1):
    """Endless seeded batches ``(users, fresh)``: ``users`` is one
    payload of BATCH_SIZE users with unique uuids, about COLLIDE_FRAC
    of them already stored (pre-seeded or ingested by an earlier
    batch); ``fresh`` lists the uuids the keep-first upsert adds.
    Emails and usernames end in a serial counted from ``first_serial``,
    so two streams with disjoint serial ranges share no email."""
    rng = random.Random(seed)
    ingested: list[str] = []
    serial = first_serial - 1
    while True:
        # at least one new user per batch, so every batch has a read-back
        n_old = min(BATCH_SIZE - 1, sum(rng.random() < COLLIDE_FRAC for _ in range(BATCH_SIZE)))
        uids: list[str] = []
        while len(uids) < n_old:
            if ingested and rng.random() < 0.5:
                uid = rng.choice(ingested)
            else:
                uid = seeded_uuid(rng.randrange(seeded_rows))
            if uid not in uids:
                uids.append(uid)
        fresh = [str(uuid.UUID(int=rng.getrandbits(128), version=4)) for _ in range(BATCH_SIZE - n_old)]
        users = []
        for uid in uids + fresh:
            serial += 1
            users.append(_user(rng, uid, serial))
        rng.shuffle(users)
        ingested.extend(fresh)
        yield users, fresh
