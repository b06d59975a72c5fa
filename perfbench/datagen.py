"""Seeded input generator for the ``etl_load`` workload.

``write_user_batches(out_dir, seed, ...)`` writes batches of
``RAW_USER_SCHEMA`` records as JSON lines, with JS-falsy emails and
countries, missing uuids, and ids repeated across batches.  Everything
is drawn from ``numpy.random.default_rng(seed)`` in a fixed order, so
one seed gives byte-identical files.

The query workloads generate nothing: they read the sf0.01 tables
committed under ``perfbench/data/`` (see perfbench/README.md).
"""

from __future__ import annotations

import json
import os

import numpy as np

FIRST = ["Ada", "Bo", "Cy", "Di", "Ed", "Flo", "Gus", "Hal", "Ivy", "Jo"]
LAST = ["Ng", "Ortiz", "Park", "Quinn", "Roy", "Sato", "Toth", "Udo"]
COUNTRIES = ["US", "GB", "FR", "DE", "ES", "BR", "IN", "JP"]
CITIES = ["Austin", "Leeds", "Lyon", "Bonn", "Vigo", "Recife", "Pune", "Kobe"]


def _user(rng: np.random.Generator, uid: int) -> dict:
    """One RAW_USER_SCHEMA record.  About 10% of emails and 10% of
    countries are JS-falsy (empty or null), and 5% of uuids are
    missing so ``enrich_users`` synthesizes the id."""
    c = int(rng.integers(0, len(COUNTRIES)))
    first, last = FIRST[uid % len(FIRST)], LAST[uid % len(LAST)]
    r = rng.random(3)
    email = (None if r[0] < 0.05 else "") if r[0] < 0.1 else (
        f"{first.lower()}.{last.lower()}{uid}@example.com")
    country = (None if r[1] < 0.05 else "") if r[1] < 0.1 else COUNTRIES[c]
    return {
        "login": None if r[2] < 0.05 else {"uuid": f"u-{uid:08d}"},
        "name": {"first": first, "last": last},
        "email": email,
        "phone": f"555-{uid % 10000:04d}",
        "cell": f"555-{(uid * 7) % 10000:04d}",
        "location": {
            "city": CITIES[c],
            "state": f"S{c}",
            "country": country,
            "postcode": f"{10000 + uid % 90000}",
        },
        "dob": {"date": "1990-01-01T00:00:00Z", "age": int(18 + uid % 60)},
        "registered": {"date": "2020-06-01T00:00:00Z"},
        "gender": ("female", "male", "")[uid % 3],
        "nat": "" if r[1] < 0.1 else COUNTRIES[c],
        "picture": {"large": f"https://img.example/{uid}.jpg"},
    }


def write_user_batches(
    out_dir: str, seed: int, n_batches: int, rows_per_batch: int,
    repeat_share: float = 0.3,
) -> list[str]:
    """Write ``n_batches`` JSON-lines files of raw user records.  Each
    batch re-sends ``repeat_share`` of its rows with ids drawn from
    earlier batches (updates, no id twice in one batch), the rest are
    new ids.  Returns the batch paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths: list[str] = []
    next_id = 0
    for b in range(n_batches):
        n_rep = int(rows_per_batch * repeat_share) if next_id else 0
        ids = list(rng.choice(next_id, n_rep, replace=False)) if n_rep else []
        ids += range(next_id, next_id + rows_per_batch - n_rep)
        next_id += rows_per_batch - n_rep
        path = os.path.join(out_dir, f"batch-{b:03d}.jsonl")
        with open(path, "w") as f:
            for uid in ids:
                f.write(json.dumps(_user(rng, int(uid)), sort_keys=True) + "\n")
        paths.append(path)
    return paths
