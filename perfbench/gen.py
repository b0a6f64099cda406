"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same bytes, another seed gives an unseen input of the same shape. Shapes
follow the engine's TPC-H-style test corpus at scale factor ``sf``:

* ``lineitem`` — ``6_000_000 * sf`` rows over ``1_500_000 * sf`` orders
  and ``200_000 * sf`` parts; order and part keys are uniform draws, so
  lines per order are Poisson(4) and every part sits on ~30 lines
  (co-order degree ~90, which keeps the 80-core non-trivial).
* ``events`` — ``1_000_000 * sf`` rows over 30 days and ``15_000 * sf``
  users, event ids in time order, exponential amounts in whole cents.
* claims — ``CLAIMS_SCHEMA`` rows with Zipf-skewed Aadhaar reuse plus
  planted frauds of each rule family, returned with their ground truth.

Each input is one shared structure, drawn from ``BASE_SEED``, whose keys
each seed relabels, so every seed runs the same work on values it has not
seen.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SUBSIDY_TYPES = ["Equipment", "Fertilizer", "Irrigation", "Livestock", "Seed"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

#: expected ``RuleFraud`` label per planted family
PLANT_LABELS = {
    "dup_id": "DuplicateAadhaar",
    "multi_id": "MultiAadhaar",
    "frequent": "FrequentClaims",
    "high_amount": "HighClaimAmount",
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


#: seed of the shared structure that every seed relabels
BASE_SEED = 0


def write_lineitem(sf_dir: str, sf: float, seed: int) -> int:
    """Write ``lineitem.parquet`` under ``sf_dir``; returns the row count.

    The co-order structure is drawn once, from ``BASE_SEED``; ``seed``
    relabels it. Orders get a random permutation. Parts get an
    order-preserving relabelling (part ``x`` becomes ``8x + r``, ``r`` in
    0..7), because the graph queries compare part keys: ties in line
    order break on them, and the ring screen keeps parts below a fraction
    of the largest key. So every seed runs the same graph work on keys
    and files it has not seen; rows are shuffled too."""
    base = _rng(BASE_SEED, "lineitem")
    n_orders = max(int(1_500_000 * sf), 50)
    n_parts = max(int(200_000 * sf), 40)
    n_supp = max(int(10_000 * sf), 10)
    n = n_orders * 4
    order_idx = base.integers(0, n_orders, n)
    part_idx = base.integers(0, n_parts, n)
    ship0 = np.datetime64("1995-01-01", "us")
    cols = {
        "l_suppkey": base.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": base.integers(1, 8, n).astype(np.int32),
        "l_quantity": base.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(base.uniform(900, 105_000, n), 2),
        "l_discount": base.integers(0, 11, n) / 100.0,
        "l_tax": base.integers(0, 9, n) / 100.0,
        "l_returnflag": base.choice(["A", "N", "R"], n),
        "l_linestatus": base.choice(["F", "O"], n),
        "l_shipdate": ship0 + base.integers(0, 7 * 365, n).astype("timedelta64[D]"),
    }
    rng = _rng(seed, "lineitem")
    order_label = rng.permutation(n_orders).astype(np.int64)
    part_label = np.arange(n_parts, dtype=np.int64) * 8 + rng.integers(0, 8, n_parts)
    rows = rng.permutation(n)
    t = pa.table(
        {
            "l_orderkey": order_label[order_idx][rows],
            "l_partkey": part_label[part_idx][rows],
            **{k: v[rows] for k, v in cols.items()},
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(t, os.path.join(sf_dir, "lineitem.parquet"))
    return n


def write_events(sf_dir: str, sf: float, seed: int) -> int:
    """Write ``events.parquet`` under ``sf_dir``; returns the row count.

    Times, amounts and the user of each event are drawn once, from
    ``BASE_SEED``; ``seed`` permutes the user ids, so every seed folds the
    same duplicate-charge work over keys it has not seen."""
    base = _rng(BASE_SEED, "events")
    n = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 15)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(base.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
    user_idx = base.integers(0, n_users, n)
    cents = np.maximum(np.round(base.exponential(5_000, n)), 1).astype(np.int64)
    event_type = base.choice(EVENT_TYPES, n)
    props = [f'{{"k": {k}}}' for k in base.integers(0, 100, n)]
    user_label = _rng(seed, "events").permutation(n_users).astype(np.int64)
    t = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": user_label[user_idx],
            "event_type": event_type,
            "value": cents / 100.0,
            "props": props,
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(t, os.path.join(sf_dir, "events.parquet"))
    return n


def claims_batch(n: int, seed: int, part: int = 0) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One claims batch of exactly ``n`` rows and its planted ground truth.

    Background claims come from a pool of persons (one name, one Aadhaar
    each) drawn Zipf-skewed, so a few Aadhaars carry many claims. Planted
    rows use fresh names and Aadhaars and fall in four families: one
    Aadhaar under two names, one name under two Aadhaars, a repeat claim
    within a week, and an amount far above every background amount.
    High-amount plants stay under 1% of the batch so the 0.99 quantile
    lies inside the background and every plant exceeds it.

    The batch structure is drawn from ``BASE_SEED`` and depends only on
    ``n``; ``seed`` and ``part`` relabel names and Aadhaars through seeded
    bijections and reorder the rows, so every batch of every seed scores
    the same rule and model work on values it has not seen.
    Returns ``(claims, truth)``: ``truth`` holds the planted rows' claim
    columns plus ``label``, the rule name each must carry."""
    rng = _rng(BASE_SEED, "claims")
    k = max(n // 200, 1)  # plants per family; 4 families → ≤ 3.5% of rows
    n_plant = 2 * k + 2 * k + 2 * k + k
    n_bg = n - n_plant
    if n_bg < 10:
        raise ValueError(f"claims batch of {n} rows is too small to plant into")
    day0 = dt.date(2023, 1, 1)

    n_people = max(n_bg // 3, 5)
    n_ids = 2 * n_people + 6 * k
    # 12-digit ids: distinct draws, shuffled out of their sorted order
    ids = rng.permutation(np.unique(rng.integers(10**11, 10**12, 2 * n_ids))[:n_ids])
    names = [f"Person{v:07d}" for v in rng.choice(10_000_000, n_people + 5 * k, replace=False)]
    # bounded Zipf (exponent 0.9): the busiest Aadhaar carries ~7% of claims
    w = 1.0 / np.arange(1, n_people + 1) ** 0.9
    ranks = rng.choice(n_people, n_bg, p=w / w.sum())
    who = rng.permutation(n_people)[ranks]
    bg = pd.DataFrame(
        {
            "Name": [names[i] for i in who],
            "Aadhaar": ids[who],
            "ClaimAmount": rng.integers(1_000, 50_001, n_bg),
            "SubsidyType": rng.choice(SUBSIDY_TYPES, n_bg),
            "Date": [day0 + dt.timedelta(days=int(d)) for d in rng.integers(0, 730, n_bg)],
        }
    )

    fresh_ids = iter(ids[2 * n_people :].tolist())
    fresh_names = iter(names[n_people:])
    rows = []  # (Name, Aadhaar, day, label or None)
    for _ in range(k):
        a = next(fresh_ids)
        d = int(rng.integers(0, 300))
        rows += [(next(fresh_names), a, d, "dup_id"), (next(fresh_names), a, d + 60, "dup_id")]
    for _ in range(k):
        nm = next(fresh_names)
        d = int(rng.integers(0, 300))
        rows += [(nm, next(fresh_ids), d, "multi_id"), (nm, next(fresh_ids), d + 60, "multi_id")]
    for _ in range(k):
        nm, a = next(fresh_names), next(fresh_ids)
        d = int(rng.integers(0, 700))
        # the first claim has no predecessor, so only the repeat is flagged
        rows += [(nm, a, d, None), (nm, a, d + int(rng.integers(1, 8)), "frequent")]
    plants = pd.DataFrame(rows, columns=["Name", "Aadhaar", "day", "family"])
    plants["ClaimAmount"] = rng.integers(1_000, 50_001, len(plants))
    hi = pd.DataFrame(
        {
            "Name": [next(fresh_names) for _ in range(k)],
            "Aadhaar": [next(fresh_ids) for _ in range(k)],
            "day": rng.integers(0, 730, k),
            "family": "high_amount",
            "ClaimAmount": rng.integers(5_000_000, 9_000_001, k),
        }
    )
    plants = pd.concat([plants, hi], ignore_index=True)
    plants["SubsidyType"] = rng.choice(SUBSIDY_TYPES, len(plants))
    plants["Date"] = [day0 + dt.timedelta(days=int(d)) for d in plants["day"]]

    cols = ["Name", "Aadhaar", "ClaimAmount", "SubsidyType", "Date"]
    claims = pd.concat([bg, plants[cols]], ignore_index=True)
    truth = plants[plants["family"].notna()].copy()
    truth["label"] = truth["family"].map(PLANT_LABELS)
    truth = truth[cols + ["label"]].reset_index(drop=True)

    relabel = _rng(seed, f"claims{part}")
    name_map = _affine(relabel, 10**7)
    id_map = _affine(relabel, 9 * 10**11)
    for df in (claims, truth):
        df["Name"] = [f"Person{name_map(int(v[6:])):07d}" for v in df["Name"]]
        df["Aadhaar"] = [10**11 + id_map(int(v) - 10**11) for v in df["Aadhaar"]]
        df["Aadhaar"] = df["Aadhaar"].astype(np.int64)
        df["ClaimAmount"] = df["ClaimAmount"].astype(np.int64)
    claims = claims.iloc[relabel.permutation(len(claims))].reset_index(drop=True)
    return claims, truth


def _affine(rng: np.random.Generator, m: int):
    """A seeded bijection ``x -> (a*x + b) mod m`` on ``0..m-1``."""
    while True:
        a = int(rng.integers(1, m))
        if math.gcd(a, m) == 1:
            break
    b = int(rng.integers(0, m))
    return lambda x: (a * x + b) % m


def write_claims(path: str, claims: pd.DataFrame) -> None:
    """Stage a claims batch as one parquet file in ``CLAIMS_SCHEMA`` order."""
    t = pa.Table.from_pandas(claims, preserve_index=False).cast(
        pa.schema(
            [
                ("Name", pa.string()),
                ("Aadhaar", pa.int64()),
                ("ClaimAmount", pa.int64()),
                ("SubsidyType", pa.string()),
                ("Date", pa.date32()),
            ]
        )
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path)
