"""Seeded, single-process input generator (numpy + pyarrow).

Writes parquet in the engine's raw event schema: ``event_id`` (the log
position, strictly increasing), ``ts`` (TIMESTAMP(MICROS), 250 µs per
event so several events share one millisecond and the position breaks
the tie), ``user_id`` (the primary key), ``event_type`` (``signup`` →
create, ``error`` → delete, anything else → update), ``value`` and
``props`` (~120 characters, no commas or quotes so CSV egress needs no
escaping).  The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TS0_US = 1_700_000_000_000_000
US_PER_EVENT = 250
UPDATE_TYPES = np.array(["view", "click", "purchase"])

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def _props_pool(rng: np.random.Generator, n: int = 2048) -> pa.Array:
    """Distinct ~108-char property strings; each event appends its own
    id, so no two events carry the same ``props``."""
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789",
                             dtype=np.uint8)
    raw = alphabet[rng.integers(0, len(alphabet), size=(n, 96))]
    return pa.array(["src=web;tag=" + row.tobytes().decode()
                     for row in raw])


def events(rng: np.random.Generator, first_id: int, user_ids: np.ndarray,
           kinds: np.ndarray) -> pa.Table:
    """One batch of events.  ``kinds`` holds ``c``/``u``/``d`` per event
    and is mapped onto ``event_type``; ``user_ids`` are the keys."""
    n = len(user_ids)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    etype = UPDATE_TYPES[rng.integers(0, len(UPDATE_TYPES), size=n)]
    etype = np.where(kinds == "c", "signup",
                     np.where(kinds == "d", "error", etype))
    pool = _props_pool(rng)
    props = pc.binary_join_element_wise(
        pc.take(pool, pa.array(rng.integers(0, len(pool), size=n))),
        pc.cast(pa.array(ids), pa.string()), ";id=")
    return pa.table({
        "event_id": ids,
        "ts": pa.array(TS0_US + ids * US_PER_EVENT, pa.timestamp("us")),
        "user_id": user_ids.astype(np.int64),
        "event_type": pa.array(etype.astype(object), pa.string()),
        "value": np.round(rng.normal(100.0, 25.0, size=n), 4),
        "props": props,
    }, schema=SCHEMA)


def op_kinds(rng: np.random.Generator, n: int, c: float, d: float) -> np.ndarray:
    """``n`` op codes with create share ``c`` and delete share ``d``."""
    u = rng.random(n)
    return np.where(u < c, "c", np.where(u < c + d, "d", "u"))


def skewed_keys(rng: np.random.Generator, n: int, n_keys: int,
                a: float = 1.2) -> np.ndarray:
    """Zipf-skewed draws over ``[0, n_keys)``, hot keys spread over the
    key space by a fixed permutation."""
    z = rng.zipf(a, size=n) - 1
    z = z[z < n_keys]
    while len(z) < n:
        extra = rng.zipf(a, size=n) - 1
        z = np.concatenate([z, extra[extra < n_keys]])
    perm = rng.permutation(n_keys)
    return perm[z[:n]]


def write(table: pa.Table, path: str, n_files: int = 1,
          first: int = 0) -> None:
    """Write ``table`` as ``n_files`` parquet parts under directory
    ``path``, numbered from ``first`` (row order kept: part k holds the
    k-th slice)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{first + k:05d}.parquet"))
