"""Seeded log groups in the store's on-disk format.

A log group is one parquet file in ``store_backend.STORE_ARROW_SCHEMA``
under ``<store>/shard=<n>/``, with explicit, dense per-shard seqs that the
writer tracks itself (no footer re-read per append). Files are written
under a dot-name and renamed into place, so a reader never sees half a
group.

Every record carries the same content keys:
``rid`` (unique record id), ``user_id``, ``level``, ``etype`` (event type),
``latency_ms``, ``t`` (event time, unix seconds) and ``body`` (text that
names the record, so identical records have identical bodies)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYS = ("rid", "user_id", "level", "etype", "latency_ms", "t", "body")
LEVELS = np.array(["debug", "info", "warn", "error"], dtype=object)
ETYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
WORDS = np.array(
    "GET POST /api /login /cart /search ok timeout retry cache miss hit".split(),
    dtype=object,
)


def make_records(rng, rids: np.ndarray, times: np.ndarray) -> dict[str, np.ndarray]:
    """Column arrays (numpy object/int) for records with the given ids and
    event times; the other fields are drawn from ``rng``."""
    n = len(rids)
    user = rng.integers(0, 5000, n)
    level = LEVELS[rng.integers(0, 4, n)]
    etype = ETYPES[rng.integers(0, 5, n)]
    lat = rng.integers(1, 2000, n)
    w1, w2 = WORDS[rng.integers(0, len(WORDS), n)], WORDS[rng.integers(0, len(WORDS), n)]
    rid_s = np.char.mod("r%d", rids).astype(object)
    body = rid_s + " " + w1 + " " + w2 + " " + etype
    return {
        "rid": rid_s,
        "user_id": user,
        "level": level,
        "etype": etype,
        "latency_ms": lat,
        "t": np.asarray(times, dtype="int64"),
        "body": body,
    }


def take(records: dict[str, np.ndarray], idx) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in records.items()}


def concat(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in KEYS}


def group_table(records: dict[str, np.ndarray], first_seq: int, source: str):
    """Store-schema Arrow table: one row per record, seqs from ``first_seq``."""
    from spark_streaming_logservice_spark.sources.store_backend import (
        STORE_ARROW_SCHEMA,
    )

    n = len(records["rid"])
    k = len(KEYS)
    vals = np.empty((n, k), dtype=object)
    for j, key in enumerate(KEYS):
        col = records[key]
        vals[:, j] = col if col.dtype == object else col.astype(str).astype(object)
    offsets = pa.array(np.arange(0, n * k + 1, k, dtype="int32"))
    contents = pa.MapArray.from_arrays(
        offsets,
        pa.array(np.tile(np.array(KEYS, dtype=object), n), pa.string()),
        pa.array(vals.reshape(-1), pa.string()),
    )
    empty = pa.MapArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype="int32")),
        pa.array([], pa.string()),
        pa.array([], pa.string()),
    )
    return pa.table(
        {
            "seq": pa.array(np.arange(first_seq, first_seq + n, dtype="int64")),
            "time": pa.array(records["t"], pa.int64()),
            "topic": pa.array(records["etype"], pa.string()),
            "source": pa.array([source] * n, pa.string()),
            "contents": contents,
            "tags": empty,
        },
        schema=STORE_ARROW_SCHEMA,
    )


def write_group(store: str, shard: int, records, first_seq: int) -> int:
    """Publish one group as one parquet file; returns the shard's next seq."""
    d = os.path.join(store, f"shard={shard}")
    os.makedirs(d, exist_ok=True)
    tbl = group_table(records, first_seq, f"host-{shard}")
    name = f"part-{first_seq:020d}.parquet"
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(d, name))
    return first_seq + tbl.num_rows
