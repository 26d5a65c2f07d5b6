"""The Arrow sink's vectorised routing and map assembly against a plain
per-row reference: every row routes with ``stable_shard(str(key))`` and
carries a map of its non-null wire values in field order. The staged tables
must match the reference in everything but ``seq`` (time-allocated), and the
seqs must be unique."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from spark_streaming_logservice_spark.sources import store_backend as be
from spark_streaming_logservice_spark.sources.logstore import (
    LogstoreStreamWriter,
    stable_shard,
)

SCHEMA = StructType(
    [
        StructField("msg", StringType()),
        StructField("user", LongType()),
        StructField("score", DoubleType()),
        StructField("price", DecimalType(10, 2)),
        StructField("ok", BooleanType()),
        StructField("ts", TimestampType()),
        StructField("day", DateType()),
    ]
)


def _batch(rng: random.Random, n: int) -> pa.RecordBatch:
    def maybe(v):
        return None if rng.random() < 0.15 else v

    t0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    return pa.record_batch(
        {
            "msg": pa.array([maybe(f"m{rng.randrange(10**6)}") for _ in range(n)], pa.string()),
            # few distinct keys, nulls included: repeated keys and a null key
            "user": pa.array([maybe(rng.randrange(12)) for _ in range(n)], pa.int64()),
            "score": pa.array(
                [maybe(rng.choice([3.0, 0.1, -2.5e-7, 1e20, rng.random()])) for _ in range(n)],
                pa.float64(),
            ),
            "price": pa.array(
                [maybe(decimal.Decimal(rng.randrange(-10**6, 10**6)) / 100) for _ in range(n)],
                pa.decimal128(10, 2),
            ),
            "ok": pa.array([maybe(rng.random() < 0.5) for _ in range(n)], pa.bool_()),
            # event time never null: a null time falls back to the wall clock
            "ts": pa.array(
                [t0 + dt.timedelta(seconds=rng.randrange(10**6)) for _ in range(n)],
                pa.timestamp("us", tz="UTC"),
            ),
            "day": pa.array(
                [
                    maybe(dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(900)))
                    for _ in range(n)
                ],
                pa.date32(),
            ),
        }
    )


def _reference(writer: LogstoreStreamWriter, batches) -> list[tuple[int, list]]:
    """Per-row routing and map building; one (shard, rows) per batch and
    shard, shards ascending — the writer's per-shard file split."""
    fields = SCHEMA.fields
    out = []
    for b in batches:
        if b.num_rows == 0:
            continue
        wire = [writer._wire_column(b.column(f.name), f).to_pylist() for f in fields]
        if writer.hash_col is not None:
            keys = pc.cast(b.column(writer.hash_col), pa.string()).to_pylist()
            shard_of = [stable_shard(str(k), writer.n_shards) for k in keys]
        else:
            shard_of = [0] * b.num_rows  # partition 0 outside a Spark task
        secs = [int(t.timestamp()) for t in b.column("ts").to_pylist()]
        rows = []
        for i in range(b.num_rows):
            contents = [
                (f.name, wire[j][i]) for j, f in enumerate(fields) if wire[j][i] is not None
            ]
            rows.append((shard_of[i], (secs[i], writer.topic, writer.source, contents, [])))
        for shard in sorted(set(shard_of)):
            out.append((shard, [r for s, r in rows if s == shard]))
    return out


def _staged(path: str, result) -> tuple[list[tuple[int, list]], list[int]]:
    out, seqs = [], []
    for rel in result.staged:
        shard = int(os.path.basename(rel).split("-", 1)[0].split("=")[1])
        tbl = pq.read_table(os.path.join(path, be.STAGING_DIR, rel))
        assert tbl.schema.equals(be.STORE_ARROW_SCHEMA)
        seqs += tbl.column("seq").to_pylist()
        cols = [tbl.column(c).to_pylist() for c in ("time", "topic", "source", "contents", "tags")]
        out.append((shard, list(zip(*cols))))
    return out, seqs


@pytest.mark.parametrize(
    "hash_col,n_shards", [("user", 4), ("user", 1), (None, 3)], ids=["hash4", "hash1", "nohash"]
)
def test_vectorised_write_matches_per_row_reference(tmp_path, hash_col, n_shards):
    rng = random.Random(7)
    batches = [_batch(rng, 300), _batch(rng, 0), _batch(rng, 41), _batch(rng, 1)]
    assert any(v is None for v in batches[0].column("user").to_pylist())
    path = str(tmp_path / "store")
    os.makedirs(path)
    opts = {"path": path, "shards": str(n_shards), "timecolumn": "ts", "topic": "t", "source": "s"}
    if hash_col is not None:
        opts["hashkeycolumn"] = hash_col
    writer = LogstoreStreamWriter(SCHEMA, opts, False)

    result = writer.write(iter(batches))

    got, seqs = _staged(path, result)
    assert got == _reference(writer, batches)
    assert result.rows == 342
    assert len(seqs) == 342 and len(set(seqs)) == 342
