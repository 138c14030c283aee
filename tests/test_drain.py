"""The one source, the one landing and the one drain behind every
streaming key (bristle_spark.queries.streaming_q): small local streams
and no fixture rows, so these run in the fast tier while the s_* keys
themselves run only in the slow one.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bristle_spark.queries.streaming_q import (
    _drain,
    _event_stream,
    _land_idempotent,
    _landed,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _partial(batch):
    return batch.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.max("ts").alias("last_ts")
    )


def test_relanding_a_batch_id_replaces_it(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch lands under the
    same batch_id again. Its rows must be read back once, for additive
    partials and duplicate-insensitive ones (bloom words, skyline
    points) alike."""
    out = str(tmp_path / "landed")
    batch = spark.createDataFrame([(1, 1.0, None), (2, 2.0, None)], SCHEMA)
    _land_idempotent(batch, out, 0)
    _land_idempotent(batch.limit(1), out, 1)
    _land_idempotent(batch, out, 0)  # the replay
    assert sorted(r["k"] for r in _landed(spark, out).collect()) == [1, 1, 2]


def test_drain_with_no_microbatch_is_empty_and_typed(spark, tmp_path):
    """A source with zero files runs no micro-batch, so nothing lands;
    the drain still returns the columns and types its partial lands."""
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))

    out = _drain(spark, stream, str(tmp_path / "work"), "append", _partial)
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("k", T.LongType()),
        ("n", T.LongType()),
        ("last_ts", T.TimestampType()),
    ]
    assert out.count() == 0

    same = _drain(spark, stream, str(tmp_path / "work"), "append")
    assert [(f.name, f.dataType) for f in same.schema.fields] == [
        (f.name, f.dataType) for f in SCHEMA.fields
    ]
    assert same.count() == 0



def test_keys_with_one_chunker_share_its_chunk_dir(spark, sf_dir, tmp_path, monkeypatch):
    """The events split is built once per fixture, not once per key:
    two keys with the same chunker are handed the same chunk dir, while
    each keeps its own work dir to land under."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    handed = []

    def chunker(spark, sf_dir, out_dir):
        handed.append(out_dir)
        data_dir = os.path.join(out_dir, "chunks")
        os.makedirs(data_dir, exist_ok=True)
        return data_dir

    work_a, _ = _event_stream(spark, sf_dir, "a", chunker)
    work_b, _ = _event_stream(spark, sf_dir, "b", chunker)
    assert handed[0] == handed[1]
    assert work_a != work_b
