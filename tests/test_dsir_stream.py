"""Streaming DSIR model maintenance (streaming/dsir_stream.py): the
folded bucket-count table must equal a batch run over everything
ingested — and therefore so must every downstream importance score —
and replayed epochs must be no-ops."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.io import TableIO
from knowledge_graph_spark.operators.corpus import dsir_bucket_counts, dsir_scores
from knowledge_graph_spark.streaming import commit
from knowledge_graph_spark.streaming.dsir_stream import (
    DSIR_MARKER,
    fold_dsir_batch,
    run_dsir_stream,
)

DDL = "doc_id bigint, text string"
ROWS1 = [
    (0, "alpha beta gamma delta alpha beta"),
    (1, "beta beta epsilon zeta beta"),
    (4, "alpha beta alpha beta alpha"),
]
ROWS2 = [
    (2, "alpha eta theta alpha eta"),
    (3, "iota kappa beta gamma gamma iota"),
]
N_BUCKETS = 64


def _current(io):
    return commit.read_current(io, DSIR_MARKER, "dsir_buckets")


def _target():
    return F.col("doc_id") % 2 == 0


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.filterwarnings("ignore")
def test_dsir_fold_equals_batch_and_replay_is_noop(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "wh"))
    b1 = spark.createDataFrame(ROWS1, DDL)
    b2 = spark.createDataFrame(ROWS2, DDL)

    fold_dsir_batch(io, b1, 0, target=_target(), lineage="t", n_buckets=N_BUCKETS)
    fold_dsir_batch(io, b2, 1, target=_target(), lineage="t", n_buckets=N_BUCKETS)

    full = spark.createDataFrame(ROWS1 + ROWS2, DDL)
    want = dsir_bucket_counts(full, target=_target(), n_buckets=N_BUCKETS)
    got = _current(io)
    assert _rows(got) == _rows(want)

    # replay of a committed epoch is a no-op
    fold_dsir_batch(io, b2, 1, target=_target(), lineage="t", n_buckets=N_BUCKETS)
    assert _rows(_current(io)) == _rows(want)

    # downstream scores against the streamed models == one-shot batch DSIR
    batch = dsir_scores(full, target=_target(), n_buckets=N_BUCKETS, keep_k=3)
    streamed = dsir_scores(
        full,
        target=_target(),
        n_buckets=N_BUCKETS,
        keep_k=3,
        bucket_counts=_current(io),
    )
    assert _rows(streamed) == _rows(batch)


@pytest.mark.filterwarnings("ignore")
def test_dsir_stream_end_to_end(spark, tmp_path):
    import time

    inp = str(tmp_path / "in")
    io = TableIO(spark, base=str(tmp_path / "wh2"))
    spark.createDataFrame(ROWS1, DDL).coalesce(1).write.mode("append").parquet(inp)
    time.sleep(1.1)
    spark.createDataFrame(ROWS2, DDL).coalesce(1).write.mode("append").parquet(inp)
    run_dsir_stream(
        spark,
        inp,
        io,
        str(tmp_path / "ckpt"),
        target=_target(),
        n_buckets=N_BUCKETS,
    )
    full = spark.createDataFrame(ROWS1 + ROWS2, DDL)
    want = dsir_bucket_counts(full, target=_target(), n_buckets=N_BUCKETS)
    assert _rows(_current(io)) == _rows(want)
