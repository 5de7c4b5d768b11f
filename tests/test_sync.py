"""Ports of the reference's sink unit tests (SURVEY §5 layer 1 — the exact
semantics our engine must reproduce, /root/reference/eth_event_stream/src/
sink.rs:305-384): abstract integer sources, no Ethereum.

- test_up_to        (sink.rs:320-326): min-of-max watermark; None until every
  registered source has reported.
- test_flush        (sink.rs:358-383): dense flush emits EVERY (block, source)
  group incl. empty ones; a second flush resumes at the previous target + 1
  and never re-emits.
- idempotent upsert (sink.rs:280-296): duplicate (source, block, log_index)
  keeps one row, through the factory's read.
- block batching    (sink.rs:58-81): step windows + remainder batch.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from eth_event_stream_spark.operators.sync import (
    block_batches,
    flush_including,
    synced_events,
    tag_signature,
    watermark_block,
)
from eth_event_stream_spark.sources.block_source import ETH_LOG_SCHEMA
from eth_event_stream_spark.sources.factory import StreamFactory
from eth_event_stream_spark.sources.fixtures import ADDR_A, ADDR_B, TRANSFER_DECL, TRANSFER_TOPIC0

ADDR_NONE = "0x" + "11" * 20  # a registered stream with no logs in the fixture


def _rows_df(spark, rows):
    """rows: (sig, block_number, log_index, payload)"""
    return spark.createDataFrame(
        rows, "sig string, block_number long, log_index long, payload string"
    )


def _tagged_df(spark, rows, sigs):
    """rows: (address, block_number, log_index, payload), each with topics
    ``["0xT0"]``, tagged with the registered ``sigs``."""
    df = spark.createDataFrame(
        [(a, ["0xT0"], b, i, p) for a, b, i, p in rows],
        "address string, topics array<string>, block_number long, log_index long, payload string",
    )
    return tag_signature(df, sigs)


def test_watermark_min_of_max():
    """sink.rs test_up_to: {src1: 3} with 2 registered sources -> None;
    adding {src2: 4} -> watermark 3."""
    assert watermark_block({"1": 3}, n_sources=2) is None
    assert watermark_block({"1": 3, "2": 4}, n_sources=2) == 3
    # punctuation advances even without data for a source (B3): a later
    # empty-chunk report moves the frontier
    assert watermark_block({"1": 9, "2": 7}, n_sources=2) == 7
    assert watermark_block({}, n_sources=0) is None


def test_watermark_from_punctuation_frame(spark):
    """DataFrame form: max(end_block) per sig, min across sigs."""
    punct = spark.createDataFrame(
        [("a", 2), ("a", 5), ("b", 4), ("b", 3)], "sig string, end_block long"
    )
    assert watermark_block(punct, n_sources=2) == 4
    assert watermark_block(punct, n_sources=3) is None  # a source never reported


def test_flush_dense_and_resume(spark):
    """sink.rs test_flush: dense per-(block, sig) emission including empty
    groups; the second round starts at target+1 and re-emits nothing."""
    rows = [
        ("0xaa", 1, 0, "x"),
        ("0xaa", 3, 1, "y"),
        ("0xbb", 2, 0, "z"),
        # block 4 empty for both; block 5 only b
        ("0xbb", 5, 0, "w"),
    ]
    a, b = "0xaa|0xt0", "0xbb|0xt0"
    df = _tagged_df(spark, rows, [a, b])

    first = flush_including(df, bottom=1, target=3)
    got = {(r["block_number"], r["sig"]): len(r["events"]) for r in first.collect()}
    # 3 blocks x 2 sigs, dense
    assert got == {
        (1, a): 1,
        (1, b): 0,
        (2, a): 0,
        (2, b): 1,
        (3, a): 1,
        (3, b): 0,
    }

    second = flush_including(df, bottom=4, target=5)
    got2 = {(r["block_number"], r["sig"]): len(r["events"]) for r in second.collect()}
    assert got2 == {
        (4, a): 0,
        (4, b): 0,
        (5, a): 0,
        (5, b): 1,
    }
    # nothing from the first round re-emits
    assert not (set(got) & set(got2))


def test_flush_event_order_within_block(spark):
    """B9: events inside a flushed block are sorted by log_index across
    interleaved sources (sink.rs:117-119)."""
    rows = [
        ("a", 7, 4, "a4"),
        ("b", 7, 1, "b1"),
        ("a", 7, 2, "a2"),
        ("b", 7, 3, "b3"),
    ]
    df = _rows_df(spark, rows)
    merged = synced_events(df.drop("sig"), per_block=True).collect()
    assert len(merged) == 1
    order = [e["log_index"] for e in merged[0]["events"]]
    assert order == [1, 2, 3, 4]


def test_idempotent_upsert(spark, tmp_path):
    """B4: duplicate (stream, block, log_index) rows collapse to one in the
    factory's read, whatever their payloads."""
    rows = [
        (b"x", 1, 0),
        (b"x-refetch", 1, 0),
        (b"y", 1, 1),
    ]
    table = pa.Table.from_pylist(
        [
            {"address": ADDR_A, "topics": [TRANSFER_TOPIC0], "data": d, "block_number": blk,
             "log_index": i, "transaction_hash": "0x01", "removed": False}
            for d, blk, i in rows
        ],
        schema=to_arrow_schema(ETH_LOG_SCHEMA),
    )
    path = str(tmp_path / "logs.parquet")
    pq.write_table(table, path)
    factory = StreamFactory(spark, path=path, from_block=1, to_block=1)
    factory.make(ADDR_A, TRANSFER_DECL)
    assert factory.sink().count() == 2


def test_block_batches_with_remainder(spark):
    """B7: step-sized tumbling windows over block height; the trailing
    partial window is its own batch (the reference's intent at sink.rs:76)."""
    rows = [("a", b, 0, "p") for b in range(10, 21)]  # blocks 10..20
    out = block_batches(_rows_df(spark, rows), from_block=10, step=4)
    got = {
        r["batch_id"]: r["n"]
        for r in out.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == {0: 4, 1: 4, 2: 3}  # 10-13, 14-17, 18-20 (remainder)


def test_tag_signature_null_safe_under_ansi(spark):
    """A log with empty or null ``topics`` (a LOG0) tags as its address
    alone instead of failing the read under ANSI."""
    df = spark.createDataFrame(
        [("0xAA", ["0xT0", "0x1"]), ("0xBB", []), ("0xCC", None)],
        "address string, topics array<string>",
    )
    got = sorted(r["sig"] for r in tag_signature(df, ["0xaa|0xt0"]).collect())
    assert got == ["0xaa|0xt0", "0xbb", "0xcc"]


def _registered_factory(spark, eth_logs_fixture, **kw):
    fx, path = eth_logs_fixture
    factory = StreamFactory(spark, path=path, from_block=fx.from_block, to_block=fx.to_block, **kw)
    for addr in (ADDR_A, ADDR_B, ADDR_NONE):
        factory.make(addr, TRANSFER_DECL)
    return factory


def _assert_dense(flushed, lo, hi):
    """One row per (block, registered stream) in [lo, hi]; the stream with
    no logs has an empty ``events`` array in every block."""
    none_sig = f"{ADDR_NONE}|{TRANSFER_TOPIC0}"
    rows = flushed.collect()
    assert len(rows) == (hi - lo + 1) * 3
    assert {(r["block_number"], r["sig"]) for r in rows} == {
        (b, f"{a}|{TRANSFER_TOPIC0}") for b in range(lo, hi + 1) for a in (ADDR_A, ADDR_B, ADDR_NONE)
    }
    assert all(len(r["events"]) == 0 for r in rows if r["sig"] == none_sig)


def test_flush_emits_registered_streams_without_logs(spark, eth_logs_fixture):
    """sink.rs:216-249: the flush emits every REGISTERED stream for every
    block, a stream with no logs at all included, over the whole range and
    over a sub-range."""
    fx, _ = eth_logs_fixture
    logs = _registered_factory(spark, eth_logs_fixture).sink(fail_on_removed=False)
    _assert_dense(flush_including(logs, fx.from_block, fx.to_block), fx.from_block, fx.to_block)
    lo = fx.from_block + 20
    _assert_dense(flush_including(logs, lo, lo + 9), lo, lo + 9)


def test_flush_registered_streams_per_micro_batch(spark, eth_logs_fixture, tmp_path):
    """The registered signatures reach each micro-batch of a streaming
    sink, so a flush inside ``foreachBatch`` is dense over all three."""
    factory = _registered_factory(spark, eth_logs_fixture, confirmation_blocks=0, block_step=40)
    ranges = []

    def flush(batch, _batch_id):
        lo, hi = batch.agg(F.min("block_number"), F.max("block_number")).collect()[0]
        if lo is not None:
            _assert_dense(flush_including(batch, lo, hi), lo, hi)
            ranges.append((lo, hi))

    q = (
        factory.sink(streaming=True, fail_on_removed=False)
        .writeStream.foreachBatch(flush)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None
    assert ranges


def test_flush_without_registered_sigs_raises(spark):
    """A frame that did not pass through ``tag_signature`` has no stream
    set to flush over."""
    df = spark.createDataFrame([("a", 1, 0, "x")], "sig string, block_number long, log_index long, payload string")
    with pytest.raises(ValueError, match="tag_signature"):
        flush_including(df, 1, 1)
