"""Ports of the reference's sink unit tests (SURVEY §5 layer 1 — the exact
semantics our engine must reproduce, /root/reference/eth_event_stream/src/
sink.rs:305-384): abstract integer sources, no Ethereum.

- test_up_to        (sink.rs:320-326): min-of-max watermark; None until every
  registered source has reported.
- test_flush        (sink.rs:358-383): dense flush emits EVERY (block, source)
  group incl. empty ones; a second flush resumes at the previous target + 1
  and never re-emits.
- idempotent upsert (sink.rs:280-296): duplicate (source, block, log_index)
  keeps one row.
- block batching    (sink.rs:58-81): step windows + remainder batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_event_stream_spark.operators.sync import (
    block_batches,
    dedup_logs,
    flush_including,
    synced_events,
    tag_signature,
    watermark_block,
)


def _rows_df(spark, rows):
    """rows: (sig, block_number, log_index, payload)"""
    return spark.createDataFrame(
        rows, "sig string, block_number long, log_index long, payload string"
    )


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
        ("a", 1, 0, "x"),
        ("a", 3, 1, "y"),
        ("b", 2, 0, "z"),
        # block 4 empty for both; block 5 only b
        ("b", 5, 0, "w"),
    ]
    df = _rows_df(spark, rows)

    first = flush_including(df, bottom=1, target=3)
    got = {(r["block_number"], r["sig"]): len(r["events"]) for r in first.collect()}
    # 3 blocks x 2 sigs, dense
    assert got == {
        (1, "a"): 1,
        (1, "b"): 0,
        (2, "a"): 0,
        (2, "b"): 1,
        (3, "a"): 1,
        (3, "b"): 0,
    }

    second = flush_including(df, bottom=4, target=5)
    got2 = {(r["block_number"], r["sig"]): len(r["events"]) for r in second.collect()}
    assert got2 == {
        (4, "a"): 0,
        (4, "b"): 0,
        (5, "a"): 0,
        (5, "b"): 1,
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


def test_idempotent_upsert(spark):
    """B4: duplicate (sig, block, log_index) rows collapse to one."""
    rows = [
        ("a", 1, 0, "x"),
        ("a", 1, 0, "x-refetch"),
        ("a", 1, 1, "y"),
    ]
    out = dedup_logs(_rows_df(spark, rows))
    assert out.count() == 2


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
    got = sorted(r["sig"] for r in tag_signature(df).collect())
    assert got == ["0xaa|0xt0", "0xbb", "0xcc"]
