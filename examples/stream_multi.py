#!/usr/bin/env python
"""Flagship example — the reference's ``examples/stream_multi.rs`` on Spark.

Two synchronized Transfer streams (USDC + USDT analogs) drain a block range
through one factory/sink, a netflow reducer folds the merged ordered events,
and the live monitor prints the counters the reference prints
(stream_multi.rs:116-143): address count, positive flows, negative flows.

Run: python examples/stream_multi.py  (self-contained; writes a deterministic
fixture to a temp dir — no network, same semantics).

Against a real node (the reference's own invocation shape —
stream_multi.rs:90 takes a node URL):
    python examples/stream_multi.py --rpc-url http://node:8545 \
        --from-block N --to-block M
Same code path; only the transport option changes.
"""

from __future__ import annotations

import ast
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from eth_event_stream_spark.functions.decode import decode_event
from eth_event_stream_spark.operators.sync import netflow, netflow_counters
from eth_event_stream_spark.session import get_spark
from eth_event_stream_spark.sources.factory import StreamFactory
from eth_event_stream_spark.sources.fixtures import (
    ADDR_A,
    ADDR_B,
    TRANSFER_DECL,
    generate_eth_logs,
)


def _arg(flag: str, default=None):
    return sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else default


def main() -> None:
    spark = get_spark(app_name="stream_multi", shuffle_partitions=8)

    rpc_url = _arg("--rpc-url")
    if rpc_url is not None:
        # live node: the reference's invocation shape (node URL + range)
        transport = {"rpc_url": rpc_url}
        from_block = int(_arg("--from-block", 0))
        to_block = int(_arg("--to-block", from_block + 99))
    else:
        # "chain": deterministic synthetic logs (golden counts known)
        fx = generate_eth_logs()
        path = os.path.join(tempfile.mkdtemp(), "eth_logs.parquet")
        fx.write_parquet(path)
        transport = {"path": path}
        from_block, to_block = fx.from_block, fx.to_block

    factory = StreamFactory(
        spark,
        from_block=from_block,
        to_block=to_block,
        confirmation_blocks=2,
        block_step=1000,
        **transport,
    )
    usdc = factory.make(ADDR_A, TRANSFER_DECL)
    usdt = factory.make(ADDR_B, TRANSFER_DECL)
    print(f"streams: {usdc.signature}\n         {usdt.signature}")

    # historical drain (the same sink() with streaming=True is the live tail)
    logs = factory.sink(streaming=False, fail_on_removed=False)

    for handle in (usdc, usdt):
        decoded = decode_event(
            logs.filter(F.col("sig") == handle.signature), TRANSFER_DECL
        )
        # uint256 policy (SURVEY §7.4.1): DECIMAL(38,0) carries amounts up to
        # 10^38-1 exactly; aggregating values near that bound overflows ANSI
        # decimals (the reference silently wraps instead — stream_multi.rs:59).
        # Real-token analytics bound the amount domain; out-of-range rows keep
        # their lossless value_hex.
        plausible = decoded.filter(
            F.col("value").isNotNull()
            & (F.col("value") < F.expr(f"CAST('{10**30}' AS DECIMAL(38,0))"))
        )
        flows = netflow(plausible)
        counters = netflow_counters(flows).collect()[0]
        print(
            f"{handle.address[:10]}…  transfers={decoded.count():4d}  "
            f"addresses={counters['n_addresses']:3d}  "
            f"+flows={counters['n_positive']:3d}  -flows={counters['n_negative']:3d}"
        )

    total = logs.count()
    print(f"synced events across both streams: {total}")

    if "--live" in sys.argv:
        run_live(spark, factory)
    spark.stop()


def run_live(spark, factory) -> None:
    """The live tail: the same sink() as a streaming query, with the
    reference's per-interval monitor (stream_multi.rs:116-143) as a
    foreachBatch progress printer."""
    import tempfile

    stream = factory.sink(streaming=True, fail_on_removed=False)

    def monitor(batch_df, epoch_id):
        decoded = decode_event(batch_df, TRANSFER_DECL)
        n = decoded.count()
        if n:
            print(f"[epoch {epoch_id}] +{n} transfers")

    q = (
        stream.writeStream.foreachBatch(monitor)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    q.processAllAvailable()  # bounded range -> drains and returns (B5)
    q.stop()
    # one source serves both streams, so each trigger reads one block range
    # [start, end) for all of them: the reference's N-way watermark (B2)
    for p in q.recentProgress:
        [src] = p["sources"]
        # offsets are {"block": next_unread_block}; the first batch has no start
        start, end = (
            (ast.literal_eval(src[k]) or {"block": factory.from_block})["block"]
            for k in ("startOffset", "endOffset")
        )
        if end > start:
            print(f"[trigger {p['batchId']}] blocks [{start}, {end}) for both streams")
    # note: the live tail holds back `confirmation_blocks` behind the head
    # (S3) — a few tip transfers stay unconfirmed until more blocks land
    print("live drain complete")


if __name__ == "__main__":
    main()
