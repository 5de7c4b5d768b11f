"""Live JSON-RPC transport (sources/rpc.py + the eth_logs rpc_url option),
tested against a loopback HTTP node serving the deterministic fixture — the
network-free equivalent of the reference's live integration test
(stream.rs:304-375: fixed range, golden count, real eth_getLogs calls).
"""

from __future__ import annotations

import ast
import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from eth_event_stream_spark.sources import block_source as bs
from eth_event_stream_spark.sources.block_source import register as register_source
from eth_event_stream_spark.sources.fixtures import (
    ADDR_A,
    TRANSFER_TOPIC0,
    generate_eth_logs,
)
from eth_event_stream_spark.sources.rpc import (
    JsonRpcLogFetcher,
    RpcError,
    TransientRpcError,
)


def _json_log(row: dict) -> dict:
    return {
        "address": row["address"],
        "topics": row["topics"],
        "data": "0x" + row["data"].hex(),
        "blockNumber": hex(row["block_number"]),
        "logIndex": hex(row["log_index"]),
        "transactionHash": row["transaction_hash"],
        "removed": row["removed"],
    }


class _FakeNode:
    """In-process Ethereum node: eth_blockNumber + eth_getLogs over fixture
    rows, with injectable transient failures and a call log."""

    def __init__(self, rows: list[dict], head: int, head_step: int = 0):
        self.logs = [_json_log(r) for r in rows]
        self.head = head
        self.head_step = head_step  # the head moves this far after each eth_blockNumber
        self.heads: list[int] = []  # every head eth_blockNumber returned
        self.calls: list[str] = []
        self.fail_next = 0  # serve this many HTTP 500s before recovering
        node = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence request logging
                pass

            def do_POST(self):
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                node.calls.append(body["method"])
                if node.fail_next > 0:
                    node.fail_next -= 1
                    self.send_response(500)
                    self.end_headers()
                    return
                out = node.handle(body)
                payload = json.dumps(out).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self.server = HTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_port}"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def handle(self, body: dict) -> dict:
        method, params = body["method"], body.get("params", [])
        if method == "eth_blockNumber":
            head = self.head
            self.heads.append(head)
            self.head += self.head_step
            return {"jsonrpc": "2.0", "id": body["id"], "result": hex(head)}
        if method == "eth_getLogs":
            f = params[0]
            lo, hi = int(f["fromBlock"], 16), int(f["toBlock"], 16)
            addr = f.get("address")
            topics = f.get("topics") or []
            out = []
            for lg in self.logs:
                b = int(lg["blockNumber"], 16)
                if not (lo <= b <= hi):
                    continue
                # real nodes compare the 20-byte address -> caseless on hex
                if addr is not None and lg["address"].lower() != addr.lower():
                    continue
                if topics and (
                    not lg["topics"] or lg["topics"][0].lower() != topics[0].lower()
                ):
                    continue
                out.append(lg)
            return {"jsonrpc": "2.0", "id": body["id"], "result": out}
        return {
            "jsonrpc": "2.0",
            "id": body["id"],
            "error": {"code": -32601, "message": f"unknown method {method}"},
        }

    def stop(self):
        self.server.shutdown()
        self.server.server_close()


def _rpc_opts(url: str, **options):
    """Parsed eth_logs options over ``url`` with a 1 ms retry base."""
    return bs._Options.parse({"rpc_url": url, "retry_base_ms": "1", **options})


@pytest.fixture(scope="module")
def node():
    fx = generate_eth_logs()
    n = _FakeNode(fx.rows, head=fx.to_block)
    yield fx, n
    n.stop()


def test_fetcher_block_number_and_get_logs(node):
    fx, n = node
    f = JsonRpcLogFetcher(n.url)
    assert f.block_number() == fx.to_block
    rows = f.get_logs(fx.from_block, fx.to_block, address=ADDR_A, topic0=TRANSFER_TOPIC0)
    # raw fetch includes removed rows and upsert duplicates; schema order holds
    assert all(r[0] == ADDR_A and r[1][0] == TRANSFER_TOPIC0 for r in rows)
    non_removed_distinct = {(r[3], r[4]) for r in rows if not r[6]}
    assert len(non_removed_distinct) == fx.golden_count_a
    assert isinstance(rows[0][2], bytes) and len(rows[0][2]) == 32


def test_rpc_read_range_retries_transient_then_succeeds(node):
    fx, n = node
    n.fail_next = 2
    before = len(n.calls)
    tbl = bs._read_range(
        _rpc_opts(n.url, topic0=TRANSFER_TOPIC0, fail_on_removed="false", retry_attempts="4"),
        fx.from_block, fx.from_block + 10, ADDR_A,
    )
    assert len(n.calls) - before == 3  # 2 transient failures + 1 success
    assert tbl.num_rows > 0
    assert not any(tbl["removed"].to_pylist())


def test_rpc_fails_fast_on_node_error(node):
    fx, n = node
    f = JsonRpcLogFetcher(n.url)
    before = len(n.calls)
    with pytest.raises(RpcError) as ei:
        f._call("eth_noSuchMethod", [])
    assert not isinstance(ei.value, TransientRpcError)  # deterministic class
    assert len(n.calls) - before == 1


def test_rpc_exhaustion_reraises_transient(node):
    fx, n = node
    n.fail_next = 99
    before = len(n.calls)
    with pytest.raises(TransientRpcError):
        bs._read_range(
            _rpc_opts(n.url, fail_on_removed="false", retry_attempts="3"),
            fx.from_block, fx.from_block + 1,
        )
    assert len(n.calls) - before == 3
    n.fail_next = 0


def test_post_filter_accepts_checksummed_node_addresses():
    """A node returning EIP-55 checksummed addresses must not have its rows
    silently dropped by the client-side re-check: the option-sourced
    contract is caseless on both sides, like the topic0 comparison (and like
    the chain's 20-byte address compare)."""
    checksummed = "0xA0b86991c6218b36c1d19D4a2e9Eb0cE3606eB48"
    row = (checksummed, [TRANSFER_TOPIC0], b"\x00" * 32, 5, 0, "0xabc", False)
    tbl = pa.Table.from_pylist([dict(zip(bs._COLS, row))], schema=bs._arrow_schema())
    out = bs._post_filter(
        tbl, ((checksummed.lower(), TRANSFER_TOPIC0),), fail_on_removed=True,
        address_exact=False,
    )
    assert [tuple(r.values()) for r in out.to_pylist()] == [row]
    # pushdown-sourced stays verbatim: a case mismatch is NOT matched
    out_exact = bs._post_filter(
        tbl, ((checksummed.lower(), TRANSFER_TOPIC0),), fail_on_removed=True,
        address_exact=True,
    )
    assert out_exact.num_rows == 0


def test_block_number_null_result_is_rpc_error(monkeypatch):
    """A null/malformed eth_blockNumber result surfaces as RpcError (the
    deterministic protocol class), not a raw TypeError that would bypass the
    transient/deterministic retry classification."""
    f = JsonRpcLogFetcher("http://127.0.0.1:9")
    for bad in (None, 123, "not-hex"):
        monkeypatch.setattr(
            JsonRpcLogFetcher, "_call", lambda self, m, p, _bad=bad: _bad
        )
        with pytest.raises(RpcError) as ei:
            f.block_number()
        assert not isinstance(ei.value, TransientRpcError)


def test_factory_unbounded_to_block_tails_head(spark, node):
    """StreamFactory without to_block must read to the chain head (the
    unbounded/head-following default), not silently cap at block 0."""
    from eth_event_stream_spark.sources.factory import StreamFactory
    from eth_event_stream_spark.sources.fixtures import ADDR_B, TRANSFER_DECL

    fx, n = node
    factory = StreamFactory(
        spark, rpc_url=n.url, from_block=fx.from_block, block_step=40
    )
    factory.make(ADDR_A, TRANSFER_DECL)
    factory.make(ADDR_B, TRANSFER_DECL)
    merged = factory.sink(streaming=False, fail_on_removed=False)
    assert merged.count() == fx.total_events


def test_batch_read_over_rpc_golden_count(spark, node):
    """The reference's golden-count integration test over the LIVE transport:
    chunked eth_getLogs through Spark executors reproduces the fixture's
    count, identically to the parquet transport (stream.rs:371 analog)."""
    fx, n = node
    register_source(spark)
    df = (
        spark.read.format("eth_logs")
        .option("rpc_url", n.url)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("block_step", 20)  # several eth_getLogs chunks
        .option("address", ADDR_A.upper().replace("0X", "0x"))  # option -> lowercased
        .option("topic0", TRANSFER_TOPIC0)
        .option("fail_on_removed", "false")
        .load()
    )
    n_rows = df.dropDuplicates(["block_number", "log_index"]).count()
    assert n_rows == fx.golden_count_a
    assert n.calls.count("eth_getLogs") >= 5  # genuinely chunked


def test_factory_fan_in_over_rpc(spark, node):
    """S8 over the live transport: a two-stream factory (USDC+USDT analogs)
    pointed at the node URL drains both signatures through the shared sink
    with per-stream server-side filters — the reference's flagship wiring
    (examples/stream_multi.rs:90-106) against real eth_getLogs calls."""
    from eth_event_stream_spark.sources.factory import StreamFactory
    from eth_event_stream_spark.sources.fixtures import ADDR_B, TRANSFER_DECL

    fx, n = node
    factory = StreamFactory(
        spark,
        rpc_url=n.url,
        from_block=fx.from_block,
        to_block=fx.to_block,
        confirmation_blocks=0,
        block_step=40,
    )
    a = factory.make(ADDR_A, TRANSFER_DECL)
    factory.make(ADDR_B, TRANSFER_DECL)
    merged = factory.sink(streaming=False, fail_on_removed=False)
    per_sig = {
        r["sig"]: r["n"]
        for r in merged.groupBy("sig").count().withColumnRenamed("count", "n").collect()
    }
    assert per_sig[a.signature] == fx.golden_count_a
    assert len(per_sig) == 2 and all(v > 0 for v in per_sig.values())
    assert merged.count() == fx.total_events


def test_factory_fan_in_pairs_sharing_an_address(spark):
    """Two pairs on one address (Transfer and Approval of contract A) plus
    a second contract: one eth_getLogs per pair per chunk, and each stream's
    rows come back once under its own signature."""
    from eth_event_stream_spark.functions.schema import parse_event_declaration
    from eth_event_stream_spark.sources.factory import StreamFactory
    from eth_event_stream_spark.sources.fixtures import ADDR_B, TRANSFER_DECL

    fx = generate_eth_logs()
    approval = "Approval(address indexed owner, address indexed spender, uint value)"
    approval_topic0 = parse_event_declaration(approval).topic0
    live_a = [r for r in fx.rows if r["address"] == ADDR_A and not r["removed"]]
    approvals = [
        dict(r, topics=[approval_topic0, *r["topics"][1:]], log_index=r["log_index"] + 1000)
        for r in live_a[::5]
    ]
    n = _FakeNode(fx.rows + approvals + approvals[:1], head=fx.to_block)  # one fetched twice
    try:
        factory = StreamFactory(
            spark, rpc_url=n.url, from_block=fx.from_block, to_block=fx.to_block,
            confirmation_blocks=0, block_step=40,
        )
        a = factory.make(ADDR_A, TRANSFER_DECL)
        ap = factory.make(ADDR_A.upper().replace("0X", "0x"), approval)
        b = factory.make(ADDR_B, TRANSFER_DECL)
        merged = factory.sink(fail_on_removed=False)
        per_sig = {
            r["sig"]: r["n"]
            for r in merged.groupBy("sig").count().withColumnRenamed("count", "n").collect()
        }
    finally:
        n.stop()
    assert per_sig == {
        a.signature: fx.golden_count_a,
        ap.signature: len({(r["block_number"], r["log_index"]) for r in approvals}),
        b.signature: fx.total_events - fx.golden_count_a,
    }
    chunks = len(bs._chunks(fx.from_block, fx.to_block + 1, 40))
    assert n.calls.count("eth_getLogs") == 3 * chunks


def test_factory_tail_one_offset_for_every_stream(spark, tmp_path):
    """A two-stream factory tail against a node whose head moves on every
    eth_blockNumber call: each micro-batch has one source, so one head
    call per trigger ends every stream at the same block, and no block's
    logs are split across two micro-batches."""
    from eth_event_stream_spark.sources.factory import StreamFactory
    from eth_event_stream_spark.sources.fixtures import ADDR_B, TRANSFER_DECL

    fx = generate_eth_logs()
    n = _FakeNode(fx.rows, head=fx.from_block + 3, head_step=20)
    seen: dict[int, list[tuple]] = {}
    try:
        factory = StreamFactory(
            spark, rpc_url=n.url, from_block=fx.from_block, to_block=fx.to_block,
            confirmation_blocks=0,
        )
        factory.make(ADDR_A, TRANSFER_DECL)
        factory.make(ADDR_B, TRANSFER_DECL)
        q = (
            factory.sink(streaming=True, fail_on_removed=False)
            .writeStream.foreachBatch(
                lambda df, epoch: seen.setdefault(
                    epoch, [(r["sig"], r["block_number"]) for r in df.select("sig", "block_number").collect()]
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["batchId"] in seen]
        finally:
            q.stop()
    finally:
        n.stop()
    assert all(len(p["sources"]) == 1 for p in progress)

    def offset_block(offset: str) -> int:  # the first batch starts at no offset
        return (ast.literal_eval(offset) or {"block": fx.from_block})["block"]

    ranges = [
        (offset_block(p["sources"][0]["startOffset"]), offset_block(p["sources"][0]["endOffset"]))
        for p in progress
    ]
    # the i-th trigger ends where the i-th head call put it
    assert [hi for _, hi in ranges] == [min(h + 1, fx.to_block + 1) for h in n.heads[: len(ranges)]]
    assert len(ranges) >= 5 and ranges[-1][1] == fx.to_block + 1
    assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
    batch_of: dict[int, set] = {}
    for (lo, hi), p in zip(ranges, progress):
        for _, block in seen[p["batchId"]]:
            assert lo <= block < hi
            batch_of.setdefault(block, set()).add(p["batchId"])
    assert batch_of and all(len(ids) == 1 for ids in batch_of.values())
    assert sum(len(rows) for rows in seen.values()) == fx.total_events


def test_stream_live_tail_follows_rpc_head(spark, node, tmp_path):
    """S3/S4 live semantics on the live transport: with the node's head
    BELOW to_block, the stream drains only up to head − confirmation_blocks
    (the confirmation lag); when the head advances, the next drain picks up
    exactly the newly-safe blocks — the historical→live unification the
    reference sells, driven by eth_blockNumber."""
    fx, n = node
    register_source(spark)
    mid = fx.from_block + 40
    confirmations = 2
    real_head = n.head
    n.head = mid  # chain has only advanced to mid so far
    try:
        stream = (
            spark.readStream.format("eth_logs")
            .option("rpc_url", n.url)
            .option("from_block", fx.from_block)
            .option("to_block", fx.to_block)
            .option("block_step", 15)
            .option("confirmation_blocks", confirmations)
            .option("fail_on_removed", "false")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rpc_live_sink")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_live"))
            .start()
        )
        try:
            q.processAllAvailable()
            got1 = spark.table("rpc_live_sink")
            max1 = got1.agg(F.max("block_number")).collect()[0][0]
            n_below_frontier = got1.count()
            assert max1 <= mid - confirmations  # lag respected
            assert max1 > fx.from_block  # and something was ingested

            n.head = real_head  # the chain advances
            q.processAllAvailable()
            got2 = spark.table("rpc_live_sink")
            max2 = got2.agg(F.max("block_number")).collect()[0][0]
            assert max2 > max1  # tail followed the head
            assert max2 <= min(fx.to_block, real_head - confirmations)
            # the frontier is exclusive: the second drain added only blocks
            # PAST the first frontier — nothing below it was re-ingested
            # (the fixture itself plants same-key duplicates, so the check
            # is on the frontier, not global key uniqueness)
            assert (
                got2.filter(F.col("block_number") <= max1).count()
                == n_below_frontier
            )
        finally:
            q.stop()
    finally:
        n.head = real_head


def test_stream_read_over_rpc_golden_count(spark, node, tmp_path):
    """Historical drain over RPC as a bounded stream: processAllAvailable
    (the bounded-drain barrier — see test_available_now_incremental_runs for
    why a single availableNow run is one chunk) drains [from_block,
    to_block] via per-trigger eth_getLogs chunks, head from eth_blockNumber,
    and matches the batch count exactly (S4 unification on the live path)."""
    fx, n = node
    register_source(spark)
    stream = (
        spark.readStream.format("eth_logs")
        .option("rpc_url", n.url)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("block_step", 30)
        .option("confirmation_blocks", 0)
        .option("address", ADDR_A)
        .option("topic0", TRANSFER_TOPIC0)
        .option("fail_on_removed", "false")
        .load()
    )
    q = (
        stream.dropDuplicates(["block_number", "log_index"])
        .writeStream.format("memory")
        .queryName("rpc_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_rpc"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.table("rpc_stream_sink").count() == fx.golden_count_a
    assert n.calls.count("eth_blockNumber") >= 1


def test_block_notify_watch_semantics(node):
    """BlockNotify (data_feed/block.rs analog): late subscribers see the
    current head immediately, wait_for blocks until the chain reaches a
    target, and the head is monotonic across node regressions."""
    from eth_event_stream_spark.sources.notify import BlockNotify

    fx, n = node
    real_head = n.head
    feed = BlockNotify(n.url, poll_interval_s=0.02)
    try:
        got = feed.wait_for(real_head, timeout_s=10.0)
        assert got >= real_head
        # late joiner: latest() is immediately available, no waiting
        assert feed.latest() >= real_head
        # a node answering with a LOWER height must not move the head back
        n.head = real_head - 50
        import time

        time.sleep(0.1)
        assert feed.latest() >= real_head
        # the chain advances: the feed follows
        n.head = real_head + 7
        assert feed.wait_for(real_head + 7, timeout_s=10.0) >= real_head + 7
    finally:
        n.head = real_head
        feed.stop()


def test_block_notify_reconnects_through_transient_failures(node):
    """The reconnect-forever contract (block.rs:25-26): a burst of transient
    HTTP 500s is retried with backoff and the feed keeps serving."""
    from eth_event_stream_spark.sources.notify import BlockNotify

    fx, n = node
    n.fail_next = 3
    feed = BlockNotify(n.url, poll_interval_s=0.02, retry_base_s=0.001)
    try:
        assert feed.wait_for(n.head, timeout_s=10.0) >= n.head
        assert feed.error is None
    finally:
        feed.stop()


def test_block_notify_wait_timeout(node):
    from eth_event_stream_spark.sources.notify import BlockNotify

    fx, n = node
    feed = BlockNotify(n.url, poll_interval_s=0.02)
    try:
        with pytest.raises(TimeoutError):
            feed.wait_for(n.head + 10**6, timeout_s=0.3)
    finally:
        feed.stop()
