"""StreamFactory — the reference's multi-stream wiring, Spark-first.

Reference shape (/root/reference/eth_event_stream/src/stream.rs:33-90 and
examples/stream_multi.rs:90-106): a factory holds shared range/confirmation/
chunk config; each ``make(address, event)`` registers one (address, topic0)
stream into a shared sink; consumers read block-aligned merged batches.

Spark shape: ``sink()`` is ONE ``eth_logs`` read of every registered
``(address, topic0)`` pair (the ``streams`` option) tagged with each row's
stream signature by ``operators.sync.tag_signature`` — the S8 fan-in —
whose ``sig`` metadata lists every ``make()`` signature through filters,
``persist()`` and micro-batches, so ``flush_including`` emits each
registered stream, one with no logs included. The read itself is the
Sink's idempotent upsert (B4): each ``(sig, block, log_index)`` comes back
once. As a stream it is one source with one offset, so each trigger makes
one head call and each micro-batch covers one block range ``[start, end)``
for every stream: the reference's min-of-per-source-maxima watermark (B2,
sink.rs:187-197) holds by construction, and no streaming dedup state is
kept.

The same options serve ``spark.read`` (historical drain) and
``spark.readStream`` (live tail), the unified API the reference sells
(README.md:15), but they compile to two plans. A batch read of a parquet
``path`` is ``block_source.read_parquet_logs``: one native parquet scan
with the pairs' addresses pushed in as an ``IN``, Catalyst predicates and
one ``dropDuplicates``, with no Python planner or worker. Its differences
from the ``eth_logs`` source it reproduces: ``block_step`` and the retry
options do nothing, and a reorg fails through Spark's ``raise_error`` with
the source's message. A stream, or any read over ``rpc_url``, goes through
the Python ``eth_logs`` source.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..functions.schema import EventSchema, parse_event_declaration
from ..operators.sync import tag_signature
from .block_source import read_parquet_logs
from .block_source import register as _register_source


@dataclass
class StreamHandle:
    address: str
    event: EventSchema

    @property
    def signature(self) -> str:
        """StreamSignature (sink.rs:34-42) as the string key ``addr|topic0``."""
        return f"{self.address.lower()}|{self.event.topic0}"


@dataclass
class StreamFactory:
    """``StreamFactory::new(url, from, to, confirmations, step)`` analog.

    ``path`` reads a parquet log table (the deterministic stand-in);
    ``rpc_url`` talks a live JSON-RPC node (sources/rpc.py) — exactly the
    reference's node URL. Pass one of the two; every stream the factory
    makes shares the transport.
    """

    spark: SparkSession
    path: str | None = None
    from_block: int = 0
    to_block: int | None = None  # None = unbounded: batch reads to head, stream tails
    confirmation_blocks: int = 2  # stream.rs:116 default
    block_step: int = 1000  # stream.rs:119 default
    rpc_url: str | None = None
    streams: list[StreamHandle] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.path is None and self.rpc_url is None:
            raise ValueError("StreamFactory needs a path or rpc_url")
        _register_source(self.spark)

    def make(self, address: str, declaration: str) -> StreamHandle:
        """Register one (address, event) stream (stream.rs:61-83)."""
        handle = StreamHandle(address=address, event=parse_event_declaration(declaration))
        self.streams.append(handle)
        return handle

    def sink(self, streaming: bool = False, fail_on_removed: bool = True) -> DataFrame:
        """The shared sink's input: one read of every registered stream,
        each (sig, block, log_index) once — the B4 idempotent upsert — and
        tagged with ``sig`` (its metadata lists the registered signatures).
        Downstream consumers apply the operators.sync surface (dense flush,
        total order) or decode_event per signature."""
        if not self.streams:
            raise ValueError("no streams registered — call make() first")
        opts = {
            "from_block": self.from_block,
            "confirmation_blocks": self.confirmation_blocks,
            "block_step": self.block_step,
            "streams": json.dumps([[h.address, h.event.topic0] for h in self.streams]),
            "fail_on_removed": str(fail_on_removed).lower(),
        }
        if self.rpc_url is not None:
            opts["rpc_url"] = self.rpc_url
        else:
            opts["path"] = self.path
        if self.to_block is not None:  # omit => unbounded (head-following)
            opts["to_block"] = self.to_block
        if not streaming and "path" in opts:
            df = read_parquet_logs(self.spark, opts)
        else:
            reader = self.spark.readStream if streaming else self.spark.read
            df = reader.format("eth_logs").options(**opts).load()
        return tag_signature(df, [h.signature for h in self.streams])
