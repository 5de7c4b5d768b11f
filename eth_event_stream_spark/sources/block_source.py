"""Custom Spark data source with the reference ``Stream`` semantics.

Re-expresses /root/reference/eth_event_stream/src/stream.rs as a Spark 4
Python ``DataSource`` over a log table (parquet) standing in for the chain:

- offsets ARE the block frontier (S9/B3): ``latestOffset`` advances to
  ``min(to_block, head - confirmation_blocks)`` (S3, confirmation lag;
  default 2 = stream.rs:116) even when the range holds no rows — empty
  chunks still move the watermark, exactly the reference's punctuation
  (put_multiple end_block, sink.rs:253-263).
- per-trigger advance is capped at ``block_step`` blocks (S2 chunking;
  default 1000 = stream.rs:119), and every read — batch or micro-batch —
  splits into one task per ``block_step`` range aligned to absolute
  ``block_step`` multiples (``_chunks``) — Spark parallelizes what the
  reference fetches sequentially (stream.rs:214-226).
- one source serves every stream of a ``StreamFactory``: the ``streams``
  option lists its ``(address, topic0)`` pairs, so one offset (one head
  call per trigger) covers all of them and each micro-batch is one block
  range ``[start, end)`` for every stream — the reference's
  min-of-per-source-maxima watermark (sink.rs:187-197) by construction.
  A ``streams`` read is also the Sink's upsert (B4, sink.rs:280-296): it
  returns each ``(address, topic0, block_number, log_index)`` once. A
  chunk never crosses a ``block_step`` multiple and each block lies in
  exactly one chunk, so the per-chunk dedup is global and keeps no state.
- ``removed`` logs fail the read by default (S7 reorg policy,
  stream.rs:174-181); ``fail_on_removed=false`` drops them instead.
- a bounded ``[from_block, to_block]`` plus ``Trigger.AvailableNow`` is the
  historical drain; an open ``to_block`` is the live tail (S4 unification).

The chain head is ``max(block_number)`` in the backing table, read from
parquet footer statistics only (no data scan) — the analog of the
``BlockNotify`` newHeads subscription (S5, data_feed/block.rs).

Two interchangeable transports behind the same options/semantics:
``path`` reads a parquet log table, one file or a directory of them (the
deterministic test stand-in), and ``rpc_url`` talks live JSON-RPC
(``eth_getLogs`` per pair per chunk + ``eth_blockNumber`` for the head —
sources/rpc.py, the reference's real I/O). Both readers share one read
path: ``_Options`` parses the options once, ``_chunks`` cuts the range,
``_fetch_chunk`` runs the transport calls under ``_with_retry`` (S6) and
returns a ``pyarrow.Table``, and ``_post_filter`` applies the caseless
pair re-check, the reorg policy and a ``streams`` read's upsert with
``pyarrow.compute``. The chunk is cast to ``ETH_LOG_SCHEMA``'s Arrow form
and handed to Spark as ``RecordBatch``es, so no row is ever a Python
object on the parquet path.

Batch and stream do not run identically everywhere. ``read_parquet_logs``
compiles a bounded read of a parquet ``path`` into Spark's native parquet
scan plus Catalyst predicates (and one ``dropDuplicates`` for the upsert),
with the same rows, columns and types as the Python batch reader;
``StreamFactory`` uses it for every batch read of a ``path``, so a
historical drain starts no Python planner or worker. Its differences:
``pushdown``, ``block_step`` and ``retry_*`` do nothing (Spark pushes WHERE
clauses into its own scan, partitions follow file splits, Spark retries
I/O), a reorg surfaces as Spark's ``raise_error`` with the same message
rather than as ``ReorgError``, and which of two differing rows with one
upsert key survives is not defined. The Python source stays the reference
for it and serves streaming, JSON-RPC and direct ``format("eth_logs")``
reads.
"""

from __future__ import annotations

import functools
import json
import time
import weakref
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# module-level (not function-local) so cloudpickle's by-value registration
# (shipping._register_by_value) captures the rpc module alongside this one:
# the streaming planner worker unpickles the reader before any pyFiles are
# on its path, and a lazy `from .rpc import ...` there would
# ModuleNotFoundError
from .rpc import JsonRpcLogFetcher, TransientRpcError

# pyarrow is imported where a chunk is read, not at module import: the
# planner workers that unpickle the readers never touch Arrow data, and
# importing pyarrow.compute and pyarrow.parquet adds ~34 MB of RSS to each
if TYPE_CHECKING:
    import pyarrow as pa

ETH_LOG_SCHEMA = StructType(
    [
        StructField("address", StringType()),
        StructField("topics", ArrayType(StringType())),
        StructField("data", BinaryType()),
        StructField("block_number", LongType()),
        StructField("log_index", LongType()),
        StructField("transaction_hash", StringType()),
        StructField("removed", BooleanType()),
    ]
)

_COLS = [f.name for f in ETH_LOG_SCHEMA.fields]


@functools.cache
def _arrow_schema() -> pa.Schema:
    """ETH_LOG_SCHEMA in Arrow form. PySpark checks only the names and
    count of returned RecordBatch columns, not their types, so every chunk
    is cast to this before it leaves ``read``."""
    return to_arrow_schema(ETH_LOG_SCHEMA)


@dataclass(frozen=True)
class _Options:
    """The ``eth_logs`` options, parsed once for either reader.

    ``pairs`` is the one log filter: ``(address, topic0)`` pairs, a row
    matching any of them. A ``streams`` option (a JSON list of
    ``[address, topic0]``, a factory's registrations) gives them,
    lowercased and deduplicated, and makes the read an ``upsert``; the
    ``address``/``topic0`` options give one pair (either may be absent)
    and a raw read."""

    path: str | None
    rpc_url: str | None
    from_block: int
    to_block: int | None
    confirmations: int
    block_step: int
    pairs: tuple[tuple[str | None, str | None], ...]  # None matches any value
    upsert: bool
    fail_on_removed: bool
    pushdown: bool
    retry_attempts: int
    retry_base_s: float

    @classmethod
    def parse(cls, options: dict) -> _Options:
        if options.get("path") is None and options.get("rpc_url") is None:
            raise ValueError("eth_logs source needs a 'path' or 'rpc_url' option")
        upsert = options.get("streams") is not None
        if upsert:
            if options.get("address") is not None or options.get("topic0") is not None:
                raise ValueError("eth_logs takes 'streams' or 'address'/'topic0', not both")
            pairs = tuple(
                dict.fromkeys((a.lower(), t.lower()) for a, t in json.loads(options["streams"]))
            )
            if not pairs:
                raise ValueError("eth_logs 'streams' lists no (address, topic0) pair")
        else:
            pairs = ((options.get("address"), options.get("topic0")),)
        return cls(
            path=options.get("path"),
            rpc_url=options.get("rpc_url"),
            from_block=int(options.get("from_block", 0)),
            to_block=int(options["to_block"]) if "to_block" in options else None,
            confirmations=int(options.get("confirmation_blocks", 2)),
            block_step=int(options.get("block_step", 1000)),
            pairs=pairs,
            upsert=upsert,
            fail_on_removed=str(options.get("fail_on_removed", "true")).lower() == "true",
            pushdown=str(options.get("pushdown", "false")).lower() == "true",
            retry_attempts=int(options.get("retry_attempts", 4)),
            retry_base_s=float(options.get("retry_base_ms", 10)) / 1000.0,
        )

    @property
    def address(self) -> str | None:
        """The address of a one-pair read, as given."""
        return self.pairs[0][0] if len(self.pairs) == 1 else None


def read_parquet_logs(spark, options: dict) -> DataFrame:
    """The bounded ``eth_logs`` read of a parquet ``path`` as a native
    parquet scan plus Catalyst predicates: the same rows, columns and types
    as ``spark.read.format("eth_logs").options(**options).load()``, with no
    Python planner, worker or per-chunk task.

    - blocks ``[from_block, to_block]``, with ``to_block`` defaulting to the
      chain head; ``confirmation_blocks`` is not applied, as in
      ``EthLogBatchReader``;
    - a pair's address matches ``lower(address)`` exactly, as the parquet
      transport's pushed filter does, and the read's addresses form one
      ``IN`` that Spark pushes into its one scan;
    - a pair's topic0 matches the first topic caselessly; rows with null or
      empty ``topics`` cannot match;
    - a null ``removed`` counts as not removed and stays null; a removed
      row that matches a pair fails the read (``fail_on_removed``, one
      ``CASE`` over the match, so it cannot fire on a row the filter drops)
      or is dropped;
    - a ``streams`` read then keeps one row per ``(address,
      lower(topics[0]), block_number, log_index)``: one ``dropDuplicates``.

    ``pushdown``, ``block_step`` and ``retry_*`` have no effect here: Spark
    pushes WHERE clauses into its own scan, partitions follow file splits,
    and Spark retries I/O itself."""
    o = _Options.parse(options)
    hi = o.to_block if o.to_block is not None else _block_bounds(o.path)[1]
    df = spark.read.schema(_stored_schema(o.path)).parquet(o.path).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in ETH_LOG_SCHEMA.fields]
    )
    block, address = F.col("block_number"), F.col("address")
    topic0 = F.lower(F.get(F.col("topics"), 0))
    match = (block >= o.from_block) & (block <= hi)
    if all(a is not None for a, _ in o.pairs):
        match = match & address.isin(sorted({a.lower() for a, _ in o.pairs}))
    pair_match = F.lit(False)
    for a, t in o.pairs:
        m = F.lit(True)
        if a is not None:
            m = m & (address == F.lit(a.lower()))
        if t is not None:
            m = m & (topic0 == F.lit(t.lower()))
        pair_match = pair_match | m
    match = match & pair_match
    removed = F.coalesce(F.col("removed"), F.lit(False))
    if not o.fail_on_removed:
        out = df.filter(match & ~removed)
    else:
        reorg = F.raise_error(
            F.concat(
                F.lit("removed log at block "),
                block.cast("string"),
                F.lit(" — increase confirmation_blocks"),
            )
        )
        # `match` stands alone as well so its range and addresses reach the scan
        out = df.filter(match & F.when(match & removed, reorg).otherwise(match))
    if not o.upsert:
        return out
    key = ["address", "_topic0", "block_number", "log_index"]
    return out.withColumn("_topic0", topic0).dropDuplicates(key).drop("_topic0")


@dataclass
class BlockRangePartition(InputPartition):
    """One fetch chunk: blocks [lo, hi) — the reference's eth_getLogs call.

    ``address``, when set, stands in for every pair's address in this
    chunk's read: a one-pair read's option address, or the pushdown-sourced
    one. It rides on the partition so ``read`` never consults reader state
    that query-scoped filter pushdown may have touched. ``address_exact``
    marks a pushdown-sourced address, matched VERBATIM (Spark re-evaluates
    the predicate post-scan with its own case semantics); an option-sourced
    address is normalized to lowercase (the source's documented contract,
    matching how the chain stores them)."""

    lo: int
    hi: int
    address: str | None = None
    address_exact: bool = False


class ReorgError(Exception):
    """A removed (reorged) log was observed below the confirmation frontier."""


def _next_boundary(block: int, step: int) -> int:
    """The first absolute ``step`` multiple above ``block``."""
    return (block // step + 1) * step


def _chunks(
    lo: int, hi: int, step: int, address: str | None = None, address_exact: bool = False
) -> list[BlockRangePartition]:
    """Blocks [lo, hi) cut on absolute ``step`` multiples: the first chunk
    may be short, every later one ends on a multiple. Alignment makes a
    replayed read map exactly onto block-bucket partition overwrite
    downstream (sinks.write_block_partitioned with bucket_blocks ==
    block_step) — idempotent file output for free.

    An empty range yields one empty sentinel chunk, never ``[]``: PySpark
    substitutes ``[None]`` for an empty partition list and calls
    ``read(None)``."""
    if hi <= lo:
        return [BlockRangePartition(lo, lo, address, address_exact)]
    bounds = [lo, *range(_next_boundary(lo, step), hi, step), hi]
    return [
        BlockRangePartition(a, b, address, address_exact)
        for a, b in zip(bounds, bounds[1:])
    ]


def _block_bounds(path: str) -> tuple[int, int]:
    """(first, last) block_number of the table from the row-group
    statistics of every file (no data scan); ``path`` is one parquet file
    or a directory of them."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    stats = [
        rg.statistics.get("block_number")
        for frag in dataset.get_fragments()
        for rg in frag.row_groups
    ]
    if not stats or None in stats:  # stats missing: scan the one column
        mm = pc.min_max(dataset.to_table(columns=["block_number"])[0])
        return int(mm["min"].as_py()), int(mm["max"].as_py())
    return int(min(st["min"] for st in stats)), int(max(st["max"] for st in stats))


def _stored_schema(path: str) -> StructType:
    """The ``ETH_LOG_SCHEMA`` columns with the types the parquet footer
    stores, read on the driver: handed to ``spark.read.schema``, it spares
    the one-task job Spark runs to infer a parquet schema."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_type

    stored = ds.dataset(path, format="parquet").schema
    return StructType(
        [StructField(n, from_arrow_type(stored.field(n).type)) for n in _COLS if n in stored.names]
    )


def _head_of(o: _Options) -> int:
    """Chain head from whichever backend is configured: parquet footer
    stats (the test stand-in) or a live eth_blockNumber call (S5)."""
    if o.rpc_url is not None:
        return JsonRpcLogFetcher(o.rpc_url).block_number()
    return _block_bounds(o.path)[1]


def _start_of(o: _Options) -> int:
    """The first block to read: ``from_block``, raised on parquet to the
    start of the ``block_step`` chunk that holds the table's first block.
    A read from the default 0 then cuts no chunk wholly below the table,
    and every other chunk keeps its bounds. A JSON-RPC node keeps
    ``from_block``: genesis is a real range there."""
    if o.rpc_url is not None:
        return o.from_block
    first = _block_bounds(o.path)[0]
    return max(o.from_block, first - first % o.block_step)


def _fetch_table(path: str, flt: list) -> pa.Table:
    """The one I/O call of a parquet range fetch — the retry unit (and the
    seam tests use to inject transient failures)."""
    import pyarrow.parquet as pq

    return pq.read_table(path, filters=flt)


def _with_retry(call, transient: type[Exception], attempts: int, base_s: float):
    """Exponential-backoff retry around one transport call — the
    reference's S6 policy (stream.rs:148-155, data_feed/block.rs:25-26:
    10 ms base, doubling). ``attempts`` counts TOTAL calls (4 by default);
    the reference's ``Retry::spawn`` with ``.take(4)`` performs an initial
    call plus 4 retries = 5 total — an intentional off-by-one difference
    kept because "4 attempts" reads as 4 calls in options. Re-raises the
    last error once attempts are exhausted.

    Only ``transient`` errors are retried: ``OSError`` for parquet (covers
    pyarrow.lib.ArrowIOError), ``TransientRpcError`` for JSON-RPC.
    Deterministic failures surface immediately without backoff: anything
    else (bad filter, schema mismatch, node protocol errors) and
    FileNotFoundError — an OSError subclass, but a missing path never
    heals, so burning the backoff budget on it only delays the report."""
    attempt = 0
    while True:
        try:
            return call()
        except FileNotFoundError:
            raise
        except transient:
            attempt += 1
            if attempt >= attempts:
                raise
            time.sleep(base_s * (2 ** (attempt - 1)))


def _fetch_chunk(o: _Options, lo: int, hi: int, pairs: tuple) -> pa.Table:
    """Logs in [lo, hi) for every pair from the configured transport, with
    source-side filtering: one parquet scan pushes the block range and the
    pairs' addresses (an ``in`` filter) to row groups; JSON-RPC sends one
    ``eth_getLogs`` per pair (the reference's S1 call, stream.rs:159-183),
    whose address and topic0 the node evaluates (stream.rs:94-102), each
    call retried on its own. Columns come back in whatever physical types
    the store holds."""
    import pyarrow as pa

    if o.rpc_url is not None:
        fetcher = JsonRpcLogFetcher(o.rpc_url)
        rows = [
            row
            for address, topic0 in pairs
            for row in _with_retry(
                lambda: fetcher.get_logs(lo, hi - 1, address=address, topic0=topic0),
                TransientRpcError,
                o.retry_attempts,
                o.retry_base_s,
            )
        ]
        cols = list(zip(*rows)) or [()] * len(_COLS)
        schema = _arrow_schema()
        return pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )
    flt = [("block_number", ">=", lo), ("block_number", "<", hi)]
    if all(a is not None for a, _ in pairs):
        flt.append(("address", "in", sorted({a for a, _ in pairs})))
    return _with_retry(
        lambda: _fetch_table(o.path, flt), OSError, o.retry_attempts, o.retry_base_s
    )


def _first_topic(topics) -> pa.ChunkedArray:
    """``topics[0]``, null where ``topics`` is null or empty."""
    import pyarrow.compute as pc

    return pc.list_element(pc.list_slice(topics, 0, 1, return_fixed_size_list=True), 0)


def _post_filter(
    tbl: pa.Table,
    pairs: tuple,
    fail_on_removed: bool,
    address_exact: bool = False,
    upsert: bool = False,
) -> pa.Table:
    """Client-side re-check shared by both transports, vectorised: a row
    must match one pair. A pair's address is compared verbatim when
    pushdown-sourced (``address_exact``) and caselessly on BOTH sides
    otherwise, like the chain's 20-byte compare, so a node returning EIP-55
    checksummed addresses still matches; its topic0 is compared caselessly
    with the first topic, so rows with null or empty ``topics`` cannot
    match. Then the S7 reorg policy on ``removed`` (null counts as not
    removed), then for an ``upsert`` one row per ``(lower(address),
    lower(topics[0]), block_number, log_index)``, the first fetched."""
    import pyarrow as pa
    import pyarrow.compute as pc

    address = tbl["address"] if address_exact else pc.utf8_lower(tbl["address"])
    topic0 = pc.utf8_lower(_first_topic(tbl["topics"]))
    keep = pa.scalar(False)
    for a, t in pairs:
        m = pa.scalar(True)
        if a is not None:
            m = pc.and_kleene(m, pc.equal(address, a if address_exact else a.lower()))
        if t is not None:
            m = pc.and_kleene(m, pc.equal(topic0, t.lower()))
        keep = pc.or_kleene(keep, m)
    if not isinstance(keep, pa.Scalar):  # a (None, None) pair keeps every row
        tbl = tbl.filter(keep)
    removed = pc.fill_null(tbl["removed"], False)
    if fail_on_removed and pc.any(removed).as_py():
        block = tbl["block_number"].filter(removed)[0].as_py()
        raise ReorgError(f"removed log at block {block} — increase confirmation_blocks")
    tbl = tbl.filter(pc.invert(removed))
    if not upsert:
        return tbl
    keys = pa.table(
        {
            "address": pc.utf8_lower(tbl["address"]),
            "topic0": pc.utf8_lower(_first_topic(tbl["topics"])),
            "block_number": tbl["block_number"],
            "log_index": tbl["log_index"],
            "row": pa.array(range(tbl.num_rows), pa.int64()),
        }
    )
    first = keys.group_by(keys.column_names[:4], use_threads=False).aggregate([("row", "min")])
    return tbl.take(first["row_min"])


def _read_range(
    o: _Options, lo: int, hi: int, address: str | None = None, address_exact: bool = False
) -> pa.Table:
    """One chunk, fetched, cast to ``ETH_LOG_SCHEMA`` and post-filtered. A
    partition's ``address`` replaces every pair's address. Option-sourced
    addresses are lowercased for the transport (source contract); a
    pushdown-sourced one (``address_exact``) is sent verbatim so the pushed
    predicate is semantically identical to the declined one."""
    pairs = o.pairs if address is None else tuple((address, t) for _, t in o.pairs)
    send = tuple((a if a is None or address_exact else a.lower(), t) for a, t in pairs)
    tbl = _fetch_chunk(o, lo, hi, send).select(_COLS).cast(_arrow_schema())
    return _post_filter(tbl, pairs, o.fail_on_removed, address_exact, o.upsert)


class _EthLogReader:
    """What the batch and stream readers share: the parsed options and the
    chunk read."""

    def __init__(self, options: dict):
        self.opts = _Options.parse(options)

    def read(self, partition: BlockRangePartition) -> Iterator[pa.RecordBatch]:
        # the empty-range sentinel yields nothing (and so does a None
        # partition, should a PySpark version hand one through anyway)
        if partition is None or partition.hi <= partition.lo:
            return
        yield from _read_range(
            self.opts, partition.lo, partition.hi, partition.address, partition.address_exact
        ).to_batches()


class EthLogStreamReader(_EthLogReader, DataSourceStreamReader):
    def __init__(self, options: dict):
        super().__init__(options)
        self._start = self._current = _start_of(self.opts)

    # offsets are dicts {"block": next_unread_block}
    def initialOffset(self) -> dict:
        return {"block": self._start}

    def latestOffset(self) -> dict:
        o = self.opts
        safe = _head_of(o) - o.confirmations  # S3 confirmation lag
        if o.to_block is not None:
            safe = min(safe, o.to_block)
        # per-trigger cap (S2), aligned like _chunks: a micro-batch never
        # crosses an absolute block_step multiple
        nxt = min(safe + 1, _next_boundary(self._current, o.block_step))
        self._current = max(nxt, self._current)  # never regress
        return {"block": self._current}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["block"], end["block"]
        # restart fast-forward: `start` comes from the committed offset log;
        # never let the in-memory frontier lag behind it (otherwise a restart
        # pays one empty catch-up batch per block_step chunk)
        self._current = max(self._current, lo, hi)
        return _chunks(lo, hi, self.opts.block_step, self.opts.address)

    def commit(self, end: dict) -> None:
        pass  # offset log persistence is Spark's checkpoint


class EthLogBatchReader(_EthLogReader, DataSourceReader):
    """Bounded historical read (the stream_historical_logs drain) as a batch
    scan: one task per block_step chunk, same pushdown."""

    # per-query pushdown: (lo, hi, addr, addr_is_pushed)
    _pending: tuple[int, int | None, str | None, bool] | None = None

    def pushFilters(self, filters: list[Filter]):
        """V2-style predicate pushdown (SupportsPushDownFilters analog —
        SURVEY §4): ``WHERE`` clauses on block_number tighten the scanned
        range and an address equality narrows the pyarrow scan, WITHOUT the
        caller threading them through reader options. Anything else is
        returned for Spark to evaluate post-scan.

        Opt-in via ``option("pushdown", "true")`` with a one-query-per-load
        contract: Spark caches the planned (pushed) scan on the shared
        relation node, so a SIBLING DataFrame derived from the same load()
        would silently reuse this query's narrowed scan (verified: an
        unfiltered sibling returned the filtered row set; a fresh load() is
        always clean — each planning worker builds a fresh reader, the
        caching is JVM-side). Default off = always safe."""
        if not self.opts.pushdown:
            return filters  # decline everything; Spark evaluates post-scan
        o = self.opts
        lo, hi, addr = o.from_block, o.to_block, o.address
        addr_pushed = False
        remaining: list[Filter] = []
        for f in filters:
            col = f.attribute[0] if isinstance(f.attribute, tuple) else f.attribute
            if col == "block_number" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo)
            ):
                v = int(f.value)
                if isinstance(f, GreaterThan):
                    lo = max(lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    lo = max(lo, v)
                elif isinstance(f, LessThan):
                    hi = v - 1 if hi is None else min(hi, v - 1)
                elif isinstance(f, LessThanOrEqual):
                    hi = v if hi is None else min(hi, v)
                else:  # EqualTo
                    lo = max(lo, v)
                    hi = v if hi is None else min(hi, v)
            elif col == "address" and isinstance(f, EqualTo) and addr is None and not o.upsert:
                # narrow the scan with the VERBATIM value but keep the filter
                # in `remaining`: Spark re-evaluates it post-scan, so pushed
                # semantics are identical to declined semantics (an
                # option-style .lower() here would silently match rows the
                # vanilla predicate rejects, and vice versa). A `streams`
                # read keeps its pairs' own addresses.
                addr = str(f.value)
                addr_pushed = True
                remaining.append(f)
            else:
                remaining.append(f)
        self._pending = (lo, hi, addr, addr_pushed)
        return remaining

    def partitions(self):
        o = self.opts
        if self._pending is not None:
            lo, to_b, addr, addr_exact = self._pending
            self._pending = None  # consumed: next (filterless) query is clean
        else:
            lo, to_b, addr, addr_exact = o.from_block, o.to_block, o.address, False
        # pushed predicates can narrow the range to empty (e.g.
        # block_number = 5 with from_block = 10): _chunks returns the sentinel
        hi = (to_b if to_b is not None else _head_of(o)) + 1
        return _chunks(max(lo, _start_of(o)), hi, o.block_step, addr, addr_exact)


class EthLogDataSource(DataSource):
    """``spark.read.format("eth_logs")`` / ``spark.readStream.format("eth_logs")``.

    Options: path OR rpc_url (parquet stand-in vs live JSON-RPC node —
    identical chunking/pushdown/retry/reorg semantics on both transports),
    from_block, to_block, confirmation_blocks=2, block_step=1000, the log
    filter — streams (a JSON list of ``[address, topic0]`` pairs: one read
    for all of them, each ``(address, topic0, block_number, log_index)``
    once) OR address and topic0 (one pair, raw rows) —
    fail_on_removed=true, pushdown=false, retry_attempts=4,
    retry_base_ms=10.
    """

    @classmethod
    def name(cls) -> str:
        return "eth_logs"

    def schema(self) -> StructType:
        return ETH_LOG_SCHEMA

    def reader(self, schema: StructType) -> EthLogBatchReader:
        return EthLogBatchReader(self.options)

    def streamReader(self, schema: StructType) -> EthLogStreamReader:
        return EthLogStreamReader(self.options)


# sessions the source is registered in; a stopped session's entry goes with
# it, and a new session is a new object, so no key is ever reused
_REGISTERED: weakref.WeakSet = weakref.WeakSet()


def register(spark) -> None:
    """Register ``eth_logs`` in ``spark``, once per session: registering
    again re-pickles the source and Spark warns that it was replaced.

    Each session, ``newSession()`` ones included, has its own registry.
    Spark checks a new name against the JVM's active session, which a
    ``newSession()`` does not become, so the registration runs with
    ``spark`` made active and then restores the previous one."""
    if spark in _REGISTERED:
        return
    from ..shipping import ship_package

    ship_package(spark)  # workers must import this module to unpickle the source
    # allow WHERE clauses to reach pushFilters (off by default in Spark 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    jvm_session = spark._jvm.org.apache.spark.sql.classic.SparkSession
    prev = jvm_session.getActiveSession()
    jvm_session.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(EthLogDataSource)
    finally:
        if prev.isDefined():
            jvm_session.setActiveSession(prev.get())
        else:
            jvm_session.clearActiveSession()
    _REGISTERED.add(spark)
