"""Stateful reducer API — the reference ``EventReducer`` trait, Spark-first.

The reference folds reducers over dense, block-sorted event batches
(the reference's eth_event_stream/src/sink.rs:125-151: ``reduce(&mut self,
block_number, ordered_events)``), with state living in the reducer struct.

Spark decomposition (SURVEY §7.4.3): ONE contract, ``EventReducer``, whose
``reduce`` folds a block-sorted ``pyarrow.Table``, and two runners that
hand it the same Arrow types (the reference's historical/live
unification). The runners lower algebraic reducers:

- **Algebraic reducers** (sums, counts) also return their fold as Catalyst
  aggregates from ``aggregate()``. Both runners then compile to
  ``groupBy(*key_cols).agg(...)`` — a plain aggregate in batch, a native
  streaming aggregate (state store, update mode) in a stream — with no
  Python worker; the Python fold stays the parity reference.
- **Fold reducers** (``aggregate()`` returns ``None``: order-dependent or
  general state) run the Python fold:
  - batch, ``reduce_events_batch``: ``applyInArrow`` over the key, one
    fold per key from ``init_state()``;
  - stream, ``reduce_events_stream``: ``applyInPandasWithState`` in update
    mode — the only stateful Python API usable here (``transformWithState*``
    needs ``google.protobuf``). Each trigger's rows for a key are converted
    once to Arrow, typed by the input DataFrame's schema.

State is a dict keyed by the ``state_schema`` field names. The harness
stores it as one state row in that field order and restores the dict from
it; a stored row shorter than the schema restores its missing trailing
fields as ``None``, so a field appended to a state schema keeps older
checkpoints restorable.

Limit (PySpark's, not this module's), for fold reducers on the stream
runner only: ``applyInPandasWithState`` hands a BIGINT column that holds a
null among a key's rows of one trigger to Python as float64, so values
above 2^53 arrive rounded before any user code runs; the typed Arrow
conversion cannot restore them. The batch runner and lowered reducers have
no such limit; the fold's state itself round-trips exactly.

State is partitioned by ``key_cols`` — the scale contract: the reference's
single ``Arc<Mutex<State>>`` becomes N independent shards; anything global
must be algebraically mergeable downstream.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


class EventReducer(ABC):
    """Port of the EventReducer trait (sink.rs:125-131), block-batch driven.

    ``reduce`` sees one key's events for a contiguous, sorted span of blocks
    (the reference calls per block; batching blocks per invocation is the
    vectorized equivalent — order within and across calls is preserved).
    """

    @abstractmethod
    def init_state(self) -> dict[str, Any]:
        """Fresh state, keyed by the ``state_schema`` field names."""

    @abstractmethod
    def reduce(self, state: dict[str, Any], events: pa.Table) -> dict[str, Any]:
        """Fold block-sorted events into state; return the new state."""

    @abstractmethod
    def emit(self, key: tuple, state: dict[str, Any]) -> dict[str, Any]:
        """This key's current aggregate as one row keyed by the
        ``output_schema`` field names (the live-monitor read side,
        examples/stream_multi.rs:116-143)."""

    @abstractmethod
    def state_schema(self) -> StructType: ...

    @abstractmethod
    def output_schema(self) -> StructType: ...

    def aggregate(self) -> list[Column] | None:
        """The fold as Catalyst aggregates over the input columns, one per
        non-key ``output_schema`` field in order (the runner names and casts
        them), or ``None``: the fold is not algebraic and runs in Python."""
        return None


def restore_state(names: list[str], row) -> dict[str, Any]:
    """The state dict from a stored state row; fields past the end of a
    shorter (older-schema) row restore as ``None``. (Spark's state-store
    schema check must also accept the widening; where it refuses, the path
    is a fresh checkpoint — the fold replays from the source's block
    frontier.)"""
    row = tuple(row)
    return {n: row[i] if i < len(row) else None for i, n in enumerate(names)}


def _sort_events(events: pa.Table) -> pa.Table:
    keys = [(c, "ascending") for c in ("block_number", "log_index") if c in events.column_names]
    return events.sort_by(keys) if keys else events


def _lower(df: DataFrame, reducer: EventReducer, key_cols: list[str]) -> DataFrame | None:
    """``groupBy(*key_cols).agg(*reducer.aggregate())`` with the keys and
    aggregates renamed and cast to ``output_schema``, or ``None`` for a fold
    reducer."""
    aggs = reducer.aggregate()
    if aggs is None:
        return None
    out = reducer.output_schema()
    keys, vals = out.fields[: len(key_cols)], out.fields[len(key_cols) :]
    if len(aggs) != len(vals):
        raise ValueError(f"aggregate() returned {len(aggs)} columns for {len(vals)} output fields")
    return (
        df.groupBy(*[F.col(c).alias(f.name) for c, f in zip(key_cols, keys)])
        .agg(*[a.alias(f.name) for a, f in zip(aggs, vals)])
        .select(*[F.col(f.name).cast(f.dataType) for f in out.fields])
    )


def reduce_events_stream(
    df: DataFrame, reducer: EventReducer, key_cols: list[str]
) -> DataFrame:
    """Streaming fold: applyInPandasWithState in update mode.

    Each trigger: state <- reduce(state, sorted new events); emit current
    aggregates. Exactly the consumer loop of sink.rs:134-151 with Spark's
    state store replacing the Arc<Mutex<..>>. A reducer with ``aggregate()``
    compiles to a native streaming aggregate instead (write it in update
    mode).
    """
    lowered = _lower(df, reducer, key_cols)
    if lowered is not None:
        return lowered
    from ..shipping import ship_package

    ship_package(df.sparkSession)
    in_schema = to_arrow_schema(df.schema)
    state_schema, out = reducer.state_schema(), reducer.output_schema()
    state_names = state_schema.names

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = restore_state(state_names, state.get) if state.exists else reducer.init_state()
        # a key's micro-batch arrives as MULTIPLE Arrow chunks in
        # shuffled-partition order — sorting each chunk independently would
        # hand order-sensitive reducers (sequence matching) out-of-order
        # seams; concatenate the trigger's rows and sort ONCE. Memory bound:
        # one key's one-trigger rows (already the applyInPandasWithState
        # unit of work).
        pdfs = list(batches)
        if pdfs:
            whole = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
            events = pa.Table.from_pandas(whole, schema=in_schema, preserve_index=False)
            st = reducer.reduce(st, _sort_events(events))
        state.update(tuple(st[n] for n in state_names))
        yield pd.DataFrame([reducer.emit(key, st)], columns=out.names)

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def reduce_events_batch(
    df: DataFrame, reducer: EventReducer, key_cols: list[str]
) -> DataFrame:
    """Batch fold: the SAME reducer over applyInArrow (historical drain).
    Each task folds its keys' sorted rows on the Arrow buffers Spark
    transferred — no per-group pandas materialization. A reducer with
    ``aggregate()`` compiles to ``groupBy().agg()`` instead."""
    lowered = _lower(df, reducer, key_cols)
    if lowered is not None:
        return lowered
    from ..shipping import ship_package

    ship_package(df.sparkSession)
    out = reducer.output_schema()
    out_schema = to_arrow_schema(out)

    def fn(key: tuple, tbl: pa.Table) -> pa.Table:
        st = reducer.reduce(reducer.init_state(), _sort_events(tbl))
        row = reducer.emit(tuple(k.as_py() for k in key), st)
        return pa.Table.from_pylist([row], schema=out_schema)

    return df.groupBy(*key_cols).applyInArrow(fn, schema=out)


class CentsNetflowReducer(EventReducer):
    """The reference's flagship reducer (examples/stream_multi.rs:33-70):
    per-key net value flow plus the event counter, with exact integer-cents
    state — cross-engine-exact (the oracle-checkable variant; SURVEY
    §7.4.1's "do no worse than the reference's lossy i128" applied to
    doubles). Cents are value*100 rounded half to even (``pc.round``'s
    default, as numpy's), signed and summed; a null value counts as an
    event with no cents. Expects columns: value (double, 2-decimal), sign
    (+1/-1).

    ``aggregate`` is the same fold in Catalyst. ``bround`` rounds a double
    through its shortest decimal string, which lies on the same side of .5
    as the double itself, so both round every finite value alike. Both
    raise where cents, a signed cent or a key's total leave BIGINT (Spark's
    ANSI sum may also raise on a partial sum that leaves it)."""

    def init_state(self):
        return {"cents": 0, "n": 0}

    def reduce(self, state, events):
        cents = pc.cast(
            pc.round(pc.multiply(events.column("value"), pa.scalar(100.0))),
            pa.int64(),
        )
        signed = pc.multiply_checked(cents, pc.cast(events.column("sign"), pa.int64()))
        # an int64 sum wraps; a decimal one holds any total, and emit's
        # BIGINT output then raises on one out of range, as Spark does
        total = pc.sum(pc.cast(signed, pa.decimal128(38, 0))).as_py()
        state["cents"] += int(total or 0)
        state["n"] += events.num_rows
        return state

    def aggregate(self):
        cents = F.bround(F.col("value") * 100.0, 0)
        # Spark's ANSI cast saturates at exactly 2^63 (its bound is
        # Long.MaxValue as a double), where Arrow's cast raises
        cents = F.when(
            cents >= F.lit(2.0**63), F.raise_error(F.lit("cents out of BIGINT range"))
        ).otherwise(cents)
        signed = cents.cast("bigint") * F.col("sign").cast("bigint")
        return [F.coalesce(F.sum(signed), F.lit(0)), F.count(F.lit(1))]

    def emit(self, key, state):
        return {"key": key[0], "net_cents": state["cents"], "n_events": state["n"]}

    def state_schema(self) -> StructType:
        return StructType.fromDDL("cents BIGINT, n BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, net_cents BIGINT, n_events BIGINT")


class CentsNetflowFoldReducer(CentsNetflowReducer):
    """``CentsNetflowReducer`` with no ``aggregate``: the runners run its
    Python fold (``applyInArrow`` in batch, ``applyInPandasWithState`` in a
    stream), so the generic fold harness is exercised by the same fold."""

    def aggregate(self):
        return None


# The benchmark's drain (perfbench/drain.py) imports the names of the former
# Arrow-only batch contract; both are the one contract now.
CentsNetflowArrowReducer = CentsNetflowReducer
reduce_events_batch_arrow = reduce_events_batch


class FunnelReducer(EventReducer):
    """Ordered-funnel fold (view -> click -> purchase, each strictly after
    the previous): the stateful-API twin of plans.eventflow's
    event_funnel_stages min-cascade — a genuinely ORDER-SENSITIVE fold
    (unlike netflow's commutative sum), exercising the contract that
    reduce() sees events block-sorted. Expects columns: event_type,
    block_number (epoch micros — the sort key), log_index.

    Equivalence to the min-cascade: processing in (ts, tie) order, the
    first click with ts strictly greater than t_view IS min(ts of such
    clicks), and likewise for purchase. Streaming caveat: the fold is
    order-sensitive across triggers, so the stream path requires per-key
    in-order delivery (the source's total-order contract, B1/B9) — and the
    state ENFORCES it: ``m`` tracks the max block seen per key, and a later
    trigger delivering an earlier block raises instead of silently folding
    a wrong funnel (within one trigger the harness sorts, so only genuine
    cross-trigger regressions trip it). ``m`` is the 4th state field, added
    after the first three: a 3-field checkpoint restores with ``m=None``
    and the guard re-arms on the next folded block."""

    def init_state(self):
        return {"v": None, "c": None, "p": None, "m": None}

    def reduce(self, state, events):
        v, c, p, m = state["v"], state["c"], state["p"], state["m"]
        for ts_us, et in zip(
            events.column("block_number").to_pylist(),
            events.column("event_type").to_pylist(),
        ):
            if m is not None and ts_us < m:
                raise ValueError(
                    f"FunnelReducer: out-of-order delivery — block {ts_us} "
                    f"arrived after state already folded block {m}; the fold "
                    "is order-sensitive, so the source must deliver each "
                    "key's events in block order across triggers (B1/B9)"
                )
            m = ts_us
            if v is None:
                if et == "view":
                    v = ts_us
            elif c is None:
                if et == "click" and ts_us > v:
                    c = ts_us
            elif p is None:
                if et == "purchase" and ts_us > c:
                    p = ts_us
        state["v"], state["c"], state["p"], state["m"] = v, c, p, m
        return state

    def emit(self, key, state):
        stage = 3 if state["p"] is not None else (
            2 if state["c"] is not None else (1 if state["v"] is not None else 0)
        )
        return {
            "key": key[0],
            "stage": stage,
            "t_view_us": state["v"],
            "t_click_us": state["c"],
            "t_purchase_us": state["p"],
        }

    def state_schema(self) -> StructType:
        return StructType.fromDDL("v BIGINT, c BIGINT, p BIGINT, m BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL(
            "key BIGINT, stage INT, t_view_us BIGINT, t_click_us BIGINT, "
            "t_purchase_us BIGINT"
        )


def with_block_watermark(df: DataFrame, delay_blocks: int = 0) -> DataFrame:
    """Attach an event-time watermark derived from block height (B2 analog
    for event-time operators; the block frontier itself is offset-based in
    the source — SURVEY §7.4.5)."""
    wdf = df.withColumn("block_ts", F.timestamp_seconds(F.col("block_number") * 12))
    return wdf.withWatermark("block_ts", f"{delay_blocks * 12} seconds")


class SequenceCountReducer(EventReducer):
    """Suffix-anchored pattern matching — the reference's EventReducer use
    case beyond folds (sink.rs:139-148 hands every suffix of the sorted
    block to the reducer precisely so it can match sequences anchored at
    each position; README.md:56-60's example matches on the head).

    Counts adjacent ``view -> purchase`` transitions per key in total
    (block_number, log_index) order. State carries the last event type
    across batch (and trigger) boundaries, so a pattern straddling two
    micro-batches is still counted — the part a stateless window cannot do.
    Expects an ``event_type`` string column."""

    def init_state(self):
        return {"last_type": "", "n_matches": 0, "n": 0}

    def reduce(self, state, events):
        types = events.column("event_type").to_numpy(zero_copy_only=False)
        if not len(types):
            return state
        prev = np.concatenate(([state["last_type"]], types[:-1]))
        state["n_matches"] += int(((types == "purchase") & (prev == "view")).sum())
        state["n"] += len(types)
        state["last_type"] = str(types[-1])
        return state

    def emit(self, key, state):
        return {"key": key[0], "n_matches": state["n_matches"], "n_events": state["n"]}

    def state_schema(self) -> StructType:
        return StructType.fromDDL("last_type STRING, n_matches BIGINT, n BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, n_matches BIGINT, n_events BIGINT")
