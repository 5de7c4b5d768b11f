"""Stateful reducer API — the reference ``EventReducer`` trait, Spark-first.

The reference folds reducers over dense, block-sorted event batches
(/root/reference/eth_event_stream/src/sink.rs:125-151: ``reduce(&mut self,
block_number, ordered_events)``), with state living in the reducer struct.

Spark decomposition (SURVEY §7.4.3):

- **Algebraic folds** (netflow, counters) degenerate to ``groupBy().agg()`` —
  use the plans layer; never pay for ordered state you don't need.
- **Order-dependent / general state** uses this module:
  - streaming: ``applyInPandasWithState`` keyed by a partition key, each
    micro-batch delivering block-sorted rows to ``EventReducer.reduce``;
  - batch: ``applyInPandas`` over the same key with an in-group sort — the
    identical reducer code runs in both (the reference's historical/live
    unification).

State is partitioned by ``key_cols`` — the scale contract: the reference's
single ``Arc<Mutex<State>>`` becomes N independent shards; anything global
must be algebraically mergeable downstream.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


class EventReducer(ABC):
    """Port of the EventReducer trait (sink.rs:125-131), block-batch driven.

    ``reduce`` sees one key's events for a contiguous, sorted span of blocks
    (the reference calls per block; batching blocks per invocation is the
    vectorized equivalent — order within and across calls is preserved).
    """

    @abstractmethod
    def init_state(self) -> Any: ...

    @abstractmethod
    def reduce(self, state: Any, events: pd.DataFrame) -> Any:
        """Fold block-sorted events into state; return the new state."""

    @abstractmethod
    def emit(self, key: tuple, state: Any) -> pd.DataFrame:
        """Current aggregate rows for this key (the live-monitor read side,
        examples/stream_multi.rs:116-143)."""

    @abstractmethod
    def state_schema(self) -> StructType: ...

    @abstractmethod
    def output_schema(self) -> StructType: ...

    @abstractmethod
    def state_to_rows(self, state: Any) -> list[tuple]: ...

    @abstractmethod
    def rows_to_state(self, rows: list[tuple]) -> Any: ...


def _sort_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = [c for c in ("block_number", "log_index") if c in pdf.columns]
    return pdf.sort_values(cols) if cols else pdf


def reduce_events_stream(
    df: DataFrame, reducer: EventReducer, key_cols: list[str]
) -> DataFrame:
    """Streaming fold: applyInPandasWithState in update mode.

    Each trigger: state <- reduce(state, sorted new events); emit current
    aggregates. Exactly the consumer loop of sink.rs:134-151 with Spark's
    state store replacing the Arc<Mutex<..>>.
    """

    from ..shipping import ship_package

    ship_package(df.sparkSession)

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = reducer.rows_to_state([tuple(state.get)])
        else:
            st = reducer.init_state()
        # a key's micro-batch arrives as MULTIPLE Arrow chunks in
        # shuffled-partition order — sorting each chunk independently would
        # hand order-sensitive reducers (sequence matching) out-of-order
        # seams; concatenate the trigger's rows and sort ONCE. Memory bound:
        # one key's one-trigger rows (already the applyInPandasWithState
        # unit of work).
        pdfs = list(batches)
        if pdfs:
            whole = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
            st = reducer.reduce(st, _sort_batch(whole))
        rows = reducer.state_to_rows(st)
        state.update(rows[0])
        yield reducer.emit(key, st)

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=reducer.output_schema(),
        stateStructType=reducer.state_schema(),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def reduce_events_batch(
    df: DataFrame, reducer: EventReducer, key_cols: list[str]
) -> DataFrame:
    """Batch fold: the SAME reducer over applyInPandas (historical drain)."""
    from ..shipping import ship_package

    ship_package(df.sparkSession)

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        st = reducer.reduce(reducer.init_state(), _sort_batch(pdf))
        return reducer.emit(key, st)

    return df.groupBy(*key_cols).applyInPandas(fn, schema=reducer.output_schema())


class NetflowReducer(EventReducer):
    """The reference's flagship reducer (examples/stream_multi.rs:33-70):
    per-key net value flow plus the event counter, as explicit state.

    Exists to exercise the stateful path; the production shape for this
    particular (algebraic) fold is plans.eventflow.flagship_user_netflow.
    Expects columns: value (double), sign (+1/-1), block_number, log_index.
    """

    def init_state(self):
        return {"net": 0.0, "n": 0}

    def reduce(self, state, events: pd.DataFrame):
        state["net"] += float((events["value"] * events["sign"]).sum())
        state["n"] += int(len(events))
        return state

    def emit(self, key, state) -> pd.DataFrame:
        return pd.DataFrame(
            {"key": [key[0]], "netflow": [state["net"]], "n_events": [state["n"]]}
        )

    def state_schema(self) -> StructType:
        return StructType.fromDDL("net DOUBLE, n BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, netflow DOUBLE, n_events BIGINT")

    def state_to_rows(self, state) -> list[tuple]:
        return [(state["net"], state["n"])]

    def rows_to_state(self, rows) -> Any:
        return {"net": rows[0][0], "n": rows[0][1]}


class CentsNetflowReducer(EventReducer):
    """NetflowReducer with exact integer-cents state — cross-engine-exact
    (the oracle-checkable variant; SURVEY §7.4.1's "do no worse than the
    reference's lossy i128" applied to doubles). Expects columns: value
    (double, 2-decimal), sign (+1/-1)."""

    def init_state(self):
        return {"cents": 0, "n": 0}

    def reduce(self, state, events: pd.DataFrame):
        cents = (events["value"] * 100).round().astype("int64") * events["sign"]
        state["cents"] += int(cents.sum())
        state["n"] += int(len(events))
        return state

    def emit(self, key, state) -> pd.DataFrame:
        return pd.DataFrame(
            {"key": [key[0]], "net_cents": [state["cents"]], "n_events": [state["n"]]}
        )

    def state_schema(self) -> StructType:
        return StructType.fromDDL("cents BIGINT, n BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, net_cents BIGINT, n_events BIGINT")

    def state_to_rows(self, state) -> list[tuple]:
        return [(state["cents"], state["n"])]

    def rows_to_state(self, rows) -> Any:
        return {"cents": rows[0][0], "n": rows[0][1]}


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
    cross-trigger regressions trip it)."""

    def init_state(self):
        return {"v": None, "c": None, "p": None, "m": None}

    def reduce(self, state, events: pd.DataFrame):
        v, c, p, m = state["v"], state["c"], state["p"], state["m"]
        for ts_us, et in zip(events["block_number"], events["event_type"]):
            ts_us = int(ts_us)
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

    def emit(self, key, state) -> pd.DataFrame:
        stage = 3 if state["p"] is not None else (
            2 if state["c"] is not None else (1 if state["v"] is not None else 0)
        )
        return pd.DataFrame(
            {
                "key": [key[0]],
                "stage": [stage],
                "t_view_us": [state["v"]],
                "t_click_us": [state["c"]],
                "t_purchase_us": [state["p"]],
            }
        )

    def state_schema(self) -> StructType:
        return StructType.fromDDL("v BIGINT, c BIGINT, p BIGINT, m BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL(
            "key BIGINT, stage INT, t_view_us BIGINT, t_click_us BIGINT, "
            "t_purchase_us BIGINT"
        )

    def state_to_rows(self, state) -> list[tuple]:
        return [(state["v"], state["c"], state["p"], state["m"])]

    def rows_to_state(self, rows) -> Any:
        row = rows[0]
        return {
            "v": row[0],
            "c": row[1],
            "p": row[2],
            # Checkpoint-compat: round-6 added the max-block lane ``m`` as a
            # 4th state column. A checkpoint written under the 3-column
            # schema restores with m=None — the in-order guard re-arms on
            # the next folded block instead of failing the restore. (Spark's
            # state-store schema check must also accept the widening; where
            # it refuses, the documented path is a fresh checkpoint — the
            # fold itself is replayable from the source's block frontier.)
            "m": row[3] if len(row) > 3 else None,
        }


class ArrowEventReducer(ABC):
    """The EventReducer contract over Arrow data — same fold semantics
    (init -> reduce over block-sorted events -> emit), but ``reduce`` sees a
    ``pyarrow.Table`` and ``emit`` returns one. Skips the Arrow->pandas
    materialization ``applyInPandas`` pays on every group (index build,
    block consolidation, object boxing for strings) — the fold itself runs
    on the same Arrow buffers Spark transferred."""

    @abstractmethod
    def init_state(self) -> Any: ...

    @abstractmethod
    def reduce(self, state: Any, events: "pa.Table") -> Any:
        """Fold block-sorted events into state; return the new state."""

    @abstractmethod
    def emit(self, key: tuple, state: Any) -> "pa.Table":
        """Current aggregate rows for this key (``key`` is a tuple of
        ``pyarrow.Scalar``)."""

    @abstractmethod
    def output_schema(self) -> StructType: ...


def _sort_table(tbl: "pa.Table") -> "pa.Table":
    cols = [c for c in ("block_number", "log_index") if c in tbl.column_names]
    return tbl.sort_by([(c, "ascending") for c in cols]) if cols else tbl


def reduce_events_batch_arrow(
    df: DataFrame, reducer: ArrowEventReducer, key_cols: list[str]
) -> DataFrame:
    """Batch fold over ``applyInArrow`` — the keyed-state shape of
    ``reduce_events_batch`` without the pandas conversion floor.

    Same scale contract: state shards by ``key_cols``, each task folds its
    keys' sorted rows; Arrow batches go worker->Python with zero-copy column
    access, so the per-group overhead is the fold itself."""
    from ..shipping import ship_package

    ship_package(df.sparkSession)

    def fn(key: tuple, tbl: "pa.Table") -> "pa.Table":
        st = reducer.reduce(reducer.init_state(), _sort_table(tbl))
        return reducer.emit(key, st)

    return df.groupBy(*key_cols).applyInArrow(fn, schema=reducer.output_schema())


class CentsNetflowArrowReducer(ArrowEventReducer):
    """Arrow twin of CentsNetflowReducer: identical integer-cents state
    arithmetic (round-half-to-even of value*100, signed sum — bit-identical
    to the pandas/numpy fold), computed with pyarrow.compute kernels.
    Expects columns: value (double, 2-decimal), sign (+1/-1)."""

    def init_state(self):
        return {"cents": 0, "n": 0}

    def reduce(self, state, events: "pa.Table"):
        import pyarrow as pa
        import pyarrow.compute as pc

        cents = pc.cast(
            pc.round(pc.multiply(events.column("value"), pa.scalar(100.0))),
            pa.int64(),
        )
        signed = pc.multiply(cents, pc.cast(events.column("sign"), pa.int64()))
        state["cents"] += pc.sum(signed).as_py() or 0
        state["n"] += events.num_rows
        return state

    def emit(self, key, state) -> "pa.Table":
        import pyarrow as pa

        return pa.table(
            {
                "key": pa.array([key[0].as_py()], pa.int64()),
                "net_cents": pa.array([state["cents"]], pa.int64()),
                "n_events": pa.array([state["n"]], pa.int64()),
            }
        )

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, net_cents BIGINT, n_events BIGINT")


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

    def reduce(self, state, events: pd.DataFrame):
        types = events["event_type"]
        matched = (types == "purchase") & (types.shift(1) == "view")
        n = int(matched.sum())
        if state["last_type"] == "view" and len(types) and types.iloc[0] == "purchase":
            n += 1
        state["n_matches"] += n
        state["n"] += int(len(types))
        if len(types):
            state["last_type"] = str(types.iloc[-1])
        return state

    def emit(self, key, state) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "key": [key[0]],
                "n_matches": [state["n_matches"]],
                "n_events": [state["n"]],
            }
        )

    def state_schema(self) -> StructType:
        return StructType.fromDDL("last_type STRING, n_matches BIGINT, n BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, n_matches BIGINT, n_events BIGINT")

    def state_to_rows(self, state) -> list[tuple]:
        return [(state["last_type"], state["n_matches"], state["n"])]

    def rows_to_state(self, rows) -> Any:
        return {"last_type": rows[0][0], "n_matches": rows[0][1], "n": rows[0][2]}
