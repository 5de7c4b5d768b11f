"""N-way block-aligned synchronization — the reference ``Sink``, Spark-first.

The reference's core machinery (/root/reference/eth_event_stream/src/sink.rs)
is an N-source merge buffer: a 3-level ordered store source -> block ->
log_index (sink.rs:23-32), a min-of-per-source-maxima watermark
(sink.rs:187-197), idempotent upsert dedup (sink.rs:280-296), and a dense
exactly-once flush that emits EVERY block in range — including empty ones —
in total (block, log_index) order (sink.rs:216-249, sort at 117-119).

Spark already has the physical pieces (shuffle sort, state store, watermarks);
what this module provides is the *semantics* as composable DataFrame ops:

- ``tag_signature``      — S8 fan-in: tag rows with their stream signature;
  the ``sig`` column's metadata lists the registered ones.
- ``watermark_block``    — B2/B3 min-of-max frontier from per-source
  punctuation (offset-based, not data-based — SURVEY §7.4.5): the port of
  sink.rs's test_up_to. The live path needs no call to it: a
  ``StreamFactory`` reads all its streams through one source, whose one
  offset is that frontier.
- ``flush_including``    — B6 dense flush: a spine of blocks x registered
  sigs, so empty blocks and streams with no logs emit empty lists.
- ``synced_events``      — B9 N-way merge to total order.
- ``block_batches``      — B7 tumbling count-windows over block height.

Scale notes: the flush scans its input once and shuffles it once, on
(block_number, sig); the generated spine joins the groups by broadcast, or
by one shuffle of the spine when they are large. The B4 upsert is the
factory read's, with its own shuffle. ``synced_events`` sorts within
partitions after a range repartition. No driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def signature_col(address: Column | None = None, topic0: Column | None = None) -> Column:
    """StreamSignature (sink.rs:34-42) as a single string key ``addr|topic0``."""
    address = address if address is not None else F.col("address")
    # `get` is null on an empty array (a LOG0), where element_at raises
    # under ANSI; concat_ws skips the null
    topic0 = topic0 if topic0 is not None else F.get(F.col("topics"), 0)
    return F.concat_ws("|", F.lower(address), F.lower(topic0))


def tag_signature(df: DataFrame, sigs: list[str]) -> DataFrame:
    """Tag rows with their stream signature, and list the registered
    ``sigs`` in the ``sig`` column's metadata for ``flush_including``.
    Keeping only the registered streams (stream.rs:79-81) is the
    ``eth_logs`` read's job: its ``streams`` option."""
    return df.withColumn("sig", signature_col()).withMetadata("sig", {"sigs": sigs})


def watermark_block(punctuation: dict[str, int] | DataFrame, n_sources: int | None = None):
    """B2/B3: synced frontier = min over sources of max *scanned* block.

    ``punctuation`` maps source key -> highest block completely scanned (the
    ``end_block`` of put_multiple, sink.rs:253-263 — advances even for empty
    chunks). Returns None when any registered source has not reported
    (sink.rs:187-190: None until every source advanced past from_block).

    Driver-side bookkeeping by design: punctuation is per-source metadata
    (a handful of rows), not data — exactly like Spark's offset log.
    """
    if isinstance(punctuation, DataFrame):
        rows = punctuation.groupBy("sig").agg(F.max("end_block").alias("end_block")).collect()
        vals = {r["sig"]: r["end_block"] for r in rows}
    else:
        vals = punctuation
    if n_sources is not None and len(vals) < n_sources:
        return None
    if not vals:
        return None
    return min(vals.values())


def block_spine(spark: SparkSession, from_block: int, to_block: int) -> DataFrame:
    """Dense block range [from, to] as a DataFrame — one row per block.

    ``spark.range`` is already partitioned; at 100 TB scale a spine of a few
    hundred million blocks is still tiny (8 bytes/row) and range-partitioned.
    """
    return spark.range(from_block, to_block + 1).withColumnRenamed("id", "block_number")


def flush_including(
    df: DataFrame,
    bottom: int,
    target: int,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """B6+B8: dense per-(block, sig) flush of [bottom, target].

    Emits one row per (block, sig) for EVERY block in range and every
    registered sig (the ``sig`` metadata ``tag_signature`` writes; without
    it, ``ValueError``) — empty groups, a stream with no logs included, emit
    an empty ``events`` array (sink.rs:237-241) — events sorted by log_index.

    The result is the batch shape of ``StreamSinkFlush``:
    (block_number, sig, events: array<struct>). Catalyst plan: one shuffle on
    (block, sig) for the aggregation, left-joined from the generated spine
    of blocks x registered sigs.
    """
    sigs = df.schema["sig"].metadata.get("sigs")
    if sigs is None:
        raise ValueError("flush_including needs the registered sigs: tag the frame with tag_signature")
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c not in ("sig", "block_number")]
    in_range = df.filter(
        (F.col("block_number") >= bottom) & (F.col("block_number") <= target)
    )
    grouped = in_range.groupBy("block_number", "sig").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("log_index"), *[F.col(c) for c in payload_cols]))
        ).alias("events")
    )
    dense = block_spine(df.sparkSession, bottom, target).select(
        "block_number", F.explode(F.array(*[F.lit(s) for s in sigs])).alias("sig")
    )
    return dense.join(grouped, ["block_number", "sig"], "left").withColumn(
        "events",
        F.coalesce(F.col("events"), F.array().cast(grouped.schema["events"].dataType)),
    )


def synced_events(df: DataFrame, per_block: bool = False) -> DataFrame:
    """B9: N-way merge to total EVM emission order.

    With ``per_block=False``: rows ordered by (block_number, log_index) — the
    global total order (log_index is block-unique across contracts,
    sink.rs:117-119). Uses ``sortWithinPartitions`` after a range repartition
    so no single-machine global sort is forced (SURVEY §7.4.4); downstream
    per-block consumers see correct order.

    With ``per_block=True``: one row per block with the merged, sorted event
    list — the ``SyncedEventsFlush`` shape (sink.rs:44-51).
    """
    if per_block:
        payload = [c for c in df.columns if c not in ("block_number",)]
        return (
            df.groupBy("block_number")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("log_index"), *[F.col(c) for c in payload if c != "log_index"]))
                ).alias("events")
            )
        )
    return df.repartitionByRange("block_number").sortWithinPartitions(
        "block_number", "log_index"
    )


def block_batches(df: DataFrame, from_block: int, step: int) -> DataFrame:
    """B7: tumbling count-window over block height (stream_synced_buffer,
    sink.rs:58-81). Adds ``batch_id = floor((block - from) / step)``; the
    remainder forms the final partial batch (the reference's intent at
    sink.rs:76 — see SURVEY B7 quirk note).
    """
    return df.withColumn(
        "batch_id",
        F.floor((F.col("block_number") - F.lit(from_block)) / F.lit(step)).cast("long"),
    )


def netflow(decoded: DataFrame, value_col: str = "value") -> DataFrame:
    """B11 flagship reducer: per-address net token flow.

    ``netflow[from] -= value; netflow[to] += value`` (examples/
    stream_multi.rs:39-70) re-expressed as explode-to-±flow + hash aggregation
    — fully algebraic, so it runs as a partial-aggregated (map-side combined)
    shuffle, no stateful fold needed.

    Overflow contract: sums run in DECIMAL(38,0) under ANSI — aggregating
    values near 10^38 raises rather than wrapping (the reference wraps
    silently at 2^127, examples/stream_multi.rs:59). Callers aggregating
    adversarial uint256 domains bound the amount first; out-of-decimal-range
    raw values arrive as NULL (skipped by sum) with ``value_hex`` lossless.
    """
    v = F.col(value_col).cast("decimal(38,0)")
    flows = decoded.select(
        F.explode(
            F.array(
                F.struct(F.col("from").alias("addr"), (-v).alias("flow")),
                F.struct(F.col("to").alias("addr"), v.alias("flow")),
            )
        ).alias("f")
    ).select("f.addr", "f.flow")
    return flows.groupBy("addr").agg(F.sum("flow").alias("netflow"))


def netflow_counters(netflows: DataFrame) -> DataFrame:
    """Live monitor counters (examples/stream_multi.rs:118-142): address count,
    positive-flow count, negative-flow count."""
    return netflows.agg(
        F.count("*").alias("n_addresses"),
        F.count_if(F.col("netflow") > 0).alias("n_positive"),
        F.count_if(F.col("netflow") < 0).alias("n_negative"),
    )
