"""ABI log decoder as Catalyst column expressions.

The reference decodes a raw ``web3::types::Log`` into a typed struct with a
macro-generated ``From<Log>`` impl (/root/reference/eth_event_macro/src/lib.rs:
119-154): indexed params come from ``topics[1..]``, non-indexed params from the
ABI-encoded ``data`` bytes, plus fixed columns block_number / transaction_hash /
address / log_index (lib.rs:190-220).

Here the same split is expressed as pure column expressions so the decode stays
inside whole-stage codegen (no Python in the hot path — SURVEY §4 "consider
per-field column expressions to stay in codegen"). Each 32-byte slot is a
64-char hex string; static types are decoded slot-wise:

- ``address``: last 20 bytes of the slot, ``0x``-prefixed lowercase.
- ``uintN``/``intN`` (N <= 63 bits): ``conv(low 16 hex, 16, 10)`` -> LongType.
- ``uintN`` (N > 63): DecimalType(38,0) assembled from 32-bit chunks, NULL when
  the value exceeds 10^38-1 (decimal range), with a lossless ``<name>_hex``
  column always populated. Strictly better than the reference's silent i128
  wrap (examples/stream_multi.rs:59); see SURVEY §7.4.1.
- ``bool``: low 64 bits != 0.
- ``bytesN``: the slot's first N bytes as 0x-hex.

Dynamic and composite types in *data* use the ABI head/tail encoding, decoded
by ONE offset-following recursion (``_decode_value``) over the full type
lattice: ``string``/``bytes``, dynamic ``T[]`` and fixed-size ``T[k]`` arrays
of any element type including nested ``T[][]``/``T[k][]`` and arrays of
tuples, and tuples with static or dynamic components at any nesting depth.
Indexed dynamic/array/tuple params are, per the ABI spec, a keccak hash of
the value — surfaced once as the hex hash (no redundant ``_hex`` twin).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import EventSchema, parse_event_declaration

_UINT64_HEX = 16  # hex chars of a 64-bit lane
_SLOT_HEX = 64  # hex chars of a 32-byte slot

# 10^38 as a 64-char zero-padded hex string: values at or above this do not fit
# DecimalType(38,0). Lexicographic compare on fixed-width lowercase hex ==
# numeric compare.
_DEC38_LIMIT_HEX = format(10**38, "x").rjust(_SLOT_HEX, "0")

# 2^96 and 2^64 and 2^32 as decimal literals for chunk assembly.
_POW = {
    96: "79228162514264337593543950336",
    64: "18446744073709551616",
    32: "4294967296",
}


def _dec(expr: str) -> Column:
    return F.expr(f"CAST('{expr}' AS DECIMAL(38,0))")


def _chunk_long(slot: Column, start: int, width: int) -> Column:
    """Hex substring [start, start+width) of a 64-char slot as a long."""
    return F.conv(F.substring(slot, start + 1, width), 16, 10).cast("long")


def slot_to_decimal(slot: Column) -> Column:
    """64-char lowercase hex slot -> DECIMAL(38,0); NULL if >= 10^38.

    Assembled from four 32-bit chunks of the low 128 bits (the guard makes the
    high 128 bits provably zero): v = c0*2^96 + c1*2^64 + c2*2^32 + c3.
    All arithmetic stays in codegen'd decimal ops; the CASE guard means no
    branch can overflow even under ANSI mode.
    """
    c0 = _chunk_long(slot, 32, 8).cast("decimal(38,0)")
    c1 = _chunk_long(slot, 40, 8).cast("decimal(38,0)")
    c2 = _chunk_long(slot, 48, 8).cast("decimal(38,0)")
    c3 = _chunk_long(slot, 56, 8).cast("decimal(38,0)")
    value = c0 * _dec(_POW[96]) + c1 * _dec(_POW[64]) + c2 * _dec(_POW[32]) + c3
    return F.when(slot < F.lit(_DEC38_LIMIT_HEX), value).otherwise(F.lit(None))


def sum_uint256(df: DataFrame, hex_col: str = "value_hex") -> DataFrame:
    """EXACT uint256 aggregation over a lossless ``<name>_hex`` column —
    the SURVEY §7.4.1 close-out.

    ``slot_to_decimal`` NULLs values >= 10^38 (a sum then silently skips
    them), and the reference wraps at 2^127 (examples/stream_multi.rs:59).
    This helper is exact over the FULL uint256 domain: each value splits
    into three lanes (bits [0,96), [96,192), [192,256) — every lane < 2^96
    fits DECIMAL(38,0) with room for ~10^9 summands), the lanes sum
    independently (partial-aggregable, map-side combined, no shuffle of
    values), and one carry pass normalizes the three-limb result:

        total = sum_top * 2^192 + sum_hi * 2^96 + sum_lo
        0 <= sum_lo < 2^96,  0 <= sum_hi < 2^96

    Returns one row ``(n_values, sum_top, sum_hi, sum_lo)`` (limbs
    DECIMAL(38,0)). Exact for up to ~1.26e9 values per aggregation (the
    lane-sum bound N * 2^96 < 10^38); beyond that ANSI decimal overflow
    RAISES rather than wrapping or skipping — pre-bucket (e.g. per block
    range) and re-aggregate limbs to go bigger. Every step is a codegen'd
    JVM expression; the carry divisions are exact ((s - s mod 2^96) / 2^96
    is an integer well inside the result type's precision).
    """
    slot = F.regexp_replace(F.lower(F.col(hex_col)), "^0x", "")
    p64 = _dec(_POW[64])
    d38 = "decimal(38,0)"

    def chunk(start: int, width: int) -> Column:
        return F.conv(F.substring(slot, start, width), 16, 10).cast(d38)

    lane0 = (chunk(49, 16) + chunk(41, 8) * p64).alias("l0")  # bits [0,96)
    lane1 = (chunk(25, 16) + chunk(17, 8) * p64).alias("l1")  # bits [96,192)
    lane2 = chunk(1, 16).alias("l2")  # bits [192,256)
    s = df.select(F.col(hex_col), lane0, lane1, lane2).agg(
        F.count(hex_col).alias("n_values"),
        F.coalesce(F.sum("l0"), F.lit(0).cast(d38)).alias("s0"),
        F.coalesce(F.sum("l1"), F.lit(0).cast(d38)).alias("s1"),
        F.coalesce(F.sum("l2"), F.lit(0).cast(d38)).alias("s2"),
    )
    p96 = _dec(str(2**96))
    r0 = F.pmod(F.col("s0"), p96)
    c0 = ((F.col("s0") - r0) / p96).cast(d38)
    t1 = (F.col("s1") + c0).cast(d38)
    r1 = F.pmod(t1, p96)
    c1 = ((t1 - r1) / p96).cast(d38)
    return s.select(
        "n_values",
        (F.col("s2") + c1).cast(d38).alias("sum_top"),
        r1.cast(d38).alias("sum_hi"),
        r0.cast(d38).alias("sum_lo"),
    )


def slot_to_long(slot: Column) -> Column:
    """Low 64 bits of a slot as a (signed) long — for ABI types <= 63 bits."""
    return _chunk_long(slot, _SLOT_HEX - _UINT64_HEX, _UINT64_HEX)


def slot_to_address(slot: Column) -> Column:
    """Last 20 bytes of a slot as lowercase 0x-hex (ethabi cast_addr analog)."""
    return F.concat(F.lit("0x"), F.substring(slot, 25, 40))


def slot_to_bool(slot: Column) -> Column:
    return slot_to_long(slot) != 0


def slot_to_signed(slot: Column, bits: int) -> Column:
    """Two's-complement ``intN`` decode. ABI sign-extends to 256 bits, so the
    sign is the slot's first hex digit (>= '8' means negative).

    - N <= 64: value from the low 16 hex chars as decimal, minus 2^64 when
      negative (sign-extension makes the low 64 bits the two's complement of
      the value), surfaced as LongType (int64's full range IS LongType).
    - 63 < N <= 122: same construction over the low 128 bits in
      DECIMAL(38,0) (2^126 < 10^38, so the arithmetic cannot overflow).
    - N > 122: magnitudes may exceed DECIMAL(38,0) — NULL when out of the
      +-(10^38-1) range, with the lossless ``_hex`` column alongside (same
      policy as uint256, SURVEY §7.4.1).
    """
    negative = F.substring(slot, 1, 1) >= F.lit("8")
    if bits <= 64:
        low64 = F.conv(F.substring(slot, 49, 16), 16, 10).cast("decimal(20,0)")
        val = F.when(negative, low64 - _dec(str(2**64)).cast("decimal(20,0)")).otherwise(low64)
        return val.cast("long")
    # signed value from the low 128 bits with a SIGNED high lane:
    # hi_signed in [-2^63-ish, 2^63) keeps every intermediate product within
    # |value| (< 2^122 here), so no sub-expression can overflow DECIMAL(38,0)
    # under ANSI. (An unsigned-then-subtract formulation overflows on the
    # hi64 * 2^64 product for negative values.)
    hi64 = F.conv(F.substring(slot, 33, 16), 16, 10).cast("decimal(38,0)")
    lo64 = F.conv(F.substring(slot, 49, 16), 16, 10).cast("decimal(38,0)")
    hi_signed = F.when(negative, hi64 - _dec(str(2**64))).otherwise(hi64)
    signed = hi_signed * _dec(str(2**64)) + lo64
    if bits <= 122:
        return signed
    # wide ints (may exceed DECIMAL(38,0)): range-check BEFORE any arithmetic,
    # with pure string compares on the fixed-width lowercase hex (lexicographic
    # == numeric): sign-extension region must be clean and the low-128
    # magnitude must fit +-(10^38-1); outside -> NULL (lossless _hex remains).
    ext = F.substring(slot, 1, 32)
    low_hex = F.substring(slot, 33, 32)
    pos_limit = format(10**38 - 1, "x").rjust(32, "0")
    neg_limit = format(2**128 - (10**38 - 1), "x").rjust(32, "0")
    pos_ok = (~negative) & (ext == F.lit("0" * 32)) & (low_hex <= F.lit(pos_limit))
    neg_ok = negative & (ext == F.lit("f" * 32)) & (low_hex >= F.lit(neg_limit))
    return F.when(pos_ok | neg_ok, signed).otherwise(F.lit(None).cast("decimal(38,0)"))


def _decode_slot(slot: Column, abi_type: str) -> Column:
    if abi_type.endswith("]") or abi_type.startswith("("):
        # an ARRAY (dynamic or fixed-size) or TUPLE in a topic is the keccak
        # hash of its encoding (ABI spec); surface the raw slot — must be
        # checked before the uint/int prefixes or "uint256[]" would parse as
        # a numeric width
        return F.concat(F.lit("0x"), slot)
    if abi_type == "address":
        return slot_to_address(slot)
    if abi_type == "bool":
        return slot_to_bool(slot)
    if abi_type.startswith("uint"):
        bits = int(abi_type[4:] or "256")
        if bits <= 63:
            return slot_to_long(slot)
        return slot_to_decimal(slot)
    if abi_type.startswith("int"):
        bits = int(abi_type[3:] or "256")
        # <= 64 (not 63): int64's full two's-complement range IS LongType,
        # and abi_to_spark_type declares LongType for int bits <= 64 — the
        # decoded column must match the declared schema
        return slot_to_signed(slot, bits)
    if abi_type.startswith("bytes") and abi_type != "bytes":
        n = int(abi_type[5:])
        return F.concat(F.lit("0x"), F.substring(slot, 1, 2 * n))
    # dynamic types in topics are hashes; surface the raw slot
    return F.concat(F.lit("0x"), slot)


def topic_slot(topics: Column, i: int) -> Column:
    """i-th topic (0-based) as a 64-char lowercase hex slot (strips 0x)."""
    return F.lower(F.substring(F.get(topics, i), 3, _SLOT_HEX))


def data_slot(data_hex: Column, j: int) -> Column:
    """j-th 32-byte slot (0-based) of the ABI data section."""
    return F.substring(data_hex, j * _SLOT_HEX + 1, _SLOT_HEX)


_DYNAMIC_TYPES = ("string", "bytes")


def _at(data_hex: Column, pos: Column, n_chars: Column | int) -> Column:
    """Hex substring of ``n_chars`` starting at 1-based char position
    ``pos`` (LongType arithmetic upstream; Substring wants ints)."""
    n = F.lit(n_chars) if isinstance(n_chars, int) else n_chars
    return data_hex.substr(pos.cast("int"), n.cast("int"))


def _decode_value(data_hex: Column, pos: Column, abi_type: str) -> Column:
    """Decode the value whose ABI encoding starts at hex-char ``pos``
    (1-based) — THE general recursion over the full type lattice, covering
    what the reference ``todo!()``s entirely (eth_event_macro/src/lib.rs:
    108-111): dynamic string/bytes, arrays of any element type including
    nested ``T[][]`` and tuples, and tuples with static or dynamic
    components at any nesting depth.

    ``pos`` points at a static value's inline slots, or a dynamic value's
    tail. Layouts (ABI spec):

    - string/bytes tail: [32-byte length][payload, zero-padded];
    - ``T[]`` tail: [32-byte count][body], where the body is the tuple
      encoding of the k elements (inline for static T; per-element offset
      slots relative to the body start, then element tails, for dynamic T);
    - tuple: a head area — static components inline (their slot count),
      dynamic components as offset slots relative to the tuple's own
      encoding start — followed by the dynamic components' tails.

    Everything is column expressions (conv/substr/transform), so arbitrary
    nesting stays inside whole-stage codegen — no Python in the hot path.
    """
    from pyspark.sql.types import ArrayType

    from .schema import (
        abi_to_spark_type,
        is_dynamic_type,
        split_array,
        static_head_slots,
        tuple_components,
    )

    if abi_type in _DYNAMIC_TYPES:
        length_b = F.conv(_at(data_hex, pos, _SLOT_HEX), 16, 10).cast("long")
        payload_hex = _at(data_hex, pos + _SLOT_HEX, length_b * 2)
        if abi_type == "string":
            return F.decode(F.unhex(payload_hex), "UTF-8")
        return F.unhex(payload_hex)  # bytes -> BinaryType (matches schema)

    arr = split_array(abi_type)
    if arr is not None and arr[1] is None:  # dynamic T[]
        elem_t = arr[0]
        n = F.conv(_at(data_hex, pos, _SLOT_HEX), 16, 10).cast("long")
        body = pos + _SLOT_HEX  # ABI: element offsets are relative to here
        if is_dynamic_type(elem_t):
            fn = lambda i: _decode_value(  # noqa: E731
                data_hex,
                body
                + F.conv(
                    _at(data_hex, body + (i.cast("long") - 1) * _SLOT_HEX, _SLOT_HEX),
                    16,
                    10,
                ).cast("long")
                * 2,
                elem_t,
            )
        else:
            k = static_head_slots(elem_t)
            fn = lambda i: _decode_value(  # noqa: E731
                data_hex, body + (i.cast("long") - 1) * (k * _SLOT_HEX), elem_t
            )
        # sequence(1, 0) DESCENDS in Spark — the n = 0 case is handled below
        elems = F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)).cast("int")), fn
        )
        arr_type = ArrayType(abi_to_spark_type(elem_t))
        # NULL/truncated data -> n is NULL: surface NULL, never a fake empty
        # array that masks corruption
        return (
            F.when(n.isNull(), F.lit(None).cast(arr_type))
            .when(n > 0, elems)
            .otherwise(F.array().cast(arr_type))
        )

    if arr is not None:  # fixed-size T[k]: enc(X) = enc((X[0],...,X[k-1]))
        elem_t, k = arr
        elems = []
        if is_dynamic_type(elem_t):
            # per-element offset slots relative to the array's encoding start
            for i in range(k):
                off = F.conv(
                    _at(data_hex, pos + i * _SLOT_HEX, _SLOT_HEX), 16, 10
                ).cast("long")
                elems.append(_decode_value(data_hex, pos + off * 2, elem_t))
        else:
            es = static_head_slots(elem_t)
            for i in range(k):
                elems.append(_decode_value(data_hex, pos + i * es * _SLOT_HEX, elem_t))
        return F.array(*elems).cast(ArrayType(abi_to_spark_type(elem_t)))

    if abi_type.startswith("("):
        fields, off_slots = [], 0
        for i, ct in enumerate(tuple_components(abi_type)):
            comp_head = pos + off_slots * _SLOT_HEX
            if is_dynamic_type(ct):
                # offset slot, relative to the tuple's own encoding start
                tail = pos + F.conv(
                    _at(data_hex, comp_head, _SLOT_HEX), 16, 10
                ).cast("long") * 2
                fields.append(_decode_value(data_hex, tail, ct).alias(f"f{i}"))
                off_slots += 1
            else:
                fields.append(_decode_value(data_hex, comp_head, ct).alias(f"f{i}"))
                off_slots += static_head_slots(ct)
        return F.struct(*fields)

    return _decode_slot(_at(data_hex, pos, _SLOT_HEX), abi_type)


def decode_columns(event: EventSchema | str) -> dict[str, Column]:
    """Column expressions decoding a raw-log DataFrame's params.

    Expects columns ``topics: array<string>`` and ``data: binary``. Returns a
    dict param-name -> Column (plus ``<name>_hex`` lossless columns for wide
    numerics), in declaration order. Static data params decode from their
    head slot; dynamic (string/bytes) params follow the ABI offset to their
    tail. Indexed dynamic params are, per the ABI spec, keccak hashes of the
    value — surfaced as the hex hash.
    """
    from .schema import (
        _needs_lossless_hex,
        is_dynamic_type,
        static_head_slots,
        topic_is_hash,
    )

    if isinstance(event, str):
        event = parse_event_declaration(event)
    data_hex = F.lower(F.hex(F.col("data")))
    out: dict[str, Column] = {}
    # topics[0] is the signature hash (sink.rs:40) — EXCEPT for anonymous
    # events, which carry no signature topic: indexed params start at 0
    topic_i = 0 if event.anonymous else 1
    data_j = 0  # head-slot cursor in the data section
    for p in event.params:
        hex_slot: Column | None = None
        if p.indexed:
            slot = topic_slot(F.col("topics"), topic_i)
            topic_i += 1
            out[p.name] = _decode_slot(slot, p.type)
            if not topic_is_hash(p.type):
                # hashed topics (dynamic/array/tuple) are surfaced verbatim
                # as <name>; a _hex twin would merely duplicate that hash
                hex_slot = slot
        elif is_dynamic_type(p.type):
            head = data_slot(data_hex, data_j)
            pos = F.conv(head, 16, 10).cast("long") * 2 + 1
            out[p.name] = _decode_value(data_hex, pos, p.type)
            data_j += 1
            # head slot is an offset, not the value — no lossless hex
        else:
            k = static_head_slots(p.type)
            pos = F.lit(data_j * _SLOT_HEX + 1).cast("long")
            out[p.name] = _decode_value(data_hex, pos, p.type)
            # lossless hex = the value's FULL k-slot inline encoding
            hex_slot = (
                F.concat(*[data_slot(data_hex, data_j + i) for i in range(k)])
                if k > 1
                else data_slot(data_hex, data_j)
            )
            data_j += k
        if hex_slot is not None and _needs_lossless_hex(p.type):
            out[f"{p.name}_hex"] = F.concat(F.lit("0x"), hex_slot)
    return out


def decode_event(
    df: DataFrame,
    declaration: str,
    address: str | None = None,
    drop_removed: bool = True,
) -> DataFrame:
    """Filter a raw-log DataFrame to one event type and decode it.

    The batch analog of one reference ``Stream`` (stream.rs:14-30): a stream is
    identified by (contract address, topic0) — StreamSignature, sink.rs:34-42 —
    and rows are the decoded typed events. Filters are plain Catalyst
    predicates, so address/topic0/block-range prune at the Parquet scan.

    ``drop_removed`` applies the reorg guard (stream.rs:174-181) as a filter;
    callers wanting fail-fast semantics use ``assert_no_removed``.
    """
    event = parse_event_declaration(declaration)
    # the topic count is the event's indexed layout: a same-signature event
    # indexed differently (ERC-20 vs ERC-721 Transfer) is not selected
    cond = F.size(F.col("topics")) == len(event.indexed_params) + (0 if event.anonymous else 1)
    if not event.anonymous:
        # anonymous events have no topic0 signature — selection is by
        # address and topic count alone; `get` is null on an empty array
        # (a LOG0), where element_at raises under ANSI
        cond = cond & (F.get(F.col("topics"), 0) == F.lit(event.topic0))
    if address is not None:
        cond = cond & (F.col("address") == F.lit(address.lower()))
    if drop_removed and "removed" in df.columns:
        # a null `removed` counts as not removed, as in the eth_logs source
        cond = cond & ~F.coalesce(F.col("removed"), F.lit(False))
    decoded = decode_columns(event)
    fixed = [
        F.col("block_number").cast("long").alias("block_number"),
        F.col("transaction_hash"),
        F.col("address"),
        F.col("log_index").cast("long").alias("log_index"),
    ]
    return df.filter(cond).select(
        *fixed, *[c.alias(name) for name, c in decoded.items()]
    )


def assert_no_removed(df: DataFrame) -> DataFrame:
    """Fail-fast reorg policy (stream.rs:174-181): error on removed=true
    rows; a null ``removed`` counts as not removed.

    Expressed as a filter on ``assert_true`` so the check runs distributed and
    cannot be pruned away by the optimizer (a dropped projection column would
    be; a filter condition never is).
    """
    check = F.assert_true(
        ~F.coalesce(F.col("removed"), F.lit(False)),
        F.lit("removed log encountered — increase confirmation blocks"),
    )
    return df.filter(check.isNull())
