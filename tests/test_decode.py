"""Decode operator vs a pure-Python ABI oracle — ports the macro decoder
semantics (/root/reference/eth_event_macro/src/lib.rs:119-154)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from eth_event_stream_spark.functions.decode import assert_no_removed, decode_event
from eth_event_stream_spark.sources.fixtures import ADDR_A, TRANSFER_DECL


def _py_decode(row):
    """Reference-equivalent decode in plain Python (the oracle)."""
    src = "0x" + row["topics"][1][-40:]
    dst = "0x" + row["topics"][2][-40:]
    value = int.from_bytes(row["data"], "big")
    return src, dst, value


def test_decode_matches_python_oracle(spark, eth_logs_fixture, eth_logs):
    fx, _ = eth_logs_fixture
    decoded = decode_event(eth_logs, TRANSFER_DECL, address=ADDR_A)
    got = {
        (r["block_number"], r["log_index"]): r
        for r in decoded.collect()
    }
    expected = {}
    for row in fx.rows:
        if row["address"] != ADDR_A or row["removed"]:
            continue
        expected[(row["block_number"], row["log_index"])] = _py_decode(row)

    assert set(got) == set(expected)
    for key, (src, dst, value) in expected.items():
        r = got[key]
        assert r["from"] == src
        assert r["to"] == dst
        assert r["value_hex"] == "0x" + format(value, "x").rjust(64, "0")
        if value < 10**38:
            assert r["value"] == Decimal(value), (key, value)
        else:
            assert r["value"] is None  # out of decimal range -> NULL, hex lossless


def test_decode_fixed_columns(spark, eth_logs):
    decoded = decode_event(eth_logs, TRANSFER_DECL, address=ADDR_A)
    assert decoded.columns == [
        "block_number",
        "transaction_hash",
        "address",
        "log_index",
        "from",
        "to",
        "value",
        "value_hex",
    ]
    assert decoded.filter(F.col("address") != ADDR_A).count() == 0


def test_golden_count(spark, eth_logs_fixture, eth_logs):
    """Analog of the reference's '56 USDC logs' golden (stream.rs:371)."""
    fx, _ = eth_logs_fixture
    n = (
        decode_event(eth_logs, TRANSFER_DECL, address=ADDR_A)
        .dropDuplicates(["block_number", "log_index"])
        .count()
    )
    assert n == fx.golden_count_a
    assert n > 0


def test_assert_no_removed_raises(spark, eth_logs):
    import py4j.protocol

    with pytest.raises(Exception) as ei:
        assert_no_removed(eth_logs).count()
    assert "confirmation blocks" in str(ei.value)


def test_decimal_edge_values(spark, eth_logs_fixture, eth_logs):
    """The fixture plants 2^64, 10^38-1 (fits), 10^38+12345 and 2^127+7."""
    decoded = decode_event(eth_logs, TRANSFER_DECL).dropDuplicates(
        ["block_number", "log_index"]
    )
    vals = {r["value_hex"]: r["value"] for r in decoded.collect()}

    def hx(v):
        return "0x" + format(v, "x").rjust(64, "0")

    assert vals[hx(2**64)] == Decimal(2**64)
    assert vals[hx(10**38 - 1)] == Decimal(10**38 - 1)
    assert vals[hx(10**38 + 12345)] is None
    assert vals[hx(2**127 + 7)] is None


def test_dynamic_string_and_bytes_decode(spark):
    """Dynamic ABI types (string/bytes) decode via head/tail offsets — the
    reference todo!()s these (eth_event_macro/src/lib.rs:108-111)."""
    decl = "Note(address indexed sender, string message, uint value, bytes blob)"

    def enc_dynamic(payload: bytes) -> bytes:
        n = len(payload)
        padded = payload + b"\x00" * ((32 - n % 32) % 32)
        return n.to_bytes(32, "big") + padded

    def build_data(message: str, value: int, blob: bytes) -> bytes:
        # heads: [offset(message), value, offset(blob)] then tails in order
        msg_t = enc_dynamic(message.encode())
        head_size = 3 * 32
        off_msg = head_size
        off_blob = head_size + len(msg_t)
        return (
            off_msg.to_bytes(32, "big")
            + value.to_bytes(32, "big")
            + off_blob.to_bytes(32, "big")
            + msg_t
            + enc_dynamic(blob)
        )

    from eth_event_stream_spark.functions.schema import parse_event_declaration

    ev = parse_event_declaration(decl)
    sender = "0x" + "ab" * 20
    cases = [
        ("hello world", 12345, b"\x01\x02\x03"),
        ("", 0, b""),  # empty dynamic values
        ("x" * 75, 2**64, bytes(range(40))),  # >1 slot payloads
    ]
    rows = [
        {
            "address": "0x" + "11" * 20,
            "topics": [ev.topic0, "0x" + "00" * 12 + sender[2:]],
            "data": build_data(m, v, b),
            "block_number": 1,
            "log_index": i,
            "transaction_hash": f"0x{i:064x}",
            "removed": False,
        }
        for i, (m, v, b) in enumerate(cases)
    ]
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field("address", pa.string()),
            pa.field("topics", pa.list_(pa.string())),
            pa.field("data", pa.binary()),
            pa.field("block_number", pa.int64()),
            pa.field("log_index", pa.int64()),
            pa.field("transaction_hash", pa.string()),
            pa.field("removed", pa.bool_()),
        ]
    )
    tbl = pa.table({k: [r[k] for r in rows] for k in schema.names}, schema=schema)
    df = spark.createDataFrame(tbl.to_pandas(), schema=None)

    out = {r["log_index"]: r for r in decode_event(df, decl).collect()}
    for i, (m, v, b) in enumerate(cases):
        r = out[i]
        assert r["sender"] == sender
        assert r["message"] == m
        assert r["value"] == __import__("decimal").Decimal(v)
        assert bytes(r["blob"] or b"") == b


def test_signed_int_decode(spark):
    """Two's-complement intN decode across width classes (the reference
    supports no int types at all)."""
    decl = "Deltas(int8 small, int64 mid, int128 wide, int256 huge)"
    from eth_event_stream_spark.functions.schema import parse_event_declaration

    ev = parse_event_declaration(decl)

    def slot_signed(v: int) -> bytes:
        return (v % 2**256).to_bytes(32, "big")

    cases = [
        (-5, -(2**40), -(2**100), -(2**130)),      # huge out of decimal range? no: 2^130 ~ 1.4e39 > 1e38-1 -> NULL
        (127, 2**62, 2**120, 10**37),
        (-128, -(2**62), -(2**120), -(10**37)),
        (0, 0, 0, 0),
    ]
    rows = [
        {
            "address": "0x" + "22" * 20,
            "topics": [ev.topic0],
            "data": b"".join(slot_signed(v) for v in vs),
            "block_number": 1,
            "log_index": i,
            "transaction_hash": f"0x{i:064x}",
            "removed": False,
        }
        for i, vs in enumerate(cases)
    ]
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field("address", pa.string()),
            pa.field("topics", pa.list_(pa.string())),
            pa.field("data", pa.binary()),
            pa.field("block_number", pa.int64()),
            pa.field("log_index", pa.int64()),
            pa.field("transaction_hash", pa.string()),
            pa.field("removed", pa.bool_()),
        ]
    )
    tbl = pa.table({k: [r[k] for r in rows] for k in schema.names}, schema=schema)
    df = spark.createDataFrame(tbl.to_pandas())
    out = {r["log_index"]: r for r in decode_event(df, decl).collect()}
    from decimal import Decimal

    for i, (s, m, w, h) in enumerate(cases):
        r = out[i]
        assert r["small"] == s, (i, "small", r["small"])
        assert r["mid"] == m, (i, "mid", r["mid"])
        assert r["wide"] == Decimal(w), (i, "wide", r["wide"])
        if abs(h) <= 10**38 - 1:
            assert r["huge"] == Decimal(h), (i, "huge", r["huge"])
        else:
            assert r["huge"] is None
        # lossless hex is always present for wide ints
        assert r["huge_hex"] == "0x" + (h % 2**256).to_bytes(32, "big").hex()


def test_anonymous_event_decode(spark):
    """Anonymous events carry no signature topic: selection is by shape, and
    indexed params start at topics[0]."""
    decl = "Ping(uint32 indexed code, uint64 n) anonymous"
    rows = [
        {
            "address": "0x" + "44" * 20,
            "topics": ["0x" + format(7, "x").rjust(64, "0")],  # indexed code=7 at [0]
            "data": (99).to_bytes(32, "big"),
            "block_number": 1,
            "log_index": 0,
            "transaction_hash": "0x0",
            "removed": False,
        }
    ]
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field("address", pa.string()),
            pa.field("topics", pa.list_(pa.string())),
            pa.field("data", pa.binary()),
            pa.field("block_number", pa.int64()),
            pa.field("log_index", pa.int64()),
            pa.field("transaction_hash", pa.string()),
            pa.field("removed", pa.bool_()),
        ]
    )
    tbl = pa.table({k: [r[k] for r in rows] for k in schema.names}, schema=schema)
    df = spark.createDataFrame(tbl.to_pandas())
    out = decode_event(df, decl).collect()
    assert len(out) == 1
    assert out[0]["code"] == 7
    assert out[0]["n"] == 99


def test_decoded_schema_matches_declared(spark, eth_logs):
    """The decode output's param types must equal event_schema's declaration
    (int64 -> LongType; indexed dynamic -> StringType hash)."""
    from eth_event_stream_spark.functions.schema import event_schema

    decl = "Mix(int64 a, uint256 v, string indexed s)"
    declared = event_schema(decl, include_fixed=False)
    decoded = decode_event(eth_logs.limit(0), decl)  # schema only
    got = {f.name: f.dataType for f in decoded.schema.fields}
    for f in declared.fields:
        assert got[f.name] == f.dataType, (f.name, got[f.name], f.dataType)


def test_dynamic_array_decode(spark):
    """Dynamic T[] params decode to typed Spark arrays via head/tail offsets
    — beyond the reference macro's cast layer (ethabi parses them; the
    macro's cast helpers predate arrays). Covers uint256[] + address[]
    alongside another dynamic tail, and the empty-array edge (where Spark's
    descending sequence() would otherwise fabricate elements)."""
    decl = "Sweep(address indexed who, uint256[] amounts, address[] targets)"

    def enc_array(elems: list[bytes]) -> bytes:
        return len(elems).to_bytes(32, "big") + b"".join(elems)

    def build_data(amounts: list[int], targets: list[str]) -> bytes:
        a_t = enc_array([v.to_bytes(32, "big") for v in amounts])
        t_t = enc_array([bytes(12) + bytes.fromhex(t[2:]) for t in targets])
        head = 2 * 32
        return (
            head.to_bytes(32, "big")
            + (head + len(a_t)).to_bytes(32, "big")
            + a_t
            + t_t
        )

    from eth_event_stream_spark.functions.schema import parse_event_declaration

    ev = parse_event_declaration(decl)
    who = "0x" + "cd" * 20
    t1, t2 = "0x" + "1a" * 20, "0x" + "2b" * 20
    cases = [
        ([1, 2**120, 3], [t1, t2]),
        ([], []),  # empty arrays
        ([2**256 - 1], [t2]),  # > DECIMAL(38,0): element decodes NULL
    ]
    rows = [
        {
            "address": "0x" + "11" * 20,
            "topics": [ev.topic0, "0x" + "00" * 12 + who[2:]],
            "data": build_data(a, t),
            "block_number": 1,
            "log_index": i,
            "transaction_hash": f"0x{i:064x}",
            "removed": False,
        }
        for i, (a, t) in enumerate(cases)
    ]
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field("address", pa.string()),
            pa.field("topics", pa.list_(pa.string())),
            pa.field("data", pa.binary()),
            pa.field("block_number", pa.int64()),
            pa.field("log_index", pa.int64()),
            pa.field("transaction_hash", pa.string()),
            pa.field("removed", pa.bool_()),
        ]
    )
    tbl = pa.table({k: [r[k] for r in rows] for k in schema.names}, schema=schema)
    df = spark.createDataFrame(tbl.to_pandas(), schema=None)

    out = {r["log_index"]: r for r in decode_event(df, decl).collect()}
    from decimal import Decimal

    r0 = out[0]
    assert r0["who"] == who
    assert r0["amounts"] == [Decimal(1), Decimal(2**120), Decimal(3)]
    assert r0["targets"] == [t1, t2]
    assert out[1]["amounts"] == [] and out[1]["targets"] == []
    # uint256 beyond 10^38-1 -> NULL element (lossy-range policy, same as
    # the scalar path; the raw data stays available upstream)
    assert out[2]["amounts"] == [None]
    assert out[2]["targets"] == [t2]


def test_sum_uint256_exact_full_domain(spark):
    """sum_uint256 is exact over the full uint256 domain — including the
    values slot_to_decimal NULLs (>= 10^38) and the reference wraps
    (>= 2^127, examples/stream_multi.rs:59). Oracle: Python bignum."""
    import random

    from eth_event_stream_spark.functions.decode import sum_uint256

    rng = random.Random(20260814)
    vals = [
        0,
        1,
        2**64 - 1,
        10**38 - 1,
        10**38,  # first NULL of the decode surface
        2**127,  # the reference's wrap point
        2**128 - 1,
        2**255,
        2**256 - 1,
    ] + [rng.getrandbits(rng.choice([32, 64, 96, 128, 160, 224, 256])) for _ in range(50)]
    rows = [("0x" + format(v, "x").rjust(64, "0"),) for v in vals]
    df = spark.createDataFrame(rows, "value_hex string")
    got = sum_uint256(df, "value_hex").collect()[0]
    expected = sum(vals)
    assert got["n_values"] == len(vals)
    total = (
        int(got["sum_top"]) * 2**192
        + int(got["sum_hi"]) * 2**96
        + int(got["sum_lo"])
    )
    assert total == expected
    assert 0 <= int(got["sum_lo"]) < 2**96
    assert 0 <= int(got["sum_hi"]) < 2**96


def test_sum_uint256_empty_and_null(spark):
    from eth_event_stream_spark.functions.decode import sum_uint256

    empty = spark.createDataFrame([], "value_hex string")
    row = sum_uint256(empty, "value_hex").collect()[0]
    assert (
        row["n_values"], int(row["sum_top"]), int(row["sum_hi"]), int(row["sum_lo"])
    ) == (0, 0, 0, 0)

    with_null = spark.createDataFrame(
        [("0x" + format(7, "x").rjust(64, "0"),), (None,)], "value_hex string"
    )
    row = sum_uint256(with_null, "value_hex").collect()[0]
    assert (
        row["n_values"], int(row["sum_top"]), int(row["sum_hi"]), int(row["sum_lo"])
    ) == (1, 0, 0, 7)


def test_sum_uint256_case_insensitive_prefix_and_digits(spark):
    """'0X'-prefixed and uppercase-digit hex sum identically to lowercase —
    the prefix strip must run on the LOWERCASED string (an un-stripped '0X'
    would shift every lane offset by 2 and silently mis-sum)."""
    from eth_event_stream_spark.functions.decode import sum_uint256

    vals = [2**255 + 12345, 2**96 - 1, 7]
    variants = [
        [("0x" + format(v, "x").rjust(64, "0"),) for v in vals],
        [("0X" + format(v, "X").rjust(64, "0"),) for v in vals],
        [(format(v, "x").rjust(64, "0"),) for v in vals],  # bare, no prefix
    ]
    results = []
    for rows in variants:
        got = sum_uint256(
            spark.createDataFrame(rows, "value_hex string"), "value_hex"
        ).collect()[0]
        results.append(
            (got["n_values"], int(got["sum_top"]), int(got["sum_hi"]), int(got["sum_lo"]))
        )
    assert results[0] == results[1] == results[2]
    total = results[0][1] * 2**192 + results[0][2] * 2**96 + results[0][3]
    assert total == sum(vals)


def _logs(spark, rows):
    """A raw-log frame from (address, topics, data, block, removed) rows."""
    from eth_event_stream_spark.sources.block_source import ETH_LOG_SCHEMA

    return spark.createDataFrame(
        [(a, t, d, b, 0, "0x0", r) for a, t, d, b, r in rows], ETH_LOG_SCHEMA
    )


def _transfer_topics(tail=()):
    from eth_event_stream_spark.sources.fixtures import TRANSFER_TOPIC0

    pad = "0x" + "00" * 12
    return [TRANSFER_TOPIC0, pad + "11" * 20, pad + "22" * 20, *tail]


def test_null_removed_counts_as_not_removed(spark):
    """A null ``removed`` is not removed, as in the eth_logs source: decode
    keeps it and ``assert_no_removed`` lets it through."""
    value = (5).to_bytes(32, "big")
    df = _logs(
        spark,
        [(ADDR_A, _transfer_topics(), value, b, r) for b, r in [(1, None), (2, False), (3, True)]],
    )
    got = sorted(r["block_number"] for r in decode_event(df, TRANSFER_DECL).collect())
    assert got == [1, 2]
    assert assert_no_removed(df.filter("block_number < 3")).count() == 2
    with pytest.raises(Exception, match="confirmation blocks"):
        assert_no_removed(df).count()


def test_decode_selects_by_topic_layout_under_ansi(spark):
    """Under ANSI a LOG0 (empty ``topics``) and a null ``topics`` are not
    selected instead of failing the read, and a same-signature event with
    another indexed layout (ERC-721 ``Transfer``, tokenId indexed) is not
    selected."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    value = (7).to_bytes(32, "big")
    df = _logs(
        spark,
        [
            (ADDR_A, [], b"", 1, False),
            (ADDR_A, None, b"", 2, False),
            (ADDR_A, _transfer_topics(["0x" + "00" * 31 + "09"]), b"", 3, False),
            (ADDR_A, _transfer_topics(), value, 4, False),
        ],
    )
    out = decode_event(df, TRANSFER_DECL).collect()
    assert [(r["block_number"], r["value"]) for r in out] == [(4, 7)]
