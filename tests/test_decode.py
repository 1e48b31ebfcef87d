"""Decode operators: event/call decode on constructed rows, the
Decimal(38,0) clamp policy, and the D-4/D-5 extraction ops."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.functions.abi_codec import encode_abi
from datawaves_etl_airflow_spark.operators import enrich
from datawaves_etl_airflow_spark.operators.decode import (
    TRANSFER_TOPIC0,
    decode_call_functions,
    decode_log_events,
    decoded_table_name,
    extract_contracts,
    extract_token_transfers,
)
from datawaves_etl_airflow_spark.queries.domain import (
    TRANSFER_EVENT,
    TRANSFER_FUNCTION,
)
from datawaves_etl_airflow_spark.schemas.abi import AbiElement, AbiInput

ADDR_A = "0x" + "aa" * 20
ADDR_B = "0x" + "bb" * 20


def _word_addr(a: str) -> str:
    return "0x" + "0" * 24 + a[2:]


def _enriched_logs(spark, rows):
    """rows: (log_index, topics list, data hex-str, address)"""
    data = [
        (
            i,
            f"0xt{i}",
            0,
            addr,
            dhex,
            ",".join(topics),
            100,
        )
        for i, (topics, dhex, addr) in enumerate(rows)
    ]
    raw = spark.createDataFrame(
        data,
        ["log_index", "transaction_hash", "transaction_index", "address",
         "data", "topics", "block_number"],
    ).withColumn("block_hash", F.lit("0xb"))
    blocks = spark.createDataFrame(
        [(100, "0xb100", 1_700_000_000)], ["number", "hash", "timestamp"]
    )
    return enrich.enrich_logs(raw, blocks)


class TestEventDecode:
    def test_transfer_decode(self, spark):
        value = 12345678901234567890  # > 2^63: needs real 256-bit path
        logs = _enriched_logs(spark, [
            ([TRANSFER_TOPIC0, _word_addr(ADDR_A), _word_addr(ADDR_B)],
             "0x" + format(value, "064x"), "0xtoken"),
            (["0xdead"], "0x00", "0xother"),  # non-matching selector
        ])
        out = decode_log_events(logs, TRANSFER_EVENT).collect()
        assert len(out) == 1
        r = out[0]
        assert r["from"] == ADDR_A
        assert r["to"] == ADDR_B
        assert r["value"] == Decimal(value)
        assert r["contract_address"] == "0xtoken"
        assert r["evt_block_number"] == 100

    def test_contract_address_filter(self, spark):
        logs = _enriched_logs(spark, [
            ([TRANSFER_TOPIC0, _word_addr(ADDR_A), _word_addr(ADDR_B)],
             "0x" + format(1, "064x"), "0xtok1"),
            ([TRANSFER_TOPIC0, _word_addr(ADDR_A), _word_addr(ADDR_B)],
             "0x" + format(2, "064x"), "0xtok2"),
        ])
        out = decode_log_events(
            logs, TRANSFER_EVENT, contract_address="0xtok1"
        ).collect()
        assert len(out) == 1
        assert out[0]["value"] == Decimal(1)

    def test_decimal38_clamp_to_null(self, spark):
        """>38-digit uint256 → null (the reference clamp policy)."""
        big = 10**38  # 39 digits
        logs = _enriched_logs(spark, [
            ([TRANSFER_TOPIC0, _word_addr(ADDR_A), _word_addr(ADDR_B)],
             "0x" + format(big, "064x"), "0xtoken"),
        ])
        out = decode_log_events(logs, TRANSFER_EVENT).collect()
        assert out[0]["value"] is None
        assert out[0]["from"] == ADDR_A  # other fields still decode

    def test_malformed_data_nulls_row(self, spark):
        logs = _enriched_logs(spark, [
            ([TRANSFER_TOPIC0, _word_addr(ADDR_A), _word_addr(ADDR_B)],
             "0x01", "0xtoken"),  # truncated data word
        ])
        out = decode_log_events(logs, TRANSFER_EVENT).collect()
        assert len(out) == 1
        assert out[0]["value"] is None

    def test_dynamic_event_params(self, spark):
        el = AbiElement.from_dict({
            "type": "event", "name": "Note",
            "inputs": [
                {"name": "who", "type": "address", "indexed": True},
                {"name": "memo", "type": "string"},
                {"name": "amounts", "type": "uint256[]"},
            ],
        })
        payload = encode_abi(
            [AbiInput("memo", "string"), AbiInput("amounts", "uint256[]")],
            ["hello", [1, 2, 3]],
        )
        logs = _enriched_logs(spark, [
            ([el.event_topic0(), _word_addr(ADDR_A)],
             "0x" + payload.hex(), "0xc"),
        ])
        out = decode_log_events(logs, el).collect()
        assert out[0]["memo"] == "hello"
        assert out[0]["amounts"] == [Decimal(1), Decimal(2), Decimal(3)]
        assert out[0]["who"] == ADDR_A


def _enriched_traces(spark, rows):
    """rows: (input hex, output hex, status, to_address)"""
    data = [
        (100, f"0xt{i}", 0, "0xfrom", to, inp, outp, "call", "call", None,
         1, 1, 0, "[]", None, status, f"id{i}")
        for i, (inp, outp, status, to) in enumerate(rows)
    ]
    raw = spark.createDataFrame(
        data,
        "block_number long, transaction_hash string, transaction_index long,"
        "from_address string, to_address string, input string, output string,"
        "trace_type string, call_type string, reward_type string, gas long,"
        "gas_used long, subtraces long, trace_address string, error string,"
        "status long, trace_id string",
    ).withColumn("value", F.lit(None).cast("decimal(38,0)"))
    blocks = spark.createDataFrame(
        [(100, "0xb100", 1_700_000_000)], ["number", "hash", "timestamp"]
    )
    return enrich.enrich_traces(raw, blocks)


class TestCallDecode:
    def test_transfer_call(self, spark):
        sel = TRANSFER_FUNCTION.function_selector()
        inp = sel + _word_addr(ADDR_B)[2:] + format(77, "064x")
        traces = _enriched_traces(spark, [
            (inp, "0x" + format(1, "064x"), 1, ADDR_A),
            ("0xdeadbeef" + "00" * 64, "0x", 1, ADDR_A),  # other selector
        ])
        out = decode_call_functions(traces, TRANSFER_FUNCTION).collect()
        assert len(out) == 1
        r = out[0]
        assert r["to"] == ADDR_B
        assert r["value"] == Decimal(77)
        assert r["output_0"] is True
        assert r["call_success"] is True
        assert r["contract_address"] == ADDR_A

    def test_failed_call_and_empty_output(self, spark):
        sel = TRANSFER_FUNCTION.function_selector()
        inp = sel + _word_addr(ADDR_B)[2:] + format(5, "064x")
        traces = _enriched_traces(spark, [(inp, "0x", 0, ADDR_A)])
        r = decode_call_functions(traces, TRANSFER_FUNCTION).collect()[0]
        assert r["call_success"] is False
        assert r["output_0"] is None
        assert r["value"] == Decimal(5)

    def test_table_name(self):
        assert decoded_table_name("seaport", "Seaport", TRANSFER_EVENT) == (
            "seaport.Seaport_evt_Transfer"
        )
        assert decoded_table_name("erc20", "Token", TRANSFER_FUNCTION) == (
            "erc20.Token_call_transfer"
        )


class TestExtraction:
    def test_extract_token_transfers(self, spark):
        raw = spark.createDataFrame(
            [
                (0, "0xt0", 0, "0xb", 100, "0xtoken",
                 "0x" + format(99, "064x"),
                 ",".join([TRANSFER_TOPIC0, _word_addr(ADDR_A),
                           _word_addr(ADDR_B)])),
                (1, "0xt1", 0, "0xb", 100, "0xother", "0x00", "0xdead"),
            ],
            ["log_index", "transaction_hash", "transaction_index",
             "block_hash", "block_number", "address", "data", "topics"],
        )
        out = extract_token_transfers(raw).collect()
        assert len(out) == 1
        assert out[0]["token_address"] == "0xtoken"
        assert out[0]["from_address"] == ADDR_A
        assert out[0]["value"] == Decimal(99)

    def test_truncated_word_is_null_in_both_decoders(self, spark):
        """One Transfer log with a 16-byte data field: D-1 rejects it
        as malformed, and D-4 follows the same rule."""
        topics = [TRANSFER_TOPIC0, _word_addr(ADDR_A), _word_addr(ADDR_B)]
        data = "0x" + format(99, "032x")  # 16 bytes, half a word
        d1 = decode_log_events(
            _enriched_logs(spark, [(topics, data, "0xtoken")]), TRANSFER_EVENT
        ).collect()
        raw = spark.createDataFrame(
            [(0, "0xt0", 0, "0xb", 100, "0xtoken", data, ",".join(topics))],
            ["log_index", "transaction_hash", "transaction_index",
             "block_hash", "block_number", "address", "data", "topics"],
        )
        d4 = extract_token_transfers(raw).collect()
        assert len(d1) == len(d4) == 1
        assert d1[0]["value"] is None
        assert d4[0]["value"] is None

    def test_extract_contracts_erc20(self, spark):
        erc20_sels = ["18160ddd", "70a08231", "a9059cbb", "23b872dd",
                      "095ea7b3", "dd62ed3e"]
        bytecode = "0x6080" + "".join(f"63{s}14" for s in erc20_sels)
        traces = spark.createDataFrame(
            [
                (100, "create", 1, "0xnew", bytecode),
                (100, "create", 0, "0xfail", bytecode),  # failed create
                (100, "call", 1, "0xcall", "0x"),
            ],
            ["block_number", "trace_type", "status", "to_address", "output"],
        )
        out = extract_contracts(traces).collect()
        assert len(out) == 1
        r = out[0]
        assert r["address"] == "0xnew"
        assert r["is_erc20"] is True
        assert r["is_erc721"] is False
        assert "0xa9059cbb" in r["function_sighashes"]


class TestSeaportEndToEnd:
    """decode_log_events over the nested tuple[] OrderFulfilled shape —
    the driver's evt_seaport_decode query, value-asserted here."""

    def test_nested_tuple_decode_values(self, spark):
        from datawaves_etl_airflow_spark.queries.domain import (
            evt_seaport_decode,
        )

        rows = {r["evt_tx_hash"]: r for r in
                evt_seaport_decode(spark, "").collect()}
        assert len(rows) == 3
        for i in range(3):
            r = rows[f"0xtx{i}"]
            # indexed address from topics[1]
            assert r["offerer"] == "0x" + f"{i + 1:064x}"[-40:]
            # non-indexed address from data
            assert r["recipient"] == "0x" + "aa" * 20
            assert r["orderHash"] == "0x" + f"{i:02x}" * 32
            assert r["n_offer"] == i + 1
            # decimal compared as a digit string (driver hash-stability rule)
            assert r["first_offer_amount"] == str(1000 * (i + 1))
            assert r["consideration_recipient"] == "0x" + "fe" * 20
