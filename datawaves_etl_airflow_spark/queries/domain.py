"""Blockchain-domain query corpus on deterministic fixtures.

Exercises the reference's own operator surface (SURVEY.md §2) end to
end: staging scans → enrich joins/projections → verify aggregates →
ABI decode/extraction → prices fill. Fixtures are one synthetic day in
the reference's export layout (``testing.fixtures``); the DuckDB
oracles read the very same JSON/CSV/parquet files.

Murmur3 hash-bucket columns (``address_hash``/``selector_hash``) are
deliberately absent from compared projections — DuckDB cannot reproduce
Spark's hash(); their stability is pinned in tests/ instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import enrich
from ..operators.decode import (
    ERC20_SELECTORS,
    ERC721_SELECTORS,
    decode_call_functions,
    decode_log_events,
    extract_contracts,
    extract_token_transfers,
)
from ..operators.prices import fill_price_minutes
from ..operators.verify import _root_traces
from ..schemas.abi import AbiElement
from ..schemas.staging import STAGING_SCHEMAS, staging_schema
from ..sources.staging import read_staging
from ..testing import fixtures as fx
from ..testing.fixtures import ensure_fixtures

__all__ = ["QUERIES", "ORACLES", "ensure_fixtures"]

# Public ERC-20 ABI elements (from the ERC-20 standard), used by the
# decode queries; the reference ships the same ABI at
# dags/resources/contracts/ethereum/common/erc20.json.
TRANSFER_EVENT = AbiElement.from_dict({
    "type": "event",
    "name": "Transfer",
    "inputs": [
        {"name": "from", "type": "address", "indexed": True},
        {"name": "to", "type": "address", "indexed": True},
        {"name": "value", "type": "uint256", "indexed": False},
    ],
})
TRANSFER_FUNCTION = AbiElement.from_dict({
    "type": "function",
    "name": "transfer",
    "inputs": [
        {"name": "to", "type": "address"},
        {"name": "value", "type": "uint256"},
    ],
    "outputs": [{"name": "", "type": "bool"}],
})


def _staged(spark: SparkSession, table: str) -> DataFrame:
    ensure_fixtures()
    fmt = "csv" if table == "prices" else "json"
    return read_staging(spark, table, fx.export_file(table, fmt))


# --------------------------------------------------------------------------
# S-1 / S-2: schema-on-read staging scans
# --------------------------------------------------------------------------

def _wei_str(df: DataFrame, *cols: str) -> DataFrame:
    """Cast DECIMAL(38,0) wei columns to string for the compared
    projection — the driver's DuckDB→pandas fetch coerces DECIMAL to
    float64, so decimals can never hash-match; digit strings do
    ('123' == '123' in both engines, NULLs stay NULL)."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("string"))
    return df


def s1_staging_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-1: explicit-schema JSON scan (blocks), narrow projection."""
    return _wei_str(
        _staged(spark, "blocks").select(
            "number", "hash", "miner", "difficulty", "gas_used", "timestamp"
        ),
        "difficulty",
    )


def s2_staging_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-2: header CSV scan (prices — the only CSV loader)."""
    return _staged(spark, "prices").select(
        "minute", "price", "decimals", "contract_address", "symbol", "dt"
    )


# --------------------------------------------------------------------------
# Enrich family (P-1..P-3, J-1..J-7)
# --------------------------------------------------------------------------

def d_enrich_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wei_str(
        enrich.enrich_blocks(_staged(spark, "blocks")),
        "difficulty",
        "total_difficulty",
    )


def d_enrich_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wei_str(
        enrich.enrich_transactions(
            _staged(spark, "transactions"),
            _staged(spark, "blocks"),
            _staged(spark, "receipts"),
        ),
        "value",
    )


def d_enrich_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = enrich.enrich_logs(_staged(spark, "logs"), _staged(spark, "blocks"))
    return out.select(
        "log_index", "transaction_hash", "transaction_index", "address",
        "block_timestamp", "block_number", "block_hash", "selector",
        F.size("topics_arr").alias("n_topics"),
        F.array_join("topics_arr", "|").alias("topics_joined"),
        F.hex("unhex_data").alias("data_hex"),
    )


def d_enrich_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _wei_str(
        enrich.enrich_traces(_staged(spark, "traces"), _staged(spark, "blocks")),
        "value",
    )
    return out.select(
        "transaction_hash", "from_address", "to_address", "value",
        "trace_type", "trace_address", "status", "selector",
        "block_timestamp", "block_number", "block_hash",
        F.hex("unhex_input").alias("input_hex"),
        F.hex("unhex_output").alias("output_hex"),
    )


def d_enrich_geth_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _wei_str(
        enrich.enrich_geth_traces(
            _staged(spark, "geth_traces"),
            _staged(spark, "blocks"),
            _staged(spark, "transactions"),
        ),
        "value",
    )
    return out.select(
        "transaction_hash", "transaction_index", "from_address", "to_address",
        "value", "trace_type", "trace_address", "selector",
        "block_timestamp", "block_number",
    )


def d_enrich_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich.enrich_contracts(
        _staged(spark, "contracts"), _staged(spark, "blocks")
    )


def d_enrich_token_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wei_str(
        enrich.enrich_token_transfers(
            _staged(spark, "token_transfers"), _staged(spark, "blocks")
        ),
        "value",
    )


def d_new_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_fixtures()
    staged = _staged(spark, "tokens")
    existing = spark.read.parquet(fx.warehouse_tokens_path())
    return enrich.new_tokens(staged, existing)


def d_prices_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-12: 5-minute ticks → 1-minute grain via explode(sequence)."""
    ensure_fixtures()
    raw = (
        spark.read.schema(staging_schema("prices"))
        .option("header", True)
        .csv(fx.prices_raw_path())
    )
    return fill_price_minutes(raw)


# --------------------------------------------------------------------------
# Verify aggregates (A-1, A-2, P-4, P-5) expressed as plans
# --------------------------------------------------------------------------

def d_verify_have_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-1 plan: partition-count existence check for the fixture day."""
    blocks = enrich.enrich_blocks(_staged(spark, "blocks"))
    return blocks.filter(
        F.to_date("timestamp") == F.lit(fx.DS).cast("date")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def d_verify_root_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-2/P-5 plan: #root traces (null-skipping count) vs #transactions."""
    traces = _staged(spark, "traces")
    txs = _staged(spark, "transactions")
    n_root = _root_traces(traces).agg(
        F.count("transaction_hash").alias("n_root")
    )
    n_tx = txs.agg(F.count(F.lit(1)).alias("n_tx"))
    return n_root.crossJoin(n_tx)


# --------------------------------------------------------------------------
# Decode (D-1, D-2, D-4, D-5)
# --------------------------------------------------------------------------

def evt_transfer_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-1: ABI event decode of ERC-20 Transfer over enriched logs."""
    logs = enrich.enrich_logs(_staged(spark, "logs"), _staged(spark, "blocks"))
    return _wei_str(decode_log_events(logs, TRANSFER_EVENT), "value")


def call_transfer_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-2: ABI function-call decode of transfer(address,uint256)."""
    traces = enrich.enrich_traces(_staged(spark, "traces"), _staged(spark, "blocks"))
    return _wei_str(decode_call_functions(traces, TRANSFER_FUNCTION), "value")


def d4_token_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-4: Transfer extraction from RAW logs (pre-warehouse)."""
    return _wei_str(extract_token_transfers(_staged(spark, "logs")), "value")


def d5_extract_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-5: contract extraction from create traces (PUSH4 sighash scan)."""
    return extract_contracts(_staged(spark, "traces"))


# OrderFulfilled from the public Seaport 1.x ABI (OpenSea protocol,
# published standard) — the hardest decode shape the reference parses:
# nested tuple[] arrays (ref ships the same ABI at
# dags/resources/contracts/ethereum/seaport/Seaport.json).
_SPENT_ITEM = [
    {"name": "itemType", "type": "uint8"},
    {"name": "token", "type": "address"},
    {"name": "identifier", "type": "uint256"},
    {"name": "amount", "type": "uint256"},
]
SEAPORT_ORDER_FULFILLED = AbiElement.from_dict({
    "type": "event",
    "name": "OrderFulfilled",
    "inputs": [
        {"name": "orderHash", "type": "bytes32", "indexed": False},
        {"name": "offerer", "type": "address", "indexed": True},
        {"name": "zone", "type": "address", "indexed": True},
        {"name": "recipient", "type": "address", "indexed": False},
        {"name": "offer", "type": "tuple[]", "components": _SPENT_ITEM},
        {
            "name": "consideration",
            "type": "tuple[]",
            "components": _SPENT_ITEM
            + [{"name": "recipient", "type": "address"}],
        },
    ],
})


def evt_seaport_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-1 on the nested-tuple shape: decode OrderFulfilled logs
    (tuple[] offer/consideration) built by the repo's own ABI encoder
    — end-to-end through the same pandas-UDF decode operator as the
    flat Transfer event. The planted inputs are deterministic, so the
    oracle is a literal golden table: the expected decode written out
    by hand from the ABI semantics (addresses from topic words,
    amounts from the loop constants) — independent of the codec under
    test, which must reproduce it through encode→decode."""
    import datetime as dt

    from ..functions.abi_codec import encode_abi
    from pyspark.sql.types import (
        ArrayType, BinaryType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    ev = SEAPORT_ORDER_FULFILLED
    topic0 = ev.event_topic0()
    non_indexed = [i for i in ev.inputs if not i.indexed]
    rows = []
    for i in range(3):
        offer = [
            {
                "itemType": 1,
                "token": "0x" + f"{i:02x}" * 20,
                "identifier": j,
                "amount": 1000 * (i + 1) + j,
            }
            for j in range(i + 1)
        ]
        consideration = [{
            "itemType": 0,
            "token": "0x" + "00" * 20,
            "identifier": 0,
            "amount": 5 + i,
            "recipient": "0x" + "fe" * 20,
        }]
        data = encode_abi(
            non_indexed,
            ["0x" + f"{i:02x}" * 32, "0x" + "aa" * 20, offer, consideration],
        )
        rows.append((
            [topic0, "0x" + f"{i + 1:064x}", "0x" + f"{i + 2:064x}"],
            bytearray(data),
            topic0,
            "0x" + "5e" * 20,
            f"0xtx{i}",
            i,
            dt.datetime(2023, 5, 1, 0, 0, 0),
            17_000_000 + i,
        ))
    schema = StructType([
        StructField("topics_arr", ArrayType(StringType())),
        StructField("unhex_data", BinaryType()),
        StructField("selector", StringType()),
        StructField("address", StringType()),
        StructField("transaction_hash", StringType()),
        StructField("log_index", LongType()),
        StructField("block_timestamp", TimestampType()),
        StructField("block_number", LongType()),
    ])
    logs = spark.createDataFrame(rows, schema)
    decoded = decode_log_events(logs, ev)
    return decoded.select(
        "evt_tx_hash",
        "orderHash",
        "offerer",
        "recipient",
        F.size("offer").cast("bigint").alias("n_offer"),
        F.element_at(F.col("offer"), 1)["amount"]
        .cast("string")
        .alias("first_offer_amount"),
        F.element_at(F.col("consideration"), 1)["recipient"].alias(
            "consideration_recipient"
        ),
    )


#: Driver-registered subset in evaluation order. The driver's
#: correctness run has a hard budget (round 2 evaluated exactly the
#: first 50 registered queries in ~10 min and stopped; round 3's 50
#: all ran and all passed). Round-4 rotation: every domain query went
#: green in round 3, so the family drops to 8 sentinels (the hardest
#: representative per family: nested-tuple decode, call decode,
#: extraction, verify, staging scan, 3-way join, composite-key join,
#: anti-join dedup) and the freed slots go to the never-driver-verified
#: llm/generic corpus. The 10 rotated-out queries remain parity-green
#: (tools/parity.py) with their r3 CORRECTNESS rows on record.
#: Round-5 rotation: every domain query is green in r3 or r4; this
#: round re-verifies the r3-last-green half (the r4-green half rotates
#: out, parity-pinned), led by the two queries whose source path
#: changed this round (prices hardening: CSV ingest + interval fill).
#: Round-6 rotation: the eight r4-last-green domain sentinels (the
#: r5-green half rotates out, parity-pinned) — no query's last driver
#: green ages past two rounds.
#: Round-7 rotation: the ten r5-last-green domain queries (the
#: r6-green eight rotate out, parity-pinned) — the standing freshness
#: policy: no query's most recent driver green older than two rounds.
#: Round-8 rotation: the eight r6-last-green domain sentinels (the
#: r7-green ten rotate out, parity-pinned) — no domain source changed
#: this round.
#: Round-10 rotation: 5 of the 8 r8-last-green domain sentinels (the
#: r9-green ten rotate out parity-pinned). Three r8-green queries defer
#: one round to fund the nine llm heads within the hard 50-slot budget,
#: each with an r9/r10-green family twin: evt_seaport_decode (twin
#: evt_transfer_decode r9 — same decode engine, nested-tuple depth
#: pinned in test_decode), d_verify_root_traces (twins
#: d_verify_have_latest r9 / a1+a2 — same verify operator),
#: d_enrich_transactions (the j1 3-way-join shape holds an r10 generic
#: slot; the other five d_enrich_* joins are r9-green). All three stay
#: parity-green and lead the r11 queue.
#: Round-11 rotation: the three r8-green deferrals the r10 verdict
#: queued lead (each's family twin went green r9/r10), then the ten
#: r9-last-green domain queries. The r10-green five
#: (s1_staging_scan_json, call_transfer_decode, d4_token_transfers,
#: d_enrich_geth_traces, d_new_tokens) rotate out parity-pinned; no
#: domain source changed this round.
#: Round-12 rotation: the whole r9-stale cohort funded the llm block
#: (domain went green wall-to-wall in r11), so domain kept three
#: r10-green picks — the append-sink/anti-join composition and the
#: two decode extractors.
#: Round-14 rotation: the whole 13-query r11-stale domain cohort is
#: flagged, but the 50-slot budget is 11 over corpus-wide (see
#: queries.llm.ROTATION_DEFERRALS), so domain registers one anchor per
#: operator family and defers the rest one round. No domain source
#: changed in r13 or r14 (optimization rounds; registration lists
#: only), so every deferral's operator surface is r11-verified code.
ROTATION_DEFERRALS = {
    "d_enrich_blocks": (
        "twin d_enrich_transactions holds an r14 slot — same staged-"
        "load + enrich-join operator; surface untouched since r11"
    ),
    "d_enrich_contracts": (
        "twin d_enrich_transactions holds an r14 slot — same enrich "
        "operator; surface untouched since r11"
    ),
    "d_enrich_logs": (
        "twin d_enrich_transactions holds an r14 slot — same enrich "
        "operator; surface untouched since r11"
    ),
    "d_enrich_traces": (
        "twin d_enrich_transactions holds an r14 slot and "
        "d_enrich_geth_traces is r13-green — same enrich operator; "
        "surface untouched since r11"
    ),
    "d_enrich_token_transfers": (
        "twin d_enrich_transactions holds an r14 slot — same enrich "
        "operator; surface untouched since r11"
    ),
    "d_verify_root_traces": (
        "twin d_verify_have_latest holds an r14 slot — same verify "
        "operator; surface untouched since r11"
    ),
    "evt_seaport_decode": (
        "twin evt_transfer_decode holds an r14 slot and "
        "call_transfer_decode is r12-green — same ABI decode engine "
        "(seaport pins the nested-tuple depth, covered by test_decode); "
        "surface untouched since r11"
    ),
}

DRIVER_QUERIES = [
    # r14 rotation: one anchor per r11-stale domain operator family
    # (enrich join, verify, event decode, staging scan, price fill,
    # contract extract); the other seven defer one round (above)
    "d_enrich_transactions",
    "d_verify_have_latest",
    "evt_transfer_decode",
    "s2_staging_scan_csv",
    "d_prices_fill",
    "d5_extract_contracts",
]

QUERIES = {
    "s1_staging_scan_json": s1_staging_scan_json,
    "s2_staging_scan_csv": s2_staging_scan_csv,
    "d_enrich_blocks": d_enrich_blocks,
    "d_enrich_transactions": d_enrich_transactions,
    "d_enrich_logs": d_enrich_logs,
    "d_enrich_traces": d_enrich_traces,
    "d_enrich_geth_traces": d_enrich_geth_traces,
    "d_enrich_contracts": d_enrich_contracts,
    "d_enrich_token_transfers": d_enrich_token_transfers,
    "d_new_tokens": d_new_tokens,
    "d_prices_fill": d_prices_fill,
    "d_verify_have_latest": d_verify_have_latest,
    "d_verify_root_traces": d_verify_root_traces,
    "evt_transfer_decode": evt_transfer_decode,
    "evt_seaport_decode": evt_seaport_decode,
    "call_transfer_decode": call_transfer_decode,
    "d4_token_transfers": d4_token_transfers,
    "d5_extract_contracts": d5_extract_contracts,
}


# --------------------------------------------------------------------------
# DuckDB oracles — same fixture files, ANSI SQL
# --------------------------------------------------------------------------

_DUCK_TYPES = {
    "bigint": "BIGINT",
    "string": "VARCHAR",
    "decimal(38,0)": "DECIMAL(38,0)",
    "boolean": "BOOLEAN",
    "double": "DOUBLE",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
}


def _duck_cols(table: str) -> str:
    sch = STAGING_SCHEMAS[table]
    inner = ", ".join(
        f"'{f.name}': '{_DUCK_TYPES[f.dataType.simpleString()]}'"
        for f in sch.fields
    )
    return "{" + inner + "}"


def _rd(table: str) -> str:
    """DuckDB relation over one staging fixture file."""
    if table == "prices":
        return (
            f"read_csv('{fx.export_file('prices', 'csv')}', header=true, "
            f"columns={_duck_cols('prices')})"
        )
    return (
        f"read_json('{fx.export_file(table)}', format='newline_delimited', "
        f"columns={_duck_cols(table)})"
    )


_BT = "make_timestamp(b.timestamp * 1000000)"

# topics normalization, transcribed for DuckDB (1-indexed arrays):
# reference evm_load_template.py:231-236
_TOPICS_ARR = """
    CASE WHEN regexp_matches(topics, ',') THEN
        CASE WHEN regexp_matches(topics, '^[0-9]+')
             THEN string_split(replace(topics, '"', ''), ',')
             ELSE CAST(topics::JSON AS VARCHAR[]) END
    ELSE [topics] END
"""

ORACLES = {
    "s1_staging_scan_json": f"""
        SELECT number, hash, miner,
               CAST(difficulty AS VARCHAR) AS difficulty,
               gas_used, timestamp
        FROM {_rd('blocks')}
    """,
    "s2_staging_scan_csv": f"""
        SELECT minute, price, decimals, contract_address, symbol, dt
        FROM {_rd('prices')}
    """,
    "d_enrich_blocks": f"""
        SELECT make_timestamp(timestamp * 1000000) AS timestamp,
               number, hash, parent_hash, nonce, sha3_uncles, logs_bloom,
               transactions_root, state_root, receipts_root, miner,
               CAST(difficulty AS VARCHAR) AS difficulty,
               CAST(total_difficulty AS VARCHAR) AS total_difficulty,
               size, extra_data, gas_limit,
               gas_used, transaction_count, base_fee_per_gas
        FROM {_rd('blocks')}
    """,
    "d_enrich_transactions": f"""
        SELECT t.hash, t.nonce, t.transaction_index, t.from_address,
               t.to_address, CAST(t.value AS VARCHAR) AS value,
               t.gas, t.gas_price, t.input,
               r.cumulative_gas_used AS receipt_cumulative_gas_used,
               r.gas_used AS receipt_gas_used,
               r.contract_address AS receipt_contract_address,
               r.root AS receipt_root,
               r.status AS receipt_status,
               {_BT} AS block_timestamp,
               b.number AS block_number,
               b.hash AS block_hash,
               t.max_fee_per_gas, t.max_priority_fee_per_gas,
               t.transaction_type,
               r.effective_gas_price AS receipt_effective_gas_price
        FROM {_rd('transactions')} t
        JOIN {_rd('blocks')} b ON t.block_number = b.number
        JOIN {_rd('receipts')} r ON t.hash = r.transaction_hash
    """,
    "d_enrich_logs": f"""
        WITH l AS (
            SELECT *, ({_TOPICS_ARR}) AS arr FROM {_rd('logs')}
        )
        SELECT l.log_index, l.transaction_hash, l.transaction_index,
               l.address,
               {_BT} AS block_timestamp,
               b.number AS block_number, b.hash AS block_hash,
               arr[1] AS selector,
               array_length(arr) AS n_topics,
               array_to_string(arr, '|') AS topics_joined,
               hex(unhex(substr(l.data, 3))) AS data_hex
        FROM l JOIN {_rd('blocks')} b ON l.block_number = b.number
    """,
    "d_enrich_traces": f"""
        SELECT t.transaction_hash, t.from_address, t.to_address,
               CAST(t.value AS VARCHAR) AS value,
               t.trace_type, t.trace_address, t.status,
               substr(t.input, 1, 10) AS selector,
               {_BT} AS block_timestamp,
               b.number AS block_number, b.hash AS block_hash,
               hex(unhex(substr(t.input, 3))) AS input_hex,
               hex(unhex(substr(t.output, 3))) AS output_hex
        FROM {_rd('traces')} t
        JOIN {_rd('blocks')} b ON t.block_number = b.number
    """,
    "d_enrich_geth_traces": f"""
        SELECT tx.hash AS transaction_hash, g.transaction_index,
               g.from_address, g.to_address,
               CAST(g.value AS VARCHAR) AS value, g.trace_type,
               g.trace_address,
               substr(g.input, 1, 10) AS selector,
               {_BT} AS block_timestamp,
               b.number AS block_number
        FROM {_rd('geth_traces')} g
        JOIN {_rd('blocks')} b ON g.block_number = b.number
        JOIN {_rd('transactions')} tx
          ON g.transaction_index = tx.transaction_index
         AND g.block_number = tx.block_number
    """,
    "d_enrich_contracts": f"""
        SELECT c.address, c.bytecode, c.function_sighashes,
               c.is_erc20, c.is_erc721,
               {_BT} AS block_timestamp,
               b.number AS block_number, b.hash AS block_hash
        FROM {_rd('contracts')} c
        JOIN {_rd('blocks')} b ON c.block_number = b.number
    """,
    "d_enrich_token_transfers": f"""
        SELECT t.token_address, t.from_address, t.to_address,
               CAST(t.value AS VARCHAR) AS value,
               t.transaction_hash, t.log_index,
               {_BT} AS block_timestamp,
               b.number AS block_number, b.hash AS block_hash
        FROM {_rd('token_transfers')} t
        JOIN {_rd('blocks')} b ON t.block_number = b.number
    """,
    "d_new_tokens": f"""
        SELECT s.address, s.symbol, s.name, s.decimals, s.total_supply
        FROM {_rd('tokens')} s
        WHERE NOT EXISTS (
            SELECT 1 FROM read_parquet('{fx.warehouse_tokens_path()}/*.parquet') w
            WHERE w.address = s.address
        )
    """,
    "d_prices_fill": f"""
        SELECT unnest(generate_series(
                   minute, minute + INTERVAL 4 MINUTE, INTERVAL 1 MINUTE
               )) AS minute,
               price, decimals, contract_address, symbol, dt
        FROM read_csv('{fx.prices_raw_path()}', header=true,
                      columns={_duck_cols('prices')})
    """,
    "d_verify_have_latest": f"""
        SELECT COUNT(*) AS cnt FROM {_rd('blocks')}
        WHERE CAST(make_timestamp(timestamp * 1000000) AS DATE)
              = DATE '{fx.DS}'
    """,
    "d_verify_root_traces": f"""
        SELECT (SELECT COUNT(transaction_hash) FROM {_rd('traces')}
                WHERE trace_address = '[]'
                  AND transaction_hash IS NOT NULL) AS n_root,
               (SELECT COUNT(*) FROM {_rd('transactions')}) AS n_tx
    """,
    "evt_transfer_decode": f"""
        WITH l AS (
            SELECT *, ({_TOPICS_ARR}) AS arr FROM {_rd('logs')}
        ), t AS (
            SELECT * FROM l
            WHERE arr[1] = '{fx.TRANSFER_TOPIC0}' AND array_length(arr) = 3
        )
        SELECT '0x' || substr(t.arr[2], 27, 40) AS "from",
               '0x' || substr(t.arr[3], 27, 40) AS "to",
               CAST(CAST('0x0' || regexp_replace(substr(t.data, 3, 64), '^0+', '')
                         AS BIGINT) AS VARCHAR) AS value,
               t.address AS contract_address,
               t.transaction_hash AS evt_tx_hash,
               t.log_index AS evt_index,
               {_BT} AS evt_block_time,
               b.number AS evt_block_number
        FROM t JOIN {_rd('blocks')} b ON t.block_number = b.number
    """,
    # literal golden oracle (see evt_seaport_decode docstring): the
    # expected decode of the planted OrderFulfilled logs, written from
    # ABI semantics by hand — offerer is topic word i+1 as an address,
    # first offer amount is the loop constant 1000*(i+1)+0
    "evt_seaport_decode": "SELECT * FROM (VALUES "
    + ", ".join(
        f"('0xtx{i}', '0x{i:02x}' || repeat('{i:02x}', 31), "
        f"'0x{i + 1:040x}', '0x' || repeat('aa', 20), "
        f"CAST({i + 1} AS BIGINT), CAST({1000 * (i + 1)} AS VARCHAR), "
        f"'0x' || repeat('fe', 20))"
        for i in range(3)
    )
    + ') AS t("evt_tx_hash", "orderHash", "offerer", "recipient",'
    ' "n_offer", "first_offer_amount", "consideration_recipient")',
    "call_transfer_decode": f"""
        WITH t AS (
            SELECT * FROM {_rd('traces')}
            WHERE substr(input, 1, 10) = '{fx.TRANSFER_FN_SELECTOR}'
        )
        SELECT '0x' || substr(t.input, 35, 40) AS "to",
               CAST(CAST('0x0' || regexp_replace(substr(t.input, 75, 64), '^0+', '')
                         AS BIGINT) AS VARCHAR) AS value,
               CASE WHEN t.output IS NULL OR t.output = '0x' THEN NULL
                    ELSE CAST('0x0' || regexp_replace(substr(t.output, 3, 64), '^0+', '')
                              AS BIGINT) != 0
               END AS output_0,
               t.to_address AS contract_address,
               t.status = 1 AS call_success,
               t.transaction_hash AS call_tx_hash,
               t.trace_address AS call_trace_address,
               {_BT} AS call_block_time,
               b.number AS call_block_number
        FROM t JOIN {_rd('blocks')} b ON t.block_number = b.number
    """,
    "d4_token_transfers": f"""
        WITH l AS (
            SELECT *, ({_TOPICS_ARR}) AS arr FROM {_rd('logs')}
        )
        SELECT address AS token_address,
               '0x' || substr(arr[2], 27, 40) AS from_address,
               '0x' || substr(arr[3], 27, 40) AS to_address,
               CAST(CAST('0x0' || regexp_replace(substr(data, 3, 64), '^0+', '')
                         AS BIGINT) AS VARCHAR) AS value,
               transaction_hash, log_index, block_number
        FROM l
        WHERE arr[1] = '{fx.TRANSFER_TOPIC0}' AND array_length(arr) = 3
    """,
    "d5_extract_contracts": f"""
        WITH c AS (
            SELECT *, list_sort(list_distinct(
                       regexp_extract_all(substr(output, 3),
                                          '63([0-9a-f]{{8}})14', 1))) AS sig
            FROM {_rd('traces')}
            WHERE trace_type = 'create' AND status = 1
        )
        SELECT to_address AS address,
               output AS bytecode,
               array_to_string(list_transform(sig, x -> '0x' || x), ',')
                   AS function_sighashes,
               list_has_all(sig, {ERC20_SELECTORS}) AS is_erc20,
               list_has_all(sig, {ERC721_SELECTORS}) AS is_erc721,
               block_number
        FROM c
    """,
}
