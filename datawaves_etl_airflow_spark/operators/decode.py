"""ABI decode operators (D-1, D-2, D-4, D-5) — the reference's parse phase.

The reference runs one spark-submit per ABI element against an external
decode app (reference: dags/chains/parser.py:64-117); here each element
becomes one declarative plan over the enriched logs/traces layout:

1. selector predicate pushdown — ``selector == event_topic0`` (logs) or
   ``selector == function_selector`` (traces), plus the optional
   contract address. On the warehouse layout these map to the
   ``address_hash``/``selector_hash`` partition buckets (SURVEY.md §4),
   so a decode scan reads ~1/100th of a day before any Python runs.
2. an Arrow-batched pandas UDF calling ``functions.abi_codec.decode_abi``
   over only the surviving rows — the sole place Python touches data,
   one call per Arrow batch, never per row.
3. output typed by ``schemas.abi.abi_element_schema`` (uint256 →
   Decimal(38,0) with >38-digit clamp to null) + provenance columns,
   named per the reference (``{dataset}.{contract}_evt_{Event}``,
   dags/chains/parser.py:114-117).

D-4/D-5 (token-transfer and contract extraction,
reference dags/chains/exporters/python.py:149-168,194-212,271-290) are
JVM-side compositions: address slicing and PUSH4 sighash scanning use
builtins; only the uint256 amount word goes through the codec UDF.
"""

from __future__ import annotations

import decimal
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    StructField,
    StructType,
)

from ..functions.abi_codec import (
    _UINT_MAX_DECIMAL38,
    AbiDecodeError,
    decode_abi,
    decode_word,
)
from ..functions.evm import hash_bucket, topics_arr, unhex_0x
from ..schemas.abi import (
    AbiElement,
    AbiInput,
    abi_element_schema,
    solidity_to_spark_type,
)

_DECIMAL38_MAX = _UINT_MAX_DECIMAL38  # >38 digits → null (clamp policy)


def _to_spark_value(spark_type: DataType, v: Any) -> Any:
    """Map a codec value onto its compiled Spark type (Decimal clamp,
    nested tuple/array recursion)."""
    if v is None:
        return None
    if isinstance(spark_type, DecimalType):
        iv = int(v)
        if abs(iv) >= _DECIMAL38_MAX:
            return None  # reference clamp policy: >38 digits → null
        return decimal.Decimal(iv)
    if isinstance(spark_type, ArrayType):
        return [_to_spark_value(spark_type.elementType, x) for x in v]
    if isinstance(spark_type, StructType):
        return {
            f.name: _to_spark_value(f.dataType, v.get(f.name))
            for f in spark_type.fields
        }
    return v


def _params_schema(inputs: Iterable[AbiInput], prefix: str = "") -> StructType:
    return StructType([
        StructField(
            (inp.name or f"{prefix}{i}"), solidity_to_spark_type(inp), True
        )
        for i, inp in enumerate(inputs)
    ])


def _decode_event_batch(
    element: AbiElement, schema: StructType, topics: pd.Series, data: pd.Series
) -> pd.DataFrame:
    indexed = [i for i in element.inputs if i.indexed]
    non_indexed = [i for i in element.inputs if not i.indexed]
    rows = []
    for t, d in zip(topics, data):
        row: dict[str, Any] = {f.name: None for f in schema.fields}
        try:
            t = list(t) if t is not None else []
            for k, inp in enumerate(indexed):
                word = t[k + 1] if k + 1 < len(t) else None
                if word is None:
                    continue
                raw = bytes.fromhex(word[2:]) if word.startswith("0x") else bytes.fromhex(word)
                try:
                    val = decode_word(inp, raw)
                except AbiDecodeError:
                    # dynamic indexed params are keccak hashes — keep hex
                    val = word
                row[inp.name or f"_{k}"] = val
            if non_indexed:
                vals = decode_abi(list(non_indexed), bytes(d) if d is not None else b"")
                for inp, val in zip(non_indexed, vals):
                    row[inp.name or "_x"] = val
        except (AbiDecodeError, ValueError, IndexError):
            row = {f.name: None for f in schema.fields}
        rows.append([
            _to_spark_value(f.dataType, row.get(f.name)) for f in schema.fields
        ])
    return pd.DataFrame(rows, columns=[f.name for f in schema.fields])


def decode_log_events(
    logs: DataFrame,
    element: AbiElement,
    contract_address: str | None = None,
) -> DataFrame:
    """D-1: enriched logs → one decoded row per matching event.

    ``logs`` is the enrich_logs output (topics_arr/selector/unhex_data
    present). Returns the ``abi_element_schema`` columns.
    """
    if element.type != "event":
        raise ValueError(f"{element.name} is not an event")
    topic0 = element.event_topic0()
    df = logs.filter(F.col("selector") == F.lit(topic0))
    if "selector_hash" in df.columns:
        # partition-pruning twin of the selector filter (SURVEY.md §4)
        df = df.filter(F.col("selector_hash") == hash_bucket(F.lit(topic0)))
    if contract_address is not None:
        df = df.filter(F.col("address") == F.lit(contract_address.lower()))
        if "address_hash" in df.columns:
            df = df.filter(
                F.col("address_hash") == hash_bucket(F.lit(contract_address.lower()))
            )

    schema = _params_schema(element.inputs)

    @F.pandas_udf(schema)
    def decode_udf(topics: pd.Series, data: pd.Series) -> pd.DataFrame:
        return _decode_event_batch(element, schema, topics, data)

    decoded = df.withColumn(
        "_params", decode_udf(F.col("topics_arr"), F.col("unhex_data"))
    )
    out_cols = [F.col(f"_params.{f.name}").alias(f.name) for f in schema.fields]
    out_cols += [
        F.col("address").alias("contract_address"),
        F.col("transaction_hash").alias("evt_tx_hash"),
        F.col("log_index").alias("evt_index"),
        F.col("block_timestamp").alias("evt_block_time"),
        F.col("block_number").alias("evt_block_number"),
    ]
    return decoded.select(*out_cols)


def decode_call_functions(
    traces: DataFrame,
    element: AbiElement,
    contract_address: str | None = None,
) -> DataFrame:
    """D-2: enriched traces → one decoded row per matching function call
    (inputs and outputs both decoded, reference dags/chains/contracts.py:43-49).
    """
    if element.type != "function":
        raise ValueError(f"{element.name} is not a function")
    sel = element.function_selector()
    df = traces.filter(F.col("selector") == F.lit(sel))
    if "selector_hash" in df.columns:
        df = df.filter(F.col("selector_hash") == hash_bucket(F.lit(sel)))
    if contract_address is not None:
        df = df.filter(F.col("to_address") == F.lit(contract_address.lower()))
        if "address_hash" in df.columns:
            df = df.filter(
                F.col("address_hash") == hash_bucket(F.lit(contract_address.lower()))
            )

    in_schema = _params_schema(element.inputs)
    out_schema = _params_schema(element.outputs, prefix="output_")
    both = StructType(
        [StructField("in", in_schema, True), StructField("out", out_schema, True)]
    )

    inputs = list(element.inputs)
    outputs = list(element.outputs)

    @F.pandas_udf(both)
    def decode_udf(inp: pd.Series, outp: pd.Series) -> pd.DataFrame:
        rows = []
        for i, o in zip(inp, outp):
            try:
                ivals = decode_abi(inputs, bytes(i)[4:] if i is not None else b"")
                irow = [
                    _to_spark_value(f.dataType, v)
                    for f, v in zip(in_schema.fields, ivals)
                ]
            except (AbiDecodeError, ValueError):
                irow = [None] * len(in_schema.fields)
            try:
                if outputs and o is not None and len(o) > 0:
                    ovals = decode_abi(outputs, bytes(o))
                    orow = [
                        _to_spark_value(f.dataType, v)
                        for f, v in zip(out_schema.fields, ovals)
                    ]
                else:
                    orow = [None] * len(out_schema.fields)
            except (AbiDecodeError, ValueError):
                orow = [None] * len(out_schema.fields)
            rows.append([dict(zip([f.name for f in in_schema.fields], irow)),
                         dict(zip([f.name for f in out_schema.fields], orow))])
        return pd.DataFrame(rows, columns=["in", "out"])

    decoded = df.withColumn(
        "_d", decode_udf(F.col("unhex_input"), F.col("unhex_output"))
    )
    out_cols = [F.col(f"_d.in.{f.name}").alias(f.name) for f in in_schema.fields]
    out_cols += [F.col(f"_d.out.{f.name}").alias(f.name) for f in out_schema.fields]
    out_cols += [
        F.col("to_address").alias("contract_address"),
        (F.col("status") == 1).alias("call_success"),
        F.col("transaction_hash").alias("call_tx_hash"),
        F.col("trace_address").alias("call_trace_address"),
        F.col("block_timestamp").alias("call_block_time"),
        F.col("block_number").alias("call_block_number"),
    ]
    return decoded.select(*out_cols)


def decoded_table_name(dataset: str, contract: str, element: AbiElement) -> str:
    """Reference decoded-table naming (dags/chains/parser.py:114-117)."""
    kind = "evt" if element.type == "event" else "call"
    return f"{dataset}.{contract}_{kind}_{element.name}"


# ---------------------------------------------------------------------------
# D-4: ERC-20 Transfer extraction from RAW logs (pre-warehouse)
# ---------------------------------------------------------------------------

TRANSFER_TOPIC0 = (
    "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
)

_UINT_WORD_SCHEMA = DecimalType(38, 0)


@F.pandas_udf(_UINT_WORD_SCHEMA)
def _uint256_word(data: pd.Series) -> pd.Series:
    """binary 32-byte word → Decimal(38,0); >38 digits → null, and a
    word shorter than 32 bytes → null (D-1's rule: `decode_abi` rejects
    the same truncated log as malformed).

    The one Python touch in D-4 — input is 32 bytes/row, Arrow-batched.
    """
    out = []
    for b in data:
        if b is None or len(b) < 32:
            out.append(None)
            continue
        v = int.from_bytes(bytes(b)[:32], "big")
        out.append(decimal.Decimal(v) if v < _DECIMAL38_MAX else None)
    return pd.Series(out, dtype=object)


def extract_token_transfers(raw_logs: DataFrame) -> DataFrame:
    """D-4: raw staging logs → token_transfers staging rows
    (reference dags/chains/exporters/python.py:194-212 runs this in the
    external CLI; here it is the topics normalizer + a selector filter +
    builtin address slicing, with only the amount word in Python).
    """
    arr = topics_arr(F.col("topics"))
    df = (
        raw_logs.withColumn("topics_arr", arr)
        .filter(
            (F.col("topics_arr")[0] == TRANSFER_TOPIC0)
            & (F.size("topics_arr") == 3)
        )
    )
    topic_addr = lambda c: F.concat(F.lit("0x"), F.substring(c, 27, 40))  # noqa: E731
    return df.select(
        F.col("address").alias("token_address"),
        topic_addr(F.col("topics_arr")[1]).alias("from_address"),
        topic_addr(F.col("topics_arr")[2]).alias("to_address"),
        _uint256_word(unhex_0x(F.col("data"))).alias("value"),
        "transaction_hash",
        "log_index",
        "block_number",
    )


# ---------------------------------------------------------------------------
# D-5: contract extraction from create traces
# ---------------------------------------------------------------------------

# Interface selector sets from the public ERC-20/721 standards (the
# reference infers ERC-ness from the bytecode sighash set,
# dags/chains/exporters/python.py:271-290).
ERC20_SELECTORS = [
    "18160ddd", "70a08231", "a9059cbb", "23b872dd", "095ea7b3", "dd62ed3e",
]
ERC721_SELECTORS = ["70a08231", "6352211e", "095ea7b3", "23b872dd"]


def extract_contracts(traces: DataFrame) -> DataFrame:
    """D-5: successful create traces → contracts staging rows.

    Sighashes = 4-byte immediates of PUSH4 opcodes in the deployed
    bytecode (`63xxxxxxxx` — the dispatcher pattern); ERC-ness is a
    subset test against the standard selector sets. All builtins — the
    bytecode scan is one JVM regexp per row, no Python.
    """
    creates = traces.filter(
        (F.col("trace_type") == "create") & (F.col("status") == 1)
    )
    sig = F.array_sort(
        F.array_distinct(
            F.expr(r"regexp_extract_all(substring(output, 3), '63([0-9a-f]{8})14', 1)")
        )
    )

    def has_all(sels: list[str]):
        return F.size(F.array_except(F.array(*[F.lit(s) for s in sels]), sig)) == 0

    return creates.select(
        F.col("to_address").alias("address"),
        F.col("output").alias("bytecode"),
        F.array_join(
            F.transform(sig, lambda x: F.concat(F.lit("0x"), x)), ","
        ).alias("function_sighashes"),
        has_all(ERC20_SELECTORS).alias("is_erc20"),
        has_all(ERC721_SELECTORS).alias("is_erc721"),
        "block_number",
    )
