"""Seeded generator of one ``ethereum`` export day.

Writes the exporter layout ``export/ethereum/{table}/block_date={ds}/
{table}.{json|csv}`` that ``pipeline.runner.run_evm_day`` loads, and
returns what was planted in it, so the checks compare the program's
outputs with values that never went through the program.

The day follows the referential constraints of FIXTURES.md section B:
every row's block is in ``blocks``; ``blocks.transaction_count`` is the
real per-block count; one receipt per transaction; one root trace
(``trace_address = '[]'`` with a transaction hash) per transaction, plus
block-reward traces with ``'[]'`` and no hash; block timestamps are
monotone and inside the day; ``topics`` comes in all three exporter
shapes (JSON array, comma-joined, one bare value).

Nothing here imports the package: hashes are drawn from the seeded RNG,
and topic0 values and selectors are the literal constants of the public
standards, so a wrong keccak in the program shows as a failed check.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

DS = "2024-03-01"
DAY_START = 1709251200  # 2024-03-01T00:00:00Z
CHAIN = "ethereum"

# keccak256 of the event signatures, as published with ERC-20, ERC-1155
# and Uniswap V2
TOPIC_TRANSFER = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
TOPIC_APPROVAL = "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
TOPIC_TRANSFER_BATCH = "0x4a39dc06d4c0dbc64b70af90fd698a233a518aa5d07e595d983b8c0526c8f7fb"
TOPIC_SWAP = "0xd78ad95fa46c994b6551d0da85fc275fe613ce37657fb8d5e3d130840159d822"
TOPIC_SYNC = "0x1c411e9a96e071241c2f21f7726b17ae89e3cab4c78be50e062b03a9fffbbad1"

# 4-byte function selectors from the same standards
SEL_TRANSFER = "0xa9059cbb"
SEL_TRANSFER_FROM = "0x23b872dd"
SEL_SAFE_BATCH = "0x2eb2c2d6"

#: Decimal(38,0): a decoded uint of 39 digits or more reads as NULL
CAP = 10**38
#: share of uint256 amounts of 39+ digits (decode to NULL), and again of
#: exactly 38 digits (decode intact)
BIG_SHARE = 0.03
#: share of event data / call input fields that are malformed
MALFORMED_SHARE = 0.02
N_TOKENS = 24
N_PRICE_TOKENS = 2

#: ABI JSON of every element the workloads decode (public standards)
ABI_EVENTS = {
    "Transfer": {"type": "event", "name": "Transfer", "inputs": [
        {"name": "from", "type": "address", "indexed": True},
        {"name": "to", "type": "address", "indexed": True},
        {"name": "value", "type": "uint256", "indexed": False}]},
    "Approval": {"type": "event", "name": "Approval", "inputs": [
        {"name": "owner", "type": "address", "indexed": True},
        {"name": "spender", "type": "address", "indexed": True},
        {"name": "value", "type": "uint256", "indexed": False}]},
    "TransferBatch": {"type": "event", "name": "TransferBatch", "inputs": [
        {"name": "operator", "type": "address", "indexed": True},
        {"name": "from", "type": "address", "indexed": True},
        {"name": "to", "type": "address", "indexed": True},
        {"name": "ids", "type": "uint256[]", "indexed": False},
        {"name": "values", "type": "uint256[]", "indexed": False}]},
    "Swap": {"type": "event", "name": "Swap", "inputs": [
        {"name": "sender", "type": "address", "indexed": True},
        {"name": "amount0In", "type": "uint256", "indexed": False},
        {"name": "amount1In", "type": "uint256", "indexed": False},
        {"name": "amount0Out", "type": "uint256", "indexed": False},
        {"name": "amount1Out", "type": "uint256", "indexed": False},
        {"name": "to", "type": "address", "indexed": True}]},
}
ABI_FUNCTIONS = {
    "transfer": {"type": "function", "name": "transfer", "inputs": [
        {"name": "to", "type": "address"},
        {"name": "value", "type": "uint256"}],
        "outputs": [{"name": "", "type": "bool"}]},
    "transferFrom": {"type": "function", "name": "transferFrom", "inputs": [
        {"name": "from", "type": "address"},
        {"name": "to", "type": "address"},
        {"name": "value", "type": "uint256"}],
        "outputs": [{"name": "", "type": "bool"}]},
    "safeBatchTransferFrom": {
        "type": "function", "name": "safeBatchTransferFrom", "inputs": [
            {"name": "from", "type": "address"},
            {"name": "to", "type": "address"},
            {"name": "ids", "type": "uint256[]"},
            {"name": "amounts", "type": "uint256[]"},
            {"name": "data", "type": "bytes"}],
        "outputs": []},
}

#: per event: decoded parameter names in schema order
EVENT_PARAMS = {k: [i["name"] for i in v["inputs"]] for k, v in ABI_EVENTS.items()}
#: per function: decoded input names, then output columns
FUNCTION_PARAMS = {
    "transfer": ["to", "value", "output_0"],
    "transferFrom": ["from", "to", "value", "output_0"],
    "safeBatchTransferFrom": ["from", "to", "ids", "amounts", "data"],
}


@dataclass(frozen=True)
class DayShape:
    """Make-up of one generated day."""

    n_blocks: int
    n_tx: int
    #: share of transactions that call transfer / transferFrom /
    #: safeBatchTransferFrom (the rest are plain value transfers)
    call_mix: tuple[float, float, float] = (0.3, 0.05, 0.02)
    #: logs per transaction, drawn uniformly from 0..max_logs
    max_logs: int = 3
    #: event kind weights for each log
    log_mix: tuple[tuple[str, float], ...] = (
        ("erc20", 0.55), ("erc721", 0.05), ("approval", 0.15),
        ("sync", 0.15), ("swap", 0.07), ("batch", 0.03),
    )


# ---------------------------------------------------------------------------
# ABI encoding, written out from the specification (head/tail words)
# ---------------------------------------------------------------------------

def _w(v: int) -> str:
    return format(v, "064x")


def _w_addr(a: str) -> str:
    return "0" * 24 + a[2:]


def _enc_uint_array(vals: list[int]) -> str:
    return _w(len(vals)) + "".join(_w(v) for v in vals)


def _enc_bytes(b: bytes) -> str:
    pad = (-len(b)) % 32
    return _w(len(b)) + (b + bytes(pad)).hex()


def _enc_dynamic(heads: list, tails: list[str]) -> str:
    """``heads`` holds static words, or None where a dynamic arg goes;
    ``tails`` the encodings of those dynamic args, in order."""
    off = 32 * len(heads)
    out, rest = [], []
    it = iter(tails)
    for h in heads:
        if h is None:
            t = next(it)
            out.append(_w(off))
            rest.append(t)
            off += len(t) // 2
        else:
            out.append(h)
    return "".join(out) + "".join(rest)


# ---------------------------------------------------------------------------
# digests the checks compare (same function on both sides)
# ---------------------------------------------------------------------------

def value_digest(v) -> tuple[int, int]:
    """(element count, integer sum) of one decoded value: ints and
    Decimals add as themselves, hex strings as their integer, bools as
    0/1, arrays element-wise; NULL counts 0."""
    if v is None:
        return (0, 0)
    if isinstance(v, (list, tuple)):
        n = s = 0
        for x in v:
            a, b = value_digest(x)
            n, s = n + a, s + b
        return (n, s)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, str):
        return (1, int(v[2:] or "0", 16))
    return (1, int(v))


def table_digest(rows: list[dict], cols: list[str]) -> dict:
    """Per column (non-NULL count, element count, sum) plus row count
    and all-NULL row count: what the decode checks compare."""
    out = {"rows": len(rows), "all_null": 0}
    for c in cols:
        out[c] = [0, 0, 0]
    for r in rows:
        if all(r[c] is None for c in cols):
            out["all_null"] += 1
        for c in cols:
            v = r[c]
            if v is not None:
                n, s = value_digest(v)
                d = out[c]
                d[0] += 1
                d[1] += n
                d[2] += s
    return out


# ---------------------------------------------------------------------------
# the day
# ---------------------------------------------------------------------------

class _Rng:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def hex(self, nbytes: int) -> str:
        return "0x" + self.r.getrandbits(8 * nbytes).to_bytes(nbytes, "big").hex()

    def amount(self) -> int:
        r = self.r.random()
        if r < BIG_SHARE:
            return self.r.randrange(CAP, 2**256)  # 39..78 digits
        if r < 2 * BIG_SHARE:
            return CAP - 1 - self.r.randrange(10**6)  # 38 digits, kept
        return self.r.randrange(1, 10**27)


def _decoded(v: int):
    """A uint256 after the Decimal(38,0) cap."""
    return v if v < CAP else None


def export_file(base: str, table: str, ds: str = DS) -> str:
    fmt = "csv" if table == "prices" else "json"
    return os.path.join(base, "export", CHAIN, table, f"block_date={ds}",
                        f"{table}.{fmt}")


def generate_day(base: str, seed: int, shape: DayShape) -> dict:
    """Write one export day under ``base``; return the planted truth."""
    g = _Rng(seed)
    r = g.r
    addrs = [g.hex(20) for _ in range(max(64, shape.n_tx // 8))]
    tokens = [g.hex(20) for _ in range(N_TOKENS)]
    ev_rows = {k: [] for k in ABI_EVENTS}
    fn_rows = {k: [] for k in ABI_FUNCTIONS}
    d4 = []  # expected D-4 extraction rows
    tables = {t: [] for t in ("blocks", "transactions", "receipts", "logs",
                              "traces", "contracts", "token_transfers",
                              "tokens")}
    tx_value_sum = 0
    gas_used_sum = 0
    first_block = 19_300_000 + r.randrange(10_000)
    # block timestamps: sorted distinct seconds inside the day
    stamps = sorted(r.sample(range(86_400), shape.n_blocks))
    per_block = [0] * shape.n_blocks
    for _ in range(shape.n_tx):
        per_block[r.randrange(shape.n_blocks)] += 1
    parent = g.hex(32)
    for bi in range(shape.n_blocks):
        number = first_block + bi
        bhash = g.hex(32)
        n_in_block = per_block[bi]
        block_gas = 0
        cumulative = 0
        log_index = 0
        for ti in range(n_in_block):
            txh = g.hex(32)
            frm, to = r.choice(addrs), r.choice(addrs)
            value = r.randrange(0, 10**22)
            tx_value_sum += value
            # what the transaction calls (root trace input = tx input)
            u = r.random()
            m = shape.call_mix
            kind = ("transfer" if u < m[0] else
                    "transferFrom" if u < m[0] + m[1] else
                    "safeBatchTransferFrom" if u < m[0] + m[1] + m[2] else
                    None)
            status = 0 if r.random() < 0.03 else 1
            inp, out, decoded = "0x", "0x", None
            malformed = r.random() < MALFORMED_SHARE
            if kind == "transfer":
                dst, amt = r.choice(addrs), g.amount()
                inp = SEL_TRANSFER + _w_addr(dst) + _w(amt)
                out = "0x" + _w(1)
                decoded = {"to": dst, "value": _decoded(amt), "output_0": True}
            elif kind == "transferFrom":
                src, dst = r.choice(addrs), r.choice(addrs)
                amt = g.amount()
                inp = SEL_TRANSFER_FROM + _w_addr(src) + _w_addr(dst) + _w(amt)
                out = "0x" + _w(1)
                decoded = {"from": src, "to": dst, "value": _decoded(amt),
                           "output_0": True}
            elif kind == "safeBatchTransferFrom":
                src, dst = r.choice(addrs), r.choice(addrs)
                n = r.randrange(1, 5)
                ids = [r.randrange(10**6) for _ in range(n)]
                amts = [g.amount() for _ in range(n)]
                blob = bytes(r.getrandbits(8) for _ in range(r.randrange(0, 40)))
                inp = SEL_SAFE_BATCH + _enc_dynamic(
                    [_w_addr(src), _w_addr(dst), None, None, None],
                    [_enc_uint_array(ids), _enc_uint_array(amts),
                     _enc_bytes(blob)])
                decoded = {"from": src, "to": dst, "ids": ids,
                           "amounts": [_decoded(a) for a in amts],
                           "data": "0x" + blob.hex()}
            if kind is not None:
                if malformed:
                    # cut the argument block mid-word: inputs decode to
                    # all-NULL, the output word still decodes
                    inp = inp[: 10 + 40]
                    decoded = {c: None for c in FUNCTION_PARAMS[kind]}
                    if kind != "safeBatchTransferFrom":
                        decoded["output_0"] = True
                fn_rows[kind].append(decoded)
            gas = r.randrange(21_000, 400_000)
            gas_used = r.randrange(21_000, gas + 1)
            cumulative += gas_used
            block_gas += gas_used
            gas_used_sum += gas_used
            tables["transactions"].append({
                "hash": txh, "nonce": r.randrange(10**5), "block_hash": bhash,
                "block_number": number, "transaction_index": ti,
                "from_address": frm, "to_address": to, "value": value,
                "gas": gas, "gas_price": r.randrange(10**9, 10**11),
                "input": inp, "max_fee_per_gas": r.randrange(10**9, 10**11),
                "max_priority_fee_per_gas": r.randrange(10**9),
                "transaction_type": 2,
            })
            tables["receipts"].append({
                "transaction_hash": txh, "transaction_index": ti,
                "block_hash": bhash, "block_number": number,
                "cumulative_gas_used": cumulative, "gas_used": gas_used,
                "contract_address": None, "root": None, "status": status,
                "effective_gas_price": r.randrange(10**9, 10**11),
            })
            trace_base = {
                "block_number": number, "transaction_hash": txh,
                "transaction_index": ti, "reward_type": None,
                "error": None if status else "Reverted",
            }
            tables["traces"].append({
                **trace_base, "from_address": frm, "to_address": to,
                "value": value, "input": inp, "output": out,
                "trace_type": "call", "call_type": "call", "gas": gas,
                "gas_used": gas_used, "subtraces": 1 if ti % 4 == 0 else 0,
                "trace_address": "[]", "status": status,
                "trace_id": f"call_{txh}",
            })
            if ti % 4 == 0:
                # one internal call, and every 16th transaction deploys
                create = ti % 16 == 0
                child_to = g.hex(20)
                code = ("0x6080604052" + "".join(
                    "63" + s[2:] + "14" for s in (SEL_TRANSFER, SEL_TRANSFER_FROM))
                    + "57")
                tables["traces"].append({
                    **trace_base, "from_address": to, "to_address": child_to,
                    "value": 0, "input": "0x",
                    "output": code if create else "0x",
                    "trace_type": "create" if create else "call",
                    "call_type": None if create else "staticcall",
                    "gas": gas // 2, "gas_used": gas_used // 2, "subtraces": 0,
                    "trace_address": "[0]", "status": status,
                    "trace_id": f"sub_{txh}",
                })
                if create:
                    tables["contracts"].append({
                        "address": child_to, "bytecode": code,
                        "function_sighashes": f"{SEL_TRANSFER},{SEL_TRANSFER_FROM}",
                        "is_erc20": False, "is_erc721": False,
                        "block_number": number,
                    })
            for _ in range(r.randrange(shape.max_logs + 1)):
                _emit_log(g, shape, tables, ev_rows, d4, addrs, tokens,
                          number, bhash, txh, ti, log_index)
                log_index += 1
        # block reward: trace_address '[]' but no transaction hash
        tables["traces"].append({
            "block_number": number, "transaction_hash": None,
            "transaction_index": None, "from_address": None,
            "to_address": g.hex(20), "value": 2 * 10**18, "input": None,
            "output": None, "trace_type": "reward", "call_type": None,
            "reward_type": "block", "gas": None, "gas_used": None,
            "subtraces": 0, "trace_address": "[]", "error": None,
            "status": 1, "trace_id": f"reward_{number}",
        })
        tables["blocks"].append({
            "number": number, "hash": bhash, "parent_hash": parent,
            "nonce": "0x0000000000000000", "sha3_uncles": g.hex(32),
            "logs_bloom": g.hex(64), "transactions_root": g.hex(32),
            "state_root": g.hex(32), "receipts_root": g.hex(32),
            "miner": r.choice(addrs), "difficulty": 0, "total_difficulty":
            58750003716598352816469, "size": r.randrange(10**4, 10**5),
            "extra_data": "0x", "gas_limit": 30_000_000, "gas_used": block_gas,
            "timestamp": DAY_START + stamps[bi], "transaction_count": n_in_block,
            "base_fee_per_gas": r.randrange(10**9, 10**11),
        })
        parent = bhash
    for i, a in enumerate(tokens):
        tables["tokens"].append({
            "address": a, "symbol": f"T{i}", "name": f"Token {i}",
            "decimals": "18", "total_supply": str(r.randrange(10**30)),
            "block_number": first_block,
        })

    for t, rows in tables.items():
        _write_jsonl(export_file(base, t), rows)
    prices = _write_prices(base, g, tokens[:N_PRICE_TOKENS])

    return {
        "seed": seed,
        "ds": DS,
        "counts": {**{t: len(v) for t, v in tables.items()}, "prices": prices},
        "tx_value_sum": tx_value_sum,
        "gas_used_sum": gas_used_sum,
        "events": {k: table_digest(v, EVENT_PARAMS[k]) for k, v in ev_rows.items()},
        "functions": {
            k: table_digest(v, FUNCTION_PARAMS[k]) for k, v in fn_rows.items()
        },
        "d4": table_digest(d4, ["token_address", "from_address",
                                "to_address", "value"]),
    }


def _topics(g: _Rng, ts: list[str]) -> str:
    """One of the exporter's three topic shapes."""
    if len(ts) == 1:
        return ts[0]
    if g.r.random() < 0.5:
        return json.dumps(ts)
    return ",".join(ts)


def _emit_log(g, shape, tables, ev_rows, d4, addrs, tokens,
              number, bhash, txh, ti, log_index):
    r = g.r
    kinds, weights = zip(*shape.log_mix)
    kind = r.choices(kinds, weights)[0]
    token = r.choice(tokens)
    malformed = r.random() < MALFORMED_SHARE
    a, b = r.choice(addrs), r.choice(addrs)
    if kind in ("erc20", "approval"):
        amt = g.amount()
        topic0 = TOPIC_TRANSFER if kind == "erc20" else TOPIC_APPROVAL
        topics = [topic0, "0x" + _w_addr(a), "0x" + _w_addr(b)]
        # a malformed Transfer carries no data word at all
        data = "0x" if malformed else "0x" + _w(amt)
        name = "Transfer" if kind == "erc20" else "Approval"
        names = EVENT_PARAMS[name]
        row = (dict.fromkeys(names) if malformed
               else dict(zip(names, (a, b, _decoded(amt)))))
        ev_rows[name].append(row)
        if kind == "erc20":
            d4.append({"token_address": token, "from_address": a,
                       "to_address": b,
                       "value": None if malformed else _decoded(amt)})
            if not malformed:
                tables["token_transfers"].append({
                    "token_address": token, "from_address": a,
                    "to_address": b, "value": amt if amt < CAP else None,
                    "transaction_hash": txh, "log_index": log_index,
                    "block_number": number,
                })
    elif kind == "erc721":
        # ERC-721 Transfer: the token id is a 4th topic and data is
        # empty — same topic0, so the Transfer decode yields an
        # all-NULL row and the 3-topic D-4 filter skips it
        topics = [TOPIC_TRANSFER, "0x" + _w_addr(a), "0x" + _w_addr(b),
                  "0x" + _w(r.randrange(10**6))]
        data = "0x"
        ev_rows["Transfer"].append(dict.fromkeys(EVENT_PARAMS["Transfer"]))
    elif kind == "sync":
        topics = [TOPIC_SYNC]  # the single bare-value shape
        data = "0x" + _w(r.randrange(2**112)) + _w(r.randrange(2**112))
    elif kind == "swap":
        amts = [g.amount() for _ in range(4)]
        topics = [TOPIC_SWAP, "0x" + _w_addr(a), "0x" + _w_addr(b)]
        data = "0x" + "".join(_w(v) for v in amts)
        if malformed:
            data = data[: 2 + 64 * 3 + 10]  # fourth word cut short
            ev_rows["Swap"].append(dict.fromkeys(EVENT_PARAMS["Swap"]))
        else:
            ev_rows["Swap"].append({
                "sender": a, "amount0In": _decoded(amts[0]),
                "amount1In": _decoded(amts[1]),
                "amount0Out": _decoded(amts[2]),
                "amount1Out": _decoded(amts[3]), "to": b,
            })
    else:  # ERC-1155 TransferBatch: dynamic uint256[] pair
        op = r.choice(addrs)
        n = r.randrange(1, 6)
        ids = [r.randrange(10**9) for _ in range(n)]
        vals = [g.amount() for _ in range(n)]
        topics = [TOPIC_TRANSFER_BATCH, "0x" + _w_addr(op), "0x" + _w_addr(a),
                  "0x" + _w_addr(b)]
        data = "0x" + _enc_dynamic([None, None], [_enc_uint_array(ids),
                                                  _enc_uint_array(vals)])
        if malformed:
            # array length word claims more elements than the payload
            data = "0x" + _w(64) + _w(128) + _w(n + 40) + data[2 + 64 * 3:]
            ev_rows["TransferBatch"].append(
                dict.fromkeys(EVENT_PARAMS["TransferBatch"]))
        else:
            ev_rows["TransferBatch"].append({
                "operator": op, "from": a, "to": b, "ids": ids,
                "values": [_decoded(v) for v in vals],
            })
    tables["logs"].append({
        "log_index": log_index, "transaction_hash": txh,
        "transaction_index": ti, "block_hash": bhash, "block_number": number,
        "address": token, "data": data, "topics": _topics(g, topics),
    })


def _write_jsonl(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row, separators=(",", ":")))
            f.write("\n")


def _write_prices(base: str, g: _Rng, tokens: list[str]) -> int:
    """One CSV row per minute per token (interval-filled)."""
    path = export_file(base, "prices")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "w") as f:
        f.write("minute,price,decimals,contract_address,symbol,dt\n")
        for i, tok in enumerate(tokens):
            price = 1.0 + g.r.random() * 100
            for m in range(1440):
                price *= 1.0 + (g.r.random() - 0.5) * 0.002
                f.write(f"{DS} {m // 60:02d}:{m % 60:02d}:00,{price:.6f},18,"
                        f"{tok},T{i},{DS}\n")
                n += 1
    return n
