"""Output checks, computed apart from the program.

Expected values come from the generated files (read with DuckDB, or with
Python's ``json`` where DuckDB 1.0's JSON reader would round integers
above 2**64 through a double) and from what the generators planted.
Actual values are read back from the parquet the program wrote, with
DuckDB. Every check returns a list of failure messages; empty means the
outputs are correct.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np

from gen_chain import (
    CHAIN, DAY_START, DS, EVENT_PARAMS, FUNCTION_PARAMS, export_file,
    table_digest,
)
from gen_corpus import jaccard, shingles

#: warehouse tables whose day partition must hold one row per export row
DAY_TABLES = ("blocks", "transactions", "logs", "traces", "contracts",
              "token_transfers", "prices")
#: tables the client transfer copies
TRANSFER_TABLES = ("blocks", "transactions", "logs", "traces",
                   "token_transfers", "evt_Transfer")
D4_COLS = ["token_address", "from_address", "to_address", "value"]


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def _jsonl(path: str, cols: dict) -> str:
    spec = "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"
    return (f"read_json('{path}', columns={spec}, "
            f"format='newline_delimited')")


def wh_table(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, CHAIN, table)


# ---------------------------------------------------------------------------
# chain day
# ---------------------------------------------------------------------------

def expect_day(base: str, planted: dict) -> dict:
    """What a correct day must hold, from the export files alone."""
    con = duckdb.connect()
    counts = {}
    for t in DAY_TABLES + ("tokens",):
        if t == "prices":
            sql = f"SELECT count(*) FROM read_csv('{export_file(base, t)}', header=true)"
        else:
            sql = f"SELECT count(*) FROM {_jsonl(export_file(base, t), {'block_number': 'BIGINT'})}"
        counts[t] = con.execute(sql).fetchone()[0]
    tx = _jsonl(export_file(base, "transactions"), {"hash": "VARCHAR"})
    rc = _jsonl(export_file(base, "receipts"),
                {"transaction_hash": "VARCHAR", "gas_used": "BIGINT"})
    gas = con.execute(
        f"SELECT sum(r.gas_used) FROM {tx} t JOIN {rc} r "
        f"ON t.hash = r.transaction_hash").fetchone()[0]
    with open(export_file(base, "transactions")) as f:
        value_sum = sum(json.loads(line)["value"] for line in f)
    con.close()
    return {
        "counts": counts,
        "gas_used_sum": int(gas),
        "tx_value_sum": value_sum,
        "events": planted["events"],
        "functions": planted["functions"],
        "d4": planted["d4"],
    }


def _digest_of(con, path: str, cols: list[str]) -> dict:
    quoted = ", ".join(f'"{c}"' for c in cols)
    rows = con.execute(f"SELECT {quoted} FROM {_pq(path)}").fetchall()
    return table_digest([dict(zip(cols, r)) for r in rows], cols)


def _cmp_digest(name: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    diffs = [k for k in want if got.get(k) != want[k]]
    return [f"{name}: digest differs in {diffs}"]


def check_day(warehouse: str, expect: dict, d4_rows: list[dict]) -> list[str]:
    """The warehouse after one ``run_evm_day``; ``d4_rows`` is the D-4
    extraction the day returned."""
    con = duckdb.connect()
    bad: list[str] = []
    day = f"dt = DATE '{DS}'"
    for t in DAY_TABLES:
        n = con.execute(
            f"SELECT count(*) FROM {_pq(wh_table(warehouse, t))} WHERE {day}"
        ).fetchone()[0]
        if n != expect["counts"][t]:
            bad.append(f"{t}: {n} rows, want {expect['counts'][t]}")
    n_tok = con.execute(
        f"SELECT count(*), count(DISTINCT address) FROM "
        f"read_parquet('{wh_table(warehouse, 'tokens')}/*.parquet')").fetchone()
    if n_tok != (expect["counts"]["tokens"],) * 2:
        bad.append(f"tokens: {n_tok} rows/distinct, want {expect['counts']['tokens']}")
    txs = _pq(wh_table(warehouse, "transactions"))
    gas, value = con.execute(
        f"SELECT sum(receipt_gas_used), sum(value)::VARCHAR FROM {txs} WHERE {day}"
    ).fetchone()
    if gas != expect["gas_used_sum"]:
        bad.append(f"transactions: receipt gas_used sum {gas}, want {expect['gas_used_sum']}")
    if int(value) != expect["tx_value_sum"]:
        bad.append(f"transactions: value sum {value}, want {expect['tx_value_sum']}")
    lo = datetime.fromtimestamp(DAY_START, timezone.utc).replace(tzinfo=None)
    hi = lo + timedelta(days=1)
    for t, col in (("blocks", "timestamp"), ("transactions", "block_timestamp")):
        tmin, tmax = con.execute(
            f"SELECT min({col}), max({col}) FROM {_pq(wh_table(warehouse, t))}"
        ).fetchone()
        if not (lo <= tmin and tmax < hi):
            bad.append(f"{t}: {col} [{tmin}, {tmax}] outside {DS}")
    n_root = con.execute(
        f"SELECT count(*) FROM {_pq(wh_table(warehouse, 'traces'))} WHERE {day} "
        f"AND trace_address = '[]' AND transaction_hash IS NOT NULL").fetchone()[0]
    if n_root != expect["counts"]["transactions"]:
        bad.append(f"traces: {n_root} root traces, want {expect['counts']['transactions']}")
    got = _digest_of(con, wh_table(warehouse, "evt_Transfer"),
                     EVENT_PARAMS["Transfer"])
    bad += _cmp_digest("evt_Transfer", got, expect["events"]["Transfer"])
    bad += _cmp_digest("D-4 extraction", table_digest(d4_rows, D4_COLS),
                       expect["d4"])
    con.close()
    return bad


def check_transfer(warehouse: str, client: str) -> list[str]:
    """The client copy holds exactly the source day, table by table."""
    con = duckdb.connect()
    bad = []
    for t in TRANSFER_TABLES:
        src = wh_table(warehouse, t)
        dst = os.path.join(client, t)
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}/**/*.parquet', "
            f"hive_partitioning=false)").fetchall()]
        sel = ", ".join(f'"{c}"' for c in cols)
        a = f"SELECT {sel} FROM {_pq(src)} WHERE dt = DATE '{DS}'"
        b = f"SELECT {sel} FROM {_pq(dst)} WHERE dt = DATE '{DS}'"
        extra, missing = (
            con.execute(f"SELECT count(*) FROM ({x} EXCEPT ALL {y})").fetchone()[0]
            for x, y in ((b, a), (a, b)))
        if extra or missing:
            bad.append(f"client {t}: {missing} source rows missing, "
                       f"{extra} extra rows")
    con.close()
    return bad


def check_decode(warehouse: str, expect: dict, d4_path: str) -> list[str]:
    """The parse-only backfill: every event and function table, and the
    D-4 extraction written to ``d4_path``."""
    con = duckdb.connect()
    bad = []
    for ev, cols in EVENT_PARAMS.items():
        got = _digest_of(con, wh_table(warehouse, f"evt_{ev}"), cols)
        bad += _cmp_digest(f"evt_{ev}", got, expect["events"][ev])
    for fn, cols in FUNCTION_PARAMS.items():
        got = _digest_of(con, wh_table(warehouse, f"call_{fn}"), cols)
        bad += _cmp_digest(f"call_{fn}", got, expect["functions"][fn])
    bad += _cmp_digest("D-4 extraction", _digest_of(con, d4_path, D4_COLS),
                       expect["d4"])
    con.close()
    return bad


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

def _components(edges) -> dict[int, int]:
    """Union-find: node -> smallest node of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_neardup(pairs_path: str, clusters_path: str, texts: list[str],
                  planted: list, threshold: float) -> list[str]:
    con = duckdb.connect()
    pairs = con.execute(
        f"SELECT id_a, id_b FROM read_parquet('{pairs_path}/*.parquet')").fetchall()
    clusters = dict(con.execute(
        f"SELECT id, cluster_id FROM read_parquet('{clusters_path}/*.parquet')"
    ).fetchall())
    con.close()
    bad = []
    if len(set(pairs)) != len(pairs):
        bad.append("near-dup: duplicate pairs reported")
    low = [(a, b) for a, b in pairs
           if a >= b or jaccard(shingles(texts[a]), shingles(texts[b])) < threshold]
    if low:
        bad.append(f"near-dup: {len(low)} pairs below Jaccard {threshold}, e.g. {low[0]}")
    found = set(pairs)
    missed = [p for p in planted if tuple(sorted(p)) not in found]
    if missed:
        bad.append(f"near-dup: {len(missed)} planted pairs missed, e.g. {missed[0]}")
    if clusters != _components(pairs):
        bad.append("clusters differ from the connected components of the pairs")
    return bad


def check_semantic(sem_path: str, vectors_path: str, planted: list,
                   null_ids: list, threshold: float) -> list[str]:
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, sem_cluster_id, kept FROM "
        f"read_parquet('{sem_path}/*.parquet')").fetchall()
    vecs = dict(con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{vectors_path}')"
    ).fetchall())
    con.close()
    bad = []
    if sorted(r[0] for r in rows) != sorted(vecs):
        bad.append("semantic: decision rows do not match input ids")
        return bad
    kept = {r[0]: r[2] for r in rows}
    group = {r[0]: r[1] for r in rows}
    copies = {c for _, c in planted}
    roots = {s for s, _ in planted if s not in copies}
    if any(kept[c] for c in copies):
        bad.append(f"semantic: {sum(kept[c] for c in copies)} planted copies kept")
    if not all(kept[s] for s in roots):
        bad.append("semantic: a planted source was dropped")
    if any(not kept[i] or group[i] != i for i in null_ids):
        bad.append("semantic: a NULL embedding was not kept as its own group")
    members: dict[int, list[int]] = {}
    for i, g in group.items():
        members.setdefault(g, []).append(i)
    for g, ids in members.items():
        if len(ids) == 1:
            continue
        ids.sort()
        if g != ids[0] or [i for i in ids if kept[i]] != [g]:
            bad.append(f"semantic: group {g} does not keep exactly its min id")
            break
        m = np.array([vecs[i] for i in ids], dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sim = m @ m.T
        edges = [(ids[a], ids[b]) for a, b in zip(*np.nonzero(sim >= threshold - 1e-9))
                 if a < b]
        comp = _components(edges)
        if len(comp) != len(ids) or len(set(comp.values())) != 1:
            bad.append(f"semantic: group {g} is not connected at cosine {threshold}")
            break
    return bad
