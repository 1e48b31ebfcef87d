"""The benchmark's own tests: each workload's check passes on the
program's real outputs and fails when one wrong output is planted.

    python3 -m pytest perfbench/tests -q

Run from the repository root (one SparkSession, about a minute).
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def env():
    work = os.path.join(BENCH, ".work", f"tests-{os.getpid()}")
    workloads.reset(work)
    spark = run.start_spark(work)
    yield spark, work
    run.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)


def _ran(env, cls, name):
    spark, work = env
    w = cls()
    w.prepare(spark, os.path.join(work, name), seed=11)
    return w, w.op(spark)


def _rewrite(table_dir: str, edit, where=bool) -> None:
    """Apply ``edit(rows) -> rows`` in place to the first parquet file
    under ``table_dir`` whose rows satisfy ``where(rows)``."""
    for root, _, files in sorted(os.walk(table_dir)):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            t = pq.read_table(path, partitioning=None)
            if not where(t.to_pylist()):
                continue
            rows = edit(t.to_pylist())
            pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)
            return
    raise AssertionError(f"no rows under {table_dir}")


def _bump(col: str):
    """Add one to the first non-NULL ``col`` value."""
    def edit(rows):
        for r in rows:
            if r[col] is not None:
                r[col] += 1
                return rows
        raise AssertionError(f"no {col} value to bump")
    return edit


def test_evm_day(env):
    w, ctx = _ran(env, workloads.EvmDay, "day")
    d4 = [r.asDict() for r in
          ctx["extract_token_transfers"].select(*checks.D4_COLS).collect()]
    assert checks.check_day(w.wh, w.expect, d4) == []
    assert checks.check_transfer(w.wh, w.client) == []

    _rewrite(checks.wh_table(w.wh, "evt_Transfer"), _bump("value"))
    bad = checks.check_day(w.wh, w.expect, d4)
    assert any("evt_Transfer" in b for b in bad), bad
    # the client copy now differs from the edited source day too
    assert checks.check_transfer(w.wh, w.client)

    _rewrite(checks.wh_table(w.wh, "transactions"), lambda rows: rows[1:])
    bad = checks.check_day(w.wh, w.expect, d4)
    assert any(b.startswith("transactions:") for b in bad), bad

    d4[0] = {**d4[0], "value": None}
    assert any("D-4" in b for b in checks.check_day(w.wh, w.expect, d4))


def test_evm_decode(env):
    w, _ = _ran(env, workloads.EvmDecode, "decode")
    assert w.check(None, None) == []
    _rewrite(checks.wh_table(w.wh, "call_transfer"), _bump("value"))
    bad = w.check(None, None)
    assert bad and all("call_transfer" in b for b in bad), bad


def test_corpus_dedup(env):
    spark, _ = env
    w, _ = _ran(env, workloads.CorpusDedup, "corpus")
    assert w.check(spark, None) == []

    pair = tuple(sorted(w.docs["planted"][0]))

    def has_pair(rows):
        return any((r["id_a"], r["id_b"]) == pair for r in rows)

    _rewrite(w._p("pairs"),
             lambda rows: [r for r in rows if (r["id_a"], r["id_b"]) != pair],
             where=has_pair)
    bad = w.check(spark, None)
    assert any("planted pairs missed" in b for b in bad), bad

    copy = w.vecs["planted"][0][1]

    def keep_copy(rows):
        for r in rows:
            if r["vec_id"] == copy:
                r["kept"] = True
        return rows

    _rewrite(w._p("semantic"), keep_copy,
             where=lambda rows: any(r["vec_id"] == copy for r in rows))
    bad = w.check(spark, None)
    assert any("planted copies kept" in b for b in bad), bad
