"""Data-quality verification operators (A-1, A-2, A-3, P-4, P-5).

The reference runs these as a scheduled DAG of SQL assertions with
``select if((subquery) > 0, 1, raise_error(...))``
(reference: dags/resources/verify/*.sql, wired at
dags/chains/blockchain.py:115-126, retries=0 — assertions, not
retryable work). Here they are library operators over the warehouse
tables, raising ``VerificationError`` driver-side.

One action per verification: every day count a call needs (one per
``have_latest`` table, root traces and transactions for the match) is
a ``dt = ds`` projection; the projections are unioned and counted
per projection in a single ``collect()``, so the partition-pruned
scans share one job instead of one job per scalar. `_verify_day` is
that action with every rule applied in order; the public per-check
operators are it over one check.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class VerificationError(AssertionError):
    """A verify check failed (maps the reference's raise_error abort)."""


def _day_counts(frames: list[DataFrame], ds: str) -> list[int]:
    """``count(1) where dt = ds`` of every frame, in ONE action: the
    day-filtered frames, each projected to its index, are unioned and
    counted per index by one global aggregate.

    P-4: the ``dt = ds`` filter prunes to the day's partition
    (reference: dags/resources/verify/blocks_have_latest.sql:5)."""
    dsd = F.lit(ds).cast("date")
    union = reduce(lambda a, b: a.unionAll(b), [
        df.filter(F.col("dt") == dsd).select(F.lit(i).alias("part"))
        for i, df in enumerate(frames)
    ])
    row = union.agg(*[
        F.count(F.when(F.col("part") == i, 1)) for i in range(len(frames))
    ]).collect()[0]
    return list(row)


def _root_traces(traces: DataFrame) -> DataFrame:
    # root trace predicate of traces_null_address_equal_to_transaction_
    # count.sql: the reference's count(transaction_hash) skips NULLs,
    # so the non-NULL filter plus count(1) is the same number
    return traces.filter(
        (F.col("trace_address") == "[]") & F.col("transaction_hash").isNotNull()
    )


def _verify_day(
    ds: str,
    latest: dict[str, DataFrame],
    traces: DataFrame | None = None,
    transactions: DataFrame | None = None,
) -> dict:
    """Every check of one day in one action.

    ``latest`` maps a name to a table that must have rows for ``ds``
    (checked in its order); given ``traces`` and ``transactions``, the
    day's root traces must match its transactions. Returns each
    ``latest`` count under its name and the transaction count under
    ``root_traces``; raises the first failing check's
    ``VerificationError``."""
    frames = list(latest.values())
    if traces is not None:
        frames += [_root_traces(traces), transactions]
    counts = _day_counts(frames, ds)
    out = dict(zip(latest, counts))
    for what, n in out.items():
        if n <= 0:
            raise VerificationError(f"There are no latest {what}")
    if traces is not None:
        n_root, n_tx = counts[-2:]
        if n_root != n_tx:
            raise VerificationError(
                "Total number of traces with null address is not equal to "
                f"transaction count ({n_root} != {n_tx})"
            )
        out["root_traces"] = n_tx
    return out


def verify_have_latest(df: DataFrame, ds: str, what: str = "rows") -> int:
    """A-1/A-3: today's partition must be non-empty.

    reference: dags/resources/verify/{blocks,transactions,logs,traces}
    _have_latest.sql — ``count(1) where dt=ds > 0`` else raise_error.
    Returns the count on success.
    """
    return _verify_day(ds, {what: df})[what]


def verify_root_traces_match_transactions(
    traces: DataFrame, transactions: DataFrame, ds: str
) -> int:
    """A-2/P-5: #root traces == #transactions for the day.

    Root trace predicate: ``trace_address = '[]' AND transaction_hash IS
    NOT NULL`` (reference: dags/resources/verify/
    traces_null_address_equal_to_transaction_count.sql:1-13), counted
    the null-skipping way the reference's ``count(col)`` does, against
    ``count(*)`` of the day's transactions. Returns the transaction
    count on success.
    """
    return _verify_day(ds, {}, traces, transactions)["root_traces"]
