"""Topological pipeline runner + the one-day EVM pipeline.

The reference wires exporters → loaders (load/enrich/clean) → verifiers
→ parsers as Airflow DAGs with explicit dependency lists
(reference: dags/chains/blockchain.py:48-142, wiring :81-83,107-111;
loader deps dags/chains/evm_chain.py:178-212). The engine keeps the
same dependency declarations but executes them in ONE SparkSession —
each spark-submit boundary in the reference collapses into DataFrame
lineage, so Catalyst sees whole plans and staging tables need never
materialize (SURVEY.md §3.1).

``Task`` is deliberately tiny: a name, dependency names, and a callable
over a shared mutable context. ``Pipeline.run`` is Kahn's algorithm
with deterministic ordering and cycle detection.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from ..chains import CHAINS, ChainConfig, ETHEREUM
from ..operators import enrich, sinks, verify
from ..operators.decode import (
    decode_log_events,
    extract_token_transfers,
)
from ..sources.staging import input_exists, read_staging


def _inherit_local_properties(fn: Callable) -> Callable:
    """``fn`` wrapped to run with the calling thread's Spark local
    properties (job group, scheduler pool) and session tags in another
    thread; ``fn`` itself when no Spark session is running."""
    if SparkContext._active_spark_context is None:
        return fn
    session = (
        SparkSession.getActiveSession() or SparkSession._instantiatedSession
    )
    if session is None:
        return fn
    return inheritable_thread_target(session)(fn)


@dataclass
class Task:
    name: str
    fn: Callable[[dict], object]
    deps: tuple[str, ...] = ()


@dataclass
class Pipeline:
    tasks: dict[str, Task] = field(default_factory=dict)

    def add(self, name: str, fn: Callable[[dict], object], deps=()) -> "Pipeline":
        if name in self.tasks:
            raise ValueError(f"duplicate task {name!r}")
        self.tasks[name] = Task(name, fn, tuple(deps))
        return self

    def order(self) -> list[str]:
        ts = TopologicalSorter(
            {t.name: t.deps for t in self.tasks.values()}
        )
        try:
            return list(ts.static_order())
        except CycleError as e:
            raise ValueError(f"dependency cycle: {e.args[1]}") from None

    def run(self, ctx: dict | None = None, max_workers: int = 1) -> dict:
        """Execute every task in dependency order; each task's return
        value lands in ``ctx[name]``.

        ``max_workers > 1`` runs READY tasks concurrently from a small
        thread pool (guide §2.6: Spark happily schedules several jobs
        in one application, and FIFO scheduling back-fills executors
        freed by one job's straggler tail with the next job's tasks —
        the engine's replacement for the reference running ~30
        spark-submit JVMs side by side). Dependency safety is by
        construction: a task is submitted only after every dependency's
        result is already in ``ctx``, and only the coordinating thread
        writes ``ctx``. 2-3 workers is plenty — enough to fill the
        tail, not so many that jobs fight for executors. Pool tasks
        run with the caller's Spark local properties, so their jobs
        carry the caller's job group, as sequential ones do."""
        ctx = ctx if ctx is not None else {}
        order = self.order()
        for name in order:
            missing = [d for d in self.tasks[name].deps if d not in self.tasks]
            if missing:
                raise ValueError(f"task {name!r} depends on unknown {missing}")
        if max_workers <= 1:
            for name in order:
                ctx[name] = self.tasks[name].fn(ctx)
            return ctx

        from concurrent.futures import (
            FIRST_COMPLETED,
            ThreadPoolExecutor,
            wait,
        )

        ts = TopologicalSorter({t.name: t.deps for t in self.tasks.values()})
        ts.prepare()
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures: dict = {}
            while ts.is_active() or futures:
                for name in ts.get_ready():
                    fn = _inherit_local_properties(self.tasks[name].fn)
                    futures[pool.submit(fn, ctx)] = name
                if not futures:
                    break
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = futures.pop(fut)
                    ctx[name] = fut.result()  # re-raises task failure
                    ts.done(name)
        return ctx


# ---------------------------------------------------------------------------
# The one-day EVM load+verify+parse pipeline
# ---------------------------------------------------------------------------

#: Task-name prefix → phase, for `run_evm_day(phases=...)`
_PHASE_OF_PREFIX = {
    "load": "load",
    "enrich": "enrich",
    "extract": "enrich",  # D-4 extraction rides the enrich phase
    "verify": "verify",
    "parse": "parse",
    "clean": "clean",
}


def _task_phase(name: str) -> str:
    return _PHASE_OF_PREFIX[name.split("_", 1)[0]]


def run_evm_day(
    spark: SparkSession,
    export_base: str,
    warehouse: str,
    ds: str,
    chain: str = "ethereum",
    decode_events: list | None = None,
    clean: bool = False,
    phases: frozenset | set | None = None,
    max_workers: int = 3,
) -> dict:
    """Load → enrich → verify → parse for one day, file-based layout.

    ``export_base`` holds ``export/{chain}/{t}/block_date={ds}/{t}.json``
    (the exporter contract); warehouse tables land at
    ``{warehouse}/{chain}/{table}`` partitioned by dt (+hash buckets for
    logs/traces). The chain's ``ChainConfig`` (chains.py) decides the
    loader set and the trace family: parity traces (ethereum, J-4) or
    geth traces recovered via the composite-key join (polygon, J-5) —
    mirroring dags/chains/evm_chain.py:178-212.

    ``phases`` optionally restricts execution to a subset of
    ``{'load', 'enrich', 'verify', 'parse', 'clean'}`` — the
    process-boundary hook the Airflow binding
    (`pipeline.airflow_compat`) uses to run each phase as its own
    operator/process: tasks whose upstream phase is excluded fall back
    to re-reading the enriched tables from the warehouse (which the
    enrich phase must have written earlier), exactly like the
    reference's spark-submit-per-task boundaries.

    Every dt-partitioned warehouse table a task hands on (``enrich_*``,
    ``parse_evt_*``, and the fallback reads of excluded phases) is the
    ``dt=ds`` partition alone (`sinks.read_day`): its files are the
    day's files, whatever other days the warehouse holds, and a
    writer's read-back passes the schema it just wrote, so no
    inference job runs. ``enrich_tokens`` (not dt-partitioned) is the
    whole table. ``verify`` runs its five checks as one action
    (`operators.verify`). ``extract_token_transfers`` is an eager local
    checkpoint: the call leaves nothing in the session's cache.
    """
    cfg: ChainConfig = CHAINS.get(chain, ETHEREUM)

    def _exp(table: str) -> str:
        fmt = "csv" if table == "prices" else "json"
        return os.path.join(
            export_base, "export", chain, table,
            f"block_date={ds}", f"{table}.{fmt}",
        )

    def _wh(table: str) -> str:
        return os.path.join(warehouse, chain, table)

    def _g(ctx: dict, task: str, table: str):
        """Dep lookup with a warehouse fallback: when ``phases``
        excludes the producing task (it ran in an earlier process),
        read what it wrote instead."""
        if task in ctx:
            return ctx[task]
        return sinks.read_day(spark, _wh(table), ds)

    def _load(table: str):
        def fn(ctx):
            path = _exp(table)
            if not input_exists(path, spark):  # S-6 availability sensor
                raise FileNotFoundError(f"export missing: {path}")
            return read_staging(spark, table, path)
        return fn

    p = Pipeline()
    staging_tables = [spec.table for spec in cfg.loaders]
    for t in staging_tables:
        p.add(f"load_{t}", _load(t))

    def _write(df, table, extra=None):
        sinks.write_partitioned(df, "", ds, extra, path=_wh(table))
        schema = sinks.partitioned_schema(df, extra)
        return sinks.read_day(spark, _wh(table), ds, schema)

    p.add(
        "enrich_blocks",
        lambda c: _write(enrich.enrich_blocks(c["load_blocks"]), "blocks"),
        deps=["load_blocks"],
    )
    p.add(
        "enrich_transactions",
        lambda c: _write(
            enrich.enrich_transactions(
                c["load_transactions"], c["load_blocks"], c["load_receipts"]
            ),
            "transactions",
        ),
        deps=["load_transactions", "load_blocks", "load_receipts"],
    )
    p.add(
        "enrich_logs",
        lambda c: _write(
            enrich.enrich_logs(c["load_logs"], c["load_blocks"]),
            "logs",
            extra=["address_hash", "selector_hash"],
        ),
        deps=["load_logs", "load_blocks"],
    )
    if cfg.trace_mode == "geth":
        # polygon-style: recover transaction_hash via the composite-key
        # join (J-5) before the warehouse write
        p.add(
            "enrich_traces",
            lambda c: _write(
                enrich.enrich_geth_traces(
                    c["load_geth_traces"], c["load_blocks"],
                    c["load_transactions"],
                ),
                "traces",
                extra=["address_hash", "selector_hash"],
            ),
            deps=["load_geth_traces", "load_blocks", "load_transactions"],
        )
    else:
        p.add(
            "enrich_traces",
            lambda c: _write(
                enrich.enrich_traces(c["load_traces"], c["load_blocks"]),
                "traces",
                extra=["address_hash", "selector_hash"],
            ),
            deps=["load_traces", "load_blocks"],
        )
    p.add(
        "enrich_contracts",
        lambda c: _write(
            enrich.enrich_contracts(c["load_contracts"], c["load_blocks"]),
            "contracts",
        ),
        deps=["load_contracts", "load_blocks"],
    )
    p.add(
        "enrich_token_transfers",
        lambda c: _write(
            enrich.enrich_token_transfers(
                c["load_token_transfers"], c["load_blocks"]
            ),
            "token_transfers",
        ),
        deps=["load_token_transfers", "load_blocks"],
    )

    def _tokens(c):
        # not dt-partitioned: the read-back is the whole table
        sinks.append_dedup(c["load_tokens"], "", path=_wh("tokens"))
        schema = c["load_tokens"].schema
        return spark.read.schema(schema).parquet(_wh("tokens"))

    p.add("enrich_tokens", _tokens, deps=["load_tokens"])

    if "prices" in staging_tables:
        p.add(
            "enrich_prices",
            lambda c: _write(
                enrich.enrich_prices(c["load_prices"]), "prices"
            ),
            deps=["load_prices"],
        )

    # verify phase (reference blockchain.py:115-126; retries=0 semantics)
    # — all five checks in one action
    def _verify(c):
        latest = {
            t: _g(c, f"enrich_{t}", t)
            for t in ("blocks", "transactions", "logs", "traces")
        }
        return verify._verify_day(
            ds, latest, latest["traces"], latest["transactions"]
        )

    p.add(
        "verify",
        _verify,
        deps=["enrich_blocks", "enrich_transactions", "enrich_logs",
              "enrich_traces"],
    )

    # parse phase: one decoded table per ABI event
    # (reference parser.py:64-117; sensors collapse into deps)
    for el in decode_events or []:
        name = f"parse_evt_{el.name}"

        def _parse(c, el=el):
            out = decode_log_events(_g(c, "enrich_logs", "logs"), el)
            return _write(out, f"evt_{el.name}")

        p.add(name, _parse, deps=["enrich_logs"])

    # D-4 token-transfer extraction runs off raw logs (export-side in
    # the reference, python.py:194-212). Must materialize before any
    # clean task may delete the staging file underneath it. An eager
    # local checkpoint materializes it without registering a cached
    # plan: its blocks go when the caller drops the result.
    def _extract(c):
        return extract_token_transfers(c["load_logs"]).localCheckpoint(
            eager=True
        )

    p.add("extract_token_transfers", _extract, deps=["load_logs"])

    if clean:
        # S-5 clean phase: drop each staging export file once every
        # consumer finished (reference clean_dependencies wiring,
        # dags/chains/blockchain.py:107-111 + loader.py:137-158).
        consumers: dict[str, list[str]] = {t: [] for t in staging_tables}
        for task in p.tasks.values():
            if task.name.startswith("load_"):
                continue
            for dep in task.deps:
                if dep.startswith("load_"):
                    consumers[dep[len("load_"):]].append(task.name)

        def _clean(table: str):
            def fn(ctx):
                path = _exp(table)
                if os.path.exists(path):
                    os.remove(path)
                return path
            return fn

        for t in staging_tables:
            p.add(
                f"clean_{t}",
                _clean(t),
                deps=[f"load_{t}", *consumers[t]],
            )

    if phases is not None:
        unknown = set(phases) - set(_PHASE_OF_PREFIX.values())
        if unknown:
            raise ValueError(f"unknown phases: {sorted(unknown)}")
        sub = Pipeline()
        keep = {
            n for n, t in p.tasks.items() if _task_phase(n) in phases
        }
        for name in keep:
            t = p.tasks[name]
            sub.add(name, t.fn, deps=[d for d in t.deps if d in keep])
        p = sub

    # guide §5: a staging table consumed by SEVERAL enrichers is
    # otherwise re-read (and JSON-parsed) once per consumer — blocks
    # feeds six tasks in the ethereum day. Persist exactly the loads
    # with >1 consumer IN THIS RUN (counted after the phases subset so
    # a load-only process caches nothing), release them when the day
    # is done: the cache lives strictly inside one run_evm_day call.
    n_consumers: dict[str, int] = {}
    for task in p.tasks.values():
        # clean_* tasks depend on loads for ORDERING (delete after all
        # readers) but never read the DataFrame — not consumers
        if task.name.startswith(("load_", "clean_")):
            continue
        for dep in task.deps:
            if dep.startswith("load_"):
                n_consumers[dep] = n_consumers.get(dep, 0) + 1
    cached: list = []
    for load_name, n in n_consumers.items():
        if n < 2:
            continue
        orig_fn = p.tasks[load_name].fn

        def _cached_load(ctx, _fn=orig_fn):
            df = _fn(ctx).persist()
            cached.append(df)
            return df

        p.tasks[load_name].fn = _cached_load

    # guide §2.6: independent loaders/enrichers/parsers overlap so one
    # task's straggler tail back-fills with the next task's stages;
    # results are identical (each task owns its warehouse table, and
    # `Pipeline.run` only submits a task once its deps' results are in
    # ctx). max_workers=1 restores strict sequential execution.
    try:
        return p.run({}, max_workers=max_workers)
    finally:
        for df in cached:
            df.unpersist()


# ---------------------------------------------------------------------------
# The scheduled index-maintenance pipeline
# ---------------------------------------------------------------------------

# the import-light task shape + run-time maintainer resolution live in
# pipeline.maintenance (the Airflow scheduler's parse loop must be able
# to compute DAG shape without pyspark); re-exported here for callers
# that naturally hold the heavy runner module anyway
from .maintenance import (  # noqa: E402,F401
    _maintainer,
    maintenance_task_specs,
    sync_task_specs,
)


def maintenance_pipeline(
    spark: SparkSession,
    ivf_indexes=(),
    minhash_indexes=(),
    bm25_indexes=(),
) -> Pipeline:
    """The persisted-index maintenance jobs (`maintain_ivf_index` /
    `maintain_minhash_index` / `maintain_bm25_index`) as declarable
    `Pipeline` tasks — the same dependency-declared shape the
    reference gives its verifier DAG (verify tasks wired downstream of
    the loaders, dags/chains/blockchain.py:115-126), applied to the
    engine's own operational surface: one ``maintain_<kind>_<name>``
    task per index, all independent (each index's manifest serializes
    its own folds), plus a terminal ``maintain_report`` task that
    depends on every one of them and folds their report dicts into a
    single tick summary for job logs/alerting.

    Each index entry is a path, or ``(path, options_dict)`` to pass
    watermarks/valves through to the maintainer (``max_batches``,
    ``vacuum``, ``resize_on_hot``, ...). Run one tick with
    ``maintenance_pipeline(...).run()`` — or at Airflow granularity
    via `pipeline.airflow_compat.build_maintenance_dag`."""
    specs = maintenance_task_specs(
        ivf_indexes, minhash_indexes, bm25_indexes
    )
    p = Pipeline()
    for name, kind, path, opts in specs:
        p.add(
            name,
            lambda c, kind=kind, path=path, opts=opts: _maintainer(kind)(
                spark, path, **opts
            ),
        )
    names = [s[0] for s in specs]

    def _report(ctx: dict) -> dict:
        return {n: ctx[n] for n in names}

    p.add("maintain_report", _report, deps=names)
    return p


def sync_pipeline(
    bm25_syncs=(),
    ivf_syncs=(),
    minhash_syncs=(),
) -> Pipeline:
    """The incremental index syncs (`operators.sync`) as declarable
    `Pipeline` tasks — the release-tick twin of `maintenance_pipeline`:
    when a new corpus snapshot lands, one ``sync_<kind>_<name>`` task
    per index drives it to the snapshot (diff → delete → compact →
    append), all independent (each index's manifest serializes its own
    writers), plus a terminal ``sync_report`` task folding the per-
    index diff-count reports into one tick summary.

    Each entry is ``(path, old_df, new_df)`` or ``(path, old_df,
    new_df, options_dict)`` — options pass through to the sync
    (``sync_token`` for replay-stable release ids, column overrides).
    Task names come from the shared `sync_task_specs` rule, so this
    runner and `airflow_compat.build_sync_dag` produce identical ids
    for the same inputs. No session parameter: the syncs run on the
    session that created the snapshot DataFrames. Run one tick with
    ``sync_pipeline(...).run()``.
    """
    from ..operators.sync import (
        sync_bm25_index_to_snapshot,
        sync_ivf_index_to_snapshot,
        sync_minhash_index_to_snapshot,
    )

    fronts = {
        "bm25": sync_bm25_index_to_snapshot,
        "ivf": sync_ivf_index_to_snapshot,
        "minhash": sync_minhash_index_to_snapshot,
    }
    specs = sync_task_specs(bm25_syncs, ivf_syncs, minhash_syncs)
    p = Pipeline()
    for name, kind, path, old_df, new_df, opts in specs:
        p.add(
            name,
            lambda c, kind=kind, path=path, old_df=old_df,
            new_df=new_df, opts=opts: fronts[kind](
                old_df, new_df, path, **opts
            ),
        )
    names = [s[0] for s in specs]

    def _report(ctx: dict) -> dict:
        return {n: ctx[n] for n in names}

    p.add("sync_report", _report, deps=names)
    return p
