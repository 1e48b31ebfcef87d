"""The traced run: per-layer metrics, measured from outside the program.

    python3 perfbench/run.py --workload evm_day --seed 1 --seconds 12 --trace 1

1. The workload runs as in the untraced run (cold, warm-up), then one
   timed operation, in a session without an event log.
2. The session restarts in the same JVM with Spark's event log on; after
   one untimed operation (the new context starts new Python workers) one
   more operation is timed. ``trace.overhead_s`` is its time minus the
   untraced one: a single pair, so a rough figure (one operation each
   keeps the traced run inside the benchmark's time budget).
3. Every layer is then called on its own, one public function at a
   time, with its inputs materialised first: the EVM layers on a chain
   day, the dedup and similarity layers on a corpus (the selected
   workload's inputs where it has them, freshly generated ones from the
   same seed otherwise). Each call is a span: a name and its wall-clock
   interval. Each span also sets a Spark job group.
4. After the session stops, the event log is parsed. Jobs are attributed
   to the span whose interval holds their submission time (the pipelined
   ``run_evm_day`` submits from pool threads, which do not inherit the
   job group), and their tasks' metrics are summed per layer.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

import checks
import gen_chain
import run
import workloads
from gen_chain import DS

LAYERS = ("sources", "enrich", "sinks", "verify", "decode", "runner",
          "transfer", "dedup", "similarity")

#: every per-layer metric the traced run prints: name -> unit
METRICS = {
    "sources.read_s": "s", "sources.rows": "count", "sources.input_mb": "MB",
    "enrich.s": "s", "enrich.rows_out": "count", "enrich.shuffle_mb": "MB",
    "sinks.write_s": "s", "sinks.files": "count", "sinks.mb": "MB",
    "verify.s": "s",
    "decode.s": "s", "decode.rows": "count", "decode.extract_s": "s",
    "decode.multi_abi_s": "s", "abi_codec.us_per_event": "us",
    "runner.sequential_s": "s", "runner.overlap_s": "s",
    "transfer.s": "s", "transfer.rows": "count",
    "dedup.minhash_s": "s", "dedup.candidates": "count",
    "dedup.pairs": "count", "dedup.useful_ratio": "ratio",
    "dedup.clusters_s": "s", "dedup.cc_rounds": "count",
    "similarity.semdedup_s": "s", "similarity.train_s": "s",
    "similarity.max_cell_rows": "count", "similarity.cell_pairs": "count",
    "trace.overhead_s": "s",
}
for _layer in LAYERS:
    METRICS.update({
        f"{_layer}.jobs": "count", f"{_layer}.tasks": "count",
        f"{_layer}.shuffle_write_mb": "MB", f"{_layer}.spill_mb": "MB",
        f"{_layer}.gc_s": "s",
    })


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        self.spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self.spark.sparkContext.setJobGroup("", "")

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name)


def _log(what: str) -> None:
    print(f"{time.strftime('%H:%M:%S')} {what}", file=sys.stderr, flush=True)


def _noop(df) -> None:
    """Force every column of ``df`` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(d: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# ---------------------------------------------------------------------------
# EVM layers
# ---------------------------------------------------------------------------

def evm_layers(spark, tr: Tracer, base: str, work: str) -> dict:
    from datawaves_etl_airflow_spark.chains import ETHEREUM
    from datawaves_etl_airflow_spark.functions.abi_codec import decode_abi
    from datawaves_etl_airflow_spark.operators import enrich, sinks, verify
    from datawaves_etl_airflow_spark.operators.decode import (
        decode_call_functions, decode_log_events, extract_token_transfers,
    )
    from datawaves_etl_airflow_spark.operators.transfer import (
        TransferTarget, transfer_partition,
    )
    from datawaves_etl_airflow_spark.pipeline.runner import run_evm_day
    from datawaves_etl_airflow_spark.sources.staging import read_staging

    m: dict = {}
    wh = os.path.join(work, "layers-warehouse")
    events = [workloads._abi(d) for d in gen_chain.ABI_EVENTS.values()]
    functions = [workloads._abi(d) for d in gen_chain.ABI_FUNCTIONS.values()]
    transfer_ev = events[0]

    staged, rows, in_bytes = {}, 0, 0
    for spec in ETHEREUM.loaders:
        path = gen_chain.export_file(base, spec.table)
        with tr.span("sources"):
            df = read_staging(spark, spec.table, path).persist()
            rows += df.count()
        staged[spec.table] = df
        in_bytes += os.path.getsize(path)
    m["sources.rows"] = rows
    m["sources.input_mb"] = in_bytes / 2**20

    s = staged
    enriched = {
        "blocks": lambda: enrich.enrich_blocks(s["blocks"]),
        "transactions": lambda: enrich.enrich_transactions(
            s["transactions"], s["blocks"], s["receipts"]),
        "logs": lambda: enrich.enrich_logs(s["logs"], s["blocks"]),
        "traces": lambda: enrich.enrich_traces(s["traces"], s["blocks"]),
        "contracts": lambda: enrich.enrich_contracts(s["contracts"], s["blocks"]),
        "token_transfers": lambda: enrich.enrich_token_transfers(
            s["token_transfers"], s["blocks"]),
        "prices": lambda: enrich.enrich_prices(s["prices"]),
    }
    outs, rows = {}, 0
    for t, build in enriched.items():
        with tr.span("enrich"):
            outs[t] = build().persist()
            rows += outs[t].count()
    m["enrich.rows_out"] = rows

    buckets = ["address_hash", "selector_hash"]
    for t, df in outs.items():
        with tr.span("sinks"):
            sinks.write_partitioned(df, "", DS, buckets if t in ("logs", "traces")
                                    else None, path=checks.wh_table(wh, t))
    with tr.span("sinks"):
        sinks.append_dedup(s["tokens"], "", path=checks.wh_table(wh, "tokens"))
    m["sinks.files"], size = _dir_stats(wh)
    m["sinks.mb"] = size / 2**20

    def _wh(t):
        return spark.read.parquet(checks.wh_table(wh, t))

    with tr.span("verify"):
        for t in ("blocks", "transactions", "logs", "traces"):
            verify.verify_have_latest(_wh(t), DS, t)
        verify.verify_root_traces_match_transactions(
            _wh("traces"), _wh("transactions"), DS)

    logs = _wh("logs").persist()
    traces = _wh("traces").persist()
    logs.count(), traces.count()
    with tr.span("decode"):
        _noop(decode_log_events(logs, transfer_ev))
    m["decode.rows"] = decode_log_events(logs, transfer_ev).count()
    with tr.span("decode.extract"):
        _noop(extract_token_transfers(s["logs"]))
    with tr.span("decode.multi"):
        for ev in events:
            _noop(decode_log_events(logs, ev))
        for fn in functions:
            _noop(decode_call_functions(traces, fn))

    # the decode UDF body alone: decode_abi in this process, on the
    # data payloads of every decoded event
    payloads = []
    for ev in events:
        non_indexed = [i for i in ev.inputs if not i.indexed]
        for r in logs.filter(logs.selector == ev.event_topic0()).select(
                "unhex_data").collect():
            payloads.append((non_indexed, bytes(r[0] or b"")))
    n_calls, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        for inputs, data in payloads:
            try:
                decode_abi(inputs, data)
            except ValueError:
                pass
        n_calls += len(payloads)
    m["abi_codec.us_per_event"] = (time.perf_counter() - t0) / n_calls * 1e6
    for df in [logs, traces, *outs.values(), *staged.values()]:
        df.unpersist()

    wh2 = os.path.join(work, "layers-warehouse-pipelined")
    with tr.span("runner"):
        ctx = run_evm_day(spark, base, wh2, DS, decode_events=[transfer_ev])
    ctx["extract_token_transfers"].unpersist()
    sequential = sum(tr.total(n) for n in (
        "sources", "enrich", "sinks", "verify", "decode", "decode.extract"))
    m["runner.sequential_s"] = sequential
    m["runner.overlap_s"] = sequential - tr.total("runner")

    target = TransferTarget("path", os.path.join(work, "layers-client"))
    rows = 0
    with tr.span("transfer"):
        for t in checks.TRANSFER_TABLES:
            rows += transfer_partition(spark, checks.wh_table(wh2, t), target, t, DS)
    m["transfer.rows"] = rows
    return m


# ---------------------------------------------------------------------------
# dedup and similarity layers
# ---------------------------------------------------------------------------

def corpus_layers(spark, tr: Tracer, docs_path: str, vec_path: str) -> dict:
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datawaves_etl_airflow_spark.operators.dedup import (
        bucket_pairs, duplicate_clusters, minhash_band_rows_np,
        minhash_dedup_pairs, word_shingle_hash_sets,
    )
    from datawaves_etl_airflow_spark.operators.similarity import (
        semantic_dedup, train_centroids,
    )

    m: dict = {}
    docs = spark.read.parquet(docs_path).persist()
    docs.count()
    with tr.span("dedup.minhash"):
        pairs = minhash_dedup_pairs(
            docs, threshold=workloads.NEARDUP_THRESHOLD).persist()
        m["dedup.pairs"] = pairs.count()
    bands = minhash_band_rows_np(word_shingle_hash_sets(docs))
    m["dedup.candidates"] = bucket_pairs(
        bands, ["band_id", "band_hash"], ["id"], allow_unbounded=True
    ).distinct().count()
    m["dedup.useful_ratio"] = m["dedup.pairs"] / max(1, m["dedup.candidates"])

    # one label-propagation round per checkpoint of the labels table
    cls = type(pairs)
    orig, calls = cls.localCheckpoint, []

    def counting(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    cls.localCheckpoint = counting
    try:
        with tr.span("dedup.clusters"):
            duplicate_clusters(pairs).count()
    finally:
        cls.localCheckpoint = orig
    m["dedup.cc_rounds"] = len(calls)
    pairs.unpersist()
    docs.unpersist()

    vectors = spark.read.parquet(vec_path).persist()
    vectors.count()
    valid = vectors.filter(F.col("embedding").isNotNull())
    with tr.span("similarity.train"):
        cents = train_centroids(valid, workloads.SEM_CENTROIDS).collect()
    with tr.span("similarity.semdedup"):
        _noop(semantic_dedup(vectors, n_centroids=workloads.SEM_CENTROIDS,
                             threshold=workloads.SEM_THRESHOLD))
    vectors.unpersist()
    spark.catalog.clearCache()

    # cell sizes of that quantizer, recomputed in NumPy
    emb = [e for e in pq.read_table(vec_path).column("embedding").to_pylist()
           if e is not None]
    v = np.array(emb, dtype=np.float64)
    v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
    cents.sort(key=lambda r: r["centroid_id"])
    c = np.array([list(r["centroid"]) for r in cents], dtype=np.float64)
    sizes = np.bincount(np.argmax(v @ c.T, axis=1), minlength=len(c))
    m["similarity.max_cell_rows"] = int(sizes.max())
    m["similarity.cell_pairs"] = int((sizes * (sizes - 1) // 2).sum())
    return m


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def parse_event_log(path: str, spans) -> dict:
    """Per layer: jobs, tasks, shuffle write, disk spill and GC time of
    the jobs submitted inside that layer's spans."""
    ordered = sorted(spans, key=lambda s: s[1])
    stage_layer: dict[int, str] = {}
    out = {layer: {"jobs": 0, "tasks": 0, "shuffle_write": 0, "spill": 0,
                   "gc_ms": 0, "shuffle_read": 0} for layer in LAYERS}
    # Spark 4 writes a rolling log: a directory of event files
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs)
    for f in files:
        if not os.path.basename(f).startswith("events"):
            continue
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    t = e["Submission Time"] / 1000
                    layer = next((n.split(".")[0] for n, t0, t1 in ordered
                                  if t0 <= t <= t1), None)
                    if layer not in out:
                        continue
                    out[layer]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if layer is None or not tm:
                        continue
                    o = out[layer]
                    o["tasks"] += 1
                    o["gc_ms"] += tm.get("JVM GC Time", 0)
                    o["spill"] += tm.get("Disk Bytes Spilled", 0)
                    sw = tm.get("Shuffle Write Metrics", {})
                    o["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics", {})
                    o["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
    return out


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def main(args, work: str, workload) -> int:
    data = os.path.join(work, "data")
    spark = run.start_spark(work)
    try:
        workload.prepare(spark, data, args.seed)
        loop = run.Loop(spark, workload)
        loop.once()
        loop.warm()
        untraced = loop.measure(0)  # one operation

        # same JVM, fresh context with the event log on
        spark.stop()
        event_log = os.path.join(work, "eventlog")
        os.makedirs(event_log)
        spark = run.start_spark(work, event_log)
        tr = Tracer(spark)
        loop.spark = spark
        # the new context starts a new Python daemon: one untimed
        # operation re-imports the workers before the traced one
        loop.once()
        loop.wrap = lambda: tr.span("op")
        traced = loop.measure(0)
        _log(f"untraced {untraced}, traced {traced}")

        # the layers, one public call at a time
        if isinstance(workload, (workloads.EvmDay, workloads.EvmDecode)):
            base = workload.base
        else:
            base = os.path.join(data, "layers-export")
            gen_chain.generate_day(base, args.seed, workloads.DAY_SHAPE)
        metrics = evm_layers(spark, tr, base, work)
        _log("EVM layers done")
        if isinstance(workload, workloads.CorpusDedup):
            docs, vecs = workload.docs_path, workload.vec_path
        else:
            corpus = workloads.CorpusDedup()
            corpus.prepare(spark, os.path.join(data, "layers-corpus"), args.seed)
            docs, vecs = corpus.docs_path, corpus.vec_path
        metrics.update(corpus_layers(spark, tr, docs, vecs))
        _log("corpus layers done")
    finally:
        run.stop_spark(spark)
    per_layer = parse_event_log(event_log, tr.spans)
    metrics.update({
        "sources.read_s": tr.total("sources"),
        "enrich.s": tr.total("enrich"),
        "enrich.shuffle_mb": per_layer["enrich"]["shuffle_read"] / 2**20,
        "sinks.write_s": tr.total("sinks"),
        "verify.s": tr.total("verify"),
        "decode.s": tr.total("decode"),
        "decode.extract_s": tr.total("decode.extract"),
        "decode.multi_abi_s": tr.total("decode.multi"),
        "transfer.s": tr.total("transfer"),
        "dedup.minhash_s": tr.total("dedup.minhash"),
        "dedup.clusters_s": tr.total("dedup.clusters"),
        "similarity.train_s": tr.total("similarity.train"),
        "similarity.semdedup_s": tr.total("similarity.semdedup"),
        "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
    })
    for layer, o in per_layer.items():
        metrics[f"{layer}.jobs"] = o["jobs"]
        metrics[f"{layer}.tasks"] = o["tasks"]
        metrics[f"{layer}.shuffle_write_mb"] = o["shuffle_write"] / 2**20
        metrics[f"{layer}.spill_mb"] = o["spill"] / 2**20
        metrics[f"{layer}.gc_s"] = o["gc_ms"] / 1000
    result = {
        "correct": not loop.problems,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in METRICS.items()},
    }
    print(json.dumps(result))
    return 0
