"""The three workloads: inputs, the timed operation, and its checks.

Each workload has ``prepare`` (make inputs from the seed; untimed),
``op`` (one operation, the unit the benchmark times), ``check`` (compare
that operation's outputs with the independent expectation; untimed),
``output_dirs`` (where the operation writes, for ``output_mb``) and
``warmup_ops`` (untimed operations between the cold one and the timed
ones, read off the workload's cold-to-plateau curve in the README).
"""

from __future__ import annotations

import os
import shutil

import checks
import gen_chain
import gen_corpus
from gen_chain import DS, DayShape

#: evm_day: a day of 3,000 transactions over 60 blocks
DAY_SHAPE = DayShape(n_blocks=60, n_tx=3000)
#: evm_decode: more logs and calls per transaction, so decode dominates
DECODE_SHAPE = DayShape(
    n_blocks=40, n_tx=3000, call_mix=(0.35, 0.15, 0.10), max_logs=5,
    log_mix=(("erc20", 0.35), ("erc721", 0.05), ("approval", 0.2),
             ("sync", 0.05), ("swap", 0.2), ("batch", 0.15)),
)
#: corpus_dedup sizes and operator settings
N_DOCS = 3000
N_VECTORS = 3000
NEARDUP_THRESHOLD = 0.8
SEM_CENTROIDS = 8
SEM_THRESHOLD = 0.95


def _abi(d: dict):
    from datawaves_etl_airflow_spark.schemas.abi import AbiElement

    return AbiElement.from_dict(d)


class EvmDay:
    """One generated ethereum day through ``run_evm_day`` (decoding
    Transfer), then ``transfer_partition`` of the day's tables to one
    path-target client."""

    name = "evm_day"
    warmup_ops = 2

    def prepare(self, spark, work: str, seed: int) -> None:
        self.base = os.path.join(work, "export")
        self.wh = os.path.join(work, "warehouse")
        self.client = os.path.join(work, "client")
        planted = gen_chain.generate_day(self.base, seed, DAY_SHAPE)
        self.expect = checks.expect_day(self.base, planted)
        self.events = [_abi(gen_chain.ABI_EVENTS["Transfer"])]

    def op(self, spark):
        from datawaves_etl_airflow_spark.operators.transfer import (
            TransferTarget, transfer_partition,
        )
        from datawaves_etl_airflow_spark.pipeline.runner import run_evm_day

        ctx = run_evm_day(spark, self.base, self.wh, DS,
                          decode_events=self.events)
        target = TransferTarget("path", self.client)
        for t in checks.TRANSFER_TABLES:
            transfer_partition(spark, checks.wh_table(self.wh, t), target, t, DS)
        return ctx

    def check(self, spark, ctx) -> list[str]:
        d4 = ctx["extract_token_transfers"]
        rows = [r.asDict() for r in d4.select(*checks.D4_COLS).collect()]
        # the day leaves its D-4 result cached; release it so repeated
        # days do not pile up cached blocks
        d4.unpersist()
        return (checks.check_day(self.wh, self.expect, rows)
                + checks.check_transfer(self.wh, self.client))

    def output_dirs(self) -> list[str]:
        return [self.wh, self.client]


class EvmDecode:
    """Parse-only backfill over a warehouse that ``prepare`` builds once:
    four event ABIs through ``run_evm_day(phases={"parse"})``, three
    function ABIs through ``decode_call_functions`` over the traces, and
    ``extract_token_transfers`` over the raw logs."""

    name = "evm_decode"
    warmup_ops = 2

    def prepare(self, spark, work: str, seed: int) -> None:
        from datawaves_etl_airflow_spark.pipeline.runner import run_evm_day

        self.base = os.path.join(work, "export")
        self.wh = os.path.join(work, "warehouse")
        planted = gen_chain.generate_day(self.base, seed, DECODE_SHAPE)
        self.expect = checks.expect_day(self.base, planted)
        self.events = [_abi(d) for d in gen_chain.ABI_EVENTS.values()]
        self.functions = [_abi(d) for d in gen_chain.ABI_FUNCTIONS.values()]
        self.d4_path = checks.wh_table(self.wh, "extracted_token_transfers")
        run_evm_day(spark, self.base, self.wh, DS,
                    phases={"load", "enrich"})
        self.outputs = [checks.wh_table(self.wh, f"evt_{e.name}")
                        for e in self.events]
        self.outputs += [checks.wh_table(self.wh, f"call_{f.name}")
                         for f in self.functions]
        self.outputs.append(self.d4_path)

    def op(self, spark):
        from datawaves_etl_airflow_spark.operators import sinks
        from datawaves_etl_airflow_spark.operators.decode import (
            decode_call_functions, extract_token_transfers,
        )
        from datawaves_etl_airflow_spark.pipeline.runner import run_evm_day
        from datawaves_etl_airflow_spark.sources.staging import read_staging

        run_evm_day(spark, self.base, self.wh, DS,
                    decode_events=self.events, phases={"parse"})
        traces = spark.read.parquet(checks.wh_table(self.wh, "traces"))
        for fn in self.functions:
            sinks.write_partitioned(
                decode_call_functions(traces, fn), "", DS,
                path=checks.wh_table(self.wh, f"call_{fn.name}"))
        raw_logs = read_staging(
            spark, "logs", gen_chain.export_file(self.base, "logs"))
        sinks.write_partitioned(extract_token_transfers(raw_logs), "", DS,
                                path=self.d4_path)
        return None

    def check(self, spark, _) -> list[str]:
        return checks.check_decode(self.wh, self.expect, self.d4_path)

    def output_dirs(self) -> list[str]:
        return self.outputs


class CorpusDedup:
    """Near-duplicate documents (``minhash_dedup_pairs`` then
    ``duplicate_clusters``) and semantic duplicates
    (``semantic_dedup``), each result written to parquet."""

    name = "corpus_dedup"
    #: the second operation is within ~10% of the plateau
    warmup_ops = 1

    def prepare(self, spark, work: str, seed: int) -> None:
        os.makedirs(work, exist_ok=True)
        self.docs_path = os.path.join(work, "docs.parquet")
        self.vec_path = os.path.join(work, "vectors.parquet")
        self.out = os.path.join(work, "out")
        self.docs = gen_corpus.generate_docs(self.docs_path, seed, N_DOCS)
        self.vecs = gen_corpus.generate_vectors(self.vec_path, seed + 1,
                                                N_VECTORS)

    def _p(self, name: str) -> str:
        return os.path.join(self.out, name)

    def op(self, spark):
        from datawaves_etl_airflow_spark.operators.dedup import (
            duplicate_clusters, minhash_dedup_pairs,
        )
        from datawaves_etl_airflow_spark.operators.similarity import (
            semantic_dedup,
        )

        docs = spark.read.parquet(self.docs_path)
        minhash_dedup_pairs(docs, threshold=NEARDUP_THRESHOLD).write.mode(
            "overwrite").parquet(self._p("pairs"))
        duplicate_clusters(spark.read.parquet(self._p("pairs"))).write.mode(
            "overwrite").parquet(self._p("clusters"))
        vectors = spark.read.parquet(self.vec_path)
        semantic_dedup(vectors, n_centroids=SEM_CENTROIDS,
                       threshold=SEM_THRESHOLD).write.mode(
            "overwrite").parquet(self._p("semantic"))
        return None

    def check(self, spark, _) -> list[str]:
        # minhash_dedup_pairs leaves its shingle-set table cached; drop
        # it so repeated operations start from the same cache state
        spark.catalog.clearCache()
        return (
            checks.check_neardup(self._p("pairs"), self._p("clusters"),
                                 self.docs["texts"], self.docs["planted"],
                                 NEARDUP_THRESHOLD)
            + checks.check_semantic(self._p("semantic"), self.vec_path,
                                    self.vecs["planted"],
                                    self.vecs["null_ids"], SEM_THRESHOLD)
        )

    def output_dirs(self) -> list[str]:
        return [self.out]


WORKLOADS = {w.name: w for w in (EvmDay, EvmDecode, CorpusDedup)}


def reset(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
